package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once of the incrementally-maintained IVF index under
  * mid-stream crashes, compaction failpoints, and CENTROID
  * DISPLACEMENT (a later batch's vector entering the global seed set
  * invalidates assignments made under the old table): the probe must
  * equal the batch [[graft.operators.Similarity.ivfTopK]] over the
  * accumulated corpus at every crash point and every epoch state. */
class IncrementalAnnSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val NCells = 4

  private def writeSlice(dir: String, idx: Int,
      rows: Seq[(Long, Seq[Double])]): Unit = {
    rows.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(f"$dir/_tmp_$idx")
    val p = java.nio.file.Paths.get(f"$dir/_tmp_$idx")
    val ls = java.nio.file.Files.list(p)
    val part =
      try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(f"$dir/embeddings-$idx%02d.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
  }

  /** 4 slices × 10 vectors (8-dim, deterministic), one all-zeros
    * vector (id 7 — must be excluded everywhere). 40 vec_ids give the
    * global 4-smallest seed hashes members from several slices, so
    * later batches genuinely displace bootstrap centroids. */
  private def writeSlices(dir: String): Unit =
    for (slice <- 0 until 4)
      writeSlice(dir, slice, (0 until 10).map { i =>
        val id = slice * 10L + i
        val v =
          if (id == 7L) Seq.fill(8)(0.0)
          else Seq.tabulate(8)(d => ((id * 31 + d * 17) % 19 - 9) / 9.5)
        (id, v)
      })

  private def emb(dir: String) =
    spark.read.option("pathGlobFilter", "embeddings*.parquet").parquet(dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def probe(workDir: String, dir: String) =
    IncrementalAnn.probeAccumulated(spark, workDir,
        emb(dir).filter(col("vec_id") < 12)
          .select(col("vec_id").as("q_id"), col("v").as("qv")),
        k = 3, nCells = NCells, nprobe = 2)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq

  private def batchTopK(dir: String) =
    graft.operators.Similarity.ivfTopK(emb(dir), col("vec_id") < 12,
        k = 3, nCells = NCells, nprobe = 2)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq

  private def partNames(workDir: String, state: String): Seq[String] =
    new java.io.File(s"$workDir/$state").listFiles()
      .map(_.getName).filter(n =>
        n.startsWith("batch=") || n.startsWith("compacted="))
      .toSeq.sorted

  /** (fresh, stale) visible assignment row counts vs the CURRENT
    * centroid table — how much of the probe is served persisted vs
    * re-assigned in-flight. */
  private def freshStale(workDir: String): (Long, Long) = {
    // the PRODUCTION fingerprint — a drifted copy here would classify
    // every row stale and pass/fail the audit for the wrong reason
    val fp = IncrementalAnn.centroidFp(
      IncrementalAnn.currentCentroids(spark, workDir, NCells).collect())
    val st = AdditiveBatchState.merged(spark,
      new org.apache.hadoop.fs.Path(s"$workDir/assign"), identity)
    (st.filter(col("epoch_fp") === fp).count(),
      st.filter(col("epoch_fp") =!= fp).count())
  }

  test("probe ≡ batch ivfTopK with DISPLACED epochs (no refresh ran): stale rows re-assign in-flight") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d21_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d21_work_").toString
    writeSlices(docsDir)
    // compactEvery > batch count: only the bootstrap epoch exists, so
    // later batches were assigned under batch-0 centroids
    IncrementalAnn.run(spark, docsDir, workDir, nCells = NCells,
      compactEvery = 16)
    val (fresh, stale) = freshStale(workDir)
    assert(stale > 0,
      s"no displaced rows ($fresh fresh / $stale stale) — the epoch " +
        "churn path is not exercised by this fixture")
    assert(probe(workDir, docsDir) === batchTopK(docsDir),
      "probe drifted from batch ivfTopK under displaced epochs")
  }

  test("crash after batch-1 writes, restart: probe ≡ batch ivfTopK") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d21c_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d21c_work_").toString
    writeSlices(docsDir)
    val crashed = intercept[Exception] {
      IncrementalAnn.run(spark, docsDir, workDir, nCells = NCells,
        failAtBatch = Some(1L))
    }
    assert(crashed.getMessage != null &&
      (crashed.getMessage.contains("injected crash") ||
        String.valueOf(crashed.getCause).contains("injected crash")),
      s"unexpected failure: $crashed")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$workDir/assign/batch=1")),
      "failed attempt's partition must exist — the replay hazard is real")
    IncrementalAnn.run(spark, docsDir, workDir, nCells = NCells)
    assert(probe(workDir, docsDir) === batchTopK(docsDir),
      "replayed batch double-assigned or lost vectors")
  }

  test("compaction (= epoch rebuild) crash at every failpoint: probe stays EXACT; after recovery all rows serve persisted") {
    for (failpoint <- Seq(Failpoint.BeforePublish, Failpoint.AfterPublish,
        Failpoint.MidDelete)) {
      val docsDir = java.nio.file.Files
        .createTempDirectory("graft_d21x_docs_").toString
      val workDir = java.nio.file.Files
        .createTempDirectory("graft_d21x_work_").toString
      writeSlices(docsDir)
      IncrementalAnn.run(spark, docsDir, workDir, nCells = NCells,
        compactEvery = 16)
      val expected = batchTopK(docsDir)
      assert(probe(workDir, docsDir) === expected, s"[$failpoint] pre")
      val crashed = intercept[RuntimeException] {
        IncrementalAnn.compact(spark, workDir, upToBatch = 3L,
          nCells = NCells, failpoint = failpoint)
      }
      assert(crashed.getMessage.contains("injected compaction crash"),
        s"[$failpoint] unexpected failure: $crashed")
      assert(probe(workDir, docsDir) === expected,
        s"[$failpoint] probe drifted after crash")
      // a re-run of the same compaction recovers to the clean layout
      IncrementalAnn.compact(spark, workDir, upToBatch = 3L,
        nCells = NCells)
      assert(partNames(workDir, "seed") === Seq("compacted=3"),
        s"[$failpoint] seed recovery left: ${partNames(workDir, "seed")}")
      assert(partNames(workDir, "assign") === Seq("compacted=3"),
        s"[$failpoint] assign recovery left: ${partNames(workDir, "assign")}")
      // the boundary covered every batch: the rebuild re-assigned all
      // vectors under the CURRENT table — the probe serves entirely
      // from the persisted assignment (the steady-state fast path)
      val (fresh, stale) = freshStale(workDir)
      assert(stale === 0 && fresh > 0,
        s"[$failpoint] rebuild left displaced rows: $fresh/$stale")
      assert(probe(workDir, docsDir) === expected,
        s"[$failpoint] post-recovery")
    }
  }

  test("a stream opening with empty / zero-norm batches must not freeze an empty epoch (vectors would be dropped forever)") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d21e_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d21e_work_").toString
    // slice 0: one all-zero vector (excluded everywhere) — the seed
    // partial is EMPTY; slices 1-2 carry the real corpus
    writeSlice(docsDir, 0, Seq((7L, Seq.fill(8)(0.0))))
    for (slice <- 1 to 2)
      writeSlice(docsDir, slice, (0 until 8).map { i =>
        val id = slice * 8L + i
        (id, Seq.tabulate(8)(d => ((id * 31 + d * 17) % 19 - 9) / 9.5))
      })
    IncrementalAnn.run(spark, docsDir, workDir, nCells = NCells,
      compactEvery = 16)
    // every non-zero vector made it into the assign state
    val stateVecs = AdditiveBatchState.merged(spark,
        new org.apache.hadoop.fs.Path(s"$workDir/assign"), identity)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(stateVecs === (8L until 24L).toSet,
      s"vectors dropped by an empty bootstrap epoch: $stateVecs")
    assert(probe(workDir, docsDir) === batchTopK(docsDir))
  }

  test("in-pipeline cadence bounds partitions over 12 batches; probe exact") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d21l_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d21l_work_").toString
    for (slice <- 0 until 12)
      writeSlice(docsDir, slice, (0 until 3).map { i =>
        val id = slice * 3L + i
        (id, Seq.tabulate(8)(d => ((id * 13 + d * 7) % 17 - 8) / 8.5))
      })
    IncrementalAnn.run(spark, docsDir, workDir, nCells = NCells,
      compactEvery = 4)
    val seedNames = partNames(workDir, "seed")
    assert(seedNames.count(_.startsWith("compacted=")) === 1,
      s"seed: $seedNames")
    assert(seedNames.size <= 5, s"unbounded seed growth: $seedNames")
    assert(partNames(workDir, "assign").size <= 5,
      s"unbounded assign growth: ${partNames(workDir, "assign")}")
    assert(probe(workDir, docsDir) === batchTopK(docsDir))
  }
}

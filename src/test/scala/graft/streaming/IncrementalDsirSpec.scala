package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once of the incrementally-maintained DSIR raw model under
  * mid-stream crashes, held to the span census's additive bar: bucket
  * counts are sums, so a replayed or double-compacted partial is a
  * WRONG model, not a conservative one. Pins (1) the incremental model
  * == the batch fit after a crash/restart, and the consumed resample
  * == the pure-batch p17/p17b chain bit-exact; (2) the compaction
  * crash matrix at every failpoint; (3) the digest-gated sampled fit
  * streaming ≡ batch (the p17c lever survives batching because the
  * gate is a per-doc function); (4) the in-pipeline cadence bounds
  * partition count. */
class IncrementalDsirSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val Buckets = 256

  private def writeSlice(dir: String, idx: Int,
      rows: Seq[(Long, String, String)]): Unit = {
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(f"$dir/_tmp_$idx")
    val p = java.nio.file.Paths.get(f"$dir/_tmp_$idx")
    val ls = java.nio.file.Files.list(p)
    val part =
      try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(f"$dir/documents-$idx%02d.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
  }

  /** 4 slices x 12 docs; every 5th doc is the src0 seed set, the rest
    * src1/src2 — bigram vocabulary overlaps within and across slices
    * so the two models genuinely differ. */
  private def writeSlices(dir: String): Unit =
    for (slice <- 0 until 4)
      writeSlice(dir, slice, (0 until 12).map { i =>
        val id = slice * 12L + i
        val toks = (0 until 7).map(j => s"w${(id * 3 + j * j) % 11}")
        (id, toks.mkString(" "),
          if (id % 5 == 0) "src0" else s"src${1 + (id % 2)}")
      })

  private def docs(dir: String) =
    spark.read.option("pathGlobFilter", "documents*.parquet").parquet(dir)

  private def modelMap(workDir: String): Map[Long, Long] =
    IncrementalDsir.rawModel(spark, workDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def batchModelMap(dir: String): Map[Long, Long] =
    graft.operators.Dsir.bucketCounts(
        docs(dir).filter(col("source") =!= "src0"), Buckets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def partNames(workDir: String): Seq[String] =
    new java.io.File(s"$workDir/model").listFiles()
      .map(_.getName).filter(n =>
        n.startsWith("batch=") || n.startsWith("compacted="))
      .toSeq.sorted

  test("crash after batch-1 writes, restart: model == batch fit; resample == the pure-batch p17b chain") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_p17d_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_p17d_work_").toString
    writeSlices(docsDir)
    val crashed = intercept[Exception] {
      IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets,
        failAtBatch = Some(1L))
    }
    assert(crashed.getMessage != null &&
      (crashed.getMessage.contains("injected crash") ||
        String.valueOf(crashed.getCause).contains("injected crash")),
      s"unexpected failure: $crashed")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$workDir/model/batch=1")),
      "failed attempt's partition must exist — the replay hazard is real")
    IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets)
    assert(modelMap(workDir) === batchModelMap(docsDir),
      "replayed batch double-counted or lost buckets")
    val d = docs(docsDir)
    val target = d.filter(col("source") === "src0")
    val pool = d.filter(col("source") =!= "src0")
    // frozen literal == the batch fit, element for element (bit-exact)
    val incLr = IncrementalDsir.logRatios(spark, workDir, target, Buckets)
    val batchLr = graft.operators.Dsir.importanceLogRatios(
      target, pool, Buckets)
    assert(incLr.toSeq === batchLr.toSeq, "incremental lr drifted")
    // the consumed resample == the pure-batch chain, rows and order
    val viaStream = IncrementalDsir.resampleAccumulated(spark, workDir,
        target, pool, k = 10, buckets = Buckets)
      .collect().map(_.toSeq).toSeq
    val viaBatch = graft.operators.Dsir.gumbelResample(
        graft.operators.Dsir.importanceWeights(pool, batchLr)
          .select(col("doc_id"), col("logw")), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaStream === viaBatch, "streaming resample != batch p17b")
  }

  test("compaction crash at every failpoint: the model stays EXACT, never a superset") {
    for (failpoint <- Seq("before-publish", "after-publish", "mid-delete")) {
      val docsDir = java.nio.file.Files
        .createTempDirectory("graft_p17dx_docs_").toString
      val workDir = java.nio.file.Files
        .createTempDirectory("graft_p17dx_work_").toString
      writeSlices(docsDir)
      IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets)
      val before = modelMap(workDir)
      assert(before === batchModelMap(docsDir), s"[$failpoint] pre-compaction")
      val crashed = intercept[RuntimeException] {
        IncrementalDsir.compact(spark, workDir, upToBatch = 3L,
          failpoint = failpoint)
      }
      assert(crashed.getMessage.contains("injected compaction crash"),
        s"[$failpoint] unexpected failure: $crashed")
      assert(modelMap(workDir) === before, s"[$failpoint] model drifted")
      // more data through the same checkpoint still merges correctly
      writeSlice(docsDir, 4, Seq(
        (48L, "w1 w2 w3 w1 w2", "src1"),
        (49L, "w9 w10 w0", "src2"),
        (50L, "w4 w5 w6", "src0"))) // seed doc: must NOT enter the model
      IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets)
      assert(modelMap(workDir) === batchModelMap(docsDir), s"[$failpoint]")
      // a re-run of the same compaction recovers to the clean layout
      IncrementalDsir.compact(spark, workDir, upToBatch = 3L)
      val names = partNames(workDir)
      assert(names === Seq("batch=4", "compacted=3"),
        s"[$failpoint] recovery left: $names")
      assert(modelMap(workDir) === batchModelMap(docsDir),
        s"[$failpoint] post-recovery")
    }
  }

  test("stale partials from a mid-delete crash are swept even when a later compaction has nothing to merge") {
    val docsDir = java.nio.file.Files
      .createTempDirectory("graft_p17dsw_docs_").toString
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_p17dsw_work_").toString
    writeSlices(docsDir)
    IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets)
    val before = modelMap(workDir)
    intercept[RuntimeException] {
      IncrementalDsir.compact(spark, workDir, upToBatch = 3L,
        failpoint = "mid-delete")
    }
    // crash left compacted=3 published plus ≥1 stale (invisible) partial
    assert(partNames(workDir).exists(_.startsWith("batch=")),
      "mid-delete crash left no stale partial — scenario not exercised")
    // a LATER compaction with nothing to merge (compacted=3 is the only
    // visible partition, so mergeable ≤ 1) must still finish the sweep
    // instead of returning early and leaking the stale dirs forever
    IncrementalDsir.compact(spark, workDir, upToBatch = 5L)
    assert(partNames(workDir) === Seq("compacted=3"),
      s"stale partials survived the empty-merge path: ${partNames(workDir)}")
    assert(modelMap(workDir) === before, "sweep changed the visible model")
  }

  test("frozen-epoch emission: merged per-batch top-k partials ≡ the one-pass top-k under the SAME frozen table") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_p17f_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_p17f_work_").toString
    writeSlices(docsDir)
    val d = docs(docsDir)
    val target = d.filter(col("source") === "src0")
    val pool = d.filter(col("source") =!= "src0")
    // NO refresh: every batch scored under the bootstrap epoch — the
    // "score only new batches and merge a retained top-k" identity
    IncrementalDsir.runScored(spark, docsDir, workDir, target, k = 10,
      buckets = Buckets)
    val (epochLr, _) = IncrementalDsir.currentEpochLr(spark, workDir).get
    val viaPartials = IncrementalDsir.resampleIncremental(spark, workDir,
      k = 10).collect().map(_.toSeq).toSeq
    val onePass = graft.operators.Dsir.gumbelResample(
        graft.operators.Dsir.importanceWeights(pool, epochLr)
          .select(col("doc_id"), col("logw")), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(viaPartials === onePass,
      "merged partials != one-pass scoring under the same frozen epoch")
    // the emission read parameter-sized state only: every visible
    // top-k partial is ≤ k rows
    val st = spark.read.parquet(s"$workDir/topk")
    assert(st.groupBy().count().collect()(0).getLong(0) <= 4L * 10,
      "top-k partials not bounded by k per batch")
    // and STRUCTURALLY never the corpus: the emission plan's only
    // file scans are the top-k state partials (a regression that
    // sneaks a pool scan back in would re-linearize every emission)
    val emitDf = IncrementalDsir.resampleIncremental(spark, workDir,
      k = 10)
    emitDf.collect()
    val scanned = emitDf.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("/topk/")),
      s"emission scanned outside the top-k state: $scanned")
  }

  test("refreshEpoch rebases to the full-model emission; crash matrix at every failpoint stays emittable or fails loudly") {
    for (failpoint <- Seq("before-publish", "after-publish", "mid-delete")) {
      val docsDir = java.nio.file.Files
        .createTempDirectory("graft_p17fr_docs_").toString
      val workDir = java.nio.file.Files
        .createTempDirectory("graft_p17fr_work_").toString
      writeSlices(docsDir)
      val d = docs(docsDir)
      val target = d.filter(col("source") === "src0")
      val pool = d.filter(col("source") =!= "src0")
      IncrementalDsir.runScored(spark, docsDir, workDir, target, k = 10,
        buckets = Buckets)
      val crashed = intercept[RuntimeException] {
        IncrementalDsir.refreshEpoch(spark, workDir, target, pool,
          k = 10, buckets = Buckets, failpoint = failpoint)
      }
      assert(crashed.getMessage.contains("injected rebase crash"),
        s"[$failpoint] unexpected failure: $crashed")
      val expected = IncrementalDsir.resampleAccumulated(spark, workDir,
        target, pool, k = 10, buckets = Buckets)
        .collect().map(_.toSeq).toSeq
      if (failpoint == "before-publish") {
        // new epoch persisted, rebase NOT published: the state mixes
        // epochs — emitting must fail loudly, never mix two models
        assert(!IncrementalDsir.emissionFresh(spark, workDir),
          s"[$failpoint] claims fresh over a mixed-epoch state")
        val ex = intercept[IllegalStateException] {
          IncrementalDsir.resampleIncremental(spark, workDir, k = 10)
            .collect()
        }
        assert(ex.getMessage.contains("displaced epoch"))
      } else {
        // rebase published before the crash: already emittable, and
        // equal to the full accumulated re-score under the new model
        assert(IncrementalDsir.emissionFresh(spark, workDir),
          s"[$failpoint] published rebase not visible")
        assert(IncrementalDsir.resampleIncremental(spark, workDir, k = 10)
          .collect().map(_.toSeq).toSeq === expected, s"[$failpoint]")
      }
      // re-running the refresh heals every crash point
      IncrementalDsir.refreshEpoch(spark, workDir, target, pool, k = 10,
        buckets = Buckets)
      assert(IncrementalDsir.emissionFresh(spark, workDir), s"[$failpoint]")
      assert(IncrementalDsir.resampleIncremental(spark, workDir, k = 10)
        .collect().map(_.toSeq).toSeq === expected,
        s"[$failpoint] post-recovery emission drifted")
      // REPUBLISH at the same boundary (the heal path's shape): a
      // crash BEFORE the swap must leave the previously-published
      // rebase fully emittable — the retire-swap commit, not a
      // delete-then-rename that opens a no-state window
      intercept[RuntimeException] {
        IncrementalDsir.refreshEpoch(spark, workDir, target, pool,
          k = 10, buckets = Buckets, failpoint = "before-publish")
      }
      assert(IncrementalDsir.emissionFresh(spark, workDir),
        s"[$failpoint] republish crash hid the live rebase")
      assert(IncrementalDsir.resampleIncremental(spark, workDir, k = 10)
        .collect().map(_.toSeq).toSeq === expected,
        s"[$failpoint] republish crash changed the emission")
    }
  }

  test("runScored crash after batch-1 writes, restart: emission ≡ the frozen-epoch one-pass; after refresh ≡ batch p17b") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_p17fc_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_p17fc_work_").toString
    writeSlices(docsDir)
    val d = docs(docsDir)
    val target = d.filter(col("source") === "src0")
    val pool = d.filter(col("source") =!= "src0")
    val crashed = intercept[Exception] {
      IncrementalDsir.runScored(spark, docsDir, workDir, target, k = 10,
        buckets = Buckets, failAtBatch = Some(1L))
    }
    assert(crashed.getMessage != null &&
      (crashed.getMessage.contains("injected crash") ||
        String.valueOf(crashed.getCause).contains("injected crash")),
      s"unexpected failure: $crashed")
    IncrementalDsir.runScored(spark, docsDir, workDir, target, k = 10,
      buckets = Buckets)
    val (epochLr, _) = IncrementalDsir.currentEpochLr(spark, workDir).get
    assert(IncrementalDsir.resampleIncremental(spark, workDir, k = 10)
      .collect().map(_.toSeq).toSeq ===
      graft.operators.Dsir.gumbelResample(
          graft.operators.Dsir.importanceWeights(pool, epochLr)
            .select(col("doc_id"), col("logw")), k = 10)
        .collect().map(_.toSeq).toSeq,
      "replayed batch double-scored or lost docs")
    IncrementalDsir.refreshEpoch(spark, workDir, target, pool, k = 10,
      buckets = Buckets)
    val viaBatch = graft.operators.Dsir.gumbelResample(
        graft.operators.Dsir.importanceWeights(pool,
          graft.operators.Dsir.importanceLogRatios(target, pool, Buckets))
          .select(col("doc_id"), col("logw")), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(IncrementalDsir.resampleIncremental(spark, workDir, k = 10)
      .collect().map(_.toSeq).toSeq === viaBatch,
      "refreshed emission != batch p17b chain")
  }

  test("digest-gated sampled fit: streaming ≡ batch p17c (the gate is a per-doc function)") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_p17ds_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_p17ds_work_").toString
    writeSlices(docsDir)
    IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets,
      rawSampleMod = 2)
    val d = docs(docsDir)
    val incLr = IncrementalDsir.logRatios(spark, workDir,
      d.filter(col("source") === "src0"), Buckets)
    val batchLr = graft.operators.Dsir.importanceLogRatios(
      d.filter(col("source") === "src0"),
      d.filter(col("source") =!= "src0"), Buckets, rawSampleMod = 2)
    assert(incLr.toSeq === batchLr.toSeq,
      "sampled incremental fit != batch sampled fit")
    // the gate actually dropped docs (the sample is real, not 1/1)
    val full = batchModelMap(docsDir).values.sum
    val sampled = modelMap(workDir).values.sum
    assert(sampled > 0 && sampled < full,
      s"sample gate inert: $sampled of $full bigrams")
  }

  test("unigram+bigram feature space: streaming model and resample ≡ the batch p17e chain") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_p17du_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_p17du_work_").toString
    writeSlices(docsDir)
    IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets,
      includeUnigrams = true)
    val d = docs(docsDir)
    val target = d.filter(col("source") === "src0")
    val pool = d.filter(col("source") =!= "src0")
    val incLr = IncrementalDsir.logRatios(spark, workDir, target, Buckets,
      includeUnigrams = true)
    val batchLr = graft.operators.Dsir.importanceLogRatios(
      target, pool, Buckets, includeUnigrams = true)
    assert(incLr.toSeq === batchLr.toSeq, "unigram incremental lr drifted")
    val viaStream = IncrementalDsir.resampleAccumulated(spark, workDir,
        target, pool, k = 8, buckets = Buckets, includeUnigrams = true)
      .collect().map(_.toSeq).toSeq
    val viaBatch = graft.operators.Dsir.gumbelResample(
        graft.operators.Dsir.importanceWeights(pool, batchLr,
            includeUnigrams = true)
          .select(col("doc_id"), col("logw")), k = 8)
      .collect().map(_.toSeq).toSeq
    assert(viaStream === viaBatch, "unigram streaming resample != batch")
  }

  test("in-pipeline cadence bounds partitions over 30 batches; model exact") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_p17dl_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_p17dl_work_").toString
    for (slice <- 0 until 30)
      writeSlice(docsDir, slice, (0 until 2).map { i =>
        val id = slice * 2L + i
        (id, (0 until 5).map(j => s"t${(id + j) % 7}").mkString(" "),
          if (id % 5 == 0) "src0" else "src1")
      })
    IncrementalDsir.run(spark, docsDir, workDir, buckets = Buckets,
      compactEvery = 8)
    val names = partNames(workDir)
    assert(names.count(_.startsWith("compacted=")) === 1, s"model: $names")
    assert(names.size <= 8, s"unbounded partition growth: $names")
    assert(modelMap(workDir) === batchModelMap(docsDir))
  }
}

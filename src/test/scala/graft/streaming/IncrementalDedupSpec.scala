package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once of the durable-index streaming dedup under a mid-stream
  * crash: a 4-slice document stream with duplicates planted within AND
  * across slices is killed after batch 1's writes land but before its
  * checkpoint commits; the restarted query must replay that batch onto
  * its own partial output (overwrite, not append) without seeing the
  * failed attempt's index rows (which would drop the whole batch), and
  * finish with exactly the batch-oracle kept set.
  *
  * Compaction is held to the same standard: a crash injected at every
  * internal step of [[IncrementalDedup.compactIndex]] must leave the
  * index a SUPERSET of the true hash set (duplicates are harmless to
  * the anti-join; a lost hash silently re-keeps duplicates forever),
  * and the in-pipeline cadence must keep the partition count bounded
  * over a long run. */
class IncrementalDedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  /** publish `rows` as the slice-`idx` source file `documents-NN.parquet` */
  private def writeSlice(dir: String, idx: Int,
      rows: Seq[(Long, String, String, String, Long)]): Unit = {
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
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

  private def writeSlices(dir: String): Unit = {
    // 4 slices x 10 docs; text cycles with period 7 within a slice base
    // of 10 distinct strings -> dups within a slice AND across slices
    for (slice <- 0 until 4)
      writeSlice(dir, slice, (0 until 10).map { i =>
        val docId = slice * 10L + i
        (docId, s"doc text ${(slice * 10 + i) % 7} ${(i % 3)}", "en",
          s"src$slice", 10L)
      })
  }

  private def keptSet(workDir: String): Set[(String, Long)] =
    IncrementalDedup.kept(spark, workDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private def indexPartNames(workDir: String): Seq[String] =
    new java.io.File(s"$workDir/index").listFiles()
      .map(_.getName).filter(n =>
        n.startsWith("batch=") || n.startsWith("compacted="))
      .toSeq.sorted

  test("crash after batch-1 writes, restart: kept table is exact, no dupes") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d12_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d12_work_").toString
    writeSlices(docsDir)
    // first run: injected crash on batch 1 (second slice), AFTER its
    // kept/index partitions are written
    val crashed = intercept[Exception] {
      IncrementalDedup.run(spark, docsDir, workDir, failAtBatch = Some(1L))
    }
    assert(crashed.getMessage != null &&
      (crashed.getMessage.contains("injected crash") ||
        String.valueOf(crashed.getCause).contains("injected crash")),
      s"unexpected failure: $crashed")
    // the failed attempt's partitions exist on disk — the hazard is real
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$workDir/index/batch=1")))
    // restart: replays batch 1 (same id, same file), then finishes 2..3
    IncrementalDedup.run(spark, docsDir, workDir)
    val kept = keptSet(workDir)
    val oracle = spark.read
      .option("pathGlobFilter", "documents*.parquet").parquet(docsDir)
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept.toSeq.map(_._1).distinct.length === kept.size,
      "duplicate content_hash in kept — replay appended instead of overwrote")
    assert(kept === oracle, s"kept ${kept.size} rows != oracle ${oracle.size}")
    // cross-slice dedup actually happened: fewer keepers than docs
    assert(kept.size < 40 && kept.size === 19)
  }

  test("index compaction preserves results across a later incremental run") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d12c_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d12c_work_").toString
    writeSlices(docsDir)
    IncrementalDedup.run(spark, docsDir, workDir)
    val before = keptSet(workDir)
    // compact batches 0..3 into one partition, then stream MORE data
    // (a 5th slice with one new text and one known dup) through the
    // SAME checkpoint — the compacted index must still dedup it
    IncrementalDedup.compactIndex(spark, workDir, upToBatch = 3L)
    assert(indexPartNames(workDir) === Seq("compacted=3"),
      s"compaction left: ${indexPartNames(workDir)}")
    writeSlice(docsDir, 4, Seq(
      (100L, "doc text 0 0", "en", "src9", 12L), // dup of doc 0
      (101L, "brand new text", "en", "src9", 14L)))
    IncrementalDedup.run(spark, docsDir, workDir)
    val after = keptSet(workDir)
    assert(after.size === before.size + 1, "dup slipped past the compacted index")
    assert((after -- before).map(_._2) === Set(101L))
  }

  test("compaction crash at every failpoint: the index never loses a hash") {
    for (failpoint <- Seq(Failpoint.BeforePublish, Failpoint.AfterPublish,
        Failpoint.MidDelete)) {
      val docsDir = java.nio.file.Files
        .createTempDirectory(s"graft_d12x_docs_").toString
      val workDir = java.nio.file.Files
        .createTempDirectory(s"graft_d12x_work_").toString
      writeSlices(docsDir)
      IncrementalDedup.run(spark, docsDir, workDir)
      val before = keptSet(workDir)
      val crashed = intercept[RuntimeException] {
        IncrementalDedup.compactIndex(spark, workDir, upToBatch = 3L,
          failpoint = failpoint, targetFileBytes = 1024L)
      }
      assert(crashed.getMessage.contains("injected compaction crash"),
        s"[$failpoint] unexpected failure: $crashed")
      // the next incremental run must STILL drop every previously-seen
      // hash — a subset index would silently re-keep the dup
      writeSlice(docsDir, 4, Seq(
        (100L, "doc text 0 0", "en", "src9", 12L), // dup of doc 0
        (101L, s"fresh after $failpoint", "en", "src9", 14L)))
      IncrementalDedup.run(spark, docsDir, workDir)
      val after = keptSet(workDir)
      assert(after.size === before.size + 1,
        s"[$failpoint] dup slipped past the crashed-compaction index")
      assert((after -- before).map(_._2) === Set(101L), s"[$failpoint]")
      // a re-run of the same compaction recovers to the clean layout
      // (publish already done -> deletes only; not done -> full redo);
      // the tiny target file size keeps the compacted partition
      // MULTI-FILE so the crash matrix exercises the 100-TB layout
      IncrementalDedup.compactIndex(spark, workDir, upToBatch = 3L,
        targetFileBytes = 1024L)
      val names = indexPartNames(workDir)
      assert(names === Seq("batch=4", "compacted=3"),
        s"[$failpoint] recovery left: $names")
      assert(new java.io.File(s"$workDir/index/compacted=3").listFiles()
          .count(_.getName.endsWith(".parquet")) >= 2,
        s"[$failpoint] compacted index partition is single-file")
    }
  }

  test("in-pipeline cadence bounds the index partition count over 50 batches") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d12l_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d12l_work_").toString
    // 50 slices x 2 docs, texts cycling with period 17 -> heavy
    // cross-slice duplication; one file per trigger -> 50 micro-batches
    for (slice <- 0 until 50)
      writeSlice(docsDir, slice, (0 until 2).map { i =>
        val n = slice * 2 + i
        (n.toLong, s"long-run text ${n % 17}", "en", s"src$slice", 8L)
      })
    IncrementalDedup.run(spark, docsDir, workDir, compactEvery = 12)
    // compactions fired at batches 12/24/36/48 (upTo 11/23/35/47):
    // the index holds one compacted partition + the uncompacted tail,
    // never the full 50-partition history
    val names = indexPartNames(workDir)
    assert(names.count(_.startsWith("compacted=")) === 1, s"index: $names")
    assert(names.size <= 12, s"unbounded index growth: $names")
    assert(names === Seq("batch=48", "batch=49", "compacted=47"), s"index: $names")
    val kept = keptSet(workDir)
    val oracle = spark.read
      .option("pathGlobFilter", "documents*.parquet").parquet(docsDir)
      .groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept === oracle)
    assert(kept.size === 17)
  }
}

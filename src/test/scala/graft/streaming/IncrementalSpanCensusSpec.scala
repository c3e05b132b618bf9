package graft.streaming

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once of the durable streaming span census under mid-stream
  * crashes. The bar is HIGHER than the dedup index's: census partials
  * are additive sums, so a crash may never leave even a harmless
  * superset — a double-counted partition is a WRONG census, not a
  * conservative one. The reader's compacted-id preference rule is what
  * makes the publish rename the commit point; this spec crashes a
  * batch after its writes, crashes compaction at every failpoint, and
  * pins sliced == unsliced against a batch oracle after each. */
class IncrementalSpanCensusSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val SpanTokens = 3

  private def writeSlice(dir: String, idx: Int,
      rows: Seq[(Long, String)]): Unit = {
    rows.map { case (id, t) => (id, t, "en", s"src$idx", t.length.toLong) }
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

  /** 4 slices x 6 docs over a tiny alphabet — repeated 3-token spans
    * within docs, within slices, and across slices. */
  private def writeSlices(dir: String): Unit =
    for (slice <- 0 until 4)
      writeSlice(dir, slice, (0 until 6).map { i =>
        val id = slice * 6L + i
        val toks = (0 until 6).map(j => s"w${(id + j) % 5}")
        id -> toks.mkString(" ")
      })

  private def censusSet(workDir: String): Set[(String, Long, Long)] =
    IncrementalSpanCensus.census(spark, workDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def oracleSet(docsDir: String): Set[(String, Long, Long)] =
    spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
      .select(col("doc_id"), explode_outer(
        expr(s"span_hashes(text, $SpanTokens, 1L)")).as("span_h"))
      .filter(col("span_h").isNotNull)
      .groupBy("span_h")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def partNames(workDir: String): Seq[String] =
    new java.io.File(s"$workDir/census").listFiles()
      .map(_.getName).filter(n =>
        n.startsWith("batch=") || n.startsWith("compacted="))
      .toSeq.sorted

  test("crash after batch-1 writes, restart: census is exact (sliced == unsliced)") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d18_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d18_work_").toString
    writeSlices(docsDir)
    val crashed = intercept[Exception] {
      IncrementalSpanCensus.run(spark, docsDir, workDir,
        spanTokens = SpanTokens, failAtBatch = Some(1L))
    }
    assert(crashed.getMessage != null &&
      (crashed.getMessage.contains("injected crash") ||
        String.valueOf(crashed.getCause).contains("injected crash")),
      s"unexpected failure: $crashed")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$workDir/census/batch=1")),
      "failed attempt's partition must exist — the replay hazard is real")
    IncrementalSpanCensus.run(spark, docsDir, workDir, spanTokens = SpanTokens)
    assert(censusSet(workDir) === oracleSet(docsDir),
      "replayed batch double-counted or lost spans")
    // the FIRST-occurrence side survives the same crash/replay: the
    // incrementally-merged censusWithFirst equals the batch build, and
    // the d19 composition (action pass over accumulated docs against
    // the incremental census) equals the pure-batch d17 output
    val docs = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
    val incFirst = IncrementalSpanCensus.censusWithFirst(spark, workDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    val batchFirst = graft.operators.Dedup
      .spanCensusWithFirst(docs, SpanTokens)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(incFirst === batchFirst, "incremental firsts drifted from batch")
    val viaStream = IncrementalSpanCensus
      .dedupAccumulated(spark, workDir, docs, SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaBatch = graft.operators.Dedup.spanDedupCorpus(docs,
        graft.operators.Dedup.spanCensusWithFirst(docs, SpanTokens),
        SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaStream === viaBatch, "streaming action pass != batch d17")
  }

  private def partFileCount(dir: String): Int = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try ls.filter(_.toString.endsWith(".parquet")).count().toInt
    finally ls.close()
  }

  test("compaction crash at every failpoint: the census stays EXACT, never a superset — over a MULTI-FILE compacted target") {
    // a tiny target file size forces compactionPartitions > 1, so the
    // whole crash matrix runs against a multi-file compacted partition
    // (the 100-TB layout, where the merge is never one task)
    val target = 1024L
    for (failpoint <- Seq("before-publish", "after-publish", "mid-delete")) {
      val docsDir = java.nio.file.Files
        .createTempDirectory("graft_d18x_docs_").toString
      val workDir = java.nio.file.Files
        .createTempDirectory("graft_d18x_work_").toString
      writeSlices(docsDir)
      IncrementalSpanCensus.run(spark, docsDir, workDir,
        spanTokens = SpanTokens)
      val before = censusSet(workDir)
      assert(before === oracleSet(docsDir), s"[$failpoint] pre-compaction")
      val crashed = intercept[RuntimeException] {
        IncrementalSpanCensus.compact(spark, workDir, upToBatch = 3L,
          failpoint = failpoint, targetFileBytes = target)
      }
      assert(crashed.getMessage.contains("injected compaction crash"),
        s"[$failpoint] unexpected failure: $crashed")
      // the additive bar: after ANY crash point the visible census is
      // exactly the oracle — double-counting is as wrong as loss
      assert(censusSet(workDir) === before, s"[$failpoint] census drifted")
      // more data through the same checkpoint still merges correctly
      writeSlice(docsDir, 4, Seq(
        24L -> "w0 w1 w2 w3 w4 w0", // repeats earlier spans
        25L -> "zz yy xx"))         // brand-new spans (single occurrence)
      IncrementalSpanCensus.run(spark, docsDir, workDir,
        spanTokens = SpanTokens)
      assert(censusSet(workDir) === oracleSet(docsDir), s"[$failpoint]")
      // a re-run of the same compaction recovers to the clean layout
      IncrementalSpanCensus.compact(spark, workDir, upToBatch = 3L,
        targetFileBytes = target)
      val names = partNames(workDir)
      assert(names === Seq("batch=4", "compacted=3"),
        s"[$failpoint] recovery left: $names")
      assert(partFileCount(s"$workDir/census/compacted=3") >= 2,
        s"[$failpoint] compacted partition is single-file — the " +
          "multi-file layout was not exercised")
      assert(censusSet(workDir) === oracleSet(docsDir),
        s"[$failpoint] post-recovery")
    }
  }

  test("emission over a compacted census: bounded emissions and merged census stay exact") {
    val docsDir = java.nio.file.Files
      .createTempDirectory("graft_d20b_docs_").toString
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_d20b_work_").toString
    // absorb 4 monotone slices, emitting each delta; compact after the
    // third arrival so the later probes read compacted=2 + batch=3
    for (slice <- 0 until 4) {
      writeSlice(docsDir, slice, (0 until 6).map { i =>
        val id = slice * 6L + i
        val toks = (0 until 6).map(j => s"w${(id + j) % 5}")
        id -> toks.mkString(" ")
      })
      IncrementalSpanCensus.run(spark, docsDir, workDir,
        spanTokens = SpanTokens)
      if (slice == 2)
        IncrementalSpanCensus.compact(spark, workDir, upToBatch = 2L)
      IncrementalSpanCensus.emitNewDocs(spark, workDir,
        spark.read.parquet(f"$docsDir/documents-$slice%02d.parquet"),
        SpanTokens)
    }
    assert(partNames(workDir) === Seq("batch=3", "compacted=2"))
    // emissions that probed the compacted state == pure-batch d17
    val docs = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
    val viaBounded = IncrementalSpanCensus.emittedCorpus(spark, workDir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaBatch = graft.operators.Dedup.spanDedupCorpus(docs,
        graft.operators.Dedup.spanCensusWithFirst(docs, SpanTokens),
        SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaBounded === viaBatch,
      "emission over the compacted census != pure-batch d17")
    assert(censusSet(workDir) === oracleSet(docsDir),
      "merged census over the compacted partition drifted")
  }

  test("empty compaction: a census of span-less docs compacts, reads back empty, and keeps absorbing") {
    val docsDir = java.nio.file.Files
      .createTempDirectory("graft_d18e_docs_").toString
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_d18e_work_").toString
    // every doc is shorter than the span width: both partials and the
    // merge of them hold zero rows
    writeSlice(docsDir, 0, Seq(0L -> "w0 w1", 1L -> "", 2L -> "w2"))
    writeSlice(docsDir, 1, Seq(3L -> "w3 w4", 4L -> "w0"))
    IncrementalSpanCensus.run(spark, docsDir, workDir,
      spanTokens = SpanTokens)
    IncrementalSpanCensus.compact(spark, workDir, upToBatch = 1L)
    assert(partNames(workDir) === Seq("compacted=1"))
    assert(IncrementalSpanCensus.census(spark, workDir).isEmpty,
      "census of span-less docs is not empty")
    assert(IncrementalSpanCensus.censusWithFirst(spark, workDir).isEmpty,
      "censusWithFirst of span-less docs is not empty")
    IncrementalSpanCensus.emitNewDocs(spark, workDir,
      spark.read.parquet(s"$docsDir/documents-00.parquet",
        s"$docsDir/documents-01.parquet"), SpanTokens)
    // a later slice with real spans absorbs on top of the empty
    // compacted partition, emits, and matches the batch oracles
    writeSlice(docsDir, 2, (5L until 11L).map { id =>
      id -> (0 until 6).map(j => s"w${(id + j) % 5}").mkString(" ")
    })
    IncrementalSpanCensus.run(spark, docsDir, workDir,
      spanTokens = SpanTokens)
    IncrementalSpanCensus.emitNewDocs(spark, workDir,
      spark.read.parquet(s"$docsDir/documents-02.parquet"), SpanTokens)
    assert(censusSet(workDir).nonEmpty)
    assert(censusSet(workDir) === oracleSet(docsDir),
      "census over an empty compacted partition drifted")
    val docs = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
    val viaBounded = IncrementalSpanCensus.emittedCorpus(spark, workDir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaBatch = graft.operators.Dedup.spanDedupCorpus(docs,
        graft.operators.Dedup.spanCensusWithFirst(docs, SpanTokens),
        SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaBounded === viaBatch,
      "emission over an empty compacted partition != pure-batch d17")
  }

  test("bounded emission: per-slice deltas == dedupAccumulated == batch d17; heals a crashed attempt; rejects non-monotone arrival") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d20_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d20_work_").toString
    // the production lifecycle: per slice — absorb into the census,
    // then emit ONLY the delta (writeSlices' ids are doc_id-monotone
    // across slices, the bounded emission's contract)
    for (slice <- 0 until 4) {
      writeSlice(docsDir, slice, (0 until 6).map { i =>
        val id = slice * 6L + i
        val toks = (0 until 6).map(j => s"w${(id + j) % 5}")
        id -> toks.mkString(" ")
      })
      IncrementalSpanCensus.run(spark, docsDir, workDir,
        spanTokens = SpanTokens)
      val delta = spark.read.parquet(f"$docsDir/documents-$slice%02d.parquet")
      IncrementalSpanCensus.emitNewDocs(spark, workDir, delta, SpanTokens)
    }
    val docs = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
    def emitted(): Seq[Seq[Any]] =
      IncrementalSpanCensus.emittedCorpus(spark, workDir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaBounded = emitted()
    val viaAccumulated = IncrementalSpanCensus
      .dedupAccumulated(spark, workDir, docs, SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaBounded === viaAccumulated,
      "bounded emission drifted from the accumulated rewrite")
    val viaBatch = graft.operators.Dedup.spanDedupCorpus(docs,
        graft.operators.Dedup.spanCensusWithFirst(docs, SpanTokens),
        SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaBounded === viaBatch, "bounded emission != pure-batch d17")
    // a re-run of the last emission (the crash-heal path: same delta,
    // census unadvanced) overwrites its own partition — idempotent
    IncrementalSpanCensus.emitNewDocs(spark, workDir,
      spark.read.parquet(s"$docsDir/documents-03.parquet"), SpanTokens)
    assert(emitted() === viaBounded, "emission re-run is not idempotent")
    // a crashed attempt at a NEW boundary (empty partition dir) heals
    // when the emission re-runs with its delta
    writeSlice(docsDir, 4, Seq(
      24L -> "w0 w1 w2 w3 w4 w0",
      25L -> "zz yy xx"))
    IncrementalSpanCensus.run(spark, docsDir, workDir,
      spanTokens = SpanTokens)
    val boundary = AdditiveBatchState.maxVisibleId(spark,
      new org.apache.hadoop.fs.Path(s"$workDir/census"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$workDir/emitted/batch=$boundary"))
    IncrementalSpanCensus.emitNewDocs(spark, workDir,
      spark.read.parquet(s"$docsDir/documents-04.parquet"), SpanTokens)
    val allDocs = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
    val viaBatchAll = graft.operators.Dedup.spanDedupCorpus(allDocs,
        graft.operators.Dedup.spanCensusWithFirst(allDocs, SpanTokens),
        SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(emitted() === viaBatchAll, "healed emission != pure-batch d17")
    // a non-monotone delta (doc_id below the emitted watermark) is
    // rejected LOUDLY — silently emitting it would contradict the
    // full-corpus keep-first oracle
    val bad = Seq((0L, "w0 w1 w2", "en", "srcX", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val err = intercept[IllegalArgumentException] {
      IncrementalSpanCensus.emitNewDocs(spark, workDir, bad, SpanTokens)
    }
    assert(err.getMessage.contains("non-monotone arrival"),
      s"wrong rejection: ${err.getMessage}")
    // emitted partitions beyond the census boundary mean the census
    // state regressed — also loud
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$workDir/emitted/batch=${boundary + 7}"))
    val err2 = intercept[IllegalArgumentException] {
      IncrementalSpanCensus.emitNewDocs(spark, workDir,
        Seq((99L, "a b c", "en", "srcX", 5L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"), SpanTokens)
    }
    assert(err2.getMessage.contains("census state regressed"),
      s"wrong rejection: ${err2.getMessage}")
    // the emission's census path must stay DELTA-RESTRICTED: the bloom
    // probe gates state rows out of the merge shuffle and the exact
    // semi join removes its fpp trickle — a regression that swaps the
    // full censusWithFirst back in would re-linearize the emission's
    // shuffle and materialization (the cost d20 exists to avoid)
    val restricted = IncrementalSpanCensus.censusForDelta(spark, workDir,
      spark.read.parquet(s"$docsDir/documents-04.parquet"), SpanTokens)
    val plan = restricted.queryExecution.optimizedPlan.toString
    assert(plan.contains("bloom_contains"),
      s"delta-span bloom probe missing from the emission census plan:\n$plan")
    assert(plan.toLowerCase.contains("leftsemi"),
      s"exact delta-span semi join missing from the emission census plan:\n$plan")
  }

  test("bounded emission guards: uncommitted prior partition and second-delta-at-boundary reject loudly") {
    val docsDir = java.nio.file.Files
      .createTempDirectory("graft_d20g_docs_").toString
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_d20g_work_").toString
    writeSlice(docsDir, 0, (0 until 6).map { i =>
      i.toLong -> (0 until 6).map(j => s"w${(i + j) % 5}").mkString(" ")
    })
    IncrementalSpanCensus.run(spark, docsDir, workDir,
      spanTokens = SpanTokens)
    val delta0 = spark.read.parquet(s"$docsDir/documents-00.parquet")
    IncrementalSpanCensus.emitNewDocs(spark, workDir, delta0, SpanTokens)

    // SECOND delta at the SAME boundary (no census advance between the
    // two emitNewDocs calls): the overwrite would silently discard the
    // first emission's docs — must throw, not heal
    val second = Seq((50L, "a b c d e", "en", "srcX", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val err = intercept[IllegalArgumentException] {
      IncrementalSpanCensus.emitNewDocs(spark, workDir, second, SpanTokens)
    }
    assert(err.getMessage.contains("two different deltas"),
      s"wrong rejection: ${err.getMessage}")
    // a re-run with the IDENTICAL delta still heals (crash re-run path)
    IncrementalSpanCensus.emitNewDocs(spark, workDir, delta0, SpanTokens)

    // a PRIOR partition without its _SUCCESS marker is a crashed
    // emission whose max doc_id may understate the watermark — the next
    // emission must refuse to advance past it
    writeSlice(docsDir, 1, Seq(
      10L -> "w0 w1 w2 w3", 11L -> "p q r s"))
    IncrementalSpanCensus.run(spark, docsDir, workDir,
      spanTokens = SpanTokens)
    val boundary0 = java.nio.file.Files
      .list(java.nio.file.Paths.get(s"$workDir/emitted"))
      .iterator().next()
    java.nio.file.Files.delete(boundary0.resolve("_SUCCESS"))
    val err2 = intercept[IllegalArgumentException] {
      IncrementalSpanCensus.emitNewDocs(spark, workDir,
        spark.read.parquet(s"$docsDir/documents-01.parquet"), SpanTokens)
    }
    assert(err2.getMessage.contains("no _SUCCESS marker"),
      s"wrong rejection: ${err2.getMessage}")
    // re-running the crashed emission with its own delta heals it...
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$workDir/emitted"))
      .iterator().forEachRemaining(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    // (its partition removed entirely here to stand in for the re-run
    // at its own old boundary, which this workDir's census has moved
    // past) ...after which the new delta emits cleanly
    IncrementalSpanCensus.emitNewDocs(spark, workDir,
      spark.read.parquet(s"$docsDir/documents-00.parquet",
        s"$docsDir/documents-01.parquet"), SpanTokens)
    val docs = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(docsDir)
    val viaBatch = graft.operators.Dedup.spanDedupCorpus(docs,
        graft.operators.Dedup.spanCensusWithFirst(docs, SpanTokens),
        SpanTokens)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaEmitted = IncrementalSpanCensus.emittedCorpus(spark, workDir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaEmitted === viaBatch,
      "post-heal emitted corpus != pure-batch d17")
  }

  test("bounded emission fuzz: random slicings and emission cadences == batch d17") {
    // the monotonicity theorem under ARBITRARY arrival shapes: random
    // corpus over a tiny alphabet (dense span collisions), random
    // slice boundaries, and a random emission cadence — a delta may
    // span SEVERAL census batches (emissions are caller-cadence, not
    // per-batch). Every shape must reproduce the pure-batch keep-first
    // rewrite exactly.
    val rnd = new scala.util.Random(42)
    for (round <- 0 until 3) {
      val docsDir = java.nio.file.Files
        .createTempDirectory(s"graft_d20f${round}_docs_").toString
      val workDir = java.nio.file.Files
        .createTempDirectory(s"graft_d20f${round}_work_").toString
      val spanTokens = 2 + rnd.nextInt(2) // 2 or 3
      val nDocs = 30 + rnd.nextInt(31)
      val texts = (0 until nDocs).map { id =>
        val n = 1 + rnd.nextInt(9)
        id.toLong -> (0 until n).map(_ => s"t${rnd.nextInt(6)}").mkString(" ")
      }
      // random doc_id-ordered slice boundaries
      var slices = Seq.empty[Seq[(Long, String)]]
      var rest = texts
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(math.min(rest.size, 12))
        slices :+= rest.take(take)
        rest = rest.drop(take)
      }
      var sliceIdx = 0
      var pendingSince = 0 // first slice index not yet emitted
      def emitPending(): Unit = {
        if (pendingSince < sliceIdx) {
          val files = (pendingSince until sliceIdx).map(i =>
            f"$docsDir/documents-$i%02d.parquet")
          IncrementalSpanCensus.emitNewDocs(spark, workDir,
            spark.read.parquet(files: _*), spanTokens)
          pendingSince = sliceIdx
        }
      }
      for (slice <- slices) {
        writeSlice(docsDir, sliceIdx, slice)
        sliceIdx += 1
        IncrementalSpanCensus.run(spark, docsDir, workDir,
          spanTokens = spanTokens)
        if (rnd.nextBoolean()) emitPending()
      }
      emitPending()
      val docs = spark.read.option("pathGlobFilter", "documents*.parquet")
        .parquet(docsDir)
      val viaBounded = IncrementalSpanCensus.emittedCorpus(spark, workDir)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaBatch = graft.operators.Dedup.spanDedupCorpus(docs,
          graft.operators.Dedup.spanCensusWithFirst(docs, spanTokens),
          spanTokens)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(viaBounded === viaBatch,
        s"[round $round spanTokens=$spanTokens slices=${slices.size}] " +
          "bounded emission drifted from pure-batch d17")
    }
  }

  test("in-pipeline cadence bounds partitions over 30 batches; census exact") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft_d18l_docs_").toString
    val workDir = java.nio.file.Files.createTempDirectory("graft_d18l_work_").toString
    for (slice <- 0 until 30)
      writeSlice(docsDir, slice, (0 until 2).map { i =>
        val id = slice * 2L + i
        id -> (0 until 5).map(j => s"t${(id + j) % 7}").mkString(" ")
      })
    IncrementalSpanCensus.run(spark, docsDir, workDir,
      spanTokens = SpanTokens, compactEvery = 8)
    val names = partNames(workDir)
    assert(names.count(_.startsWith("compacted=")) === 1, s"census: $names")
    assert(names.size <= 8, s"unbounded partition growth: $names")
    assert(censusSet(workDir) === oracleSet(docsDir))
  }
}

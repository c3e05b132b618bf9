package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dsir, Sampling}

/** Streaming member of the DSIR wing (Xie et al. 2023,
  * arXiv:2302.03169 — the batch surface is
  * [[graft.operators.Dsir]]): a continuously-arriving raw pool
  * maintains the RAW-side hashed-bigram bucket-count model
  * incrementally across micro-batches AND crash/restart, so importance
  * resampling over the accumulated corpus never re-scans history to
  * fit the model — the d18→d19 composition applied to DSIR.
  *
  * Why this is the span-census pattern verbatim: a document's bigram
  * buckets are a pure per-row function, and every document arrives in
  * exactly one batch, so per-batch (bucket, cnt) partials are ADDITIVE
  * — the merged model is a sum, never a distinct-merge. The partials
  * therefore live in [[AdditiveBatchState]]'s layout (per-batch
  * overwrite partitions, reader preference rule, [[StateCommit]]
  * compaction commit): every crash point leaves the visible model
  * exactly correct, and a double-counted bucket partial would be a
  * WRONG model, not a conservative one. Each partial is
  * bucket-BOUNDED (≤ `buckets` rows — parameter-sized), so state
  * stays tiny no matter the corpus; compaction merely bounds the
  * partition count over a long-lived stream.
  *
  * The TARGET seed set is small and static by the method's definition
  * (a curated Wikipedia/textbook sample), so its fit is read-time and
  * always exact. The log-ratio literal is frozen per consumption
  * ([[logRatios]]) — a pipeline refreshes it on whatever cadence it
  * emits resamples, and because the Gumbel keys are incremental-safe
  * (salted md5 of the id — a new doc never moves an existing doc's
  * key; `Dsir.gumbelResample`), consecutive snapshots are
  * prefix-consistent wherever their models agree.
  *
  * [[resampleAccumulated]] is the consumed output: score the
  * accumulated pool against the incrementally-maintained model and
  * keep the Gumbel top-k — bit-identical to the pure-batch
  * p17b chain (spec-pinned; the catalog gates it against the same
  * DuckDB oracle), so incremental maintenance and batch slicing are
  * invisible in the sample.
  *
  * `rawSampleMod > 1` applies the engine's deterministic 1/m digest
  * gate (60-bit salted md5 of the id) INSIDE each batch — the gate is
  * a per-doc function, so the incrementally-fit sampled model equals
  * the batch sampled fit (p17c) exactly, and the 100-TB fit-cost
  * lever survives streaming unchanged. */
object IncrementalDsir {

  /** The raw pool a streamed documents fixture contributes: everything
    * outside the src0 seed set — the p17-family split. */
  def defaultRawFilter: Column = col("source") =!= "src0"

  def run(s: SparkSession, docsDir: String, workDir: String,
      buckets: Int = 4096, rawFilter: Column = defaultRawFilter,
      rawSampleMod: Int = 1, failAtBatch: Option[Long] = None,
      compactEvery: Int = 16, includeUnigrams: Boolean = false): Unit = {
    require(rawSampleMod >= 1, "rawSampleMod must be at least 1")
    BatchStreamRunner.run(s, docsDir, workDir, "documents*.parquet",
      (batch, id) => runBatch(batch, id, workDir, buckets, rawFilter,
        rawSampleMod, includeUnigrams),
      (ss, upTo) => compact(ss, workDir, upTo),
      failAtBatch, compactEvery)
  }

  private[streaming] def runBatch(batch: DataFrame, id: Long,
      workDir: String, buckets: Int, rawFilter: Column,
      rawSampleMod: Int, includeUnigrams: Boolean = false): Unit = {
    val pool = batch.filter(rawFilter)
    val fitPool =
      if (rawSampleMod == 1) pool
      else pool.filter(Sampling.saltedHashMod("dsirfit", col("doc_id"),
        rawSampleMod.toLong) === 0L)
    Dsir.bucketCounts(fitPool, buckets, includeUnigrams)
      .write.mode("overwrite").parquet(s"$workDir/model/batch=$id")
  }

  /** Counts are additive across batches (each doc in exactly one) —
    * the one place the partial combination rule is stated. */
  private def mergeAgg(partials: DataFrame): DataFrame =
    partials.groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** The merged raw model: (bucket, cnt) over every document streamed
    * so far — ≤ `buckets` rows, one sum over the visible partials. */
  def rawModel(s: SparkSession, workDir: String): DataFrame =
    AdditiveBatchState.merged(s, new Path(s"$workDir/model"), mergeAgg)

  /** Freeze the log-ratio literal: exact read-time fit of the (small,
    * static) target corpus vs the incrementally-maintained raw model —
    * [[Dsir.logRatiosFromCounts]], so the arithmetic is the batch
    * fit's, stated once. No history re-scan: the raw side is a
    * bucket-bounded state read. */
  def logRatios(s: SparkSession, workDir: String, target: DataFrame,
      buckets: Int = 4096, includeUnigrams: Boolean = false): Array[Double] = {
    val rows = rawModel(s, workDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // the TARGET fit must use the same feature space the maintained
    // raw model was built with (the caller's run(includeUnigrams))
    val (tc, tt) = Dsir.fitCounts(target, buckets, includeUnigrams)
    Dsir.logRatiosFromCounts(tc, tt, rows.toMap, rows.map(_._2).sum,
      buckets)
  }

  /** The consumed output: Gumbel top-`k` importance resample of the
    * accumulated raw pool, scored against the incrementally-maintained
    * model — identical to the pure-batch p17b chain (the model is the
    * same sums, the scoring scan and the top-k are the same plans), so
    * a pipeline can emit samples on any cadence without re-fitting
    * from history. Output: (idCol, logw, g) in (g DESC, id) order. */
  def resampleAccumulated(s: SparkSession, workDir: String,
      target: DataFrame, pool: DataFrame, k: Int,
      buckets: Int = 4096, idCol: String = "doc_id",
      includeUnigrams: Boolean = false): DataFrame = {
    val lr = logRatios(s, workDir, target, buckets, includeUnigrams)
    Dsir.gumbelResample(
      Dsir.importanceWeights(pool, lr, idCol, includeUnigrams)
        .select(col(idCol), col("logw")),
      k, idCol = idCol)
  }

  /** Crash-safe publish-rename compaction of the model partials — see
    * [[AdditiveBatchState.compact]]. The merged model is
    * bucket-bounded, so its corpus-scaled file count is 1 and the
    * session-width floor sets the file count (`defaultParallelism`
    * small files); the shared path keeps the commit protocol uniform. */
  def compact(s: SparkSession, workDir: String, upToBatch: Long,
      failpoint: Failpoint = Failpoint.Off,
      targetFileBytes: Long = BatchedParquetIndex.DefaultTargetFileBytes): Unit =
    AdditiveBatchState.compact(s, new Path(s"$workDir/model"), upToBatch,
      mergeAgg, keyCols = Seq("bucket"), targetFileBytes = targetFileBytes,
      failpoint = failpoint)

  // ---- bounded-cost emission: frozen scoring epochs + top-k partials ----
  //
  // [[resampleAccumulated]] re-scores the full accumulated pool per
  // emission — exact, and the right thing when every emission wants
  // the freshest model, but at an hourly cadence over 100 TB the
  // re-scan is the dominant recurring cost. The bounded form freezes
  // the SCORING model on an epoch cadence: under a frozen log-ratio
  // table the per-doc score (and its salted Gumbel key) is immutable,
  // and every doc arrives in exactly one batch — so a per-batch
  // top-k partial (≤ k rows, parameter-sized) is all an emission needs
  // to merge, and top-k-of-union is an [[AdditiveBatchState]]-lawful
  // merge. A MODEL REFRESH genuinely invalidates old scores; that path
  // re-scores the pool once ([[refreshEpoch]] — the same price one
  // batch consumer pays) and REBASES the top-k state under the new
  // epoch, after which per-emission cost is flat again. The refresh is
  // caller-driven because it needs the corpus text (the partials hold
  // scores, not documents); the census action pass has the same
  // constraint, which is why neither maintains a re-score in-pipeline.

  /** Fingerprint of a frozen log-ratio table — the epoch identity a
    * scored partial carries. */
  private def lrFp(lr: Array[Double]): String = {
    val canon = lr.map(java.lang.Double.doubleToLongBits).mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Persist a frozen epoch's log-ratio table (bucket, lr) as
    * `epochlr/batch=<boundary>` through [[StateCommit.publish]], so a
    * crash never exposes a half-written table and a republish at the
    * same boundary keeps the previous table readable until the swap. */
  private[streaming] def persistEpochLr(s: SparkSession, workDir: String,
      boundary: Long, lr: Array[Double],
      failpoint: Failpoint = Failpoint.Off): Unit = {
    import s.implicits._
    val root = new Path(s"$workDir/epochlr")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    StateCommit.publish(fs, root, s"batch=$boundary", failpoint,
        "epoch publish") { tmp =>
      lr.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toSeq
        .toDF("bucket", "lr")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** The latest persisted epoch's log-ratio table (and its boundary),
    * or None before any epoch was frozen. */
  def currentEpochLr(s: SparkSession,
      workDir: String): Option[(Array[Double], Long)] = {
    val root = new Path(s"$workDir/epochlr")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    StateCommit.parts(fs, root).lastOption.map { p =>
      val rows = s.read.parquet(p.path.toString)
        .collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      (Array.tabulate(rows.size)(rows), p.id)
    }
  }

  /** Batch-local scored top-k partial under a frozen epoch:
    * (idCol, logw, g, epoch_fp), ≤ k rows. */
  private def scoredPartial(pool: DataFrame, lr: Array[Double], k: Int,
      includeUnigrams: Boolean, idCol: String = "doc_id"): DataFrame = {
    Dsir.gumbelResample(
        Dsir.importanceWeights(pool, lr, idCol, includeUnigrams)
          .select(col(idCol), col("logw")),
        k, idCol = idCol)
      .withColumn("epoch_fp", lit(lrFp(lr)))
  }

  /** [[run]] + bounded-emission maintenance: alongside the model
    * partials, every batch scores its OWN pool docs under the epoch
    * frozen at the latest [[refreshEpoch]] (bootstrap: the first batch
    * freezes the epoch from its own model partial — replay
    * re-derives the identical table) and writes a ≤ k-row top-k
    * partial. Emissions then merge partials ([[resampleIncremental]])
    * instead of re-scanning history. */
  def runScored(s: SparkSession, docsDir: String, workDir: String,
      target: DataFrame, k: Int, buckets: Int = 4096,
      rawFilter: Column = defaultRawFilter, rawSampleMod: Int = 1,
      failAtBatch: Option[Long] = None, compactEvery: Int = 16,
      includeUnigrams: Boolean = false): Unit = {
    require(rawSampleMod >= 1, "rawSampleMod must be at least 1")
    // the target's bucket table is static by the method's definition —
    // fit it once, not per batch
    val (tc, tt) = Dsir.fitCounts(target, buckets, includeUnigrams)
    BatchStreamRunner.run(s, docsDir, workDir, "documents*.parquet",
      (batch, id) => {
        runBatch(batch, id, workDir, buckets, rawFilter, rawSampleMod,
          includeUnigrams)
        val ss = batch.sparkSession
        val lr = currentEpochLr(ss, workDir).map(_._1).getOrElse {
          // bootstrap epoch from the model state as of THIS batch
          // (deterministic under replay: the partial overwrite is
          // idempotent and nothing later touches ids ≤ id)
          val rows = AdditiveBatchState.mergedUpTo(ss,
              new Path(s"$workDir/model"), id, mergeAgg)
            .collect().map(r => r.getLong(0) -> r.getLong(1))
          val boot = Dsir.logRatiosFromCounts(tc, tt, rows.toMap,
            rows.map(_._2).sum, buckets)
          persistEpochLr(ss, workDir, id, boot)
          boot
        }
        scoredPartial(batch.filter(rawFilter), lr, k, includeUnigrams)
          .write.mode("overwrite").parquet(s"$workDir/topk/batch=$id")
      },
      (ss, upTo) => compact(ss, workDir, upTo),
      failAtBatch, compactEvery)
  }

  /** MODEL REFRESH: freeze a new epoch from the current incremental
    * model, re-score the full pool under it once, and REBASE the top-k
    * state ([[AdditiveBatchState.publishRebase]] — the commit point;
    * a crash before it leaves the old epoch fully emittable, a crash
    * after it leaves the new one). The only linear-cost step in the
    * emission lifecycle, paid per refresh instead of per emission. */
  def refreshEpoch(s: SparkSession, workDir: String, target: DataFrame,
      pool: DataFrame, k: Int, buckets: Int = 4096,
      includeUnigrams: Boolean = false,
      failpoint: Failpoint = Failpoint.Off): Unit = {
    val lr = logRatios(s, workDir, target, buckets, includeUnigrams)
    val topkRoot = new Path(s"$workDir/topk")
    val boundary = math.max(
      AdditiveBatchState.maxVisibleId(s, topkRoot),
      AdditiveBatchState.maxVisibleId(s, new Path(s"$workDir/model")))
    require(boundary >= 0,
      s"no state under $workDir to refresh (run runScored first)")
    persistEpochLr(s, workDir, boundary, lr)
    AdditiveBatchState.publishRebase(s, topkRoot, boundary,
      scoredPartial(pool, lr, k, includeUnigrams).coalesce(1),
      failpoint = failpoint)
  }

  /** True when every visible top-k partial was scored under the
    * current epoch — the precondition [[resampleIncremental]]
    * enforces (false only mid-refresh-crash; re-run [[refreshEpoch]]
    * to heal). */
  def emissionFresh(s: SparkSession, workDir: String): Boolean =
    currentEpochLr(s, workDir).exists { case (lr, _) =>
      val fp = lrFp(lr)
      AdditiveBatchState.merged(s, new Path(s"$workDir/topk"), identity)
        .filter(col("epoch_fp") =!= fp).isEmpty
    }

  /** The bounded emission: Gumbel top-k under the CURRENT FROZEN
    * epoch, merged from the ≤ k-row per-batch partials — reads
    * parameter-sized state only, never the corpus. Identical rows to
    * scoring the accumulated pool in one pass under the same frozen
    * table (spec-pinned: every doc is in exactly one partial and
    * top-k-of-union is the global top-k); after a [[refreshEpoch]]
    * it is identical to [[resampleAccumulated]] / the batch p17b
    * chain. Output: (idCol, logw, g) in (g DESC, id) order. */
  def resampleIncremental(s: SparkSession, workDir: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val (lr, _) = currentEpochLr(s, workDir).getOrElse(
      throw new IllegalStateException(
        s"no frozen epoch under $workDir (run runScored/refreshEpoch)"))
    val fp = lrFp(lr)
    AdditiveBatchState.merged(s, new Path(s"$workDir/topk"),
      partials => {
        // a partial from a displaced epoch means a refresh crashed
        // before its rebase published — emitting would mix two models
        if (!partials.filter(col("epoch_fp") =!= fp).isEmpty)
          throw new IllegalStateException(
            "top-k state holds partials from a displaced epoch — " +
              "re-run refreshEpoch to heal")
        partials.select(col(idCol), col("logw"), col("g"))
          .orderBy(desc("g"), col(idCol)).limit(k)
      })
  }
}

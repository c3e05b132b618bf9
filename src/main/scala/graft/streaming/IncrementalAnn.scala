package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Streaming member of the ANN wing: a continuously-arriving embedding
  * stream maintains the IVF index INCREMENTALLY across micro-batches
  * and crash/restart — the d18/p17d discipline applied to
  * [[Similarity.ivfTopK]], whose one-shot form re-fits seeds and
  * re-assigns the whole corpus per invocation.
  *
  * Two state relations, both in [[AdditiveBatchState]]'s layout
  * (per-batch overwrite partials, reader preference rule,
  * publish-rename compaction commit):
  *
  *  - `seed/`: each batch's `nCells` smallest (h, vec_id, v) seed
  *    candidates (h = the engine's deterministic md5 seed hash). The
  *    merge is top-nCells-of-union — idempotent and associative, so
  *    the additive contract holds — and each partial is
  *    parameter-BOUNDED (≤ nCells rows): the global centroid set is
  *    derivable at any moment from state the size of a parameter.
  *  - `assign/`: each batch's (vec_id, cell, v) nearest-cell
  *    assignment under the centroid table FROZEN at the batch's epoch
  *    (cell assignment is a pure per-row function of (v, centroids) —
  *    [[Similarity.ivfAssign]] — so per-batch partials are exact and
  *    every vector lands in exactly one partial). Each partial
  *    carries the `epoch_fp` of the centroid table it was assigned
  *    under.
  *
  * EPOCHS: arriving vectors can displace a centroid (a smaller seed
  * hash arrives), which invalidates assignments made under the old
  * table. The refresh rides the COMPACTION cadence: each compaction
  * derives fresh centroids from the seed state as of its boundary,
  * persists them (`centroids/batch=<n>` — the IncrementalDsir frozen-
  * literal discipline, made durable so crash replay re-assigns under
  * the identical table), and its assign-side mergeAgg RE-ASSIGNS the
  * folded vectors under the fresh table — so compaction is also the
  * epoch rebuild, and the displacement rate falls as the corpus grows
  * (the k-smallest-of-n churn rate is ~nCells/n per batch).
  *
  * [[probeAccumulated]] is the consumed output and is EXACT at every
  * moment: the read derives the true current centroids from the seed
  * state (parameter-sized — never stale), serves rows whose epoch_fp
  * matches directly from the persisted assignment, and re-assigns
  * in-flight only the rows written under displaced epochs (bounded by
  * the batches since the last refresh). Spec-pinned ≡ the batch
  * [[Similarity.ivfTopK]] over the accumulated corpus, row-for-row,
  * under crash/replay and every compaction failpoint. */
object IncrementalAnn {

  def run(s: SparkSession, embDir: String, workDir: String,
      nCells: Int = 8, failAtBatch: Option[Long] = None,
      compactEvery: Int = 16): Unit =
    BatchStreamRunner.run(s, embDir, workDir, "embeddings*.parquet",
      (batch, id) => runBatch(batch, id, workDir, nCells),
      (ss, upTo) => compact(ss, workDir, upTo, nCells),
      failAtBatch, compactEvery)

  /** The (vec_id, v) relation of a raw embeddings batch — zero-norm
    * vectors excluded exactly like every batch strategy. */
  private def vecs(batch: DataFrame): DataFrame =
    batch.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .filter(expr("vec_dot(v, v)") > 0)

  /** Fingerprint of a centroid table: md5 over the exact (cell,
    * bit-pattern of every component) string — collision-safe identity
    * for "assigned under the same table". (private[streaming] so the
    * spec's fresh/stale audit computes the PRODUCTION fingerprint,
    * not a copy that could drift.) */
  private[streaming] def centroidFp(
      rows: Array[org.apache.spark.sql.Row]): String = {
    val canon = rows.map { r =>
      val cv = r.getSeq[Double](1)
        .map(d => java.lang.Double.doubleToLongBits(d)).mkString(",")
      s"${r.getLong(0)}:$cv"
    }.sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Top-nCells-of-union: the seed state's merge rule (idempotent,
    * associative — stated once). */
  private def seedMerge(nCells: Int)(partials: DataFrame): DataFrame =
    partials.orderBy("h", "vec_id").limit(nCells)

  /** Latest persisted centroid table with boundary ≤ `id`, as
    * (table, fp); None before the first batch ever persisted one. */
  private def centroidsAt(s: SparkSession, workDir: String,
      id: Long): Option[(DataFrame, String)] = {
    val root = new Path(s"$workDir/centroids")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    StateCommit.parts(fs, root).filter(_.id <= id).lastOption.flatMap { p =>
      val df = s.read.parquet(p.path.toString)
      val rows = df.collect()
      // an EMPTY frozen table (all batches so far empty/zero-norm) is
      // "no epoch yet" — callers must re-freeze, never assign against
      // zero centroids (see runBatch)
      if (rows.isEmpty) None else Some((df, centroidFp(rows)))
    }
  }

  /** Derive + persist the centroid table as of batch `upTo` from the
    * seed state through [[StateCommit.publish]], so a crash mid-write
    * never leaves a half-written table where [[centroidsAt]] would read
    * it (the derivation is replay-deterministic: partials ≤ upTo are
    * never touched by a later batch, and a compaction that folded them
    * published identical content). Returns (table, fp). */
  private def freezeCentroids(s: SparkSession, workDir: String,
      upTo: Long, nCells: Int): (DataFrame, String) = {
    val cents = Similarity.seedRowsToCentroids(
      AdditiveBatchState.mergedUpTo(s, new Path(s"$workDir/seed"), upTo,
        seedMerge(nCells)))
    val root = new Path(s"$workDir/centroids")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    StateCommit.publish(fs, root, s"batch=$upTo")(tmp =>
      cents.coalesce(1).write.mode("overwrite").parquet(tmp.toString))
    val df = s.read.parquet(new Path(root, s"batch=$upTo").toString)
    (df, centroidFp(df.collect()))
  }

  private[streaming] def runBatch(batch: DataFrame, id: Long,
      workDir: String, nCells: Int): Unit = {
    val s = batch.sparkSession
    val e = vecs(batch)
    e.withColumn("h", Similarity.seedHash)
      .orderBy("h", "vec_id").limit(nCells)
      .select("h", "vec_id", "v")
      .write.mode("overwrite").parquet(s"$workDir/seed/batch=$id")
    // centroids in effect for this batch: the latest NON-EMPTY frozen
    // table (bootstrap: the first batch ever freezes one from its own
    // seed partial — replay re-derives the identical table). An empty
    // frozen table (the stream opened with empty / all-zero-norm
    // batches) reads as "no epoch yet" and re-freezes here, picking up
    // this batch's just-written seed partial: assigning against zero
    // centroids would drop the batch's vectors from the assign state
    // PERMANENTLY (ivfAssign's cross join with an empty broadcast
    // emits nothing, and both the probe's stale path and compaction's
    // re-assign only see rows that made it into the state).
    val (cents, fp) = centroidsAt(s, workDir, id)
      .getOrElse(freezeCentroids(s, workDir, id, nCells))
    Similarity.ivfAssign(e, cents)
      .withColumn("epoch_fp", lit(fp))
      .write.mode("overwrite").parquet(s"$workDir/assign/batch=$id")
  }

  /** Compaction = state fold + EPOCH REBUILD: freeze fresh centroids
    * as of `upTo`, fold the seed partials, and fold the assign
    * partials with a mergeAgg that re-assigns every folded vector
    * under the fresh table. Crash-safe at every step: the centroid
    * persist is overwrite-deterministic, both folds are
    * publish-rename committed ([[AdditiveBatchState.compact]]), and a
    * replay re-derives the identical centroid table first. */
  def compact(s: SparkSession, workDir: String, upToBatch: Long,
      nCells: Int = 8, failpoint: Failpoint = Failpoint.Off,
      targetFileBytes: Long = BatchedParquetIndex.DefaultTargetFileBytes): Unit = {
    val seedRoot = new Path(s"$workDir/seed")
    val fs = seedRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(seedRoot)) return
    val (cents, fp) = freezeCentroids(s, workDir, upToBatch, nCells)
    AdditiveBatchState.compact(s, seedRoot, upToBatch,
      seedMerge(nCells), keyCols = Seq("h"),
      targetFileBytes = targetFileBytes, failpoint = failpoint)
    AdditiveBatchState.compact(s, new Path(s"$workDir/assign"), upToBatch,
      partials => Similarity.ivfAssign(partials.select("vec_id", "v"), cents)
        .withColumn("epoch_fp", lit(fp)),
      keyCols = Seq("cell"), targetFileBytes = targetFileBytes,
      failpoint = failpoint)
  }

  /** The true current centroid table — derived read-time from the
    * parameter-sized seed state, so it is never stale. */
  def currentCentroids(s: SparkSession, workDir: String,
      nCells: Int = 8): DataFrame =
    Similarity.seedRowsToCentroids(
      AdditiveBatchState.merged(s, new Path(s"$workDir/seed"),
        seedMerge(nCells)))

  /** Probe the accumulated index: EXACT against the current corpus at
    * every moment. Rows assigned under the current epoch are served
    * from the persisted assignment; rows under displaced epochs
    * (bounded by the batches since the last refresh) are re-assigned
    * in-flight. Output ≡ [[Similarity.ivfTopK]] over the accumulated
    * corpus — (q_id, vec_id, cell, cos, rank). */
  def probeAccumulated(s: SparkSession, workDir: String,
      queries: DataFrame, k: Int, nCells: Int = 8,
      nprobe: Int = 2): DataFrame = {
    import s.implicits._
    // ONE scan of the (parameter-sized) seed state: the collected
    // rows feed the fingerprint AND rebuild the local table every
    // downstream broadcast uses — the merge plan must not re-execute
    // per consumer (the buildIvfIndex persist-once discipline)
    val centRows = currentCentroids(s, workDir, nCells).collect()
    val fp = centroidFp(centRows)
    val cents = centRows.toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toDF("cell", "cv")
    val state = AdditiveBatchState.merged(s,
      new Path(s"$workDir/assign"), identity)
    val fresh = state.filter(col("epoch_fp") === fp)
      .select(col("vec_id"), col("cell"), col("v"))
    val stale = Similarity.ivfAssign(
      state.filter(col("epoch_fp") =!= fp).select("vec_id", "v"), cents)
    val probes = Similarity.ivfProbeCells(
      queries.filter(expr("vec_dot(qv, qv)") > 0), cents, nprobe)
    Similarity.ivfRank(probes, fresh.unionByName(stale), k)
  }
}

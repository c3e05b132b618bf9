package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Batch-addressed parquet layout for ADDITIVE streaming state — the
  * [[IncrementalSpanCensus]] discipline extracted so other
  * additive-state maintainers ([[IncrementalDsir]]'s raw bucket-count
  * model) share it verbatim rather than re-deriving the crash-safety
  * argument.
  *
  * Contract: every source row lands in exactly ONE `batch=<id>`
  * partition (per-batch overwrite keeps checkpoint replay idempotent),
  * and the caller's `mergeAgg` combines partials such that
  * mergeAgg(A ∪ B) == mergeAgg(mergeAgg(A) ∪ B) — sums, mins, maxes.
  * Compaction and rebase commit through [[StateCommit]] (publish, then
  * sweep). Because partials are summed, a duplicate-tolerant read like
  * [[BatchedParquetIndex]]'s would double-count between the publish
  * and the sweep. Instead the READER enforces a preference rule: the
  * partitions the highest `compacted=<n>` hides ([[StateCommit.hidden]],
  * exactly what the sweep deletes) are invisible — publishing the
  * merged partition IS the commit point, and every failpoint leaves the
  * visible state exactly correct, never a superset.
  *
  * The compacted partition has one plain layout: hash-partitioned and
  * sorted on the caller's key into `max(n, defaultParallelism)` files,
  * n scaled to the source partitions' bytes
  * ([[BatchedParquetIndex.compactionPartitions]]). Merged additive
  * state can approach the key domain's full size (the span census
  * keeps EVERY span), so the write is as wide as the data and never
  * narrower than the session. Every reader sees the state as one plain
  * union of the visible partitions. */
private[streaming] object AdditiveBatchState {

  /** The VISIBLE partitions under the preference rule: the highest
    * published `compacted=<n>` plus every `batch=<k>` with k > n — all
    * but the ones [[StateCommit.hidden]] names. Anything with id ≤ n is
    * already summed into the compacted partition — reading it too would
    * double-count. */
  private def visibleParts(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[StateCommit.Part] = {
    val all = StateCommit.parts(fs, root)
    all.diff(StateCommit.hidden(all))
  }

  /** Every visible partition with id ≤ `upTo` as ONE plain union —
    * the read [[merged]] / [[mergedUpTo]] aggregate and key-probing
    * readers ([[graft.streaming.IncrementalSpanCensus]]'s
    * delta-restricted census) filter before aggregating. */
  private[streaming] def visibleUnion(s: SparkSession, root: Path,
      upTo: Long = Long.MaxValue): DataFrame = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ps = visibleParts(fs, root).filter(_.id <= upTo).map(_.path)
    require(ps.nonEmpty, s"no state partitions ≤ $upTo under $root")
    union(s, ps)
  }

  private def union(s: SparkSession, ps: Seq[Path]): DataFrame =
    ps.map(p => s.read.parquet(p.toString)).reduce(_.unionByName(_))

  /** mergeAgg over every visible partition — the one read path. */
  def merged(s: SparkSession, root: Path,
      mergeAgg: DataFrame => DataFrame): DataFrame =
    mergeAgg(visibleUnion(s, root))

  /** [[merged]] restricted to visible partitions with id ≤ `upTo` — the
    * deterministic "state as of batch upTo" read a compaction-boundary
    * epoch derivation needs (partials > upTo exist while the cadence
    * runs with `id - 1`, and must not leak into the epoch). Replay-
    * stable: partitions ≤ upTo are never touched by a later batch's
    * overwrite, and a compaction that already folded them publishes a
    * `compacted=<n>` with n ≤ upTo holding identical content. */
  def mergedUpTo(s: SparkSession, root: Path, upTo: Long,
      mergeAgg: DataFrame => DataFrame): DataFrame =
    mergeAgg(visibleUnion(s, root, upTo))

  /** mergeAgg every visible partition with id ≤ `upToBatch` into ONE
    * `compacted=<upToBatch>` partition, then sweep the sources. The
    * partition is hash-partitioned and sorted on `keyCols` into
    * `max(n, defaultParallelism)` files, where n is the corpus-scaled
    * count ([[BatchedParquetIndex.compactionPartitions]]). Crash-safe by
    * [[StateCommit]]'s publish + the reader's preference rule (see
    * object Scaladoc); re-runs as [[StateCommit.compact]] says.
    * `failpoint` injects test crashes. */
  def compact(s: SparkSession, root: Path, upToBatch: Long,
      mergeAgg: DataFrame => DataFrame, keyCols: Seq[String],
      targetFileBytes: Long = BatchedParquetIndex.DefaultTargetFileBytes,
      failpoint: Failpoint = Failpoint.Off): Unit = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    StateCommit.compact(fs, root, upToBatch, visibleParts(fs, root),
        failpoint) { (sources, tmp) =>
      val n = BatchedParquetIndex.compactionPartitions(
        fs, sources, targetFileBytes)
      // At least as wide as the session: a corpus-scaled n of 1-2 files
      // would leave every later full-state read (the census probe of
      // each emission) with 1-2 scan tasks on a many-core session.
      // sortWithinPartitions on the key: each file's row groups then
      // cover a narrow key range, so a selective read can skip row
      // groups via parquet min/max stats; merge results are
      // row-order-free, so downstream reads are unaffected. An empty
      // merge still writes one schema-only file, so the published
      // partition stays readable.
      val keys = keyCols.map(col)
      mergeAgg(union(s, sources))
        .repartition(math.max(n, s.sparkContext.defaultParallelism), keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.mode("overwrite").parquet(tmp.toString)
    }
  }

  /** Highest visible partition id (batch or compacted), or -1 when the
    * root holds no state — the boundary a caller-driven REBASE
    * ([[publishRebase]]) must cover. */
  def maxVisibleId(s: SparkSession, root: Path): Long = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    visibleParts(fs, root).map(_.id).foldLeft(-1L)(math.max)
  }

  /** Publish EXTERNALLY-computed content as `compacted=<upToBatch>`,
    * replacing every partition with id ≤ upToBatch — [[compact]]'s
    * commit protocol for rebases whose new content cannot be derived
    * from the partials alone (e.g. a re-score of the source corpus
    * under a refreshed model: the partials hold scores, not the text).
    * A REPUBLISH at the same boundary (the crash-heal path re-runs with
    * an unchanged maxVisibleId) retires the live target instead of
    * deleting it, so a crash at any step leaves the old or the new
    * rebase visible, and a re-run derives the identical content. The
    * caller must guarantee `df` covers (supersedes) all partials with
    * id ≤ upToBatch. */
  def publishRebase(s: SparkSession, root: Path, upToBatch: Long,
      df: DataFrame, failpoint: Failpoint = Failpoint.Off): Unit = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    StateCommit.publish(fs, root, s"compacted=$upToBatch", failpoint,
      "rebase")(tmp => df.write.mode("overwrite").parquet(tmp.toString))
    StateCommit.sweep(fs, root, failpoint, "rebase")
  }
}

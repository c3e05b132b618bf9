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
  * Because partials are summed, compaction CANNOT use
  * [[BatchedParquetIndex]]'s duplicate-tolerant publish-then-delete (a
  * crash between publish and delete would double-count). Instead the
  * READER enforces a preference rule: partitions with id ≤ the highest
  * published `compacted=<n>` are invisible — publishing the merged
  * partition IS the commit point, and every crash point (before
  * publish, after publish, mid-delete) leaves the visible state
  * exactly correct, never a superset.
  *
  * The compacted partition has one plain layout: hash-partitioned and
  * sorted on the caller's key into `max(n, defaultParallelism)` files,
  * n scaled to the source partitions' bytes
  * ([[BatchedParquetIndex.compactionPartitions]]). Merged additive
  * state can approach the key domain's full size (the span census
  * keeps EVERY span), so the write is as wide as the data and never
  * narrower than the session. Every reader sees the state as one plain
  * union of the visible partitions. The rename commit operates on the
  * directory, however many files it holds. */
private[streaming] object AdditiveBatchState {

  /** (isCompacted, id) of a state partition dir name. */
  private def partId(name: String): Option[(Boolean, Long)] = {
    val eq = name.indexOf('=')
    if (eq < 0) None
    else name.take(eq) match {
      case "batch" =>
        try Some((false, name.drop(eq + 1).toLong))
        catch { case _: NumberFormatException => None }
      case "compacted" =>
        try Some((true, name.drop(eq + 1).toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  private def allParts(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(Path, Boolean, Long)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .flatMap(p => partId(p.getName).map { case (c, n) => (p, c, n) })

  /** The VISIBLE partitions under the preference rule: the highest
    * published `compacted=<n>` plus every `batch=<k>` with k > n.
    * Anything with id ≤ n is already summed into the compacted
    * partition — reading it too would double-count. */
  private def visibleParts(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[Path] = {
    val all = allParts(fs, root)
    val maxC = all.collect { case (_, true, n) => n }
      .foldLeft(-1L)(math.max)
    all.collect {
      case (p, true, n) if n == maxC => p
      case (p, false, n) if n > maxC => p
    }
  }

  /** Every visible partition with id ≤ `upTo` as ONE plain union —
    * the read [[merged]] / [[mergedUpTo]] aggregate and key-probing
    * readers ([[graft.streaming.IncrementalSpanCensus]]'s
    * delta-restricted census) filter before aggregating. */
  private[streaming] def visibleUnion(s: SparkSession, root: Path,
      upTo: Long = Long.MaxValue): DataFrame = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ps = visibleParts(fs, root).filter(p =>
      partId(p.getName).exists(_._2 <= upTo))
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
    * `compacted=<upToBatch>` partition, then delete the sources. The
    * partition is hash-partitioned and sorted on `keyCols` into
    * `max(n, defaultParallelism)` files, where n is the corpus-scaled
    * count ([[BatchedParquetIndex.compactionPartitions]]). Crash-safe by
    * publish-rename + the reader's preference rule (see object
    * Scaladoc). A re-run that finds the target published skips the
    * merge and finishes the deletions. `failpoint` injects test
    * crashes. */
  def compact(s: SparkSession, root: Path, upToBatch: Long,
      mergeAgg: DataFrame => DataFrame, keyCols: Seq[String],
      targetFileBytes: Long = BatchedParquetIndex.DefaultTargetFileBytes,
      failpoint: String = ""): Unit = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("_compact_"))
      .foreach(p => fs.delete(p, true))
    val target = new Path(root, s"compacted=$upToBatch")
    val mergeable = visibleParts(fs, root).filter { p =>
      partId(p.getName).exists(_._2 <= upToBatch) &&
        p.getName != target.getName
    }
    if (!fs.exists(target)) {
      if (mergeable.size <= 1) {
        // A prior compaction may have crashed mid-delete: partitions
        // with id ≤ the highest published compacted partition are
        // reader-INVISIBLE (already summed into it) but still on disk,
        // and if no later compaction ever sees ≥ 2 mergeable partials
        // they would persist forever. Finish that sweep here — the
        // same justification as the post-publish sweep below, with the
        // published partition in the target role.
        val maxC = allParts(fs, root).collect { case (_, true, n) => n }
          .foldLeft(-1L)(math.max)
        allParts(fs, root).collect {
          case (p, c, n) if n <= maxC && !(c && n == maxC) => p
        }.foreach(p => fs.delete(p, true))
        return
      }
      val tmp = new Path(root, s"_compact_$upToBatch")
      val n = BatchedParquetIndex.compactionPartitions(
        fs, mergeable, targetFileBytes)
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
      mergeAgg(union(s, mergeable))
        .repartition(math.max(n, s.sparkContext.defaultParallelism), keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.mode("overwrite").parquet(tmp.toString)
      if (failpoint == "before-publish")
        throw new RuntimeException("injected compaction crash before publish")
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
    if (failpoint == "after-publish")
      throw new RuntimeException("injected compaction crash after publish")
    // delete EVERYTHING with id <= upToBatch (visible or stale — all
    // of it is represented in the target)
    allParts(fs, root).collect {
      case (p, _, n) if n <= upToBatch && p.getName != target.getName => p
    }.foreach { p =>
      fs.delete(p, true)
      if (failpoint == "mid-delete")
        throw new RuntimeException("injected compaction crash mid-delete")
    }
  }

  /** Highest visible partition id (batch or compacted), or -1 when the
    * root holds no state — the boundary a caller-driven REBASE
    * ([[publishRebase]]) must cover. */
  def maxVisibleId(s: SparkSession, root: Path): Long = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    visibleParts(fs, root)
      .flatMap(p => partId(p.getName).map(_._2))
      .foldLeft(-1L)(math.max)
  }

  /** Publish EXTERNALLY-computed content as `compacted=<upToBatch>`,
    * replacing every partition with id ≤ upToBatch — [[compact]]'s
    * commit protocol (tmp write → rename publish → sweep) for rebases
    * whose new content cannot be derived from the partials alone
    * (e.g. a re-score of the source corpus under a refreshed model:
    * the partials hold scores, not the text). Crash-safe by the same
    * argument: before the rename the old state is fully visible;
    * after it the preference rule hides everything the rebase
    * replaced; a re-run finishes the sweep. The caller must guarantee
    * `df` covers (supersedes) all partials with id ≤ upToBatch. */
  def publishRebase(s: SparkSession, root: Path, upToBatch: Long,
      df: DataFrame, failpoint: String = ""): Unit = {
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith("_compact_") ||
        p.getName.startsWith("_retired_"))
      .foreach(p => fs.delete(p, true))
    val target = new Path(root, s"compacted=$upToBatch")
    val tmp = new Path(root, s"_compact_$upToBatch")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (failpoint == "before-publish")
      throw new RuntimeException("injected rebase crash before publish")
    // REPUBLISH at the same boundary (the crash-heal path re-runs with
    // an unchanged maxVisibleId) must not open a window with the live
    // target DELETED while the new content is still a tmp dir: retire
    // the old target by METADATA RENAME (invisible name, no recursive
    // delete in the window) and swap the new one in — the exposed
    // window is two renames, and a crash inside it re-runs to the
    // identical content (the rebase derivation is deterministic).
    if (fs.exists(target) &&
        !fs.rename(target, new Path(root, s"_retired_$upToBatch")))
      throw new java.io.IOException(s"retire $target failed")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"rename $tmp -> $target failed")
    fs.delete(new Path(root, s"_retired_$upToBatch"), true)
    if (failpoint == "after-publish")
      throw new RuntimeException("injected rebase crash after publish")
    allParts(fs, root).collect {
      case (p, _, n) if n <= upToBatch && p.getName != target.getName => p
    }.foreach { p =>
      fs.delete(p, true)
      if (failpoint == "mid-delete")
        throw new RuntimeException("injected rebase crash mid-delete")
    }
  }
}

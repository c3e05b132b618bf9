package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-addressed parquet index layout shared by the durable streaming
  * dedup modules ([[IncrementalDedup]], [[IncrementalNearDup]]): one
  * partition per micro-batch (`batch=<id>`), readers scan partitions
  * with id strictly below their own batch (so a checkpoint-replayed
  * batch never sees its failed attempt's rows), and compaction merges
  * old partitions under a `compacted=<id>` name with crash-safe
  * publish-then-delete ordering. Consumers must tolerate DUPLICATE rows
  * across partitions (anti-joins and min-aggregations both do) — that
  * tolerance is what lets every crash point leave a harmless superset,
  * never a forgotten index. */
private[streaming] object BatchedParquetIndex {

  /** Default compaction target file size (bytes). Specs shrink it to
    * force multi-file compacted partitions at fixture scale. */
  val DefaultTargetFileBytes: Long = 128L << 20

  /** Corpus-scaled output partition count for a compaction write:
    * total bytes of the source partitions (one FS summary walk — no
    * data scan) over the target file size, floored at 1. The merged
    * output is never larger than its sources (compaction only unions
    * or sum-merges), so sizing from source bytes bounds files from
    * above — the [[graft.operators.Retrieval.adaptiveBuckets]]
    * discipline applied to state maintenance: at 100 TB the compacted
    * census is multi-TB and the write must be as wide as the data,
    * never a single task. */
  private[streaming] def compactionPartitions(
      fs: org.apache.hadoop.fs.FileSystem, sources: Seq[Path],
      targetFileBytes: Long): Int = {
    val bytes = sources.iterator
      .map(p => fs.getContentSummary(p).getLength).sum
    // explicit small-input case BEFORE the ceil: `bytes + target - 1`
    // wraps negative when target is huge (e.g. Long.MaxValue)
    if (bytes <= targetFileBytes) 1
    else math.min(1L << 20,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
  }

  /** id of an index partition dir: `batch=<n>` (written by one batch) or
    * `compacted=<n>` (the merge of every partition with id <= n). Both
    * obey the same visibility rule — a partition named with id n holds
    * ONLY rows first written at batches <= n. */
  private def partitionId(name: String): Option[Long] = {
    val eq = name.indexOf('=')
    if (eq < 0) None
    else name.take(eq) match {
      case "batch" | "compacted" =>
        try Some(name.drop(eq + 1).toLong)
        catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  private def parts(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(Path, Long)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .flatMap(p => partitionId(p.getName).map(p -> _))

  /** Partitions holding rows of batches strictly BEFORE `id` (never the
    * current batch's own failed attempt). */
  def prior(s: SparkSession, idxRoot: String, id: Long): Option[DataFrame] = {
    val root = new Path(idxRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val ps = parts(fs, root).collect { case (p, n) if n < id => p }
    if (ps.isEmpty) None
    else Some(s.read.parquet(ps.map(_.toString): _*))
  }

  /** Compact all partitions with id <= `upToBatch` into ONE partition
    * addressed `compacted=<upToBatch>` — identical row multiset modulo
    * duplicates, one file set instead of one per batch. The merged
    * partition keeps the HIGHEST compacted id and ids only grow, so the
    * strictly-before pruning stays correct for every future batch
    * (in-pipeline callers pass `id - 1`, never `id`).
    *
    * CRASH-SAFE by publish-then-delete: the merge is written to an
    * `_`-prefixed tmp (invisible to [[prior]]), atomically renamed to
    * its final `compacted=` name, and only THEN are the sources
    * deleted. Any crash leaves the visible index a SUPERSET of the true
    * row set. A re-run that finds the target already published skips
    * the merge and only finishes the deletions (ids only grow, so no
    * new source with id <= upToBatch can have appeared since).
    * Single-writer assumption is the pipeline's own.
    *
    * The merged partition is written HASH-PARTITIONED on `keyCols` at
    * a corpus-scaled file count ([[compactionPartitions]]) — compaction
    * must stay as wide as its data (a single-task funnel recurs every
    * `compactEvery` batches and is multi-TB at 100 TB), and clustering
    * by the probe key keeps any one key's rows in one file. The commit
    * protocol is unchanged: publish-rename works on directories
    * regardless of how many files they hold.
    *
    * `failpoint` is a test hook injecting a crash "before-publish",
    * "after-publish", or "mid-delete". */
  def compact(s: SparkSession, idxRoot: String, upToBatch: Long,
      failpoint: String = "", keyCols: Seq[String] = Seq.empty,
      targetFileBytes: Long = DefaultTargetFileBytes): Unit = {
    val root = new Path(idxRoot)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    // stale tmp from a previously crashed compaction: invisible to the
    // scan, safe to drop and redo
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("_compact_"))
      .foreach(p => fs.delete(p, true))
    val all = parts(fs, root).filter(_._2 <= upToBatch)
    if (all.size <= 1) return
    val target = new Path(s"$idxRoot/compacted=$upToBatch")
    // compare by NAME: listStatus paths are scheme-qualified
    // (file:/...), `target` is not — URI equality would treat the
    // published partition as a source and delete it
    val sources = all.collect { case (p, _) if p.getName != target.getName => p }
    if (!fs.exists(target)) {
      val tmp = new Path(s"$idxRoot/_compact_$upToBatch")
      val n = compactionPartitions(fs, sources, targetFileBytes)
      val merged = s.read.parquet(sources.map(_.toString): _*)
      val laid =
        if (keyCols.nonEmpty) merged.repartition(n, keyCols.map(merged(_)): _*)
        else merged.repartition(n)
      laid.write.mode("overwrite").parquet(tmp.toString)
      if (failpoint == "before-publish")
        throw new RuntimeException("injected compaction crash before publish")
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"rename $tmp -> $target failed")
    }
    if (failpoint == "after-publish")
      throw new RuntimeException("injected compaction crash after publish")
    sources.foreach { p =>
      fs.delete(p, true)
      if (failpoint == "mid-delete")
        throw new RuntimeException("injected compaction crash mid-delete")
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of d10's incremental dedup: a continuously-arriving
  * document stream is deduplicated against a PERSISTENT content-hash
  * index, maintaining an exactly-once `kept` table across micro-batches
  * AND crash/restart — on plain parquet, no transactional table format.
  *
  * Exactly-once is LAYOUT-BORNE rather than log-borne:
  *  - each micro-batch writes ONLY batch-addressed partitions
  *    (`kept/batch=<id>/`, `index/batch=<id>/`) with overwrite
  *    semantics, so a batch replayed after a crash overwrites its own
  *    partial output instead of appending duplicates;
  *  - the anti-join reads index partitions with `batch < id` ONLY
  *    (partition-pruned scan), so a replayed batch never sees its own
  *    failed attempt's index rows (which would wrongly drop every doc
  *    of the batch as "already seen");
  *  - the Structured Streaming checkpoint replays a failed batch with
  *    the SAME id and file set (file-source WAL), which is what makes
  *    the two properties above sufficient.
  *
  * At 100 TB the per-batch index partitions are 16 bytes/doc like
  * d10's index; the `batch < id` scan accumulates one partition per
  * batch, so [[run]] compacts old partitions in-pipeline every
  * `compactEvery` batches (identical content, bounded file sets — the
  * anti-join is unchanged). Reference analog: the reference skips
  * re-consumed records by offset on recovery (S7,
  * uReplicator-Worker/src/main/java/com/uber/stream/ureplicator/worker/
  * ConsumerIterator.java:46-86); this generalizes offset-dedup to
  * content-dedup with a durable index.
  *
  * IncrementalDedupSpec drives the crashes: fail a chosen batch AFTER
  * its writes but BEFORE the checkpoint commits (restart must replay it
  * exactly-once), and fail [[compactIndex]] at each internal step (the
  * index must never lose a hash).
  */
object IncrementalDedup {

  def run(s: SparkSession, docsDir: String, workDir: String,
      failAtBatch: Option[Long] = None,
      compactEvery: Int = 16): Unit =
    BatchStreamRunner.run(s, docsDir, workDir, "documents*.parquet",
      (batch, id) => runBatch(batch, id, workDir),
      (ss, upTo) => compactIndex(ss, workDir, upTo),
      failAtBatch, compactEvery)

  private[streaming] def runBatch(batch: DataFrame, id: Long,
      workDir: String): Unit = {
    val ss = batch.sparkSession
    // first-seen within the batch: min doc_id per content hash
    val inBatch = batch
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy("content_hash").agg(min("doc_id").as("keeper_doc_id"))
    val fresh = BatchedParquetIndex.prior(ss, s"$workDir/index", id) match {
      case Some(ix) => inBatch.join(ix, Seq("content_hash"), "left_anti")
      case None => inBatch
    }
    // batch-addressed partitions + overwrite = idempotent under replay.
    // The index partition is the kept partition's hash column read back
    // (a columnar read of what was just written) — deriving it from
    // `fresh` again would re-run the whole md5+agg+anti-join subtree,
    // since each write action executes its full plan. Crash between the
    // two writes replays the batch and overwrites both.
    fresh.write.mode("overwrite").parquet(s"$workDir/kept/batch=$id")
    ss.read.parquet(s"$workDir/kept/batch=$id").select("content_hash")
      .write.mode("overwrite").parquet(s"$workDir/index/batch=$id")
  }

  /** the deduplicated table: every batch's survivors */
  def kept(s: SparkSession, workDir: String): DataFrame =
    s.read.parquet(s"$workDir/kept")
      .select(col("content_hash"), col("keeper_doc_id"))

  /** See [[BatchedParquetIndex.compact]] — crash-safe publish-then-
    * delete merge of all index partitions with id <= `upToBatch` into
    * one `compacted=<upToBatch>` partition. Duplicate hashes across
    * partitions are harmless to the left_anti join, which is what makes
    * every crash point leave a usable superset. */
  def compactIndex(s: SparkSession, workDir: String, upToBatch: Long,
      failpoint: Failpoint = Failpoint.Off,
      targetFileBytes: Long = BatchedParquetIndex.DefaultTargetFileBytes): Unit =
    BatchedParquetIndex.compact(s, s"$workDir/index", upToBatch, failpoint,
      keyCols = Seq("content_hash"), targetFileBytes = targetFileBytes)
}

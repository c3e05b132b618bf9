package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming INCREMENTAL NEAR-dedup — the MinHash-LSH twin of
  * [[IncrementalDedup]], and the daily production job of a training-data
  * pipeline: documents arrive continuously and each is checked against a
  * PERSISTENT band-signature index of everything seen before, on plain
  * parquet, exactly-once across crash/restart.
  *
  * A doc is a near-dup iff ANY earlier doc (smaller doc_id — arrival
  * order) shares at least one of its 16 LSH band hashes; see
  * [[MinRuleIncremental]] for the min-rule semantics, the
  * slicing-invariance argument, and the durable-index layout. Per
  * batch, everything is ONE codegen'd kernel call per row
  * ([[graft.functions.Sketches]]: `word_ngrams` shingles +
  * `minhash_lsh_bands` — zero shuffle) plus one (band, band_hash)
  * shuffle of the 16-rows-per-doc band table.
  *
  * Reference analog: generalizes the recovery dedup contract of S7
  * (uReplicator-Worker/src/main/java/com/uber/stream/ureplicator/worker/
  * ConsumerIterator.java:46-86) from exact offset identity to
  * similarity identity.
  */
object IncrementalNearDup {

  private def bands(batch: DataFrame): DataFrame =
    Dedup.bandTable(Dedup.shingles(batch))

  def run(s: SparkSession, docsDir: String, workDir: String,
      failAtBatch: Option[Long] = None,
      compactEvery: Int = 16): Unit =
    MinRuleIncremental.run(s, docsDir, workDir,
      globFilter = "documents*.parquet", idCol = "doc_id",
      bucketCols = Seq("band", "band_hash"), bucketize = bands,
      failAtBatch = failAtBatch, compactEvery = compactEvery)

  /** Per-document verdicts across every processed batch:
    * (doc_id, kept, dup_of) — docs with no shingles are absent, as in
    * the batch oracle. */
  def results(s: SparkSession, workDir: String): DataFrame =
    MinRuleIncremental.results(s, workDir, "doc_id")
}

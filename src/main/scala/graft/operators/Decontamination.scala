package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination as an engine capability — the library
 * surface behind catalog entries p3 (exact n-gram overlap), p4 (the
 * Bloom-prefiltered form, bit-identical by contract) and p14
 * (MinHash-LSH fuzzy train-vs-eval matching), promoted like
 * [[Dedup]] / [[Retrieval]] / [[Sampling]] / [[TextAnalysis]].
 *
 * The scale discipline all three forms share: eval suites are TINY
 * (thousands of docs, ≤10^8 n-grams) while the training corpus is
 * 100 TB — so the eval side is always the broadcast/filter side and
 * the corpus side always streams through the scan stage:
 *  - [[flagExact]]: eval n-gram hashes broadcast into a map-side hash
 *    join — no shuffle of the corpus, cost linear in corpus n-grams.
 *  - [[evalBloom]] + the `bloomBytes` option: at 10^8 eval n-grams the
 *    broadcast hash table is ~1 GB/executor; a Bloom filter at
 *    ~10 bits/key is an order of magnitude smaller and probes INSIDE
 *    whole-stage codegen (`bloom_contains`), dropping virtually the
 *    whole corpus at the scan. The exact join after it removes false
 *    positives, so the output is bit-identical to the un-prefiltered
 *    form (p3 and p4 share one oracle).
 *  - [[fuzzyMatches]]: banded-LSH candidates (train×eval band
 *    equi-join, eval side broadcast — never all-pairs), then exact
 *    Jaccard verification where the (doc, shingle) join is
 *    eval-suite-sized, never corpus-sized.
 *
 * All hashing is md5-derived integer arithmetic, bit-identical to the
 * DuckDB oracle SQL in the catalog.
 */
object Decontamination {

  /** Distinct word-n-gram 60-bit hashes per document: (doc_id, gh),
    * where gh is the DuckDB `('0x'||substr(md5(g),1,15))::BIGINT` of
    * each distinct n-gram g. Tokenize, slide, dedupe and hash are ONE
    * codegen'd `ngram_hashes` call per row
    * ([[graft.functions.Sketches.ngramHashes]]); only fixed-width
    * 8-byte keys leave the scan. `explode_outer` + `isNotNull` is the
    * [[Dedup.bandTable]] pattern: a plain `explode` of a column holding
    * the array lets InferFiltersFromGenerate add a `size() > 0` filter
    * that the optimizer inlines the kernel into (PlanShapeSpec pins
    * that no Filter evaluates it). */
  def ngramHashes(corpus: DataFrame, n: Int = 4): DataFrame =
    corpus
      .select(col("doc_id"), explode_outer(expr(s"ngram_hashes(text, $n)")).as("gh"))
      .filter(col("gh").isNotNull)

  /** Serialized Bloom filter over an eval-side `gh` column — the
    * scan-stage pre-filter for [[flagExact]]. `expectedItems` is
    * typically `eval.count()` (the caller persists eval first: it is
    * read again by the exact join). */
  def evalBloom(eval: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val bf = eval.stat.bloomFilter("gh", math.max(expectedItems, 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Flag training documents sharing ≥1 n-gram hash with the eval set:
    * (doc_id, n_shared_ngrams, n_eval_docs). `train` is (doc_id, gh);
    * `eval` is (eval_id, gh), distinct, and is BROADCAST. With
    * `bloomBytes` set, a codegen'd `bloom_contains` probe drops
    * non-matching grams inside the corpus scan before the exact join —
    * same output, scan-stage cost. */
  def flagExact(train: DataFrame, eval: DataFrame,
      bloomBytes: Option[Array[Byte]] = None): DataFrame = {
    val probed = bloomBytes.fold(train)(bytes =>
      train.filter(call_function("bloom_contains", lit(bytes), col("gh"))))
    probed
      .join(broadcast(eval), "gh")
      .groupBy("doc_id")
      .agg(countDistinct("gh").as("n_shared_ngrams"),
        countDistinct("eval_id").as("n_eval_docs"))
  }

  /** Fuzzy train-vs-eval matches above a Jaccard threshold:
    * (doc_id, eval_id, jaccard). Input is a MATERIALIZED
    * (doc_id, ws, is_eval, bh) relation — [[Dedup.shingles]] plus an
    * eval flag plus the `minhash_lsh_bands(ws)` kernel — materialized
    * because five plan branches read it (unmaterialized, the two
    * band-side branches re-ran the 64-hash kernel over the whole
    * corpus each; measured 7.3 s + 4.8 s stages at 300×). Candidates
    * come from the band equi-join with the eval side broadcast; the
    * exact-Jaccard verification joins candidate train shingles against
    * EVAL shingles only, so the (doc, w) join is eval-suite-sized. */
  def fuzzyMatches(s: SparkSession, sh: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    import s.implicits._
    def bandsOf(side: DataFrame) = side
      .select(col("doc_id"), posexplode(col("bh")).as(Seq("band", "band_hash")))
    val cand = bandsOf(sh.filter(!col("is_eval"))).as("x")
      .join(broadcast(bandsOf(sh.filter(col("is_eval")))).as("y"),
        $"x.band" === $"y.band" && $"x.band_hash" === $"y.band_hash")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b")).distinct()
    val uniTrain = sh.filter(!col("is_eval"))
      .select(col("doc_id").as("doc_a"), explode(col("ws")).as("w"))
    val uniEval = sh.filter(col("is_eval"))
      .select(col("doc_id").as("doc_b"), explode(col("ws")).as("w"))
    // |ws| is already distinct by construction — sizes need no explode
    val sizes = sh.select(col("doc_id"), size(col("ws")).cast("long").as("sz"))
    broadcast(cand)
      .join(uniTrain, "doc_a")
      .join(uniEval, Seq("doc_b", "w"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("eval_id"),
        col("jaccard"))
  }
}

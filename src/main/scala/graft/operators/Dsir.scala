package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
 * arXiv:2302.03169) as an engine capability — the library surface
 * behind catalog entries p17 (importance scoring) and p17b (Gumbel
 * top-k resampling): score every raw-pool document by how much more
 * likely its hashed-bigram bag is under a TARGET-domain bag-of-ngrams
 * model than under the RAW-pool model, then sample without replacement
 * proportionally to those importance weights. This is the published
 * method pretraining pipelines use to tilt a web-scale crawl toward a
 * small high-quality seed set (Wikipedia, textbooks, an eval domain)
 * without training a classifier.
 *
 * The math: features are word bigrams hashed into `buckets` buckets
 * (the engine-wide salted-md5 gate reduced mod B — reproducible on any
 * engine, any partitioning). By default this is a deliberate
 * SIMPLIFICATION of the paper's feature space — Xie et al. hash
 * unigrams AND bigrams into the bucket domain; the default wing hashes
 * bigrams only (same estimator, same resampling, one fewer feature
 * stream per doc), and SURVEY.md names the deviation where it cites the
 * paper. `includeUnigrams = true` (on [[bucketCounts]],
 * [[importanceLogRatios]] and [[importanceWeights]]) restores the
 * paper-faithful unigram ∪ bigram bag, unigrams first (p17e). Both
 * corpora fit an add-one-smoothed multinomial over the bucket domain; a
 * document's log importance weight is
 *
 *   log w(d) = Σ_{g ∈ bigrams(d)} [ ln p̂_target(b(g)) − ln p̂_raw(b(g)) ]
 *
 * and resampling-without-replacement ∝ w is the Gumbel top-k trick:
 * keep the k largest `log w(d) − ln(−ln(u_d))` with `u_d` a salted
 * md5 uniform — deterministic, incremental-safe (a new doc never
 * changes an existing doc's key), and exactly the Efraimidis–Spirakis
 * weighted sample.
 *
 * Scale shape (the 100 TB plan): the two model fits are single scans
 * ending in a `buckets`-bounded aggregation (map-side partials; the
 * exchange carries ≤ B rows per partition) — the target corpus is by
 * definition small, and the raw fit can run on any deterministic
 * subsample (`rawSampleMod`, the engine digest gate) since only bucket
 * FREQUENCIES matter. The per-bucket log-ratio table is B doubles — a
 * parameter, thousands — shipped as one dense array LITERAL riding the
 * task binary (the d17/d15 probe-literal precedent: a joined constant
 * column would be re-materialized per row), so SCORING is one corpus
 * scan with one codegen'd `dsir_score` kernel call per row — zero
 * shuffle, no join, and the per-bigram hashing stays inside
 * whole-stage codegen (Catalyst's `transform`/`aggregate` lambdas run
 * through the interpreted walker; the kernel is pinned bit-identical
 * to that reference chain by DsirSpec). Resampling is orderBy+limit ⇒
 * TakeOrderedAndProject (a per-partition partial top-k then a k-sized
 * merge — the corpus is never globally sorted).
 */
object Dsir {

  /** Per-row hashed-bigram bucket array (ARRAY<BIGINT>, values in
    * [0, buckets)) — expression TEXT over a token-array column named
    * `__ts`. Bucket of a bigram (a, b) = 60-bit md5 of "a b" mod
    * `buckets` — DuckDB:
    * `('0x'||substr(md5(a||' '||b),1,15))::BIGINT % buckets`.
    * A doc with fewer than 2 tokens gets an empty array (Spark's
    * `sequence(1, 0)` infers a DESCENDING step and would emit [1, 0] —
    * the p16b guard). This is the REFERENCE form the codegen'd
    * `dsir_buckets(…, false)` kernel is pinned bit-identical to (DsirSpec);
    * the operator paths below call the kernel — Catalyst evaluates
    * `transform` lambdas through the interpreted walker, outside
    * whole-stage codegen. */
  def bigramBucketsExpr(buckets: Int): String = {
    require(buckets > 0, "buckets must be positive")
    s"""CASE WHEN size(__ts) >= 2 THEN
       |  transform(sequence(1, size(__ts) - 1), i ->
       |    pmod(cast(conv(substring(md5(concat(
       |      element_at(__ts, i), ' ', element_at(__ts, i + 1))),
       |      1, 15), 16, 10) as bigint), ${buckets}L))
       |ELSE cast(array() as array<bigint>) END""".stripMargin
  }

  /** (bucket, cnt) over a corpus — corpus-sized scan, bucket-bounded
    * output (≤ `buckets` rows after the aggregation), the per-row
    * feature hashing one codegen'd `dsir_buckets` kernel call (null
    * text folds to the empty-doc path). With `includeUnigrams = true`
    * the feature stream is the paper-faithful unigram ∪ bigram bag
    * (Xie et al. hash both into one bucket domain) — the same kernel,
    * one tokenize per row for both window widths, still one corpus
    * pass, still bucket-bounded. */
  def bucketCounts(corpus: DataFrame, buckets: Int,
      includeUnigrams: Boolean = false): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    corpus
      .select(explode(call_function("dsir_buckets",
        coalesce(col("text"), lit("")), lit(buckets),
        lit(includeUnigrams))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** The dense per-bucket log-ratio table
    * `lr[b] = ln((ct_t(b)+1)/(tot_t+B)) − ln((ct_r(b)+1)/(tot_r+B))`
    * as a driver-side array of exactly `buckets` doubles. Bounded by
    * construction: the collects pull the AGGREGATED bucket tables
    * (≤ B rows each), never corpus rows — B is a caller parameter in
    * the thousands, the same boundedness class as a centroid set.
    * The expression order (add-one in the numerator, `tot + B` in the
    * denominator, one ln per model) is part of the cross-engine
    * contract — see [[Sampling]]'s note on IEEE op order.
    *
    * `rawSampleMod > 1` fits the RAW model on a deterministic 1/mod
    * doc subsample (the d16 digest-gate form: 60-bit salted md5 of the
    * id, kept iff ≡ 0 mod m) — the 100-TB lever: only bucket
    * FREQUENCIES enter the model, so a frequency estimate from 1/m of
    * the pool changes smoothing noise, not the method, while the fit
    * scan drops to 1/m of the corpus. The target seed set is small by
    * definition and always fits exactly; scoring always sees every
    * doc. DuckDB gate of the sample:
    * `('0x'||substr(md5('dsirfit:'||CAST(id AS VARCHAR)),1,15))::BIGINT % mod = 0`. */
  def importanceLogRatios(target: DataFrame, raw: DataFrame,
      buckets: Int, rawSampleMod: Int = 1,
      idCol: String = "doc_id",
      includeUnigrams: Boolean = false): Array[Double] = {
    require(rawSampleMod >= 1, "rawSampleMod must be at least 1")
    val rawFit =
      if (rawSampleMod == 1) raw
      else raw.filter(Sampling.saltedHashMod("dsirfit", col(idCol),
        rawSampleMod.toLong) === 0L)
    val (tc, tt) = fitCounts(target, buckets, includeUnigrams)
    val (rc, rt) = fitCounts(rawFit, buckets, includeUnigrams)
    logRatiosFromCounts(tc, tt, rc, rt, buckets)
  }

  /** Collect a corpus's AGGREGATED (bucket → cnt) table plus its total
    * — ≤ `buckets` rows pulled to the driver, never corpus rows. */
  def fitCounts(c: DataFrame, buckets: Int,
      includeUnigrams: Boolean = false): (Map[Long, Long], Long) = {
    val rows = bucketCounts(c, buckets, includeUnigrams).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    (rows.toMap, rows.map(_._2).sum)
  }

  /** [[importanceLogRatios]]'s arithmetic over already-collected bucket
    * tables — split out so an INCREMENTALLY-maintained raw model
    * ([[graft.streaming.IncrementalDsir]]'s additive bucket-count
    * state) produces the bit-identical table the batch fit does: the
    * expression order here (add-one numerator, `tot + B` denominator,
    * one ln per model) is the cross-engine contract, stated once. */
  def logRatiosFromCounts(tc: Map[Long, Long], tt: Long,
      rc: Map[Long, Long], rt: Long, buckets: Int): Array[Double] =
    Array.tabulate(buckets) { b =>
      math.log((tc.getOrElse(b.toLong, 0L) + 1.0) / (tt + buckets)) -
        math.log((rc.getOrElse(b.toLong, 0L) + 1.0) / (rt + buckets))
    }

  /** Per-document DSIR importance score: (idCol, n_bigrams, logw)
    * where `logw` is the fold of `lr` over the doc's bigram buckets —
    * ONE corpus scan, zero shuffle, no join, one codegen'd `dsir_score`
    * kernel call per row (hash each bigram, fold the dense log-ratio
    * LITERAL left-to-right — no per-row bucket array column, and the
    * literal rides the task binary, the span_cut probe discipline).
    * The summation order matches the reference `aggregate` fold
    * exactly (DsirSpec pins bit-equality); cross-engine agreement is
    * the x14 float envelope. A doc with no bigrams (or null text)
    * scores 0, n_bigrams 0.
    *
    * `includeUnigrams = true` scores the paper-faithful unigram ∪
    * bigram space (fit `lr` with the same flag): the same one kernel
    * call per row, logw = unigram fold + bigram fold (each
    * left-to-right — the stated cross-engine order), output
    * (idCol, n_features, logw) with n_features = unigrams + bigrams. */
  def importanceWeights(raw: DataFrame, lr: Array[Double],
      idCol: String = "doc_id",
      includeUnigrams: Boolean = false): DataFrame = {
    require(lr.nonEmpty, "log-ratio table must be non-empty")
    // the chain defines __sc internally — an idCol named after it
    // would collide far from the cause (the p16 carryCols guard,
    // compared lower-cased in Locale.ROOT like Spark's resolution)
    require(idCol.toLowerCase(java.util.Locale.ROOT) != "__sc",
      s"idCol $idCol collides with the scoring chain's own column")
    raw
      .select(col(idCol), call_function("dsir_score",
        coalesce(col("text"), lit("")), typedLit(lr.toSeq),
        lit(includeUnigrams)).as("__sc"))
      .select(col(idCol),
        col("__sc.n_features")
          .as(if (includeUnigrams) "n_features" else "n_bigrams"),
        col("__sc.logw").as("logw"))
  }

  /** The interpreted reference form of [[importanceWeights]] — the
    * tokenize → bucket → `aggregate`-fold lambda chain the kernel is
    * pinned bit-identical to (DsirSpec). Kept callable so the parity
    * pin exercises REAL plans, not a re-derivation. */
  def importanceWeightsExprForm(raw: DataFrame, lr: Array[Double],
      idCol: String = "doc_id"): DataFrame = {
    require(lr.nonEmpty, "log-ratio table must be non-empty")
    // this chain defines __ts/__bg internally — the collision guard
    // the kernel path has for __sc, kept here for ITS columns
    val lcId = idCol.toLowerCase(java.util.Locale.ROOT)
    require(lcId != "__ts" && lcId != "__bg",
      s"idCol $idCol collides with the scoring chain's own columns")
    val lrLit = typedLit(lr.toSeq)
    raw
      .select(col(idCol), expr(TextAnalysis.tokensExpr).as("__ts"))
      .select(col(idCol), expr(bigramBucketsExpr(lr.length)).as("__bg"))
      .select(col(idCol),
        size(col("__bg")).cast("long").as("n_bigrams"),
        aggregate(col("__bg"), lit(0.0),
          (acc, b) => acc + element_at(lrLit, (b + 1).cast("int")))
          .as("logw"))
  }

  /** Gumbel top-k resampling without replacement ∝ exp(weightCol):
    * key `g = logw − ln(−ln(u))` with `u = (h32 + 0.5) / 2³²` from the
    * salted 32-bit md5 of the id (never 0 or 1, so both lns are
    * finite), keep the k largest, tie-broken by id. Physically a
    * TakeOrderedAndProject — per-partition partial top-k, never a
    * global sort. Output: the input columns plus `g`, in (g DESC, id)
    * order. */
  def gumbelResample(scored: DataFrame, k: Int, salt: String = "dsir",
      idCol: String = "doc_id", weightCol: String = "logw"): DataFrame = {
    require(k > 0, "k must be positive")
    require(!scored.columns.exists(
        _.toLowerCase(java.util.Locale.ROOT) == "g"),
      "input already has a column named g (the Gumbel key this adds)")
    val h32 = Sampling.saltedHashMod(salt, col(idCol), 4294967296L)
    scored
      .withColumn("g", col(weightCol) -
        log(-log((h32 + lit(0.5)) / lit(4294967296.0))))
      .orderBy(desc("g"), col(idCol))
      .limit(k)
  }
}

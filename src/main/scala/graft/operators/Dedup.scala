package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deduplication as an engine capability: exact content-hash dedup and
 * MinHash-LSH near-dup pair detection over any (doc_id, text) corpus —
 * the library surface behind catalog entries d1/d3/d6/d9/d11 and the
 * train-vs-eval fuzzy decontamination (p14), the same
 * promote-to-operators move as [[TemporalJoins]] and [[Retrieval]].
 *
 * Scale shapes (unchanged from the gated entries):
 *  - [[exactDuplicates]]: one hash-groupBy — the only shuffle key is
 *    the 16-byte content hash, map-side partials collapse duplicates
 *    inside the scan stage.
 *  - [[shingles]] / [[bandTable]]: per-row codegen'd kernels
 *    ([[graft.functions.Sketches]]) — tokenize+slide+dedupe and the
 *    whole 64-permutation signature with 16 band hashes are each ONE
 *    kernel call, zero shuffle; only the 16-rows-per-doc band table
 *    ever moves.
 *  - [[nearDupPairs]]: banded LSH candidate generation (equi-join on
 *    (band, band_hash)) — never an all-pairs corpus join — then exact
 *    Jaccard verification restricted to candidates, from their
 *    shingle arrays, landed once as a small parquet pair table.
 *    Candidate volume is flat by construction as the corpus grows
 *    (measured 256 → 344 for ×10 rows on the fixtures).
 *
 * All hashing is md5-derived integer arithmetic, bit-identical to the
 * DuckDB oracle SQL in the catalog (the cross-engine gate is the spec
 * of this module's semantics).
 */
object Dedup {

  /** Exact duplicate groups: one row per distinct content hash with
    * the keeper (min doc_id) and the copy count. Input needs
    * (doc_id, `textCol`). */
  def exactDuplicates(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** doc_id → distinct word-3-gram shingle array (`ws`), empty docs
    * dropped — one codegen'd `word_ngrams` kernel call per row
    * (tokenize, slide, join, dedupe in a single pass). The array comes
    * out of a one-element `explode_outer`, so `size(ws) > 0` filters a
    * generator output: a filter over a plain alias would be pushed
    * below the projection with the kernel inlined, evaluating it twice
    * per row (PlanShapeSpec pins it). */
  def shingles(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
        explode_outer(array(expr("word_ngrams(text, 3)"))).as("ws"))
      .filter(size(col("ws")) > 0)

  /** The 16-band MinHash table of a [[shingles]] relation:
    * (doc_id, band, band_hash) — 16 rows per doc, the only relation
    * LSH ever shuffles. `posexplode_outer` + `isNotNull` instead of
    * `posexplode` keeps InferFiltersFromGenerate from inferring a
    * `size(bh) > 0 AND isnotnull(bh)` filter, into which the optimizer
    * would inline the kernel — three evaluations per row instead of
    * one (the [[spanDuplicates]] pattern; PlanShapeSpec pins it). */
  def bandTable(shingled: DataFrame): DataFrame =
    shingled.withColumn("bh", expr("minhash_lsh_bands(ws)"))
      .select(col("doc_id"),
        posexplode_outer(col("bh")).as(Seq("band", "band_hash")))
      .filter(col("band_hash").isNotNull)

  /** MinHash-LSH near-duplicate pairs (doc_a < doc_b, jaccard):
    * banded candidates verified by exact Jaccard over the shingle
    * sets, kept at `round(j, 6) >= threshold` (the d3 arithmetic the
    * oracle reproduces bit-for-bit).
    *
    * Precondition — the [[shingles]] contract: one row per `doc_id`,
    * and `ws` a distinct, non-null, non-empty array. Verification then
    * needs no (doc, shingle) explode: each candidate pair joins its two
    * `ws` arrays once per side and takes
    * `inter = size(array_intersect(ws_a, ws_b))` and `sz = size(ws)`,
    * keeping `inter > 0` (the pairs an explode join on the shingle
    * would find). No (doc, shingle) row is ever shuffled or
    * broadcast: only the ~hundreds of candidate pairs pick up arrays.
    *
    * The verified pair table is LANDED: written once to a
    * [[graft.SessionTemp]] parquet dir and returned as its read (the
    * `Curation.funnel` materialize idiom), so this call runs one Spark
    * write, and its dir stays until [[graft.SessionTemp]] is cleaned
    * (at JVM exit at the latest). Every downstream plan over the
    * pairs — a drop set anti-joined into a funnel whose later stages
    * push predicates into it, a pair report and a keep-list over the
    * same table — scans a few hundred rows instead of re-planning
    * LSH. Inside that one write `shingled` is still read by several
    * plan branches (the band self-join and the `ws` lookup of each
    * side); hand in a materialized or persisted relation when
    * computing it is not free. */
  def nearDupPairs(s: SparkSession, shingled: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    import s.implicits._
    val bands = bandTable(shingled)
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.band_hash" === $"y.band_hash" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b")).distinct()
    def side(tag: String) =
      shingled.select(col("doc_id").as(s"doc_$tag"), col("ws").as(s"ws_$tag"))
    val pairs = cand
      .join(side("a"), "doc_a")
      .join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ws_a"), col("ws_b"))).cast("long").as("inter"),
        size(col("ws_a")).cast("long").as("sz_a"),
        size(col("ws_b")).cast("long").as("sz_b"))
      .filter(col("inter") > 0)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    val tmp = graft.SessionTemp.dir("graft_lsh_pairs_")
    pairs.write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp)
  }

  /** The drop set of a pair table: every doc that appears as the
    * HIGHER id of a near-dup pair (min-id-wins keeper rule). Anti-join
    * the corpus against this to get the keep list. */
  def dropIds(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_b").as("doc_id")).distinct()

  /** D16 — cross-document repeated-SPAN census (the exact-substring
    * dedup primitive of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", public): every `spanTokens`-token
    * window of every document is hashed (md5 of the space-joined
    * slice — an exact span identity, cross-engine stable), and the
    * census reports each span value that occurs more than once:
    * (span_h, n_docs, n_occurrences). Documents shorter than the span
    * width contribute nothing; overlapping windows within one doc
    * count individually (the standard adjacency census).
    *
    * Scale shape: the window fan-out is per-row (one `transform` over
    * the token array, inside the scan), and the only shuffle keys are
    * span hashes with map-side partial aggregation. Unlike shingle
    * LSH, span hashes are near-UNIQUE, so the exchange is
    * token-count-sized at `sampleMod = 1` — the honest cost of exact
    * substring dedup. At 100 TB set `sampleMod = m > 1`: only spans
    * with hash ≡ 0 (mod m) enter the census — a deterministic,
    * unbiased 1/m sample of span space (every OCCURRENCE of a sampled
    * span is kept, so per-span counts stay EXACT; only span coverage
    * is sampled — the Lee-et-al suffix-array census admits the same
    * trade), shrinking the exchange m×. The gate is applied INSIDE
    * the codegen'd kernel ([[graft.functions.Sketches.spanHashes]]:
    * one digest per window over a single shared byte buffer,
    * hex-encoded only for survivors — measured 4.4× faster than the
    * interpreted transform/slice/concat_ws form, 21.7 → 4.9 s at 30×);
    * explode_outer + isNotNull instead of explode keeps
    * InferFiltersFromGenerate from re-evaluating the kernel for its
    * inferred size()>0 filter. `sampleMod = 0` auto-sizes m via
    * [[adaptiveSampleMod]] from the corpus's exact window count (one
    * narrow pre-aggregate — the corpus-scaled default for production
    * callers; the lever was measured at sf100: mod 4→13 halved the
    * census, 11.4 → 6.0 s). `textCol` names the text column, quoted
    * through [[SqlLit.quoteName]]. */
  /** Corpus-scaled sample modulus for [[spanDuplicates]] — the
    * [[Retrieval.adaptiveBuckets]] / VectorLsh.adaptiveBits precedent:
    * hold the post-sample census exchange ~constant as the corpus
    * grows by sampling 1/m of span space with m = ceil(spans /
    * target). `nSpans` ≈ corpus token count (one window per token
    * position); the default target keeps the exchange at ~50M span
    * rows regardless of corpus size. */
  def adaptiveSampleMod(nSpans: Long,
      targetCensusSpans: Long = 50000000L): Long =
    math.max(1L, (nSpans + targetCensusSpans - 1) / targetCensusSpans)

  /** Resolve the census sample modulus: an explicit `sampleMod ≥ 1` is
    * used as-is; `0` auto-sizes via [[adaptiveSampleMod]] from one
    * narrow aggregate over the same input the census scans (each doc
    * contributes max(nTok − n + 1, 0) windows — exact, not an
    * estimate; the aggregate is a scan-stage partial reduce, no
    * shuffle beyond a 1-row merge). */
  private def resolveSampleMod(corpus: DataFrame, spanTokens: Int,
      sampleMod: Long, textCol: String, autoTargetSpans: Long): Long =
    if (sampleMod > 0L) sampleMod
    else {
      val qt = SqlLit.quoteName(textCol)
      val nSpans = corpus.agg(
        coalesce(sum(greatest(
          size(expr(s"filter(split($qt, ' '), t -> t != '')"))
            - lit(spanTokens - 1), lit(0)).cast("long")), lit(0L)))
        .head().getLong(0)
      adaptiveSampleMod(nSpans, autoTargetSpans)
    }

  def spanDuplicates(corpus: DataFrame, spanTokens: Int,
      sampleMod: Long = 1L, minCount: Long = 2L,
      idCol: String = "doc_id", textCol: String = "text",
      autoTargetSpans: Long = 50000000L): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be at least 2")
    require(sampleMod >= 0, "sampleMod must be >= 1, or 0 for auto")
    val qt = SqlLit.quoteName(textCol)
    val mod = resolveSampleMod(corpus, spanTokens, sampleMod, textCol,
      autoTargetSpans)
    corpus
      .select(col(idCol), explode_outer(
        expr(s"span_hashes($qt, $spanTokens, ${mod}L)")).as("span_h"))
      .filter(col("span_h").isNotNull)
      .groupBy("span_h")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
  }

  /** D17 (build side) — the [[spanDuplicates]] census EXTENDED with
    * each span's FIRST occurrence: (span_h, n_docs, n_occurrences,
    * first_doc, first_pos), where first = min over (doc, window
    * position) — the keeper the action pass preserves. Same scale
    * shape as the exact census — one scan, span-hash-keyed exchange
    * with map-side partials (min(struct) folds like any other
    * partial).
    *
    * `sampleMod` is the same deterministic 1/m coverage-sampling lever
    * as [[spanDuplicates]] (m > 1: only spans with digest ≡ 0 mod m
    * enter the census — per-span counts AND first positions stay
    * EXACT, span coverage is sampled; 0 auto-sizes via
    * [[adaptiveSampleMod]]). The gate runs inside the
    * POSITION-CARRYING kernel ([[graft.functions.Sketches
    * .spanHashesPos]]): plain `span_hashes` drops unsampled windows
    * from its output array, so a posexplode index over it stops being
    * a token position once m > 1 — each surviving window is emitted as
    * a (pos, hash) struct instead, which is what lets the ACTION pass
    * ([[spanDedupCorpus]]) ride the sampling trade the diagnostic
    * census already had: the rewrite probes every corpus window, but
    * only sampled flagged spans exist to match, so a sampled action
    * pass cuts exactly the sampled duplicates (the d17c contract). */
  def spanCensusWithFirst(corpus: DataFrame, spanTokens: Int,
      minCount: Long = 2L, idCol: String = "doc_id",
      textCol: String = "text", sampleMod: Long = 1L,
      autoTargetSpans: Long = 50000000L): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be at least 2")
    require(sampleMod >= 0, "sampleMod must be >= 1, or 0 for auto")
    val qt = SqlLit.quoteName(textCol)
    val mod = resolveSampleMod(corpus, spanTokens, sampleMod, textCol,
      autoTargetSpans)
    corpus
      .select(col(idCol), explode_outer(
        expr(s"span_hashes_pos($qt, $spanTokens, ${mod}L)")).as("w"))
      .filter(col("w").isNotNull)
      .select(col(idCol), col("w").getField("pos").as("pos"),
        col("w").getField("h").as("span_h"))
      .groupBy("span_h")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(struct(col(idCol), col("pos"))).as("first"))
      .filter(col("n_occurrences") >= minCount)
      .select(col("span_h"), col("n_docs"), col("n_occurrences"),
        col("first").getField(idCol).as("first_doc"),
        col("first").getField("pos").as("first_pos"))
  }

  /** D17 — the ACTION pass of exact-substring dedup (Lee et al. 2022):
    * consume a [[spanCensusWithFirst]] census and emit the
    * DEDUPLICATED corpus — every occurrence of a flagged span after
    * its first is cut from the text (the covered tokens removed
    * in-row), the Lee-et-al "drop all but the first occurrence"
    * policy rather than the blunter drop-whole-documents form: it
    * preserves the unique remainder of documents that merely CONTAIN
    * boilerplate spans, which doc-level dropping destroys (the same
    * reason d15 cuts passages instead of documents). Overlap
    * semantics: a token is removed iff ANY flagged non-keeper window
    * covers it — keeper windows save only themselves (see
    * [[graft.functions.Sketches.spanCutTokens]]).
    *
    * TWO physical modes, identical output (SpanDedupSpec fuzz-pins
    * them equal), gated on the flagged-census row count (metadata-cheap
    * — the census is materialized to parquet first):
    *
    * LITERAL mode (census ≤ `maxLiteralFlagged` rows): the flagged
    * hashes ship as ONE sorted BINARY LITERAL of packed 16-byte raw
    * digests (bounded by census size — spans occurring ≥ minCount are
    * ≤ total_spans / minCount and in practice orders of magnitude
    * fewer). A literal rides the task binary — broadcast once per
    * stage, referenced once per task from generated code — where the
    * earlier cross-join form attached the array as a COLUMN and the
    * join's UnsafeRow materialization then memcpy'd the whole set per
    * corpus row (measured: a 155k-hash set turned the sf10 rewrite
    * into 69 s of Platform.copyMemory — corpus × |flagged| bytes; the
    * literal form is 6 s). The keeper (first-occurrence) entries join
    * on the doc id through [[Broadcasts.sizeGated]] (`knownRows` = the
    * flagged count: the payload is one struct per flagged span however
    * few docs hold them, and the count is already known — zero extra
    * jobs). The output pass is ONE corpus
    * scan with a codegen'd in-row rewrite — zero corpus shuffle. The
    * flagged set is collected as MANY driver rows (one per hash,
    * packed driver-side) — a single collect_list row would funnel the
    * whole set through one executor buffer and trip
    * spark.driver.maxResultSize (default 1 GB ≈ 33M hashes) well
    * before the literal ceiling does.
    *
    * BLOOM mode (census > `maxLiteralFlagged` rows): the census never
    * leaves the cluster. A Bloom filter over the flagged hashes'
    * 60-bit keys pre-filters candidate windows INSIDE the corpus scan
    * (the p4/[[Decontamination.evalBloom]] pattern); the survivors —
    * true flagged occurrences plus an fpp-sized trickle — resolve
    * EXACTLY against the census by a shuffle join on span_h (false
    * positives drop out and keeper occurrences are excluded by
    * (first_doc, first_pos), so correctness is INDEPENDENT of fpp);
    * the confirmed cut positions regroup per doc and join back to the
    * corpus (size-gated broadcast; a doc-id shuffle join above the
    * gate — the honest cost once per-doc cut lists outgrow one node)
    * for a positional rewrite kernel that does no hashing at all
    * ([[graft.functions.Sketches.cutByPositions]]). Costs one extra
    * corpus scan (the candidate pass) vs literal mode. The FILTER
    * itself has a ceiling too: Spark's `stat.bloomFilter` merges
    * full-size partials on the driver and the serialized filter must
    * fit one Java array, which at the default fpp caps the prefilter
    * at a few hundred million keys (`maxBloomKeys`) — two orders past
    * the literal ceiling, NOT unbounded. Above THAT the prefilter is
    * simply skipped: every window flows into the same exact span_h
    * join (identical output — the Bloom probe is an optimization, not
    * a semantic step), whose corpus-windows-sized shuffle is the
    * honest cost of exact substring dedup at a census too large for
    * any single structure; at that scale the d17c sampling lever is
    * the production answer.
    *
    * PRECONDITION (all modes): `idCol` uniquely identifies corpus
    * rows — the census keys occurrences by (id, window position), so
    * under duplicate ids the "first occurrence" is ill-defined and
    * bloom mode (which resolves cuts by (id, pos)) would cut every
    * row sharing the id where literal mode re-verifies hashes per row.
    *
    * Output (idCol, n_tokens, n_kept, kept_text), one row per input
    * document (short/empty docs pass through unchanged). */
  def spanDedupCorpus(corpus: DataFrame, census: DataFrame,
      spanTokens: Int, idCol: String = "doc_id",
      textCol: String = "text",
      maxLiteralFlagged: Long = defaultMaxLiteralFlagged,
      bloomFpp: Double = 0.001,
      maxBloomKeys: Long = defaultMaxBloomKeys): DataFrame = {
    require(spanTokens >= 2, "spanTokens must be at least 2")
    // the census feeds multiple consumers — materialize it once so an
    // unmaterialized census argument isn't recomputed corpus-wide per
    // branch (the x14/p14 materialize-before-reuse pattern), and so
    // the mode gate's count() reads footer metadata
    val s = corpus.sparkSession
    val tmp = graft.SessionTemp.dir("graft_span_census_")
    census.select(col("span_h"), col("first_doc"),
        col("first_pos").cast("int").as("first_pos"))
      .write.mode("overwrite").parquet(tmp)
    val flagged = s.read.parquet(tmp)
    val flaggedCount = flagged.count()
    if (flaggedCount <= maxLiteralFlagged)
      spanDedupLiteral(corpus, flagged, flaggedCount, spanTokens, idCol,
        textCol)
    else
      spanDedupBloom(corpus, flagged, flaggedCount, spanTokens, idCol,
        textCol, bloomFpp, maxBloomKeys)
  }

  /** Literal-mode ceiling for [[spanDedupCorpus]]: 4M hashes is a
    * 64 MB packed binary literal (task-binary broadcast) and a few
    * hundred MB of transient driver heap during the collect — past it,
    * funneling the census through one node stops being the cheap move
    * and BLOOM mode takes over. */
  val defaultMaxLiteralFlagged: Long = 4000000L

  /** Bloom-prefilter ceiling for [[spanDedupCorpus]]: Spark's
    * `stat.bloomFilter` treeAggregate ships FULL-SIZE partial filters
    * to the driver and the serialized filter must fit one Java array
    * (2 GB), so at fpp 0.001 (~14.4 bits/key) the build is safe to a
    * few hundred million keys, not billions. Above this the prefilter
    * is skipped and every window flows into the exact span_h join —
    * identical output, corpus-windows-sized shuffle. */
  val defaultMaxBloomKeys: Long = 200000000L

  /** DuckDB-parity 60-bit key of a hex md5 column —
    * `('0x'||substr(h,1,15))::BIGINT`; the Bloom key of
    * [[spanDedupBloom]] (key collisions only ever ADD Bloom false
    * positives, which the exact span_h join removes). */
  private[graft] def spanKey(h: org.apache.spark.sql.Column) =
    conv(substring(h, 1, 15), 16, 10).cast("long")

  /** Shared output projection over the rewrite kernels' (kept,
    * n_tokens) struct. The kernel tokenizes anyway, so the projection
    * never re-tokenizes the text; CollapseProject leaves the non-cheap
    * kernel in its own Project, evaluated once per row for all three
    * consumers.
    *
    * INVARIANT (load-bearing downstream): this emits exactly ONE output
    * row per input doc — docs are never dropped, only their text cut
    * (a fully-cut doc keeps `n_kept = 0`, `kept_text = ""`).
    * [[graft.streaming.IncrementalSpanCensus.emitNewDocs]]'s
    * second-delta-at-boundary guard compares a committed partition's
    * (min, max, count) of doc_id against the incoming delta's, which is
    * exact ONLY under this one-row-per-doc rule; a change that drops
    * empty docs would make an identical-delta crash re-run look like
    * "two different deltas" and break the documented replay healing. */
  private def emitCut(withCut: DataFrame, idCol: String): DataFrame =
    withCut.select(col(idCol),
      col("__cut").getField("n_tokens").cast("long").as("n_tokens"),
      size(col("__cut").getField("kept")).cast("long").as("n_kept"),
      array_join(col("__cut").getField("kept"), " ").as("kept_text"))

  private def spanDedupLiteral(corpus: DataFrame, flagged: DataFrame,
      flaggedCount: Long, spanTokens: Int, idCol: String,
      textCol: String): DataFrame = {
    // collect as MANY rows (never one collect_list row — see the mode
    // Scaladoc), sort driver-side: hex digits are ASCII, so String
    // order == UTF8String byte order == raw-digest order — a
    // deterministic blob for a given census (stable literal identity;
    // the kernel probes it through a cached hash index, so sortedness
    // is no longer load-bearing for the probe). A binary literal also
    // renders opaquely in plan strings where an array-of-strings
    // literal would print the whole census into every explain
    val rows = flagged.select("span_h").collect()
    val flaggedHex = new Array[String](rows.length)
    var i = 0
    while (i < rows.length) { flaggedHex(i) = rows(i).getString(0); i += 1 }
    java.util.Arrays.sort(flaggedHex,
      java.util.Comparator.naturalOrder[String]())
    val packed = new Array[Byte](flaggedHex.length * 16)
    i = 0
    while (i < flaggedHex.length) {
      val h = flaggedHex(i)
      require(h.length == 32, s"span hash is not 32 hex chars: $h")
      var q = 0
      while (q < 16) {
        packed(i * 16 + q) = ((Character.digit(h.charAt(2 * q), 16) << 4) |
          Character.digit(h.charAt(2 * q + 1), 16)).toByte
        q += 1
      }
      i += 1
    }
    val keepers = flagged
      .groupBy(col("first_doc").as(idCol))
      .agg(collect_list(struct(col("first_pos").as("pos"),
        col("span_h").as("h"))).as("__kp"))
    // the gate bound is the flagged ENTRY count, not the keeper-doc
    // count: the broadcast payload is one (pos, hash) struct per
    // flagged span distributed across the keeper rows, so its bytes
    // scale with flaggedCount regardless of how few docs hold them —
    // a doc-count gate would wave a multi-GB broadcast through
    // whenever spans concentrate in few docs. flaggedCount is already
    // known (metadata count), so the gate costs zero extra jobs;
    // above the ceiling this is a shuffle join on the doc id.
    val gatedKeepers = Broadcasts.sizeGated(keepers,
      knownRows = flaggedCount)
    emitCut(corpus
      .join(gatedKeepers, Seq(idCol), "left")
      .withColumn("__cut", call_function("span_cut",
        col(textCol), lit(spanTokens), lit(packed),
        coalesce(col("__kp"),
          expr("cast(array() as array<struct<pos:int,h:string>>)")))),
      idCol)
  }

  private def spanDedupBloom(corpus: DataFrame, flagged: DataFrame,
      flaggedCount: Long, spanTokens: Int, idCol: String,
      textCol: String, bloomFpp: Double, maxBloomKeys: Long): DataFrame = {
    val s = corpus.sparkSession
    val qt = SqlLit.quoteName(textCol)
    // the prefilter is an OPTIMIZATION, not a semantic step: above the
    // filter build's own ceiling (driver-merged partials + one Java
    // array — see defaultMaxBloomKeys) it is skipped and every window
    // flows into the same exact join, identical output
    val bloomBytes: Option[Array[Byte]] =
      if (flaggedCount > maxBloomKeys) None
      else {
        val bf = flagged.stat.bloomFilter(spanKey(col("span_h")),
          math.max(flaggedCount, 1L), bloomFpp)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        Some(bos.toByteArray)
      }
    // candidate pass: every window's (pos, hash), gated by the Bloom
    // probe inside the scan stage — survivors are flagged occurrences
    // plus an fpp-sized trickle, so the only corpus-sized exchange is
    // the candidate shuffle of narrow (id, pos, span_h) rows.
    // posexplode_outer + isNotNull (not posexplode): the inferred
    // size()>0 filter would re-evaluate the kernel below the exchange
    val windows = corpus
      .select(col(idCol), posexplode_outer(
        expr(s"span_hashes($qt, $spanTokens, 1L)")).as(Seq("pos", "span_h")))
      .filter(col("span_h").isNotNull)
    val cand = bloomBytes.fold(windows)(bytes =>
      windows.filter(call_function("bloom_contains", lit(bytes),
        spanKey(col("span_h")))))
    // exact resolution: false positives drop out of the inner join;
    // the recorded first occurrence (the keeper) is excluded from cuts
    val cuts = cand.join(flagged, "span_h")
      .filter(!(col(idCol) === col("first_doc") &&
        col("pos") === col("first_pos")))
      .groupBy(idCol)
      .agg(collect_list(col("pos")).as("__cuts"))
    // materialize the per-doc cut lists (bounded by cut occurrences,
    // not the corpus) so the gate's count is metadata-cheap
    val cutsTmp = graft.SessionTemp.dir("graft_span_cuts_")
    cuts.write.mode("overwrite").parquet(cutsTmp)
    val cutsM = s.read.parquet(cutsTmp)
    // the broadcast budget has TWO axes and the gate bounds both: doc
    // ROWS (each costs full row overhead, ~100 B — the default
    // ceiling's model; the common duplicated-once corpus has
    // one-entry cut lists, so rows ≈ occurrences and a pure
    // occurrence ceiling would admit ~10× the modeled bytes) and cut
    // OCCURRENCES at 12× (each is one unsafe-array int ~8 B, so
    // occurrences concentrated in few docs — where a row gate alone
    // would wave multi-GB position arrays through — spend the same
    // byte budget 12 entries per row-equivalent). Row count is
    // metadata-cheap on the materialized parquet; the occurrence
    // count is one narrow aggregate over the occurrence-bounded
    // (never corpus-sized) relation. Encoded as one knownRows bound:
    // max(rows, ceil(occurrences / 12)) against the default ceiling.
    val cutDocRows = cutsM.count()
    val cutOccurrences = cutsM
      .agg(coalesce(sum(size(col("__cuts"))), lit(0L)).cast("long"))
      .head().getLong(0)
    val cutLists = Broadcasts.sizeGated(cutsM,
      knownRows = math.max(1L,
        math.max(cutDocRows, (cutOccurrences + 11L) / 12L)))
    emitCut(corpus
      .join(cutLists, Seq(idCol), "left")
      .withColumn("__cut", call_function("span_cut_positions",
        col(textCol), lit(spanTokens),
        coalesce(col("__cuts"), expr("cast(array() as array<int>)")))),
      idCol)
  }
}

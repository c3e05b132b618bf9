package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Iterated BPE merge training as an engine capability — the tokenizer-
 * training shape at 100 TB: the CORPUS is scanned exactly once (to
 * build the token→tf vocabulary aggregate); every merge round after
 * that is a VOCABULARY-sized job (pair counting + a 1-row best-pair
 * reduce + a per-row merge rewrite), so n rounds cost n·|vocab|, never
 * n·corpus. x9's single pair-count round is the degenerate n=1 form;
 * this operator runs the loop and returns the merge TABLE — the actual
 * artifact a tokenizer trainer produces (Sennrich et al. 2016, public).
 *
 * Cross-engine exactness: each token's current segmentation is encoded
 * as a separator-wrapped string — every symbol `s` contributes the
 * unit `␟s␟` (U+001F) and the segmentation is the units' concatenation
 * — so APPLYING a merge (a, b) is one standard `replace(seg,
 * "␟a␟␟b␟", "␟ab␟")`: string replace is non-overlapping
 * left-to-right in Spark and DuckDB alike, which IS greedy BPE pairing
 * ("aaa" + merge (a,a) → [aa, a], not [aaa]). Pair counts are exact
 * integer tf sums; the best pair breaks ties on (count DESC, left ASC,
 * right ASC) — deterministic on both engines. Tokens containing the
 * separator itself are excluded up front (they would corrupt the
 * encoding; U+001F appears in no real tokenizer corpus).
 *
 * Scale shape per round: pair fan-out is symbols-per-token ≤ token
 * length, all inside the vocab scan; the groupBy(left, right) exchange
 * is pair-vocabulary-sized after map-side partial aggregation; the
 * best-pair pick is a TakeOrderedAndProject (partial top-1, no global
 * sort); the merge rewrite is one codegen'd `replace` per vocab row.
 * The segmentation table is materialized once up front (the corpus
 * scan) and re-materialized every [[rematerializeEvery]] rounds so the
 * chained-replace lineage never grows unbounded.
 */
object Bpe {

  /** U+001F unit separator — the symbol-boundary marker. */
  val Sep = "\u001f"

  /** U+001E record separator — the TOKEN-boundary marker of the
    * corpus-side doc encoding ([[tokenizeCorpus]]). A merge target is
    * always two back-to-back units `<S>a<S><S>b<S>` (S = U+001F); the
    * boundary region between two tokens' segmentations is
    * `…a<S>` + `<R>` + `<S>b…`, whose single-S-then-R shape can never
    * match a target — so merges provably never cross token boundaries,
    * even for tokens that contain U+001E themselves (their U+001E is
    * wrapped as a unit like any symbol, double-S-adjacent). */
  val RecordSep = "\u001e"

  /** Re-checkpoint the segmentation table after this many chained
    * merge rewrites (bounds expression depth / plan size). */
  val rematerializeEvery = 8

  private def unit(sym: String): String = Sep + sym + Sep

  /** The initial segmentation of a token: every character wrapped as
    * its own `␟c␟` unit. */
  private def charSeg(tokenCol: Column): Column =
    concat_ws("", transform(
      filter(split(tokenCol, ""), c => c =!= ""),
      c => concat(lit(Sep), c, lit(Sep))))

  /** Current symbol array of a segmentation string. */
  private def symbols(segCol: Column): Column =
    split(segCol.substr(lit(2), length(segCol) - 2), Sep + Sep)

  /** Encode + materialize the segmentation table of a vocabulary —
    * the one corpus-side pass both trainers share. */
  private def initSeg(vocab: DataFrame, tokenCol: String,
      tfCol: String): DataFrame = {
    val spark = vocab.sparkSession
    val seg0 = vocab
      .filter(col(tokenCol).isNotNull && length(col(tokenCol)) >= 1 &&
        !col(tokenCol).contains(Sep))
      .select(col(tfCol).cast("long").as("tf"),
        charSeg(col(tokenCol)).as("seg"))
    val tmp = graft.SessionTemp.dir("bpe_seg_")
    seg0.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
  }

  /** Exact tf-weighted adjacent-pair counts of a segmentation table,
    * ranked (cnt DESC, left ASC, right ASC). */
  private def rankedPairs(seg: DataFrame): DataFrame =
    seg
      .select(col("tf"), symbols(col("seg")).as("sym"))
      .filter(size(col("sym")) >= 2) // sequence(1, 0) runs backwards
      .select(col("tf"), explode(transform(
        sequence(lit(1), size(col("sym")) - 1),
        i => struct(element_at(col("sym"), i).as("left"),
          element_at(col("sym"), i + 1).as("right")))).as("pr"))
      .groupBy(col("pr.left").as("left"), col("pr.right").as("right"))
      .agg(sum("tf").as("cnt"))
      .orderBy(desc("cnt"), asc("left"), asc("right"))

  /** Train `nMerges` BPE merge rounds over a (token, tf) vocabulary
    * aggregate. Returns the merge table: one row per round —
    * (round, left, right, merged, n_occurrences), ordered by round —
    * where (left, right) was that round's most frequent adjacent
    * symbol pair (ties to the lexicographically first pair) and
    * n_occurrences its exact tf-weighted adjacency count at selection
    * time. Stops early (fewer rows) if no pair remains. One Spark job
    * per merge — the right shape for gated merge lists; for real
    * tokenizer budgets (30k+ merges) use [[trainMergesBatched]],
    * which selects provably order-equivalent BATCHES per job. */
  def trainMerges(vocab: DataFrame, nMerges: Int,
      tokenCol: String = "token", tfCol: String = "tf"): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = vocab.sparkSession
    import spark.implicits._
    var seg = initSeg(vocab, tokenCol, tfCol)

    val merges = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, String, Long)]
    var exhausted = false
    for (r <- 1 to nMerges if !exhausted) {
      val best = rankedPairs(seg).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, ri, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, ri, l + ri, c))
        // Column-API replace: merged symbols come from DATA — no SQL
        // text is assembled, hostile tokens can't reach the parser
        seg = seg.withColumn("seg", replace(col("seg"),
          lit(unit(l) + unit(ri)), lit(unit(l + ri))))
        if (r % rematerializeEvery == 0 && r < nMerges) {
          val tmp = graft.SessionTemp.dir("bpe_seg_")
          seg.write.mode("overwrite").parquet(tmp)
          seg = spark.read.parquet(tmp)
        }
      }
    }
    merges.toSeq.toDF("round", "left", "right", "merged", "n_occurrences")
  }

  /** [[trainMerges]] with BOUNDED job count: each Spark round collects
    * the top-C pair counts once and accepts a BATCH of up to
    * `batchSize` merges from it, chosen so the batch is provably
    * ORDER-EQUIVALENT to running [[trainMerges]] merge by merge
    * (BpeSpec pins equality on random vocabularies) — the lever that
    * makes a 30k-merge tokenizer build cost ~30k/batchSize driver
    * round-trips instead of 30k.
    *
    * Batch rule (each clause is load-bearing for equivalence):
    *  1. Scan the ranked list (cnt DESC, left, right) and accept
    *     candidates until one is STOPPER-CLASS for an accepted merge
    *     m = (a, b). The predicate is TIGHT (r20 — it was coarse
    *     any-shared-symbol before, which stopped provably-exact
    *     candidates): applying m rewrites every `y a b z` to
    *     `y (ab) z`, so the only DESTROYED pair types are (·, a)
    *     (right symbol = a) and (b, ·) (left symbol = b); original
    *     types never increase; and every CREATED type involves the
    *     new symbol ab — which cannot alias an existing symbol ("ab"
    *     existing would mean (a, b) already merged, after which its
    *     adjacency count is 0 and can never be re-created, since
    *     creations always involve their own new symbol — so (a, b)
    *     could not be a candidate now) — with count bounded by a
    *     stopper-class pre-image's: (y, ab) ≤ old (y, a),
    *     (ab, z) ≤ old (b, z), (ab, ab) ≤ old (b, a). A
    *     stopper-class pair scanned ABOVE a later accepted candidate
    *     ends the batch first; one below the scan (or uncollected) is
    *     folded by rule 3's strict trim. A candidate sharing merely
    *     a's LEFT symbol or b's RIGHT symbol is therefore EXACT at
    *     its sequential turn and accepted — the acceptance lift
    *     measured in `bpe_scale` (same-left/same-right clusters
    *     dominate real ranked pair lists).
    *  2. STOP at the first stopper-class candidate (never skip past it):
    *     sequentially it may still outrank later candidates after its
    *     count decreases, so nothing below it may enter this batch.
    *     A SELF-merge (left == right) also ends the batch after being
    *     accepted: the pairs it creates — (mm, m) from odd runs,
    *     (mm, mm) — are bounded by the self-merge's OWN count (their
    *     pre-image adjacency is the accepted pair itself, which no
    *     later-candidate bound folds), and every later candidate's
    *     count is ≤ it by sort order, so none can be proven safe.
    *  3. Trim trailing accepted candidates whose count does not
    *     STRICTLY exceed the first UNACCEPTED collected candidate's
    *     count (which, by sort order, bounds every unaccepted
    *     collected pair — interacting or not, scanned or cut off at
    *     `batchSize`) and the uncollected-tail bound (the C-th
    *     collected count): a created/decreased pair tying an accepted
    *     count could win the sequential lexicographic tie-break. The
    *     first candidate is always kept — it is literally the
    *     sequential argmax.
    * Worst case (every top pair chained) the batch degrades to 1 and
    * the trainer IS [[trainMerges]]; measured rounds at nMerges = 256
    * in BENCH_sf1 `bpe_scale`. */
  def trainMergesBatched(vocab: DataFrame, nMerges: Int,
      batchSize: Int = 16, tokenCol: String = "token",
      tfCol: String = "tf",
      roundsOut: Option[java.util.concurrent.atomic.AtomicLong] = None): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    require(batchSize > 0, "batchSize must be positive")
    val spark = vocab.sparkSession
    import spark.implicits._
    var seg = initSeg(vocab, tokenCol, tfCol)

    val merges = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, String, Long)]
    var exhausted = false
    var sinceMaterialize = 0
    while (merges.size < nMerges && !exhausted) {
      // one driver round-trip per iteration — the batch ACCEPTANCE
      // ratio (merges / rounds) is the wing's viability number at a
      // production merge budget, so callers can count rounds
      roundsOut.foreach(_.incrementAndGet())
      val c = math.max(4 * batchSize, 64)
      val top = rankedPairs(seg).limit(c).collect()
      if (top.isEmpty) exhausted = true
      else {
        val tailBound = if (top.length == c) top.last.getLong(2) else 0L
        val maxAccept = math.min(batchSize, nMerges - merges.size)
        val accepted = scala.collection.mutable.ListBuffer
          .empty[(String, String, Long)]
        var stopped = false
        var i = 0
        while (!stopped && accepted.size < maxAccept && i < top.length) {
          val (l, r, cnt) =
            (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          // the TIGHT stopper predicate (rule 1): destroyed-class
          // ((·, a) / (b, ·)) or merged-symbol involvement (defensive
          // — see the aliasing argument in the Scaladoc); same-left /
          // same-right sharing is exact and accepted
          val stopperClass = accepted.exists { case (la, ra, _) =>
            r == la || l == ra || l == la + ra || r == la + ra
          }
          if (stopperClass) stopped = true
          else {
            accepted += ((l, r, cnt))
            i += 1
            // a SELF-merge (l == r) ends the batch: its created pairs
            // ((aa,a) from odd runs, (aa,aa)) are bounded by the
            // self-merge's OWN count — the pre-image adjacency is the
            // accepted pair itself, which no stopBound folds — and
            // every later candidate has count ≤ it (sorted), so none
            // can be proven safe against them
            if (l == r) stopped = true
          }
        }
        // the dominance bound folds the FIRST unaccepted collected
        // candidate (the ranked list is sorted, so that count bounds
        // every unaccepted collected pair — interacting ones included,
        // whether the scan saw them or stopped at maxAccept first)
        // plus the uncollected tail: an interacting pair tying an
        // accepted count could steal the sequential lexicographic
        // tie-break through a pair it creates, so the trim must be
        // strict against ALL of them, not just the stop candidate
        val stopBound =
          if (i < top.length) math.max(tailBound, top(i).getLong(2))
          else tailBound
        // strict-dominance trim (rule 3); the head is always kept
        val batch = accepted.headOption.toList :::
          accepted.toList.drop(1).takeWhile(_._3 > stopBound)
        for ((l, r, cnt) <- batch) {
          merges += ((merges.size + 1L, l, r, l + r, cnt))
          seg = seg.withColumn("seg", replace(col("seg"),
            lit(unit(l) + unit(r)), lit(unit(l + r))))
          sinceMaterialize += 1
        }
        if (sinceMaterialize >= rematerializeEvery && merges.size < nMerges) {
          val tmp = graft.SessionTemp.dir("bpe_seg_")
          seg.write.mode("overwrite").parquet(tmp)
          seg = spark.read.parquet(tmp)
          sinceMaterialize = 0
        }
      }
    }
    merges.toSeq.toDF("round", "left", "right", "merged", "n_occurrences")
  }

  /** Apply an already-trained merge list to a (token, tf) vocabulary
    * and return each token's final segmentation —
    * (token, tf, symbols: array<string>). The merge ORDER is the
    * trained order (BPE applies merges by rank, not greedily by
    * frequency at apply time). */
  def applyMerges(vocab: DataFrame, merges: Seq[(String, String)],
      tokenCol: String = "token", tfCol: String = "tf"): DataFrame = {
    val spark = vocab.sparkSession
    val base = vocab
      .filter(col(tokenCol).isNotNull && length(col(tokenCol)) >= 1 &&
        !col(tokenCol).contains(Sep))
    // the replace chain is applied in CHUNKS with the segmentation
    // re-materialized between them (the tokenizeCorpus pattern): a
    // single fold of every merge builds a |merges|-deep Column tree,
    // and past ~1k nesting the recursive node-to-expression conversion
    // overflows the JVM stack — found driving the 1,024-merge
    // production-budget point. Merge lists within one chunk (the gated
    // entries' 8) keep the original single-select plan.
    val chunks = merges.grouped(rematerializeEvery).toSeq
    if (chunks.length <= 1) {
      val segCol = merges.foldLeft(charSeg(col(tokenCol))) {
        case (acc, (l, r)) =>
          replace(acc, lit(unit(l) + unit(r)), lit(unit(l + r)))
      }
      return base.select(col(tokenCol), col(tfCol),
        symbols(segCol).as("symbols"))
    }
    var cur = base.select(col(tokenCol), col(tfCol),
      charSeg(col(tokenCol)).as("__seg"))
    for ((chunk, ci) <- chunks.zipWithIndex) {
      cur = cur.withColumn("__seg", chunk.foldLeft(col("__seg")) {
        case (acc, (l, r)) =>
          replace(acc, lit(unit(l) + unit(r)), lit(unit(l + r)))
      })
      if (ci < chunks.length - 1) {
        val tmp = graft.SessionTemp.dir("bpe_applyseg_")
        cur.write.mode("overwrite").parquet(tmp)
        cur = spark.read.parquet(tmp)
      }
    }
    cur.select(col(tokenCol), col(tfCol), symbols(col("__seg")).as("symbols"))
  }

  /** The KERNEL form of [[applyMerges]] for production merge budgets:
    * one codegen'd `bpe_segment(token, merges)` call per vocabulary
    * row, with the rank-ordered merge table riding the task binary as
    * an array LITERAL (the bloom/span probe discipline) and applied
    * per token in a tight JVM loop — no |merges|-deep expression tree,
    * no intermediate materializations, no per-merge full-string
    * regex/replace machinery. Semantics are [[applyMerges]]'s exactly
    * (rank-ordered, left-to-right non-overlapping per merge,
    * code-point initial segmentation — BpeSpec pins chain ≡ kernel on
    * fuzzed vocabularies including astral-plane tokens). */
  def applyMergesKernel(vocab: DataFrame, merges: Seq[(String, String)],
      tokenCol: String = "token", tfCol: String = "tf"): DataFrame = {
    // BpeSegment.table splits each entry at the FIRST U+001F — a
    // caller-supplied symbol containing the separator would silently
    // mis-split into a wrong merge pair. TRAINED merges are safe (the
    // trainers filter Sep-containing tokens from the vocabulary); this
    // public API must hold the same line rather than corrupt quietly.
    merges.foreach { case (l, r) =>
      require(!l.contains(Sep) && !r.contains(Sep),
        s"merge symbols must not contain U+001F (got ${(l, r)})")
    }
    val enc = merges.map { case (l, r) => l + Sep + r }
    vocab
      .filter(col(tokenCol).isNotNull && length(col(tokenCol)) >= 1 &&
        !col(tokenCol).contains(Sep))
      .select(col(tokenCol), col(tfCol),
        call_function("bpe_segment", col(tokenCol), typedLit(enc))
          .as("symbols"))
  }

  /** X9D — apply a trained merge list to CORPUS TEXT and report each
    * document's BPE token count: (idCol, keepCols…, n_tokens,
    * n_bpe_tokens), where n_tokens is the whitespace token count and
    * n_bpe_tokens the number of BPE symbols after applying `merges`
    * in rank order — the number packing (p6) and token-budget
    * selection (p13) should consume instead of whitespace counts.
    *
    * The whole document is encoded at once: each whitespace token's
    * char segmentation, joined by [[RecordSep]] (merges provably never
    * cross the boundary — see its Scaladoc), then ONE codegen'd
    * `replace` per merge over the doc string, rematerialized every
    * [[rematerializeEvery]] merges like the trainer. Zero shuffle —
    * one corpus scan with in-row rewrites. Tokens containing [[Sep]]
    * are excluded from the BPE count (the trainer excludes them from
    * the vocabulary too). Per-doc cost is O(chars · merges): the right
    * shape for the catalog's gated merge lists; for real 30k-merge
    * tokenizer budgets use [[tokenCountsViaVocab]], which pays the
    * merge chain once per vocabulary TYPE instead of once per
    * occurrence (spec-pinned equal). */
  def tokenizeCorpus(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      keepCols: Seq[String] = Nil): DataFrame = {
    val spark = docs.sparkSession
    val ts = filter(split(col(textCol), " "), t => t =!= "")
    val enc = filter(ts, t => !t.contains(Sep))
    val seg0 = concat_ws(RecordSep, transform(enc, t => charSeg(t)))
    val keep = keepCols.map(col)
    var cur = docs.select(
      (col(idCol) +: keep) ++ Seq(size(ts).cast("long").as("n_tokens"),
        seg0.as("__seg")): _*)
    val chunks = merges.grouped(rematerializeEvery).toSeq
    for ((chunk, ci) <- chunks.zipWithIndex) {
      cur = cur.withColumn("__seg", chunk.foldLeft(col("__seg")) {
        case (acc, (l, r)) =>
          replace(acc, lit(unit(l) + unit(r)), lit(unit(l + r)))
      })
      if (ci < chunks.length - 1) {
        val tmp = graft.SessionTemp.dir("bpe_docseg_")
        cur.write.mode("overwrite").parquet(tmp)
        cur = spark.read.parquet(tmp)
      }
    }
    // every symbol unit contributes exactly two separators
    cur.select((col(idCol) +: keep) ++ Seq(col("n_tokens"),
      ((length(col("__seg")) -
        length(replace(col("__seg"), lit(Sep), lit("")))) / 2)
        .cast("long").as("n_bpe_tokens")): _*)
  }

  /** The SCALE form of [[tokenizeCorpus]] for per-document counts: the
    * merge chain runs once per vocabulary TYPE ([[applyMerges]] —
    * vocabulary-sized, not corpus-sized), and the corpus pass is one
    * token explode joined against the (token → n symbols) table and
    * re-summed per document. The join side is vocabulary-sized — hinted
    * broadcast below `broadcastMaxRows` rows, a plain shuffle join on
    * the token key above it (the [[LanguageModel]] gate pattern: a
    * 100-TB Heaps-law vocabulary outgrows any broadcast) — and the
    * per-doc sum partial-aggregates map-side, so the exchange is
    * document-count-sized. Identical output columns and values to
    * [[tokenizeCorpus]] (BpeSpec pins it). */
  /** Merge-list size above which [[tokenCountsViaVocab]] segments the
    * vocabulary through the `bpe_segment` kernel instead of the
    * chunked replace chain: within one rematerialization chunk the
    * chain is a single codegen'd select (the gated entries' shape);
    * past it the chain pays a vocab materialization per chunk while
    * the kernel is one call per type — and the two are spec-pinned
    * identical, so the switch is pure physics. */
  val segmentKernelThreshold: Int = rematerializeEvery

  def tokenCountsViaVocab(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      keepCols: Seq[String] = Nil,
      broadcastMaxRows: Long = Broadcasts.defaultMaxRows): DataFrame = {
    val spark = docs.sparkSession
    val ts = filter(split(col(textCol), " "), t => t =!= "")
    val keep = keepCols.map(col)
    val exploded = docs.select(
      (col(idCol) +: keep) ++ Seq(size(ts).cast("long").as("n_tokens"),
        explode_outer(ts).as("token")): _*)
    // The token stream feeds TWO consumers (the vocabulary aggregation
    // below and the final per-doc join+sum), so the corpus
    // tokenize+explode runs once per consumer. Materializing it once
    // in session-temp parquet (the x14 bigram-stream pattern) was
    // MEASURED AND REJECTED: tokenize here is one cheap
    // split+explode, and landing a one-row-per-token stream costs more
    // than recomputing it at every measured scale (paired sf0.1 subset:
    // p13b 2.09→2.63 s, p6c 1.35→1.82 s slower materialized; `bpe` scale
    // bench, zipf 500k docs: 12.46 s materialized vs 8.93 s re-derived —
    // unlike x14's bigram stream, whose per-row derivation is heavy
    // enough to repay the round-trip).
    // vocabulary of THIS corpus -> symbol counts, materialized (the
    // trainer's pattern: the chain is evaluated once, never per branch)
    val vocab = exploded.filter(col("token").isNotNull)
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val segmented =
      if (merges.size > segmentKernelThreshold)
        applyMergesKernel(vocab, merges)
      else applyMerges(vocab, merges)
    val counts = segmented
      .select(col("token"), size(col("symbols")).cast("long").as("n_sym"))
    val tmp = graft.SessionTemp.dir("bpe_vocab_counts_")
    counts.write.mode("overwrite").parquet(tmp)
    val joined = Broadcasts.sizeGated(spark.read.parquet(tmp),
      broadcastMaxRows)
    exploded
      .join(joined, Seq("token"), "left")
      .groupBy((col(idCol) +: keep) :+ col("n_tokens"): _*)
      .agg(coalesce(sum("n_sym"), lit(0L)).as("n_bpe_tokens"))
      .select((col(idCol) +: keep) ++
        Seq(col("n_tokens"), col("n_bpe_tokens")): _*)
  }
}

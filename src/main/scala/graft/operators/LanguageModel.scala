package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Bigram language-model training and scoring as an engine capability —
 * the CCNet/KenLM-style quality filter: train an add-one-smoothed
 * bigram model on the corpus itself, score every document by its
 * self-perplexity exp(−avg ln p(wᵢ | wᵢ₋₁)), threshold. Promoted from
 * the x14 catalog entry (now a thin call), the [[Sessionization]] /
 * [[Packing]] pattern.
 *
 * Scale shape — the corpus pays its heavy work (tokenize + explode
 * into bigrams) exactly ONCE: the build scan writes the narrow
 * (id, prev, cur) bigram stream to session-temp parquet, the model
 * aggregates from it, and scoring re-reads the SAME narrow relation —
 * the second pass over the corpus is a 3-column parquet scan, not a
 * second tokenize+explode of every document (the round-17 advice: at
 * 100 TB the re-derivation was the whole cost of the second scan).
 * Two passes remain BY DESIGN — the model must see the whole corpus
 * before the first document can be scored:
 *  - build: ONE corpus scan into the materialized bigram stream;
 *    bigram counts aggregate from it (persisted while the tiny probs
 *    table derives from them); prev-totals and the vocabulary come
 *    from the MODEL, not another scan — every token position appears
 *    as some bigram's prev or cur, so distinct(prev ∪ cur) IS the
 *    corpus vocabulary. The probs table lands in session-temp parquet
 *    (nothing stays pinned, survives executor loss).
 *  - score: one bigram-stream scan + a SIZE-GATED model join. The model is
 *    OBSERVED-bigram-sized, which is NOT bounded by vocab² in
 *    practice: Heaps-law vocabularies reach millions of types on a
 *    real corpus and observed bigrams grow into the billions — far
 *    past Spark's 8 GB broadcast ceiling (and any driver's memory).
 *    So the broadcast hint is applied only while the model is at most
 *    [[defaultBroadcastMaxRows]] rows (known from the cached model's
 *    count — and below the gate the probs rows are collected once and
 *    broadcast as a local relation, with no parquet round-trip at all:
 *    the collect ships exactly the bytes the broadcast build would
 *    have). Above the gate the probs table lands in session-temp
 *    parquet (durable past executor loss) and the
 *    join runs as a plain shuffle join on (prev, cur) — a perfectly
 *    partitionable key, so the 100-TB plan is one corpus shuffle of
 *    narrow (id, prev, cur) rows against a model partitioned the same
 *    way. Both modes are the same relation (spec-pinned equal); only
 *    the physical join strategy gates.
 * Float envelope: per-doc avg of bounded ln terms then exp — engine
 * ulp differences land ~1e-14 relative, inside the gate's 9
 * significant digits.
 */
object LanguageModel {

  /** Broadcast the scored model only at or below this many rows —
    * the engine-wide gate ceiling ([[Broadcasts.defaultMaxRows]];
    * rationale there). */
  val defaultBroadcastMaxRows: Long = Broadcasts.defaultMaxRows

  private val bigramsExpr =
    "transform(sequence(0, size(ts) - 2), " +
      "i -> named_struct('prev', ts[i], 'cur', ts[i + 1]))"

  /** X14 — per-document self-perplexity under an add-one-smoothed
    * bigram model trained on the input corpus. Input needs (idCol,
    * text); output (idCol, n_bigrams, ppl) for every doc with ≥ 2
    * tokens, sorted by id. `broadcastMaxRows` gates the score join's
    * broadcast hint (see object Scaladoc; 0 forces the shuffle-join
    * path — the mode-equality spec uses it). FOOTPRINT: materializes
    * one corpus-scale (one row per token position) stream in
    * [[graft.SessionTemp]] PER CALL, reclaimed at JVM exit — a
    * long-lived driver scoring many corpora should call
    * `SessionTemp.cleanupNow()` between rounds (safe once the returned
    * frame is consumed). */
  def bigramPerplexity(d: DataFrame, idCol: String = "doc_id",
      broadcastMaxRows: Long = defaultBroadcastMaxRows): DataFrame = {
    val spark = d.sparkSession
    // the ONE pass that pays tokenize + explode: the narrow
    // (id, prev, cur) stream lands in session-temp parquet and both
    // the model aggregation and the score join read it from there
    // (re-deriving it for the score join instead measured
    // cost-neutral — 6.50 vs 6.66 s at sf10, 57.5 vs 56.9 s at sf100 —
    // so only this one shape is kept)
    val tmpB = graft.SessionTemp.dir("graft_bigram_stream_")
    d.select(col(idCol), expr(TextAnalysis.tokensExpr).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col(idCol), explode(expr(bigramsExpr)).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"))
      .write.mode("overwrite").parquet(tmpB)
    val bg = spark.read.parquet(tmpB)
    val model = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val modelRows = model.count() // materializes the cache; probs is 1:1
    val ptot = model.groupBy("prev").agg(sum("cnt").as("tot"))
    val vocab = model.select(col("prev").as("t"))
      .union(model.select(col("cur").as("t")))
      .distinct().agg(count(lit(1)).as("v"))
    val probs = model.join(ptot, "prev").crossJoin(vocab)
      .select(col("prev"), col("cur"),
        log((col("cnt") + lit(1.0)) / (col("tot") + col("v"))).as("lp"))
    // Size-gated model delivery (same gate, same two relations — only
    // WHERE the probs rows live differs):
    //  - at or below the broadcast ceiling, collect the probs table
    //    once from the cached model and broadcast a local relation,
    //    skipping the parquet write+read round-trip outright (the
    //    round-trip existed to make the row count metadata-cheap, but
    //    the count is already known from the cache). Driver heap: this
    //    is NOT just the bytes a broadcast build would hold — while
    //    the relation is built, the collected Row array and the
    //    LocalRelation's InternalRow copy of it coexist, so near the
    //    2M-row gate the driver holds two full copies of the probs
    //    table, and the broadcast build adds its hashed relation when
    //    the join executes;
    //  - above the ceiling the DURABLE path is unchanged: probs land in
    //    session-temp parquet (survives executor loss; the broadcast
    //    would not fit regardless) and the score join shuffles on the
    //    perfectly partitionable (prev, cur).
    val modelDf =
      if (modelRows <= broadcastMaxRows) {
        val rows = probs.collect()
        model.unpersist()
        broadcast(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), probs.schema))
      } else {
        val tmp = graft.SessionTemp.dir("graft_bigram_model_")
        probs.write.mode("overwrite").parquet(tmp)
        model.unpersist()
        spark.read.parquet(tmp)
      }
    bg.join(modelDf, Seq("prev", "cur"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        exp(-avg(col("lp"))).as("ppl"))
      .orderBy(idCol)
  }
}

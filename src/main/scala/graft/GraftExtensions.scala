package graft

import graft.functions.{ArrayExceptSorted, BloomContains, BottomKDistinct, BpeSegment, DsirBuckets, DsirScore, KafkaMurmur2Partition, MinHashLshBands, NgramHashes, RepetitionStats, SimHash16, SpanCut, SpanCutPositions, SpanHashes, SpanHashesPos, VecDot, VecSumAgg, WordNGrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * Session extensions for the graft engine — the registration point for
 * custom Catalyst surfaces. Install with
 * `SparkSession.builder.withExtensions(new GraftExtensions)` or
 * `spark.sql.extensions=graft.GraftExtensions`.
 *
 * Injects the engine's codegen'd kernels — `kafka_partition(key, n)`
 * (murmur2-exact Kafka default partitioner, [[graft.functions.Murmur2]])
 * and the sketch kernels ([[graft.functions.Sketches]]) —
 * `minhash_lsh_bands(shingles)`, `simhash16(tokens)`, `vec_dot(a, b)`,
 * the n-gram pair `word_ngrams` / `ngram_hashes`, the span family
 * `span_hashes` / `span_hashes_pos` / `span_cut` / `span_cut_positions`,
 * the two DSIR kernels `dsir_buckets(text, buckets, unigrams)` and
 * `dsir_score(text, lr, unigrams)` (bigrams, or unigrams then bigrams),
 * `bpe_segment`, `repetition_stats`, `bloom_contains`,
 * `array_except_sorted`, plus the aggregates `bottom_k_distinct`
 * (BottomK.scala) and `vec_sum` (VecSum.scala) — the per-row hot loops
 * Catalyst's interpreted higher-order functions can't keep inside
 * whole-stage codegen. Everything else the engine needs is expressible
 * with stock Catalyst (SURVEY §4).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def inject(
      ext: SparkSessionExtensions,
      name: String,
      arity: Int,
      clazz: Class[_],
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        require(children.size == arity, s"$name takes exactly $arity arguments")
        build(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject(ext, "kafka_partition", 2, classOf[KafkaMurmur2Partition],
      c => KafkaMurmur2Partition(c.head, c(1)))
    inject(ext, "minhash_lsh_bands", 1, classOf[MinHashLshBands],
      c => MinHashLshBands(c.head))
    inject(ext, "simhash16", 1, classOf[SimHash16], c => SimHash16(c.head))
    inject(ext, "word_ngrams", 2, classOf[WordNGrams],
      c => WordNGrams(c.head, c(1)))
    inject(ext, "ngram_hashes", 2, classOf[NgramHashes],
      c => NgramHashes(c.head, c(1)))
    inject(ext, "span_hashes", 3, classOf[SpanHashes],
      c => SpanHashes(c.head, c(1), c(2)))
    inject(ext, "span_cut", 4, classOf[SpanCut],
      c => SpanCut(c.head, c(1), c(2), c(3)))
    inject(ext, "span_hashes_pos", 3, classOf[SpanHashesPos],
      c => SpanHashesPos(c.head, c(1), c(2)))
    inject(ext, "span_cut_positions", 3, classOf[SpanCutPositions],
      c => SpanCutPositions(c.head, c(1), c(2)))
    inject(ext, "dsir_buckets", 3, classOf[DsirBuckets],
      c => DsirBuckets(c.head, c(1), c(2)))
    inject(ext, "dsir_score", 3, classOf[DsirScore],
      c => DsirScore(c.head, c(1), c(2)))
    inject(ext, "bpe_segment", 2, classOf[BpeSegment],
      c => BpeSegment(c.head, c(1)))
    inject(ext, "vec_dot", 2, classOf[VecDot], c => VecDot(c.head, c(1)))
    inject(ext, "repetition_stats", 1, classOf[RepetitionStats],
      c => RepetitionStats(c.head))
    inject(ext, "bloom_contains", 2, classOf[BloomContains],
      c => BloomContains(c.head, c(1)))
    inject(ext, "bottom_k_distinct", 2, classOf[BottomKDistinct],
      c => BottomKDistinct(c.head, c(1)))
    inject(ext, "vec_sum", 1, classOf[VecSumAgg], c => VecSumAgg(c.head))
    inject(ext, "array_except_sorted", 2, classOf[ArrayExceptSorted],
      c => ArrayExceptSorted(c.head, c(1)))
    // band joins without an equi key (naive |ts_a - ts_b| <= C predicates,
    // incl. via spark.sql) become bucketed equi-joins instead of
    // cartesian products — see graft.plans.BandJoinRewrite
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

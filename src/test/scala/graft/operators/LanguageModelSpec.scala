package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the x14 size gate: the broadcast and shuffle-join modes of
  * [[LanguageModel.bigramPerplexity]] are the SAME relation — only the
  * physical join strategy may differ (the VecSumSpec kernel≡legacy
  * pattern applied to a join-mode gate). The gate exists because the
  * model is observed-bigram-sized (Heaps-law: billions of rows on a
  * real corpus), not vocab²-bounded metadata — above the row threshold
  * a broadcast would blow Spark's 8 GB ceiling, so the join must
  * degrade to a plain shuffle join on (prev, cur). */
class LanguageModelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus = {
    import spark.implicits._
    Seq(
      1L -> "the cat sat on the mat",
      2L -> "the cat ate the rat",
      3L -> "a dog sat on a log",
      4L -> "the dog and the cat sat",
      5L -> "one",
      6L -> "").toDF("doc_id", "text")
  }

  test("broadcast and shuffle-join modes score identically") {
    val viaBroadcast = LanguageModel.bigramPerplexity(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // broadcastMaxRows = 0: every model is "too big" — the shuffle path
    val viaShuffle = LanguageModel.bigramPerplexity(corpus,
        broadcastMaxRows = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // join strategy changes the ROW ORDER feeding avg(lp): FP addition
    // is not associative, so ppl may differ in the last ulp — the same
    // ~1e-15 relative envelope the 9-significant-digit oracle gate
    // already absorbs. Keys and counts must match exactly.
    assert(viaBroadcast.map(t => (t._1, t._2)) ==
      viaShuffle.map(t => (t._1, t._2)))
    viaBroadcast.zip(viaShuffle).foreach { case (a, b) =>
      assert(math.abs(a._3 - b._3) <= 1e-9 * math.abs(a._3),
        s"doc ${a._1}: ${a._3} vs ${b._3}")
    }
    // docs with < 2 tokens contribute no row
    assert(viaBroadcast.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(viaBroadcast.forall(_._3 > 0.0))
  }
}

package graft.operators

import java.security.MessageDigest

import graft.SparkTestSession
import org.apache.spark.sql.functions.{call_function, col, lit, typedLit}
import org.scalatest.funsuite.AnyFunSuite

/** DSIR (p17/p17b) against a plain-Scala reference: the hashed-bigram
  * bucketing, the add-one-smoothed log-ratio table, the per-doc fold
  * and the Gumbel top-k are all re-derived here from first principles
  * (MessageDigest md5, Long arithmetic, foldLeft) and compared on
  * fuzzed corpora — one shared JVM, so doubles must agree to ulp
  * noise, not an envelope. */
class DsirSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val B = 64 // tiny bucket domain → constant hash collisions

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(15), 16)

  private def refBuckets(text: String): Seq[Long] = {
    val ts = text.split(' ').filter(_.nonEmpty)
    if (ts.length < 2) Seq.empty
    else ts.sliding(2).map(p => h60(p(0) + " " + p(1)) % B).toSeq
  }

  private def refLogRatios(target: Seq[String], raw: Seq[String]): Array[Double] = {
    def fit(c: Seq[String]) = {
      val bs = c.flatMap(refBuckets)
      (bs.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }, bs.size.toLong)
    }
    val (tc, tt) = fit(target)
    val (rc, rt) = fit(raw)
    Array.tabulate(B) { b =>
      math.log((tc.getOrElse(b.toLong, 0L) + 1.0) / (tt + B)) -
        math.log((rc.getOrElse(b.toLong, 0L) + 1.0) / (rt + B))
    }
  }

  private def refWeight(text: String, lr: Array[Double]): Double =
    refBuckets(text).foldLeft(0.0)((acc, b) => acc + lr(b.toInt))

  // deterministic fuzz corpus: small vocabulary so bigrams repeat and
  // buckets collide; doc 0 of each group is empty / single-token so the
  // no-bigram path is always present
  private val vocab = Vector("the", "cat", "sat", "on", "a", "mat",
    "dog", "ran", "über", "快")
  private def fuzzDocs(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      val len = if (i % 7 == 0) rnd.nextInt(2) else 2 + rnd.nextInt(30)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  test("importanceLogRatios matches the plain-Scala fit (fuzzed)") {
    for (seed <- 1 to 3) {
      val docsSeq = fuzzDocs(seed, 40)
      val (t, r) = docsSeq.partition(_._1 % 5 == 0)
      val tDf = t.toDF("doc_id", "text")
      val rDf = r.toDF("doc_id", "text")
      val got = Dsir.importanceLogRatios(tDf, rDf, B)
      val want = refLogRatios(t.map(_._2), r.map(_._2))
      assert(got.length == B)
      got.zip(want).zipWithIndex.foreach { case ((g, w), b) =>
        assert(math.abs(g - w) <= 1e-12, s"seed $seed bucket $b: $g vs $w")
      }
    }
  }

  test("importanceWeights matches the plain-Scala fold (fuzzed)") {
    for (seed <- 4 to 6) {
      val docsSeq = fuzzDocs(seed, 50)
      val (t, r) = docsSeq.partition(_._1 % 5 == 0)
      val lr = refLogRatios(t.map(_._2), r.map(_._2))
      val got = Dsir.importanceWeights(r.toDF("doc_id", "text"), lr)
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
      assert(got.size == r.size)
      r.foreach { case (id, text) =>
        val (nb, w) = got(id)
        val bs = refBuckets(text)
        assert(nb == bs.size, s"seed $seed doc $id n_bigrams")
        assert(math.abs(w - refWeight(text, lr)) <= 1e-12,
          s"seed $seed doc $id: $w vs ${refWeight(text, lr)}")
      }
    }
  }

  test("no-bigram docs score exactly 0 with n_bigrams 0") {
    val lr = Array.fill(B)(0.5)
    val got = Dsir.importanceWeights(
        Seq((1L, ""), (2L, "solo"), (3L, "   "), (4L, "two tokens"))
          .toDF("doc_id", "text"), lr)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(got(1L) == ((0L, 0.0)) && got(2L) == ((0L, 0.0)) &&
      got(3L) == ((0L, 0.0)))
    assert(got(4L)._1 == 1L && got(4L)._2 == 0.5)
  }

  test("a target-phrased doc outweighs a junk doc") {
    // the seed set repeats a distinctive phrase; the raw pool holds one
    // doc made of that phrase and one of vocabulary the target never
    // uses — DSIR's whole point is that the first wins
    val phrase = "quantum flux capacitor resonance chamber"
    val target = Seq.tabulate(8)(i => (100L + i, phrase)).toDF("doc_id", "text")
    val raw = Seq(
      (1L, phrase + " " + phrase),
      (2L, "zz yy xx ww vv uu tt ss rr qq")).toDF("doc_id", "text")
    val lr = Dsir.importanceLogRatios(target, raw, 4096)
    val w = Dsir.importanceWeights(raw, lr, "doc_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(w(1L) > w(2L), s"target-like ${w(1L)} !> junk ${w(2L)}")
  }

  test("dsir_score kernel ≡ the interpreted expression chain, bit-exact") {
    for (seed <- 10 to 12) {
      val docsSeq = fuzzDocs(seed, 50)
      val (t, r) = docsSeq.partition(_._1 % 5 == 0)
      val lr = refLogRatios(t.map(_._2), r.map(_._2))
      val df = r.toDF("doc_id", "text")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
          .sortBy(_._1).toSeq
      val kernel = rows(Dsir.importanceWeights(df, lr))
      val chain = rows(Dsir.importanceWeightsExprForm(df, lr))
      // same JVM, same fold order — equality must be EXACT, not an
      // epsilon (the span-kernel parity discipline)
      assert(kernel == chain, s"seed $seed kernel/chain divergence")
    }
  }

  // ---- the paper-faithful unigram ∪ bigram feature space (p17e) ----

  private def refUnigrams(text: String): Seq[Long] =
    text.split(' ').filter(_.nonEmpty).map(t => h60(t) % B).toSeq

  // unigrams first, then bigrams — the stated cross-engine order
  private def refFeats(text: String): Seq[Long] =
    refUnigrams(text) ++ refBuckets(text)

  private def refLogRatiosUniBi(target: Seq[String],
      raw: Seq[String]): Array[Double] = {
    def fit(c: Seq[String]) = {
      val bs = c.flatMap(refFeats)
      (bs.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong },
        bs.size.toLong)
    }
    val (tc, tt) = fit(target)
    val (rc, rt) = fit(raw)
    Array.tabulate(B) { b =>
      math.log((tc.getOrElse(b.toLong, 0L) + 1.0) / (tt + B)) -
        math.log((rc.getOrElse(b.toLong, 0L) + 1.0) / (rt + B))
    }
  }

  test("dsir_buckets == the plain-Scala feature streams, element for element") {
    val docsSeq = fuzzDocs(20, 40)
    val got = docsSeq.toDF("doc_id", "text").select(col("doc_id"),
        call_function("dsir_buckets", col("text"), lit(B), lit(false)).as("bi"),
        call_function("dsir_buckets", col("text"), lit(B), lit(true)).as("ub"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getSeq[Long](2)))
      .toMap
    assert(got.size == docsSeq.size)
    docsSeq.foreach { case (id, text) =>
      val (bi, ub) = got(id)
      assert(bi == refBuckets(text), s"doc $id: bigram stream diverges")
      // unigrams first, then bigrams — the stated cross-engine order
      assert(ub == refFeats(text), s"doc $id: unigram+bigram stream diverges")
      assert(ub.take(refUnigrams(text).size) == refUnigrams(text),
        s"doc $id: unigram stream diverges")
    }
    // an empty bucket domain has no features, in either space
    val none = Seq((1L, "a b c")).toDF("doc_id", "text").select(
        call_function("dsir_buckets", col("text"), lit(0), lit(true)),
        call_function("dsir_score", col("text"),
          typedLit(Seq.empty[Double]), lit(true)))
      .head()
    assert(none.getSeq[Long](0).isEmpty)
    assert(none.getStruct(1).getLong(0) == 0L &&
      none.getStruct(1).getDouble(1) == 0.0)
  }

  test("dsir_score == the plain-Scala unigram + bigram folds, bit-exact") {
    val docsSeq = fuzzDocs(23, 40)
    val lr = Array.tabulate(B)(i => (i % 7) * 0.25 - 0.5)
    val lrLit = typedLit(lr.toSeq)
    val got = docsSeq.toDF("doc_id", "text").select(col("doc_id"),
        call_function("dsir_score", col("text"), lrLit, lit(true)).as("s"),
        call_function("dsir_score", col("text"), lrLit, lit(false)).as("s2"))
      .collect().map(r => r.getLong(0) -> (r.getStruct(1), r.getStruct(2)))
      .toMap
    def fold(bs: Seq[Long]): Double =
      bs.foldLeft(0.0)((acc, b) => acc + lr(b.toInt))
    docsSeq.foreach { case (id, text) =>
      val (s, s2) = got(id)
      assert(s.getLong(0) == refFeats(text).size, s"doc $id: n_features")
      assert(s.getDouble(1) == fold(refUnigrams(text)) + fold(refBuckets(text)),
        s"doc $id: unigram+bigram score != uni fold + bi fold (bit-exact)")
      assert(s2.getLong(0) == refBuckets(text).size, s"doc $id: n_bigrams")
      assert(s2.getDouble(1) == fold(refBuckets(text)),
        s"doc $id: bigram score != bi fold (bit-exact)")
    }
  }

  test("unigram+bigram fit and score match the plain-Scala reference (fuzzed)") {
    for (seed <- 21 to 22) {
      val docsSeq = fuzzDocs(seed, 40)
      val (t, r) = docsSeq.partition(_._1 % 5 == 0)
      val lr = Dsir.importanceLogRatios(t.toDF("doc_id", "text"),
        r.toDF("doc_id", "text"), B, includeUnigrams = true)
      val want = refLogRatiosUniBi(t.map(_._2), r.map(_._2))
      lr.zip(want).zipWithIndex.foreach { case ((g, w), b) =>
        assert(math.abs(g - w) <= 1e-12, s"seed $seed bucket $b: $g vs $w")
      }
      val got = Dsir.importanceWeights(r.toDF("doc_id", "text"), lr,
          includeUnigrams = true)
        .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2)))
        .toMap
      r.foreach { case (id, text) =>
        val fs = refFeats(text)
        assert(got(id)._1 == fs.size, s"seed $seed doc $id n_features")
        // reference sums unigram fold then bigram fold, like the rows
        val uni = refUnigrams(text).foldLeft(0.0)((a, b) => a + lr(b.toInt))
        val bi = refWeight(text, lr)
        assert(math.abs(got(id)._2 - (uni + bi)) <= 1e-12,
          s"seed $seed doc $id logw")
      }
    }
  }

  test("sampled raw fit matches the plain-Scala fit over the same gate") {
    for (seed <- 7 to 8; mod <- Seq(2, 4)) {
      val docsSeq = fuzzDocs(seed, 60)
      val (t, r) = docsSeq.partition(_._1 % 5 == 0)
      val got = Dsir.importanceLogRatios(
        t.toDF("doc_id", "text"), r.toDF("doc_id", "text"), B,
        rawSampleMod = mod)
      val rFit = r.filter { case (id, _) => h60(s"dsirfit:$id") % mod == 0 }
      val want = refLogRatios(t.map(_._2), rFit.map(_._2))
      got.zip(want).zipWithIndex.foreach { case ((g, w), b) =>
        assert(math.abs(g - w) <= 1e-12, s"seed $seed mod $mod bucket $b")
      }
      // mod 1 is exactly the unsampled fit
      val m1 = Dsir.importanceLogRatios(
        t.toDF("doc_id", "text"), r.toDF("doc_id", "text"), B,
        rawSampleMod = 1)
      assert(m1.sameElements(refLogRatios(t.map(_._2), r.map(_._2))))
    }
  }

  test("gumbelResample matches the plain-Scala Gumbel top-k and is stable") {
    val scored = fuzzDocs(9, 60)
      .map { case (id, text) => (id, text.length.toDouble / 10.0 - 3.0) }
    val df = scored.toDF("doc_id", "logw")
    def refKey(id: Long, w: Double): Double = {
      val u = (h60("dsir:" + id) % 4294967296L + 0.5) / 4294967296.0
      w - math.log(-math.log(u))
    }
    val want = scored.map { case (id, w) => (id, refKey(id, w)) }
      .sortBy { case (id, g) => (-g, id) }.take(25).map(_._1)
    val run1 = Dsir.gumbelResample(df, k = 25)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val run2 = Dsir.gumbelResample(df, k = 25)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(run1 == want, s"gumbel top-k diverges from reference")
    assert(run1 == run2, "gumbel resample is not deterministic")
  }

  test("kernel type contracts surface at ANALYSIS time, not in a task") {
    val d = Seq((1L, "a b c", true)).toDF("doc_id", "text", "flag")
    val lr8 = typedLit(Seq.fill(8)(0.0))
    def rejected(name: String, c: org.apache.spark.sql.Column): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        d.select(c).collect()
      }
      assert(e.getMessage.contains(name), e.getMessage)
    }
    // dsir_buckets with a string buckets argument
    rejected("dsir_buckets",
      call_function("dsir_buckets", col("text"), lit("7"), lit(false)))
    // dsir_buckets with a BIGINT buckets argument (the silent
    // codegen-fallback hazard the advice named)
    rejected("dsir_buckets",
      call_function("dsir_buckets", col("text"), lit(7L), lit(true)))
    // dsir_score with a float lr array
    rejected("dsir_score", call_function("dsir_score", col("text"),
      typedLit(Seq(1.0f, 2.0f)), lit(false)))
    // unigrams must be a BOOLEAN literal: not a string, not a column
    rejected("dsir_buckets",
      call_function("dsir_buckets", col("text"), lit(8), lit("true")))
    rejected("dsir_score",
      call_function("dsir_score", col("text"), lr8, lit(1)))
    rejected("dsir_buckets",
      call_function("dsir_buckets", col("text"), lit(8), col("flag")))
    rejected("dsir_score",
      call_function("dsir_score", col("text"), lr8, col("flag")))
    // the blessed signatures still analyze and run, in both spaces
    for (u <- Seq(false, true)) {
      assert(d.select(call_function("dsir_buckets", col("text"), lit(8),
        lit(u))).count() == 1L)
      assert(d.select(call_function("dsir_score", col("text"), lr8,
        lit(u))).count() == 1L)
    }
  }
}

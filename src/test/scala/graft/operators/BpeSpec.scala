package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** operators/Bpe vs a direct driver-side reference implementation of
  * greedy BPE (Sennrich-style: count adjacent symbol pairs weighted by
  * token frequency, merge the most frequent left-to-right, repeat),
  * plus the encoding edge cases the separator scheme must survive. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // ---- reference implementation (plain Scala, no Spark) ----
  private def refTrain(vocab: Map[String, Long], n: Int):
      Seq[(String, String, Long)] = {
    var seg: Map[Vector[String], Long] =
      vocab.map { case (t, tf) => t.map(_.toString).toVector -> tf }
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    for (_ <- 1 to n) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seg.foreach { case (syms, tf) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + tf
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((l, r, c))
        seg = seg.groupMapReduce(_._1 match {
          case syms =>
            // greedy left-to-right merge of (l, r)
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += syms(i); i += 1 }
            }
            b.result()
        })(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  private def vocabDf(v: Map[String, Long]) = {
    import spark.implicits._
    v.toSeq.toDF("token", "tf")
  }

  test("trainMerges matches the reference on a random vocabulary") {
    val rnd = new scala.util.Random(7L)
    val alphabet = "abcde"
    val vocab = (1 to 120).map { _ =>
      val len = 1 + rnd.nextInt(8)
      (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.groupBy(identity).view.mapValues(_.size.toLong * (1 + rnd.nextInt(5))).toMap
    val expect = refTrain(vocab, 10)
    val got = Bpe.trainMerges(vocabDf(vocab), 10)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expect)
  }

  test("greedy overlap semantics: aaa merges to [aa, a], not [aaa]") {
    val vocab = Map("aaa" -> 10L)
    val merges = Bpe.trainMerges(vocabDf(vocab), 2).collect()
    // round 1: (a, a) appears twice per token (overlapping adjacencies)
    assert(merges(0).getString(1) == "a" && merges(0).getString(2) == "a")
    assert(merges(0).getLong(4) == 20L)
    // after the greedy merge the segmentation is [aa, a] -> ONE (aa, a)
    // adjacency per token
    assert(merges(1).getString(1) == "aa" && merges(1).getString(2) == "a")
    assert(merges(1).getLong(4) == 10L)
    assert(refTrain(vocab, 2).map(t => (t._1, t._2, t._3)) ==
      merges.map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq)
  }

  test("applyMerges reproduces the trained segmentation; hostile tokens") {
    val vocab = Map("don't" -> 5L, "\"ab\"" -> 3L, "ab" -> 7L,
      ("a" + Bpe.Sep + "b") -> 2L) // separator-bearing token is excluded, not corrupting
    val merges = Bpe.trainMerges(vocabDf(vocab), 3)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val seg = Bpe.applyMerges(vocabDf(vocab), merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(!seg.contains(("a" + Bpe.Sep + "b")))
    // every token's symbols concatenate back to the token
    seg.foreach { case (t, syms) => assert(syms.mkString == t, t) }
    // 'ab' is the top pair (tf 7 + 3 inside quotes + ...), so 'ab'
    // must be a single symbol after apply
    assert(seg("ab") == Seq("ab"))
    // layout invariance
    val seg13 = Bpe.applyMerges(vocabDf(vocab).repartition(13), merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(seg13 == seg)
  }

  test("applyMergesKernel ≡ applyMerges (chunked chain), incl. astral-plane and deep merge lists") {
    val rnd = new scala.util.Random(31L)
    // random vocab over a tiny alphabet + a surrogate-pair token (the
    // kernel splits CODE POINTS like split(token, "")) + hostile chars
    val alphabet = "abc"
    val base = (1 to 60).map { _ =>
      (1 to (1 + rnd.nextInt(8)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("😀a😀", "über", "don't", "a\"b")
    val vocab = base.groupBy(identity).view.mapValues(_.size.toLong * 3).toMap
    // train past the chunk boundary so the chain form exercises its
    // rematerialized multi-chunk path (rematerializeEvery = 8)
    val merges = Bpe.trainMerges(vocabDf(vocab), 20)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size > Bpe.rematerializeEvery,
      s"fixture too small: ${merges.size} merges")
    def segs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    val chain = segs(Bpe.applyMerges(vocabDf(vocab), merges))
    val kernel = segs(Bpe.applyMergesKernel(vocabDf(vocab), merges))
    assert(kernel == chain, "kernel segmentation diverged from the chain")
    kernel.foreach { case (t, syms) => assert(syms.mkString == t, t) }
    // the empty merge list is the char segmentation (code points whole)
    val none = segs(Bpe.applyMergesKernel(vocabDf(vocab), Seq.empty))
    assert(none("😀a😀") ==
      Seq("😀", "a", "😀"))
  }

  test("degenerate vocabularies: empty, single-char-only, early exhaustion") {
    import spark.implicits._
    assert(Bpe.trainMerges(vocabDf(Map.empty[String, Long]), 3).count() == 0)
    // single-char tokens have no pairs at all
    assert(Bpe.trainMerges(vocabDf(Map("a" -> 5L, "b" -> 3L)), 3).count() == 0)
    // 'ab' exhausts after 1 merge; asking for 5 yields 1 row
    val m = Bpe.trainMerges(vocabDf(Map("ab" -> 5L)), 5).collect()
    assert(m.length == 1 && m(0).getString(3) == "ab")
    intercept[IllegalArgumentException] {
      Bpe.trainMerges(vocabDf(Map("ab" -> 1L)), 0)
    }
  }

  test("trainMergesBatched is order-equivalent to trainMerges") {
    val rnd = new scala.util.Random(23L)
    for (trial <- 1 to 5) {
      val alphabet = "abcd"
      val vocab = (1 to 80).map { _ =>
        val len = 1 + rnd.nextInt(7)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.groupBy(identity).view
        .mapValues(_.size.toLong * (1 + rnd.nextInt(4))).toMap
      val n = 12
      val seqRows = Bpe.trainMerges(vocabDf(vocab), n)
        .orderBy("round").collect().map(_.toSeq).toSeq
      for (b <- Seq(1, 4, 16)) {
        val batRows = Bpe.trainMergesBatched(vocabDf(vocab), n, batchSize = b)
          .orderBy("round").collect().map(_.toSeq).toSeq
        assert(batRows == seqRows, s"trial $trial batchSize $b")
      }
    }
    // self-merge regime: (a,a) creates (aa,a) with count 10 — bounded
    // by the self-merge's OWN count, which no later-candidate bound
    // folds — out-ranking (x,y,8); the batch must therefore end at the
    // self-merge or the merge order diverges from sequential
    val selfm = Map("aaa" -> 10L, "xy" -> 8L)
    val seqSelf = Bpe.trainMerges(vocabDf(selfm), 3)
      .orderBy("round").collect().map(_.toSeq).toSeq
    val batSelf = Bpe.trainMergesBatched(vocabDf(selfm), 3, batchSize = 4)
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(batSelf == seqSelf, "self-merge must end the batch")
    assert(seqSelf.map(r => (r(1), r(2))) ==
      Seq(("a", "a"), ("aa", "a"), ("x", "y")))
    // tie-dense regime: two-letter alphabet, uniform tf -> exact count
    // collisions everywhere, the case where a created pair could steal
    // a lexicographic tie-break from a trimmed-too-little batch
    val rnd2 = new scala.util.Random(101L)
    for (trial <- 1 to 8) {
      val vocab = (1 to 40).map { _ =>
        (1 to (2 + rnd2.nextInt(5)))
          .map(_ => "ab".charAt(rnd2.nextInt(2))).mkString
      }.groupBy(identity).view.mapValues(_ => 1L).toMap
      val seqR = Bpe.trainMerges(vocabDf(vocab), 8)
        .orderBy("round").collect().map(_.toSeq).toSeq
      val batR = Bpe.trainMergesBatched(vocabDf(vocab), 8, batchSize = 4)
        .orderBy("round").collect().map(_.toSeq).toSeq
      assert(batR == seqR, s"tie trial $trial on $vocab")
    }
    // same-left / same-right clusters (the r20 TIGHT stopper predicate:
    // merely sharing a's left or b's right symbol is provably exact) —
    // equality must hold AND the batch must actually accept the whole
    // cluster in one driver round (the refinement is live, not inert)
    val sameLeft = Map("ab" -> 9L, "ac" -> 7L, "ad" -> 5L, "ae" -> 3L)
    val slSeq = Bpe.trainMerges(vocabDf(sameLeft), 4)
      .orderBy("round").collect().map(_.toSeq).toSeq
    val slRounds = new java.util.concurrent.atomic.AtomicLong(0)
    val slBat = Bpe.trainMergesBatched(vocabDf(sameLeft), 4, batchSize = 8,
        roundsOut = Some(slRounds))
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(slBat == slSeq, "same-left cluster diverged")
    assert(slRounds.get() === 1L,
      s"same-left cluster should batch in ONE round, took ${slRounds.get()}")
    val sameRight = Map("xq" -> 9L, "yq" -> 7L, "zq" -> 5L)
    val srSeq = Bpe.trainMerges(vocabDf(sameRight), 3)
      .orderBy("round").collect().map(_.toSeq).toSeq
    val srRounds = new java.util.concurrent.atomic.AtomicLong(0)
    val srBat = Bpe.trainMergesBatched(vocabDf(sameRight), 3, batchSize = 8,
        roundsOut = Some(srRounds))
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(srBat == srSeq, "same-right cluster diverged")
    assert(srRounds.get() === 1L,
      s"same-right cluster should batch in ONE round, took ${srRounds.get()}")
    // destroyed-class regime: (x,a) after accepted (a,b) MUST still
    // stop (its count falls when (a,b) consumes the a's; sequential
    // picks the created (x,ab) next — a batch that kept going would
    // emit (x,a) with a stale count)
    val destroyed = Map("xab" -> 5L, "xa" -> 2L)
    val dSeq = Bpe.trainMerges(vocabDf(destroyed), 3)
      .orderBy("round").collect().map(_.toSeq).toSeq
    val dBat = Bpe.trainMergesBatched(vocabDf(destroyed), 3, batchSize = 8)
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(dBat == dSeq, "destroyed-class candidate not stopped")
    // interaction-dense fuzz on a wider alphabet (stresses the tight
    // predicate's accept side harder than the abcd fuzz above)
    val rnd3 = new scala.util.Random(77L)
    for (trial <- 1 to 6) {
      val alphabet = "abcdef"
      val vocab = (1 to 120).map { _ =>
        (1 to (2 + rnd3.nextInt(6)))
          .map(_ => alphabet(rnd3.nextInt(alphabet.length))).mkString
      }.groupBy(identity).view
        .mapValues(_.size.toLong * (1 + rnd3.nextInt(3))).toMap
      val sq = Bpe.trainMerges(vocabDf(vocab), 14)
        .orderBy("round").collect().map(_.toSeq).toSeq
      for (b <- Seq(4, 16)) {
        val bt = Bpe.trainMergesBatched(vocabDf(vocab), 14, batchSize = b)
          .orderBy("round").collect().map(_.toSeq).toSeq
        assert(bt == sq, s"interaction-dense trial $trial batchSize $b")
      }
    }
    // chained-top regime: every leading pair interacts -> batch
    // degrades toward 1 but stays equivalent (aaaa...: (a,a) then
    // (aa,a)/(aa,aa) chains share symbols)
    val chain = Map("aaaaaaaa" -> 9L, "aaab" -> 4L)
    val seqRows = Bpe.trainMerges(vocabDf(chain), 5)
      .orderBy("round").collect().map(_.toSeq).toSeq
    val batRows = Bpe.trainMergesBatched(vocabDf(chain), 5, batchSize = 8)
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(batRows == seqRows)
  }

  // ---- corpus tokenization (x9d) ----

  /** Reference doc count: segment each whitespace token with the merges
    * in rank order (greedy left-to-right per merge), sum symbol counts;
    * Sep-bearing tokens excluded. */
  private def refDocCounts(rows: Seq[(Long, String)],
      merges: Seq[(String, String)]): Seq[(Long, Long, Long)] = {
    def applyOne(syms: Vector[String], l: String, r: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          b += (l + r); i += 2
        } else { b += syms(i); i += 1 }
      }
      b.result()
    }
    rows.map { case (id, text) =>
      val toks = text.split(" ", -1).filter(_.nonEmpty).toSeq
      val nBpe = toks.filterNot(_.contains(Bpe.Sep)).map { t =>
        merges.foldLeft(t.map(_.toString).toVector) {
          case (syms, (l, r)) => applyOne(syms, l, r)
        }.length.toLong
      }.sum
      (id, toks.length.toLong, nBpe)
    }.sortBy(_._1)
  }

  test("tokenizeCorpus and tokenCountsViaVocab match the reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(19L)
    val alphabet = "abc"
    val rows = (1L to 20L).map { id =>
      val nTok = rnd.nextInt(8)
      id -> (1 to nTok).map(_ => (1 to (1 + rnd.nextInt(6)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
        .mkString(" ")
    } :+ (21L -> s"plain a${Bpe.Sep}b edge") :+ (22L -> "")
    val d = rows.toDF("doc_id", "text")
    val vocab = d.select(explode(expr(
        "filter(split(text, ' '), t -> t != '')")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val merges = Bpe.trainMerges(vocab, nMerges = Bpe.rematerializeEvery + 2)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val expect = refDocCounts(rows, merges)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // direct in-row rewrite (crosses the rematerialization boundary)
    assert(collect(Bpe.tokenizeCorpus(d, merges)) == expect)
    // via-vocab twin: identical in both broadcast and shuffle modes
    assert(collect(Bpe.tokenCountsViaVocab(d, merges)) == expect)
    assert(collect(Bpe.tokenCountsViaVocab(d, merges,
      broadcastMaxRows = 0L)) == expect)
    // no merges: BPE count = char count of Sep-free tokens
    assert(collect(Bpe.tokenizeCorpus(d, Seq.empty)) ==
      refDocCounts(rows, Seq.empty))
    // keepCols pass-through
    val withSrc = Bpe.tokenCountsViaVocab(
      d.withColumn("source", lit("s1")), merges, keepCols = Seq("source"))
    assert(withSrc.columns.toSeq ==
      Seq("doc_id", "source", "n_tokens", "n_bpe_tokens"))
  }

  test("rematerialization boundary keeps results identical (n > every)") {
    val vocab = Map("ababab" -> 4L, "bcbcbc" -> 3L, "cacaca" -> 2L,
      "abcabc" -> 5L, "aabbcc" -> 1L)
    val n = Bpe.rematerializeEvery + 3
    val expect = refTrain(vocab, n)
    val got = Bpe.trainMerges(vocabDf(vocab), n)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == expect)
  }
}

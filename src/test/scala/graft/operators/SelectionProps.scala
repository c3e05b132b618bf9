package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: the aggregate-bounded selection equals the naive
  * global-running-sum formulation on random corpora — heavy rank TIES
  * (small rank domain) so the boundary-value branch and its keyed
  * running window are exercised constantly, budgets from zero through
  * everything, and exact-boundary budgets. */
object SelectionProps extends Properties("Selection") {
  private lazy val spark = SparkTestSession.spark

  // every case runs real Spark jobs — one of the suite's heaviest
  // Props (build.sbt's graftSuiteSeconds), so 30 cases, not 100
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)
  import spark.implicits._

  private val corpusGen = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.choose(0L, 20L),   // n_tok (0 allowed)
      Gen.choose(0L, 4L)))   // rank: tiny domain → constant ties
  } yield rows.zipWithIndex.map { case ((t, q), i) => (i.toLong, t, q) }

  private def truth(rows: Seq[(Long, Long, Long)], b: Long) = {
    var cum = 0L
    rows.sortBy { case (id, _, q) => (-q, id) }
      .flatMap { case (id, t, q) =>
        cum += t
        if (cum <= b) Some((id, q, t)) else None
      }
  }

  property("selectByTokenBudget == global running sum, any budget") =
    forAll(corpusGen, Gen.choose(0L, 400L)) { (rows, b) =>
      val m = rows.toDF("doc_id", "n_tok", "quality_micro")
      val budget = Seq(b).toDF("b")
      val got = Selection.selectByTokenBudget(m, budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      got == truth(rows, b)
    }

  property("exact-boundary budgets keep exactly the prefix") =
    forAll(corpusGen, Gen.choose(0, 60)) { (rows, k0) =>
      // budget equal to the running sum after k docs: the kept set is
      // exactly those k docs (inclusive <= semantics)
      val ordered = rows.sortBy { case (id, _, q) => (-q, id) }
      val k = math.min(k0, ordered.length)
      val b = ordered.take(k).map(_._2).sum
      val m = rows.toDF("doc_id", "n_tok", "quality_micro")
      val got = Selection.selectByTokenBudget(m, Seq(b).toDF("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      got == truth(rows, b)
    }

  // --- per-domain selection (selectByDomainBudget) ---

  private val domainCorpusGen = for {
    n <- Gen.choose(0, 80)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.choose(0, 3),      // domain: few domains → constant contention
      Gen.choose(0L, 20L),   // n_tok (0 allowed)
      Gen.choose(0L, 4L)))   // rank: tiny domain → constant ties
  } yield rows.zipWithIndex.map { case ((d, t, q), i) =>
    (s"dom$d", i.toLong, t, q) }

  private def domainTruth(rows: Seq[(String, Long, Long, Long)],
      budgets: Map[String, Long]) =
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (d, rs) =>
      budgets.get(d).toSeq.flatMap { b =>
        var cum = 0L
        rs.sortBy { case (_, id, _, q) => (-q, id) }
          .flatMap { case (_, id, t, q) =>
            cum += t
            if (cum <= b) Some((d, id, q, t)) else None
          }
      }
    }

  property("selectByDomainBudget == per-domain running sum") =
    forAll(domainCorpusGen,
      Gen.listOfN(4, Gen.choose(0L, 200L))) { (rows, bs) =>
      // budgets deliberately omit dom3 sometimes: absent domains drop
      val budgets = bs.zipWithIndex.take(3 + bs.last.toInt % 2)
        .map { case (b, i) => (s"dom$i", b) }.toMap
      val m = rows.toDF("source", "doc_id", "n_tok", "quality_micro")
      val bdf = budgets.toSeq.toDF("source", "b")
      val got = Selection.selectByDomainBudget(m, bdf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      got == domainTruth(rows, budgets)
    }

  property("domainBudgets is exact and overflow-safe at Long extremes") =
    forAll(Gen.listOfN(3, Gen.choose(0L, 660000000000000000L)),
      Gen.listOfN(3, Gen.choose(0L, 3000000L))) { (toks, ws) =>
      // corpus totals up to ~2e18 × weights up to 3e6 micro: the raw
      // product __tot * w_micro overflows Long (ANSI would throw) but
      // every BUDGET still fits one — the contract's domain — and the
      // decomposed form must equal the BigInt truth exactly there
      val m = toks.zipWithIndex
        .map { case (t, i) => (s"dom$i", i.toLong, t, 0L) }
        .toDF("source", "doc_id", "n_tok", "quality_micro")
      val w = ws.zipWithIndex.map { case (wm, i) => (s"dom$i", wm) }
        .toDF("source", "w_micro")
      val tot = BigInt(toks.sum)
      val truth = ws.zipWithIndex.map { case (wm, i) =>
        (s"dom$i", (tot * wm / 1000000).toLong) }.toMap
      Selection.domainBudgets(m, w).collect()
        .forall(r => truth(r.getString(0)) == r.getLong(1))
    }

  private def repetitionTruth(rows: Seq[(String, Long, Long, Long)],
      budgets: Map[String, Long], cap: Int) =
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (d, rs) =>
      budgets.get(d).toSeq.flatMap { b =>
        val ordered = rs.sortBy { case (_, id, _, q) => (-q, id) }
        val tok = rs.map(_._3).sum
        val full = if (tok > 0) math.min(b / tok, cap.toLong) else 0L
        val fullPart = for {
          e <- 1L to full
          (_, id, t, q) <- ordered
        } yield (d, id, e, q, t)
        val frac = if (full < cap) {
          val rem = b - full * tok
          var cum = 0L
          ordered.flatMap { case (_, id, t, q) =>
            cum += t
            if (cum <= rem) Some((d, id, full + 1, q, t)) else None
          }
        } else Seq.empty
        fullPart ++ frac
      }
    }

  property("domainMixWithRepetition == capped epochs + remainder prefix") =
    forAll(domainCorpusGen, Gen.listOfN(4, Gen.choose(0L, 600L)),
      Gen.choose(1, 4)) { (rows, bs, cap) =>
      // budgets up to ~several× a domain's tokens so full passes, the
      // cap, and the remainder pass are all exercised
      val budgets = bs.zipWithIndex
        .map { case (b, i) => (s"dom$i", b) }.toMap
      val m = rows.toDF("source", "doc_id", "n_tok", "quality_micro")
      val bdf = budgets.toSeq.toDF("source", "b")
      val got = Selection.domainMixWithRepetition(m, bdf, maxEpochs = cap)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      got == repetitionTruth(rows, budgets, cap)
    }

  property("each domain slice == selectByTokenBudget on that slice") =
    forAll(domainCorpusGen, Gen.choose(0L, 200L)) { (rows, b) =>
      val m = rows.toDF("source", "doc_id", "n_tok", "quality_micro")
      val domains = rows.map(_._1).distinct.sorted
      val bdf = domains.map((_, b)).toDF("source", "b")
      val whole = Selection.selectByDomainBudget(m, bdf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      domains.forall { d =>
        val slice = Selection.selectByTokenBudget(
          m.filter(col("source") === d).drop("source"), Seq(b).toDF("b"))
          .collect()
          .map(r => (d, r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        whole.filter(_._1 == d) == slice
      }
    }
}

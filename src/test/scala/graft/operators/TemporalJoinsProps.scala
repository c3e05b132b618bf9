package graft.operators

import graft.SparkTestSession
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: [[TemporalJoins.asofJoin]] equals a straightforward local
  * reference (for each left row, the right row with the greatest
  * ts <= left.ts on the same key) for random keyed timelines — including
  * duplicate left timestamps, interleaved keys, and keys present on only
  * one side. Right rows are generated unique per (key, ts), the API's
  * documented precondition. */
object TemporalJoinsProps extends Properties("TemporalJoins") {
  private lazy val spark = SparkTestSession.spark

  // every case runs real Spark jobs — one of the suite's heaviest
  // Props (build.sbt's graftSuiteSeconds), so 30 cases, not 100
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)
  import spark.implicits._

  private val rightGen = Gen.listOfN(30,
    Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 100L), Gen.choose(0L, 999L)))
  private val leftGen = Gen.listOfN(40,
    Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 100L)))

  private def localReference(ls: List[(Long, Long)],
      rs: List[(Long, Long, Long)]): Map[Long, (Long, Long)] =
    ls.zipWithIndex.flatMap { case ((k, t), i) =>
      val cand = rs.filter(r => r._1 == k && r._2 <= t)
      if (cand.isEmpty) None
      else {
        val best = cand.maxBy(_._2)
        Some(i.toLong -> (best._3, best._2))
      }
    }.toMap

  propertyWithSeed("matches the local reference as-of", None) =
    forAll(leftGen, rightGen) { (ls, rsRaw) =>
      // enforce the documented uniqueness precondition per (key, ts)
      val rs = rsRaw.groupBy(r => (r._1, r._2)).values.map(_.head).toList
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("l_id", "k", "t")
      val right = rs.map { case (k, t, v) => (k, t, v) }.toDF("k", "t", "v")
      val got = TemporalJoins.asofJoin(left, right, Seq("k"), "t")
        .select("l_id", "v", "t_asof").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      got == localReference(ls, rs)
    }

  // The hot-key-safe variant must be semantically IDENTICAL for every
  // bucket width — including widths small enough that single-bucket
  // timelines, empty buckets, and cross-bucket carries all occur.
  propertyWithSeed("bucketed as-of equals the plain as-of at any width", None) =
    forAll(leftGen, rightGen, Gen.choose(1L, 25L)) { (ls, rsRaw, width) =>
      val rs = rsRaw.groupBy(r => (r._1, r._2)).values.map(_.head).toList
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("l_id", "k", "t")
      val right = rs.map { case (k, t, v) => (k, t, v) }.toDF("k", "t", "v")
      val got = TemporalJoins
        .asofJoinBucketed(left, right, Seq("k"), "t", bucketUs = width)
        .select("l_id", "v", "t_asof").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      got == localReference(ls, rs)
    }
}

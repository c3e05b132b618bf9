package graft.plans

import graft.SparkTestSession
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: for random integral tables and random band bounds, the
  * rewritten plan returns EXACTLY the rule-off result — the soundness
  * claim (bucket probing covers every qualifying pair, dedup prevents
  * double matches) checked mechanically across signs and widths. */
object BandJoinRewriteProps extends Properties("BandJoinRewrite") {
  private lazy val spark = SparkTestSession.spark

  // every case runs real Spark jobs — one of the suite's heaviest
  // Props (build.sbt's graftSuiteSeconds), so 30 cases, not 100
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)
  import spark.implicits._

  private val table = Gen.listOfN(40, Gen.choose(-2000L, 2000L))
  private val bound = Gen.choose(-150L, 150L)

  propertyWithSeed("rule-on == rule-off over random bands", None) =
    forAll(table, table, bound, bound, Gen.choose(0, 2)) {
      (as, bs, c1, c2, form) =>
      val (lo, hi) = (math.min(c1, c2), math.max(c1, c2))
      val a = as.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("a_id", "a_v")
      val b = bs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("b_id", "b_v")
      def run(): Set[(Long, Long)] = {
        import org.apache.spark.sql.functions.abs
        val cond = form match {
          case 0 => // one-sided BETWEEN, closed
            b("b_v") >= a("a_v") + lo && b("b_v") <= a("a_v") + hi
          case 1 => // abs form with a literal offset inside — exercises
            // the off ± C normalization (lo doubles as the offset)
            abs(a("a_v") + lo - b("b_v")) <= math.max(math.abs(hi), 1L)
          case _ => // strict bounds
            b("b_v") > a("a_v") + lo && b("b_v") < a("a_v") + hi + 2
        }
        val q = a.join(b, cond)
        q.select("a_id", "b_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val on = run()
      spark.conf.set("spark.graft.bandJoinRewrite", "false")
      val off = try run()
      finally spark.conf.set("spark.graft.bandJoinRewrite", "true")
      on == off
    }
}

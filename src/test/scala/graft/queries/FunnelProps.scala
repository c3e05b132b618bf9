package graft.queries

import graft.SparkTestSession
import graft.sources.Records
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: the bucketed funnel (`e5b`, pseudo-event reduction) emits
  * EXACTLY the plain funnel's (`e5`) census on random user timelines.
  * The generator forces the hard cases: c/v/p witnesses split across
  * 6-h buckets in every arrangement, ties at equal timestamps resolved
  * by event_id, funnels that complete within one bucket, funnels whose
  * view precedes the click (must NOT count), and users with no
  * c/v/p events at all (must still count as active). */
object FunnelProps extends Properties("Funnel") {
  private lazy val spark = SparkTestSession.spark

  // every case runs real Spark jobs — one of the suite's heaviest
  // Props (build.sbt's graftSuiteSeconds), so 30 cases, not 100
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val B = 21600L
  private val types =
    Gen.oneOf("click", "view", "purchase", "signup", "error")
  private val userGen = for {
    user <- Gen.choose(0L, 5L)
    n <- Gen.choose(1, 12)
    // timestamps cluster tightly around bucket boundaries so witness
    // chains straddle buckets; duplicates force event_id tie-breaks
    evs <- Gen.listOfN(n, Gen.zip(
      Gen.choose(0L, 4L).map(_ * B),
      Gen.oneOf(-2L, -1L, 0L, 1L, 2L, 100L, B / 2),
      types))
  } yield evs.map { case (base, off, t) =>
    (user, math.max(0L, base + off), t)
  }

  private val eventsGen = Gen.listOfN(6, userGen).map(_.flatten)

  private def run(name: String, dir: String): Seq[(String, Long)] =
    Catalog.byName(name).fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  private def writeEvents(rows: Seq[(Long, Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fun_").toString
    rows.zipWithIndex
      .map { case ((u, sec, t), i) => (i.toLong, sec * 1000000L, u, t) }
      .toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
        col("user_id"), col("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  property("e5b (bucketed pseudo-events) == e5 (plain) on random timelines") =
    forAll(eventsGen) { rows =>
      val dir = writeEvents(rows)
      run("e5b_funnel_bucketed", dir) == run("e5_conversion_funnel", dir)
    }

  // The catalog entries pin the 3-stage instance; this pins the N-stage
  // GENERALIZATION in operators/Sessionization: a 4-stage chain, both
  // physical forms, against a brute-force Scala truth (greedy ordered
  // chain — existence of an increasing stage chain per user).
  private val stages4 = Seq("signup" -> "1_signup", "click" -> "2_click",
    "view" -> "3_view", "purchase" -> "4_purchase")

  private def truth4(rows: Seq[(Long, Long, String)]): Seq[(String, Long)] = {
    val byUser = rows.zipWithIndex
      .map { case ((u, sec, t), i) => (u, sec * 1000000L, i.toLong, t) }
      .groupBy(_._1)
    val flags = byUser.values.map { evs =>
      val ordered = evs.sortBy(e => (e._2, e._3))
      // greedy: walk stages left to right through the ordered timeline
      val reached = stages4.map(_._1).foldLeft((0, ordered)) {
        case ((depth, rest), st) =>
          val idx = rest.indexWhere(_._4 == st)
          if (idx < 0) (depth, Nil)
          else (depth + 1, rest.drop(idx)) // at-or-after: same event can't repeat (ids unique), but equal ts can
      }._1
      reached
    }.toSeq
    ("0_active", flags.size.toLong) +: stages4.zipWithIndex.map {
      case ((_, label), i) => (label, flags.count(_ > i).toLong) }
  }

  property("4-stage funnelBucketed == funnel == brute-force truth") =
    forAll(eventsGen) { rows0 =>
      // remap some error events to signup so 4-chains occur
      val rows = rows0.map { case (u, s, t) =>
        (u, s, if (t == "error") "signup" else t) }
      val dir = writeEvents(rows)
      val ev = Records.table(spark, dir, "events")
      val plain = graft.operators.Sessionization
        .funnel(ev, stages4, "0_active")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val bucketed = graft.operators.Sessionization
        .funnelBucketed(ev, stages4, "0_active", bucketSeconds = B)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val expect = truth4(rows).sortBy(_._1)
      plain == expect && bucketed == expect
    }
}

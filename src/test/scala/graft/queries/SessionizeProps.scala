package graft.queries

import graft.SparkTestSession
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: the bucketed sessionizer (`e1b`) emits EXACTLY the plain
  * sessionizer's (`e1`) rows on random user timelines — bucketing must
  * be invisible. The generator concentrates events around 6-h bucket
  * boundaries and emits runs of sub-30-min gaps so sessions frequently
  * straddle (and chain across) buckets, plus long-idle users whose
  * buckets are far apart. */
object SessionizeProps extends Properties("Sessionize") {
  private lazy val spark = SparkTestSession.spark

  // every case runs real Spark jobs — one of the suite's heaviest
  // Props (build.sbt's graftSuiteSeconds), so 30 cases, not 100
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val B = 21600L
  // per user: a walk of gaps drawn from {tiny, just-under/over 30 min,
  // just-under/over a bucket}, started near a random bucket boundary
  private val userGen = for {
    user <- Gen.choose(0L, 4L)
    start <- Gen.choose(0L, 3L).map(_ * B)
    offset <- Gen.oneOf(-1900L, -10L, 0L, 10L, 1900L)
    gaps <- Gen.listOfN(30, Gen.oneOf(1L, 60L, 1799L, 1800L, 1801L,
      5000L, B - 1, B, B + 1))
  } yield {
    var t = math.max(0L, start + offset)
    gaps.map { g => t += g; (user, t) }
  }

  private val eventsGen = Gen.listOfN(4, userGen).map(_.flatten)

  private def run(name: String, dir: String): Seq[(Long, Long, Long, Long, Long)] =
    Catalog.byName(name).fn(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq

  property("e1b (bucketed) == e1 (plain) on random timelines") =
    forAll(eventsGen) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("graft_sess_").toString
      rows.zipWithIndex
        .map { case ((u, sec), i) => (i.toLong, sec * 1000000L, u) }
        .toDF("event_id", "us", "user_id")
        .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
          col("user_id"), lit("view").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      run("e1b_sessionize_bucketed", dir) == run("e1_sessionize", dir)
    }
}

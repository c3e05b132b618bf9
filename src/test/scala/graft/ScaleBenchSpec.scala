package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The scale-bench harness: workload resolution happens before any
  * Spark work, the shared single-file writer leaves exactly one named
  * file, and a file it drops into a live stream dir is consumed by the
  * next AvailableNow resume (the floor workload's "+1 file" arm). */
class ScaleBenchSpec extends AnyFunSuite {

  private def listing(dir: String): Seq[String] = {
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally ls.close()
  }

  test("an unknown workload fails before a session is built and lists the registry") {
    var built = false
    val e = intercept[IllegalArgumentException] {
      ScaleBench.run(Seq("no-such-workload", "x"), () => {
        built = true
        SparkTestSession.spark
      })
    }
    assert(!built, "a SparkSession was requested for an unknown workload")
    for (name <- Seq("ann", "bpe", "cluster", "dsir", "dsir-emit", "lm",
        "mix", "pack", "span", "span-emit", "topic", "floor"))
      assert(e.getMessage.contains(s"$name "), s"'$name' missing: ${e.getMessage}")
    // a known workload missing its required argument fails the same way
    intercept[IllegalArgumentException] {
      ScaleBench.run(Seq("lm"), () => { built = true; SparkTestSession.spark })
    }
    assert(!built)
  }

  test("writeSingleFile leaves exactly <dir>/<name>.parquet and no stage") {
    val spark = SparkTestSession.spark
    val dir = SessionTemp.dir("spec_single_file_")
    val out = BenchFixtures.writeSingleFile(spark.range(5).coalesce(1),
      dir, "documents-00")
    assert(out == Paths.get(dir, "documents-00.parquet").toString)
    assert(listing(dir) == Seq("documents-00.parquet"))
    assert(spark.read.parquet(out).count() == 5L)
    // a rewrite replaces the file in place
    BenchFixtures.writeSingleFile(spark.range(7).coalesce(1), dir,
      "documents-00")
    assert(listing(dir) == Seq("documents-00.parquet"))
    assert(spark.read.parquet(out).count() == 7L)
    // more than one part is refused, not silently truncated
    intercept[IllegalArgumentException] {
      BenchFixtures.writeSingleFile(spark.range(10).repartition(2), dir, "two")
    }
  }

  test("a file written into a live stream dir is read by the next AvailableNow resume") {
    val spark = SparkTestSession.spark
    val tmp = SessionTemp.dir("spec_resume_")
    val src = s"$tmp/src"
    spark.range(8).coalesce(1).write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val ckpt = s"$tmp/ckpt"
    assert(ScaleBench.availableNowRows(spark, src, schema, ckpt) == 8L)
    assert(ScaleBench.availableNowRows(spark, src, schema, ckpt) == 0L)
    BenchFixtures.writeSingleFile(spark.range(3).coalesce(1), src, "extra_1")
    assert(ScaleBench.availableNowRows(spark, src, schema, ckpt) == 3L)
  }
}

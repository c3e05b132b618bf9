package graft.sources

import graft.SparkTestSession
import graft.operators.{TopicSetOps, Transforms}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** B1/B2 observers and the F6 → T2 integration: a topic expansion is
  * detected, the observer refreshes, and the remap follows the new
  * count — the reference's observer → transformer feed
  * (`TopicPartitionCountObserver` → `DefaultMessageTransformer`). */
class TopicObserverSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def recordsWith(nPartitions: Int): DataFrame =
    (for (p <- 0 until nPartitions; o <- 0 to 2)
      yield ("click", p, o.toLong, s"v$p-$o"))
      .toDF("topic", "partition", "offset", "v")
      .withColumn("value", col("v").cast("binary")).drop("v")

  test("B1: catalog observes partition counts; refresh follows growth") {
    var source = recordsWith(2)
    val obs = TopicCatalogObserver.fromRecords(() => source)
    assert(obs.partitionCounts == Map("click" -> 2))
    source = recordsWith(4) // topic expanded
    assert(obs.partitionCounts == Map("click" -> 2)) // cached until refresh
    obs.refresh()
    assert(obs.partitionCounts == Map("click" -> 4))
  }

  test("F6 -> T2: expansion detected, remap follows the refreshed catalog") {
    var source = recordsWith(2)
    val obs = TopicCatalogObserver.fromRecords(() => source)
    val serving = obs.catalog
      .select(col("topic"), col("num_partitions").as("partition_count"))

    // records on 4 source partitions arrive; dst observer still sees 2
    val incoming = recordsWith(4)
    val remapBefore = Transforms.remapPartitionsViaCatalog(incoming, obs.catalog)
    assert(remapBefore.agg(max("partition")).head.getInt(0) == 1) // pmod 2

    // F6: the broker-side observation now reports 4 partitions
    val observed = TopicCatalogObserver.fromRecords(() => incoming).catalog
      .select(col("topic"), col("num_partitions").as("partition_count"))
    val expanded = TopicSetOps.detectExpandedTopics(serving, observed)
      .as[(String, Int, Int)].collect()
    assert(expanded.toSeq == Seq(("click", 2, 4)))

    // observer refresh → T2 output follows the new count
    source = recordsWith(4)
    obs.refresh()
    val remapAfter = Transforms.remapPartitionsViaCatalog(incoming, obs.catalog)
    assert(remapAfter.agg(max("partition")).head.getInt(0) == 3) // pmod 4
  }

  test("B2: unknown topics get a null partition (default partitioner)") {
    val catalog = Seq(("click", 2)).toDF("topic", "num_partitions")
    val recs = Seq(("click", 5), ("mystery", 3)).toDF("topic", "partition")
    val out = Transforms.remapPartitionsViaCatalog(recs, catalog)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(out("click") == 1)
    assert(out("mystery") == -1)
  }

  test("B1: csv-backed loader reads (topic,count) lines") {
    val dir = java.nio.file.Paths.get(graft.SessionTemp.dir("graft_b1_"))
    val f = dir.resolve("catalog.csv")
    java.nio.file.Files.writeString(f, "click,4\nview,2\n")
    val obs = TopicCatalogObserver.fromCsv(spark, f.toString)
    assert(obs.partitionCounts == Map("click" -> 4, "view" -> 2))
    assert(obs.topics == Set("click", "view"))
  }
}

package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.nearDupPairs]] against the explode-join verification it
  * replaced, restated here as the reference: every (doc, shingle) row
  * exploded, the intersection counted by an equi-join on the shingle,
  * the sizes by a group-by. Over the [[Dedup.shingles]] contract
  * (distinct, non-null `ws`, one row per doc) both forms must return
  * the same pairs with bit-identical Jaccard values. */
class DedupSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** 240 seeded random docs plus 60 planted near copies with 0-12
    * word substitutions each, so candidate Jaccards spread from 1.0
    * down past the 0.4 cut; every 20th planted copy is exact. */
  private def corpus: DataFrame = {
    val rnd = new scala.util.Random(20260418L)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc(len: Int) = IndexedSeq.fill(len)(vocab(rnd.nextInt(vocab.size)))
    val base = (0L until 240L).map(i => i -> doc(25 + rnd.nextInt(30)))
    val copies = (0 until 60).map { k =>
      val toks = base(rnd.nextInt(base.size))._2
      val edits = if (k % 20 == 0) 0 else rnd.nextInt(13)
      val edited = (0 until edits).foldLeft(toks) { (t, _) =>
        t.updated(rnd.nextInt(t.size), vocab(rnd.nextInt(vocab.size)))
      }
      (1000L + k) -> edited
    }
    (base ++ copies).map { case (id, t) => (id, t.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** The explode-join verification, kept as the reference. */
  private def referencePairs(shingled: DataFrame,
      threshold: Double): DataFrame = {
    val bands = Dedup.bandTable(shingled)
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.band_hash" === $"y.band_hash" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b")).distinct()
    val uni = shingled.select(col("doc_id"), explode(col("ws")).as("w"))
    val sizes = uni.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand
      .join(uni.select(col("doc_id").as("doc_a"), col("w")), "doc_a")
      .join(uni.select(col("doc_id").as("doc_b"), col("w")), Seq("doc_b", "w"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("nearDupPairs == the explode-join verification at thresholds 0.0 and 0.4") {
    val sh = Dedup.shingles(corpus).cache()
    try {
      val counts = Seq(0.0, 0.4).map { t =>
        val got = rows(Dedup.nearDupPairs(spark, sh, t))
        val want = rows(referencePairs(sh, t))
        assert(got === want, s"threshold $t")
        got.size
      }
      // the planted copies are found, and the low threshold keeps the
      // partial ones the 0.4 cut drops
      assert(counts(1) >= 30, s"pairs at 0.4: ${counts(1)}")
      assert(counts(0) > counts(1), s"pairs at 0.0 vs 0.4: $counts")
    } finally sh.unpersist()
  }

  test("nearDupPairs lands its result: the returned relation reads parquet") {
    val sh = Dedup.shingles(corpus)
    val pairs = Dedup.nearDupPairs(spark, sh)
    val plan = pairs.queryExecution.optimizedPlan.toString
    assert(!plan.contains("minhash_lsh_bands") && !plan.contains("word_ngrams"),
      s"the pair relation re-plans LSH:\n$plan")
    assert(pairs.columns.toSeq === Seq("doc_a", "doc_b", "jaccard"))
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() === 0L)
  }
}

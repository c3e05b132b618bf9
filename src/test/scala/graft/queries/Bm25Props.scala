package graft.queries

import graft.SparkTestSession
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property: `x15_bm25_topk` equals a plain-Scala BM25 model on random
  * corpora. The model recomputes score_micro with the SAME IEEE op
  * order (and the same `math.log`) and ranks by (score desc, doc_id),
  * so the property pins tokenization, the in-row tf-vector reduction,
  * df/stats, the floored-micro arithmetic, and the WindowGroupLimit
  * ranking — including exact integer ties, empty documents, and query
  * terms absent from the corpus. The generator draws most tokens from
  * the query vocabulary (dense matches, frequent score ties via
  * repeated (dl, tf) shapes) plus noise words, and makes corpora small
  * enough that the top-10 cut frequently lands inside a tie run. */
object Bm25Props extends Properties("Bm25") {
  private lazy val spark = SparkTestSession.spark

  // every case runs real Spark jobs — one of the suite's heaviest
  // Props (build.sbt's graftSuiteSeconds), so 30 cases, not 100
  override def overrideParameters(
      p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(30)
  import org.apache.spark.sql.functions._

  private val queryTerms: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "stream", 1L -> "join",
    2L -> "fast", 2L -> "query",
    3L -> "hash", 3L -> "table", 3L -> "scan",
    4L -> "slow", 4L -> "window", 4L -> "merge")
  private val qVocab = queryTerms.map(_._2).distinct
  private val noise = Seq("alpha", "beta", "gamma", "delta")

  private val docGen: Gen[String] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 25))
    ws <- Gen.listOfN(n,
      Gen.frequency(3 -> Gen.oneOf(qVocab), 1 -> Gen.oneOf(noise)))
  } yield ws.mkString(" ")

  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(1, 30)
    texts <- Gen.listOfN(n, docGen)
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  /** Plain-Scala BM25, op-for-op the query's arithmetic. */
  private def model(corpus: Seq[(Long, String)])
      : Seq[(Long, Long, Long, Long)] = {
    val toks = corpus.map { case (id, t) =>
      id -> t.split(" ", -1).filter(_.nonEmpty).toSeq }
    val n = toks.size.toLong
    val sumdl = toks.map(_._2.size.toLong).sum
    val tf = for {
      (id, ts) <- toks
      t <- qVocab
      c = ts.count(_ == t).toLong
      if c > 0
    } yield (id, ts.size.toLong, t, c)
    val df = tf.groupBy(_._3).map { case (t, rs) => t -> rs.size.toLong }
    val contrib = for {
      (id, dl, t, c) <- tf
      (qid, qt) <- queryTerms if qt == t
    } yield {
      val idf = math.log(
        ((n - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5) + 1.0)
      val c2 = math.floor(idf * (c.toDouble * 2.2) /
        (c.toDouble + 1.2 * (0.25 +
          0.75 * dl.toDouble * n.toDouble / sumdl.toDouble)) *
        1000000.0).toLong
      (qid, id, c2)
    }
    contrib.groupBy(x => (x._1, x._2)).toSeq
      .map { case ((q, d), rs) => (q, d, rs.map(_._3).sum) }
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(10).zipWithIndex
          .map { case ((q, d, s), i) => (q, (i + 1).toLong, d, s) }
      }.sortBy(r => (r._1, r._2))
  }

  property("x15 == plain-Scala BM25 on random corpora") =
    forAll(corpusGen) { corpus =>
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_").toString
      import spark.implicits._
      corpus.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("src0").as("source"), length(col("text")).cast("long")
            .as("n_chars"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = Catalog.byName("x15_bm25_topk").fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      got == model(corpus)
    }
}

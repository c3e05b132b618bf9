package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup}

/** `curate`: the batch training-data funnel over a seeded corpus. One
  * pass runs the near-duplicate stage (`Dedup.shingles` →
  * `nearDupPairs` → `dropIds`, anti-joined off the corpus) and then
  * `Curation.funnel(exactDedup, decontaminate, qualityMetric,
  * selectTokenBudget)`. Passes repeat until the time budget is spent,
  * at least two; `wall_s` is the median pass. A traced run instead runs
  * two untraced and two traced passes, for the tracing overhead, then the
  * per-stage and per-kernel measurements.
  *
  * Correctness: every pass's result must equal the stage-by-stage
  * composition of the same operators with each stage boundary written
  * out. That composition runs once in set-up, where it also warms the
  * code paths the passes take. */
object Curate {

  val Docs = 16000
  val SmokeDocs = 1500

  private def stages: Seq[Curation.Stage] = Seq(
    Curation.exactDedup(),
    Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
    Curation.qualityMetric(),
    Curation.selectTokenBudget(1, 2))

  /** Names of the near-dup stage and the funnel's stages, as reported. */
  private val StageNames = Seq("near_dup", "exact_dedup", "decontaminate", "quality", "select")
  private val Kernels = Seq("word_ngrams", "minhash_bands", "span_hashes")
  val KernelCopies = 8

  /** The per-layer metrics only this workload does work for. */
  val LayerMetrics: Seq[(String, String)] =
    StageNames.flatMap(n => Seq(s"operators.${n}_ms" -> "ms", s"operators.${n}_rows_out" -> "count")) ++
      Seq("operators.lsh_candidates" -> "count", "operators.lsh_confirmed_frac" -> "frac") ++
      Kernels.map(k => s"functions.${k}_rows_per_s" -> "1/s")

  /** (rows, order-free row hash sum) of a relation. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def materialize(s: SparkSession, df: DataFrame, dir: String): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  private def nearDup(ctx: Ctx, corpus: DataFrame, tracer: Tracer): DataFrame = {
    val s = ctx.spark
    // nearDupPairs reads its shingle relation through five plan branches;
    // its contract is to be handed a materialized one
    val sh = tracer.span("operators", "Dedup.shingles") {
      materialize(s, Dedup.shingles(corpus), ctx.dir("shingles"))
    }
    tracer.span("operators", "Dedup.nearDupPairs+dropIds") {
      corpus.join(Dedup.dropIds(Dedup.nearDupPairs(s, sh)), Seq("doc_id"), "left_anti")
    }
  }

  /** One pass as a user runs it: near-dup drop, then the lazy funnel. */
  def pass(ctx: Ctx, corpusDir: String, tracer: Tracer): (Long, Long) = {
    val corpus = ctx.spark.read.parquet(corpusDir)
    val kept = nearDup(ctx, corpus, tracer)
    tracer.span("operators", "Curation.funnel")(checksum(Curation.funnel(kept, stages)))
  }

  /** The same operators with every stage boundary written out: the
    * correctness reference, and in a traced run the source of the
    * per-stage time and rows out. */
  def staged(ctx: Ctx, corpusDir: String, tracer: Tracer,
      r: Option[Result]): (Long, Long) = {
    val s = ctx.spark
    val corpus = s.read.parquet(corpusDir)
    val fns: Seq[DataFrame => DataFrame] =
      (nearDup(ctx, _: DataFrame, tracer)) +: stages.map(st => st.transform)
    val out = StageNames.zip(fns).foldLeft(corpus) { case (df, (name, f)) =>
      val (res, sec) = Main.time {
        tracer.span("operators", name) { materialize(s, f(df), ctx.dir(name)) }
      }
      r.foreach { rr =>
        rr.put(s"operators.${name}_ms", sec * 1000, "ms")
        rr.put(s"operators.${name}_rows_out", res.count().toDouble, "count")
      }
      res
    }
    checksum(out)
  }

  /** Kernel throughput: each codegen'd function as a noop projection over
    * the corpus text repeated `KernelCopies` times and cached, median of
    * three. Over the corpus once, a projection took tens of milliseconds,
    * mostly the job's fixed cost. */
  def functions(corpus: DataFrame, tracer: Tracer, r: Result): Unit = {
    val text = corpus.select("text")
      .crossJoin(broadcast(corpus.sparkSession.range(KernelCopies).toDF("copy")))
      .select("text").repartition(Main.Cores).cache()
    val n = text.count().toDouble
    val ws = text.select(expr("word_ngrams(text, 3)").as("ws")).cache()
    ws.count()
    def rate(name: String, df: DataFrame): Unit = {
      val secs = (0 until 3).map { _ =>
        Main.time(tracer.span("functions", name) {
          df.write.format("noop").mode("overwrite").save()
        })._2
      }
      r.put(s"functions.${name}_rows_per_s", n / Stats.median(secs), "1/s")
    }
    val projections = Seq(text.select(expr("word_ngrams(text, 3)")),
      ws.select(expr("minhash_lsh_bands(ws)")), text.select(expr("span_hashes_pos(text, 8, 1L)")))
    Kernels.zip(projections).foreach { case (k, df) => rate(k, df) }
    ws.unpersist(); text.unpersist()
  }

  def writeCorpus(ctx: Ctx, docs: Seq[Gen.Doc]): String = {
    val dir = ctx.dir("corpus")
    val s = ctx.spark
    import s.implicits._
    docs.toDS().repartition(Main.Cores).write.mode("overwrite").parquet(dir)
    dir
  }

  def run(ctx: Ctx, r: Result): Unit = {
    val s = ctx.spark
    val n = if (ctx.smoke) SmokeDocs else Docs
    // set-up: generate and write the corpus three times, compute the
    // reference, then one untimed pass: the first pass of a JVM runs up to
    // a third slower than later ones while the JIT settles
    val (dirs, genS) = Main.setupReps(3)(_ => writeCorpus(ctx, Gen.corpus(ctx.seed, n)))
    val corpusDir = dirs.last
    val ((reference, warm), refS) = Main.time {
      (staged(ctx, corpusDir, Tracer.Off, None), pass(ctx, corpusDir, Tracer.Off))
    }
    r.extra("docs") = n.toString
    r.extra("result_rows") = reference._1.toString
    def untraced() = Main.time(pass(ctx, corpusDir, Tracer.Off))
    val outs = Seq.newBuilder[(Long, Long)]
    outs += warm

    if (!ctx.trace) {
      r.put("setup_s", genS + refS, "s")
      // timed passes repeat for the time budget, at least two
      val t0 = System.nanoTime()
      val walls = Seq.newBuilder[Double]
      var k = 0
      while (k < 2 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val (out, sec) = untraced()
        outs += out
        walls += sec
        k += 1
      }
      r.put("wall_s", Stats.median(walls.result()), "s")
      r.extra("pass_s") = walls.result().map(Json.num).mkString("[", ",", "]")
    } else {
      // passes in the order U T T U, untraced and traced: passes still
      // speed up from one to the next, and the symmetric order cancels a
      // steady drift out of the overhead. A staged pass, the kernel
      // projections and the LSH counts follow, traced, for the per-stage
      // and per-kernel figures.
      val tracing = new Tracing(s, ctx.runId)
      val tracer = tracing.tracer
      def traced() = tracing.on(Main.time(tracer.span("bench", "pass")(pass(ctx, corpusDir, tracer))))
      val abba = Seq(untraced(), traced(), traced(), untraced())
      tracing.on {
        outs += tracer.span("bench", "staged")(staged(ctx, corpusDir, tracer, Some(r)))
        tracer.span("bench", "functions")(functions(s.read.parquet(corpusDir), tracer, r))
        tracer.span("bench", "lsh_counts")(lshCounts(ctx, corpusDir, r))
      }
      outs ++= abba.map(_._1)
      val secs = abba.map(_._2)
      tracing.spark.metrics.foreach { case (k, v, u) => r.put(k, v, u) }
      r.put("trace.overhead_frac", (secs(1) + secs(2)) / (secs(0) + secs(3)) - 1, "frac")
      r.extra("abba_pass_s") = secs.map(Json.num).mkString("[", ",", "]")
      r.bypass(Replicate.LayerMetrics)
      Main.finishTrace(ctx, tracer, r)
    }
    val checked = outs.result()
    r.attempted = checked.size
    r.fail(checked.count(_ != reference),
      s"curate result differs from the staged composition ($reference)")
  }

  /** LSH candidate pairs (band collisions) and the share the exact
    * Jaccard check confirms, counted outside the timed passes. */
  private def lshCounts(ctx: Ctx, corpusDir: String, r: Result): Unit = {
    val s = ctx.spark
    import s.implicits._
    val sh = materialize(s, Dedup.shingles(s.read.parquet(corpusDir)), ctx.dir("lsh"))
    val bands = Dedup.bandTable(sh)
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.band_hash" === $"y.band_hash" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id").distinct().count()
    val confirmed = Dedup.nearDupPairs(s, sh).count()
    r.put("operators.lsh_candidates", cand.toDouble, "count")
    r.put("operators.lsh_confirmed_frac", confirmed.toDouble / math.max(1L, cand), "frac")
  }
}

package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.operators.{Bpe, Clustering, Dedup, Dsir, LanguageModel, Packing,
  Selection, Similarity, TextAnalysis}
import graft.sources.{DynamicTopicLogStream, FileTopicLog, Records, TopicLogOffset}
import graft.streaming.{IncrementalDsir, IncrementalSpanCensus}

/** Scale curves for the library's operators and streaming modules: one
  * main, one workload per run, each printing JSON lines on stdout. The
  * catalog bench (`graft.Bench`) pins fixture-sized entries for the
  * DuckDB oracle; these workloads instead hold a design claim ("cost
  * tracks the vocabulary, not the corpus", "the emission is
  * delta-sized") against `GenData` multiples, so each line carries the
  * scale (`docs`, `sf`) next to its seconds.
  *
  * Usage: `ScaleBench <workload> <args…>`; the session is `local[N]`
  * with N = `SPARK_GRAFT_CPUS` (default 32) and is only built when a
  * workload first touches Spark.
  *
  * {{{
  * workload   arguments                                   JSON fields
  * ---------  ------------------------------------------  ------------------------------------------
  * ann        <sfDir> [targetCellSize=2000]               vectors n_cells oneshot_sec build_sec
  *                                                        probe_sec topk_rows
  * bpe        <sfDir>|zipf:<docs>:<vmax> [nMerges=16]     metric=bpe_scale docs vocab build_sec rounds
  *            [batchSize=1] [skipDirect]                  batch_size driver_rounds accept_ratio
  *                                                        rounds_sec sec_per_merge tokenize_sec
  *                                                        tokenize_vocab_sec sf
  * cluster    <sfDir> [targetClusterSize=2000]            metric=cluster_scale mode docs k
  *            [--two-level]                               target_cluster assign_sec dedup_sec drops
  *                                                        max_cluster pair_work sf
  * dsir       <sfDir> [stream|sweep]                      metric=dsir_scale phase=fit|fit_sampled_16|
  *                                                        score|resample|stream|bucket_sweep docs sec …
  * dsir-emit  <sfDir> [slices=8]                          docs slices emit_incremental_sec
  *                                                        emit_accumulated_sec refresh_sec k
  * lm         <sfDir>                                     metric=lm_scale docs sec scored_docs
  *                                                        n_bigrams sf
  * mix        <sfDir>                                     metric=mix_scale phase=metric_build|select|
  *                                                        mix_epochs docs sec rows kept_tokens …
  * pack       <sfDir> [shardSpan=docs/64]                 metric=pack_hot docs shard_span flat_sec
  *                                                        flat_max_task sharded_sec sharded_max_task
  *                                                        rows_equal sf
  * span       <sfDir> [mod…=4 16] [stream]                metric=span_scale docs mod census_sec
  *            [literal] [bloom] [sampled]                 repeated_spans sf; metric=span_stream …;
  *                                                        metric=span_dedup mode … cut_frac
  * span-emit  <docs> [deltaRows=5000] [mainSlices=4]      docs delta_rows emit_bounded_sec
  *                                                        emit_accumulated_sec
  * topic      [iters=40] [--stream]                       metric=topiclog_metadata_walk tp_ratio
  *                                                        tps_<n>{uncached_ms steady_ms dirty1_ms
  *                                                        allhot_exact_ms cut_walk_ms
  *                                                        commit_return_ms cut_snapshot_ms
  *                                                        cut_perpart_ms}
  *                                                        wide_256{…} iters;
  *                                                        metric=topiclog_stream_drain_1000tp …
  * floor      <sfDir>                                     metric=lifecycle_floor fresh_sec
  *                                                        resume_nodata_sec resume_1file_sec
  *                                                        resume_1file_rows d20_* final_read_sec
  * }}}
  */
object ScaleBench {

  /** What every workload shares: a session built on first use (so
    * `topic`'s driver-side walk runs before Spark starts) and the
    * parallelism floor. */
  final class Ctx(newSession: () => SparkSession) {
    private var started = false
    lazy val spark: SparkSession = {
      started = true
      val s = newSession()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    /** A small fixture can be ONE parquet row group — 1-2 input splits
      * would starve the scan side on 32 cores. */
    def floor(df: DataFrame): DataFrame = {
      val par = spark.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < par) df.repartition(par) else df
    }

    def stop(): Unit = if (started) spark.stop()
  }

  /** Result and wall seconds of `f`. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private final case class Workload(usage: String,
      run: (Ctx, Seq[String]) => Unit)

  private val workloads: ListMap[String, Workload] = ListMap(
    "ann" -> Workload("<sfDir> [targetCellSize]", ann),
    "bpe" -> Workload(
      "<sfDir>|zipf:<docs>:<vmax> [nMerges] [batchSize] [skipDirect]", bpe),
    "cluster" -> Workload("<sfDir> [targetClusterSize] [--two-level]",
      cluster),
    "dsir" -> Workload("<sfDir> [stream|sweep]", dsir),
    "dsir-emit" -> Workload("<sfDir> [slices]", dsirEmit),
    "lm" -> Workload("<sfDir>", lm),
    "mix" -> Workload("<sfDir>", mix),
    "pack" -> Workload("<sfDir> [shardSpan]", pack),
    "span" -> Workload("<sfDir> [mod…] [stream] [literal|bloom|sampled…]",
      span),
    "span-emit" -> Workload("<docs> [deltaRows] [mainSlices]", spanEmit),
    "topic" -> Workload("[iters] [--stream]", topic),
    "floor" -> Workload("<sfDir>", floorProbe),
  )

  def main(args: Array[String]): Unit =
    run(args.toSeq, () => Sessions.local(s"graft-scale-${args(0)}",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))

  /** Resolve and check the workload BEFORE any session exists: a typo
    * must fail in milliseconds, not after Spark starts. */
  private[graft] def run(args: Seq[String],
      newSession: () => SparkSession): Unit = {
    val name = args.headOption.getOrElse("")
    val w = workloads.getOrElse(name, throw new IllegalArgumentException(
      s"unknown workload '$name' — use one of: " +
        workloads.map { case (n, w) => s"$n ${w.usage}" }.mkString("; ")))
    require(w.usage.startsWith("[") || args.length > 1,
      s"usage: ScaleBench $name ${w.usage}")
    val ctx = new Ctx(newSession)
    try w.run(ctx, args.drop(1)) finally ctx.stop()
  }

  private def embeddings(c: Ctx, sfDir: String): DataFrame =
    c.floor(Records.table(c.spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))

  /** Probe-vs-rebuild curve for the persisted IVF index: the one-shot
    * [[Similarity.ivfTopK]] pays seed fit + full corpus assignment on
    * EVERY query set, the persisted form pays it once and serves each
    * probe from a directory-pruned scan of the probed cells. nCells is
    * corpus-scaled (expected cell size held near `targetCellSize`,
    * floored at 8) so the probe's pruned share stays nprobe/nCells as
    * the corpus grows. */
  private def ann(c: Ctx, args: Seq[String]): Unit = {
    val target = args.lift(1).fold(2000L)(_.toLong)
    val emb = embeddings(c, args(0))
    val n = emb.count()
    val nCells = math.max(8L, (n + target - 1) / target).toInt
    val queryPred = col("vec_id") < 20
    val (oneShotRows, oneShotSec) = timed(Similarity.ivfTopK(emb, queryPred,
      k = 3, nCells = nCells, nprobe = 2).count())
    val idx = SessionTemp.dir("ann_scale_idx_")
    val (_, buildSec) = timed(
      Similarity.buildIvfIndex(emb, idx, "annbench", nCells = nCells))
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val (probeRows, probeSec) = timed(
      Similarity.probeIvfIndex(c.spark, idx, q, k = 3, nprobe = 2).count())
    require(probeRows == oneShotRows,
      s"probe row count $probeRows != one-shot $oneShotRows")
    println(f"""{"vectors":$n,"n_cells":$nCells,"oneshot_sec":$oneShotSec%.2f,"build_sec":$buildSec%.2f,"probe_sec":$probeSec%.2f,"topk_rows":$probeRows}""")
  }

  /** The BPE trainer's claim: the corpus is scanned ONCE (vocabulary
    * aggregate) and every merge round is VOCABULARY-sized, so round
    * cost tracks |vocab| (Heaps' law: ~√corpus), not the corpus.
    * `batchSize > 1` trains with [[Bpe.trainMergesBatched]] (merge
    * tables are order-equivalent — BpeSpec — so sequential-vs-batched
    * `rounds_sec` is a pure job-overhead comparison). The apply phase
    * is timed both ways: `tokenize_sec` (direct in-row rewrite) and
    * `tokenize_vocab_sec` (via-vocab join). `skipDirect` omits the
    * direct rewrite, which pays a corpus materialization per merge
    * chunk (45.5 s at 500k docs / 401 merges, past 10 min at 5M docs).
    *
    * `zipf:<docs>:<vmax>` synthesizes a Heaps-law-richer corpus (the
    * fixture's ~982-type vocab exhausts real merge budgets early):
    * each doc is 40 tokens drawn log-uniformly over ranks 1..vmax
    * (≈ Zipf p(r) ∝ 1/r), spelled as the rank's base-36 encoding.
    * Deterministic (xxhash64 of (doc, position) — no driver RNG). */
  private def bpe(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val nMerges = args.lift(1).fold(16)(_.toInt)
    val batchSize = args.lift(2).fold(1)(_.toInt)
    val skipDirect = args.lift(3).contains("skipDirect")
    val spark = c.spark
    val raw =
      if (sfDir.startsWith("zipf:")) {
        val parts = sfDir.split(":")
        val (nDocs, vmax) = (parts(1).toLong, parts(2).toLong)
        spark.range(nDocs).select(col("id").as("doc_id"),
          expr(s"""concat_ws(' ', transform(sequence(1, 40), j ->
            |conv(cast(pow($vmax,
            |  (pmod(xxhash64(concat(cast(id as string), '_',
            |    cast(j as string))), 1000000) + 0.5) / 1000000.0)
            |  as bigint), 10, 36)))""".stripMargin).as("text"))
      } else Records.table(spark, sfDir, "documents")
    val base = c.floor(raw)
    val n = base.count()

    // phase 1 — the ONE corpus scan: vocabulary aggregate, materialized
    val vocabTmp = SessionTemp.dir("bpe_scale_vocab_")
    val ((vocab, v), buildSec) = timed {
      base.select(explode(expr(TextAnalysis.tokensExpr)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(vocabTmp)
      val vocab = spark.read.parquet(vocabTmp)
      (vocab, vocab.count())
    }

    // phase 2 — the merge rounds, each vocabulary-sized
    val driverRounds = new AtomicLong(0)
    val (mergeRows, roundsSec) = timed((if (batchSize > 1)
        Bpe.trainMergesBatched(vocab, nMerges, batchSize,
          roundsOut = Some(driverRounds))
      else Bpe.trainMerges(vocab, nMerges)).collect())
    val merges = mergeRows.length.toLong
    // sequential trainer = one driver round-trip per merge by definition
    val rounds = if (batchSize > 1) driverRounds.get() else merges

    // phase 3 — corpus tokenization with the trained merges (x9d)
    val ms = mergeRows.sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val tokSec = if (skipDirect) -1.0 else timed(
      Bpe.tokenizeCorpus(base, ms).agg(sum("n_bpe_tokens")).collect())._2
    val (_, tokVocabSec) = timed(
      Bpe.tokenCountsViaVocab(base, ms).agg(sum("n_bpe_tokens")).collect())

    println(f"""{"metric":"bpe_scale","docs":$n,"vocab":$v,""" +
      f""""build_sec":$buildSec%.2f,"rounds":$merges,""" +
      f""""batch_size":$batchSize,""" +
      f""""driver_rounds":$rounds,""" +
      f""""accept_ratio":${merges.toDouble / math.max(rounds, 1)}%.2f,""" +
      f""""rounds_sec":$roundsSec%.2f,""" +
      f""""sec_per_merge":${roundsSec / math.max(merges, 1)}%.3f,""" +
      f""""tokenize_sec":$tokSec%.2f,"tokenize_vocab_sec":$tokVocabSec%.2f,""" +
      f""""sf":"$sfDir"}""")
  }

  /** The clustering wing under CORPUS-SCALED k: the catalog entries pin
    * k=8 for oracle parity, but the 100-TB claim is `adaptiveK` — hold
    * the expected cluster size fixed so [[Clustering.semanticDrops]]'
    * Σ size² pair stage stays LINEAR in the corpus while the per-row
    * argmin grows only k·d flops. The fit mode is pinned (flat, or
    * `--two-level`) so each curve measures ONE path. */
  private def cluster(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val target = args.lift(1).fold(2000L)(_.toLong)
    val twoLevel = args.contains("--two-level")
    val emb = embeddings(c, sfDir)
    val n = emb.count()
    val k = Clustering.adaptiveK(n, target)

    val (asg, assignSec) = timed {
      val asg = Clustering.kMeansAssign(emb, k, iters = 2,
        twoLevel = Some(twoLevel))
      asg.write.mode("overwrite")
        .parquet(SessionTemp.dir("cluster_scale_assign"))
      asg
    }
    // max + Σ size² (the dedup pair stage's actual work) in one pass
    val stats = asg.groupBy("cluster").count()
      .agg(max("count"), sum(col("count") * col("count"))).collect()(0)
    val (drops, dedupSec) = timed(Clustering.semanticDrops(emb, k, iters = 2,
      tau = 0.35, twoLevel = Some(twoLevel)).count())

    val mode = if (twoLevel) "two_level" else "flat"
    println(f"""{"metric":"cluster_scale","mode":"$mode","docs":$n,""" +
      f""""k":$k,"target_cluster":$target,"assign_sec":$assignSec%.2f,""" +
      f""""dedup_sec":$dedupSec%.2f,"drops":$drops,""" +
      f""""max_cluster":${stats.getLong(0)},"pair_work":${stats.getLong(1)},""" +
      f""""sf":"$sfDir"}""")
  }

  /** The p17 DSIR wing: fit (two scans ending in 4096-bucket-bounded
    * aggregations — target is the src0 slice, raw the rest), score
    * (ONE raw-pool scan, in-row log-ratio fold — zero shuffle), Gumbel
    * top-k resample from the materialized scored relation — each ~linear
    * in docs with no state beyond the 4096-double literal.
    *  - `stream` adds the p17d maintenance phase: the raw model kept
    *    incrementally over 16 micro-batches ([[IncrementalDsir]]), one
    *    accumulated resample, against the pure-batch wall.
    *  - `sweep` adds the bucket-count robustness phase: fit + score at
    *    B ∈ {1024, 16384}, each compared to 4096 by Pearson correlation
    *    of per-doc logw and top-k overlap. */
  private def dsir(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val spark = c.spark
    val docs = c.floor(Records.table(spark, sfDir, "documents"))
    val n = docs.count()
    val target = docs.filter(col("source") === "src0")
    val pool = docs.filter(col("source") =!= "src0")
    def line(phase: String, fields: String): Unit =
      println(s"""{"metric":"dsir_scale","phase":"$phase","docs":$n,""" +
        s"""$fields,"sf":"$sfDir"}""")

    val (lr, fitSec) = timed(
      Dsir.importanceLogRatios(target, pool, buckets = 4096))
    line("fit", f""""sec":$fitSec%.2f""")
    // the p17c lever: raw model from a 1/16 digest-gated subsample
    val (_, fitSampledSec) = timed(Dsir.importanceLogRatios(target, pool,
      buckets = 4096, rawSampleMod = 16))
    line("fit_sampled_16", f""""sec":$fitSampledSec%.2f""")

    // score once, materialized (the production shape: one scored
    // relation, many downstream resamples/thresholds read it)
    val tmp = SessionTemp.dir("graft_dsir_scale_")
    val (_, scoreSec) = timed(
      Dsir.importanceWeights(pool, lr).write.mode("overwrite").parquet(tmp))
    val scored = spark.read.parquet(tmp)
    val agg = scored.agg(count(lit(1)), avg("logw")).head()
    line("score", f""""sec":$scoreSec%.2f,"rows":${agg.getLong(0)},""" +
      f""""avg_logw":${agg.getDouble(1)}%.4f""")

    val k = math.max(1000L, n / 100L).toInt
    val (got, resampleSec) = timed(Dsir.gumbelResample(scored, k = k)
      .agg(count(lit(1))).head().getLong(0))
    line("resample", f""""sec":$resampleSec%.2f,"k":$k,"rows":$got""")

    if (args.lift(1).contains("stream")) {
      val sliced = BenchFixtures.sliceDocs(spark, sfDir, 16,
        "dsir_stream_docs_")
      val work = SessionTemp.dir("dsir_stream_work_")
      val (_, runSec) = timed(
        IncrementalDsir.run(spark, sliced, work, buckets = 4096))
      val (rows, resSec) = timed(IncrementalDsir.resampleAccumulated(
          spark, work, target, pool, k = k)
        .agg(count(lit(1))).head().getLong(0))
      // batch baseline over the same corpus, end to end
      val (_, batchSec) = timed {
        val blr = Dsir.importanceLogRatios(target, pool, buckets = 4096)
        Dsir.gumbelResample(Dsir.importanceWeights(pool, blr)
            .select(col("doc_id"), col("logw")), k = k)
          .agg(count(lit(1))).head().getLong(0)
      }
      line("stream", f""""batches":16,"stream_run_sec":$runSec%.2f,""" +
        f""""stream_resample_sec":$resSec%.2f,"rows":$rows,""" +
        f""""batch_total_sec":$batchSec%.2f,"k":$k""")
    }

    if (args.lift(1).contains("sweep")) {
      val base = scored.select(col("doc_id"), col("logw"))
      val baseTop = base.orderBy(desc("logw"), col("doc_id")).limit(k)
        .select("doc_id")
      for (b <- Seq(1024, 16384)) {
        val tmpB = SessionTemp.dir(s"graft_dsir_b${b}_")
        val (_, sec) = timed {
          val lrB = Dsir.importanceLogRatios(target, pool, buckets = b)
          Dsir.importanceWeights(pool, lrB)
            .select(col("doc_id"), col("logw").as("logw_b"))
            .write.mode("overwrite").parquet(tmpB)
        }
        val sb = spark.read.parquet(tmpB)
        // corr() is NULL on zero variance / empty join — record NaN
        // rather than dying after the fit+score was already paid
        val cRow = base.join(sb, "doc_id")
          .agg(corr(col("logw"), col("logw_b"))).head()
        val corrB = if (cRow.isNullAt(0)) Double.NaN else cRow.getDouble(0)
        val overlap = baseTop
          .join(sb.orderBy(desc("logw_b"), col("doc_id")).limit(k)
            .select("doc_id"), "doc_id")
          .count()
        line("bucket_sweep", f""""buckets":$b,"sec":$sec%.2f,""" +
          f""""corr_vs_4096":$corrB%.4f,""" +
          f""""topk_overlap":${overlap.toDouble / k}%.3f,"k":$k""")
      }
    }
  }

  /** The bounded streaming-DSIR emission: the accumulated read path
    * re-scores the full pool per emission (linear in the corpus), the
    * bounded path merges ≤ k-row per-batch partials under a frozen
    * epoch (parameter-sized). Also times one epoch refresh — the
    * linear cost the bounded design pays per REFRESH instead of per
    * emission. */
  private def dsirEmit(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val slices = args.lift(1).fold(8)(_.toInt)
    val spark = c.spark
    val n = Records.table(spark, sfDir, "documents").count()
    // one file = one micro-batch under the runner's maxFilesPerTrigger=1
    val streamDir = BenchFixtures.sliceDocs(spark, sfDir, slices,
      "dsir_emit_docs_")
    val sliced = spark.read
      .option("pathGlobFilter", "documents*.parquet").parquet(streamDir)
    val target = sliced.filter(col("source") === "src0")
    val pool = sliced.filter(col("source") =!= "src0")
    val workDir = SessionTemp.dir("dsir_emit_work_")
    IncrementalDsir.runScored(spark, streamDir, workDir, target, k = 200)

    val (incRows, incSec) = timed(
      IncrementalDsir.resampleIncremental(spark, workDir, k = 200).count())
    val (accRows, accSec) = timed(IncrementalDsir.resampleAccumulated(spark,
      workDir, target, pool, k = 200).count())
    require(incRows == accRows, s"row counts drifted: $incRows vs $accRows")
    val (_, refreshSec) = timed(
      IncrementalDsir.refreshEpoch(spark, workDir, target, pool, k = 200))

    println(f"""{"docs":$n,"slices":$slices,"emit_incremental_sec":$incSec%.2f,"emit_accumulated_sec":$accSec%.2f,"refresh_sec":$refreshSec%.2f,"k":200}""")
  }

  /** x14 perplexity at scale: scoring from the materialized
    * (id, prev, cur) bigram stream. */
  private def lm(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val docs = c.floor(Records.table(c.spark, sfDir, "documents"))
    val n = docs.count()
    val (scored, sec) = timed(LanguageModel.bigramPerplexity(docs)
      .agg(count(lit(1)), sum("n_bigrams")).collect()(0))
    println(f"""{"metric":"lm_scale","docs":$n,"sec":$sec%.2f,""" +
      f""""scored_docs":${scored.getLong(0)},""" +
      f""""n_bigrams":${scored.getLong(1)},"sf":"$sfDir"}""")
  }

  /** The p16/p16b domain-mix wing: metric build (one corpus scan to the
    * narrow (doc, source, n_tok, quality) relation, materialized),
    * per-domain budget selection and the capped-repetition mix. The
    * claim: select/mix seconds grow ~linearly with docs while the
    * window state stays rank-domain-sized. */
  private def mix(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val spark = c.spark
    import spark.implicits._
    val docs = c.floor(Records.table(spark, sfDir, "documents"))
    val n = docs.count()
    def line(phase: String, sec: Double, fields: String): Unit =
      println(f"""{"metric":"mix_scale","phase":"$phase","docs":$n,""" +
        f""""sec":$sec%.2f$fields,"sf":"$sfDir"}""")

    val tmp = SessionTemp.dir("graft_mix_scale_")
    val (_, buildSec) = timed(Selection
      .vocabRichnessMicro(docs, carryCols = Seq("source"))
      .write.mode("overwrite").parquet(tmp))
    line("metric_build", buildSec, "")
    val m = spark.read.parquet(tmp)

    // the p16b weight vector: cap path (src0), repetition+remainder
    // (src1/src2), partial-only (the rest)
    val weights = (0 until 20)
      .map(i => (s"src$i",
        if (i == 0) 500000L else if (i < 3) 150000L else 25000L))
      .toDF("source", "w_micro")
    val budgets = Selection.domainBudgets(m, weights)
    val (sel, selSec) = timed(Selection.selectByDomainBudget(m, budgets)
      .agg(count(lit(1)), sum("n_tok")).head())
    line("select", selSec,
      s""","rows":${sel.getLong(0)},"kept_tokens":${sel.getLong(1)}""")
    val (mixed, mixSec) = timed(Selection.domainMixWithRepetition(m, budgets,
        maxEpochs = 4)
      .agg(count(lit(1)), sum("n_tok"), max("epoch")).head())
    line("mix_epochs", mixSec, s""","rows":${mixed.getLong(0)},""" +
      s""""kept_tokens":${mixed.getLong(1)},"max_epoch":${mixed.getLong(2)}""")
  }

  /** Hot-GROUP stress for the packing wing: [[Packing.packSequences]]'
    * running-sum window is partitioned by the pack group, so ONE mega
    * source serializes into ONE task. [[Packing.packSequencesSharded]]
    * is the two-level escape; both run on a 50%-hot relabel (every even
    * doc_id joins one "hot" source), reporting wall and worst task. */
  private def pack(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val spark = c.spark
    val maxTaskMs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
          maxTaskMs.getAndUpdate(cur => math.max(cur, d))
        }
      })
    // materialized narrow: the sharded form scans its input twice, and
    // the bench measures PACK mechanics, not double tokenization
    val narrow = c.floor(Records.table(spark, sfDir, "documents")).select(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("hot"))
        .otherwise(col("source")).as("source"),
      col("doc_id").cast("long").as("doc_id"),
      size(expr(TextAnalysis.tokensExpr)).cast("long").as("n_tokens"))
    val tmp = SessionTemp.dir("pack_hot_narrow_")
    narrow.write.mode("overwrite").parquet(tmp)
    val docs = spark.read.parquet(tmp)
    val n = docs.count()
    // ~64 coarse ranges over near-dense ids
    val span = args.lift(1).fold(math.max(1L, n / 64))(_.toLong)

    def withMaxTask(df: => DataFrame): (Double, Double, Long) = {
      maxTaskMs.set(0)
      val (rows, wall) = timed(df.count())
      // listener events are async: poll until the max stops moving
      var last = -1L; var stable = 0; var spins = 0
      while (stable < 2 && spins < 40) {
        val cur = maxTaskMs.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        spins += 1; Thread.sleep(50)
      }
      (wall, maxTaskMs.get() / 1e3, rows)
    }
    val (flatSec, flatMax, flatRows) =
      withMaxTask(Packing.packSequences(docs, tokenBudget = 256L))
    val (shSec, shMax, shRows) =
      withMaxTask(Packing.packSequencesSharded(docs, tokenBudget = 256L, span))

    println(f"""{"metric":"pack_hot","docs":$n,"shard_span":$span,""" +
      f""""flat_sec":$flatSec%.2f,"flat_max_task":$flatMax%.2f,""" +
      f""""sharded_sec":$shSec%.2f,"sharded_max_task":$shMax%.2f,""" +
      f""""rows_equal":${flatRows == shRows},"sf":"$sfDir"}""")
  }

  /** The [[Dedup.spanDuplicates]] sampling lever: the census exchange
    * is token-count-sized at sampleMod=1 and shrinks m× with the
    * deterministic 1/m coverage sample. One `span_scale` line per
    * modulus (default 4 16; `0` = the auto corpus-scaled modulus).
    *  - `stream` adds the d18 sliced-arrival point: 8 doc_id-range
    *    slices, one per micro-batch of the durable incremental census,
    *    compacting every 4 batches.
    *  - `literal` / `bloom` / `sampled` each add one `span_dedup` line
    *    timing the d17 ACTION pass (census + rewrite): `bloom` forces
    *    the big-census fallback (maxLiteralFlagged = 0), `sampled` runs
    *    census-with-first at the auto modulus. */
  private def span(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val modes = Set("literal", "bloom", "sampled")
    val (numeric, words) = args.drop(1).partition(_.forall(_.isDigit))
    // validated before any Spark work: a silent fall-through would
    // measure the literal path under the requested label
    require(words.forall(w => w == "stream" || modes(w)),
      s"unknown span argument in $words — use stream|${modes.mkString("|")}")
    val mods = if (numeric.isEmpty) Seq(4L, 16L) else numeric.map(_.toLong)
    val spark = c.spark
    val docs = c.floor(Records.table(spark, sfDir, "documents"))
    val n = docs.count()

    mods.foreach { m =>
      val (repeated, sec) = timed(
        Dedup.spanDuplicates(docs, spanTokens = 8, sampleMod = m).count())
      println(f"""{"metric":"span_scale","docs":$n,"mod":$m,""" +
        f""""census_sec":$sec%.2f,"repeated_spans":$repeated,"sf":"$sfDir"}""")
    }

    if (words.contains("stream")) {
      val sliceDir = SessionTemp.dir("span_stream_docs_")
      val all = Records.table(spark, sfDir, "documents")
      val mm = all.agg(min("doc_id"), max("doc_id")).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val width = (hi - lo) / 8 + 1
      for (i <- 0 until 8)
        BenchFixtures.writeSingleFile(
          all.filter(col("doc_id") >= lo + i * width &&
            col("doc_id") < lo + (i + 1) * width).coalesce(1),
          sliceDir, f"documents-$i%02d")
      val workDir = SessionTemp.dir("span_stream_")
      val (_, runSec) = timed(
        IncrementalSpanCensus.run(spark, sliceDir, workDir, compactEvery = 4))
      val (censusRows, readSec) = timed(
        IncrementalSpanCensus.census(spark, workDir).count())
      println(f"""{"metric":"span_stream","docs":$n,"batches":8,""" +
        f""""run_sec":$runSec%.2f,"census_read_sec":$readSec%.2f,""" +
        f""""repeated_spans":$censusRows,"sf":"$sfDir"}""")
    }

    words.filter(modes).distinct.foreach { mode =>
      val censusTmp = SessionTemp.dir("span_dedup_census_")
      val (flagged, censusSec) = timed {
        val census =
          if (mode == "sampled")
            Dedup.spanCensusWithFirst(docs, spanTokens = 8, sampleMod = 0L)
          else Dedup.spanCensusWithFirst(docs, spanTokens = 8)
        census.write.mode("overwrite").parquet(censusTmp)
        spark.read.parquet(censusTmp).count()
      }
      val maxLit = if (mode == "bloom") 0L else Dedup.defaultMaxLiteralFlagged
      val (agg, rewriteSec) = timed(Dedup.spanDedupCorpus(docs,
          spark.read.parquet(censusTmp), spanTokens = 8,
          maxLiteralFlagged = maxLit)
        .agg(sum("n_tokens"), sum("n_kept")).collect()(0))
      val (tot, kept) = (agg.getLong(0), agg.getLong(1))
      println(f"""{"metric":"span_dedup","mode":"$mode","docs":$n,""" +
        f""""flagged_spans":$flagged,"census_sec":$censusSec%.2f,""" +
        f""""rewrite_sec":$rewriteSec%.2f,""" +
        f""""cut_frac":${(tot - kept).toDouble / math.max(tot, 1)}%.4f,""" +
        f""""sf":"$sfDir"}""")
    }
  }

  /** The bounded streaming span-dedup emission
    * ([[IncrementalSpanCensus.emitNewDocs]]) against the accumulated
    * rewrite: `docs` generated documents (dense doc_id, so arrival
    * slices are doc_id-monotone) are absorbed and emitted except a
    * FIXED final delta, whose bounded emission and the full
    * accumulated rewrite are then timed — comparing two corpus sizes
    * isolates the accumulated-size dependence. The census is compacted
    * (production defaults) before the timed arms, so the emission
    * probes the compacted layout a long-lived stream settles into. */
  private def spanEmit(c: Ctx, args: Seq[String]): Unit = {
    val nDocs = args(0).toLong
    val deltaRows = args.lift(1).fold(5000L)(_.toLong)
    val mainSlices = args.lift(2).fold(4)(_.toInt)
    require(deltaRows < nDocs, "delta must be smaller than the corpus")
    val spark = c.spark
    val docs = GenData.documents(spark, nDocs)
    val cut = nDocs - deltaRows
    val streamDir = SessionTemp.dir("span_emit_docs_")
    val workDir = SessionTemp.dir("span_emit_work_")
    def writeSlice(df: DataFrame, idx: Int): String =
      BenchFixtures.writeSingleFile(df.coalesce(1), streamDir,
        f"documents-$idx%03d")

    // accumulate everything but the delta, doc_id-ordered arrival
    val per = (cut + mainSlices - 1) / mainSlices
    for (i <- 0 until mainSlices)
      writeSlice(docs.filter(col("doc_id") >= i * per &&
        col("doc_id") < math.min((i + 1) * per, cut)), i)
    IncrementalSpanCensus.run(spark, streamDir, workDir)
    // emit from the WRITTEN slices, not the generating expressions —
    // re-evaluating the generator would charge text synthesis to the
    // bounded arm only
    IncrementalSpanCensus.emitNewDocs(spark, workDir,
      spark.read.option("pathGlobFilter", "documents*.parquet")
        .parquet(streamDir))

    // the arrival delta, absorbed into the census
    val delta = spark.read.parquet(
      writeSlice(docs.filter(col("doc_id") >= cut), mainSlices))
    IncrementalSpanCensus.run(spark, streamDir, workDir)
    // batches 0..mainSlices are all visible
    IncrementalSpanCensus.compact(spark, workDir, mainSlices.toLong)

    // warm the census state (page cache + codegen) so arm ORDER does
    // not decide the comparison — both arms read the same partials
    IncrementalSpanCensus.censusWithFirst(spark, workDir).count()
    val (_, boundedSec) = timed(
      IncrementalSpanCensus.emitNewDocs(spark, workDir, delta))
    val all = spark.read.option("pathGlobFilter", "documents*.parquet")
      .parquet(streamDir)
    val accOut = SessionTemp.dir("span_emit_acc_")
    val (_, accSec) = timed(IncrementalSpanCensus
      .dedupAccumulated(spark, workDir, all)
      .write.mode("overwrite").parquet(accOut))

    // the bounded path's union must cover the same docs the
    // accumulated rewrite covers — cheap audit, not a timing arm
    val nBounded = IncrementalSpanCensus.emittedCorpus(spark, workDir)
      .count()
    val nAcc = spark.read.parquet(accOut).count()
    require(nBounded == nAcc, s"row counts drifted: $nBounded vs $nAcc")

    println(f"""{"docs":$nDocs,"delta_rows":$deltaRows,"emit_bounded_sec":$boundedSec%.2f,"emit_accumulated_sec":$accSec%.2f}""")
  }

  private def topicRec(i: Int): FileTopicLog.LogRecord =
    FileTopicLog.LogRecord(
      s"k$i".getBytes(StandardCharsets.UTF_8),
      s"v$i".getBytes(StandardCharsets.UTF_8), 1700000000000L + i)

  /** The pre-cache topic-log walk, self-contained (no FileTopicLog
    * caches anywhere in the path): whitelist JSON parse + directory
    * listing per topic + read+parse per partition — exactly what
    * endOffsets cost before the stamp caches. */
  private def uncachedWalk(root: String): Long = {
    import scala.jdk.CollectionConverters._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val wl = om.readTree(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_whitelist.json")))
    val partRe = "^p(\\d+)\\.count$".r
    (0 until wl.size()).map(wl.get(_).asText()).map { t =>
      val d = java.nio.file.Paths.get(root, t)
      val parts = {
        val s = Files.list(d)
        try s.iterator().asScala.map(_.getFileName.toString)
          .collect { case partRe(p) => p.toInt }.toSeq.sorted
        finally s.close()
      }
      parts.map { p =>
        val cf = d.resolve(s"p$p.count")
        if (!Files.exists(cf)) 0L
        else om.readTree(Files.readAllBytes(cf)).get("end").asLong()
      }.sum
    }.sum
  }

  /** Driver-side metadata walk of the dynamic topic-log source:
    * [[FileTopicLog.endOffsets]] runs once per micro-batch over every
    * whitelisted (topic, partition) — the one driver cost that grows
    * with assignment size, not data size (the reference plans routes
    * over THOUSANDS of TPs). ms/walk at 20 / 100 / 1000 TPs in
    * 4-partition topics (`tps_<n>`) and one 256-partition topic
    * (`wide_256`): `uncached` (the pre-cache baseline), `steady` (no
    * commits between walks), `dirty1` (one TP commits between walks),
    * `allhot_exact` (every topic appends between walks, so every
    * listing is re-read), `cut_walk` (a real truncating retention walk
    * retiring one record per TP, one [[FileTopicLog.truncateTopic]] per
    * topic),
    * `commit_return` (how long a `truncateOnCommit`
    * [[DynamicTopicLogStream.commit]] that triggers that walk takes to
    * return to its caller), and the retention cut computation over
    * every partition (one group
    * snapshot vs per-partition re-reads). Pure filesystem — no Spark.
    * `--stream` then drains 1000 TPs through the real streaming
    * source. */
  private def topic(c: Ctx, args: Seq[String]): Unit = {
    val iters = args.headOption.filterNot(_ == "--stream").fold(40)(_.toInt)
    // 20 / 100 / 1000 TPs over 4-partition topics, then one wide topic
    val sizes = Seq((5, 4, "tps_20"), (25, 4, "tps_100"), (250, 4, "tps_1000"),
      (1, 256, "wide_256"))
    val out = sizes.map { case (nTopics, parts, label) =>
      val root = SessionTemp.dir(s"graft_tpscale_${label}_")
      val topics = (0 until nTopics).map(i => f"topic$i%04d")
      topics.foreach { t =>
        (0 until parts).foreach(p =>
          FileTopicLog.append(root, t, p, Seq(topicRec(p))))
      }
      FileTopicLog.setWhitelist(root, topics)
      def time(f: => Unit): Double = {
        f; f // warm
        timed((0 until iters).foreach(_ => f))._2 * 1e3 / iters
      }
      val uncached = time { uncachedWalk(root): Unit }
      val steady = time { FileTopicLog.endOffsets(root): Unit }
      var bump = 100
      val dirty = time {
        FileTopicLog.append(root, topics.head, 0, Seq(topicRec(bump)))
        bump += 1
        FileTopicLog.endOffsets(root): Unit
      }
      // continuous ingest on EVERY topic keeps the listing cache cold
      // under the racy-stamp rule; the appends run between iterations,
      // outside the timed region — only the walk is measured
      def timeHotWalk(walk: => Unit): Double = {
        var sec = 0.0
        (0 until iters).foreach { _ =>
          topics.foreach(t =>
            FileTopicLog.append(root, t, 0, Seq(topicRec(bump))))
          bump += 1
          sec += timed(walk)._2
        }
        sec * 1e3 / iters
      }
      val hotExact = timeHotWalk { FileTopicLog.endOffsets(root): Unit }
      // the walk must SEE the commits the dirty loop made (cache
      // coherence under measurement, not just speed)
      val end = FileTopicLog.endOffsets(root)
      require(end(topics.head)(0) > 1L, "dirty commits must be visible")
      require(end.size == nTopics && end.forall(_._2.size == parts))
      // the retention walk a truncating commit runs (no groups yet, so
      // each cut is the query's own position): every walk retires one
      // record per TP, so each TP gets one record per timed walk first
      topics.foreach(t => (0 until parts).foreach(p =>
        FileTopicLog.append(root, t, p, (0 until iters + 2).map(topicRec))))
      val cutWalk = time {
        topics.foreach(t => FileTopicLog.truncateTopic(root, t,
          (0 until parts).map(p => p -> (FileTopicLog.startOffset(root, t, p) + 1))))
      }
      require(FileTopicLog.startOffset(root, topics.last, parts - 1) == iters + 2,
        "every walk must retire one record per TP")
      // what the same walk costs the caller of a truncating source's
      // commit (Spark's walCommit): each commit retires one more record
      // per TP, and the next commit waits, off the clock, for the cut
      val commitReturn = {
        topics.foreach(t => (0 until parts).foreach(p =>
          FileTopicLog.append(root, t, p, (0 until iters + 2).map(topicRec))))
        val stream = new DynamicTopicLogStream(root, None,
          truncateOnCommit = true)
        var at = (iters + 2).toLong
        var sec = 0.0
        try (0 until iters + 2).foreach { i =>
          at += 1
          val pos = TopicLogOffset(
            topics.map(t => t -> (0 until parts).map(p => p -> at).toMap).toMap)
          val took = timed(stream.commit(pos))._2
          if (i >= 2) sec += took // the first two warm
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (topics.exists(t => (0 until parts).exists(p =>
              FileTopicLog.startOffset(root, t, p) < at))) {
            require(System.nanoTime() < deadline,
              s"the cleaner did not reach the committed cut $at")
            Thread.sleep(1)
          }
        } finally stream.stop()
        sec * 1e3 / iters
      }
      Seq("g1", "g2", "g3").foreach { g =>
        FileTopicLog.registerGroup(root, g)
        FileTopicLog.commitGroup(root, g,
          topics.map(t => t -> (0 until parts).map(p => p -> 1L).toMap).toMap)
      }
      val cutSnap = time {
        val snap = FileTopicLog.groupSnapshot(root)
        topics.foreach(t => (0 until parts).foreach(p =>
          FileTopicLog.retentionCut(snap, root, t, p, 1L): Unit))
      }
      val cutPer = time {
        topics.foreach(t => (0 until parts).foreach(p =>
          FileTopicLog.retentionCut(root, t, p, 1L): Unit))
      }
      (nTopics * parts,
        f""""$label":{"uncached_ms":$uncached%.3f,"steady_ms":$steady%.3f,"dirty1_ms":$dirty%.3f,"allhot_exact_ms":$hotExact%.3f,"cut_walk_ms":$cutWalk%.3f,"commit_return_ms":$commitReturn%.3f,"cut_snapshot_ms":$cutSnap%.3f,"cut_perpart_ms":$cutPer%.3f}""")
    }
    val ratio = out(2)._1.toDouble / out.head._1
    println(f"""{"metric":"topiclog_metadata_walk","unit":"ms_per_walk","tp_ratio":$ratio%.0f,${out.map(_._2).mkString(",")},"iters":$iters}""")
    if (args.contains("--stream")) topicStreamDrain(c.spark)
  }

  /** A reference-scale assignment (250 topics x 4 partitions x 20
    * records in one whitelist) drained through the ACTUAL streaming
    * source, once unbounded (1 batch) and once rate-capped to force ~10
    * planning walks, with a row-count audit so a planning bug cannot
    * read as a speedup. */
  private def topicStreamDrain(spark: SparkSession): Unit = {
    val nTopics = 250; val parts = 4; val per = 20
    val root = SessionTemp.dir("graft_tpstream_")
    val topics = (0 until nTopics).map(i => f"topic$i%04d")
    topics.foreach { t =>
      (0 until parts).foreach(p =>
        FileTopicLog.append(root, t, p, (0 until per).map(topicRec)))
    }
    FileTopicLog.setWhitelist(root, topics)
    val want = nTopics.toLong * parts * per
    def drain(maxRows: Option[Long]): Double = {
      val base = SessionTemp.dir("graft_tpstream_q_")
      val r = spark.readStream.format("graft-topiclog").option("path", root)
      val src = maxRows.fold(r)(n => r.option("maxRowsPerTrigger", n.toString))
      val (_, secs) = timed(src.load()
        .selectExpr("topic", "partition", "offset")
        .writeStream.format("parquet")
        .option("path", s"$base/sink")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination())
      val got = spark.read.parquet(s"$base/sink").count()
      require(got == want, s"drained $got of $want rows")
      secs
    }
    val oneBatch = drain(None)
    val tenBatch = drain(Some(want / 10))
    println(f"""{"metric":"topiclog_stream_drain_1000tp","unit":"sec","rows":$want,"one_batch":$oneBatch%.2f,"ten_batches":$tenBatch%.2f}""")
  }

  /** One AvailableNow file-stream lifecycle over `srcDir` (schema
    * probe skipped — `schema` given — StreamExecution start/stop,
    * offset/commit logs, a no-op sink) on checkpoint `ckpt`; returns
    * the input rows it read. */
  private[graft] def availableNowRows(spark: SparkSession, srcDir: String,
      schema: StructType, ckpt: String): Long = {
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (b: DataFrame, _: java.lang.Long) =>
        b.write.format("noop").mode("overwrite").save(); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.map(_.numInputRows).sum
  }

  /** The streaming-lifecycle fixed-cost floor: a MINIMAL AvailableNow
    * lifecycle on fresh checkpoints, resumed with no new data (pure
    * restart cost) and resumed with ONE new file (the d20/d21
    * multi-slice restart shape — the file lands directly in the listed
    * dir, and each resume must read it), then the d20 entry's body
    * phase by phase (slice staging / census absorption / emission), so
    * the floor share of a lifecycle entry is a measured number. */
  private def floorProbe(c: Ctx, args: Seq[String]): Unit = {
    val sfDir = args(0)
    val spark = c.spark
    // a scratch dir holding an 8-row `src` stream dir
    def newSrc(prefix: String): (String, StructType) = {
      val tmp = SessionTemp.dir(prefix)
      spark.range(8).coalesce(1).write.mode("overwrite").parquet(s"$tmp/src")
      (tmp, spark.read.parquet(s"$tmp/src").schema)
    }
    def secs(xs: Seq[Double]): String =
      xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    // warm the streaming machinery once so the probe measures the
    // steady-state floor, not first-use classloading
    val (warm, warmSchema) = newSrc("probe_warm_")
    availableNowRows(spark, s"$warm/src", warmSchema, s"$warm/ckpt")

    val (tmp, schema) = newSrc("probe_min_")
    def lifecycle(ckpt: String): (Long, Double) =
      timed(availableNowRows(spark, s"$tmp/src", schema, s"$tmp/$ckpt"))
    val fresh = (1 to 5).map(i => lifecycle(s"ck$i")._2)
    val noData = (1 to 3).map(_ => lifecycle("ck1")._2)
    val plusOne = (1 to 3).map { i =>
      BenchFixtures.writeSingleFile(spark.range(8).coalesce(1), s"$tmp/src",
        s"extra_$i")
      lifecycle("ck1")
    }
    val plusOneRows = plusOne.map(_._1)
    require(plusOneRows.forall(_ >= 1L),
      s"a resume after a new file read no rows: $plusOneRows")

    // the d20 body, one timed phase at a time
    val workDir = SessionTemp.dir("probe_d20_")
    val streamDir = s"$workDir/docs"
    Files.createDirectories(java.nio.file.Paths.get(streamDir))
    val docs = Records.table(spark, sfDir, "documents")
    val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = hi - lo + 1
    val cuts = Seq(lo, lo + width / 3, lo + 2 * (width / 3), hi + 1)
    val d20 = (0 until 3).map { i =>
      val (slice, stageSec) = timed(BenchFixtures.writeSingleFile(
        docs.filter(col("doc_id") >= cuts(i) && col("doc_id") < cuts(i + 1))
          .coalesce(1), streamDir, f"documents-$i%02d"))
      val (_, runSec) = timed(
        IncrementalSpanCensus.run(spark, streamDir, workDir))
      val (_, emitSec) = timed(IncrementalSpanCensus.emitNewDocs(spark,
        workDir, spark.read.parquet(slice)))
      (stageSec, runSec, emitSec)
    }
    val (_, readSec) = timed(IncrementalSpanCensus
      .emittedCorpus(spark, workDir).orderBy("doc_id")
      .write.format("noop").mode("overwrite").save())

    println(s"""{"metric":"lifecycle_floor","fresh_sec":${secs(fresh)},""" +
      s""""resume_nodata_sec":${secs(noData)},""" +
      s""""resume_1file_sec":${secs(plusOne.map(_._2))},""" +
      s""""resume_1file_rows":${plusOneRows.mkString("[", ",", "]")},""" +
      s""""d20_stage_sec":${secs(d20.map(_._1))},""" +
      s""""d20_census_run_sec":${secs(d20.map(_._2))},""" +
      s""""d20_emit_sec":${secs(d20.map(_._3))},""" +
      f""""final_read_sec":$readSec%.3f,"sf":"$sfDir"}""")
  }
}

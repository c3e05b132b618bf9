package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{OffsetRange, PipelineSpec, Route}
import graft.sources.FileTopicLog
import graft.streaming.ReplicationPipeline

/** `replicate`: one live replication route. A `graft-topiclog` source
  * with commit-driven retention feeds `ReplicationPipeline.transform`
  * and a parquet sink, on the default as-fast-as-possible trigger.
  *
  * The route runs cycles of two phases; the first `WarmCycles` are
  * warm-up and run the catch-up only. Catch-up: a backlog is appended to a few hundred
  * topic-partitions while the route's whitelist is empty; whitelisting
  * the topics starts the drain under `maxRowsPerTrigger`. `wall_s` is the
  * median time from the whitelist change to the end of the trigger that
  * committed the last backlog record. Open loop: the main thread, the one
  * load generator, appends at a fixed rate on a schedule that does not wait
  * for the route. A record's lag runs from its due time to the end of the
  * trigger that committed it; its p50 and p99 go to the environment
  * stamp. A traced run warms two cycles longer, then times four cycles,
  * the middle two traced, for the per-layer figures and the tracing
  * overhead.
  *
  * Correctness: the sink holds every record the spec lets through exactly
  * once, under the spec's topic and partition mapping, and nothing else. */
object Replicate {

  /** k2-style route: a rename, a partition remap, an S5 offset range, an
    * excluded `__` topic, a topic outside the route and a blacklisted
    * partition, so every filter of the spec gets work. */
  val Spec = PipelineSpec(
    name = "perfbench",
    route = Route("src", "dst", 0),
    topics = Seq("click", "view", "purchase"),
    topicMapping = Map("click" -> "click_stream"),
    dstPartitionCounts = Map("click_stream" -> 16, "view" -> 8, "purchase" -> 12),
    partitionBlacklist = Set(("purchase", 7)),
    excludeTopicRegex = Some("^__.*"),
    offsetRanges = Seq(OffsetRange("view", 0, 200L, Some(1L << 40))))

  /** Records per catch-up, and the trigger cap that drains them in three
    * triggers: two full ones and the remainder. On a four-core VM a warm
    * trigger of this route took 0.9–1.2 s with 80 000 records and 0.8–1.0 s
    * with 288: the source's commit-time truncation walk over the 288
    * partitions (inside `walCommit`, 0.2–0.5 s) and the sink's `addBatch`
    * (0.4–0.5 s for a few hundred records, 0.65 s for 80 000). A warm
    * catch-up takes about 3 s, most of it that per-trigger floor, the cost
    * this workload is there to expose. Under a 20 000-record cap, 80 000
    * records took five triggers and 4.5 s, with no smaller run-to-run
    * spread. */
  val Backlog = 160000
  val MaxRowsPerTrigger = 80000L
  /** Warm-up cycles (catch-up only) and timed cycles per route. A JVM's
    * catch-ups keep getting faster over its first cycles while the JIT
    * compiles the route's code: over ten seeds 5.0–6.3 s, 3.6–4.6 s,
    * 3.4–4.3 s, then 2.6–3.7 s. Timing from the fourth cycle on leaves
    * most of that drift out. */
  val WarmCycles = 3
  val TimedCycles = 3
  /** Open-loop rate, records per second. Open-loop triggers, 0.7–1.3 s
    * each, then carry 7 000–12 500 records, well below the cap, so the
    * route keeps up and a record's lag stays near one to two trigger
    * times. */
  val Rate = 10000.0
  val TickMs = 5
  val RunLength = 12
  val SmokeBacklog = 6000
  val SmokeRate = 1000.0

  /** Where the spec routes `topic`/`p`, if it replicates the topic. */
  private def dst(topic: String, p: Int): Option[(String, Int)] = {
    val t = Spec.topicMapping.getOrElse(topic, topic)
    Spec.dstPartitionCounts.get(t).map(n => (t, Math.floorMod(p, n)))
  }

  /** Whether the spec replicates record `offset` of `topic`/`p`. */
  def passes(topic: String, p: Int, offset: Long, hasValue: Boolean): Boolean =
    hasValue && Spec.topics.contains(topic) && !topic.startsWith("__") &&
      !Spec.partitionBlacklist.contains((topic, p)) &&
      Spec.offsetRanges.forall(r => r.topic != topic || r.partition != p ||
        (offset >= r.startingOffset && r.endingOffset.forall(offset < _)))

  /** The appending side: the log root plus what was written to it. */
  final class Log(val root: String, seed: Long) {
    val gen = new Gen.Records(seed)
    val next = Array.fill(Gen.Tps.size)(0L)
    val expected = mutable.ArrayBuilder.make[Long]
    /** (tp, offset, due ms, appended ms) of every open-loop record */
    val due = mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    /** milliseconds of each append made while tracing was on */
    val appendMs = mutable.ArrayBuffer.empty[Double]
    /** (ms when an append returned, records appended so far) */
    val history = mutable.ArrayBuffer.empty[(Double, Long)]
    var appended = 0L

    def append(tp: Int, dues: Seq[Double], tracer: Tracer): Unit = {
      val (topic, p) = Gen.Tps(tp)
      val base = next(tp)
      val recs = dues.indices.map { i =>
        val r = gen.record(tp, base + i, dues(i).toLong)
        if (passes(topic, p, base + i, r.value != null)) expected += Gen.rid(tp, base + i)
        r
      }
      val (_, sec) = Main.time {
        tracer.span("sources", "FileTopicLog.append")(FileTopicLog.append(root, topic, p, recs))
      }
      if (tracer.enabled) appendMs += sec * 1000
      next(tp) += dues.size
      appended += dues.size
      history += ((System.currentTimeMillis().toDouble, appended))
    }
  }

  /** Append a backlog of `n` records over every topic-partition; `from`
    * numbers the backlog's first record among all backlog records. */
  def appendBacklog(log: Log, n: Int, from: Long): Unit = {
    val per = Array.fill(Gen.Tps.size)(0)
    (0 until n).foreach(j => per(log.gen.tpOf(from + j, 1)) += 1)
    val now = System.currentTimeMillis().toDouble
    per.indices.foreach(tp => if (per(tp) > 0) log.append(tp, Seq.fill(per(tp))(now), Tracer.Off))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def offsets(json: String): Map[(String, Int), Long] =
    if (json == null) Map.empty
    else mapper.readTree(json).properties().asScala.flatMap { t =>
      t.getValue.properties().asScala.map(p => (t.getKey, p.getKey.toInt) -> p.getValue.asLong)
    }.toMap

  /** Per cycle: backlog append seconds, catch-up seconds, open-loop lags
    * (none in warm-up cycles) and the ms at which the catch-up started, the
    * open loop started and the cycle ended. */
  final case class Outcome(preloadS: Seq[Double], catchupS: Seq[Double],
      lagMs: Seq[Seq[Double]], cycleMs: Seq[(Double, Double, Double)], triggers: Seq[Trigger],
      log: Log, out: String)

  /** One route through `cycles` cycles: catch-up, then in all but the
    * first `WarmCycles` an open loop. Before each catch-up the whitelist is
    * emptied, which freezes the route's positions, and a backlog is
    * appended behind them; whitelisting the topics again exposes the whole
    * backlog at once. With `tracing`, the cycles in `traced` run with it
    * switched on. */
  def route(ctx: Ctx, seed: Long, backlog: Int, rate: Double, openS: Double, cycles: Int,
      progress: ProgressLog, tracing: Option[Tracing] = None,
      traced: Set[Int] = Set.empty): Outcome = {
    val s = ctx.spark
    val tracer = tracing.fold(Tracer.Off)(_.tracer)
    val log = new Log(ctx.dir("log"), seed)
    FileTopicLog.setWhitelist(log.root, Nil)
    val name = s"route-${log.root.hashCode & 0x7fffffff}"
    val out = ctx.dir("sink")
    val src = s.readStream.format("graft-topiclog")
      .option("path", log.root)
      .option("truncateOnCommit", "true")
      .option("maxRowsPerTrigger", MaxRowsPerTrigger.toString)
      .load()
    val q = ReplicationPipeline.parquetSink(ReplicationPipeline.transform(src, Spec),
      out, ctx.dir("ckpt"), availableNow = false).queryName(name).start()
    def mine = progress.all.filter(_.queryName == name).sortBy(_.batchId)
    def committed = mine.lastOption.map(t => offsets(t.endOffset).values.sum).getOrElse(0L)
    def await(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!cond) {
        require(q.exception.isEmpty, s"route failed: ${q.exception.get}")
        require(System.nanoTime() < deadline, s"route did not $what within $timeoutS s")
        Thread.sleep(2)
      }
    }
    def drained(what: String): Unit =
      await(what, 120) { Main.drainListenerBus(s); committed >= log.appended }
    def traceIf[T](c: Int)(body: => T): T = tracing match {
      case Some(t) if traced(c) => t.on(body)
      case _ => body
    }
    val preloads, catchups = Seq.newBuilder[Double]
    val lags = Seq.newBuilder[Seq[Double]]
    val windows = Seq.newBuilder[(Double, Double, Double)]
    var sent = 0L
    try {
      await("go idle", 60)(q.status.message.startsWith("Waiting"))
      (0 until cycles).foreach { c =>
        preloads += Main.time {
          FileTopicLog.setWhitelist(log.root, Nil)
          // idle triggers re-read the whitelist every few milliseconds
          Thread.sleep(200)
          appendBacklog(log, backlog, c.toLong * backlog)
        }._2
        val t0 = System.currentTimeMillis()
        val target = log.appended
        val firstDue = log.due.size
        var openAt = 0.0
        traceIf(c) {
          val end = tracer.span("bench", "catchup") {
            FileTopicLog.setWhitelist(log.root, Gen.Topics.map(_._1))
            drained("drain the backlog")
            mine.find(t => offsets(t.endOffset).values.sum >= target).get.endMs
          }
          catchups += (end - t0) / 1000.0
          openAt = System.currentTimeMillis().toDouble
          if (c >= WarmCycles) tracer.span("bench", "open_loop") {
            val start = System.nanoTime()
            val startMs = System.currentTimeMillis().toDouble
            val base = sent
            var tick = 0L
            while (tick * TickMs < openS * 1000) {
              // every tick appends the records that fell due during it; record
              // i is due at i / rate and runs of RunLength share a partition
              val upTo = base + math.floor(rate * (tick + 1) * TickMs / 1000.0).toLong
              val now = (System.nanoTime() - start) / 1e6
              if (now < (tick + 1) * TickMs)
                LockSupport.parkNanos((((tick + 1) * TickMs - now) * 1e6).toLong)
              (sent until upTo).groupBy(i => log.gen.tpOf(i, RunLength)).toSeq.sortBy(_._2.head)
                .foreach { case (tp, is) =>
                  val first = log.next(tp)
                  val ds = is.map(i => startMs + (i - base) * 1000.0 / rate)
                  log.append(tp, ds, tracer)
                  val done = System.currentTimeMillis().toDouble
                  ds.zipWithIndex.foreach { case (d, k) =>
                    log.due += ((tp, first + k, d, done))
                  }
                }
              sent = upTo
              tick += 1
            }
            drained("drain the open loop")
          }
        }
        windows += ((t0.toDouble, openAt, System.currentTimeMillis().toDouble))
        lags += lag(log.due.drop(firstDue).toSeq, mine)
      }
      Outcome(preloads.result(), catchups.result(), lags.result(), windows.result(), mine,
        log, out)
    } finally stop(q)
  }

  /** Each record's lag: from its due time to the end of the first trigger
    * whose end offset for the record's topic-partition passed it. */
  private def lag(due: Seq[(Int, Long, Double, Double)], triggers: Seq[Trigger]): Seq[Double] = {
    val ends = triggers.map(t => (offsets(t.endOffset), t.endMs))
    due.groupBy(_._1).toSeq.flatMap { case (tp, recs) =>
      val key = Gen.Tps(tp)
      var i = 0
      recs.sortBy(_._2).map { case (_, off, d, _) =>
        while (ends(i)._1.getOrElse(key, 0L) <= off) i += 1
        ends(i)._2 - d
      }
    }
  }

  private def stop(q: StreamingQuery): Unit = { q.stop(); q.awaitTermination(30000) }

  /** Records lost, duplicated, unexpected or mis-routed in the sink. */
  def check(ctx: Ctx, o: Outcome): Long = {
    val s = ctx.spark
    import s.implicits._
    val sink = s.read.parquet(o.out)
      .select(conv(hex(col("headers")(0)("value")), 16, 10).cast("long").as("rid"),
        col("topic"), col("partition"), col("offset"))
    val tps = Gen.Tps.zipWithIndex.flatMap { case ((t, p), i) =>
      dst(t, p).map { case (dt, dp) => (i.toLong, dt, dp) }
    }.toDF("tp", "exp_topic", "exp_partition")
    val misrouted = sink.withColumn("tp", shiftright(col("rid"), 40))
      .join(broadcast(tps), Seq("tp"), "left")
      .filter(col("exp_topic").isNull || col("topic") =!= col("exp_topic") ||
        col("partition") =!= col("exp_partition") ||
        col("offset") =!= (col("rid").bitwiseAND(lit((1L << 40) - 1))))
      .count()
    val got = sink.select("rid").as[Long].collect().sorted
    val want = o.log.expected.result().sorted
    var (i, j, bad) = (0, 0, 0L)
    while (i < got.length || j < want.length) {
      if (j >= want.length || (i < got.length && got(i) < want(j))) { bad += 1; i += 1 }
      else if (i >= got.length || want(j) < got(i)) { bad += 1; j += 1 }
      else { i += 1; j += 1 }
    }
    bad + misrouted
  }

  /** The most records appended but not yet committed when a trigger
    * started inside one of `windows`. */
  private def backlogMax(o: Outcome, windows: Seq[(Double, Double)]): Double = {
    val at = o.log.history.map(_._1).toArray
    def appendedBy(ms: Double): Long = {
      val i = java.util.Arrays.binarySearch(at, ms + 0.5) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      if (i < 0) 0L else o.log.history(i)._2
    }
    val ts = o.triggers.sortBy(_.batchId)
    ts.zip(ts.drop(1))
      .filter { case (_, t) =>
        windows.exists { case (a, b) => t.startMs.toDouble >= a && t.startMs.toDouble <= b }
      }
      .map { case (prev, t) =>
        (appendedBy(t.startMs.toDouble) - offsets(prev.endOffset).values.sum).toDouble
      }
      .foldLeft(0.0)(math.max)
  }

  private def dirBytes(root: String): Long = {
    val w = Files.walk(Paths.get(root))
    try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  /** The per-layer metrics only this workload does work for. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.append_ms_p50" -> "ms", "sources.latest_offset_ms_p50" -> "ms",
    "sources.backlog_records_max" -> "count", "sources.log_bytes_end" -> "bytes",
    "streaming.triggers" -> "count", "streaming.empty_trigger_frac" -> "frac",
    "streaming.trigger_ms_p50" -> "ms", "streaming.query_planning_ms_p50" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms", "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.commit_offsets_ms_p50" -> "ms")

  def run(ctx: Ctx, r: Result): Unit = {
    val s = ctx.spark
    val (backlog, rate) = if (ctx.smoke) (SmokeBacklog, SmokeRate) else (Backlog, Rate)
    val openS = ctx.seconds / 4
    if (!ctx.trace) {
      val progress = new ProgressLog(Tracer.Off)
      s.streams.addListener(progress)
      val o = try route(ctx, ctx.seed, backlog, rate, openS, WarmCycles + TimedCycles, progress)
        finally s.streams.removeListener(progress)
      // set-up is the session, the median backlog append and the warm-up
      // cycles' catch-ups
      val timedLag = o.lagMs.flatten
      val catchup = Stats.median(o.catchupS.drop(WarmCycles))
      r.put("setup_s", Stats.median(o.preloadS) + o.catchupS.take(WarmCycles).sum, "s")
      r.put("wall_s", catchup, "s")
      r.extra("replicate.catchup_s") = o.catchupS.map(Json.num).mkString("[", ",", "]")
      r.extra("replicate.catchup_rps") = Json.num(backlog / catchup)
      r.extra("replicate.lag_ms_p50") = Json.num(Stats.median(timedLag))
      r.extra("replicate.lag_ms_p99") = Json.num(Stats.pct(timedLag, 99))
      r.extra("replicate.lag_samples") = timedLag.size.toString
      r.extra("replicate.rate_rps") = Json.num(rate)
      r.extra("replicate.gen_late_ms_p99") =
        Json.num(Stats.pct(o.log.due.map { case (_, _, d, done) => done - d }.toSeq, 99))
      r.attempted = o.log.appended
      r.fail(check(ctx, o), "sink differs from the spec-filtered input")
    } else {
      // after a longer warm-up, untraced and traced cycles in the order
      // U T T U: catch-ups still speed up from cycle to cycle, and the
      // symmetric order cancels a steady drift out of the overhead
      val w = WarmCycles + 2
      val u = Set(w, w + 3)
      val t = Set(w + 1, w + 2)
      val tracing = new Tracing(s, ctx.runId)
      val progress = new ProgressLog(tracing.tracer)
      s.streams.addListener(progress)
      val o = try route(ctx, ctx.seed, backlog, rate, openS, w + 4, progress,
          Some(tracing), t)
        finally s.streams.removeListener(progress)
      def mean(cs: Set[Int]): Double = cs.toSeq.map(o.catchupS).sum / cs.size
      val windows = t.toSeq.sorted.map(o.cycleMs)
      val triggers = o.triggers.filter(tr =>
        windows.exists { case (a, _, b) => tr.startMs >= a && tr.startMs <= b })
      tracing.spark.metrics.foreach { case (k, v, unit) => r.put(k, v, unit) }
      ProgressLog.triggerMetrics(triggers, r)
      val lat = triggers.flatMap(_.durations.get("latestOffset")).map(_.toDouble)
      r.put("sources.append_ms_p50", Stats.median(o.log.appendMs.toSeq), "ms")
      r.put("sources.latest_offset_ms_p50", if (lat.isEmpty) 0.0 else Stats.median(lat), "ms")
      r.put("sources.backlog_records_max", backlogMax(o, windows.map { case (_, a, b) => (a, b) }), "count")
      r.put("sources.log_bytes_end", dirBytes(o.log.root).toDouble, "bytes")
      r.put("trace.overhead_frac", mean(t) / mean(u) - 1, "frac")
      r.extra("replicate.catchup_s") = o.catchupS.map(Json.num).mkString("[", ",", "]")
      r.bypass(Curate.LayerMetrics)
      Main.finishTrace(ctx, tracing.tracer, r)
      r.attempted = o.log.appended
      r.fail(check(ctx, o), "traced sink differs from the spec-filtered input")
    }
  }
}

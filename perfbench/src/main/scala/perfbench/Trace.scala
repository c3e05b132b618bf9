package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. Times are epoch nanoseconds.
  * `parent` is -1 until resolved; `lane` is `main` for spans recorded
  * around calls on the benchmark's thread, `spark` for spans read off the
  * listener bus. */
final case class Span(id: Long, var parent: Long, layer: String,
    name: String, lane: String, start: Long, end: Long,
    attrs: Map[String, String] = Map.empty) {
  def dur: Long = end - start
}

/** Span recorder for one benchmark run. Spans are kept in memory and
  * written once, at the end. It records only while switched on (`on`);
  * while off, a call costs one branch. */
final class Tracer(val runId: String) {
  @volatile private var active = false
  def enabled: Boolean = active

  /** Record spans while `body` runs. */
  def on[T](body: => T): T = {
    active = true
    try body finally active = false
  }

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  /** Run `body` inside a span on the calling thread; nested calls on the
    * same thread become its children. */
  def span[T](layer: String, name: String,
      attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(-1L)
      stack.set(id :: stack.get())
      val t0 = now()
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, layer, name, "main", t0, now(), attrs))
      }
    }

  /** Record a span read off the listener bus; its parent is resolved at
    * the end. */
  def record(layer: String, name: String, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), -1L, layer, name, "spark",
        start, math.max(start, end), attrs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Give every listener-derived span a parent: a job goes under the SQL
    * execution it ran for, anything else under the innermost span that
    * contains it among the main-thread spans and streaming triggers.
    * Listener events carry millisecond times, so containment allows
    * `SlackNs` on either side. */
  def resolveParents(): Seq[Span] = {
    val ss = all
    val sqlByExec = ss.filter(s => s.layer == "spark" && s.name == "sql")
      .flatMap(s => s.attrs.get("execution_id").map(_ -> s)).toMap
    val anchors = ss.filter(s => s.lane == "main" ||
      (s.layer == "streaming" && s.name == "trigger"))
    def within(a: Span, s: Span): Boolean =
      a.start - Tracer.SlackNs <= s.start && s.end <= a.end + Tracer.SlackNs
    def innermost(s: Span): Long =
      anchors.filter(a => a.id != s.id && within(a, s))
        .sortBy(a => (a.dur, -a.start)).headOption.map(_.id).getOrElse(-1L)
    ss.foreach { s =>
      if (s.lane == "spark") {
        s.parent =
          if (s.name == "job")
            s.attrs.get("execution_id").flatMap(sqlByExec.get)
              .map(_.id).getOrElse(innermost(s))
          else innermost(s)
      }
    }
    ss
  }

  /** Self time per layer: the wall time during which some span of the
    * layer was open and none of its own children was. A span's self
    * intervals are its interval minus its children's; a layer's self time
    * is the length of the union of its spans' self intervals, so
    * concurrent spans of one layer (parallel jobs) count once. Different
    * layers on concurrent lanes both count. */
  def selfTimeMs(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, spans) =>
      val self = spans.flatMap { s =>
        Tracer.minus((s.start, s.end), Tracer.union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
      }
      layer -> Tracer.union(self).map { case (a, b) => b - a }.sum / 1e6
    }
  }

  def writeJson(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    val sb = new StringBuilder
    sb.append(s"""{"run_id":${Json.str(runId)},"spans":[""")
    ss.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"lane":${Json.str(s.lane)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"attrs":""" +
        Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }) + "}")
    }
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** Never switched on: for untraced runs. */
  val Off = new Tracer("")

  /** Timing error of a span read off the listener bus: its millisecond
    * timestamps, and the millisecond clock the tracer's epoch is set from. */
  val SlackNs = 2000000L

  /** Merge intervals into disjoint, sorted ones. */
  def union(ivs: Seq[(Long, Long)]): List[(Long, Long)] =
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** `iv` minus disjoint sorted intervals `cut`. */
  def minus(iv: (Long, Long), cut: List[(Long, Long)]): List[(Long, Long)] = {
    val (out, from) = cut.foldLeft((List.empty[(Long, Long)], iv._1)) { case ((acc, at), (a, b)) =>
      val kept = if (math.min(a, iv._2) > at) (at, math.min(a, iv._2)) :: acc else acc
      (kept, math.max(at, b))
    }
    (if (iv._2 > from) (from, iv._2) :: out else out).reverse
  }
}

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Trigger(queryName: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long,
    endOffset: String, latestOffset: String) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects every micro-batch progress of the session's queries. The
  * replicate workload needs it untraced too: record lag is read from the
  * trigger that committed each record. */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val src = p.sources.headOption
    val t = Trigger(Option(p.name).getOrElse(""), p.batchId, start,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, src.map(_.endOffset).orNull,
      src.flatMap(s => Option(s.latestOffset)).orNull)
    triggers.add(t)
    tracer.record("streaming", "trigger", t.startMs * 1000000L,
      t.endMs * 1000000L, attrs = Map("batch_id" -> p.batchId.toString,
        "query" -> t.queryName, "input_rows" -> p.numInputRows.toString) ++
        t.durations.map { case (k, v) => s"${k}_ms" -> v.toString })
  }
  def all: Seq[Trigger] = triggers.asScala.toSeq
}

/** Spark-layer counters and spans: SQL executions, jobs and tasks from a
  * `SparkListener`, Catalyst phase times from each execution's
  * `QueryExecution.tracker`, and garbage collection from the JVM's
  * collector beans. They cover only the work run inside `on`. */
final class SparkLayer(s: SparkSession, tracer: Tracer) {
  val planMs = new DoubleAdder
  val jobs = new LongAdder
  val tasks = new LongAdder
  val taskBusyMs = new LongAdder
  val taskMaxMs = new AtomicLong(0)
  val shuffleWrite = new LongAdder
  val shuffleRead = new LongAdder
  val spill = new LongAdder
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** (start ns, end ns) of every finished execution */
  val sqlDone = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private var onMs = 0.0
  private var gcOnMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).orNull))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.increment()
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, exec) =>
        tracer.record("spark", "job", t0 * 1000000L, e.time * 1000000L,
          attrs = Option(exec).map(x => Map("execution_id" -> x)).getOrElse(Map.empty) +
            ("job_id" -> e.jobId.toString))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val d = e.taskInfo.duration
      taskBusyMs.add(d)
      taskMaxMs.accumulateAndGet(d, (a, b) => math.max(a, b))
      Option(e.taskMetrics).foreach { m =>
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        sqlStarts.put(st.executionId, st.time)
      case en: SparkListenerSQLExecutionEnd =>
        planMs.add(org.apache.spark.sql.PerfbenchSql.planMs(en))
        Option(sqlStarts.remove(en.executionId)).foreach { t0 =>
          sqlDone.add((t0 * 1000000L, en.time * 1000000L))
          tracer.record("spark", "sql", t0 * 1000000L, en.time * 1000000L,
            attrs = Map("execution_id" -> en.executionId.toString))
        }
      case _ => ()
    }
  }

  /** Run `body` with the listener attached. */
  def on[T](body: => T): T = {
    val gc0 = gcMs
    val t0 = System.nanoTime()
    s.sparkContext.addSparkListener(listener)
    try body
    finally {
      onMs += (System.nanoTime() - t0) / 1e6
      gcOnMs += gcMs - gc0
      Main.drainListenerBus(s)
      s.sparkContext.removeSparkListener(listener)
    }
  }

  /** The counters over everything run inside `on`. */
  def metrics: Seq[(String, Double, String)] = {
    val execMs = sqlDone.asScala.map { case (a, b) => (b - a) / 1e6 }.sum
    Seq(
      ("spark.plan_ms", planMs.sum, "ms"),
      ("spark.exec_ms", execMs, "ms"),
      ("spark.sql_executions", sqlDone.size.toDouble, "count"),
      ("spark.jobs", jobs.sum.toDouble, "count"),
      ("spark.tasks", tasks.sum.toDouble, "count"),
      ("spark.task_busy_frac", taskBusyMs.sum / math.max(1.0, onMs * Main.Cores), "frac"),
      ("spark.task_max_ms", taskMaxMs.get.toDouble, "ms"),
      ("spark.shuffle_write_bytes", shuffleWrite.sum.toDouble, "bytes"),
      ("spark.shuffle_read_bytes", shuffleRead.sum.toDouble, "bytes"),
      ("spark.spill_bytes", spill.sum.toDouble, "bytes"),
      ("spark.gc_ms", gcOnMs.toDouble, "ms"))
  }
}

object ProgressLog {
  /** Trigger counts and the median of each `durationMs` phase. */
  def triggerMetrics(ts: Seq[Trigger], r: Result): Unit = {
    def p50(k: String): Double = {
      val xs = ts.flatMap(_.durations.get(k)).map(_.toDouble)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    r.put("streaming.triggers", ts.size.toDouble, "count")
    r.put("streaming.empty_trigger_frac",
      ts.count(_.inputRows == 0).toDouble / math.max(1, ts.size), "frac")
    r.put("streaming.trigger_ms_p50", p50("triggerExecution"), "ms")
    r.put("streaming.query_planning_ms_p50", p50("queryPlanning"), "ms")
    r.put("streaming.add_batch_ms_p50", p50("addBatch"), "ms")
    r.put("streaming.wal_commit_ms_p50", p50("walCommit"), "ms")
    r.put("streaming.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
  }
}

/** A traced run's instruments, switched on together around the work they
  * should see. */
final class Tracing(s: SparkSession, runId: String) {
  val tracer = new Tracer(runId)
  val spark = new SparkLayer(s, tracer)
  def on[T](body: => T): T = spark.on(tracer.on(body))
}

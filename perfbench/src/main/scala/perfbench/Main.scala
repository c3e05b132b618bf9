package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = q / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** What a workload run needs: the session, its seed and time budget,
  * where it may write, and whether this run is the traced one. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, smoke: Boolean, work: Path, runId: String) {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger(0)
  /** A fresh directory under the run's work root. */
  def dir(prefix: String): String = {
    val d = work.resolve(s"$prefix-${dirs.incrementAndGet()}")
    Files.createDirectories(d)
    d.toString
  }
}

/** A workload's outcome: named metrics with units, how many operations
  * it attempted and how many failed their correctness check, and extra
  * facts (sample counts, generator lateness) for the result file. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def fail(n: Long, why: String): Unit = if (n > 0) { failed += n; problems += why }
  /** Traced runs report every per-layer metric: a layer the workload
    * bypasses is reported as doing no work. */
  def bypass(ms: Seq[(String, String)]): Unit = ms.foreach { case (n, u) => put(n, 0.0, u) }
}

object Main {

  /** Worker threads of the benchmark's `local[N]` session. */
  val Cores = 4

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def drainListenerBus(s: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)

  /** Run a workload's input set-up `reps` times and return the median
    * time with the inputs of every repetition. */
  def setupReps[T](reps: Int)(f: Int => T): (Seq[T], Double) = {
    val runs = (0 until reps).map(i => time(f(i)))
    (runs.map(_._1), Stats.median(runs.map(_._2)))
  }

  /** Per-layer self times and the trace file, for a traced run. */
  def finishTrace(ctx: Ctx, tracer: Tracer, r: Result): Unit = {
    val spans = tracer.resolveParents()
    val self = tracer.selfTimeMs(spans)
    Seq("bench", "sources", "streaming", "operators", "functions", "spark")
      .foreach(l => r.put(s"self.${l}_ms", self.getOrElse(l, 0.0), "ms"))
    val f = ctx.work.getParent.resolve(s"trace-${ctx.runId}.json")
    tracer.writeJson(f, spans)
    r.extra("trace_file") = Json.str(f.toString)
    r.extra("trace_spans") = spans.size.toString
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val smoke = opts.getOrElse("size", "full") == "smoke"
    val work = Paths.get(opts("work")).toAbsolutePath
    val runId = opts.getOrElse("run-id", java.util.UUID.randomUUID().toString)
    Files.createDirectories(work)

    val (spark, sessionS) = time {
      val s = graft.Sessions.local("perfbench", Cores.toString)
      s.sparkContext.setLogLevel("WARN")
      // the first query of a JVM pays class loading and codegen set-up
      s.range(1000).selectExpr("sum(id)").collect()
      s
    }
    val ctx = Ctx(spark, seed, seconds, trace, smoke, work, runId)
    val r = new Result
    val ok = try {
      workload match {
        case "replicate" => Replicate.run(ctx, r)
        case "curate" => Curate.run(ctx, r)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      r.metrics.get("setup_s").foreach { case (v, u) => r.put("setup_s", v + sessionS, u) }
      true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(math.max(1L, r.attempted - r.failed), s"workload threw: $e")
        r.attempted = math.max(1L, r.attempted)
        false
    }
    r.extra("local_n") = Cores.toString
    r.extra("session_start_s") = Json.num(sessionS)
    r.extra("problems") = r.problems.map(Json.str).mkString("[", ",", "]")
    val metrics = Json.obj(r.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val line = Json.obj(Seq(
      "correct" -> (ok && r.failed == 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> metrics,
      "extra" -> Json.obj(r.extra.toSeq)))
    println("PERFBENCH_RESULT " + line)
    spark.stop()
    System.exit(0)
  }
}

package graft.streaming

import graft.SparkTestSession
import graft.model.{PipelineSpec, Route}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** K4 failure policy (RouteSupervisor), V2 state backup
  * (StateBackupManager) and R1 runtime rate limiting (AdmissionControl). */
class SupervisionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def records: DataFrame =
    (0 until 20).map(o => ("k", s"v$o", "click", o % 2, o.toLong))
      .toDF("k", "v", "topic", "partition", "offset")
      .select(col("k").cast("binary").as("key"),
        col("v").cast("binary").as("value"),
        col("topic"), col("partition"), col("offset"))

  private def spec(name: String, ckpt: String) = PipelineSpec(
    name = name, route = Route("a", "b", 0), topics = Seq("click"),
    dstPartitionCounts = Map("click" -> 2),
    excludeTopicRegex = None, checkpointLocation = Some(ckpt))

  private def eventually(timeoutMs: Long = 30000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond)
  }

  test("K4: supervisor restarts a failed route; checkpoint completes the work") {
    val base = tempDir("graft_k4_")
    val srcDir = s"$base/src"; val outDir = s"$base/out"
    records.write.parquet(srcDir)
    val manager = new PipelineManager(spark)
    val supervisor = new RouteSupervisor(manager, maxRetries = 3)
    spark.streams.addListener(supervisor)
    val failFirst = new AtomicBoolean(true)
    try {
      manager.start(spec("k4", s"$base/ckpt")) { sp =>
        val schema = spark.read.parquet(srcDir).schema
        val src = ReplicationPipeline.fileSource(spark, srcDir, schema)
        val tf = ReplicationPipeline.transform(src, sp)
        val poisoned =
          if (failFirst.getAndSet(false))
            tf.filter(expr("assert_true(offset < 0)").isNull)
          else tf
        ReplicationPipeline.parquetSink(poisoned, outDir, s"$base/ckpt").start()
      }
      // first run fails on the poison predicate; the supervisor must
      // restart with the healthy plan and drain the backlog
      eventually() {
        !failFirst.get() &&
          scala.util.Try(spark.read.parquet(outDir).count()).getOrElse(0L) == 20L
      }
      assert(supervisor.retryCount("k4") <= 3)
    } finally {
      spark.streams.removeListener(supervisor)
      manager.shutdown()
    }
  }

  test("K4: retries are bounded — a permanently failing route gives up") {
    val base = tempDir("graft_k4b_")
    val srcDir = s"$base/src"
    records.write.parquet(srcDir)
    val manager = new PipelineManager(spark)
    val supervisor = new RouteSupervisor(manager, maxRetries = 2)
    spark.streams.addListener(supervisor)
    try {
      manager.start(spec("k4b", s"$base/ckpt")) { sp =>
        val schema = spark.read.parquet(srcDir).schema
        val src = ReplicationPipeline.fileSource(spark, srcDir, schema)
        val tf = ReplicationPipeline.transform(src, sp)
          .filter(expr("assert_true(offset < 0)").isNull) // always fails
        ReplicationPipeline.parquetSink(tf, s"$base/out", s"$base/ckpt").start()
      }
      eventually() { supervisor.retryCount("k4b") == 2 }
      // budget exhausted: the route stays down
      eventually() { manager.query("k4b").exists(q => !q.isActive) }
      Thread.sleep(500)
      assert(supervisor.retryCount("k4b") == 2)
    } finally {
      spark.streams.removeListener(supervisor)
      manager.shutdown()
    }
  }

  test("K4: clean stop does not trigger a restart") {
    val base = tempDir("graft_k4c_")
    val srcDir = s"$base/src"
    records.write.parquet(srcDir)
    val manager = new PipelineManager(spark)
    val supervisor = new RouteSupervisor(manager)
    spark.streams.addListener(supervisor)
    try {
      val q = manager.start(spec("k4c", s"$base/ckpt")) { sp =>
        val schema = spark.read.parquet(srcDir).schema
        val src = ReplicationPipeline.fileSource(spark, srcDir, schema)
        ReplicationPipeline.parquetSink(
          ReplicationPipeline.transform(src, sp), s"$base/out", s"$base/ckpt").start()
      }
      q.awaitTermination() // availableNow drains and stops cleanly
      Thread.sleep(1000)   // give the listener bus time to deliver
      assert(supervisor.retryCount("k4c") == 0)
      assert(manager.query("k4c").exists(q => !q.isActive))
    } finally {
      spark.streams.removeListener(supervisor)
      manager.shutdown()
    }
  }

  test("awaitAll waits for the replacement of a route restarted mid-drain") {
    val base = graft.SessionTemp.dir("graft_await_")
    val srcDir = s"$base/src"; val outDir = s"$base/out"
    // 12 one-file slices read one per trigger: the drain spans 12 batches
    val slices = 12
    for (i <- 0 until slices)
      (0 until 10).map(o => ("k", s"v$i-$o", "click", o % 2, (i * 10 + o).toLong))
        .toDF("k", "v", "topic", "partition", "offset")
        .select(col("k").cast("binary").as("key"),
          col("v").cast("binary").as("value"),
          col("topic"), col("partition"), col("offset"))
        .coalesce(1).write.mode("append").parquet(srcDir)
    val manager = new PipelineManager(spark)
    try {
      val first = manager.start(spec("await", s"$base/ckpt")) { sp =>
        val schema = spark.read.parquet(srcDir).schema
        val src = ReplicationPipeline.fileSource(spark, srcDir, schema,
          maxFilesPerTrigger = Some(1))
        ReplicationPipeline.parquetSink(
          ReplicationPipeline.transform(src, sp), outDir, s"$base/ckpt").start()
      }
      // a second thread restarts the route after its first batch, while
      // the main thread is already waiting in awaitAll
      val restarted = new AtomicBoolean(false)
      val restarter = new Thread(() => {
        while (first.lastProgress == null && first.isActive) Thread.sleep(10)
        restarted.set(manager.restart("await").isDefined)
      })
      restarter.start()
      manager.awaitAll()
      restarter.join()
      assert(restarted.get)
      val active = manager.running.flatMap(manager.query).filter(_.isActive)
      assert(active.isEmpty,
        s"awaitAll returned with active queries ${active.map(_.id)}")
      val out = spark.read.parquet(outDir)
      assert(out.count() == slices * 10L)
      assert(out.select("value").distinct().count() == slices * 10L)
    } finally manager.shutdown()
  }

  test("V2: state backup dumps parseable JSON with specs and status") {
    val dir = tempDir("graft_v2_")
    val manager = new PipelineManager(spark)
    val backup = new StateBackupManager(manager, dir)
    // a registered-but-not-started spec still appears in the dump
    val sp = spec("route-\"quoted\"", s"$dir/ckpt")
    manager.update(sp)
    val p1 = backup.dump()
    val p2 = backup.dump()
    assert(p1.getFileName.toString == "state-00001.json")
    assert(p2.getFileName.toString == "state-00002.json")
    val body = java.nio.file.Files.readString(p2)
    // must be machine-parseable despite the quote in the pipeline name
    val parsed = spark.read.option("multiLine", "true")
      .json(Seq(body).toDS())
    assert(parsed.columns.toSet ==
      Set("seq", "fencingToken", "dumpedAtMs", "pipelines", "specs"))
    assert(body.contains("route-\\\"quoted\\\""))
  }

  test("V2: a restarted backup manager never overwrites prior dumps") {
    val dir = tempDir("graft_v2b_")
    val manager = new PipelineManager(spark)
    new StateBackupManager(manager, dir).dump() // state-00001
    // simulate a driver restart: fresh instance, same directory
    val p = new StateBackupManager(manager, dir).dump()
    assert(p.getFileName.toString == "state-00002.json")
    assert(new java.io.File(dir).list().count(_.endsWith(".json")) == 2)
  }

  test("V2: git-enabled backup commits every dump (GitBackUpHandler analog)") {
    val dir = tempDir("graft_v2git_")
    def git(args: String*): String = {
      val pb = new ProcessBuilder(("git" +: args): _*)
      pb.directory(new java.io.File(dir))
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() == 0, s"git ${args.head} failed: $out")
      out
    }
    git("init", "-q")
    git("config", "user.email", "backup@test")
    git("config", "user.name", "backup")
    val manager = new PipelineManager(spark)
    manager.update(spec("gitroute", s"$dir/ckpt"))
    val backup = new StateBackupManager(manager, dir, gitCommit = true)
    backup.dump()
    backup.dump()
    val log = git("log", "--oneline")
    assert(log.linesIterator.size == 2, s"expected 2 backup commits:\n$log")
    assert(log.contains("state backup"))
    // the committed tree holds the dumps
    assert(git("ls-files").linesIterator.count(_.endsWith(".json")) == 2)
  }

  test("R1: admission control paces batches to the current rate") {
    val ac = new AdmissionControl(initialRowsPerSec = 1e9)
    val written = new AtomicLong(0)
    val fn = ac.paced((df, _) => written.addAndGet(df.count()))
    val df10 = spark.range(10).toDF()
    fn(df10, 0L)
    assert(written.get() == 10)
    assert(ac.lastPauseMillis == 0) // effectively unthrottled
    // runtime rate change: 10 rows at 50 rows/sec → a 200 ms wall-time
    // floor. The pause is target MINUS work time, so on a loaded box a
    // slow count() legitimately leaves pause == 0 — the stable invariant
    // is that the paced batch never finishes before the target, and the
    // pause never overshoots it.
    ac.set(50.0)
    val t0 = System.nanoTime()
    fn(df10, 1L)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(written.get() == 20)
    assert(ac.lastPauseMillis <= 200)
    assert(elapsedMs >= 195, s"paced batch beat the rate floor: $elapsedMs ms")
  }

  test("R1: rate change applies mid-stream without a restart") {
    val base = tempDir("graft_r1_")
    val srcDir = s"$base/src"
    // two files → two micro-batches with maxFilesPerTrigger=1
    records.limit(10).coalesce(1).write.parquet(srcDir)
    records.filter(col("offset") >= 10).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val ac = new AdmissionControl(1e9)
    val batches = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val schema = spark.read.parquet(srcDir).schema
    val src = ReplicationPipeline.fileSource(spark, srcDir, schema,
      maxFilesPerTrigger = Some(1))
    val q = src.writeStream
      .foreachBatch(ac.paced { (df: DataFrame, id: Long) =>
        batches.put(id, df.count())
        ac.set(200.0) // takes effect on the NEXT batch — no restart
      })
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(batches.values.sum == 20)
    assert(batches.size >= 2)       // rate change happened between batches
    assert(ac.rowsPerSec == 200.0)  // and stuck, with the query never restarted
  }
}

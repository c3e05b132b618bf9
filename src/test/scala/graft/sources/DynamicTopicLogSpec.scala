package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.sources.FileTopicLog.LogRecord
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/**
 * The S2 closure: in-flight topic assignment on a RUNNING query.
 *
 * The reference mutates a live fetcher's partition map
 * (`worker/ConsumerFetcherThread.java:183-240`, addPartitions /
 * removePartitions called from the thread owning the consumer); these
 * tests pin the Spark-native equivalent — `graft-topiclog` re-reads the
 * whitelist at every micro-batch boundary — including the properties a
 * restart-based swap cannot express: the SAME run (one runId) observes
 * the assignment change, frozen topics resume exactly where they
 * stopped, and offsets stay exactly-once across both the change and a
 * crash/restart.
 */
class DynamicTopicLogSpec extends AnyFunSuite {

  private lazy val s: SparkSession = graft.SparkTestSession.spark

  private def b(x: String): Array[Byte] = x.getBytes(StandardCharsets.UTF_8)

  private def rec(i: Int): LogRecord =
    LogRecord(b(s"k$i"), b(s"v$i"), 1700000000000L + i,
      headers = Seq("seq" -> b(i.toString)))

  private def freshRoot(): String =
    graft.SessionTemp.dir("graft_dynlog_")

  private def startQuery(root: String, ckpt: String, sink: String,
      maxRows: Option[Long] = None, truncateOnCommit: Boolean = false,
      groupId: Option[String] = None): StreamingQuery = {
    val base = s.readStream.format("graft-topiclog").option("path", root)
      .option("truncateOnCommit", truncateOnCommit.toString)
    val withRows = maxRows.fold(base)(n => base.option("maxRowsPerTrigger", n.toString))
    val src = groupId.fold(withRows)(g => withRows.option("groupId", g))
    src.load()
      .selectExpr("cast(key as string) AS k", "cast(value as string) AS v",
        "topic", "partition", "offset",
        "cast(headers[0].value as string) AS seq")
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
  }

  private def sinkDf(sink: String): DataFrame = s.read.parquet(sink)

  test("log read/write round-trips records with offsets, seek is honored") {
    val root = freshRoot()
    FileTopicLog.append(root, "a", 0, (0 until 10).map(rec))
    FileTopicLog.append(root, "a", 0, (10 until 15).map(rec))
    assert(FileTopicLog.committedCount(root, "a", 0) === 15)
    val all = FileTopicLog.read(root, "a", 0, 0, 15).toSeq
    assert(all.map(_._1) === (0L until 15L))
    assert(all.map(t => new String(t._2.value, StandardCharsets.UTF_8)) ===
      (0 until 15).map(i => s"v$i"))
    // mid-log seek: [7, 12)
    val mid = FileTopicLog.read(root, "a", 0, 7, 12).toSeq
    assert(mid.map(_._1) === (7L until 12L))
    assert(new String(mid.head._2.key, StandardCharsets.UTF_8) === "k7")
    assert(mid.head._2.headers.map { case (k, v) =>
      (k, new String(v, StandardCharsets.UTF_8)) } === Seq("seq" -> "7"))
    // until past the committed count truncates, from past it is empty
    assert(FileTopicLog.read(root, "a", 0, 12, 99).size === 3)
    assert(FileTopicLog.read(root, "a", 0, 15, 99).isEmpty)
  }

  test("offset JSON round-trips (sorted, deterministic)") {
    val o = TopicLogOffset(Map(
      "zz" -> Map(1 -> 7L, 0 -> 12L), "aa" -> Map(3 -> 0L)))
    val j = o.json()
    assert(j === """{"aa":{"3":0},"zz":{"0":12,"1":7}}""")
    assert(TopicLogOffset.fromJson(j) === o)
  }

  test("in-flight add and remove: one runId observes both assignment changes") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.append(root, "alpha", 0, (0 until 10).map(rec))
    FileTopicLog.append(root, "beta", 0, (0 until 10).map(rec))
    FileTopicLog.setWhitelist(root, Seq("alpha"))

    val q = startQuery(root, s"$base/ckpt", s"$base/sink")
    try {
      q.processAllAvailable()
      val phase1 = sinkDf(s"$base/sink")
      assert(phase1.select("topic").distinct().collect().map(_.getString(0)).toSet
        === Set("alpha"), "phase 1 must only see the whitelisted topic")
      assert(phase1.count() === 10)
      val runId = q.runId

      // F1 in flight: add beta — no stop, no new query
      FileTopicLog.setWhitelist(root, Seq("alpha", "beta"))
      FileTopicLog.append(root, "alpha", 0, (10 until 12).map(rec))
      q.processAllAvailable()
      val phase2 = sinkDf(s"$base/sink")
      assert(q.runId === runId, "assignment change must not restart the query")
      assert(phase2.filter("topic = 'beta'").count() === 10,
        "added topic starts from earliest")
      assert(phase2.filter("topic = 'alpha'").count() === 12)

      // F2 in flight: remove alpha — frozen, beta keeps flowing
      FileTopicLog.setWhitelist(root, Seq("beta"))
      FileTopicLog.append(root, "alpha", 0, (12 until 14).map(rec))
      FileTopicLog.append(root, "beta", 0, (10 until 13).map(rec))
      q.processAllAvailable()
      val phase3 = sinkDf(s"$base/sink")
      assert(q.runId === runId)
      assert(phase3.filter("topic = 'alpha'").count() === 12,
        "removed topic must freeze (no new rows)")
      assert(phase3.filter("topic = 'beta'").count() === 13)

      // re-add alpha: resumes at the frozen offset — no replay, no gap
      FileTopicLog.setWhitelist(root, Seq("alpha", "beta"))
      q.processAllAvailable()
      val phase4 = sinkDf(s"$base/sink").filter("topic = 'alpha'")
      assert(phase4.count() === 14)
      assert(phase4.select("offset").collect().map(_.getLong(0)).sorted
        === (0L until 14L).toArray, "offsets contiguous across remove/re-add")
    } finally q.stop()
  }

  test("exactly-once across stop + checkpoint resume") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 8).map(rec))
    FileTopicLog.append(root, "t", 1, (0 until 5).map(rec))

    val q1 = startQuery(root, s"$base/ckpt", s"$base/sink")
    try { q1.processAllAvailable() } finally q1.stop()
    assert(sinkDf(s"$base/sink").count() === 13)

    // more data lands while "down"; resume from the same checkpoint
    FileTopicLog.append(root, "t", 0, (8 until 11).map(rec))
    val q2 = startQuery(root, s"$base/ckpt", s"$base/sink")
    try { q2.processAllAvailable() } finally q2.stop()
    val rows = sinkDf(s"$base/sink")
    assert(rows.count() === 16, "no replay, no loss across restart")
    assert(rows.filter("partition = 0").select("offset").collect()
      .map(_.getLong(0)).sorted === (0L until 11L).toArray)
    // exactly-once: every (topic, partition, offset) appears exactly once
    assert(rows.select("topic", "partition", "offset").distinct().count() === 16)
  }

  test("maxRowsPerTrigger paces batches through admission control") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 30).map(rec))

    val q = startQuery(root, s"$base/ckpt", s"$base/sink", maxRows = Some(7L))
    try {
      q.processAllAvailable()
      assert(sinkDf(s"$base/sink").count() === 30)
      val batchSizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batchSizes.nonEmpty && batchSizes.forall(_ <= 7),
        s"every batch within the cap, got ${batchSizes.mkString(",")}")
      assert(batchSizes.length >= 5, "cap must force multiple batches")
    } finally q.stop()
  }

  test("runtime rate change (R1) tightens and releases batches in flight") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 20).map(rec))

    val q = startQuery(root, s"$base/ckpt", s"$base/sink")
    try {
      q.processAllAvailable() // batch 1: uncapped, all 20
      val uncapped = q.recentProgress.map(_.numInputRows).max
      assert(uncapped === 20, "no rate file → all available in one batch")

      // PUT /ratelimiter analog: cap to 4 rows/trigger on the RUNNING query
      FileTopicLog.setRate(root, Some(4L))
      FileTopicLog.append(root, "t", 0, (20 until 32).map(rec))
      q.processAllAvailable()
      val capped = q.recentProgress.map(_.numInputRows)
        .filter(n => n > 0 && n != 20)
      assert(capped.nonEmpty && capped.forall(_ <= 4),
        s"capped batches must be <= 4, got ${capped.mkString(",")}")
      assert(capped.length >= 3, "12 rows at cap 4 needs >= 3 batches")

      // release the cap, again in flight
      FileTopicLog.setRate(root, None)
      FileTopicLog.append(root, "t", 0, (32 until 42).map(rec))
      q.processAllAvailable()
      assert(sinkDf(s"$base/sink").count() === 42)
      val released = q.recentProgress.map(_.numInputRows).filter(_ > 4)
      assert(released.exists(_ >= 10), "released cap → wide batch again")
    } finally q.stop()
  }

  test("a hot first topic under a sustained cap cannot starve a cold later one") {
    val root = freshRoot()
    // "aaa" sorts first and ALONE produces more than the cap every
    // batch — the shape that permanently starved later topics when the
    // budget drained in sorted (topic, partition) order. "zzz" is a
    // low-volume topic that must still advance every single batch.
    FileTopicLog.setWhitelist(root, Seq("aaa", "zzz"))
    FileTopicLog.append(root, "aaa", 0, (0 until 50).map(rec))
    FileTopicLog.append(root, "zzz", 0, (0 until 8).map(rec))
    val stream = new DynamicTopicLogStream(root, None)
    val cap = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(10L)
    var pos: Map[String, Map[Int, Long]] = Map.empty
    var hotBase = 50
    (0 until 8).foreach { round =>
      val next = stream.latestOffset(TopicLogOffset(pos), cap)
        .asInstanceOf[TopicLogOffset].positions
      val hotBefore = pos.getOrElse("aaa", Map.empty[Int, Long]).getOrElse(0, 0L)
      val coldBefore = pos.getOrElse("zzz", Map.empty[Int, Long]).getOrElse(0, 0L)
      val hotAfter = next("aaa")(0)
      val coldAfter = next.getOrElse("zzz", Map.empty[Int, Long]).getOrElse(0, 0L)
      assert(hotAfter > hotBefore, s"round $round: hot topic advances")
      if (coldBefore < 8L)
        assert(coldAfter > coldBefore,
          s"round $round: cold topic must advance every batch while it has data " +
            s"(was $coldBefore, still $coldAfter)")
      assert((hotAfter - hotBefore) + (coldAfter - coldBefore) <= 10L + 2L,
        s"round $round: overshoot bounded by one row per non-empty TP")
      pos = next
      // the hot topic keeps producing ABOVE the cap — backlog never drains
      FileTopicLog.append(root, "aaa", 0, (hotBase until hotBase + 20).map(rec))
      hotBase += 20
    }
    assert(pos("zzz")(0) === 8L, "cold topic fully delivered despite the hot backlog")
  }

  test("truncateBelow retires a prefix; readers at/above the cut are unaffected") {
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 20).map(rec))
    val before = FileTopicLog.read(root, "t", 0, 8, 20).toSeq
    FileTopicLog.truncateBelow(root, "t", 0, 8)
    assert(FileTopicLog.startOffset(root, "t", 0) === 8)
    assert(FileTopicLog.committedCount(root, "t", 0) === 20,
      "end offset is stable across retention")
    // identical records at identical offsets above the cut
    val after = FileTopicLog.read(root, "t", 0, 8, 20).toSeq
    assert(after.map(_._1) === before.map(_._1))
    assert(after.map(t => new String(t._2.value, StandardCharsets.UTF_8)) ===
      before.map(t => new String(t._2.value, StandardCharsets.UTF_8)))
    // a position below the base clamps to earliest (Kafka reset semantics)
    assert(FileTopicLog.read(root, "t", 0, 0, 20).map(_._1).toSeq ===
      (8L until 20L))
    // appends continue at the stable end offset; reads span the seam
    FileTopicLog.append(root, "t", 0, (20 until 25).map(rec))
    assert(FileTopicLog.read(root, "t", 0, 18, 25).map(_._1).toSeq ===
      (18L until 25L))
    // a second truncation (epoch 1 -> 2) composes
    FileTopicLog.truncateBelow(root, "t", 0, 22)
    assert(FileTopicLog.read(root, "t", 0, 0, 99).map(_._1).toSeq ===
      (22L until 25L))
    // truncating past the end clamps to end (empty but appendable)
    FileTopicLog.truncateBelow(root, "t", 0, 999)
    assert(FileTopicLog.startOffset(root, "t", 0) === 25)
    assert(FileTopicLog.read(root, "t", 0, 0, 99).isEmpty)
    FileTopicLog.append(root, "t", 0, (25 until 27).map(rec))
    assert(FileTopicLog.read(root, "t", 0, 25, 27).map(_._1).toSeq ===
      Seq(25L, 26L))
  }

  test("a frozen topic's position survives retention of OTHER offsets mid-query") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("a", "b"))
    FileTopicLog.append(root, "a", 0, (0 until 10).map(rec))
    FileTopicLog.append(root, "b", 0, (0 until 10).map(rec))
    val q = startQuery(root, s"$base/ckpt", s"$base/sink")
    try {
      q.processAllAvailable()
      // freeze a, retain-cut b below the consumed position, keep going
      FileTopicLog.setWhitelist(root, Seq("b"))
      FileTopicLog.truncateBelow(root, "b", 0, 10)
      FileTopicLog.append(root, "b", 0, (10 until 14).map(rec))
      q.processAllAvailable()
      // re-add a: resumes at its frozen offset even though b was truncated
      FileTopicLog.setWhitelist(root, Seq("a", "b"))
      FileTopicLog.append(root, "a", 0, (10 until 12).map(rec))
      q.processAllAvailable()
      val rows = sinkDf(s"$base/sink")
      assert(rows.filter("topic = 'a'").select("offset").collect()
        .map(_.getLong(0)).sorted === (0L until 12L).toArray)
      assert(rows.filter("topic = 'b'").select("offset").collect()
        .map(_.getLong(0)).sorted === (0L until 14L).toArray)
      assert(rows.select("topic", "partition", "offset").distinct().count()
        === rows.count(), "no replay after retention")
    } finally q.stop()
  }

  test("truncateOnCommit retires consumed records behind a running query") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
    val q = s.readStream.format("graft-topiclog").option("path", root)
      .option("truncateOnCommit", "true")
      .load()
      .selectExpr("cast(value as string) AS v", "topic", "partition", "offset")
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      FileTopicLog.append(root, "t", 0, (10 until 15).map(rec))
      q.processAllAvailable()
      // the log only retains the unconsumed tail (maybe the last batch)
      assert(FileTopicLog.startOffset(root, "t", 0) >= 10,
        "consumed prefix must be retired")
      assert(FileTopicLog.committedCount(root, "t", 0) === 15)
      // exactly-once output is unaffected by retention
      val rows = sinkDf(s"$base/sink")
      assert(rows.count() === 15)
      assert(rows.select("offset").collect().map(_.getLong(0)).sorted ===
        (0L until 15L).toArray)
    } finally q.stop()
  }

  test("retention is clamped to the slowest registered group: two checkpoints, no loss") {
    // protocol level: the cut is min across registered groups; a group
    // with no recorded position for the partition counts as the base
    // (full block), and recorded positions are monotonic (merge-max)
    locally {
      val r = freshRoot()
      FileTopicLog.append(r, "t", 0, (0 until 4).map(rec))
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 4L,
        "no groups registered → single-consumer retention")
      FileTopicLog.registerGroup(r, "slow")
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 0L,
        "registered-but-uncommitted group pins the cut at the base")
      FileTopicLog.commitGroup(r, "slow", Map("t" -> Map(0 -> 2L)))
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 2L)
      FileTopicLog.commitGroup(r, "slow", Map("t" -> Map(0 -> 1L)))
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 2L,
        "group positions never move backward")
      FileTopicLog.registerGroup(r, "slow")
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 2L,
        "re-registration never clobbers a recorded position")
      // explicit teardown releases the pin (Kafka's admin group-offset
      // deletion analog); idempotent, and the staleness signal an
      // expiry policy would key on disappears
      assert(FileTopicLog.groupLastCommitMillis(r, "slow").nonEmpty)
      FileTopicLog.unregisterGroup(r, "slow")
      FileTopicLog.unregisterGroup(r, "slow")
      assert(FileTopicLog.groupPositions(r, "slow").isEmpty)
      assert(FileTopicLog.groupLastCommitMillis(r, "slow").isEmpty)
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 4L,
        "unregistering the last group restores single-consumer retention")
      FileTopicLog.registerGroup(r, "a")
      FileTopicLog.commitGroup(r, "a", Map("t" -> Map(0 -> 3L)))
      FileTopicLog.registerGroup(r, "b")
      FileTopicLog.commitGroup(r, "b", Map("t" -> Map(0 -> 1L)))
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 1L)
      FileTopicLog.unregisterGroup(r, "b")
      assert(FileTopicLog.retentionCut(r, "t", 0, 4L) === 3L,
        "releasing the slowest group advances the cut to the remaining min")
    }

    // end to end: a truncating fast query and a late-starting slow query
    // on their OWN checkpoints. Source commits land one micro-batch late
    // (the engine commits batch N while constructing N+1), so each round
    // appends fresh data and drains BOTH queries to flush them through.
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 12).map(rec))
    FileTopicLog.registerGroup(root, "slow")

    val fast = startQuery(root, s"$base/fastCkpt", s"$base/fastSink",
      truncateOnCommit = true, groupId = Some("fast"))
    try {
      fast.processAllAvailable()
      FileTopicLog.append(root, "t", 0, (12 until 18).map(rec))
      fast.processAllAvailable() // commits the 12-record batch → wants to cut
      assert(FileTopicLog.startOffset(root, "t", 0) === 0L,
        "a registered group with no committed position blocks retention")

      // the slow consumer starts AFTER fast consumed everything — and
      // still reads from offset 0 because retention was pinned
      val slow = startQuery(root, s"$base/slowCkpt", s"$base/slowSink",
        groupId = Some("slow"))
      try {
        slow.processAllAvailable()
        assert(sinkDf(s"$base/slowSink").count() === 18,
          "records fast already consumed are intact for the slow group")
        (0 until 3).foreach { i =>
          FileTopicLog.append(root, "t", 0, (18 + i * 2 until 20 + i * 2).map(rec))
          slow.processAllAvailable()
          fast.processAllAvailable()
        }
        val slowRows = sinkDf(s"$base/slowSink")
        assert(slowRows.count() === 24, "the slow consumer never loses a record")
        assert(slowRows.select("offset").collect().map(_.getLong(0)).sorted ===
          (0L until 24L).toArray)
        assert(slowRows.select("offset").distinct().count() === 24,
          "exactly once despite retention behind it")
        assert(sinkDf(s"$base/fastSink").count() === 24)
        val cut = FileTopicLog.startOffset(root, "t", 0)
        val slowRecorded = FileTopicLog.groupPositions(root, "slow")("t")(0)
        assert(cut >= 12L, "retention advanced once the slow group recorded progress")
        assert(cut <= slowRecorded,
          "the base never outruns the slowest group's recorded position")
      } finally slow.stop()
    } finally fast.stop()
  }

  test("idle-tick retention heal: a cut that raced a group's position " +
      "publish lands WITHOUT new data (the k2d flake, deterministic)") {
    // The cut runs when the source learns a position is durably
    // processed — and Spark reports a batch's source-commit only when
    // a SUCCESSOR batch runs. So a slow group publishing its position
    // AFTER the fast query's last data batch used to leave the log
    // pinned at the stale min until new traffic arrived (intermittent
    // k2d failure, hidden in r14's silent artifact omission). Two
    // fixes compose here: planInputPartitions records batch N's start
    // (durable once N is scheduled) as a cut-safe position one batch
    // earlier than commit(), and idle latestOffset ticks re-run the
    // cut against the CURRENT group snapshot — so the base advances
    // with NO further append.
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynidle_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 12).map(rec))
    FileTopicLog.registerGroup(root, "slow")
    val fast = startQuery(root, s"$base/ckpt", s"$base/sink",
      truncateOnCommit = true, groupId = Some("fast"))
    try {
      fast.processAllAvailable()
      // a second batch: its scheduling proves batch 1's [0,12) durable
      FileTopicLog.append(root, "t", 0, (12 until 18).map(rec))
      fast.processAllAvailable()
      assert(FileTopicLog.startOffset(root, "t", 0) === 0L,
        "the registered-but-uncommitted slow group pins the base")
      // the slow group's position publish arrives AFTER fast's last
      // data batch — exactly the race: no further fast batch exists
      // to recompute the min at commit time
      FileTopicLog.commitGroup(root, "slow", Map("t" -> Map(0 -> 9L)))
      val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (FileTopicLog.startOffset(root, "t", 0) < 9L &&
          System.nanoTime < deadline)
        Thread.sleep(25)
      assert(FileTopicLog.startOffset(root, "t", 0) === 9L,
        "idle ticks re-run the cut: base reaches min(own>=12, slow=9) " +
          "with zero new records")
      // r16 memoizes the idle heal on (position, group snapshot) so a
      // fast trigger doesn't re-scan segments every idle tick — the
      // memo must NOT block snapshot-driven transitions: unregistering
      // the slow group while idle must advance retention to the
      // query's own position, still with zero new data
      FileTopicLog.unregisterGroup(root, "slow")
      val deadline2 = System.nanoTime + 10L * 1000 * 1000 * 1000
      while (FileTopicLog.startOffset(root, "t", 0) < 12L &&
          System.nanoTime < deadline2)
        Thread.sleep(25)
      assert(FileTopicLog.startOffset(root, "t", 0) >= 12L,
        "idle unregister releases the pin: the memoized heal re-runs " +
          "on the changed snapshot")
      assert(sinkDf(s"$base/sink").count() === 18,
        "the fast sink is complete and unaffected")
    } finally fast.stop()
  }

  test("registration racing a truncating commit: the group is pinned to a base it can read") {
    // The contract "from registration the group blocks retention" must
    // hold with NO one-commit window: a registerGroup concurrent with a
    // commit's snapshot-then-cut either lands before the snapshot (the
    // cut is blocked at the group's pin) or after the whole cut (the
    // group records the already-truncated base). The broken middle —
    // commit snapshots, group registers expecting base 0, cut deletes
    // to 10 anyway — would leave base > pin: data the group was
    // promised, gone. Many trials to let the scheduler find any
    // interleaving the lock failed to exclude.
    (1 to 40).foreach { _ =>
      val root = freshRoot()
      FileTopicLog.setWhitelist(root, Seq("t"))
      FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.CountDownLatch(2)
      var err: Throwable = null
      def spawn(body: => Unit): Unit = {
        val th = new Thread(() => {
          start.await()
          try body catch { case t: Throwable => err = t }
          finally done.countDown()
        })
        th.setDaemon(true); th.start()
      }
      // thread A: the exact locked sequence DynamicTopicLogSource.commit
      // runs for a truncating query whose own position is 10
      spawn {
        FileTopicLog.withGroupsLock(root) {
          val snap = FileTopicLog.groupSnapshot(root)
          FileTopicLog.truncateBelow(root, "t", 0,
            FileTopicLog.retentionCut(snap, root, "t", 0, 10L))
        }
      }
      // thread B: a consumer group registering concurrently
      spawn { FileTopicLog.registerGroup(root, "late") }
      start.countDown()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      if (err != null) throw err
      val base = FileTopicLog.startOffset(root, "t", 0)
      val pin = FileTopicLog.groupPositions(root, "late")("t")(0)
      assert(base <= pin,
        s"base $base outran the group's pin $pin — registration lost data")
      assert((base, pin) == (0L, 0L) || (base, pin) == (10L, 10L),
        s"serialization must yield register-first (0,0) or cut-first (10,10), got ($base,$pin)")
    }
  }

  test("truncation sweeps crash garbage from dead cleaner runs") {
    // A cleaner crash can leave (a) epoch-named tmps (died before
    // publish) and (b) data files of a superseded epoch (died between
    // commit and delete). Neither is referenced by .count; the next
    // truncation must remove both, and reads must be unaffected
    // throughout.
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
    FileTopicLog.truncateBelow(root, "t", 0, 3L) // now epoch 1
    val d = java.nio.file.Paths.get(root, "t")
    Files.write(d.resolve("p0.e5.log"), Array[Byte](1, 2, 3))      // orphan epoch
    Files.write(d.resolve("p0.e5.idx"), Array[Byte](4, 5))
    Files.write(d.resolve("_p0.e3.log.tmp"), Array[Byte](6))       // dead tmp
    // other partitions' files must survive the sweep
    FileTopicLog.append(root, "t", 1, (0 until 2).map(rec))
    FileTopicLog.truncateBelow(root, "t", 0, 6L) // sweeps, then epoch 2
    assert(!Files.exists(d.resolve("p0.e5.log")), "orphan epoch swept")
    assert(!Files.exists(d.resolve("p0.e5.idx")), "orphan idx swept")
    assert(!Files.exists(d.resolve("_p0.e3.log.tmp")), "dead tmp swept")
    assert(FileTopicLog.committedCount(root, "t", 1) === 2, "p1 untouched")
    val back = FileTopicLog.read(root, "t", 0, 6, 10).toSeq
    assert(back.map(_._1) === (6L until 10L))
    assert(back.map(t => new String(t._2.value, StandardCharsets.UTF_8)) ===
      (6 until 10).map(i => s"v$i"))
  }

  test("a topic-level retention walk lists the topic dir once and sweeps every cut partition") {
    // One walk cuts p0 and p1 of topic t; p2 rides along with a no-op
    // cut. The sweep takes ONE listing of the topic dir for the whole
    // walk, removes both cut partitions' planted garbage (an orphan
    // epoch and a dead epoch tmp), and leaves every file of p2 alone.
    val root = freshRoot()
    (0 until 3).foreach(p => FileTopicLog.append(root, "t", p, (0 until 10).map(rec)))
    val d = java.nio.file.Paths.get(root, "t")
    (0 until 3).foreach { p =>
      Files.write(d.resolve(s"p$p.e5.log"), Array[Byte](1, 2, 3))  // orphan epoch
      Files.write(d.resolve(s"p$p.e5.idx"), Array[Byte](4, 5))
      Files.write(d.resolve(s"_p$p.e3.log.tmp"), Array[Byte](6))   // dead tmp
    }
    def filesOf(p: Int): Set[String] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(s"p$p.") || n.startsWith(s"_p$p.")).toSet
      finally s.close()
    }
    val p2Before = filesOf(2)
    val listings0 = FileTopicLog.sweepListings.get()
    FileTopicLog.truncateTopic(root, "t", Seq(0 -> 4L, 1 -> 6L, 2 -> 0L))
    assert(FileTopicLog.sweepListings.get() - listings0 === 1,
      "the topic dir is listed once per walk, not once per partition")
    Seq(0, 1).foreach { p =>
      assert(!Files.exists(d.resolve(s"p$p.e5.log")), s"p$p orphan epoch swept")
      assert(!Files.exists(d.resolve(s"p$p.e5.idx")), s"p$p orphan idx swept")
      assert(!Files.exists(d.resolve(s"_p$p.e3.log.tmp")), s"p$p dead tmp swept")
    }
    assert(filesOf(2) === p2Before, "an uncut partition keeps all of its files")
    assert(FileTopicLog.read(root, "t", 0, 0, 10).map(_._1).toSeq === (4L until 10L))
    assert(FileTopicLog.read(root, "t", 1, 0, 10).map(_._1).toSeq === (6L until 10L))
    assert(FileTopicLog.read(root, "t", 2, 0, 10).map(_._1).toSeq === (0L until 10L))
    // a walk whose every cut is a no-op never lists the directory
    FileTopicLog.truncateTopic(root, "t", Seq(0 -> 4L, 1 -> 2L, 2 -> 0L))
    assert(FileTopicLog.sweepListings.get() - listings0 === 1,
      "an all-no-op walk takes no listing")
  }

  /** Start a thread that takes the root's group lock and runs `body`
    * under it; returns once the lock is held. */
  private def lockHolder(root: String)(body: => Unit): Thread = {
    val held = new java.util.concurrent.CountDownLatch(1)
    val th = new Thread(() => FileTopicLog.withGroupsLock(root) {
      held.countDown(); body
    })
    th.setDaemon(true); th.start()
    assert(held.await(30, java.util.concurrent.TimeUnit.SECONDS))
    th
  }

  private def awaitBase(root: String, at: Long): Unit = {
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (FileTopicLog.startOffset(root, "t", 0) < at &&
        System.nanoTime < deadline)
      Thread.sleep(10)
  }

  private def cleanerAlive(root: String): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.exists(th =>
      th.getName == s"graft-topiclog-cleaner $root" && th.isAlive)
  }

  private def cutAt(at: Long): TopicLogOffset =
    TopicLogOffset(Map("t" -> Map(0 -> at)))

  test("a truncating commit returns while the group lock is held; the cleaner cuts after") {
    // Spark calls commit inside the next trigger's walCommit: the
    // retention walk (which takes the group lock) must not run there
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
    val holder = lockHolder(root)(Thread.sleep(3000))
    val stream = new DynamicTopicLogStream(root, None, truncateOnCommit = true)
    try {
      val t0 = System.nanoTime
      stream.commit(cutAt(6L))
      val ms = (System.nanoTime - t0) / 1e6
      assert(ms < 1000, s"commit waited $ms ms for the group lock")
      holder.join()
      awaitBase(root, 6L)
      assert(FileTopicLog.startOffset(root, "t", 0) === 6L,
        "the cleaner reaches the committed cut once the lock is free")
    } finally stream.stop()
  }

  test("commits that land while a cut waits coalesce into at most two walks") {
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 20).map(rec))
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = lockHolder(root)(release.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit)
    val stream = new DynamicTopicLogStream(root, None, truncateOnCommit = true)
    val listings0 = FileTopicLog.sweepListings.get()
    try {
      (1 to 10).foreach(i => stream.commit(cutAt(i.toLong)))
      release.countDown()
      holder.join()
      awaitBase(root, 10L)
    } finally stream.stop()
    val walks = FileTopicLog.sweepListings.get() - listings0
    assert(walks >= 1 && walks <= 2,
      s"ten queued commits took $walks walks; the cleaner keeps only the newest")
    assert(FileTopicLog.startOffset(root, "t", 0) === 10L,
      "the last walk reaches the newest committed position")
  }

  test("stop() finishes the pending cut and joins the cleaner thread") {
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = lockHolder(root)(release.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit)
    val stream = new DynamicTopicLogStream(root, None, truncateOnCommit = true)
    stream.commit(cutAt(4L))
    stream.commit(cutAt(7L)) // pending behind the blocked first pass
    assert(cleanerAlive(root), "the first commit starts the cleaner")
    val releaser = new Thread(() => { Thread.sleep(200); release.countDown() })
    releaser.setDaemon(true); releaser.start()
    stream.stop() // returns only after both passes ran
    assert(FileTopicLog.startOffset(root, "t", 0) === 7L,
      "stop() runs the pending cut to completion")
    assert(!cleanerAlive(root), "stop() joins the cleaner thread")
    holder.join()
    stream.commit(cutAt(9L))
    Thread.sleep(100)
    assert(FileTopicLog.startOffset(root, "t", 0) === 7L,
      "no cut touches the log after the stream stopped")
  }

  test("a capped backlog of 2x the cap drains in exactly two full batches") {
    // 3 topics x 8 partitions with odd counts 3, 5, …, 49 (624 rows)
    // under a 312-row cap: every floor share is half a row short, so
    // floor shares alone plan 300 rows and leave a third batch; the
    // largest-remainder rows fill the first batch to the cap exactly.
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    val topics = Seq("a", "b", "c")
    val counts = for { (t, ti) <- topics.zipWithIndex; p <- 0 until 8 }
      yield (t, p, 2 * (ti * 8 + p) + 3)
    counts.foreach { case (t, p, n) => FileTopicLog.append(root, t, p, (0 until n).map(rec)) }
    FileTopicLog.setWhitelist(root, topics)
    val cap = counts.map(_._3).sum / 2
    assert(cap === 312)
    val q = s.readStream.format("graft-topiclog").option("path", root)
      .option("maxRowsPerTrigger", cap.toString)
      .load()
      .selectExpr("topic", "partition", "offset")
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq === Seq(cap.toLong, cap.toLong))
    assert(sinkDf(s"$base/sink").distinct().count() === 2L * cap)
  }

  test("append reconciles uncommitted garbage left by a crashed writer") {
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 5).map(rec))
    // simulate a crash mid-append AFTER idx/log bytes flushed but BEFORE
    // the .count commit: stray idx entries + partial record bytes
    val d = java.nio.file.Paths.get(root, "t")
    val idx = d.resolve("p0.idx")
    val log = d.resolve("p0.log")
    Files.write(idx, Array.fill[Byte](24)(7),
      java.nio.file.StandardOpenOption.APPEND)
    Files.write(log, Array.fill[Byte](13)(9),
      java.nio.file.StandardOpenOption.APPEND)
    // next append must land at the commit point, not after the garbage
    FileTopicLog.append(root, "t", 0, (5 until 9).map(rec))
    assert(Files.size(idx) === 9 * 8, "idx row i == offset i again")
    val all = FileTopicLog.read(root, "t", 0, 0, 9).toSeq
    assert(all.map(_._1) === (0L until 9L))
    assert(all.map(t => new String(t._2.value, StandardCharsets.UTF_8)) ===
      (0 until 9).map(i => s"v$i"))
  }

  test("a wide assignment packs onto bounded tasks per micro-batch") {
    // Reference routes carry thousands of TPs; one task per TP per batch
    // would spend the batch on dispatch. planInputPartitions must pack
    // the non-empty ranges onto at most 2x-parallelism tasks — pinned
    // here via a listener so a regression to 1:1 cannot pass silently —
    // while every record still arrives exactly once.
    val root = freshRoot()
    val topics = (0 until 50).map(i => f"t$i%02d")
    topics.foreach { t =>
      (0 until 4).foreach(p => FileTopicLog.append(root, t, p, (0 until 3).map(rec)))
    } // 200 TPs, 600 records
    FileTopicLog.setWhitelist(root, topics)
    val maxStageTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          ev: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        maxStageTasks.getAndUpdate(m => math.max(m, ev.stageInfo.numTasks)): Unit
    }
    val base = graft.SessionTemp.dir("graft_dynq_")
    s.sparkContext.addSparkListener(listener)
    try {
      val q = startQuery(root, s"$base/ckpt", s"$base/sink")
      try q.processAllAvailable() finally q.stop()
    } finally s.sparkContext.removeSparkListener(listener)
    val bound = 2 * s.sparkContext.defaultParallelism
    assert(maxStageTasks.get() > 0, "listener must have observed the batch")
    assert(maxStageTasks.get() <= bound,
      s"200-TP batch must pack onto <= $bound tasks, saw ${maxStageTasks.get()}")
    val rows = sinkDf(s"$base/sink")
    assert(rows.count() === 600)
    assert(rows.select("topic", "partition", "offset").distinct().count() === 600)
  }

  test("partition-count expansion is picked up mid-query (F6)") {
    // The reference extends a topic's assignment when its partition
    // count grows, initializing the new partitions at offset 0
    // (`C/core/IdealStateBuilder.java:63-132`). The dynamic source must
    // do the same WITHOUT a restart: a partition that appears after the
    // query started flows from 0 at the next batch, and the existing
    // partition neither replays nor drops across the expansion.
    val root = freshRoot()
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 4).map(rec))
    val base = graft.SessionTemp.dir("graft_dynq_")
    val q = startQuery(root, s"$base/ckpt", s"$base/sink")
    try {
      val runId = q.runId
      q.processAllAvailable()
      FileTopicLog.append(root, "t", 1, (0 until 6).map(rec)) // expansion
      FileTopicLog.append(root, "t", 0, (4 until 7).map(rec))
      q.processAllAvailable()
      assert(q.runId === runId, "expansion must not restart the query")
      val rows = sinkDf(s"$base/sink")
      assert(rows.count() === 13)
      val byPart = rows.collect()
        .groupBy(_.getAs[Int]("partition"))
        .view.mapValues(_.map(_.getAs[Long]("offset")).sorted.toList).toMap
      assert(byPart(0) === (0L until 7L).toList, "no replay/loss on p0")
      assert(byPart(1) === (0L until 6L).toList, "new partition starts at 0")
    } finally q.stop()
  }

  test("a topic whitelisted before it exists starts flowing when produced") {
    // The reference auto-whitelists topics ahead of creation (F1/F3 —
    // the whitelist is controller state, the topic appears when the
    // first producer lands). A running query over a whitelist entry
    // with no log directory yet must plan empty batches, then pick the
    // topic up from offset 0 at the first post-creation batch.
    val root = freshRoot()
    FileTopicLog.setWhitelist(root, Seq("future"))
    val base = graft.SessionTemp.dir("graft_dynq_")
    val q = startQuery(root, s"$base/ckpt", s"$base/sink")
    try {
      q.processAllAvailable() // no data, no directory — must not throw
      FileTopicLog.append(root, "future", 0, (0 until 5).map(rec))
      FileTopicLog.append(root, "future", 1, (0 until 3).map(rec))
      q.processAllAvailable()
      val rows = sinkDf(s"$base/sink")
      assert(rows.count() === 8)
      assert(rows.filter(org.apache.spark.sql.functions.col("partition") === 0)
        .select("offset").collect().map(_.getLong(0)).sorted === (0L until 5L).toArray)
    } finally q.stop()
  }

  test("a fresh checkpoint over a truncated log seeds from the retained base") {
    // Kafka's earliest = log-start-offset: an unseen TP must start at
    // base, not 0. Seeding at 0 would charge the maxRowsPerTrigger
    // budget for phantom rows below base — with base=8 and a 2-row cap,
    // the first batches would plan [0,2), [2,4) ... and emit NOTHING
    // until the position caught up. The first non-empty batch must
    // instead deliver the two real records immediately.
    val root = freshRoot()
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
    FileTopicLog.truncateBelow(root, "t", 0, 8L)
    assert(FileTopicLog.startOffset(root, "t", 0) === 8)
    val base = graft.SessionTemp.dir("graft_dynq_")
    val q = startQuery(root, s"$base/ckpt", s"$base/sink", maxRows = Some(2L))
    try {
      q.processAllAvailable()
      val rows = sinkDf(s"$base/sink")
      assert(rows.count() === 2)
      assert(rows.select("offset").collect().map(_.getLong(0)).sorted ===
        Array(8L, 9L))
      // and the first completed batch already carried them (no empty
      // budget-burning batches before the data)
      val p = q.lastProgress
      assert(p.batchId <= 1,
        s"retained records must arrive in the first batch(es), batchId=${p.batchId}")
    } finally q.stop()
  }

  test("the partition lock serializes mutators ACROSS PROCESSES") {
    // A second JVM ([[LockProbe]]) holds the partition lock mid-append
    // (slow record iterator) while this JVM races an appendAt. The
    // in-process monitor cannot see the child; only the OS-level
    // advisory lock on p<P>.lockf serializes them. If it failed to, this
    // JVM would read the pre-append committed end (0) and the
    // contiguity require in appendAt would throw ("non-contiguous
    // offset 5, expected 0") — so plain success IS the gate.
    val root = freshRoot()
    val marker = s"$root/.probe_in_lock"
    val cp = System.getProperty("java.class.path")
    val child = new ProcessBuilder(
      "java", "-cp", cp, "graft.sources.LockProbe",
      root, "t", "0", "5", "200", marker).inheritIO().start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!Files.exists(java.nio.file.Paths.get(marker))) {
        assert(System.nanoTime() < deadline, "child never reached its append")
        assert(child.isAlive || child.exitValue() == 0, "child JVM died early")
        Thread.sleep(20)
      }
      // child is inside append holding the lock for >= 4 * 200 ms more
      FileTopicLog.appendAt(root, "t", 0,
        (5 until 10).map(i => (i.toLong, rec(i))))
      assert(child.waitFor() === 0, "child append must succeed")
      val all = FileTopicLog.read(root, "t", 0, 0, 10).toSeq
      assert(all.map(_._1) === (0L until 10L))
      assert(all.map(t => new String(t._2.value, StandardCharsets.UTF_8)) ===
        (0 until 5).map(i => s"v$i") ++ (5 until 10).map(i => s"v$i"))
    } finally { child.destroyForcibly(); () }
  }

  test("concurrent producer appends and retention truncations never lose records") {
    // The truncateOnCommit feature makes the engine itself a concurrent
    // partition mutator (driver commit hook) while producers append —
    // the partition lock must serialize them such that every offset the
    // producer committed is either retained with its exact bytes or was
    // deliberately retired (base advanced past it); a torn epoch or a
    // lost committed suffix would surface as a gap or wrong value here.
    val root = freshRoot()
    val total = 1500L
    val writer = new Thread(() => {
      var off = 0L
      while (off < total) {
        val n = 1 + (off % 7)
        val until = math.min(off + n, total)
        FileTopicLog.appendAt(root, "t", 0,
          (off until until).map(i => (i, rec(i.toInt))))
        off = until
      }
    })
    @volatile var stop = false
    val truncator = new Thread(() => {
      val rnd = new scala.util.Random(7)
      while (!stop) {
        val st = FileTopicLog.state(root, "t", 0)
        if (st.end > st.base)
          FileTopicLog.truncateBelow(root, "t", 0,
            st.base + 1 + rnd.nextInt((st.end - st.base).toInt))
        Thread.sleep(1)
      }
    })
    writer.start(); truncator.start()
    writer.join(); stop = true; truncator.join()
    val st = FileTopicLog.state(root, "t", 0)
    assert(st.end === total, "every produced offset must be committed")
    val retained = FileTopicLog.read(root, "t", 0, st.base, st.end).toSeq
    assert(retained.map(_._1) === (st.base until st.end),
      "retained suffix must be offset-contiguous from base")
    retained.foreach { case (off, r) =>
      assert(new String(r.value, StandardCharsets.UTF_8) === s"v$off",
        s"record at offset $off must carry its original bytes")
    }
  }

  test("a partition created in the listing's timestamp tick is not masked by the cache") {
    // The dir-listing cache is validated by the dir's (fileKey, mtime,
    // size); a p<P>.count created in the same filesystem-timestamp tick
    // right after a listing leaves that stamp unchanged. Simulate the
    // granularity collapse: list (fresh mtime — must NOT cache), create
    // a second partition, then restore the dir mtime to the pre-create
    // value. A stale cache would keep returning only p0.
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 2).map(rec))
    val d = java.nio.file.Paths.get(root, "t")
    val preStamp = Files.getLastModifiedTime(d)
    assert(FileTopicLog.partitionsOf(root, "t") === Seq(0))
    FileTopicLog.append(root, "t", 1, (0 until 2).map(rec))
    Files.setLastModifiedTime(d, preStamp) // same-tick mtime collapse
    assert(FileTopicLog.partitionsOf(root, "t") === Seq(0, 1),
      "a fresh-mtime listing must not be cached — the next walk re-lists")
  }

  test("a count file that is not the JSON state fails loudly, naming its path") {
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 7).map(rec))
    val cf = java.nio.file.Paths.get(root, "t", "p0.count")
    Seq("7", "", "{\"end\":7}", "not json").foreach { body =>
      Files.write(cf, body.getBytes(StandardCharsets.UTF_8))
      val onState = intercept[IllegalStateException](
        FileTopicLog.state(root, "t", 0))
      assert(onState.getMessage.contains(cf.toString), s"state on '$body'")
      val onAppend = intercept[IllegalStateException](
        FileTopicLog.append(root, "t", 0, Seq(rec(7))))
      assert(onAppend.getMessage.contains(cf.toString), s"append on '$body'")
    }
  }

  test("an unknown source option fails at load() and lists the supported keys") {
    val root = freshRoot()
    Seq("listingTtlMs", "maxTasksPerBatch", "maxRowPerTrigger").foreach { k =>
      val e = intercept[IllegalArgumentException](
        s.readStream.format("graft-topiclog").option("path", root)
          .option(k, "1").load())
      assert(e.getMessage.contains(k), e.getMessage)
      assert(e.getMessage.contains(
        "path, maxRowsPerTrigger, truncateOnCommit, groupId"), e.getMessage)
    }
    // known keys match case-insensitively, and the value is honored
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 6).map(rec))
    val q = s.readStream.format("graft-topiclog").option("PATH", root)
      .option("maxrowspertrigger", "2").load()
      .selectExpr("offset")
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq ===
      Seq(2L, 2L, 2L))
  }

  test("an abandoned reader frees its file handle on close()") {
    val root = freshRoot()
    FileTopicLog.append(root, "t", 0, (0 until 100).map(rec))
    val it = FileTopicLog.read(root, "t", 0, 0, 100)
    assert(it.hasNext)
    it.next()
    it.close() // early stop — e.g. a killed task or a LIMIT
    assert(!it.hasNext, "closed reader yields no further records")
    // close is idempotent
    it.close()
  }

  test("availableNow drains the start-time snapshot and terminates") {
    val root = freshRoot()
    val base = graft.SessionTemp.dir("graft_dynq_")
    FileTopicLog.setWhitelist(root, Seq("t"))
    FileTopicLog.append(root, "t", 0, (0 until 12).map(rec))

    val q = s.readStream.format("graft-topiclog").option("path", root)
      .option("maxRowsPerTrigger", "5")
      .load()
      .selectExpr("cast(value as string) AS v", "offset")
      .writeStream.format("parquet")
      .option("path", s"$base/sink")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(sinkDf(s"$base/sink").count() === 12)
  }
}

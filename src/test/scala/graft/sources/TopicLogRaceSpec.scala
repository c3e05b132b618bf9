package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.sources.FileTopicLog.LogRecord
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** Races between a running source and the writers around it: a
  * whitelist removal that an append follows, and `stop()` interrupting
  * the idle-tick retention heal. Pure JVM, no Spark query. */
class TopicLogRaceSpec extends AnyFunSuite {

  private def rec(i: Int): LogRecord = {
    val b = s"v$i".getBytes(StandardCharsets.UTF_8)
    LogRecord(b, b, 1700000000000L + i)
  }

  test("endOffsets never reports an append that follows a whitelist removal") {
    val root = graft.SessionTemp.dir("graft_wlrace_")
    // forty always-whitelisted topics sort before `zeta`, so every
    // endOffsets call spends a while between its whitelist read and
    // zeta's count: the window a removal + append can land in
    val fillers = (0 until 40).map(i => f"a$i%02d")
    fillers.foreach(t => FileTopicLog.append(root, t, 0, Seq(rec(0))))
    FileTopicLog.setWhitelist(root, fillers)
    // round r: re-add zeta, append (count 2r+1), remove zeta, append
    // (count 2r+2). `rounds` moves BEFORE the re-add, so an even count
    // 2r+2 may be reported only once rounds ≥ r+2 (zeta listed again).
    @volatile var rounds = 0
    val Rounds = 300
    val writer = new Thread(() =>
      for (r <- 0 until Rounds) {
        rounds = r + 1
        FileTopicLog.setWhitelist(root, fillers :+ "zeta")
        FileTopicLog.append(root, "zeta", 0, Seq(rec(2 * r)))
        FileTopicLog.setWhitelist(root, fillers)
        FileTopicLog.append(root, "zeta", 0, Seq(rec(2 * r + 1)))
        Thread.sleep(2)
      })
    writer.setDaemon(true)
    writer.start()
    var calls = 0
    val crossed = Seq.newBuilder[(Long, Int)]
    while (writer.isAlive) {
      val zeta = FileTopicLog.endOffsets(root).get("zeta").flatMap(_.get(0))
      val seen = rounds
      calls += 1
      zeta.filter(c => c > 0 && c % 2 == 0 && seen < c / 2 + 1)
        .foreach(c => crossed += c -> seen)
    }
    writer.join()
    assert(calls >= Rounds / 10, s"only $calls endOffsets calls overlapped the writer")
    val found = crossed.result()
    assert(found.size === 0, "counts appended after zeta's removal, as " +
      s"(count, rounds): ${found.take(5)}")
  }

  test("an idle-tick heal interrupted by stop() returns quietly and keeps the interrupt") {
    val root = graft.SessionTemp.dir("graft_healintr_")
    FileTopicLog.append(root, "t", 0, (0 until 10).map(rec))
    val at = TopicLogOffset(Map("t" -> Map(0 -> 4L)))
    val stream = new DynamicTopicLogStream(root, None, truncateOnCommit = true)
    val err = new java.io.ByteArrayOutputStream()
    val savedErr = System.err
    try {
      stream.commit(at) // the heal's cut-safe position
      // hold the group lock so the heal blocks inside withGroupsLock,
      // where stop() finds the stream thread
      val held = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() => FileTopicLog.withGroupsLock(root) {
        held.countDown(); release.await(30, TimeUnit.SECONDS): Unit
      })
      holder.setDaemon(true); holder.start()
      assert(held.await(30, TimeUnit.SECONDS))
      System.setErr(new java.io.PrintStream(err, true))
      @volatile var returned = false
      @volatile var keptFlag = false
      val tick = new Thread(() => {
        // no whitelist: the tick plans no rows, so the heal runs
        stream.latestOffset(at, ReadLimit.allAvailable())
        returned = true
        keptFlag = Thread.currentThread().isInterrupted
      })
      tick.setDaemon(true); tick.start()
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
      while (tick.getState != Thread.State.WAITING && System.nanoTime < deadline)
        Thread.sleep(5)
      tick.interrupt()
      release.countDown()
      tick.join(30000); holder.join(30000)
      assert(returned, "the interrupted tick did not return")
      assert(keptFlag, "the heal swallowed the interrupt")
    } finally {
      System.setErr(savedErr)
      stream.stop()
    }
    assert(!err.toString.contains("retention pass failed"), err.toString)
  }
}

package graft.sources

import java.util

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * `format("graft-topiclog")` — a DataSourceV2 micro-batch source over a
 * [[FileTopicLog]] with IN-FLIGHT partition (re)assignment: the topic
 * whitelist is re-read from the log's control file at every
 * `latestOffset` call, so adding or deleting a topic takes effect at the
 * next micro-batch boundary of the RUNNING query — no restart, no
 * checkpoint swap. This is the reference's S2/F1/F2 surface
 * (`worker/ConsumerFetcherThread.java:183-240` mutates the fetcher's
 * partition map in flight; `controller/rest/resources/
 * TopicManagementRestletResource.java:113-252` is the add/delete API)
 * expressed through Spark's own source contract instead of a
 * stop-the-query spec swap.
 *
 * Semantics:
 *  - The streamed schema is the canonical record relation
 *    ([[Records.columns]]) — identical to the Kafka source with
 *    `includeHeaders=true`, so every downstream transform (T1–T5, K2
 *    pipeline) runs unchanged on either source.
 *  - Removing a topic FREEZES its offsets (they stay in the offset map,
 *    stop advancing); re-adding resumes from the frozen position, so
 *    remove→re-add never replays or skips a record. New topics and new
 *    partitions of whitelisted topics start at offset 0 (earliest).
 *  - `maxRowsPerTrigger` participates in Spark's admission control
 *    ([[SupportsAdmissionControl]]), the R1 rate-limit analog; under
 *    `Trigger.AvailableNow` the end offsets are snapshotted at start
 *    ([[SupportsTriggerAvailableNow]]) and drained in capped batches.
 *  - Exactly-once end-to-end: offsets live in the checkpoint's offset
 *    log, batch replay after a crash re-plans the identical
 *    `[start, end)` ranges, and the log's `.count` commit point means a
 *    planned range only ever covers fully-written records.
 *
 * Options: `path` (the log root, required), `maxRowsPerTrigger`,
 * `truncateOnCommit` and `groupId`; any other key fails at `load()`.
 *
 * Scale: per micro-batch the driver reads O(#topic-partitions) metadata
 * (whitelist + counts); record bytes are read executor-side, the
 * (topic, partition) deltas packed onto at most 2× default-parallelism
 * [[InputPartition]]s (see `planInputPartitions`).
 */
class DynamicTopicLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-topiclog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DynamicTopicLog.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    // Spark hands a TableProvider without SessionConfigSupport exactly
    // the reader's options (plus `path`), so a key outside the four below
    // is a caller's typo or a retired option: fail at load() instead of
    // silently running without it.
    val unknown = properties.keySet.asScala.toSeq.sorted
      .filterNot(k => DynamicTopicLog.Options.exists(_.equalsIgnoreCase(k)))
    require(unknown.isEmpty,
      s"graft-topiclog: unknown option(s) ${unknown.mkString(", ")}; " +
        s"supported: ${DynamicTopicLog.Options.mkString(", ")}")
    val opts = new CaseInsensitiveStringMap(properties)
    val root = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-topiclog requires .option(\"path\", <log root>)"))
    // the R1 static rate cap, tightened at runtime by the log's rate file
    val maxRows = Option(opts.get("maxRowsPerTrigger")).map(_.toLong)
    // retention: cut the log behind this query's committed position
    val truncateOnCommit =
      Option(opts.get("truncateOnCommit")).exists(_.toBoolean)
    // the reference's consumer-group identity (ZK group offsets,
    // `W/ZookeeperCheckpointManager.java:73-130`): a query that sets it
    // publishes its committed positions under the log root and is
    // thereby protected from a truncating peer's retention
    val groupId = Option(opts.get("groupId"))
    new DynamicTopicLogTable(root, maxRows, truncateOnCommit, groupId)
  }
}

object DynamicTopicLog {
  /** Every option `graft-topiclog` reads (matched case-insensitively). */
  val Options: Seq[String] =
    Seq("path", "maxRowsPerTrigger", "truncateOnCommit", "groupId")

  /** Canonical record schema — field-for-field the Kafka source's. */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))
}

final class DynamicTopicLogTable(root: String, maxRows: Option[Long],
    truncateOnCommit: Boolean = false, groupId: Option[String] = None)
    extends Table with SupportsRead {
  override def name(): String = s"graft-topiclog($root)"
  override def schema(): StructType = DynamicTopicLog.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = DynamicTopicLog.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new DynamicTopicLogStream(root, maxRows, truncateOnCommit, groupId)
      }
    }
}

/** Offset = committed position per (topic, partition). JSON shape:
  * `{"topicA":{"0":12,"1":7}}` with sorted keys (deterministic for the
  * checkpoint offset log). */
final case class TopicLogOffset(positions: Map[String, Map[Int, Long]])
    extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val rootNode = m.createObjectNode()
    positions.toSeq.sortBy(_._1).foreach { case (t, ps) =>
      val tn = rootNode.putObject(t)
      ps.toSeq.sortBy(_._1).foreach { case (p, o) => tn.put(p.toString, o) }
    }
    m.writeValueAsString(rootNode)
  }
}

object TopicLogOffset {
  def fromJson(json: String): TopicLogOffset = {
    import scala.jdk.CollectionConverters._
    val node = new ObjectMapper().readTree(json)
    val positions = node.fieldNames().asScala.map { t =>
      val tn = node.get(t).asInstanceOf[ObjectNode]
      t -> tn.fieldNames().asScala
        .map(p => p.toInt -> tn.get(p).asLong()).toMap
    }.toMap
    TopicLogOffset(positions)
  }
}

final class DynamicTopicLogStream(root: String, maxRows: Option[Long],
    truncateOnCommit: Boolean = false, groupId: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // registration is the protection boundary: from here until this
  // group's first commit, retention is blocked at each partition's base
  groupId.foreach(g => FileTopicLog.registerGroup(root, g))

  // AvailableNow: end offsets snapshotted once at query start; batches
  // drain toward the snapshot (capped by the read limit) and the query
  // stops there even if the log keeps growing.
  @volatile private var availableNowTarget: Option[Map[String, Map[Int, Long]]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(FileTopicLog.endOffsets(root))

  override def getDefaultReadLimit: ReadLimit =
    maxRows.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = TopicLogOffset(Map.empty)

  override def deserializeOffset(json: String): Offset =
    TopicLogOffset.fromJson(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** THE in-flight assignment read: whitelist + counts are consulted NOW,
    * every batch. Frozen (de-whitelisted) topics keep their last
    * position; the budget is PRORATED across (topic, partition)s by each
    * one's available rows — a pure sorted-order drain would let one hot
    * lexicographically-early topic that alone produces >= budget per
    * trigger starve every later topic forever, where the reference's
    * poll loop services every assigned TP each cycle
    * (`W/ConsumerFetcherThread.java:134-154`). Shares are apportioned by
    * largest remainder: each TP first gets its floor share
    * `floor(budget·a/total)`, any TP with data gets at least one row (a
    * sub-1 share would floor to zero and re-starve low-volume TPs behind
    * a growing hot backlog — Spark's Kafka source ceils sub-1
    * prorations for the same reason), and the rows the floors leave in
    * the budget go one each to the TPs with the largest fractional
    * remainders `budget·a mod total`, ties in canonical (topic,
    * partition) order. TPs the min-1 floor lifted already hold the
    * ceiling of their quota and take no remainder row. A capped batch
    * therefore plans exactly `budget` rows unless the min-1 floor
    * overshoots it, and a backlog of N rows drains in ceil(N/budget)
    * batches — floor shares alone under-fill every capped batch by the
    * sum of the fractional parts and leave a one-row-per-TP tail batch.
    * When the budget is smaller than the number of non-empty TPs the
    * per-TP floor itself would overshoot unboundedly, so the floor is
    * round-robined instead: exactly `budget` TPs take 1 row, the run
    * rotating deterministically batch-to-batch so every TP is served
    * within ceil(#TPs/budget) batches. The aggregate plan is therefore
    * always < 2× budget. The allocation is a pure function of
    * (start, live counts, budget): replay after a crash re-plans the
    * identical ranges. The runtime rate file (R1,
    * [[FileTopicLog.setRate]]) tightens the static `maxRowsPerTrigger`
    * option batch-by-batch — a rate change lands at the next batch with
    * no restart, like the reference's live rate-limiter update. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[TopicLogOffset].positions
    val live = availableNowTarget.getOrElse(FileTopicLog.endOffsets(root))
    val static = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => Long.MaxValue
    }
    val budget = FileTopicLog.rate(root).fold(static)(math.min(static, _))
    // available rows per TP, in sorted order (determinism of the share
    // rounding below does not depend on order, but planned map iteration
    // elsewhere does — keep the canonical ordering throughout)
    val avail = live.toSeq.sortBy(_._1).flatMap { case (t, ps) =>
      ps.toSeq.sortBy(_._1).map { case (p, end) =>
        // a TP never seen by this checkpoint starts at the RETAINED base,
        // not 0 — Kafka's earliest = log-start-offset. Seeding at 0 over an
        // already-truncated log would charge the maxRowsPerTrigger budget
        // for phantom rows below base and under-deliver early batches.
        val from = startPos.getOrElse(t, Map.empty[Int, Long]).get(p)
          .getOrElse(FileTopicLog.startOffset(root, t, p))
        (t, p, from, math.max(end - from, 0L))
      }
    }
    val total = avail.map(_._4).sum
    val nonEmptyCount = avail.count(_._4 > 0)
    val takes: Seq[((String, Int), Long)] =
      if (total <= budget) // uncapped (or everything fits): drain all
        avail.map { case (t, p, from, a) => (t, p) -> (from + a) }
      else if (budget < nonEmptyCount) {
        // The min-1 liveness floor would make the aggregate take equal
        // to the NUMBER of non-empty TPs — at reference-scale
        // assignments (~1000 TPs) a small rate cap would be overshot by
        // orders of magnitude every batch. Below the floor's break-even
        // the guarantee is ROUND-ROBINED instead: exactly `budget` TPs
        // (a contiguous run in canonical order, rotated by the sum of
        // consumed positions) take 1 row each. The rotation is a pure
        // function of (start, budget) — replays re-plan identically —
        // and advances by `budget mod nonEmpty` per batch, whose
        // windows cover every residue class: each stably-non-empty TP
        // is served within ceil(nonEmpty/budget) batches. Aggregate
        // bound across BOTH regimes: planned ≤ budget + min(budget,
        // nonEmpty) < 2·budget — never the unbounded #TPs floor.
        val rot = (avail.filter(_._4 > 0)
          .map(x => BigInt(x._3)).sum % nonEmptyCount).toLong
        var idx = 0L
        avail.map { case (t, p, from, a) =>
          val take =
            if (a == 0L || budget <= 0L) 0L
            else {
              val i = idx; idx += 1
              val slot = ((i - rot) % nonEmptyCount + nonEmptyCount) %
                nonEmptyCount
              if (slot < budget) 1L else 0L
            }
          (t, p) -> (from + take)
        }
      } else {
        // (floor share, remainder) via BigInt (budget * a overflows Long
        // at scale); the remainder is < total, so it fits a Long
        val shares = avail.toVector.map { case (_, _, _, a) =>
          val (q, r) = (BigInt(budget) * BigInt(a)) /% BigInt(total)
          (q.toLong, r.toLong)
        }
        // min 1 row keeps every non-empty TP live under a sustained cap
        // (overshoot ≤ 1 row/TP ≤ budget here); share < a whenever the
        // plan is capped, so only a lifted TP with a == 1 is fully taken
        val floors = avail.zip(shares).map { case ((_, _, _, a), (q, _)) =>
          if (a == 0L) 0L else math.min(a, math.max(q, 1L))
        }
        // the rows the floors leave in the budget: one each to the
        // largest remainders among TPs the min-1 floor did not lift;
        // `left` is below the number of such TPs with a non-zero
        // remainder, so one pass fills the budget exactly
        val left = budget - floors.sum
        val extra = if (left <= 0L) Set.empty[Int]
          else shares.indices.filter(i => shares(i)._1 > 0L)
            .sortBy(i => (-shares(i)._2, i)).take(left.toInt).toSet
        avail.zip(floors).zipWithIndex.map { case (((t, p, from, _), f), i) =>
          (t, p) -> (from + f + (if (extra(i)) 1L else 0L))
        }
      }
    val advanced = takes.groupBy(_._1._1).map { case (t, tps) =>
      t -> tps.map { case ((_, p), pos) => p -> pos }.toMap
    }
    val topics = startPos.keySet ++ advanced.keySet
    val next = TopicLogOffset(topics.map { t =>
      t -> (startPos.getOrElse(t, Map.empty[Int, Long]) ++
        advanced.getOrElse(t, Map.empty[Int, Long]))
    }.toMap)
    // IDLE-TICK RETENTION HEAL. The cut normally runs on the cleaner
    // thread after each commit, but commit fires only after a DATA
    // batch — and this query's final commit can race another group's
    // position publish by a tick, computing the min against a stale
    // (lower) position. With no further data there is no further
    // commit, so the log would stay pinned at the stale min until
    // traffic resumes (k2d's fast/slow race — surfaced by the r15
    // manifest gate after hiding as a silent artifact omission in
    // r14). When a tick plans NO new rows, re-run the cut from the
    // last durably-committed position (never beyond it) against the
    // CURRENT group snapshot: self-healing within one trigger, data
    // batches unaffected (active streams stay commit-driven). The heal
    // runs synchronously, not on the cleaner: `processAllAvailable`
    // returns after an idle tick's `latestOffset`, so callers that read
    // the base right after it see the healed cut. An interrupt is
    // `stop()` ending the query mid-heal (the group lock's
    // `FileChannel.lock` is interruptible): nothing is lost, so keep
    // the flag for Spark and return without a failure line.
    if (truncateOnCommit && next.positions == startPos)
      lastCommitted.foreach { pos =>
        try cut(pos, heal = true)
        catch {
          case _: java.nio.channels.FileLockInterruptionException |
              _: java.nio.channels.ClosedByInterruptException =>
            Thread.currentThread().interrupt()
          case t: Throwable if scala.util.control.NonFatal(t) =>
            if (!Thread.currentThread().isInterrupted) System.err.println(
              s"[graft-topiclog] idle-tick retention pass failed " +
                s"(retrying next trigger): $t")
        }
      }
    next
  }

  /** One task per TP does not survive reference-scale assignments: a
    * thousands-of-TPs route would schedule thousands of tiny tasks per
    * micro-batch (measured: a 1000-TP drain spends its wall on task
    * dispatch, not rows). Mirror the reference's fetcher-thread model
    * (many TPs per fetcher, `W/FetcherManager.java:125-134`): pack the
    * non-empty ranges onto at most 2x-parallelism tasks by least-loaded
    * greedy assignment on row count — per-TP offset order is preserved
    * inside each task; cross-TP order was never guaranteed. Small
    * assignments keep the 1:1 layout (maximum split parallelism). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicLogOffset].positions
    val e = end.asInstanceOf[TopicLogOffset].positions
    // batch N scheduled ⇒ batch N−1 durably committed ⇒ `start` is a
    // cut-safe position (see lastCommitted). Values only ever grow, so
    // a plain overwrite interleaving with commit() stays monotone.
    if (truncateOnCommit && s.nonEmpty) lastCommitted = Some(s)
    val ranges = e.toSeq.sortBy(_._1).flatMap { case (t, ps) =>
      ps.toSeq.sortBy(_._1).flatMap { case (p, until) =>
        val from = s.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
        if (until > from) Some(TopicLogRange(t, p, from, until))
        else None
      }
    }
    val targetTasks = math.max(1,
      2 * org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    if (ranges.size <= targetTasks)
      ranges.map(r => TopicLogInputPartition(root, Seq(r)): InputPartition).toArray
    else {
      val buckets = Array.fill(targetTasks)(Vector.empty[TopicLogRange])
      val loads = Array.fill(targetTasks)(0L)
      ranges.sortBy(r => -(r.until - r.from)).foreach { r =>
        val i = loads.indices.minBy(loads(_))
        buckets(i) :+= r
        loads(i) += r.until - r.from
      }
      buckets.filter(_.nonEmpty)
        .map(b => TopicLogInputPartition(root, b): InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicLogReaderFactory

  /** A position known DURABLY PROCESSED by this query — the idle-tick
    * cleaner's input (never cut beyond it). Fed from two signals, both
    * safe and monotone: `commit(end)` (Spark's own source-commit, which
    * fires only when a SUCCESSOR batch runs), and `planInputPartitions`'
    * `start` — when batch N is scheduled, batch N−1's sink commit is
    * already durable (the engine is sequential: commits/N−1 precedes
    * offsets/N), so N's start positions are cut-safe one batch EARLIER
    * than commit() reports them. */
  @volatile private var lastCommitted: Option[Map[String, Map[Int, Long]]] = None

  /** (positions, group snapshot) of the last completed idle-tick heal.
    * The heal exists to close ONE stale-min race after traffic stops;
    * once it has run against a given (position, snapshot) pair the cut
    * is a fixed point, so a fast continuous trigger on an idle stream
    * must not re-run the per-TP truncation scans every tick — only
    * when a group (re)commits or the committed position moves. */
  @volatile private var lastIdleHeal:
    Option[(Map[String, Map[Int, Long]], Seq[Map[String, Map[Int, Long]]])] =
    None

  /** One retention pass: cut every TP of `pos` to its safe cut, one
    * [[FileTopicLog.truncateTopic]] walk per topic. One group snapshot
    * per pass, not per partition — the min over a stale-by-milliseconds
    * snapshot is only ever lower (more conservative), and per-partition
    * re-reads would re-list `_groups` + re-parse every group file
    * thousands of times at reference-scale assignments. The snapshot
    * AND the cuts run under the group lock, serializing with
    * registerGroup: "from registration the group blocks retention"
    * holds exactly — no window where a just-registered group is
    * invisible to an in-flight cut. Not cheap to hold: on a 4-core VM
    * the walk takes 127–137 ms at 288 TPs and ~600 ms at 1000 TPs
    * (`ScaleBench topic` `cut_walk_ms`), which is why a data commit
    * hands the pass to the [[RetentionCleaner]] instead of running it
    * on Spark's thread. `heal` marks the idle-tick pass, memoized on
    * (position, snapshot) through `lastIdleHeal`. */
  private def cut(pos: Map[String, Map[Int, Long]], heal: Boolean): Unit =
    FileTopicLog.withGroupsLock(root) {
      val snap = FileTopicLog.groupSnapshot(root)
      if (!heal || !lastIdleHeal.contains((pos, snap))) {
        pos.foreach { case (t, ps) =>
          FileTopicLog.truncateTopic(root, t, ps.map { case (p, off) =>
            p -> FileTopicLog.retentionCut(snap, root, t, p, off)
          })
        }
        // a data commit moves positions; force the next idle tick to
        // heal once against the fresh state, then settle.
        lastIdleHeal = if (heal) Some((pos, snap)) else None
      }
    }

  private val cleaner = new RetentionCleaner[Map[String, Map[Int, Long]]](
    s"graft-topiclog-cleaner $root", cut(_, heal = false))

  /** Retention hook (`.option("truncateOnCommit", "true")`): once Spark
    * has durably committed a batch, records below the SAFE cut are
    * retired from the log — Kafka's `delete` cleanup driven by consumer
    * progress. The cut is this query's committed position clamped to
    * the min across every registered consumer group
    * ([[FileTopicLog.retentionCut]]), the reference's
    * min-across-ZK-group-offsets retention model
    * (`W/ZookeeperCheckpointManager.java:73-130`) — a faster committing
    * query can never delete records a slower registered group has not
    * read. With no groups registered the cut is this query's own
    * position (single-consumer retention). A query that sets `groupId`
    * also publishes its own positions here on every commit.
    *
    * Only the publish runs on the caller's thread. Spark calls `commit`
    * inside the next trigger's `walCommit`, so the retention walk would
    * sit on every trigger's critical path; instead the position goes to
    * this stream's [[RetentionCleaner]], which cuts behind the trigger
    * (the reference likewise lets retention lag consumer progress). A
    * deferred cut is strictly conservative: retention only lags. */
  override def commit(end: Offset): Unit = try {
    val pos = end.asInstanceOf[TopicLogOffset].positions
    lastCommitted = Some(pos)
    groupId.foreach(g => FileTopicLog.commitGroup(root, g, pos))
    if (truncateOnCommit) cleaner.request(pos)
  } catch {
    // Source.commit is advisory cleanup in Spark's contract — position
    // publishing is retried verbatim on the next trigger's commit, and
    // a lower-than-reality published position is strictly conservative.
    // Throwing here instead kills the WHOLE streaming query over a
    // transient filesystem hiccup in a maintenance pass — the
    // reference's cleanup paths log-and-continue for the same reason.
    // NonFatal only: an OOM or fatal VM error must still propagate.
    case t: Throwable if scala.util.control.NonFatal(t) =>
      System.err.println(
        s"[graft-topiclog] commit-time offset publish failed " +
          s"(retrying next trigger): $t")
      t.printStackTrace()
  }

  /** Runs the pending cut to completion and joins the cleaner, so no
    * cut of this stream touches the log after the query stops. */
  override def stop(): Unit = cleaner.stop()
}

/** A stream's retention cleaner (Kafka's log-cleaner thread analog):
  * one named daemon thread, started by the first request, that runs
  * `pass` on the newest requested position. A request never waits for
  * a pass. It replaces the one pending position, so requests that land
  * while a pass runs coalesce: a burst of N costs at most two passes,
  * the last at the newest position. A pass that fails NonFatal is
  * logged; the next request retries with a position at least as new.
  * `stop()` lets the pending pass finish, then joins the thread;
  * requests after it are dropped (no cut runs once the query stopped). */
private final class RetentionCleaner[P](name: String, pass: P => Unit) {
  private var pending: Option[P] = None
  private var stopping = false
  private var thread: Thread = _

  def request(p: P): Unit = synchronized {
    if (!stopping) {
      pending = Some(p)
      if (thread == null) {
        thread = new Thread(() => run(), name)
        thread.setDaemon(true)
        thread.start()
      }
      notifyAll()
    }
  }

  /** The next position to cut, or None once stopping with nothing left. */
  private def take(): Option[P] = synchronized {
    while (pending.isEmpty && !stopping) wait()
    val p = pending
    pending = None
    p
  }

  private def run(): Unit = {
    var p = take()
    while (p.nonEmpty) {
      try pass(p.get)
      catch {
        case t: Throwable if scala.util.control.NonFatal(t) =>
          System.err.println(
            s"[graft-topiclog] retention pass failed (retrying on the " +
              s"next commit): $t")
      }
      p = take()
    }
  }

  def stop(): Unit = {
    val t = synchronized { stopping = true; notifyAll(); thread }
    if (t != null) {
      // an interrupt must not cut the join short: the caller's promise
      // is that no pass runs after stop() returns
      var interrupted = false
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }
}

final case class TopicLogRange(
    topic: String, partition: Int, from: Long, until: Long)

final case class TopicLogInputPartition(
    root: String, ranges: Seq[TopicLogRange])
    extends InputPartition

final class TopicLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TopicLogInputPartition]
    new PartitionReader[InternalRow] {
      private val rangeIt = p.ranges.iterator
      private var range: TopicLogRange = _
      private var it: FileTopicLog.RecordIterator = _
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (it == null || !it.hasNext) {
          if (it != null) { it.close(); it = null }
          if (!rangeIt.hasNext) return false
          range = rangeIt.next()
          it = FileTopicLog.read(p.root, range.topic, range.partition,
            range.from, range.until)
        }
        val (off, r) = it.next()
        val headers = new GenericArrayData(r.headers.map { case (k, v) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(k), v))
        }.toArray[Any])
        current = new GenericInternalRow(Array[Any](
          r.key, r.value, UTF8String.fromString(range.topic), range.partition,
          off, r.tsMillis * 1000L, r.timestampType, headers))
        true
      }
      override def get(): InternalRow = current
      // a task killed or stopped early (limit, downstream failure) must
      // not leak the log file handle — the open iterator owns the stream
      override def close(): Unit = if (it != null) it.close()
    }
  }
}

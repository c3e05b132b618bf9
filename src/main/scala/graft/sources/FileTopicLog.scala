package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/**
 * A file-backed topic log: a minimal Kafka-shaped broker surface on a
 * shared filesystem, used as the backing store for the in-flight
 * dynamic-assignment source ([[DynamicTopicLogProvider]]).
 *
 * Layout (mirrors a broker's log dirs — reference consumes exactly this
 * shape through `worker/ConsumerFetcherThread.java:92-154`):
 *
 * {{{
 *   <root>/_whitelist.json          controller-owned topic whitelist
 *   <root>/<topic>/p<P>.log         length-prefixed records, append-only
 *   <root>/<topic>/p<P>.idx         8 bytes/record: byte pos of record i
 *   <root>/<topic>/p<P>.count       committed state (atomic swap)
 * }}}
 *
 * Why three files: `.log` holds the bytes, `.idx` makes seek-to-offset
 * O(1) (8-byte position per record — the same trick as Kafka's sparse
 * index, dense here because records are the unit), and `.count` is the
 * COMMIT POINT — it is replaced via temp-file + ATOMIC_MOVE only AFTER
 * log+idx are flushed, so a reader that observes the committed state can
 * always read every committed record. The commit file carries the full
 * partition state as JSON: `{"end":N,"endPos":P,"base":B,"epoch":E}` —
 * `end` is the next offset to assign, `endPos` the byte length of the
 * committed log prefix, `base` the lowest retained offset (retention,
 * see [[truncateBelow]]), `epoch` the data-file generation. A legacy
 * bare-integer `.count` (pre-retention format) still parses (end only;
 * endPos is recovered by a one-record scan on the next append).
 *
 * Retention ([[truncateBelow]]) follows Kafka's log-start-offset model:
 * records below `base` are deleted; a consumer positioned at or above
 * `base` is unaffected; a position below `base` clamps to `base`
 * (`auto.offset.reset=earliest` semantics). Truncation rewrites the data
 * files into a NEW epoch (`p<P>.e<E>.log/.idx`), commits by atomically
 * swapping `.count`, then deletes the old epoch — publish-then-delete,
 * the same crash-safe shape as the dedup index compaction
 * ([[graft.streaming.BatchedParquetIndex]]). A crash at any point leaves
 * either the old or the new epoch committed, never a torn mix. A
 * truncating source (`truncateOnCommit`) cuts behind its triggers: each
 * commit publishes the position and hands it to one cleaner thread per
 * stream, which walks the log while the next batch runs. So, as in
 * Kafka, `base` lags consumer progress, by the walk in flight plus at
 * most one pending position; once traffic stops, the next idle trigger
 * re-runs the cut on its own thread.
 *
 * ONE writer per partition (Kafka's own contract — appends AND
 * truncation); any number of readers. A writer that crashed mid-append
 * leaves uncommitted bytes past the committed state; the next append
 * reconciles by truncating `.idx`/`.log` back to the commit point before
 * writing, so idx row i always corresponds to offset base+i.
 *
 * Scale: readers seek, never scan-from-zero; the whitelist and counts
 * are O(#topic-partitions) metadata reads per micro-batch, and record
 * bytes flow executor-side through the DSv2 reader — nothing data-sized
 * ever crosses the driver. Byte positions are tracked as Long throughout
 * (a single append call may exceed 2 GiB; `DataOutputStream.size()`'s
 * int counter is never used for spans).
 */
object FileTopicLog {

  /** One record as stored. `offset` is implicit in the file position on
    * write and materialized on read. */
  final case class LogRecord(
      key: Array[Byte],
      value: Array[Byte],
      tsMillis: Long,
      timestampType: Int = 0,
      headers: Seq[(String, Array[Byte])] = Nil)

  /** Records `[from, until)` plus the handle owning the underlying
    * stream: a consumer that stops early (task kill, limit, downstream
    * failure) MUST call `close()` — the DSv2 [[DynamicTopicLogSource]]
    * reader does so from `PartitionReader.close()`. Draining the
    * iterator also closes. */
  trait RecordIterator extends Iterator[(Long, LogRecord)] with AutoCloseable

  /** Committed per-partition state — the content of `p<P>.count`. */
  final case class PartitionState(end: Long, endPos: Long, base: Long, epoch: Long)

  private def dir(root: String, topic: String): Path = Paths.get(root, topic)
  private def dataFile(root: String, topic: String, p: Int, epoch: Long,
      ext: String): Path =
    dir(root, topic).resolve(
      if (epoch == 0L) s"p$p.$ext" else s"p$p.e$epoch.$ext")
  private def countFile(root: String, topic: String, p: Int): Path =
    dir(root, topic).resolve(s"p$p.count")

  /** Atomically replace `path` with `bytes` (temp file + ATOMIC_MOVE —
    * same idiom as [[graft.streaming.LeaseElection]] writes). The tmp
    * name is UNIQUE per call: control files (whitelist, rate) are
    * written by concurrent uncoordinated callers, and a shared tmp name
    * would let one caller publish another's half-written bytes or throw
    * NoSuchFileException when both race the move. A crash mid-call
    * leaks at most one uniquely-named tmp (deleted here on every
    * non-crash path; partition tmps are also swept by truncation). */
  private def atomicWrite(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(
      s"_${path.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Bytes written — callers accumulate into a Long position so spans
    * never pass through an int counter. */
  private def writeBytes(out: DataOutputStream, b: Array[Byte]): Long =
    if (b == null) { out.writeInt(-1); 4L }
    else { out.writeInt(b.length); out.write(b); 4L + b.length }

  private def readBytes(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    if (n < 0) null
    else { val b = new Array[Byte](n); in.readFully(b); b }
  }

  // state() is the per-(topic, partition) metadata read the driver's
  // endOffsets walk issues EVERY micro-batch — at the reference's
  // thousands of TPs per route (C/core/OffsetMonitor.java:240-316) the
  // open+read+parse per TP is the planning-loop bottleneck. Every commit
  // replaces the count file via rename (atomicWrite / promote's link),
  // so (fileKey, mtime, size) identifies the committed content: a cache
  // validated by ONE stat call turns the steady-state walk into pure
  // stats (~10-20x cheaper) while any commit — same JVM or another
  // process — is picked up immediately (new inode => new fileKey).
  private final case class StateStamp(fileKey: AnyRef,
      mtime: java.nio.file.attribute.FileTime, size: Long)
  private val stateCache =
    new java.util.concurrent.ConcurrentHashMap[Path, (StateStamp, PartitionState)]()

  private def parseState(cf: Path): PartitionState = {
    val s = new String(Files.readAllBytes(cf), StandardCharsets.UTF_8).trim
    if (s.startsWith("{")) {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      PartitionState(n.get("end").asLong(), n.get("endPos").asLong(),
        n.get("base").asLong(), n.get("epoch").asLong())
    } else PartitionState(s.toLong, -1L, 0L, 0L)
  }

  /** Committed state (zeros when the partition does not exist). A legacy
    * bare-integer count file yields `endPos = -1` (unknown — recovered
    * by [[committedEndPos]] when a writer next needs it). */
  def state(root: String, topic: String, partition: Int): PartitionState = {
    val cf = countFile(root, topic, partition)
    val attrs =
      try Files.readAttributes(cf,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => return PartitionState(0L, 0L, 0L, 0L) }
    val stamp = StateStamp(attrs.fileKey, attrs.lastModifiedTime, attrs.size)
    // BasicFileAttributes.fileKey may be null on some filesystems; the
    // stamp then degrades to (mtime, size), where a same-size rename-
    // replace within one timestamp tick would serve stale committed
    // offsets. Correctness must not rest on timestamp granularity —
    // bypass the cache entirely and parse every time.
    val cacheable = attrs.fileKey != null
    val hit = if (cacheable) stateCache.get(cf) else null
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val st =
        try parseState(cf)
        catch { // vanished between stat and read == partition deleted
          case _: java.io.IOException => return PartitionState(0L, 0L, 0L, 0L)
        }
      // unbounded roots (test/bench temp dirs) must not leak the JVM:
      // the cache is an optimization, dropping it wholesale is always safe
      if (cacheable) {
        if (stateCache.size() > 100000) stateCache.clear()
        stateCache.put(cf, (stamp, st))
      }
      st
    }
  }

  private def commitState(root: String, topic: String, partition: Int,
      st: PartitionState): Unit =
    atomicWrite(countFile(root, topic, partition),
      s"""{"end":${st.end},"endPos":${st.endPos},"base":${st.base},"epoch":${st.epoch}}"""
        .getBytes(StandardCharsets.UTF_8))

  /** Committed record count == end offset (0 when absent). Retention
    * does not lower it — `end` is the next offset to assign, `base` the
    * lowest readable one. */
  def committedCount(root: String, topic: String, partition: Int): Long =
    state(root, topic, partition).end

  /** Lowest retained offset (the Kafka log-start-offset). */
  def startOffset(root: String, topic: String, partition: Int): Long =
    state(root, topic, partition).base

  /** Byte position of the 8-byte idx entry `rel` (0-based, relative to
    * the epoch file). */
  private def idxAt(xf: Path, rel: Long): Long = {
    val in = new DataInputStream(new FileInputStream(xf.toFile))
    try { in.skipNBytes(rel * 8); in.readLong() } finally in.close()
  }

  /** End byte position of the record starting at `start` — one bounded
    * parse (used only to recover `endPos` from a legacy count file). */
  private def recordEndPos(lf: Path, start: Long): Long = {
    val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(lf.toFile), 1 << 14))
    try {
      in.skipNBytes(start)
      var consumed = 0L
      def skipB(): Unit = {
        val len = in.readInt(); consumed += 4
        if (len > 0) { in.skipNBytes(len); consumed += len }
      }
      skipB(); skipB()                   // key, value
      in.skipNBytes(12); consumed += 12  // tsMillis + timestampType
      val nh = in.readInt(); consumed += 4
      var i = 0
      while (i < nh) { skipB(); skipB(); i += 1 }
      start + consumed
    } finally in.close()
  }

  /** Committed byte length of the log prefix, recovering it by scanning
    * the last committed record when the count file predates `endPos`. */
  private def committedEndPos(st: PartitionState, lf: Path, xf: Path): Long =
    if (st.endPos >= 0L) st.endPos
    else if (st.end == st.base) 0L
    else recordEndPos(lf, idxAt(xf, st.end - st.base - 1))

  // append/appendAt/truncateBelow/promote all rewrite partition state,
  // and with `truncateOnCommit` the DRIVER becomes a mutator while
  // producers append from executor JVMs — an in-process monitor alone
  // cannot serialize that (an append that read state for epoch E could
  // commit after a concurrent truncation published epoch E+1 and deleted
  // E's files). Mutations therefore hold BOTH a reentrant JVM lock (two
  // FileLocks on one file in one JVM throw OverlappingFileLockException,
  // so in-JVM threads must serialize first) and an OS-level advisory
  // lock on `p<P>.lockf`, acquired only at the outermost entry — true
  // cross-process single-writer, the contract Kafka gets from one broker
  // owning its log dirs. NFS caveat: POSIX advisory locks need a
  // lock-coherent filesystem (local disk, NFSv4); on a non-coherent
  // mount the contract degrades to the prior same-JVM guarantee.
  private final class PartLock {
    val mon = new java.util.concurrent.locks.ReentrantLock()
    var ch: java.nio.channels.FileChannel = _
    var osLock: java.nio.channels.FileLock = _
  }
  private val partitionLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), PartLock]()

  private def withPartitionLock[T](root: String, topic: String, partition: Int)(
      body: => T): T = {
    val pl = partitionLocks.computeIfAbsent((root, topic, partition),
      _ => new PartLock)
    pl.mon.lock()
    try {
      val outermost = pl.mon.getHoldCount == 1
      if (outermost) {
        Files.createDirectories(dir(root, topic))
        pl.ch = java.nio.channels.FileChannel.open(
          dir(root, topic).resolve(s"p$partition.lockf"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try pl.osLock = pl.ch.lock()
        catch { case e: Throwable =>
          pl.ch.close(); pl.ch = null; throw e
        }
      }
      try body
      finally if (outermost) {
        try pl.osLock.release()
        finally {
          try pl.ch.close()
          finally { pl.osLock = null; pl.ch = null }
        }
      }
    } finally pl.mon.unlock()
  }

  private def truncateTo(path: Path, size: Long): Unit =
    if (Files.exists(path) && Files.size(path) > size) {
      val ch = java.nio.channels.FileChannel.open(path, StandardOpenOption.WRITE)
      try { ch.truncate(size): Unit } finally ch.close()
    }

  /** Append records to one partition log. Single writer per partition.
    * Returns the new committed count (== end offset).
    *
    * Crash recovery: a previous writer may have died after flushing some
    * idx entries / log bytes but before the `.count` commit. Those bytes
    * are garbage — truncate both files back to the committed state
    * first, so idx row i corresponds to offset base+i again and the new
    * records land exactly at the commit point. */
  def append(root: String, topic: String, partition: Int,
      records: IterableOnce[LogRecord]): Long =
    withPartitionLock(root, topic, partition) {
    val d = dir(root, topic)
    Files.createDirectories(d)
    val st = state(root, topic, partition)
    val lf = dataFile(root, topic, partition, st.epoch, "log")
    val xf = dataFile(root, topic, partition, st.epoch, "idx")
    val committedEnd =
      if (!Files.exists(lf)) 0L else committedEndPos(st, lf, xf)
    // reconcile uncommitted garbage from a crashed writer
    truncateTo(xf, (st.end - st.base) * 8)
    truncateTo(lf, committedEnd)
    var pos = committedEnd
    var n = st.end
    val log = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(lf.toFile, true), 1 << 16))
    val idx = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(xf.toFile, true), 1 << 14))
    try {
      records.iterator.foreach { r =>
        idx.writeLong(pos)
        var len = 0L
        len += writeBytes(log, r.key)
        len += writeBytes(log, r.value)
        log.writeLong(r.tsMillis)
        log.writeInt(r.timestampType)
        log.writeInt(r.headers.size)
        len += 16L
        r.headers.foreach { case (k, v) =>
          len += writeBytes(log, k.getBytes(StandardCharsets.UTF_8))
          len += writeBytes(log, v)
        }
        pos += len
        n += 1
      }
    } finally { log.close(); idx.close() }
    // commit point: only now do readers see the new records
    commitState(root, topic, partition, st.copy(end = n, endPos = pos))
    n
  }

  /** Idempotent append for offset-addressed producers: records carry
    * their ABSOLUTE offsets (contiguous, ascending); those below the
    * committed end are dropped inside the partition lock, so a task
    * retry — or an in-JVM concurrent duplicate — re-offering the same
    * run appends nothing. The first retained offset must equal the
    * committed end (no gaps). Multi-process producers that cannot share
    * the JVM lock should stage into a scratch root and [[promote]]. */
  def appendAt(root: String, topic: String, partition: Int,
      records: IterableOnce[(Long, LogRecord)]): Long =
    withPartitionLock(root, topic, partition) {
      val end = state(root, topic, partition).end
      val part = partition
      val fresh = records.iterator.dropWhile(_._1 < end)
      val checked = new Iterator[LogRecord] {
        private var expect = end
        def hasNext: Boolean = fresh.hasNext
        def next(): LogRecord = {
          val (off, r) = fresh.next()
          require(off == expect,
            s"appendAt: non-contiguous offset $off for $topic/$part (expected $expect)")
          expect += 1
          r
        }
      }
      append(root, topic, partition, checked)
    }

  /** True when retention would be a no-op for `offset` — checked outside
    * the partition lock so a hot commit hook skips cheaply. */
  private def truncateIsNoop(root: String, topic: String, partition: Int,
      offset: Long): Boolean = {
    val st = state(root, topic, partition)
    math.min(math.max(offset, st.base), st.end) == st.base
  }

  /** Delete records below `offset` (retention / the reference's log
    * cleanup). Same single-writer contract as [[append]]. The retained
    * suffix is rewritten into a NEW epoch's data files, the `.count`
    * swap is the commit, then the old epoch is deleted — a crash leaves
    * either epoch fully readable, never a torn mix. Offsets are STABLE:
    * a reader at `offset` or above sees identical records before and
    * after; a reader below clamps to the new start. */
  def truncateBelow(root: String, topic: String, partition: Int,
      offset: Long): Unit =
    truncateTopic(root, topic, Seq(partition -> offset))

  /** [[truncateBelow]] for several partitions of one topic, cut in turn
    * as `(partition, offset)` pairs — one retention walk over a topic.
    * No-op cuts are skipped first, and the topic directory is listed
    * ONCE, only if some partition needs a cut, for the crash-garbage
    * sweep of every partition cut here: per-partition listings cost
    * O(P²) dirents per walk of a P-partition topic. */
  def truncateTopic(root: String, topic: String,
      cuts: Iterable[(Int, Long)]): Unit = {
    val live = cuts.filterNot { case (p, o) => truncateIsNoop(root, topic, p, o) }
    if (live.isEmpty) return
    val debris = listDebris(dir(root, topic))
    live.foreach { case (p, o) =>
      cutPartition(root, topic, p, o, debris.getOrElse(p, Nil))
    }
  }

  private val TmpName = "^_p(\\d+)\\..*\\.tmp$".r
  private val DataName = "^p(\\d+)(?:\\.e(\\d+))?\\.(log|idx)$".r

  /** Crash-garbage candidates in a topic dir, by partition: every data
    * file with its epoch, and every partition tmp as epoch -1 (dead
    * once its writer no longer holds the lock). Garbage-ness is decided
    * later, under each partition's lock, against the committed epoch. */
  private def listDebris(d: Path): Map[Int, Seq[(String, Long)]] = {
    import scala.jdk.CollectionConverters._
    sweepListings.incrementAndGet(): Unit
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect {
        case n @ TmpName(p) => (p.toInt, (n, -1L))
        case n @ DataName(p, e, _) =>
          (p.toInt, (n, if (e == null) 0L else e.toLong))
      }
      .toSeq.groupMap(_._1)(_._2)
    finally s.close()
  }

  private def cutPartition(root: String, topic: String, partition: Int,
      offset: Long, debris: Seq[(String, Long)]): Unit =
    withPartitionLock(root, topic, partition) {
    val st = state(root, topic, partition)
    val newBase = math.min(math.max(offset, st.base), st.end)
    if (newBase == st.base) return
    val oldLf = dataFile(root, topic, partition, st.epoch, "log")
    val oldXf = dataFile(root, topic, partition, st.epoch, "idx")
    val endPos = committedEndPos(st, oldLf, oldXf)
    val dropRecs = newBase - st.base
    val dropBytes =
      if (newBase == st.end) endPos else idxAt(oldXf, dropRecs)
    val newEpoch = st.epoch + 1
    val newLf = dataFile(root, topic, partition, newEpoch, "log")
    val newXf = dataFile(root, topic, partition, newEpoch, "idx")
    // Crash-garbage sweep (under the lock): a cleaner that died between
    // tmp-write and publish leaves epoch-named tmps that never recur
    // (unlike `_p<P>.count.tmp`, which is reused and self-heals), and
    // one that died between commit and old-epoch delete leaves data
    // files of a SUPERSEDED epoch that the next truncation — which only
    // deletes its own predecessor — would otherwise never touch. Both
    // are dead by construction once `.count` names a different epoch;
    // deleting them is safe even with readers open (POSIX keeps open
    // FDs alive past unlink). `debris` comes from the walk's one
    // listing, taken before this lock: a listed name is deleted only if
    // it is garbage against the epoch read HERE, and epochs only grow,
    // so a stale listing can miss garbage (swept by a later cut) but
    // never names a live file.
    debris.foreach { case (n, e) =>
      if (e != st.epoch) Files.deleteIfExists(dir(root, topic).resolve(n)): Unit
    }
    // write the retained suffix: log bytes [dropBytes, endPos) verbatim,
    // idx entries rebased by -dropBytes — via tmp + ATOMIC_MOVE so a
    // concurrent reader never opens a half-written epoch file
    val tmpLf = newLf.resolveSibling(s"_${newLf.getFileName}.tmp")
    val tmpXf = newXf.resolveSibling(s"_${newXf.getFileName}.tmp")
    val in = java.nio.channels.FileChannel.open(oldLf, StandardOpenOption.READ)
    val out = java.nio.channels.FileChannel.open(tmpLf,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      var p = dropBytes
      while (p < endPos) p += in.transferTo(p, endPos - p, out)
    } finally { in.close(); out.close() }
    val xin = new DataInputStream(new BufferedInputStream(
      new FileInputStream(oldXf.toFile), 1 << 14))
    val xout = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(tmpXf.toFile), 1 << 14))
    try {
      xin.skipNBytes(dropRecs * 8)
      var i = newBase
      while (i < st.end) { xout.writeLong(xin.readLong() - dropBytes); i += 1 }
    } finally { xin.close(); xout.close() }
    Files.move(tmpLf, newLf, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmpXf, newXf, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // COMMIT: readers atomically switch to the new epoch
    commitState(root, topic, partition,
      PartitionState(st.end, endPos - dropBytes, newBase, newEpoch))
    // publish-then-delete: old epoch is garbage now; best-effort cleanup
    // (a crash here leaves orphans that the next truncation re-deletes)
    Files.deleteIfExists(oldLf): Unit
    Files.deleteIfExists(oldXf): Unit
    }

  /** Atomically publish a partition written in a scratch root into
    * `dstRoot` — the idempotent ingest pattern for task-side writers: a
    * task attempt appends to its OWN attempt-scoped root (no shared
    * mutable file), then promotes. Data files move first, the `.count`
    * move is the commit — so a retry or speculative duplicate of a
    * deterministic task either finds the partition already published
    * (skips) or races to publish byte-identical files (harmless).
    * Returns true when this call published. */
  def promote(srcRoot: String, dstRoot: String, topic: String,
      partition: Int): Boolean = {
    val dstCount = countFile(dstRoot, topic, partition)
    if (Files.exists(dstCount)) return false
    withPartitionLock(dstRoot, topic, partition) {
    // Re-check INSIDE the lock: a racing attempt that published while we
    // waited must not have its committed data files overwritten by ours
    // (REPLACE_EXISTING below) — byte-identical only for a deterministic
    // task, and the commit contract must not rest on task determinism.
    if (Files.exists(dstCount)) return false
    Files.createDirectories(dir(dstRoot, topic))
    val st = state(srcRoot, topic, partition)
    Seq("log", "idx").foreach { ext =>
      Files.move(dataFile(srcRoot, topic, partition, st.epoch, ext),
        dataFile(dstRoot, topic, partition, st.epoch, ext),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    // The commit is a hard LINK, not a move: under a true two-attempt race
    // both callers pass the exists() pre-check, and rename(2) — what
    // ATOMIC_MOVE maps to on POSIX — silently replaces an existing target
    // even without REPLACE_EXISTING, so a move could never report the
    // loser. link(2) is atomic AND fails with EEXIST, so exactly one
    // attempt returns true. Same-filesystem is already a precondition (the
    // data-file ATOMIC_MOVEs above require it); data files keep
    // REPLACE_EXISTING — losing-attempt bytes are byte-identical for a
    // deterministic task and overwriting them is crash-orphan cleanup.
    val srcCount = countFile(srcRoot, topic, partition)
    try {
      Files.createLink(dstCount, srcCount)
      Files.deleteIfExists(srcCount)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(srcCount)
        false
    }
    }
  }

  // Per-topic partition listings are the other walk cost that scales
  // with assignment size (one opendir+readdir per topic per micro-batch
  // — ~60% of the 1000-TP walk once states are cached). Every change to
  // the partition set goes through a rename/create IN the topic dir,
  // which bumps the dir's mtime — so a (fileKey, mtime, size) stamp of
  // the directory validates the cached listing with one stat.
  private val listingCache =
    new java.util.concurrent.ConcurrentHashMap[Path, (StateStamp, Seq[Int])]()

  // Positive short-TTL twin of the stamp cache for HOT directories:
  // every append commit bumps the topic dir's mtime (count-file
  // tmp+rename), so under continuous ingest the racy-stamp rule below
  // keeps the stamp cache permanently cold and every micro-batch pays
  // the full re-list — the cost the cache existed to remove (~60% of a
  // 1000-TP walk). Every exact listing is also recorded here with its
  // wall-clock; callers that opt into BOUNDED STALENESS
  // ([[partitionsOf]] with maxStalenessMs > 0 — the source's
  // `listingTtlMs` option) reuse a recent listing instead of
  // re-listing. Kafka's own consumers discover new partitions with up
  // to `metadata.max.age.ms` (default 5 min!) of delay — a
  // trigger-interval TTL here is the same contract, scoped to the one
  // metadata read whose exactness is not load-bearing per batch (a
  // partition surfacing one trigger late is indistinguishable from it
  // having been created one trigger later).
  private val hotListingCache =
    new java.util.concurrent.ConcurrentHashMap[Path, (Long, Seq[Int])]()

  /** Partition ids present for a topic (from `p<P>.count` files).
    *
    * Caching a DIRECTORY listing is racier than caching a rename-
    * replaced file: the dir is mutated in place, so fileKey never
    * changes and a `p<P>.count` created in the same filesystem-
    * timestamp tick just after we list leaves (mtime, size) unchanged —
    * the stale listing would validate forever and a one-shot partition
    * created then never appended again would stay invisible to the
    * planner (exactly the F6 mid-query-expansion path). Git-style
    * racy-stamp handling: (a) re-stat AFTER listing and only cache when
    * the stamp did not move underneath us, and (b) refuse to cache while
    * the dir mtime is within clock granularity of now — a concurrent
    * creator may still land in the same tick. Steady-state walks (dirs
    * quiet for longer than the margin) still cache fully. */
  def partitionsOf(root: String, topic: String): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    val d = dir(root, topic)
    val attrs =
      try Files.readAttributes(d,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => return Seq.empty }
    if (!attrs.isDirectory) return Seq.empty
    val stamp = StateStamp(attrs.fileKey, attrs.lastModifiedTime, attrs.size)
    val hit = listingCache.get(d)
    if (hit != null && hit._1 == stamp) {
      hotListingCache.put(d, (System.currentTimeMillis(), hit._2))
      hit._2
    } else {
      val listed =
        try {
          listingWalks.incrementAndGet(): Unit
          val s = Files.list(d)
          try s.iterator().asScala
            .map(_.getFileName.toString)
            .collect { case PartCount(p) => p.toInt }
            .toSeq.sorted
          finally s.close()
        } catch { case _: java.io.IOException => return Seq.empty }
      val after =
        try Files.readAttributes(d,
          classOf[java.nio.file.attribute.BasicFileAttributes])
        catch { case _: java.io.IOException => return listed }
      val settled = after.lastModifiedTime.toMillis <
        System.currentTimeMillis() - RacyStampMarginMs
      if (attrs.fileKey != null && settled &&
          StateStamp(after.fileKey, after.lastModifiedTime, after.size) == stamp) {
        if (listingCache.size() > 100000) listingCache.clear()
        listingCache.put(d, (stamp, listed))
      }
      if (hotListingCache.size() > 100000) hotListingCache.clear()
      hotListingCache.put(d, (System.currentTimeMillis(), listed))
      listed
    }
  }

  /** [[partitionsOf]] with opt-in bounded staleness: a listing of this
    * topic recorded within the last `maxStalenessMs` is reused without
    * touching the filesystem — the steady-state walk cost under
    * continuous ingest, where every append bumps the dir mtime and the
    * exact path must re-list every trigger. `maxStalenessMs <= 0` is
    * the exact path. A new partition becomes visible at most
    * `maxStalenessMs` late (one trigger, with the source's
    * `listingTtlMs` = trigger interval) — the `metadata.max.age.ms`
    * contract, never applied to committed COUNTS (data availability
    * stays exact; only the partition-set discovery is TTL'd). */
  def partitionsOf(root: String, topic: String,
      maxStalenessMs: Long): Seq[Int] = {
    if (maxStalenessMs > 0) {
      val hot = hotListingCache.get(dir(root, topic))
      if (hot != null &&
        System.currentTimeMillis() - hot._1 < maxStalenessMs) return hot._2
    }
    partitionsOf(root, topic)
  }

  /** Count of actual directory walks (cache misses) — observability
    * for specs and the scale bench; not part of the API surface. */
  private[graft] val listingWalks = new java.util.concurrent.atomic.AtomicLong(0)

  /** Count of topic-directory listings taken by retention walks for the
    * crash-garbage sweep — observability for specs, like
    * [[listingWalks]]. */
  private[graft] val sweepListings = new java.util.concurrent.atomic.AtomicLong(0)

  /** Margin under which a directory mtime counts as "could still be
    * racing": covers coarse-clock filesystem timestamp granularity
    * (1s on some filesystems/mounts). */
  private val RacyStampMarginMs = 2000L

  private val PartCount = "^p(\\d+)\\.count$".r

  private val emptyIterator: RecordIterator = new RecordIterator {
    def hasNext: Boolean = false
    def next(): (Long, LogRecord) = Iterator.empty.next()
    def close(): Unit = ()
  }

  /** Read records `[from, until)` of one partition — O(1) seek via the
    * index, then a single sequential scan. `from` below the retained
    * base clamps to the base (earliest-reset semantics). The returned
    * handle owns an open stream: drain it or `close()` it. */
  def read(root: String, topic: String, partition: Int,
      from: Long, until: Long): RecordIterator = {
    // epoch-swap race: between reading the state and opening the files a
    // concurrent truncation may delete this epoch — re-read and retry
    // (bounded; the second state read sees the committed new epoch)
    var attempt = 0
    var opened: (DataInputStream, Long, Long) = null
    while (opened == null) {
      val st = state(root, topic, partition)
      val n = math.min(until, st.end)
      val lo = math.max(from, st.base)
      if (lo >= n) return emptyIterator
      try {
        val lf = dataFile(root, topic, partition, st.epoch, "log")
        val xf = dataFile(root, topic, partition, st.epoch, "idx")
        val startPos = idxAt(xf, lo - st.base)
        val s0 = new DataInputStream(new BufferedInputStream(
          new FileInputStream(lf.toFile), 1 << 16))
        s0.skipNBytes(startPos)
        opened = (s0, lo, n)
      } catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 3) throw e
      }
    }
    val (in, lo, n) = opened
    var off: Long = lo
    new RecordIterator {
      private var closed = false
      def close(): Unit = if (!closed) { closed = true; in.close() }
      def hasNext: Boolean = {
        val h = !closed && off < n
        if (!h) close()
        h
      }
      def next(): (Long, LogRecord) = {
        val key = readBytes(in)
        val value = readBytes(in)
        val ts = in.readLong()
        val tsType = in.readInt()
        val nh = in.readInt()
        val hs = (0 until nh).map { _ =>
          val hk = new String(readBytes(in), StandardCharsets.UTF_8)
          val hv = readBytes(in)
          (hk, hv)
        }
        val r = (off, LogRecord(key, value, ts, tsType, hs))
        off += 1
        r
      }
    }
  }

  // ---- whitelist control file (the in-flight assignment channel) ----

  private def whitelistFile(root: String): Path =
    Paths.get(root, "_whitelist.json")

  /** Set the topic whitelist — the reference's F1/F2 add/delete surface
    * (`controller/rest/resources/TopicManagementRestletResource.java:113-252`).
    * Atomic replace; the running source observes it at its NEXT
    * micro-batch boundary, no restart. */
  def setWhitelist(root: String, topics: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(root))
    val json = topics.sorted.distinct
      .map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
    atomicWrite(whitelistFile(root), json.getBytes(StandardCharsets.UTF_8))
  }

  // same stamp-validated pattern as the state/listing caches: the
  // whitelist is re-read every micro-batch and replaced only by rename
  private val whitelistCache =
    new java.util.concurrent.ConcurrentHashMap[Path, (StateStamp, Seq[String])]()

  /** Current whitelist (empty when unset). */
  def whitelist(root: String): Seq[String] = {
    val f = whitelistFile(root)
    val attrs =
      try Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      catch { case _: java.io.IOException => return Seq.empty }
    val stamp = StateStamp(attrs.fileKey, attrs.lastModifiedTime, attrs.size)
    // same null-fileKey rule as the state cache: without an inode
    // identity a same-size rename-replace in one tick could validate a
    // stale whitelist — always parse on such filesystems
    val cacheable = attrs.fileKey != null
    val hit = if (cacheable) whitelistCache.get(f) else null
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val parsed =
        try {
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          val node = m.readTree(Files.readAllBytes(f))
          (0 until node.size()).map(node.get(_).asText())
        } catch { case _: java.io.IOException => return Seq.empty }
      if (cacheable) {
        if (whitelistCache.size() > 10000) whitelistCache.clear()
        whitelistCache.put(f, (stamp, parsed))
      }
      parsed
    }
  }

  /** End offsets (committed counts) for every (whitelisted topic,
    * partition): the per-batch metadata read. `listingStalenessMs > 0`
    * lets the partition-set discovery reuse listings that recent
    * (bounded staleness — see [[partitionsOf]]); counts are always
    * read exact. The whitelist is read again after the counts and only
    * topics in both reads are kept: a removal followed by an append to
    * the removed topic must never yield the post-removal count. */
  def endOffsets(root: String,
      listingStalenessMs: Long = 0L): Map[String, Map[Int, Long]] = {
    val counts = whitelist(root).map { t =>
      t -> partitionsOf(root, t, listingStalenessMs)
        .map(p => p -> committedCount(root, t, p)).toMap
    }.toMap
    val still = whitelist(root).toSet
    counts.filter { case (t, _) => still(t) }
  }

  // ---- consumer-group committed positions (retention governance) ----
  //
  // The reference keeps per-consumer-group committed offsets in ZK
  // (`worker/ZookeeperCheckpointManager.java:73-130`) and retention must
  // never outrun the slowest group. Here each group is one JSON file
  // under `<root>/_groups/` in the offset-map shape
  // `{"topic":{"0":12}}`, atomically replaced by its OWN query on every
  // commit (single writer per group; readers see old-or-new, and old is
  // lower == more conservative, so the race is safe). A truncating query
  // clamps its retention cut to the min across every registered group;
  // a group that has registered but not yet committed a position for a
  // (topic, partition) defaults to that partition's current base —
  // blocking retention entirely until its first commit, which matches
  // how a fresh checkpoint seeds from the retained base.

  private def groupsDir(root: String): Path = Paths.get(root, "_groups")

  // One mutual exclusion domain per root for group registration,
  // position commits, and the snapshot-then-truncate sequence.
  // Cross-process: an OS file lock on `_groups/.lock` (registration and
  // truncation may come from different JVMs — a bench registering while
  // a pipeline commits). In-process: a per-root ReentrantLock, both
  // because overlapping FileLocks in one JVM throw instead of blocking
  // and because a holder may re-enter (call commitGroup or
  // registerGroup while holding the lock).
  private val groupsJvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  /** Run `body` holding the root's group lock. Closes the
    * register-vs-truncating-commit race: a registration either
    * completes before a commit's group snapshot (and blocks that
    * commit's cut) or starts after the whole cut (and records the
    * already-truncated base) — never the in-between where a commit
    * snapshots, a group registers, and the cut proceeds without it. */
  private[graft] def withGroupsLock[T](root: String)(body: => T): T = {
    val canonical = Paths.get(root).toAbsolutePath.normalize.toString
    val jvm = groupsJvmLocks.computeIfAbsent(canonical,
      _ => new java.util.concurrent.locks.ReentrantLock())
    if (jvm.isHeldByCurrentThread) { // re-entry: file lock is already ours
      jvm.lock(); try body finally jvm.unlock()
    } else {
      jvm.lock()
      try {
        Files.createDirectories(groupsDir(root))
        val ch = java.nio.channels.FileChannel.open(
          groupsDir(root).resolve(".lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try {
          val fl = ch.lock()
          try body finally fl.release()
        } finally ch.close()
      } finally jvm.unlock()
    }
  }

  /** Current base (log-start) position of every whitelisted
    * (topic, partition) — what a registering group pins. */
  private def basePositions(root: String): Map[String, Map[Int, Long]] =
    whitelist(root).map { t =>
      t -> partitionsOf(root, t)
        .map(p => p -> state(root, t, p).base).toMap
    }.toMap.filter(_._2.nonEmpty)
  private def groupFile(root: String, group: String): Path = {
    require(group.nonEmpty && group.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"group id '$group' must be [A-Za-z0-9._-]+ (it names a file)")
    groupsDir(root).resolve(s"$group.json")
  }

  /** Register a consumer group (idempotent; never clobbers recorded
    * positions). From registration until its first commit the group
    * blocks retention on every partition. The pin is EXPLICIT data:
    * registration records the current base of every whitelisted
    * (topic, partition) under the group lock, so a registration racing
    * a truncating commit is serialized — it either lands before the
    * commit's group snapshot (blocking that cut) or after the whole
    * cut (recording the already-truncated base); there is no
    * in-between commit that truncates past an invisible registrant.
    * Partitions that appear after registration stay unrecorded and
    * default to their current base in [[retentionCut]] (still a full
    * block until the group's first commit covers them). */
  def registerGroup(root: String, group: String): Unit =
    withGroupsLock(root) {
      val f = groupFile(root, group)
      if (!Files.exists(f))
        atomicWrite(f, TopicLogOffset(basePositions(root)).json()
          .getBytes(StandardCharsets.UTF_8))
    }

  /** Record a group's committed positions (merge-max with what is
    * already recorded — positions are monotonic per group). The
    * read-merge-write runs under the group lock: two writers sharing a
    * groupId (registerGroup is idempotent and silent, so nothing
    * prevents it) can no longer interleave and lose the higher merged
    * position — monotonicity holds even under a misconfigured shared
    * group, where the recorded position is then the max of the two
    * writers (retention tracks the furthest committer; the SLOWER
    * sharer is mis-tracked, which is the inherent cost of sharing one
    * groupId, not of this merge). */
  def commitGroup(root: String, group: String,
      positions: Map[String, Map[Int, Long]]): Unit = withGroupsLock(root) {
    val prev = groupPositions(root, group)
    val topics = prev.keySet ++ positions.keySet
    val merged = topics.map { t =>
      val a = prev.getOrElse(t, Map.empty[Int, Long])
      val b = positions.getOrElse(t, Map.empty[Int, Long])
      t -> (a.keySet ++ b.keySet).map(p =>
        p -> math.max(a.getOrElse(p, 0L), b.getOrElse(p, 0L))).toMap
    }.toMap
    Files.createDirectories(groupsDir(root))
    atomicWrite(groupFile(root, group),
      TopicLogOffset(merged).json().getBytes(StandardCharsets.UTF_8))
  }

  /** Release a consumer group's retention pin: drop its recorded
    * positions so truncation no longer waits for it — the analog of
    * Kafka's admin group-offset deletion (a retired consumer group must
    * not pin log cleanup forever); the reference tears down per-topic ZK
    * state the same way when an operator retires it
    * (`uReplicator-Controller/.../AutoTopicWhitelistingManager.java:258`).
    * Deliberately NOT automatic:
    * expiring an idle group is a data-loss policy decision, so the
    * building blocks ([[groups]], [[groupLastCommitMillis]]) are
    * exposed for an operator loop to decide, and the release itself is
    * this one idempotent call. Records below the remaining groups' min
    * become reclaimable at the next truncating commit. */
  def unregisterGroup(root: String, group: String): Unit =
    withGroupsLock(root) {
      Files.deleteIfExists(groupFile(root, group)): Unit
    }

  /** Unregister `group` ONLY if its last registration/commit is older
    * than `olderThanMillis` — the atomic check-then-delete an expiry
    * policy loop needs: a commit landing between the staleness check
    * and the delete would otherwise expire a live group (the commit
    * bumps the file mtime under the same lock, so here the check and
    * the delete observe one consistent state). Returns true when the
    * group was expired. */
  def unregisterGroupIfIdle(root: String, group: String,
      olderThanMillis: Long): Boolean =
    withGroupsLock(root) {
      groupLastCommitMillis(root, group) match {
        case Some(t) if t < olderThanMillis =>
          Files.deleteIfExists(groupFile(root, group))
        case _ => false
      }
    }

  /** Epoch millis of the group's registration or last committed
    * position (None when unregistered) — the staleness signal an
    * expiry policy loop keys on. */
  def groupLastCommitMillis(root: String, group: String): Option[Long] =
    try Some(Files.getLastModifiedTime(groupFile(root, group)).toMillis)
    catch { case _: java.io.IOException => None }

  /** A group's recorded positions (empty when unregistered). */
  def groupPositions(root: String, group: String): Map[String, Map[Int, Long]] =
    try TopicLogOffset.fromJson(new String(
      Files.readAllBytes(groupFile(root, group)), StandardCharsets.UTF_8)).positions
    catch { case _: java.io.IOException => Map.empty }

  /** Registered consumer groups. */
  def groups(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val d = groupsDir(root)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = try Files.list(d) catch { case _: java.io.IOException => return Seq.empty }
    try s.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.endsWith(".json") => n.dropRight(5) }
      .toSeq.sorted
    finally s.close()
  }

  /** Every registered group's recorded positions, read once. A commit
    * that truncates N partitions takes ONE snapshot and cuts all N
    * against it — per-partition re-reads would re-list `_groups` and
    * re-parse every group file N times (at 1000 TPs that I/O swamps
    * the stamp-cached metadata walk). Safe because staleness is
    * one-sided: a group advancing DURING the commit only raises its
    * position, and cutting against the older, lower snapshot value
    * cuts LESS — strictly more conservative, never data loss. */
  def groupSnapshot(root: String): Seq[Map[String, Map[Int, Long]]] =
    groups(root).map(groupPositions(root, _))

  /** The safe retention cut for one partition: the committing query's
    * own position clamped to the min across every registered group
    * (an unrecorded (topic, partition) in a registered group counts as
    * the current base — full block). With no groups registered this is
    * `own` — the legacy single-consumer retention semantics. */
  def retentionCut(root: String, topic: String, partition: Int,
      own: Long): Long =
    retentionCut(groupSnapshot(root), root, topic, partition, own)

  /** [[retentionCut]] against a pre-read [[groupSnapshot]]. */
  def retentionCut(snapshot: Seq[Map[String, Map[Int, Long]]],
      root: String, topic: String, partition: Int, own: Long): Long =
    snapshot.foldLeft(own) { (cut, g) =>
      math.min(cut, g.getOrElse(topic, Map.empty[Int, Long])
        .getOrElse(partition, state(root, topic, partition).base))
    }

  // ---- rate control file (the runtime R1 channel) ----

  private def rateFile(root: String): Path = Paths.get(root, "_rate.json")

  /** Set (or clear) the max-rows-per-trigger cap on a RUNNING source —
    * the reference's `PUT /ratelimiter?messagerate=` surface
    * (`worker/RateLimiterResource.java:41-62`): the new rate applies
    * from the next micro-batch, no restart. */
  def setRate(root: String, maxRowsPerTrigger: Option[Long]): Unit = {
    Files.createDirectories(Paths.get(root))
    maxRowsPerTrigger match {
      case Some(n) =>
        require(n > 0, "rate must be positive")
        atomicWrite(rateFile(root),
          s"""{"maxRowsPerTrigger":$n}""".getBytes(StandardCharsets.UTF_8))
      case None =>
        Files.deleteIfExists(rateFile(root)): Unit
    }
  }

  /** Current runtime rate cap (None = unlimited / file absent). */
  def rate(root: String): Option[Long] = {
    val f = rateFile(root)
    if (!Files.exists(f)) None
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readAllBytes(f))
      Option(node.get("maxRowsPerTrigger")).map(_.asLong()).filter(_ > 0)
    }
  }
}

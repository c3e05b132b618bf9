package graft.sources

import java.nio.charset.StandardCharsets

import graft.sources.FileTopicLog.LogRecord
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Properties of the file-backed topic log — the invariants every
  * consumer relies on, under random record content (null keys, empty
  * values, arbitrary headers), random append chunkings, and random
  * interleavings of appends with retention:
  *
  *  1. read-back equality: whatever was appended, in whatever chunking,
  *     reads back byte-identical in offset order;
  *  2. retention soundness: after any sequence of appends and
  *     truncations, `end` counts every record ever appended, `base` is
  *     the clamp of the largest truncation, and `read(base, end)`
  *     returns exactly the retained suffix with original bytes;
  *  3. offset-addressed idempotence: re-offering any overlapping
  *     prefix through `appendAt` never duplicates or reorders.
  *
  * Pure JVM (no Spark) — these are the broker-surface semantics the
  * DSv2 source builds on.
  */
object FileTopicLogProps extends Properties("FileTopicLog") {

  private def freshRoot(): String =
    graft.SessionTemp.dir("graft_logprops_")

  private val genBytes: Gen[Array[Byte]] =
    Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  private val genRecord: Gen[LogRecord] = for {
    key <- Gen.option(genBytes)
    value <- genBytes
    ts <- Gen.chooseNum(0L, 4102444800000L)
    nh <- Gen.chooseNum(0, 3)
    hs <- Gen.listOfN(nh, Gen.zip(Gen.alphaNumStr.map(_.take(8)), genBytes))
  } yield LogRecord(key.orNull, value, ts, 0, hs)

  private val genRecords: Gen[List[LogRecord]] =
    Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, genRecord))

  /** split a list into random contiguous chunks */
  private val genChunking: Gen[List[Int]] =
    Gen.listOfN(8, Gen.chooseNum(1, 12))

  private def sameRecord(a: LogRecord, b: LogRecord): Boolean = {
    def beq(x: Array[Byte], y: Array[Byte]) =
      (x == null && y == null) || (x != null && y != null && x.sameElements(y))
    beq(a.key, b.key) && beq(a.value, b.value) && a.tsMillis == b.tsMillis &&
      a.headers.size == b.headers.size &&
      a.headers.zip(b.headers).forall { case ((k1, v1), (k2, v2)) =>
        k1 == k2 && beq(v1, v2)
      }
  }

  propertyWithSeed("append chunking is invisible to readers", None) =
    forAll(genRecords, genChunking) { (recs, chunks) =>
      val root = freshRoot()
      var rest = recs
      var ci = chunks
      while (rest.nonEmpty) {
        val n = ci.headOption.getOrElse(rest.size)
        ci = if (ci.isEmpty) Nil else ci.tail
        FileTopicLog.append(root, "t", 0, rest.take(n))
        rest = rest.drop(n)
      }
      val back = FileTopicLog.read(root, "t", 0, 0, recs.size.toLong).toList
      back.size == recs.size &&
        back.map(_._1) == recs.indices.map(_.toLong).toList &&
        back.map(_._2).zip(recs).forall { case (a, b) => sameRecord(a, b) }
    }

  propertyWithSeed("interleaved retention keeps the exact suffix", None) =
    forAll(genRecords, genRecords,
      Gen.chooseNum(0L, 200L), Gen.chooseNum(0L, 200L)) { (r1, r2, t1, t2) =>
      val root = freshRoot()
      FileTopicLog.append(root, "t", 0, r1)
      FileTopicLog.truncateBelow(root, "t", 0, t1)
      FileTopicLog.append(root, "t", 0, r2)
      FileTopicLog.truncateBelow(root, "t", 0, t2)
      val all = r1 ++ r2
      val end = all.size.toLong
      val base = math.min(math.max(math.min(math.max(t1, 0L), r1.size.toLong),
        math.max(t2, 0L)), end)
      val st = FileTopicLog.state(root, "t", 0)
      val back = FileTopicLog.read(root, "t", 0, 0L, end).toList
      st.end == end && st.base == base &&
        back.map(_._1) == (base until end).toList &&
        back.map(_._2).zip(all.drop(base.toInt))
          .forall { case (a, b) => sameRecord(a, b) }
    }

  /** Model: the retention cut equals min(own, every registered group's
    * recorded position — defaulting to the partition base when a group
    * has no entry), and commitGroup is merge-max monotonic. */
  propertyWithSeed("retentionCut is the min across groups with base default", None) =
    forAll(
      Gen.chooseNum(0L, 50L),                            // own position
      Gen.chooseNum(1L, 30L),                            // records in log
      Gen.listOf(Gen.zip(Gen.oneOf("g1", "g2", "g3"),
        Gen.option(Gen.chooseNum(0L, 40L))))             // (group, maybe pos)
    ) { (own, n, commits) =>
      val root = freshRoot()
      FileTopicLog.append(root, "t", 0,
        (0 until n.toInt).map(i => LogRecord(null, Array(i.toByte), 1L)))
      // register all mentioned groups; commit only the Some positions
      commits.foreach { case (g, posOpt) =>
        FileTopicLog.registerGroup(root, g)
        posOpt.foreach(p => FileTopicLog.commitGroup(root, g, Map("t" -> Map(0 -> p))))
      }
      val base = FileTopicLog.state(root, "t", 0).base // 0 here
      val modelPos: Map[String, Long] = commits.groupBy(_._1).map { case (g, cs) =>
        val ps = cs.flatMap(_._2)
        g -> (if (ps.isEmpty) base else ps.max) // merge-max; none => base
      }
      val want = (own +: modelPos.values.toSeq).min
      // the per-call form and the snapshot form (what commit() uses —
      // one _groups read for N partitions) must agree
      FileTopicLog.retentionCut(root, "t", 0, own) == want &&
        FileTopicLog.retentionCut(FileTopicLog.groupSnapshot(root),
          root, "t", 0, own) == want
    }

  propertyWithSeed("appendAt drops re-offered prefixes exactly", None) =
    forAll(genRecords, Gen.chooseNum(0, 40)) { (recs, overlap) =>
      val root = freshRoot()
      val withOffsets = recs.zipWithIndex.map { case (r, i) => (i.toLong, r) }
      val cut = math.min(math.max(recs.size / 2, 1), recs.size)
      FileTopicLog.appendAt(root, "t", 0, withOffsets.take(cut))
      // re-offer a run that overlaps the committed prefix by `overlap`
      val from = math.max(cut - math.min(overlap, cut), 0)
      FileTopicLog.appendAt(root, "t", 0, withOffsets.drop(from))
      val back = FileTopicLog.read(root, "t", 0, 0, recs.size.toLong).toList
      back.size == recs.size &&
        back.map(_._1) == recs.indices.map(_.toLong).toList &&
        back.map(_._2).zip(recs).forall { case (a, b) => sameRecord(a, b) }
    }
}

package graft.sources

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Properties of the dynamic source's planning layer:
  *
  *  1. checkpoint offset JSON round-trips exactly (the offset log is
  *     the exactly-once contract — a lossy serialization would replay
  *     or skip records after restart);
  *  2. range packing covers every non-empty (topic, partition) delta
  *     exactly once — no record planned twice, none dropped;
  *  3. the task count is bounded by the packing target, and the
  *     greedy least-loaded assignment's imbalance is bounded by the
  *     classic ideal + largest-single-range bound (one hot TP can
  *     dominate a task, but never two when a spare task exists).
  */
object TopicLogPlanProps extends Properties("TopicLogPlanning") {

  private lazy val spark = graft.SparkTestSession.spark

  private val genPositions: Gen[Map[String, Map[Int, Long]]] = for {
    nt <- Gen.chooseNum(1, 8)
    topics <- Gen.listOfN(nt, Gen.chooseNum(0, 999))
    perTopic <- Gen.listOfN(nt, for {
      np <- Gen.chooseNum(1, 12)
      offs <- Gen.listOfN(np, Gen.chooseNum(0L, 5000L))
    } yield offs)
  } yield topics.map(i => f"t$i%03d")
    .zip(perTopic.map(_.zipWithIndex.map { case (o, p) => p -> o }.toMap))
    .toMap

  propertyWithSeed("offset JSON round-trips exactly", None) =
    forAll(genPositions) { pos =>
      TopicLogOffset.fromJson(TopicLogOffset(pos).json()).positions == pos
    }

  /** end >= start per TP, plus some TPs only in end (new assignment). */
  private val genStartEnd: Gen[(Map[String, Map[Int, Long]], Map[String, Map[Int, Long]])] =
    genPositions.flatMap { end =>
      Gen.listOfN(end.size, Gen.oneOf(true, false)).map { keep =>
        val start = end.zip(keep).collect { case ((t, ps), true) =>
          t -> ps.map { case (p, o) => p -> o / 2 }
        }.toMap
        (start, end)
      }
    }

  propertyWithSeed("packing covers every delta exactly once, bounded", None) =
    forAll(genStartEnd) { case (start, end) =>
      // planInputPartitions resolves SparkSession.active for the packing
      // target — force the shared test session up before the first call
      val target = math.max(1, 2 * spark.sparkContext.defaultParallelism)
      val stream = new DynamicTopicLogStream("/nonexistent", None)
      val parts = stream
        .planInputPartitions(TopicLogOffset(start), TopicLogOffset(end))
        .map(_.asInstanceOf[TopicLogInputPartition])
      val ranges = parts.flatMap(_.ranges)
      val expected = (for {
        (t, ps) <- end.toSeq
        (p, until) <- ps
        from = start.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
        if until > from
      } yield TopicLogRange(t, p, from, until)).toSet
      val loads = parts.map(_.ranges.map(r => r.until - r.from).sum)
      val total = loads.sum
      val maxRange = expected.map(r => r.until - r.from).maxOption.getOrElse(0L)
      ranges.toSet == expected &&
        ranges.length == expected.size && // exactly once
        parts.length <= math.max(target, 1) &&
        parts.forall(_.ranges.nonEmpty) &&
        (parts.length <= 1 || expected.size <= target ||
          loads.max <= total / parts.length + maxRange)
    }

  // --- rate budget: deterministic prorated allocation ---

  private def rec(i: Int): FileTopicLog.LogRecord =
    FileTopicLog.LogRecord(null,
      Array[Byte](i.toByte), 1700000000000L + i)

  private val genLog: Gen[List[(String, Int, Int)]] = for {
    nt <- Gen.chooseNum(1, 4)
    tps <- Gen.listOfN(nt, for {
      np <- Gen.chooseNum(1, 3)
      counts <- Gen.listOfN(np, Gen.chooseNum(1, 20))
    } yield counts)
  } yield tps.zipWithIndex.flatMap { case (cs, t) =>
    cs.zipWithIndex.map { case (c, p) => (f"t$t%02d", p, c) }
  }

  propertyWithSeed("maxRows budget prorates by available rows, min 1/TP", None) =
    forAll(genLog, Gen.chooseNum(0L, 60L)) { (tps, budget) =>
      val root = graft.SessionTemp.dir("graft_budget_")
      tps.foreach { case (t, p, n) =>
        FileTopicLog.append(root, t, p, (0 until n).map(rec))
      }
      FileTopicLog.setWhitelist(root, tps.map(_._1).distinct)
      val stream = new DynamicTopicLogStream(root, None)
      val end = stream.latestOffset(TopicLogOffset(Map.empty),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(budget))
        .asInstanceOf[TopicLogOffset].positions
      // expected: the largest-remainder model — floor(budget * avail /
      // total), clamped to [1, avail] when capped (liveness: every
      // non-empty TP advances), then the rows left in the budget one
      // each to the largest remainders (budget * avail mod total) among
      // TPs whose floor share is >= 1, ties in canonical order; full
      // drain when everything fits, and — when the budget is below the
      // number of non-empty TPs — the round-robined floor: the first
      // `budget` TPs in canonical order (rotation 0 here: all start
      // positions are 0) take exactly 1 row. Byte-for-byte what a
      // capped batch must plan so replays are deterministic.
      val total = tps.map(_._3.toLong).sum
      val sorted = tps.sortBy(t => (t._1, t._2))
      val nonEmpty = sorted.size // genLog counts are >= 1
      val want: Map[(String, Int), Long] =
        if (total <= budget) sorted.map(t => (t._1, t._2) -> t._3.toLong).toMap
        else if (budget < nonEmpty)
          sorted.zipWithIndex.map { case ((t, p, _), i) =>
            (t, p) -> (if (i < budget) 1L else 0L)
          }.toMap
        else {
          val quota = sorted.map { case (_, _, n) =>
            (budget * n / total, budget * n % total) }
          val floors = sorted.zip(quota).map { case ((_, _, n), (q, _)) =>
            math.min(n.toLong, math.max(q, 1L)) }
          val left = budget - floors.sum
          val ranked = quota.zipWithIndex.filter(_._1._1 > 0L)
            .sortBy { case ((_, r), i) => (-r, i) }.map(_._2)
          val extra = if (left > 0L) ranked.take(left.toInt).toSet else Set.empty[Int]
          sorted.zipWithIndex.map { case ((t, p, _), i) =>
            (t, p) -> (floors(i) + (if (extra(i)) 1L else 0L))
          }.toMap
        }
      tps.forall { case (t, p, _) =>
        end.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L) == want((t, p))
      }
    }

  /** A capped batch whose floor shares are all >= 1 (the min-1 floor
    * lifts no TP) plans EXACTLY the budget, each TP within one row of
    * its floor share — a backlog of N rows drains in ceil(N/budget)
    * batches, with no under-filled batch and no one-row-per-TP tail. */
  private val genFilledCap: Gen[(List[(String, Int, Int)], Long)] = for {
    nt <- Gen.chooseNum(1, 4)
    tps <- Gen.listOfN(nt, for {
      np <- Gen.chooseNum(1, 4)
      counts <- Gen.listOfN(np, Gen.chooseNum(2, 40))
    } yield counts)
    log = tps.zipWithIndex.flatMap { case (cs, t) =>
      cs.zipWithIndex.map { case (c, p) => (f"t$t%02d", p, c) }
    }
    total = log.map(_._3.toLong).sum
    // budget * min(avail) >= total: every floor share is >= 1
    lo = (total + log.map(_._3).min - 1) / log.map(_._3).min
    budget <- Gen.chooseNum(lo, total - 1)
  } yield (log, budget)

  propertyWithSeed("a capped plan takes exactly the budget when no TP is lifted", None) =
    forAll(genFilledCap) { case (tps, budget) =>
      val root = graft.SessionTemp.dir("graft_exact_")
      tps.foreach { case (t, p, n) =>
        FileTopicLog.append(root, t, p, (0 until n).map(rec))
      }
      FileTopicLog.setWhitelist(root, tps.map(_._1).distinct)
      val end = new DynamicTopicLogStream(root, None).latestOffset(
        TopicLogOffset(Map.empty),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(budget))
        .asInstanceOf[TopicLogOffset].positions
      val total = tps.map(_._3.toLong).sum
      val takes = tps.map { case (t, p, n) =>
        (end(t)(p), budget * n / total)
      }
      takes.map(_._1).sum == budget &&
        takes.forall { case (take, share) => take == share || take == share + 1 }
    }

  /** Liveness under a sustained cap: however hot one TP is, every TP
    * with available rows advances every batch (when the budget covers
    * the per-TP floor; below that the floor round-robins — see the
    * coverage property), and the aggregate plan is always < 2× the
    * budget — never the unbounded one-row-per-TP floor. */
  propertyWithSeed("no TP with data is starved under a sustained cap", None) =
    forAll(genLog, Gen.chooseNum(1L, 30L)) { (tps, budget) =>
      val root = graft.SessionTemp.dir("graft_starve_")
      tps.foreach { case (t, p, n) =>
        FileTopicLog.append(root, t, p, (0 until n).map(rec))
      }
      // make the lexicographically-FIRST TP hot enough to saturate the
      // cap alone — the shape that starved later TPs under sorted drain
      val (ht, hp, _) = tps.minBy(t => (t._1, t._2))
      FileTopicLog.append(root, ht, hp, (0 until 200).map(rec))
      FileTopicLog.setWhitelist(root, tps.map(_._1).distinct)
      val stream = new DynamicTopicLogStream(root, None)
      val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(budget)
      var pos: Map[String, Map[Int, Long]] = Map.empty
      var ok = true
      (0 until 4).foreach { _ =>
        val next = stream.latestOffset(TopicLogOffset(pos), limit)
          .asInstanceOf[TopicLogOffset].positions
        val counts = FileTopicLog.endOffsets(root)
        var planned = 0L
        val nonEmpty = tps.map(t => (t._1, t._2)).distinct.count { case (t, p) =>
          counts(t)(p) > pos.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
        }
        tps.map(t => (t._1, t._2)).distinct.foreach { case (t, p) =>
          val before = pos.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
          val after = next.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
          val avail = counts(t)(p) - before
          planned += after - before
          ok &&= after >= before && after <= counts(t)(p) &&
            // every non-empty TP advances — per batch when the budget
            // covers the floor; below that the round-robin serves it
            // across batches instead
            (avail == 0L || budget < nonEmpty || after > before)
        }
        ok &&= planned <= budget + math.min(budget, nonEmpty) // < 2× budget
        pos = next
      }
      ok
    }

  /** Below the floor's break-even (budget < #non-empty TPs) the 1-row
    * guarantee round-robins: each batch plans EXACTLY `budget` rows,
    * and the rotating run covers every TP within a bounded number of
    * batches — no TP starves, no batch overshoots. */
  propertyWithSeed("budget below #TPs: exact budget per batch, full coverage", None) =
    forAll(Gen.chooseNum(3, 9), Gen.chooseNum(1L, 2L)) { (nTps, budget) =>
      val root = graft.SessionTemp.dir("graft_rr_")
      val tps = (0 until nTps).map(p => ("t00", p))
      tps.foreach { case (t, p) =>
        FileTopicLog.append(root, t, p, (0 until 100).map(rec))
      }
      FileTopicLog.setWhitelist(root, Seq("t00"))
      val stream = new DynamicTopicLogStream(root, None)
      val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxRows(budget)
      var pos: Map[String, Map[Int, Long]] = Map.empty
      var ok = true
      // enough batches that the rotating window must lap every TP
      val batches = 2 * nTps
      (0 until batches).foreach { _ =>
        val next = stream.latestOffset(TopicLogOffset(pos), limit)
          .asInstanceOf[TopicLogOffset].positions
        val planned = tps.map { case (t, p) =>
          next.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L) -
            pos.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
        }.sum
        ok &&= planned == budget
        pos = next
      }
      val served = tps.count { case (t, p) =>
        pos.getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L) > 0L
      }
      ok && served == nTps
    }
}

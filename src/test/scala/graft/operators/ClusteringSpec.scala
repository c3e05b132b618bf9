package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins operators/Clustering against an independent brute-force Lloyd
  * implementation with the SAME integer-quantized semantics (the
  * cross-engine envelope the DuckDB oracle runs), plus the layout
  * invariance that justifies the "deterministic on any cluster" claim. */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emb(rows: (Long, Seq[Double])*): DataFrame =
    rows.toDF("vec_id", "v")

  private def quant(v: Seq[Double]): Seq[Double] =
    v.map(x => math.round((x + 1.0) * 1e6).toDouble)

  private def ssd(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Reference Lloyd: seeds = k lowest ids, argmin ties to lowest
    * cluster id, centroid = floor(mean) per dim, empty clusters drop. */
  private def bruteLloyd(data: Seq[(Long, Seq[Double])], k: Int,
      iters: Int): Map[Long, Long] = {
    val q = data.map { case (id, v) => (id, quant(v)) }.sortBy(_._1)
    var cent: Seq[(Long, Seq[Double])] =
      q.take(k).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    def assign(v: Seq[Double]): Long =
      cent.minBy { case (cl, c) => (ssd(v, c), cl) }._1
    for (_ <- 1 to iters) {
      cent = q.groupBy { case (_, v) => assign(v) }.toSeq.sortBy(_._1)
        .map { case (cl, members) =>
          val d = members.head._2.length
          (cl, (0 until d).map(j =>
            math.floor(members.map(_._2(j)).sum / members.size)))
        }
    }
    q.map { case (id, v) => id -> assign(v) }.toMap
  }

  test("kMeansAssign matches brute-force Lloyd on random data") {
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(50)
      val d = 3 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(6)
      val iters = rnd.nextInt(3)
      val data = (0L until n.toLong).map(i =>
        i -> Seq.fill(d)(rnd.nextDouble() * 1.6 - 0.8))
      val expect = bruteLloyd(data, k, iters)
      val got = Clustering.kMeansAssign(emb(data: _*), k, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect,
        s"trial $trial (n=$n d=$d k=$k iters=$iters)")
    }
  }

  test("assignment is invariant under input partitioning") {
    val rnd = new scala.util.Random(7L)
    val data = (0L until 60L).map(i =>
      i -> Seq.fill(8)(rnd.nextDouble() - 0.5))
    val base = emb(data: _*)
    val a = Clustering.kMeansAssign(base.repartition(1), k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Clustering.kMeansAssign(base.repartition(13), k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
  }

  test("semanticDrops flags exact duplicates and spares distant vectors") {
    val e = emb(
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(1.0, 0.0, 0.0, 0.0),   // dup of 1
      3L -> Seq(0.99, 0.01, 0.0, 0.0), // near-dup of 1
      4L -> Seq(0.0, 1.0, 0.0, 0.0),
      5L -> Seq(0.0, 0.0, 1.0, 0.0))
    val drops = Clustering.semanticDrops(e, k = 2, iters = 1, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(drops.contains(2L) && drops(2L) == 1L, s"got $drops")
    assert(drops.contains(3L) && drops(3L) <= 2L, s"got $drops")
    assert(!drops.contains(4L) && !drops.contains(5L), s"got $drops")
  }

  test("two-level with k1=1 is exactly the flat fit") {
    val rnd = new scala.util.Random(99L)
    val data = (0L until 80L).map(i =>
      i -> Seq.fill(6)(rnd.nextDouble() * 1.4 - 0.7))
    val flat = Clustering.kMeansAssign(emb(data: _*), k = 5, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (coarse, fine) = Clustering.fitCentroidsTwoLevel(
      emb(data: _*), k = 5, iters = 2, k1Override = 1)
    assert(coarse.size == 1 && fine(0L).size == 5)
    val two = Clustering.tagClustersTwoLevel(emb(data: _*), coarse, fine)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    // cell 0 · k2 + sub = sub, so ids line up with the flat fit directly
    assert(two == flat)
  }

  test("two-level assignment is argmin within the assigned cell and " +
      "layout-invariant") {
    val rnd = new scala.util.Random(1234L)
    val data = (0L until 200L).map(i =>
      i -> Seq.fill(5)(rnd.nextDouble() * 1.8 - 0.9))
    val base = emb(data: _*)
    val (coarse, fine) = Clustering.fitCentroidsTwoLevel(base, k = 9, iters = 2)
    val k2 = fine.values.flatMap(_.map(_._1)).max + 1
    val tagged = Clustering.tagClustersTwoLevel(base, coarse, fine)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    // brute-force recheck from the returned model
    data.foreach { case (id, v) =>
      val qv = quant(v)
      val cell = coarse.minBy { case (cl, c) => (ssd(qv, c), cl) }._1
      val sub = fine(cell).minBy { case (s, c) => (ssd(qv, c), s) }._1
      assert(tagged(id) == cell * k2 + sub, s"vec $id")
    }
    val reparted = Clustering.tagClustersTwoLevel(
      base.repartition(17), coarse, fine)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    assert(reparted == tagged)
    // the two-level fit itself is layout-invariant
    val (c2, f2) = Clustering.fitCentroidsTwoLevel(
      base.repartition(17), k = 9, iters = 2)
    assert(c2 == coarse && f2 == fine)
  }

  test("semanticDrops twoLevel flags exact duplicates too") {
    val e = emb(
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(1.0, 0.0, 0.0, 0.0),
      3L -> Seq(0.0, 1.0, 0.0, 0.0),
      4L -> Seq(0.0, 0.0, 1.0, 0.0),
      5L -> Seq(0.0, 0.0, 0.0, 1.0))
    val drops = Clustering.semanticDrops(e, k = 2, iters = 1, tau = 0.9,
        twoLevel = Some(true))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(drops.keySet == Set(2L) && drops(2L) == 1L, s"got $drops")
  }

  test("auto mode selects two-level at k >= autoTwoLevelK, flat below") {
    val rnd = new scala.util.Random(7L)
    val data = (0L until 160L).map(i =>
      i -> Seq.fill(5)(rnd.nextDouble() * 1.8 - 0.9))
    val e = emb(data: _*)
    val k = Clustering.autoTwoLevelK // = 64
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster")).toMap
    // at the threshold: default == pinned two-level
    assert(asMap(Clustering.kMeansAssign(e, k, iters = 1)) ==
      asMap(Clustering.kMeansAssign(e, k, iters = 1, twoLevel = Some(true))))
    // below it: default == pinned flat
    assert(asMap(Clustering.kMeansAssign(e, k - 1, iters = 1)) ==
      asMap(Clustering.kMeansAssign(e, k - 1, iters = 1,
        twoLevel = Some(false))))
    // semanticDrops follows the same auto rule (dup pair planted so the
    // two-level path has something to flag)
    val dup = emb((data :+ (500L -> data.head._2)): _*)
    val auto = Clustering.semanticDrops(dup, k, iters = 1, tau = 0.99)
      .collect().map(_.getLong(0)).toSet
    val pinned = Clustering.semanticDrops(dup, k, iters = 1, tau = 0.99,
        twoLevel = Some(true))
      .collect().map(_.getLong(0)).toSet
    assert(auto == pinned && auto.contains(500L), s"auto=$auto")
    // one below it: the flat path, which the materializeK rule writes
    // to session-temp (k - 1 >= materializeK) — both sides of the rule
    // stay covered, the small-k side by the tests above
    assert(k - 1 >= Clustering.materializeK)
    val flat = Clustering.semanticDrops(dup, k - 1, iters = 1, tau = 0.99)
      .collect().map(_.getLong(0)).toSet
    assert(flat.contains(500L), s"flat=$flat")
  }

  test("degenerate inputs: empty, single row, k > n, zero-norm vector") {
    assert(Clustering.kMeansAssign(emb(), 3, 2).count() == 0)
    assert(Clustering.kMeansAssign(emb(9L -> Seq(0.1, 0.2)), 3, 2)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((9L, 0L)))
    // k > n: every vector still assigned, ids within 0..n-1 seeds
    val small = emb(1L -> Seq(0.5, 0.0), 2L -> Seq(0.0, 0.5))
    assert(Clustering.kMeansAssign(small, 5, 1).count() == 2)
    // a zero-norm vector clusters fine and is excluded from dedup
    val withZero = emb(1L -> Seq(1.0, 0.0), 2L -> Seq(1.0, 0.0),
      3L -> Seq(0.0, 0.0))
    assert(Clustering.kMeansAssign(withZero, 2, 1).count() == 3)
    val drops = Clustering.semanticDrops(withZero, 2, 1, 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(drops == Set(2L))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Embedding-space clustering and semantic deduplication as an engine
 * capability — the SemDeDup recipe (Abbas et al. 2023, public): k-means
 * over document embeddings, then near-duplicate detection INSIDE each
 * cluster only, so the pair work that is quadratic in the corpus
 * becomes quadratic only in the (bounded) cluster size. No reference
 * analog — this extends the engine the same way [[Dedup]] /
 * [[Similarity]] do, with the DuckDB oracle as the cross-engine pin.
 *
 * Cross-engine exactness (the design constraint every numeric step
 * obeys): embeddings are quantized to INTEGER-VALUED doubles
 * (`round((x + shift) * scale)`), so
 *  - every squared-distance term and every partial sum is an integer
 *    below 2^53 — IEEE doubles add integers in that range EXACTLY, so
 *    Spark's unordered partial aggregation and DuckDB's sequential
 *    fold produce bit-identical sums;
 *  - the centroid update `floor(sum / count)` is safe across engines:
 *    when `count` divides `sum` the IEEE quotient is exact, and when
 *    it does not, the true quotient is at least `1/count` away from an
 *    integer while the division's rounding error is ~1 ulp (≤ 1e-9 at
 *    micro-unit magnitudes) — `floor` cannot be flipped;
 *  - ties in the argmin break on the lowest cluster id, pinned on both
 *    sides (`least` over `struct(ssd, cl)` here, `ORDER BY ssd, cl`
 *    in the oracle).
 * Capacity: with `scale` = 1e6 and |x| ≤ 1, per-dimension cluster sums
 * stay exact up to ~5.6e9 rows PER CLUSTER (2^53 / 1.6e6); beyond
 * that, sub-shard the cluster and average the shard means (the k
 * stays corpus-scaled in practice, so per-cluster counts stay far
 * below the bound).
 *
 * Scale shape: each Lloyd iteration is ONE corpus pass — scan +
 * per-row argmin against k broadcast centroid literals (k·d flops, no
 * join, no shuffle) + a groupBy(cluster) `vec_sum` aggregate
 * ([[graft.functions.VecSumAgg]]: each row folds ONCE into a d-length
 * accumulator — the posexplode form it replaced pushed n·d (row, dim)
 * tuples through partial aggregation) whose map-side partials reduce
 * the exchange to k rows of d exact-integer sums. Centroids (k·d
 * doubles) are the only thing collected to the driver. `iters + 1` passes total; nothing corpus-sized is cached,
 * shuffled globally, or sorted. [[semanticDrops]] adds one
 * cluster-keyed self-join whose cost is Σ cluster_size² — the whole
 * point of clustering first; k grows with the corpus to keep cluster
 * sizes bounded (the [[Retrieval.adaptiveBuckets]] pattern).
 */
object Clustering {

  /** Corpus-scaled cluster count: ceil(nVecs / targetClusterSize),
    * floored at 2 — the [[Retrieval.adaptiveBuckets]] pattern. The
    * pair stage of [[semanticDrops]] costs Σ size², so holding the
    * EXPECTED cluster size fixed as the corpus grows keeps total pair
    * work LINEAR in the corpus (n/target clusters × target² pairs =
    * n·target). The argmin stays one interpreted expression per row
    * (k·d flops, no shuffle), so k can grow with n without changing
    * the plan shape; the centroid-update exchange stays k·d rows. */
  def adaptiveK(nVecs: Long, targetClusterSize: Long = 2000L): Int =
    math.max(2L, (nVecs + targetClusterSize - 1) / targetClusterSize).toInt

  /** k at or above which [[kMeansAssign]]/[[semanticDrops]] auto-select
    * the two-level fit (the [[graft.functions.VectorLsh.adaptiveBits]] /
    * [[Retrieval.adaptiveBuckets]] precedent: the scale path engages
    * itself, callers don't have to know). At the crossover the flat
    * argmin costs k·d = 64·d flops/row vs two-level's
    * (k1 + iters·k2)·d ≈ 3√k·d ≈ 24·d — past here the flat path only
    * falls further behind (it is O(n·k·d), quadratic in the corpus
    * under corpus-scaled k = n/target). */
  val autoTwoLevelK: Int = 64

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Resolve an explicit mode override (None = auto by k). The auto
    * switch is LOGGED because it changes the cluster-id SCHEME, not
    * just the plan: flat ids are dense 0..k-1, two-level ids are the
    * sparse `cell·k2+sub` stride — downstream code keyed on dense ids
    * should pin `twoLevel = Some(false)` rather than rely on k staying
    * under the threshold. */
  private def useTwoLevel(k: Int, mode: Option[Boolean]): Boolean =
    mode match {
      case Some(m) => m
      case None =>
        val auto = k >= autoTwoLevelK
        if (auto) log.info(
          s"kMeans auto-selected the two-level fit (k=$k >= $autoTwoLevelK); " +
            "cluster ids use the sparse cell*k2+sub scheme, not dense 0..k-1 " +
            "- pass twoLevel=Some(false) to pin the flat path")
        auto
    }

  /** `round((x + shift) * scale)` per dimension — integer-valued
    * doubles (see object Scaladoc). `shift` should exceed max |x| so
    * all quantized values share a sign; with the default ±1 envelope
    * of normalized embeddings, shift = 1. */
  def quantizeShifted(v: Column, shift: Double = 1.0,
      scale: Double = 1e6): Column =
    transform(v, x => round((x + lit(shift)) * lit(scale)))

  /** SQL array literal for a quantized centroid — coordinates are
    * integer-valued doubles (|x| < 2^53), written as exact long casts
    * so the parse round-trips bit-identically; constant-folds to one
    * ArrayData. */
  private def centroidLit(c: Seq[Double]): String =
    c.map(x => s"cast(${x.toLong}L as double)").mkString("array(", ",", ")")

  /** Per-centroid argmin score `|c|² - 2·(qv·c)` — the squared
    * distance minus the per-row-constant `|qv|²` term, so the argmin
    * and its ties are IDENTICAL to the full ssd while the kernel is
    * one codegen'd `vec_dot` against a folded literal instead of an
    * interpreted zip_with/aggregate pair. Every term is an exact
    * integer (≤ d·(scale·(shift+1))² ≈ 2.6e14 at the defaults, far
    * under 2^53), so the comparison is engine-exact. */
  private def score(qvName: String, c: Seq[Double]): Column = {
    val c2 = c.map(x => x * x).sum
    lit(c2) - lit(2.0) * expr(
      s"vec_dot(${SqlLit.quoteName(qvName)}, ${centroidLit(c)})")
  }

  /** Argmin cluster id over the centroid set, ties to the lowest id.
    * The quantized vector must be available as column `qvName`. */
  private def assignCol(qvName: String,
      centroids: Seq[(Long, Seq[Double])]): Column = {
    val scored = centroids.map { case (cl, c) =>
      struct(score(qvName, c).as("ssd"), lit(cl).as("cl"))
    }
    val best =
      if (scored.size == 1) scored.head else least(scored: _*)
    best.getField("cl")
  }

  /** Run the Lloyd iterations and return the fitted centroid set in
    * QUANTIZED space (cluster id → integer-valued coordinate vector).
    * Seeds are the `k` lowest `idCol` vectors (cluster ids 0..k-1 in
    * that order); `iters` centroid updates are applied. A cluster that
    * empties during an update simply disappears from the set. Each
    * iteration is one corpus pass — per-row argmin against broadcast
    * centroid literals, then a groupBy(cluster) `vec_sum` whose
    * map-side partials reduce the exchange to k rows of d sums; only
    * those k·d doubles reach the driver. Empty input → empty set. */
  def fitCentroids(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      shift: Double = 1.0, scale: Double = 1e6): Seq[(Long, Seq[Double])] = {
    require(k > 0, "k must be positive")
    require(iters >= 0, "iters must be non-negative")
    fitCentroidsQ(emb.select(col(idCol),
      quantizeShifted(col(vecCol), shift, scale).as("qv")), k, iters, idCol)
  }

  /** The Lloyd loop over an already-quantized (idCol, qv) relation —
    * the shared core of [[fitCentroids]] (which quantizes inline) and
    * [[fitCentroidsTwoLevel]] (which MATERIALIZES the quantized table
    * once: `quantizeShifted` is a higher-order `transform`, evaluated
    * per element by the interpreted expression walker, and the
    * two-level fit would otherwise re-run it over the corpus on every
    * one of its ~6 passes — coarse updates, seeds, fine updates). */
  private def fitCentroidsQ(q: DataFrame, k: Int, iters: Int,
      idCol: String): Seq[(Long, Seq[Double])] = {
    var centroids: Seq[(Long, Seq[Double])] =
      q.orderBy(col(idCol)).limit(k).collect().toSeq.zipWithIndex.map {
        case (r, i) => (i.toLong, r.getSeq[Double](1))
      }
    if (centroids.isEmpty) return Nil

    for (_ <- 1 to iters) {
      val assigned = q.withColumn("cl", assignCol("qv", centroids))
      // vec_sum folds each ROW once into a d-length accumulator (the
      // posexplode form pushed n·d (row, dim) tuples through partial
      // aggregation — 128M per pass at 2M 64-dim vectors); k rows of
      // d exact-integer sums reach the driver
      val rows = assigned.groupBy("cl")
        .agg(expr("vec_sum(qv)").as("s"), count(lit(1)).as("n"))
        .collect()
      centroids = rows.map { r =>
        val n = r.getLong(2)
        (r.getLong(0), r.getSeq[Double](1).map(x => math.floor(x / n)))
      }.toSeq.sortBy(_._1)
    }
    centroids
  }

  /** Tag each row with its argmin cluster id against centroids from
    * [[fitCentroids]] — quantizes into a staged intermediate column
    * (referenced k times, so CollapseProject keeps it single-eval)
    * then argmins, all inline in the existing scan: no join, no
    * shuffle. */
  def tagClusters(df: DataFrame, centroids: Seq[(Long, Seq[Double])],
      vecCol: String = "v", outCol: String = "cluster",
      shift: Double = 1.0, scale: Double = 1e6): DataFrame =
    df.withColumn("__graft_qv",
        quantizeShifted(col(vecCol), shift, scale))
      .withColumn(outCol, assignCol("__graft_qv", centroids))
      .drop("__graft_qv")

  /** Lloyd k-means over an `array<double>` embedding column with fully
    * deterministic, engine-independent arithmetic (see object
    * Scaladoc): [[fitCentroids]] then one final assignment pass.
    * Output (idCol, cluster), one row per input vector.
    *
    * `twoLevel = None` (the default) AUTO-selects the
    * [[fitCentroidsTwoLevel]] scale path once k ≥ [[autoTwoLevelK]] —
    * under corpus-scaled k the flat argmin is O(n·k·d) = quadratic in
    * the corpus, measured 5.6→30.3 s at 30× rows in BENCH_sf1 before
    * this switch existed. Pass `Some(false)`/`Some(true)` to pin a
    * mode (the oracle entries pin: c1 flat for the k=8 SQL replay, c1b
    * two-level with `k1Override` so DuckDB can replay the coarse→fine
    * chain). Cluster ids are dense 0..k-1 in flat mode and the sparse
    * `cell·k2+sub` scheme in two-level mode. */
  def kMeansAssign(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      shift: Double = 1.0, scale: Double = 1e6,
      twoLevel: Option[Boolean] = None, k1Override: Int = 0): DataFrame = {
    if (useTwoLevel(k, twoLevel)) {
      val (coarse, fine) = fitCentroidsTwoLevel(
        emb, k, iters, idCol, vecCol, shift, scale, k1Override)
      if (coarse.isEmpty)
        return emb.select(col(idCol), lit(0L).as("cluster")).limit(0)
      return tagClustersTwoLevel(emb, coarse, fine, vecCol, "cluster",
          shift, scale)
        .select(col(idCol), col("cluster"))
    }
    val centroids = fitCentroids(emb, k, iters, idCol, vecCol, shift, scale)
    if (centroids.isEmpty)
      return emb.select(col(idCol), lit(0L).as("cluster")).limit(0)
    tagClusters(emb, centroids, vecCol, "cluster", shift, scale)
      .select(col(idCol), col("cluster"))
  }

  /** Two-level Lloyd fit — the scale path for corpus-scaled k, where
    * FLAT assignment's O(n·k·d) turns quadratic in the corpus (k =
    * n/target): fit `k1` coarse cells over the whole corpus, freeze
    * the cell assignment, then run Lloyd for ALL cells' sub-centroids
    * simultaneously (one job per iteration, not one per cell): the
    * within-cell argmin is a CASE over cells whose matched branch
    * evaluates only that cell's `k2` literals, so per-row cost is
    * (k1 + iters·k2)·d ≈ 2√k·d while the centroid-update exchange
    * stays ≤ k1·k2·d rows. Same exact-integer machinery as
    * [[fitCentroids]] throughout — deterministic and layout-invariant;
    * with `k1 = 1` the sub-fit IS the flat fit (seeds, updates and
    * ties identical), which ClusteringSpec pins. Returns
    * (coarse centroids, per-cell sub-centroids); final cluster ids are
    * assigned by [[tagClustersTwoLevel]] as `cell · k2ᵢ + sub` where
    * k2ᵢ = 1 + the MAX sub-centroid ID present in any cell (≤ the
    * nominal ceil(k/k1); sub ids come from seeding and never grow, so
    * this stride is collision-free even when a middle sub-centroid
    * empties out during an update). Stable, not dense. Sub-seeds are
    * each cell's ceil(k/k1) lowest-id members. */
  def fitCentroidsTwoLevel(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      shift: Double = 1.0, scale: Double = 1e6, k1Override: Int = 0):
      (Seq[(Long, Seq[Double])], Map[Long, Seq[(Long, Seq[Double])]]) = {
    require(k > 0, "k must be positive")
    val k1 = if (k1Override > 0) k1Override
      else math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = (k + k1 - 1) / k1
    // quantize ONCE: every pass below (coarse fit, seeds, fine
    // iterations) reads the narrow materialized table instead of
    // re-running the per-element transform over the corpus
    val qTmp = graft.SessionTemp.dir("kmeans_q_")
    emb.select(col(idCol), quantizeShifted(col(vecCol), shift, scale).as("qv"))
      .write.mode("overwrite").parquet(qTmp)
    val qBase = emb.sparkSession.read.parquet(qTmp)
    val coarse = fitCentroidsQ(qBase, k1, iters, idCol)
    if (coarse.isEmpty) return (Nil, Map.empty)

    val q = qBase.withColumn("cell", assignCol("qv", coarse))

    // per-cell seeds: the k2 lowest-id members (k1·k2·d doubles to the
    // driver — the same size as the final centroid set)
    import org.apache.spark.sql.expressions.Window
    val seeds = q
      .withColumn("rn", row_number().over(
        Window.partitionBy("cell").orderBy(col(idCol))))
      .filter(col("rn") <= k2)
      .select(col("cell"), col("rn"), col("qv"))
      .collect()
    var fine: Map[Long, Seq[(Long, Seq[Double])]] =
      seeds.groupBy(_.getLong(0)).map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).zipWithIndex.map {
          case (r, i) => (i.toLong, r.getSeq[Double](2))
        }.toSeq
      }

    def caseAssign(fc: Map[Long, Seq[(Long, Seq[Double])]]): Column =
      fc.toSeq.sortBy(_._1).map { case (cell, cents) =>
        (cell, assignCol("qv", cents))
      }.foldRight(lit(0L)) { case ((cell, a), acc) =>
        when(col("cell") === lit(cell), a).otherwise(acc)
      }

    for (_ <- 1 to iters) {
      val assigned = q.withColumn("sub", caseAssign(fine))
      val rows = assigned.groupBy("cell", "sub")
        .agg(expr("vec_sum(qv)").as("s"), count(lit(1)).as("n"))
        .collect()
      fine = rows.groupBy(_.getLong(0)).map { case (cell, cellRows) =>
        cell -> cellRows.sortBy(_.getLong(1)).map { r =>
          val n = r.getLong(3)
          (r.getLong(1), r.getSeq[Double](2).map(x => math.floor(x / n)))
        }.toSeq
      }
    }
    (coarse, fine)
  }

  /** Tag each row with its two-level cluster id (`cell · k2 + sub`,
    * where k2 = 1 + the max sub-centroid ID present in any cell — NOT
    * the max cell SIZE: a cell that loses a middle sub-centroid during
    * an update keeps its surviving high sub ids, and a size-derived
    * stride would collide them into the next cell's id range) from a
    * [[fitCentroidsTwoLevel]] fit — inline in the scan, no join. */
  def tagClustersTwoLevel(df: DataFrame,
      coarse: Seq[(Long, Seq[Double])],
      fine: Map[Long, Seq[(Long, Seq[Double])]],
      vecCol: String = "v", outCol: String = "cluster",
      shift: Double = 1.0, scale: Double = 1e6): DataFrame = {
    require(fine.nonEmpty,
      "tagClustersTwoLevel needs a non-empty fine map (empty fit => no clusters to tag)")
    val k2 = fine.values.flatMap(_.map(_._1)).max + 1L
    val sub = fine.toSeq.sortBy(_._1).map { case (cell, cents) =>
      (cell, assignCol("__graft_qv", cents))
    }.foldRight(lit(0L)) { case ((cell, a), acc) =>
      when(col("__graft_cell") === lit(cell), a).otherwise(acc)
    }
    df.withColumn("__graft_qv",
        quantizeShifted(col(vecCol), shift, scale))
      .withColumn("__graft_cell", assignCol("__graft_qv", coarse))
      .withColumn(outCol,
        col("__graft_cell") * lit(k2) + sub)
      .drop("__graft_qv", "__graft_cell")
  }

  /** SemDeDup: cluster with [[kMeansAssign]], then flag every vector
    * that has a same-cluster neighbor with a LOWER id at cosine ≥
    * `tau` (rounded to 4 decimals — the [[Similarity]] cross-engine
    * envelope). Zero-norm vectors are excluded up front (no cosine;
    * ANSI would error the division). Output (idCol, cluster, dup_of)
    * for each dropped vector, `dup_of` = its lowest matching keeper
    * candidate.
    *
    * `twoLevel = None` auto-selects the two-level fit at k ≥
    * [[autoTwoLevelK]] (see [[kMeansAssign]]); the pair stage is
    * identical either way — only the cluster-id scheme differs.
    * The tagged table is written to session-temp once when the
    * two-level fit runs or k ≥ [[materializeK]] (below it the double
    * argmin on the self-join's two sides is cheaper than the
    * write+read round trip — measured, see BENCH_sf1 cluster_scale). */
  def semanticDrops(emb: DataFrame, k: Int, iters: Int, tau: Double,
      idCol: String = "vec_id", vecCol: String = "v",
      twoLevel: Option[Boolean] = None, k1Override: Int = 0): DataFrame = {
    val qn = SqlLit.quoteName(vecCol)
    val nz = emb.filter(expr(s"vec_dot($qn, $qn) > 0"))
    if (useTwoLevel(k, twoLevel)) {
      val (coarse, fine) = fitCentroidsTwoLevel(nz, k, iters, idCol, vecCol,
        k1Override = k1Override)
      if (coarse.isEmpty)
        return nz.select(col(idCol), lit(0L).as("cluster"),
          col(idCol).as("dup_of")).limit(0)
      return semanticDropsFrom(
        tagClustersTwoLevel(nz.select(col(idCol), col(vecCol)), coarse,
          fine, vecCol),
        materialize = true, tau, idCol, vecCol)
    }
    val centroids = fitCentroids(nz, k, iters, idCol, vecCol)
    if (centroids.isEmpty)
      return nz.select(col(idCol), lit(0L).as("cluster"),
        col(idCol).as("dup_of")).limit(0)
    semanticDropsFrom(
      tagClusters(nz.select(col(idCol), col(vecCol)), centroids, vecCol),
      centroids.size >= materializeK, tau, idCol, vecCol)
  }

  /** Flat-path k at or above which [[semanticDrops]] materializes the
    * tagged table instead of re-running the k·d argmin on both
    * self-join sides. */
  val materializeK: Int = 32

  /** The pair stage shared by both cluster strategies: pairwise cosine
    * within each cluster of an already-tagged corpus. The norm is
    * computed alongside the tag so the pair kernel is a single vec_dot
    * + one divide (dot/(nrm_a·nrm_b) is IEEE-identical to the oracle's
    * dot/(sqrt(na)·sqrt(nb)) — sqrt is correctly rounded). When
    * `materialize` (large k), the tagged table is written ONCE so the
    * self-join's two sides read the narrow table instead of each
    * re-running the k·d argmin; at small k the double argmin is
    * cheaper than the write+read round trip. */
  private def semanticDropsFrom(tagged0: DataFrame, materialize: Boolean,
      tau: Double, idCol: String, vecCol: String): DataFrame = {
    val qn = SqlLit.quoteName(vecCol)
    val tagged = tagged0.withColumn("nrm", sqrt(expr(s"vec_dot($qn, $qn)")))
    val m = if (!materialize) tagged else {
      val tmp = graft.SessionTemp.dir("semantic_dedup_tagged")
      tagged.write.mode("overwrite").parquet(tmp)
      tagged0.sparkSession.read.parquet(tmp)
    }
    val a = m.select(col(idCol).as("va"), col("cluster"),
      col(vecCol).as("v_a"), col("nrm").as("n_a"))
    val b = m.select(col(idCol).as("vb"), col("cluster"),
      col(vecCol).as("v_b"), col("nrm").as("n_b"))
    a.join(b, Seq("cluster"))
      .filter(col("va") < col("vb"))
      .withColumn("cos", round(
        expr("vec_dot(v_a, v_b)") / (col("n_a") * col("n_b")), 4))
      .filter(col("cos") >= tau)
      .groupBy(col("vb").as(idCol), col("cluster"))
      .agg(min("va").as("dup_of"))
  }
}

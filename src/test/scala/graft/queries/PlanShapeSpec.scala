package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the scale-critical queries: the plan the
  * engine must produce at 100 TB, checked structurally at sf0.001 under
  * `sbt test` (values are the oracle's job; shapes are this spec's). */
class PlanShapeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  private def executedPlan(name: String): String = {
    val df = Catalog.byName(name).fn(spark, sfDir)
    df.collect() // AQE finalizes the plan only after execution
    df.queryExecution.executedPlan.toString
  }

  /** The AQE-final section only — negative assertions must not trip on
    * the pre-reoptimization "== Initial Plan ==" echo. */
  private def finalPlan(name: String): String = {
    val p = executedPlan(name)
    val cut = p.indexOf("== Initial Plan ==")
    if (cut >= 0) p.substring(0, cut) else p
  }

  /** The final-plan lines that call `kernel` inside a whole-stage
    * codegen stage (the `*(n)` operator prefix) — an interpreted
    * fallback would show the call without the prefix. */
  private def codegenCalls(plan: String, kernel: String): Seq[String] =
    plan.linesIterator
      .filter(l => l.contains(s"$kernel(") && l.contains("*(")).toSeq

  /** Executed plans of every query d3 runs while it is built and
    * collected, in a fresh session so its session-keyed pair cache
    * starts cold. d3 lands its LSH pair table in a write of its own,
    * which the final frame's plan only shows as a parquet scan.
    * Listener events arrive on an async bus: waits (bounded) until the
    * band-kernel plan has been seen, and fails naming the timeout if it
    * never arrives, so the d3 assertions only see a complete set. */
  private def d3Plans: String = {
    import scala.jdk.CollectionConverters._
    val s = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      Catalog.byName("d3_minhash_lsh").fn(s, sfDir).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def sawBands = plans.asScala.exists(_.contains("minhash_lsh_bands"))
      while (!sawBands && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sawBands, "listener timeout: no minhash_lsh_bands plan reached " +
        s"the QueryExecutionListener within 30 s; plans seen:\n${plans.asScala.mkString("\n")}")
      plans.asScala.mkString("\n")
    } finally s.listenerManager.unregister(listener)
  }

  test("d3: the only cross join is the broadcast 64-row permutation table") {
    val plan = d3Plans
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in d3:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"permutation table not broadcast:\n$plan")
  }

  test("d3: candidate generation is an equi-join on (band, band_hash)") {
    val plan = d3Plans
    assert(plan.contains("band_hash"), s"no band-hash join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"candidate join is not a hash/merge equi-join:\n$plan")
  }

  test("d5: hyperplane bucketing leaves no cartesian pair generation") {
    val plan = executedPlan("d5_embedding_dup")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in d5:\n$plan")
  }

  test("sim1 (baseline) is the only similarity query allowed a cross join") {
    val brute = executedPlan("sim_topk_bruteforce")
    assert(brute.contains("BroadcastNestedLoopJoin") ||
      brute.contains("CartesianProduct"),
      "sim1 is documented as the brute-force cross join baseline")
    val ivf = executedPlan("sim_topk_ivf")
    assert(!ivf.contains("CartesianProduct"), s"cartesian in IVF:\n$ivf")
    val lsh = executedPlan("sim_topk_lsh")
    assert(!lsh.contains("CartesianProduct"), s"cartesian in LSH ANN:\n$lsh")
    val quant = finalPlan("sim_topk_quant")
    assert(!quant.contains("CartesianProduct") &&
      !quant.contains("BroadcastNestedLoopJoin"),
      s"cartesian in quantized ANN:\n$quant")
    // the full-precision fetch must be the tiny candidate set broadcast
    // against the store, never a shuffle of the corpus
    assert(quant.contains("BroadcastHashJoin"),
      s"quant re-rank fetch not broadcast:\n$quant")
  }

  test("sim2: seeds are a partial top-k, assignment an aggregation (no full-table window)") {
    val plan = executedPlan("sim_topk_ivf")
    // centroid seeding must be TakeOrderedAndProject (scale-safe top-k),
    // not a row_number window over the whole embeddings table
    assert(plan.contains("TakeOrderedAndProject"),
      s"seed selection is not a partial top-k:\n$plan")
    // nearest-cell assignment must be a hash aggregate (max_by), not a
    // Window.partitionBy(vec_id) sort over every (vec x centroid) group
    assert(plan.contains("max_by"),
      s"assignment is not an aggregation:\n$plan")
    // the only remaining windows rank bounded inputs: the 8-row seed
    // result and the per-query (<=20 q_ids x 8 cells) probe/rank tables
    val windows = finalPlan("sim_topk_ivf").linesIterator
      .count(_.contains("Window ["))
    assert(windows <= 3, s"unexpected window count ($windows):\n$plan")
  }

  test("q6: every scan predicate reaches the parquet reader") {
    val plan = executedPlan("q6_forecast_revenue")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate") &&
      plan.contains("l_discount"),
      s"q6 predicates not pushed:\n$plan")
  }

  test("q6: scan reads only the referenced columns (pruned ReadSchema)") {
    val plan = executedPlan("q6_forecast_revenue")
    val schema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(schema.contains("l_extendedprice") && !schema.contains("l_returnflag"),
      s"column pruning failed: $schema")
  }

  test("k2 transform: offset-range predicate folds into one scan filter") {
    val spec = graft.model.PipelineSpec(
      name = "shape", route = graft.model.Route("a", "b", 0),
      topics = Seq("click"),
      offsetRanges = Seq(graft.model.OffsetRange("click", 0, 2, Some(10))))
    val records = graft.sources.Records.recordsFromEvents(
      graft.sources.Records.table(spark, sfDir, "events"))
    val plan = graft.streaming.ReplicationPipeline.transform(records, spec)
      .queryExecution.optimizedPlan.toString
    // one Filter node carries the whole range predicate — no join, no
    // driver-side row handling
    assert(!plan.contains("Join"), s"range filter became a join:\n$plan")
    assert(plan.contains("offset"), s"offset bound missing:\n$plan")
  }

  test("p5: keep decision is a broadcast-threshold filter, corpus never sorted") {
    val plan = finalPlan("p5_temperature_sample")
    // the per-source thresholds reach the corpus via broadcast, so the
    // corpus side of the join never shuffles
    assert(plan.contains("BroadcastHashJoin"),
      s"threshold join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled for the threshold join:\n$plan")
  }

  test("p6: the packing window is partitioned by source (no global sort)") {
    val plan = executedPlan("p6_sequence_pack")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"no window in p6:\n$plan")
    assert(windowLines.forall(_.contains("windowspecdefinition(source")),
      s"packing window is not partitioned by source:\n${windowLines.mkString("\n")}")
  }

  test("d17: rewrite pass is broadcast-only — kernel probe, no corpus shuffle join") {
    val plan = finalPlan("d17_span_dedup")
    assert(!plan.contains("CartesianProduct"), s"cartesian in d17:\n$plan")
    assert(plan.contains("span_cut"), s"span_cut kernel not in plan:\n$plan")
    // keepers join the corpus by broadcast on the doc id; the flagged
    // set must arrive as a LITERAL riding the task binary, NOT as a
    // joined column — a joined constant array is memcpy'd per corpus
    // row by the join's UnsafeRow materialization (measured 10x+)
    assert(plan.contains("BroadcastHashJoin"),
      s"keeper join is not broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"flagged set attached as a join column instead of a literal:\n$plan")
  }

  test("d17b: bloom mode probes at the scan, no nested-loop, positional kernel") {
    val plan = finalPlan("d17b_span_dedup_bloom")
    assert(!plan.contains("CartesianProduct"), s"cartesian in d17b:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"constant set attached as a join column in d17b:\n$plan")
    // the candidate pass (Bloom probe + exact census join) runs
    // EAGERLY into the cut-list parquet before this plan is built, so
    // the returned rewrite plan must show only the hashing-free
    // positional kernel — no span hashing, no bloom probe left
    assert(plan.contains("span_cut_positions"),
      s"positional rewrite kernel not in plan:\n$plan")
    assert(!plan.contains("span_hashes"),
      s"rewrite pass re-hashes the corpus:\n$plan")
    // cut lists are census-bounded — at fixture scale they broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"cut-list join is not broadcast:\n$plan")
  }

  test("p6c: BPE-count packing window keyed by source; vocab join not cartesian") {
    val plan = finalPlan("p6c_sequence_pack_bpe")
    assert(!plan.contains("CartesianProduct"), s"cartesian in p6c:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"no window in p6c:\n$plan")
    assert(windowLines.forall(_.contains("windowspecdefinition(source")),
      s"packing window is not partitioned by source:\n${windowLines.mkString("\n")}")
  }

  test("p16: every mix window is keyed by source; corpus never globally sorted") {
    val plan = finalPlan("p16_domain_mix")
    assert(!plan.contains("CartesianProduct"), s"cartesian in p16:\n$plan")
    // the prefix-sum window over (source, rank) aggregates and the
    // boundary running sum must BOTH be partitioned by source — an
    // unkeyed window is the global-sort formulation the operator
    // exists to avoid
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.nonEmpty, s"no window in p16:\n$plan")
    assert(windowLines.forall(_.contains("windowspecdefinition(source")),
      s"mix window not keyed by source:\n${windowLines.mkString("\n")}")
    // at fixture scale AQE must resolve the (source, rank) join-back
    // to broadcast — a sort-merge join here means the size decision
    // regressed to shuffling the metric relation for a tiny build side
    assert(!plan.contains("SortMergeJoin"),
      s"metric relation shuffled for a tiny join side:\n$plan")
  }

  test("p16b: repetition is an in-row sequence explode; windows stay keyed") {
    val plan = finalPlan("p16b_domain_mix_epochs")
    assert(!plan.contains("CartesianProduct"), s"cartesian in p16b:\n$plan")
    // full passes must replicate rows with an in-row explode of
    // sequence(1, full) — not a join against an epoch table
    assert(plan.contains("Generate explode(sequence("),
      s"repetition is not an in-row sequence explode:\n$plan")
    val windowLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.nonEmpty, s"no window in p16b:\n$plan")
    assert(windowLines.forall(_.contains("windowspecdefinition(source")),
      s"mix window not keyed by source:\n${windowLines.mkString("\n")}")
    assert(!plan.contains("SortMergeJoin"),
      s"metric relation shuffled for a tiny join side:\n$plan")
  }

  test("p7: split census has zero joins") {
    val plan = executedPlan("p7_hash_split")
    assert(!plan.contains("Join"), s"join in p7:\n$plan")
  }

  test("x7/x8: token fan-out collapses map-side before the shuffle") {
    for (name <- Seq("x7_vocab", "x8_quality_classifier")) {
      val plan = executedPlan(name)
      assert(plan.contains("partial_count"),
        s"$name aggregation has no map-side partial phase:\n$plan")
      assert(!plan.contains("Join"), s"join in $name:\n$plan")
    }
  }

  test("p8: funnel is join-free and its keeper window is hash-partitioned") {
    val plan = finalPlan("p8_funnel")
    assert(!plan.contains("Join"), s"join in p8:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("windowspecdefinition(h")),
      s"keeper window not partitioned by content hash:\n${windowLines.mkString("\n")}")
  }

  test("d10: anti-join on content hash; keeper agg reuses its partitioning") {
    val plan = finalPlan("d10_incremental_dedup")
    assert(plan.contains("LeftAnti"), s"no anti-join in d10:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"anti-join is not an equi-join:\n$plan")
    // scan + distinct + anti-join side(s): the keeper aggregation after
    // the join must NOT add its own exchange (same key as the join)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"keeper agg re-shuffled ($exchanges exchanges):\n$plan")
  }

  test("x9: top-k pairs is a partial top-k, not a full sort") {
    val plan = finalPlan("x9_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"x9 top-k is not a partial top-k:\n$plan")
  }

  test("e5: cascaded funnel windows share one user_id shuffle") {
    val plan = finalPlan("e5_conversion_funnel")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(user_id")),
      s"funnel window not partitioned by user_id:\n${windowLines.mkString("\n")}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"funnel re-shuffles the event table ($exchanges exchanges):\n$plan")
  }

  test("x10: vocabulary joins by broadcast; top-k window partitioned by doc") {
    val plan = finalPlan("x10_top_keywords")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token table shuffled for the vocab join:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(doc_id")),
      s"top-k window not partitioned by doc_id:\n${windowLines.mkString("\n")}")
  }

  test("j1: as-of join is join-free — one user_id-partitioned carry window") {
    val plan = finalPlan("j1_asof_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of join planned a product:\n$plan")
    // the merge form: union + ONE ordered carry window per key — the
    // right side is folded in-stream, never joined back
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"as-of join materialized a join:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(user_id")),
      s"carry window not partitioned by user_id:\n${windowLines.mkString("\n")}")
  }

  test("j1b: bucketed as-of — carry window keyed by (user_id, bucket)") {
    val plan = finalPlan("j1b_asof_bucketed")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bucketed as-of planned a product:\n$plan")
    // the hot-key claim: the big in-bucket carry window partitions on
    // (user_id, __bucket); only the tiny per-bucket-summary carry window
    // may partition on bare user_id
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.exists(l =>
      l.contains("windowspecdefinition(user_id") && l.contains("__bucket")),
      s"no (user_id, bucket)-keyed window:\n${windowLines.mkString("\n")}")
  }

  test("e1b/e5b: the big ordered pass is keyed (user_id, bucket), never bare user_id") {
    for (q <- Seq("e1b_sessionize_bucketed", "e5b_funnel_bucketed")) {
      val plan = finalPlan(q)
      // the row-count-sized windows must carry the bucket key; only the
      // tiny summary/pseudo windows may partition on bare user_id, and
      // those run AFTER the (user_id, bkt) aggregate so their input is
      // bucket-count-sized — assert at least one bucketed window exists
      // and that the first (bottom-most, raw-data) window is bucketed
      val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windowLines.exists(l =>
        l.contains("windowspecdefinition(user_id") && l.contains("bkt")),
        s"$q: no (user_id, bkt)-keyed window:\n${windowLines.mkString("\n")}")
    }
  }

  test("j2: band join is a bucketed equi-join, not a product") {
    val plan = finalPlan("j2_band_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join planned a product:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"band join is not an equi-join:\n$plan")
    // probe-side fan-out is the deduplicated ≤2-bucket explode (width =
    // full band), not the legacy 3-bucket form
    assert(plan.contains("Generate explode"), s"no bucket explode:\n$plan")
    assert(plan.contains("array_distinct"),
      s"probe buckets not deduplicated (3-bucket form?):\n$plan")
  }

  test("j4: interval containment is join-free — as-of carry, no theta join") {
    val plan = finalPlan("j4_interval_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join planned a product:\n$plan")
    // disjoint intervals reduce containment to the as-of carry: union +
    // per-user ordered window + end-bound filter — no join operator of
    // any kind should appear
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin")
      && !plan.contains("BroadcastHashJoin"),
      s"interval join materialized a join:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(user_id")),
      s"carry/session windows not partitioned by user_id:\n${windowLines.mkString("\n")}")
  }

  test("q_percentiles: histogram narrowing — no row-count-sized window") {
    val plan = finalPlan("q_percentiles")
    // the only windows may run over HISTOGRAM buckets (cumulative counts
    // partitioned by status, ordered by bucket) or within the located
    // buckets (partitioned by (status, b)); a window ordered directly by
    // o_totalprice over bare o_orderstatus would be the 3-way
    // parallelism floor this form removes
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"no window in q_percentiles plan:\n$plan")
    assert(windowLines.forall(l => l.contains("b#") ||
      l.contains("windowspecdefinition(o_orderstatus") && l.contains(", b")),
      s"row-count-sized window survived:\n${windowLines.mkString("\n")}")
    // located buckets reach the second scan as a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"located buckets not broadcast:\n$plan")
  }

  test("q17: correlated scalar subquery is decorrelated onto one join key") {
    val plan = finalPlan("q17_small_qty_revenue")
    assert(plan.contains("BroadcastHashJoin"),
      s"brand filter side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in q17:\n$plan")
    // threshold agg + threshold join both key on l_partkey — no extra
    // shuffle family beyond the partkey one (+1 for the final 1-row agg)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"decorrelation re-shuffled ($exchanges):\n$plan")
  }

  test("q18: HAVING-IN is an aggregate join reusing l_orderkey; top-k partial") {
    val plan = finalPlan("q18_large_orders")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 is a full sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"customer dimension not broadcast:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"orderkey shuffle not reused ($exchanges):\n$plan")
  }

  test("q22: NOT EXISTS is a left-anti equi-join with the date filter pushed") {
    val plan = finalPlan("q22_dormant_customers")
    assert(plan.contains("LeftAnti"), s"no anti-join in q22:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"recent-order date filter not pushed to the orders scan:\n$plan")
  }

  test("x11: posting cap is pushed into the window (bounded per-token state)") {
    val plan = finalPlan("x11_inverted_index")
    // Spark's WindowGroupLimit rewrites rn <= 20 into a per-group limit
    // BEFORE the window materializes — the thing that keeps stopword
    // state bounded; if this ever disappears the collect is data-sized
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in x11:\n$plan")
  }

  test("x11b: BOTH limit levels are WindowGroupLimit; level 1 keyed by shard") {
    val plan = finalPlan("x11b_inverted_sharded")
    val limits = plan.linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    // AQE stages echo nodes; count DISTINCT window specs instead
    assert(limits.exists(_.contains("shard")) &&
      limits.exists(l => !l.contains("shard")),
      s"two-level sharded limit missing:\n${limits.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"), s"cartesian in x11b:\n$plan")
  }

  test("d11: keeper argmax reuses the cluster_id partitioning") {
    val plan = finalPlan("d11_quality_keeper")
    assert(!plan.contains("CartesianProduct"), s"cartesian in d11:\n$plan")
    assert(!plan.contains("Window ["), s"per-cluster sort window in d11:\n$plan")
  }

  test("j3: naive band predicate executes as the auto-rewritten equi-join") {
    val plan = finalPlan("j3_cooccur_auto")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"BandJoinRewrite did not fire:\n$plan")
    assert(plan.contains("__graft_band"),
      s"rewrite markers missing from the executed plan:\n$plan")
  }

  test("x12: bottom-k selection is a WindowGroupLimit, not a full sort") {
    val plan = finalPlan("x12_kmv_distinct")
    assert(plan.contains("WindowGroupLimit"),
      s"k-th smallest not bounded per group:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in x12:\n$plan")
  }

  test("x13: bottom-k aggregate runs with a map-side partial") {
    val plan = finalPlan("x13_kmv_bottomk")
    // the custom TypedImperativeAggregate must combine map-side
    // (partial_bottom_k_distinct before the exchange) — the O(k)-per-
    // group-on-the-wire property the operator exists for
    assert(plan.contains("partial_bottom_k_distinct"),
      s"no map-side partial for bottom_k_distinct:\n$plan")
    assert(!plan.contains("Window ["), s"window in the aggregate form:\n$plan")
  }

  test("q_percentiles: exact quantiles run sort-based, not value-buffering") {
    val plan = finalPlan("q_percentiles")
    // the percentile AGGREGATE buffers every group value (O(rows/group)
    // state — an OOM at 100 TB); the sort+rank form must stay
    assert(!plan.contains("percentile("),
      s"value-buffering percentile aggregate returned:\n$plan")
    assert(plan.contains("row_number") || plan.contains("Window ["),
      s"no sort+rank structure:\n$plan")
  }

  test("p10: weighted sample is a partial top-k, never a global sort") {
    val plan = finalPlan("p10_priority_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"priority sample is a full sort:\n$plan")
  }

  test("q7: only lineitem-orders shuffles; both nation roles broadcast") {
    val plan = finalPlan("q7_volume_shipping")
    assert(!plan.contains("CartesianProduct"), s"cartesian in q7:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 4, s"dimensions not broadcast ($bhj BHJ):\n$plan")
    val smj = "SortMergeJoin".r.findAllIn(plan).size
    assert(smj <= 1, s"more than the fact-fact join shuffled ($smj):\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"ship-date filter not pushed:\n$plan")
  }

  test("q14: conditional aggregate over one pushed-filter scan") {
    val plan = finalPlan("q14_promo_revenue")
    assert(plan.contains("BroadcastHashJoin"), s"part not broadcast:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"month filter not pushed:\n$plan")
  }

  test("a1: lag is ONE scan + ONE exchange (fused conditional aggregation)") {
    val plan = finalPlan("a1_partition_lag")
    assert(!plan.contains("Join"), s"a1 still joins two feeds:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"a1 shuffles more than once ($exchanges):\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 1, s"a1 scans records twice ($scans):\n$plan")
  }

  test("e1 sessionization shuffles once on user_id") {
    val plan = executedPlan("e1_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"too many shuffles in e1 ($exchanges):\n$plan")
    assert(plan.contains("user_id"), plan)
  }

  private def lineitemScans(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Scan parquet") &&
      l.contains("lineitem"))

  test("q2: correlated-min rejoin reuses the cost exchange — one lineitem scan") {
    val plan = finalPlan("q2_min_cost_supplier")
    assert(!plan.contains("CartesianProduct"), s"cartesian in q2:\n$plan")
    assert(lineitemScans(plan) <= 1,
      s"cost subtree re-scanned lineitem:\n$plan")
  }

  test("q8/q9/q12: one lineitem scan, dims broadcast, no cartesian") {
    for (n <- Seq("q8_market_share", "q9_product_profit",
        "q12_priority_class")) {
      val plan = finalPlan(n)
      assert(!plan.contains("CartesianProduct"), s"cartesian in $n:\n$plan")
      assert(lineitemScans(plan) <= 1, s"$n scans lineitem twice:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$n dimensions not broadcast:\n$plan")
    }
  }

  test("q11: global-scalar threshold is a 1-row broadcast over ONE scan") {
    val plan = finalPlan("q11_important_parts")
    assert(lineitemScans(plan) <= 1,
      s"q11 recomputed the value agg from a second scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in q11:\n$plan")
  }

  test("q16: supplier variety is a two-level distinct — no Expand") {
    val plan = finalPlan("q16_supplier_variety")
    assert(!plan.contains("Expand"),
      s"COUNT(DISTINCT) Expand leaked into q16 (use the two-level form):\n$plan")
    assert(lineitemScans(plan) <= 1, s"q16 scans lineitem twice:\n$plan")
  }

  test("q20: window-total keeps the nested semijoin at one lineitem scan") {
    val plan = finalPlan("q20_top_part_suppliers")
    assert(lineitemScans(plan) <= 1,
      s"q20's global total re-scanned lineitem:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"ship-date filter not pushed in q20:\n$plan")
  }

  test("q21: EXISTS/NOT-EXISTS executes as ONE-scan per-order aggregation") {
    val plan = finalPlan("q21_waiting_supplier")
    assert(lineitemScans(plan) <= 1,
      s"q21 fell back to the 3-scan semi/anti form:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in q21:\n$plan")
  }

  test("q21b: salted twin stays one lineitem scan, no cartesian") {
    val plan = finalPlan("q21b_waiting_supplier_salted")
    assert(lineitemScans(plan) <= 1,
      s"q21b re-scanned lineitem:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in q21b:\n$plan")
    // the salt replication is an explode over a sequence literal, never
    // a join multiplier on the big side
    assert(plan.contains("_salt"), s"salt column missing in q21b:\n$plan")
  }

  test("q4: EXISTS is one equi-semi-join; implied shipdate bound reaches the scan") {
    val plan = finalPlan("q4_priority_waiting")
    assert(lineitemScans(plan) <= 1, s"q4 scans lineitem twice:\n$plan")
    assert(plan.contains("LeftSemi"), s"q4 lost the semi-join form:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in q4:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      s"implied ship-date bound not pushed to the lineitem scan:\n$plan")
  }

  test("e10: last-touch attribution is join-free — one user-keyed carry window") {
    val plan = finalPlan("e10_last_touch")
    // the within-one-table as-of: the click carry is a running window,
    // never a self-join or per-purchase probe
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"last-touch attribution materialized a join:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(user_id")),
      s"carry window not partitioned by user_id:\n${windowLines.mkString("\n")}")
  }

  test("e10b: the event-sized carry window is keyed (user_id, bkt)") {
    val plan = finalPlan("e10b_last_touch_bucketed")
    // only the bucket-count-sized summary carry may partition on bare
    // user_id; the raw-event window must carry the bucket key
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.exists(l =>
      l.contains("windowspecdefinition(user_id") && l.contains("bkt")),
      s"no (user_id, bkt)-keyed window:\n${windowLines.mkString("\n")}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"e10b planned a product:\n$plan")
  }

  test("d15: the output pass is JOIN-FREE — boiler set inlined as a literal") {
    val plan = finalPlan("d15_boilerplate_removal")
    // r17: the boiler set ships as an array LITERAL riding the task
    // binary (referenced once per task) — the earlier 1-row broadcast
    // cross join attached it as a COLUMN and the join's UnsafeRow
    // materialization memcpy'd the whole set per corpus row
    assert(!plan.contains("Join"), s"join in the d15 output pass:\n$plan")
    assert(plan.contains("array_except_sorted"),
      s"literal probe kernel missing:\n$plan")
  }

  test("p12: shard order is a per-shard window, no corpus-wide self-join") {
    val plan = finalPlan("p12_training_order")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastHashJoin") && !plan.contains("CartesianProduct"),
      s"training-order shuffle planned a join:\n$plan")
    val windowLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty &&
      windowLines.forall(_.contains("windowspecdefinition(shard")),
      s"rank window not partitioned by shard:\n${windowLines.mkString("\n")}")
  }

  test("d15: the chunking expression never sinks below the width exchange") {
    // Round-12 regression guard: explode's inferred size(chunks)>0 filter
    // used to be pushed below the parallelism-floor repartition,
    // substituting the full tokenize+chunk expression into the narrow
    // scan stage (3 recomputations per row, an 8 s straggler at 10x).
    // Structurally: every Filter line mentioning the chunk-builder
    // (`transform(sequence(`) would sit under the scan — assert none
    // does; the only scan-side filter allowed is the cheap token-count
    // gate. (explode_outer + explicit isNotNull keeps inference off.)
    val plan = finalPlan("d15_boilerplate_removal")
    val filterLines = plan.linesIterator
      .filter(l => l.trim.startsWith("+- Filter") || l.trim.startsWith(":- Filter")
        || l.trim.startsWith("Filter"))
      .toSeq
    val heavyFilters = filterLines.filter(_.contains("transform(sequence("))
    assert(heavyFilters.isEmpty,
      s"chunk expression recomputed inside a Filter (pushdown regression):\n${heavyFilters.mkString("\n")}")
  }

  test("LSH band and decontamination gram kernels run once per row: " +
      "never inside a Filter") {
    // explode/posexplode of a column holding a kernel's array lets
    // InferFiltersFromGenerate add `size(k) > 0 AND isnotnull(k)`, and
    // the optimizer inlines the kernel into both conjuncts — three
    // kernel calls per row. explode_outer + an isNotNull on the
    // generated column keeps the inference off. A filter over a plain
    // alias of a kernel is pushed below its projection with the kernel
    // inlined the same way (two calls per row).
    val docs = graft.sources.Records.table(spark, sfDir, "documents")
    val kernels = Seq("minhash_lsh_bands(", "ngram_hashes(", "word_ngrams(")
    val plans = Seq(
      "minhash_lsh_bands(" -> graft.operators.Dedup.bandTable(
        graft.operators.Dedup.shingles(docs)),
      "ngram_hashes(" -> graft.operators.Decontamination.ngramHashes(docs, 4),
      "word_ngrams(" -> graft.operators.Dedup.shingles(docs))
    for ((kernel, df) <- plans) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains(kernel), s"$kernel is not planned:\n$plan")
      val filterLines = plan.linesIterator
        .filter(_.replaceAll("^[\\s:+|-]+", "").startsWith("Filter"))
        .toSeq
      val heavy = filterLines.filter(l => kernels.exists(l.contains))
      assert(heavy.isEmpty,
        s"$kernel evaluated inside a Filter:\n${heavy.mkString("\n")}\n$plan")
    }
  }

  // ---- unpartitioned windows: provably aggregate-bounded ----
  // Bench stderr shows `WindowExec: No Partition Defined` for the
  // documented global-total windows (q20's design note: the window form
  // is single-scan where a second agg branch re-planned the lineitem
  // scan). Benign ONLY while the window's input is an aggregate, never
  // a corpus-sized relation — this pins that structurally, so the
  // warning can't silently start meaning "global sort of the corpus".

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.execution.window.WindowExec

  /** Children, piercing AQE stage / reuse wrappers (QueryStageExec and
    * ReusedExchangeExec are leaves to TreeNode traversal but hold the
    * real subtree). */
  private def through(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }
  private def flattenPlan(p: SparkPlan): Seq[SparkPlan] =
    p +: through(p).flatMap(flattenPlan)
  /** Every root-to-leaf path below `p` crosses an aggregate — the input
    * is aggregate-sized regardless of which branch produced it. */
  private def aggBounded(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case other =>
      val kids = through(other)
      kids.nonEmpty && kids.forall(aggBounded)
  }

  test("unpartitioned windows rank aggregate-bounded inputs only (q20, o1, p13)") {
    for (name <- Seq("q20_top_part_suppliers", "o1_least_loaded",
        "p13_token_budget")) {
      val df = Catalog.byName(name).fn(spark, sfDir)
      df.collect() // AQE finalizes the plan only after execution
      val plan = df.queryExecution.executedPlan
      val unpartitioned = flattenPlan(plan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(unpartitioned.nonEmpty,
        s"$name is documented to use a global-total window; none found:\n$plan")
      unpartitioned.foreach { w =>
        assert(aggBounded(w.child),
          s"$name: unpartitioned window over a NON-aggregate child — " +
            s"a corpus-sized relation would serialize through one task:\n${w.child}")
      }
    }
  }

  test("p6b: sharded packing broadcasts the offsets; local windows are " +
      "keyed (group, shard)") {
    val plan = finalPlan("p6b_sequence_pack_sharded")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"shard-offset table not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in p6b:\n$plan")
    assert(plan.contains("__shard"),
      s"pack window not sub-sharded (no __shard key in plan):\n$plan")
  }

  test("d16: span census is kernel + one aggregation exchange, sample " +
      "gate inside the scan stage") {
    val plan = finalPlan("d16_span_dups")
    assert(plan.contains("span_hashes"),
      s"codegen'd span kernel missing (interpreted HOF fallback?):\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"span census must be join-free:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must be a partial top-k, not a global sort:\n$plan")
  }

  test("p17: DSIR scoring is one join-free scan — the log-ratio table " +
      "rides as a literal, never a joined column") {
    val plan = finalPlan("p17_dsir_weights")
    assert(!plan.contains("Join"),
      s"scoring must be a per-row fold against a literal, not a join:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"scoring must not re-aggregate the corpus (fold is in-row):\n$plan")
    assert(codegenCalls(plan, "dsir_score").exists(_.contains(", false)")),
      s"codegen'd bigram scoring kernel missing (interpreted HOF fallback?):\n$plan")
  }

  test("p17e: unigram+bigram scoring keeps p17's shape — join-free, one combined in-row kernel fold") {
    val plan = finalPlan("p17e_dsir_unibigram")
    assert(!plan.contains("Join"),
      s"scoring must be per-row folds against a literal, not a join:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"scoring must not re-aggregate the corpus:\n$plan")
    assert(codegenCalls(plan, "dsir_score").exists(_.contains(", true)")),
      s"codegen'd unigram+bigram scoring kernel missing (one call per row):\n$plan")
  }

  test("p17b: Gumbel resample is a partial top-k, join-free") {
    val plan = finalPlan("p17b_dsir_resample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"resample must be a partial top-k, not a global sort:\n$plan")
    assert(!plan.contains("Join"), s"resample must be join-free:\n$plan")
  }

  test("curation funnels (p15, p18, p19, p20): hash-joined stages, no cartesian") {
    for (name <- Seq("p15_curation_pipeline", "p18_dsir_pipeline",
        "p19_curation_mix", "p20_curation_mix_epochs",
        "p21_stream_curation")) {
      val plan = finalPlan(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name: funnel stage degenerated to a cartesian:\n$plan")
    }
    // p15's only nested-loop is the sanctioned 1-row broadcast budget
    // cross join (the q20 shape); p18 has no cross join at all, so a
    // nested-loop there is always a degenerated stage
    val p18 = finalPlan("p18_dsir_pipeline")
    assert(!p18.contains("BroadcastNestedLoopJoin"),
      s"p18: funnel stage degenerated to a nested-loop:\n$p18")
    // p19's domain-mix stage must keep its prefix window PARTITIONED
    // by source (parallel across domains — the selectByDomainBudget
    // contract), not fall back to p13's unpartitioned global window;
    // its only nested-loops are the sanctioned 1-row broadcast budget
    // cross joins (domainBudgets' total, the q20 shape)
    val p19 = finalPlan("p19_curation_mix")
    assert(p19.contains("windowspecdefinition(source#"),
      s"p19: domain window lost its source partitioning:\n$p19")
  }

  test("sim5: the index probe is a PartitionFilters-pruned scan of the " +
      "probed cells — the corpus-sized remainder is never read") {
    val df = Catalog.byName("sim_topk_ivf_indexed").fn(spark, sfDir)
    df.collect()
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("/assign")) => f
    }
    assert(scans.nonEmpty,
      s"no assignment-index scan found:\n${df.queryExecution.executedPlan}")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"assignment scan not partition-pruned to the probed cells:\n$f")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in sim5:\n$plan")
  }

  test("decontaminate after dedup: the dedup subtree is REUSED across " +
      "the gram and corpus branches, never re-executed") {
    // Curation.decontaminate consumes its input twice (the gram
    // relation and the corpus filter both derive from the deduped
    // pool); at corpus scale a re-run dedup aggregation is a full
    // extra shuffle. AQE's stage reuse catches the repeated subtree —
    // this pins that it KEEPS catching it (the catalog entries
    // materialize the metric stage, so their final-job plans never
    // show this join; the pin drives the funnel prefix directly).
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Records.table(spark, sfDir, "documents")
    val dd = graft.operators.Curation.funnel(docs, Seq(
      graft.operators.Curation.exactDedup(),
      graft.operators.Curation.decontaminate(
        pmod(col("doc_id"), lit(97)) === 0)))
    dd.collect()
    val reused = flattenPlan(dd.queryExecution.executedPlan)
      .count(_.isInstanceOf[ReusedExchangeExec])
    // the keeper-hash exchange feeds three consumers (dedup semi join
    // in the corpus branch, the gram branch, the eval-gram branch):
    // one build + at least two reuses
    assert(reused >= 2,
      s"dedup exchange re-executed under decontaminate (reused=$reused):\n" +
        dd.queryExecution.executedPlan)
  }
}

package graft.queries

import graft.model.{OffsetRange, PipelineSpec, Route}
import graft.sources.Records
import graft.streaming.ReplicationPipeline
import org.apache.spark.sql.functions._

/**
 * Correctness entries that exercise the STREAMING engine end-to-end —
 * the reference's actual acceptance shape (produce → replicate → consume,
 * `uReplicator-Worker/src/test/java/.../WorkerInstanceTest.java:131-159`).
 *
 * k2_replication_pipeline runs a real Structured Streaming query inside
 * the entry: the fixture-derived record table is written to a temp parquet
 * "source topic", replicated through
 * [[ReplicationPipeline.startFilePipeline]] (file source → T1/T2/T5
 * transform chain + S5 offset bounds → exactly-once file sink with
 * checkpoint), and the SINK directory is read back as the result. The
 * DuckDB oracle recomputes the same transform relationally — so the gate
 * verifies the streaming path's output, not a batch re-implementation.
 *
 * The stateful file-stream entries (e3, d7, d8, e4, e6, e7) share one
 * append lifecycle, [[appendLifecycle]]: each states only its query
 * body, its fixture glob and its state policy. Every per-run directory
 * (checkpoints, sinks, work dirs) is a fresh `SessionTemp.dir`, and the
 * caches that hand out session-temp dirs rebuild an entry whose dir a
 * `SessionTemp.cleanupNow()` removed.
 */
object StreamingQueries {

  private val k2Spec = PipelineSpec(
    name = "k2",
    route = Route("src", "dst", 0),
    topics = Seq("click", "view", "purchase"),
    topicMapping = Map("click" -> "click_stream"),
    dstPartitionCounts =
      Map("click_stream" -> 4, "view" -> 2, "purchase" -> 3),
    excludeTopicRegex = Some("^__.*"),
    // S5 bounded range: view/0 only replicates offsets >= 2
    offsetRanges = Seq(OffsetRange("view", 0, 2L, Some(1000000L))))

  /** The replicated sink by event id: the one read-back of k2 and its
    * dynamic-source variants (the event id travels in header 0). */
  private def replicatedByEventId(s: org.apache.spark.sql.SparkSession,
      outDir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(outDir)
      .select(expr("cast(cast(headers[0].value as string) as long)")
          .as("event_id"),
        col("topic"),
        col("partition").cast("long").as("dst_partition"),
        col("offset"))
      .orderBy("event_id")

  // The "source topic" dump is a fixture step (production reads the
  // broker): write it once per (session, data dir) and let repeated
  // runs re-stream it. Checkpoint + sink stay unique per run — reusing
  // a checkpoint would resume past the committed offsets and emit
  // nothing.
  private val k2SrcCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()
  private val k2 = QueryDef(
    "k2_replication_pipeline",
    (s, dir) => {
      val base = graft.SessionTemp.dir("graft_k2_")
      val srcDir = graft.SessionTemp.live(k2SrcCache, (s, dir))(Seq(_)) {
        val d = graft.SessionTemp.dir("graft_k2_src_")
        Records.recordsFromEvents(Records.table(s, dir, "events"))
          .write.mode("overwrite").parquet(d)
        d
      }
      val outDir = s"$base/out"
      val spec = k2Spec.copy(checkpointLocation = Some(s"$base/ckpt"))
      ReplicationPipeline.startFilePipeline(s, spec, srcDir, outDir)
        .awaitTermination()
      replicatedByEventId(s, outDir)
    },
    Some(s"WITH ${Records.recordsSqlCte}\n" +
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |  CASE topic WHEN 'click' THEN 'click_stream' ELSE topic END AS topic,
        |  CAST(CASE topic WHEN 'click' THEN partition % 4
        |                  WHEN 'view' THEN partition % 2
        |                  WHEN 'purchase' THEN partition % 3
        |                  ELSE NULL END AS BIGINT) AS dst_partition,
        |  CAST("offset" AS BIGINT) AS "offset"
        |FROM records
        |WHERE topic IN ('click', 'view', 'purchase')
        |  AND NOT (topic = 'view' AND partition = 0 AND "offset" < 2)
        |ORDER BY event_id""".stripMargin))

  // The shared topic-log fixture: the record table written once per
  // (session, data dir) as a FileTopicLog (one append-only log per
  // (topic, partition)) through [[writeLog]]'s idempotent appendAt, so a
  // task retry or speculative duplicate re-offering a run appends
  // nothing. k2b replicates from it; s2/s2b use the run-scoped
  // [[s2Scenario]] log instead, because their mid-run staged appends
  // need a root no other entry reads.
  private val s2SrcCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()
  private val s2Locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def s2Root(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionTemp.live(s2SrcCache, (s, dir))(Seq(_)) {
      val d = graft.SessionTemp.dir("graft_s2_log_")
      writeLog(logRecords(s, dir), d)
      d
    }

  // S2 + S2B — ONE combined lifecycle run (gated once per (session,
  // data dir), both oracle entries re-read its sink): the full
  // add → remove → re-add assignment story of the reference through a
  // single runId-pinned query, instead of two separately-staged
  // streaming lifecycles per bench/verify pass (the per-entry gate cost
  // was growing linearly with the catalog — VERDICT r11 #6). Phases:
  //   1  whitelist = lexicographic first half, half-1 records staged,
  //      drain — the initial assignment;
  //   2  widen to ALL topics in flight (F1 add): late topics must
  //      arrive complete from offset 0 — s2's gate;
  //   3  victim topic REMOVED in flight (F2 delete), then half-2
  //      records land for every topic: the victim's sink count must
  //      FREEZE at its half-1 position (require'd) while every other
  //      topic drains — s2b's gate;
  //   4  victim re-added in flight: resumes from the frozen offset, no
  //      replay;
  //   5  partition EXPANSION (F6): one (topic, partition) of an
  //      always-whitelisted topic is held back entirely until now —
  //      when its files first appear the running query must pick the
  //      new partition up mid-flight and deliver it complete from
  //      offset 0 (require'd); runId pinned across all phases.
  // The oracle for both entries is the full record relation: any
  // replay duplicates an offset, any loss drops one — hash-visible.
  // Per-entry oracle independence is preserved (each entry has its own
  // queries + oracleSql pair over the shared verified sink).
  private val s2ScenarioCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), String]()
  private def s2Scenario(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.SessionTemp.live(s2ScenarioCache, (s, dir))(Seq(_)) {
      import graft.sources.FileTopicLog
      import org.apache.spark.sql.expressions.Window
      val root = graft.SessionTemp.dir("graft_s2life_log_")
      val recs = logRecords(s, dir)
        .withColumn("tp_half",
          (count(lit(1)).over(Window.partitionBy("topic", "partition")) / 2)
            .cast("long"))
      val topics = eventTopics(s, dir)
      val firstHalf = topics.take(math.max(topics.length / 2, 1))
      val victim = topics.last
      // F6 expansion subject: the highest partition of an always-
      // whitelisted non-victim topic is withheld from EVERY earlier
      // write — to the running query its topic's partition count grows
      // mid-flight. Degenerates to no-op when the fixture has one topic
      // (victim == every topic) or the topic has a single partition.
      val expandTopic = firstHalf.head
      val expandPart: Int =
        if (expandTopic == victim) -1
        else {
          val parts = recs.filter(col("topic") === expandTopic)
            .agg(min("partition"), max("partition")).head()
          if (parts.getInt(0) == parts.getInt(1)) -1 else parts.getInt(1)
        }
      val isExpansion =
        col("topic") === expandTopic && col("partition") === lit(expandPart)
      writeLog(recs.filter(col("offset") < col("tp_half") && !isExpansion), root)
      val victimHalf1 = recs
        .filter(col("topic") === victim && col("offset") < col("tp_half"))
        .count()
      FileTopicLog.setWhitelist(root, firstHalf)
      val base = graft.SessionTemp.dir("graft_s2life_")
      val q = s.readStream.format("graft-topiclog").option("path", root).load()
        .selectExpr("topic", "partition", "offset",
          "cast(key as string) AS user_id", "cast(value as string) AS props",
          "cast(headers[0].value as string) AS event_id")
        .writeStream.format("parquet")
        .option("path", s"$base/sink")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
        .start()
      val runId = q.runId
      try {
        q.processAllAvailable()
        FileTopicLog.setWhitelist(root, topics) // F1 add, in flight
        q.processAllAvailable()
        val lateArrived = s.read.parquet(s"$base/sink")
          .filter(!col("topic").isin(firstHalf: _*)).count()
        require(lateArrived > 0, "late-added topics must arrive after the widen")
        FileTopicLog.setWhitelist(root, topics.filterNot(_ == victim)) // F2 delete
        // flush any batch planned against the pre-delete whitelist BEFORE
        // the second halves land, so the freeze point is deterministic
        q.processAllAvailable()
        writeLog(recs.filter(col("offset") >= col("tp_half") && !isExpansion), root)
        q.processAllAvailable()
        val frozen = s.read.parquet(s"$base/sink")
          .filter(col("topic") === victim).count()
        require(frozen == victimHalf1,
          s"deleted topic must freeze at its pre-delete position ($frozen != $victimHalf1)")
        FileTopicLog.setWhitelist(root, topics) // re-add: resume, no replay
        q.processAllAvailable()
        if (expandPart >= 0) { // F6: the new partition appears mid-query
          writeLog(recs.filter(isExpansion), root)
          q.processAllAvailable()
          val expansionRows = s.read.parquet(s"$base/sink")
            .filter(col("topic") === expandTopic &&
              col("partition") === expandPart)
          val expected = recs.filter(isExpansion).count()
          val (got, minOff) = expansionRows
            .agg(count(lit(1)), coalesce(min("offset"), lit(-1L))).head() match {
              case r => (r.getLong(0), r.getLong(1))
            }
          require(got == expected && minOff == 0L,
            s"an expanded partition must deliver complete from offset 0 " +
              s"mid-query (got $got/$expected rows, min offset $minOff)")
        }
        require(q.runId == runId,
          "assignment changes must not restart the query")
      } finally q.stop()
      s"$base/sink"
    }

  private def s2SinkRelation(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(s2Scenario(s, dir))
      .select(col("topic"), col("partition"), col("offset"),
        col("user_id"), col("props"), col("event_id").cast("long").as("event_id"))
      .orderBy("topic", "partition", "offset")

  private val s2 = QueryDef(
    "s2_dynamic_assign",
    (s, dir) => s2SinkRelation(s, dir),
    Some(s"WITH ${Records.recordsSqlCte}\n" +
      """SELECT topic, partition, "offset", key AS user_id, value AS props,
        |  CAST(event_id AS BIGINT) AS event_id
        |FROM records
        |ORDER BY topic, partition, "offset"""".stripMargin))

  /** State backend choice is per-pipeline, by STATE SHAPE (the
    * memory-vs-RocksDB tradeoff, SURVEY §2.1.1): the default HDFSBacked
    * store keeps every key on the JVM heap — the right backend for
    * bounded state (e3's window counts: hundreds of groups, zero native
    * overhead), an executor OOM by construction for data-sized state.
    * Dedup state grows with the corpus, so d7/d8 run RocksDB (bounded
    * memtables, spill to local disk — the backend a 100-TB dedup
    * pipeline runs; ships with Spark, no extra dependency; measured
    * ~+1.5 s fixed native-init cost per query at bench scale, which is
    * why it is not blanket-applied to bounded-state entries).
    * StateBackendSpec proves the bounded-state operators are green under
    * RocksDB too — the choice here is sizing, not compatibility. */
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Event rows from which e4/e6/e7 move their state to RocksDB: every
    * raw event crosses their state shuffle, and past ~1M events the
    * concurrent heap-store tasks each pin a partition's state map. */
  private val EventStateRocksDbRows = 1000000L

  /** Shuffle/state-store width for a stateful entry, sized to the STATE
    * (distinct keys ≈ corpus rows for dedup), not the session's
    * relational default: one store per shuffle partition is pure
    * overhead for tiny state, while a narrow shuffle throttles
    * data-sized state — measured at sf10 (500k dedup keys) widening
    * 4 → 16 cut d7 34 → 21 s and d8 53 → 30 s even on one JVM, and on a
    * real cluster the width is what spreads state across executors.
    * ~125k keys per store, floor 4, capped at the core count. */
  private def stateWidth(s: org.apache.spark.sql.SparkSession,
      stateKeys: Long): Int =
    math.min(s.sparkContext.defaultParallelism.toLong,
      math.max(4L, 4L * (stateKeys / 125000L))).toInt

  // fixture schema and parquet row count (footer metadata, no data
  // read) per (data dir, glob): one probe per fixture per JVM
  private val fixtureSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()
  private val fixtureRows =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private def fixture(s: org.apache.spark.sql.SparkSession, dir: String,
      glob: String): org.apache.spark.sql.DataFrame =
    s.read.option("pathGlobFilter", glob).parquet(dir)

  /** The append lifecycle of the stateful file-stream entries (e3, d7,
    * d8, e4, e6, e7), stated once:
    *  - a cloned session (own SQLConf + catalog, so nothing planned in
    *    the caller's session sees it) at the entry's state width and
    *    backend;
    *  - a file stream over `dir`'s `glob` files, ONE FILE per
    *    micro-batch: the driver fixture is a single file (one batch),
    *    while a time-sliced fixture (GenData.SplitEventsByTime) arrives
    *    as N ordered slices and the watermark advances BETWEEN batches,
    *    evicting closed state — the production arrival shape;
    *  - `body`, given the cloned session and that stream's factory
    *    (each call makes one more source: a stream-stream join takes
    *    two), into one parquet sink + checkpoint in a fresh
    *    session-temp dir (a reused checkpoint would resume past the
    *    committed offsets and emit nothing);
    *  - AvailableNow, await, and the sink read back in the caller's
    *    session with the body's own schema (no footer schema pass).
    *
    * @param rocksDbFromRows the state policy. `None`: bounded state —
    *   the heap store at the minimum width, no row count. `Some(n)`:
    *   state that grows with the input — the width is sized to the
    *   fixture's row count, and the state runs on RocksDB once that
    *   count reaches `n` (`0`: always). */
  private def appendLifecycle(s: org.apache.spark.sql.SparkSession,
      dir: String, glob: String, entry: String,
      rocksDbFromRows: Option[Long])(
      body: (org.apache.spark.sql.SparkSession,
        () => org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rows = rocksDbFromRows.map(_ => fixtureRows.computeIfAbsent((dir, glob),
      _ => java.lang.Long.valueOf(fixture(s, dir, glob).count())).longValue)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions",
      stateWidth(s, rows.getOrElse(0L)).toString)
    if (rocksDbFromRows.exists(n => rows.exists(_ >= n)))
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    val schema = fixtureSchemas.computeIfAbsent((dir, glob),
      _ => fixture(s, dir, glob).schema)
    val out = body(ss, () => ss.readStream.schema(schema)
      .option("pathGlobFilter", glob)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir))
    val base = graft.SessionTemp.dir(s"graft_${entry}_")
    out.writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    s.read.schema(out.schema).parquet(s"$base/out")
  }

  /** `ts` as a timestamp, whichever parquet type the events fixture
    * stores it as — the conversion [[Records.table]] applies to batch
    * reads. */
  private def eventTs(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    events.withColumn("ts", Records.tsToTimestamp(events.schema("ts").dataType))

  // E3 — watermarked event-time windows, run as a REAL append-mode
  // streaming query (AvailableNow over a file source): only windows the
  // final watermark (max event time − 1 h, ms precision) has passed are
  // emitted; the open tail windows stay in state. The oracle models the
  // same cutoff relationally — so Spark's late-data/eviction semantics
  // themselves sit under the hash gate.
  //
  // Harness-cost notes (this was the most expensive bench entry at
  // 8.1 s, almost all of it machinery, not plan): the source schema is
  // cached per (dir, glob), and the parquet sink is read back with the
  // plan's schema, so no run pays a footer schema pass; the result is
  // never collected to the driver. The window/event_type state is
  // BOUNDED (hundreds of groups), the case the heap store and the
  // minimum width are right for: each shuffle partition materializes
  // one state store in the checkpoint, so a wide shuffle is pure fixed
  // overhead.
  private val e3 = QueryDef(
    "e3_watermarked_windows",
    (s, dir) =>
      appendLifecycle(s, dir, "events*.parquet", "e3",
          rocksDbFromRows = None) { (_, events) =>
        eventTs(events())
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("long").as("window_start"),
            col("event_type"), col("n"))
      }.orderBy("window_start", "event_type"),
    Some(
      """WITH mx AS (SELECT epoch_us(MAX(ts)) // 1000 AS max_ms FROM events),
        |w AS (SELECT CAST(FLOOR(epoch_us(ts) / 3600000000) * 3600 AS BIGINT)
        |        AS window_start, event_type
        |      FROM events)
        |SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM w, mx
        |GROUP BY window_start, event_type, max_ms
        |HAVING (window_start + 3600) * 1000 <= max_ms - 3600000
        |ORDER BY window_start, event_type""".stripMargin))

  // D7 — STREAMING exact dedup: the streaming half of d1. A continuous
  // ingest pipeline dedups with `dropDuplicates` state rather than a
  // batch groupBy; here the documents fixture streams through a real
  // append-mode query and only first-seen content hashes are emitted.
  // The output is the distinct hash set (deterministic regardless of
  // partition processing order — emitting whole first-seen rows would
  // be racy across 32 partitions). At production scale the state store
  // is bounded with `dropDuplicatesWithinWatermark` over the ingest
  // timestamp + RocksDB state; the fixture has no event time, so this
  // entry documents the unbounded-state form the reference-scale
  // pipeline would qualify with a watermark. RocksDB: the first-seen
  // hash set grows with the corpus — the data-sized-state case the heap
  // store cannot hold at 100 TB; the store count scales with the corpus
  // too (dedup state keys ≈ rows).
  private val d7 = QueryDef(
    "d7_stream_dedup",
    (s, dir) =>
      appendLifecycle(s, dir, "documents.parquet", "d7",
          rocksDbFromRows = Some(0L)) { (_, docs) =>
        docs()
          .select(md5(col("text").cast("binary")).as("content_md5"))
          .dropDuplicates("content_md5")
      }.orderBy("content_md5"),
    Some(
      """SELECT DISTINCT md5(text) AS content_md5 FROM documents
        |ORDER BY content_md5""".stripMargin))

  // D8 — the PRODUCTION form of streaming dedup, under the gate: state
  // is BOUNDED with `dropDuplicatesWithinWatermark` (keys older than the
  // watermark delay are evicted — at 100 TB the first-seen set is
  // data-sized, so unbounded d7-style state is an OOM by construction),
  // the sink is a DURABLE file sink (parquet + checkpoint, exactly-once
  // file-commit protocol), and the state backend is RocksDB. The event
  // time is derived FROM the content hash, so every duplicate of a key
  // carries the same timestamp and the emitted row is deterministic no
  // matter which copy a partition sees first; within one AvailableNow
  // batch the watermark has not advanced past any key, so the output is
  // the full distinct set — which is what the relational oracle checks.
  // Reference analog: S7's bounded in-flight dedup state
  // (`uReplicator-Worker/.../worker/ConsumerIterator.java:56-86`).
  private val d8 = QueryDef(
    "d8_stream_dedup_wm",
    (s, dir) =>
      appendLifecycle(s, dir, "documents.parquet", "d8",
          rocksDbFromRows = Some(0L)) { (_, docs) =>
        docs()
          .select(md5(col("text").cast("binary")).as("content_md5"))
          // deterministic per-key event time (hash-derived, 0–24 h
          // range): duplicates of a key are indistinguishable rows, so
          // first-seen emission order cannot leak into the output
          .withColumn("ingest_ts", expr(
            "timestamp_micros(pmod(xxhash64(content_md5), 86400000000L))"))
          .withWatermark("ingest_ts", "1 hour")
          .dropDuplicatesWithinWatermark("content_md5")
          .select("content_md5")
      }.orderBy("content_md5"),
    Some(
      """SELECT DISTINCT md5(text) AS content_md5 FROM documents
        |ORDER BY content_md5""".stripMargin))

  // D12 — STREAMING INCREMENTAL DEDUP with a durable index: the
  // streaming twin of d10. Where d7/d8 hold dedup state inside the
  // state store (gone when the query is torn down), d12 maintains a
  // PERSISTENT 16-byte/doc content-hash index and an exactly-once
  // `kept` table on plain parquet via [[graft.streaming.IncrementalDedup]]:
  // batch-addressed overwrite partitions + a prior-batches-only
  // anti-join make every batch idempotent under checkpoint replay — no
  // transactional table format needed. IncrementalDedupSpec crashes a
  // batch after its writes and before its commit, restarts, and
  // asserts the final table is exact; here the full pipeline (driver
  // fixture = one batch; a sliced fixture = one batch per slice) sits
  // under the DuckDB gate.
  private val d12 = QueryDef(
    "d12_stream_incremental_dedup",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d12_")
      graft.streaming.IncrementalDedup.run(s, dir, workDir)
      graft.streaming.IncrementalDedup.kept(s, workDir)
        .orderBy("content_hash")
    },
    Some(
      """SELECT md5(text) AS content_hash,
        |  CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin))

  // E4 — STREAMING sessionization: `session_window` gap sessions (30 min)
  // in a real append-mode query — the streaming half of e1. Sessions are
  // MERGED in the state store as events arrive and emitted only once the
  // watermark (1 h) passes the session end, so Spark's gap-merge +
  // eviction semantics themselves sit under the hash gate; the oracle
  // models the same sessions relationally with the strict session_window
  // boundary rule (a gap of EXACTLY the 30-min window starts a new
  // session: [t, t+gap) does not contain t+gap — note e1's batch lag
  // formulation uses > and would merge that edge case) and the same
  // ms-precision watermark cutoff as e3. State is the set of OPEN
  // sessions inside the watermark horizon, but session_window has NO
  // partial aggregation — every raw event crosses the state shuffle so
  // sessions can merge in the store — so unlike e3 (windowed agg,
  // map-side combined) the width scales with EVENT volume: at 100x (10M
  // events) the 4-partition floor was a 93 s funnel. Width brings
  // concurrency, and concurrent heap-store tasks each pin their
  // partition's session map, so past ~1M events the state moves to
  // RocksDB (native memory, spill-capable).
  private val e4 = QueryDef(
    "e4_stream_sessions",
    (s, dir) =>
      appendLifecycle(s, dir, "events*.parquet", "e4",
          rocksDbFromRows = Some(EventStateRocksDbRows)) { (_, events) =>
        eventTs(events())
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id").cast("long").as("user_id"),
            col("session_window.start").cast("long").as("session_start"),
            col("session_window.end").cast("long").as("session_end"),
            col("n_events"))
      }.orderBy("user_id", "session_start"),
    Some(
      """WITH mx AS (SELECT epoch_us(MAX(ts)) // 1000 AS max_ms FROM events),
        |e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN us - LAG(us) OVER w IS NULL
        |                   OR us - LAG(us) OVER w >= 1800000000
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, sid,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    MIN(us) // 1000000 AS session_start,
        |    MAX(us) // 1000000 + 1800 AS session_end,
        |    MAX(us) // 1000 + 1800000 AS end_ms
        |  FROM sess GROUP BY user_id, sid)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(session_start AS BIGINT) AS session_start,
        |  CAST(session_end AS BIGINT) AS session_end, n_events
        |FROM agg, mx WHERE end_ms <= max_ms - 3600000
        |ORDER BY user_id, session_start""".stripMargin))

  // E6 — STREAMING conversion funnel: e5's ordered click→view→purchase
  // progression as ARBITRARY per-key state (`flatMapGroupsWithState`) —
  // the one stateful-API family the gate did not yet cover (session
  // windows: e4; dedup state: d7/d8; windowed aggs: e3). Per user the
  // state is three monotone flags; each batch folds its events in
  // (ts, event_id) order and emits the user's current stage. The
  // fixture is a single parquet file, so AvailableNow delivers exactly
  // one batch and the fold sees each user's full ordered history —
  // exact e5 semantics; the read-back takes max(stage) per user, which
  // is also correct across multiple batches whenever batches arrive
  // time-ordered per key (the production form for arbitrary arrival
  // order buffers events until the watermark passes, like e4's session
  // store, before folding). Width scales with event volume (all raw
  // events cross the state shuffle) and the state moves to RocksDB
  // past 1M events, as e4.
  private val e6 = QueryDef(
    "e6_stream_funnel",
    (s, dir) =>
      appendLifecycle(s, dir, "events*.parquet", "e6",
          rocksDbFromRows = Some(EventStateRocksDbRows)) { (ss, events) =>
        import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
        import ss.implicits._
        eventTs(events())
          .select(col("user_id").cast("long").as("user_id"),
            unix_micros(col("ts")).as("us"),
            col("event_id").cast("long").as("event_id"), col("event_type"))
          .as[(Long, Long, Long, String)]
          .groupByKey(_._1)
          .flatMapGroupsWithState[(Boolean, Boolean, Boolean), (Long, Long)](
            OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, evs, state) =>
            var (c, v, p) = state.getOption.getOrElse((false, false, false))
            evs.toSeq.sortBy(e => (e._2, e._3)).foreach { e =>
              e._4 match {
                case "click" => c = true
                case "view" => if (c) v = true
                case "purchase" => if (v) p = true
                case _ =>
              }
            }
            state.update((c, v, p))
            val stage = if (p) 3L else if (v) 2L else if (c) 1L else 0L
            Iterator.single((user, stage))
          }
          .toDF("user_id", "stage")
      }.groupBy("user_id").agg(max("stage").as("stage"))
        .orderBy("user_id"),
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' THEN us END) OVER w AS c
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                      ROWS UNBOUNDED PRECEDING)),
        |s2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'view' AND c IS NOT NULL
        |                     THEN us END) OVER w AS v
        |  FROM s1 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING)),
        |s3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND v IS NOT NULL
        |                     THEN us END) OVER w AS p
        |  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                       ROWS UNBOUNDED PRECEDING))
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(MAX(CASE WHEN p IS NOT NULL THEN 3
        |                WHEN v IS NOT NULL THEN 2
        |                WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin))

  // E7 — STREAM-STREAM JOIN: view→purchase attribution (every purchase
  // joined to the same user's views in the preceding 2 h) as a real
  // watermarked stream-stream inner join — the one Structured Streaming
  // join API the gate did not yet cover (e3/e4: windowed/session aggs,
  // d7/d8: dedup state, e6: arbitrary state). Both sides carry a 4-h
  // watermark and the join predicate bounds purchase time to
  // [view, view + 2 h], so the state store retains each side only inside
  // watermark + range — the condition Spark needs to EVICT join state;
  // without the time bound the buffers grow data-sized and a 100 TB
  // stream OOMs. Inner matches emit eagerly (watermark gates eviction,
  // not emission), so a single AvailableNow pass yields the full exact
  // join — the batch oracle. State is per-user rows inside a bounded
  // horizon, so width scales with event volume like e4, RocksDB past 1M.
  private val e7 = QueryDef(
    "e7_stream_join",
    (s, dir) =>
      appendLifecycle(s, dir, "events*.parquet", "e7",
          rocksDbFromRows = Some(EventStateRocksDbRows)) { (_, events) =>
        def side(tpe: String, idAs: String, tsAs: String, userAs: String) =
          eventTs(events())
            .filter(col("event_type") === tpe)
            .select(col("user_id").cast("long").as(userAs),
              col("event_id").cast("long").as(idAs), col("ts").as(tsAs))
            .withWatermark(tsAs, "4 hours")
        side("purchase", "purchase_id", "pts", "p_user")
          .join(side("view", "view_id", "vts", "v_user"),
            expr("p_user = v_user AND pts >= vts AND " +
              "pts <= vts + interval 2 hours"))
          .select(col("p_user").as("user_id"), col("purchase_id"),
            col("view_id"),
            expr("(unix_micros(pts) - unix_micros(vts)) div 1000000")
              .as("lag_s"))
      }.orderBy("purchase_id", "view_id"),
    Some(
      """WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vus
        |      FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
        |      FROM events WHERE event_type = 'purchase')
        |SELECT CAST(p.user_id AS BIGINT) AS user_id, p.purchase_id, v.view_id,
        |  CAST((p.pus - v.vus) // 1000000 AS BIGINT) AS lag_s
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND p.pus >= v.vus AND p.pus <= v.vus + CAST(7200 AS BIGINT) * 1000000
        |ORDER BY purchase_id, view_id""".stripMargin))

  // D13 — STREAMING INCREMENTAL NEAR-DEDUP: the MinHash-LSH twin of
  // d12, via [[graft.streaming.IncrementalNearDup]]. A doc is a
  // near-dup iff ANY earlier doc shares one of its 16 band hashes
  // (non-recursive — m(d) = min doc over d's band buckets, kept iff
  // m(d) == d — so the verdicts are independent of batch slicing and a
  // DuckDB oracle can state them over the whole corpus at once). The
  // durable index holds per-bucket minima (16 rows/doc max,
  // min-merged), batch-addressed overwrite partitions + strictly-prior
  // reads give layout-borne exactly-once, and compaction is the shared
  // crash-safe publish-then-delete (IncrementalNearDupSpec drives the
  // mid-stream crash and the sliced==unsliced equivalence).
  private val d13 = QueryDef(
    "d13_stream_incremental_neardup",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d13_")
      graft.streaming.IncrementalNearDup.run(s, dir, workDir)
      graft.streaming.IncrementalNearDup.results(s, workDir)
        .orderBy("doc_id")
    },
    Some(
      s"""WITH ${PipelineQueries.bandsSqlCtes},
         |bucket_min AS (
         |  SELECT band, band_hash, MIN(doc_id) AS m
         |  FROM bands GROUP BY band, band_hash),
         |doc_min AS (
         |  SELECT b.doc_id, MIN(bm.m) AS m
         |  FROM bands b JOIN bucket_min bm USING (band, band_hash)
         |  GROUP BY b.doc_id)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  m = doc_id AS kept,
         |  CASE WHEN m < doc_id THEN CAST(m AS BIGINT) END AS dup_of
         |FROM doc_min ORDER BY doc_id""".stripMargin))

  // D14 — STREAMING INCREMENTAL EMBEDDING DEDUP: the cosine-space
  // member of the durable-dedup triple (d12 exact, d13 lexical LSH,
  // d14 semantic), via [[graft.streaming.IncrementalEmbeddingDup]].
  // A vector is a near-dup iff any earlier vector shares a
  // (label, table, hyperplane-bucket) cell — d5's blocking buckets
  // under the same non-recursive min rule as d13, so the oracle is
  // batch SQL and the verdicts are slicing-invariant. The durable
  // index holds per-cell minima (2 rows/vector), same layout-borne
  // exactly-once + crash-safe compaction as d12/d13.
  private val d14 = QueryDef(
    "d14_stream_embedding_dedup",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d14_")
      graft.streaming.IncrementalEmbeddingDup.run(s, dir, workDir)
      graft.streaming.IncrementalEmbeddingDup.results(s, workDir)
        .orderBy("vec_id")
    },
    Some {
      import graft.functions.VectorLsh
      val b0 = VectorLsh.bucketSql("v", 0,
        graft.streaming.IncrementalEmbeddingDup.BitsPerTable,
        graft.streaming.IncrementalEmbeddingDup.Dims)
      val b1 = VectorLsh.bucketSql("v", 1,
        graft.streaming.IncrementalEmbeddingDup.BitsPerTable,
        graft.streaming.IncrementalEmbeddingDup.Dims)
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |tagged AS (
         |  SELECT vec_id, label, 0 AS tbl, $b0 AS bucket FROM e
         |  UNION ALL
         |  SELECT vec_id, label, 1 AS tbl, $b1 AS bucket FROM e),
         |cell_min AS (
         |  SELECT label, tbl, bucket, MIN(vec_id) AS m
         |  FROM tagged GROUP BY label, tbl, bucket),
         |vec_min AS (
         |  SELECT t.vec_id, MIN(cm.m) AS m
         |  FROM tagged t JOIN cell_min cm USING (label, tbl, bucket)
         |  GROUP BY t.vec_id)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  m = vec_id AS kept,
         |  CASE WHEN m < vec_id THEN CAST(m AS BIGINT) END AS dup_of
         |FROM vec_min ORDER BY vec_id""".stripMargin
    })

  // D18 — STREAMING INCREMENTAL SPAN CENSUS: the span wing's durable
  // streaming member (d16 batch census → d17 action → d18 incremental
  // build), via [[graft.streaming.IncrementalSpanCensus]]. Per-batch
  // (span_h, n_docs, n_occurrences) partials are ADDITIVE (a doc
  // arrives in exactly one batch), so the merged census is a sum over
  // batch-addressed partitions — and compaction therefore CANNOT use
  // the dedup index's duplicate-tolerant superset semantics: the
  // reader ignores every partition at or below the highest published
  // compacted id, making the publish rename the commit point
  // (IncrementalSpanCensusSpec drives the mid-stream crash, every
  // compaction failpoint, and sliced == unsliced equivalence). The
  // oracle is d16's census SQL, exact (no sampling), whole corpus at
  // once — batch slicing must be invisible.
  private val d18 = QueryDef(
    "d18_stream_span_census",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d18_")
      graft.streaming.IncrementalSpanCensus.run(s, dir, workDir)
      graft.streaming.IncrementalSpanCensus.census(s, workDir)
        .orderBy("span_h")
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 8 + 2),
        |    i -> md5(array_to_string(ts[i:i+7], ' ')))) AS span_h
        |  FROM t WHERE len(ts) >= 8)
        |SELECT span_h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM sp GROUP BY span_h HAVING COUNT(*) >= 2
        |ORDER BY span_h""".stripMargin))

  // D19 — STREAMING SPAN DEDUP (the d18 → d17 composition): the
  // incrementally-maintained census now carries each span's FIRST
  // occurrence (min(doc_id, pos) partials merge across batches exactly
  // like the counts), so the stream's output is a CONSUMED input — the
  // keep-first action pass runs over the accumulated corpus against
  // censusWithFirst without ever re-scanning history for the census
  // side (IncrementalSpanCensus.dedupAccumulated; a pipeline emits
  // deduplicated snapshots on any cadence). The oracle is d17's full
  // batch SQL over the same documents: incremental maintenance and
  // batch slicing must be invisible in the rewritten corpus.
  private val d19 = QueryDef(
    "d19_stream_span_dedup",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d19_")
      graft.streaming.IncrementalSpanCensus.run(s, dir, workDir)
      graft.streaming.IncrementalSpanCensus.dedupAccumulated(s, workDir,
          Records.table(s, dir, "documents"))
        .orderBy("doc_id")
    },
    Some(OracleSql.spanDedupSql(8)))

  // D20 — BOUNDED-COST STREAMING SPAN-DEDUP EMISSION (the d19
  // emission re-rewrite, closed): d19's read path rewrites the FULL
  // accumulated corpus per emission — exact under any arrival order,
  // but linear in the corpus per emission. Keep-first by (doc_id, pos)
  // is MONOTONE under doc_id-ordered arrival (the census min never
  // moves below anything that decides an already-arrived doc, and
  // count thresholds only ever confirm a keeper), so a doc's rewrite
  // against the census as of its own batch IS its final full-corpus
  // rewrite — the bounded emission rewrites ONLY the docs that arrived
  // since the last emission and appends them to a durable emitted
  // corpus; per-emission cost scales with the delta plus one
  // duplicated-span census read, never the accumulated corpus. Unlike
  // p17f this needs NO epochs: the census is the one model and it only
  // ever confirms earlier decisions. The monotonicity contract is
  // validated loudly at every emission (watermark check over the
  // LATEST emission only — monotone emissions make its max the global
  // max). The entry drives the production lifecycle — three
  // doc_id-ordered arrival slices, each absorbed into the census and
  // then emitted as a delta — and the oracle is d17's full batch SQL:
  // bounded emissions must be invisible in the rewritten corpus
  // (IncrementalSpanCensusSpec pins delta-emission ≡ accumulated ≡
  // batch, the crash-heal overwrite, and the loud non-monotone and
  // regressed-state rejections).
  private val d20 = QueryDef(
    "d20_stream_span_emit",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d20_")
      val streamDir = s"$workDir/docs"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(streamDir))
      val docs = Records.table(s, dir, "documents")
      val mm = docs.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val span = hi - lo + 1
      val cuts = Seq(lo, lo + span / 3, lo + 2 * (span / 3), hi + 1)
      for (i <- 0 until 3) {
        val delta = docs.filter(col("doc_id") >= cuts(i) &&
          col("doc_id") < cuts(i + 1))
        // one file per slice: a slice IS a micro-batch under the
        // runner's maxFilesPerTrigger=1
        val slice = graft.BenchFixtures.writeSingleFile(delta.coalesce(1),
          streamDir, f"documents-$i%02d")
        // absorb the arrival into the census, then emit ONLY the delta
        graft.streaming.IncrementalSpanCensus.run(s, streamDir, workDir)
        // the emission consumes the STAGED slice file (same rows as
        // `delta`): each of the emission's delta passes then reads the
        // slice-sized file instead of rescanning + refiltering the full
        // documents table — the shape a production stream has anyway
        // (the arriving slice IS a file)
        graft.streaming.IncrementalSpanCensus.emitNewDocs(s, workDir,
          s.read.parquet(slice))
      }
      graft.streaming.IncrementalSpanCensus.emittedCorpus(s, workDir)
        .orderBy("doc_id")
    },
    Some(OracleSql.spanDedupSql(8)))

  // P17D — STREAMING DSIR (the d18 → d19 discipline applied to the
  // p17 wing): the raw pool's hashed-bigram bucket-count model is
  // maintained INCREMENTALLY across micro-batches — per-batch
  // (bucket, cnt) partials are additive exactly like the span census's
  // sums, kept in the same batch-addressed preference-rule layout
  // (AdditiveBatchState; a double-counted partial would be a WRONG
  // model, so the publish rename is the commit point) — and the
  // consumed output is a Gumbel top-k importance resample of the
  // accumulated pool scored against that model, with the target seed
  // set fit exact at read time. Each partial is bucket-BOUNDED
  // (≤ 4096 rows, parameter-sized): the model state never grows with
  // the corpus, only the partition count, which compaction bounds.
  // The oracle is p17b's full batch SQL over the same documents:
  // incremental maintenance and batch slicing must be invisible in
  // the sample (IncrementalDsirSpec drives the mid-stream crash,
  // every compaction failpoint, and the sampled-fit equivalence).
  private val p17d = QueryDef(
    "p17d_stream_dsir",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_p17d_")
      graft.streaming.IncrementalDsir.run(s, dir, workDir)
      val d = Records.table(s, dir, "documents")
      graft.streaming.IncrementalDsir.resampleAccumulated(s, workDir,
        target = d.filter(col("source") === "src0"),
        pool = d.filter(col("source") =!= "src0"), k = 200)
    },
    Some(
      """WITH dsir_target AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |""".stripMargin + OracleSql.dsirScoredSql(4096) + "\n" +
      OracleSql.dsirGumbelSelect(200)))

  // P17F — BOUNDED-COST STREAMING DSIR EMISSION (the r19 emission
  // re-scan, closed): p17d's read path re-scores the accumulated pool
  // per emission — exact, but linear per emission at an hourly cadence
  // over 100 TB. Here the SCORING model is a frozen epoch: every batch
  // scores its own docs under the frozen log-ratio table into a
  // ≤ k-row top-k partial (immutable under a frozen epoch — the Gumbel
  // key is a salted per-doc hash, and every doc is in exactly one
  // batch, so top-k-of-union IS the global top-k), and an emission
  // merges parameter-sized partials instead of re-scanning history.
  // A MODEL REFRESH (refreshEpoch) re-scores once and REBASES the
  // top-k state under the new epoch — the linear cost moves from
  // per-emission to per-refresh. The entry drives the production
  // lifecycle: stream (per-batch partials under the bootstrap epoch)
  // → refresh at the final model → emit through the merged-partial
  // path, require-pinned fresh; the oracle is the same full batch
  // p17b chain — epochs, partials, and the rebase must be invisible
  // in the sample (IncrementalDsirSpec pins the frozen-epoch
  // incremental ≡ one-pass identity and the refresh crash matrix).
  private val p17f = QueryDef(
    "p17f_stream_dsir_emit",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_p17f_")
      val d = Records.table(s, dir, "documents")
      val target = d.filter(col("source") === "src0")
      val pool = d.filter(col("source") =!= "src0")
      graft.streaming.IncrementalDsir.runScored(s, dir, workDir, target,
        k = 150)
      graft.streaming.IncrementalDsir.refreshEpoch(s, workDir, target,
        pool, k = 150)
      require(graft.streaming.IncrementalDsir.emissionFresh(s, workDir),
        "emission state not fresh after refreshEpoch")
      graft.streaming.IncrementalDsir.resampleIncremental(s, workDir,
        k = 150)
    },
    Some(
      """WITH dsir_target AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |dsir_raw AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |""".stripMargin + OracleSql.dsirScoredSql(4096) + "\n" +
      OracleSql.dsirGumbelSelect(150)))

  // D21 — STREAMING ANN INDEX MAINTENANCE (the d18/p17d discipline
  // applied to the IVF wing): an arriving embedding stream maintains
  // the seed state (each batch's nCells smallest seed hashes — a
  // parameter-BOUNDED partial; merge = top-k of union) and the cell
  // assignment (a pure per-row function of the epoch-frozen centroid
  // table, so per-batch partials are exact) in AdditiveBatchState's
  // layout; compaction doubles as the epoch rebuild (fresh centroids
  // frozen at the boundary, folded vectors re-assigned under them).
  // The probe is exact at EVERY moment: current centroids derive
  // read-time from the parameter-sized seed state, epoch_fp-matching
  // rows serve straight from the persisted assignment, displaced rows
  // re-assign in-flight. The oracle is sim2's full batch SQL over the
  // same embeddings: incremental maintenance, batch slicing, and
  // epoch churn must be invisible in the top-k (IncrementalAnnSpec
  // drives the mid-stream crash, every compaction failpoint, and the
  // epoch-displacement equivalence).
  private val d21 = QueryDef(
    "d21_stream_ann",
    (s, dir) => {
      val workDir = graft.SessionTemp.dir("graft_d21_")
      graft.streaming.IncrementalAnn.run(s, dir, workDir, nCells = 8)
      val e = Records.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      graft.streaming.IncrementalAnn.probeAccumulated(s, workDir,
          e.filter(col("vec_id") < 20)
            .select(col("vec_id").as("q_id"), col("v").as("qv")),
          k = 3, nCells = 8, nprobe = 2)
        .orderBy("q_id", "rank")
    },
    PipelineQueries.defs.find(_.name == "sim_topk_ivf").get.oracle)

  // P21 — STREAMING CURATION FUNNEL (d12 + p19 composed): the
  // production training-set build consumed on an ARRIVING corpus. The
  // stream maintains d12's durable content-hash keeper index
  // (exactly-once, batch-addressed, compacted in-pipeline); the
  // snapshot then runs the p19 funnel over the accumulated pool with
  // the dedup stage swapped for a semi join against that index
  // (Curation.exactDedupKept — the only stage whose work the stream
  // already did; decontamination/metric/mix are snapshot-relative by
  // definition, since the eval set and the mix weights are emission-
  // time choices). The oracle is p19's full batch SQL over the same
  // documents: incremental index maintenance and batch slicing must
  // be invisible in the curated mix (StreamCurationSpec drives the
  // mid-stream crash + restart and pins funnel-over-index ≡ the
  // all-batch p19 funnel).
  private val p21 = QueryDef(
    "p21_stream_curation",
    (s, dir) => {
      import s.implicits._
      val workDir = graft.SessionTemp.dir("graft_p21_")
      graft.streaming.IncrementalDedup.run(s, dir, workDir)
      val kept = graft.streaming.IncrementalDedup.kept(s, workDir)
      val weights = (0 until 20)
        .map(i => (s"src$i", if (i < 3) 150000L else 25000L))
        .toDF("source", "w_micro")
      import graft.operators.Curation
      Curation.funnel(Records.table(s, dir, "documents"), Seq(
        Curation.exactDedupKept(kept),
        Curation.decontaminate(pmod(col("doc_id"), lit(97)) === 0),
        Curation.qualityMetric(carryCols = Seq("source")),
        Curation.domainMix(weights)))
    },
    PipelineQueries.defs.find(_.name == "p19_curation_mix").get.oracle)

  // ---- shared topic-log fixture plumbing (s2b / k2b) ----

  private val topicsCache =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), Seq[String]]()
  private def eventTopics(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] =
    topicsCache.computeIfAbsent((s, dir), _ =>
      Records.table(s, dir, "events").select("event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)

  /** The record relation projected to topic-log writer shape. */
  private def logRecords(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Records.recordsFromEvents(Records.table(s, dir, "events"))
      .select(col("key"), col("value"), col("topic"), col("partition"),
        col("offset"), unix_millis(col("timestamp")).as("ts_ms"),
        col("event_id").cast("string").cast("binary").as("eid"))

  /** Materialize a staged-fixture record relation once per entry call
    * (session-temp parquet, read back): the k2c/k2d/k2e lifecycles
    * consume their windowed `recs` 3-4 times (staged writeLog slices +
    * the per-TP floor counts), and each un-materialized consumer
    * re-runs the events scan plus both windows — the x16
    * materialize-before-reuse pattern applied to the fixture staging.
    * Strictly per-call: nothing is cached across runs. */
  private def materializedOnce(df: org.apache.spark.sql.DataFrame,
      prefix: String): org.apache.spark.sql.DataFrame = {
    val tmp = graft.SessionTemp.dir(prefix)
    df.write.mode("overwrite").parquet(tmp)
    df.sparkSession.read.parquet(tmp)
  }

  /** Executor-side idempotent topic-log writer: TP-complete tasks
    * (repartition on (topic, partition)), offset-ordered runs, appended
    * via [[FileTopicLog.appendAt]] — offsets already committed are
    * dropped inside the partition lock, so task retries (and staged
    * phase-2 appends that re-ship earlier offsets) cannot duplicate. */
  private def writeLog(df: org.apache.spark.sql.DataFrame,
      root: String): Unit = {
    import graft.sources.FileTopicLog
    df.repartition(col("topic"), col("partition"))
      .sortWithinPartitions("topic", "partition", "offset")
      .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        val bit = it.buffered
        while (bit.hasNext) {
          val t = bit.head.getAs[String]("topic")
          val p = bit.head.getAs[Int]("partition")
          val run = new Iterator[(Long, FileTopicLog.LogRecord)] {
            def hasNext: Boolean = bit.hasNext &&
              bit.head.getAs[String]("topic") == t &&
              bit.head.getAs[Int]("partition") == p
            def next(): (Long, FileTopicLog.LogRecord) = {
              val r = bit.next()
              (r.getAs[Long]("offset"), FileTopicLog.LogRecord(
                r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value"),
                r.getAs[Long]("ts_ms"),
                headers = Seq("event_id" -> r.getAs[Array[Byte]]("eid"))))
            }
          }
          FileTopicLog.appendAt(root, t, p, run)
        }
      }
  }

  private val recordsOracle: String =
    s"WITH ${Records.recordsSqlCte}\n" +
      """SELECT topic, partition, "offset", key AS user_id, value AS props,
        |  CAST(event_id AS BIGINT) AS event_id
        |FROM records
        |ORDER BY topic, partition, "offset"""".stripMargin

  // S2b — IN-FLIGHT TOPIC UNASSIGNMENT (topic DELETE, reference F2:
  // `controller/rest/resources/TopicManagementRestletResource.java:206-252`,
  // fetcher removal `worker/ConsumerFetcherThread.java:183-240`): gated
  // by phases 3-4 of the combined [[s2Scenario]] lifecycle (victim
  // removed mid-query, offsets frozen — require'd — then re-added and
  // resumed with no replay), verified here under its own full-relation
  // oracle over the shared sink.
  private val s2b = QueryDef(
    "s2b_dynamic_unassign",
    (s, dir) => s2SinkRelation(s, dir),
    Some(recordsOracle))

  /** Append the `cond` slice of `recs` to the log at `root` and return
    * its per-(topic, partition) row count — the staged floor that the
    * k2c/k2d/k2e retention asserts check the log base against. */
  private def stageCounted(recs: org.apache.spark.sql.DataFrame,
      cond: org.apache.spark.sql.Column, root: String): Map[(String, Int), Long] = {
    writeLog(recs.filter(cond), root)
    recs.filter(cond).groupBy("topic", "partition").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
  }

  /** The k2d/k2e fixture: the record relation with per-TP stage cuts
    * `t1`/`t2` at one and two thirds of each (topic, partition). */
  private def recordsInThirds(s: org.apache.spark.sql.SparkSession,
      dir: String, prefix: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    materializedOnce(logRecords(s, dir)
      .withColumn("tp_n",
        count(lit(1)).over(Window.partitionBy("topic", "partition")))
      .withColumn("t1", (col("tp_n") / 3).cast("long"))
      .withColumn("t2", (col("tp_n") * 2 / 3).cast("long")), prefix)
  }

  /** Poll (25 ms ticks, 30 s bound) until every TP's log base reached its
    * `floor` count. A batch's source commit fires on the trigger tick
    * AFTER the batch completes and hands the cut to the stream's cleaner
    * thread, which runs it behind that trigger; a cut that raced a
    * group's position publish is re-run by the next idle trigger. So the
    * base lags the data by a tick or two. Polling bounded instead of
    * asserting against the scheduler's clock (the flake showed up only
    * inside the 139-query driver session under load). The caller
    * asserts the bases afterwards. */
  private def awaitLogBases(root: String,
      floor: Map[(String, Int), Long]): Unit = {
    import graft.sources.FileTopicLog
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (floor.exists { case ((t, p), n) =>
        FileTopicLog.startOffset(root, t, p) < n } &&
        System.nanoTime < deadline)
      Thread.sleep(25)
  }

  /** Every consumer group of the log at `root` with its recorded
    * positions (for failure messages). */
  private def groupState(root: String): Map[String, Map[String, Map[Int, Long]]] = {
    import graft.sources.FileTopicLog
    FileTopicLog.groups(root).map(g => g -> FileTopicLog.groupPositions(root, g)).toMap
  }

  // K2b — the k2 replication pipeline with the DSv2 dynamic source as
  // its data plane: format("graft-topiclog") → the IDENTICAL
  // T1/T2/T5 + S5 transform chain → exactly-once parquet sink, under
  // k2's oracle SQL. Gates the custom reader's full record path
  // (binary key/value, headers, timestamps) through the production
  // pipeline, not just the s2 assignment demo.
  private val k2b = QueryDef(
    "k2b_dynamic_replication",
    (s, dir) => {
      import graft.sources.FileTopicLog
      val root = s2Root(s, dir)
      val topics = eventTopics(s, dir)
      val base = graft.SessionTemp.dir("graft_k2b_")
      // the shared fixture root has one whitelist: runs that set it
      // take turns
      s2Locks.computeIfAbsent(root, _ => new Object).synchronized {
        FileTopicLog.setWhitelist(root, topics)
        val src = s.readStream.format("graft-topiclog")
          .option("path", root).load()
        ReplicationPipeline.parquetSink(
          ReplicationPipeline.transform(src, k2Spec.copy(name = "k2b")),
          s"$base/out", s"$base/ckpt").start().awaitTermination()
      }
      replicatedByEventId(s, s"$base/out")
    },
    k2.oracle)

  // K2c — k2b's transform chain with RETENTION ON (`truncateOnCommit`):
  // as Spark durably commits each micro-batch, the source retires the
  // consumed prefix from the log (Kafka's `delete` cleanup driven by
  // consumer progress, reference `controller/.../OffsetMonitor` +
  // broker log cleanup). The oracle is UNCHANGED from k2 — retention
  // must be invisible to results while the log physically shrinks; a
  // mid-run `require` pins that every consumed TP's base offset really
  // advanced past its phase-1 prefix. Run-scoped log root: truncation
  // mutates the fixture, so the shared s2 root cannot be used.
  private val k2c = QueryDef(
    "k2c_retention_replication",
    (s, dir) => {
      import graft.sources.FileTopicLog
      import org.apache.spark.sql.expressions.Window
      val root = graft.SessionTemp.dir("graft_k2c_log_")
      val recs = materializedOnce(logRecords(s, dir)
        .withColumn("tp_half",
          (count(lit(1)).over(Window.partitionBy("topic", "partition")) / 2)
            .cast("long")), "graft_k2c_recs_")
      val topics = eventTopics(s, dir)
      // two staged halves: Spark's source-commit callback lags one batch,
      // so retention of batch 0 (the first halves) is only observable
      // after batch 1 has run — the phase-1 per-TP counts are the
      // deterministic floor the mid-run assert checks against
      val half1 = stageCounted(recs, col("offset") < col("tp_half"), root)
      FileTopicLog.setWhitelist(root, topics)
      val base = graft.SessionTemp.dir("graft_k2c_")
      val src = s.readStream.format("graft-topiclog")
        .option("path", root)
        .option("truncateOnCommit", "true")
        .load()
      val q = ReplicationPipeline.parquetSink(
          ReplicationPipeline.transform(src, k2Spec.copy(name = "k2c")),
          s"$base/out", s"$base/ckpt", availableNow = false)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
        .start()
      try {
        q.processAllAvailable()
        writeLog(recs.filter(col("offset") >= col("tp_half")), root)
        q.processAllAvailable()
        half1.foreach { case ((t, p), n) =>
          val b = FileTopicLog.startOffset(root, t, p)
          require(b >= n,
            s"retention must advance $t/$p base past the consumed prefix ($b < $n)")
        }
      } finally q.stop()
      replicatedByEventId(s, s"$base/out")
    },
    k2.oracle)

  // K2d — MULTI-CONSUMER RETENTION GOVERNANCE (round 13): a truncating
  // fast replica (`truncateOnCommit` + groupId "fast") and a
  // LATE-STARTING slow consumer (groupId "slow", registered before the
  // fast query ever commits) share one log. The oracle gates the SLOW
  // query's sink: it must deliver the k2 transform chain's complete
  // result even though the fast query consumed everything first and
  // retention ran ahead of the slow checkpoint — the reference's
  // min-across-ZK-group-offsets model
  // (`W/ZookeeperCheckpointManager.java:73-130`). Mid-run requires pin
  // the governance mechanics: (1) while the slow group has no recorded
  // position the base stays 0 (full block); (2) after the slow group
  // records progress the base really advances (retention is live, not
  // disabled) and never exceeds the slow group's recorded position.
  // Stages are thirds so both queries see multiple batches (a source
  // commit lands one batch late — stage N's commit fires while the
  // stage-N+1 batch is constructed).
  private val k2d = QueryDef(
    "k2d_group_retention",
    (s, dir) => {
      import graft.sources.FileTopicLog
      val root = graft.SessionTemp.dir("graft_k2d_log_")
      val recs = recordsInThirds(s, dir, "graft_k2d_recs_")
      val topics = eventTopics(s, dir)
      val stageA = stageCounted(recs, col("offset") < col("t1"), root)
      FileTopicLog.setWhitelist(root, topics)
      FileTopicLog.registerGroup(root, "slow")
      val base = graft.SessionTemp.dir("graft_k2d_")
      val fastSrc = s.readStream.format("graft-topiclog")
        .option("path", root)
        .option("truncateOnCommit", "true")
        .option("groupId", "fast")
        .load()
      val fast = fastSrc
        .select(col("key"), col("value"), col("topic"), col("partition"),
          col("offset"))
        .writeStream.format("parquet")
        .option("path", s"$base/fastOut")
        .option("checkpointLocation", s"$base/fastCkpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
        .start()
      try {
        fast.processAllAvailable()
        writeLog(recs.filter(col("offset") >= col("t1") &&
          col("offset") < col("t2")), root)
        fast.processAllAvailable() // stage-A commit fired → wants to cut
        require(topics.forall(t => FileTopicLog.partitionsOf(root, t)
            .forall(p => FileTopicLog.startOffset(root, t, p) == 0L)),
          "a registered group with no committed position must block retention")
        val slowSrc = s.readStream.format("graft-topiclog")
          .option("path", root)
          .option("groupId", "slow")
          .load()
        val slow = ReplicationPipeline.parquetSink(
            ReplicationPipeline.transform(slowSrc, k2Spec.copy(name = "k2d")),
            s"$base/out", s"$base/ckpt", availableNow = false)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
          .start()
        try {
          slow.processAllAvailable() // reads stages A+B from offset 0
          writeLog(recs.filter(col("offset") >= col("t2")), root)
          slow.processAllAvailable() // stage-C batch commits the A+B position
          fast.processAllAvailable() // stage-B commit → cut to min(own, slow)
          // both queries pick up stage C on independent 25 ms triggers,
          // so the fast query's cut can race the slow group's position
          // commit by a tick or two
          awaitLogBases(root, stageA)
          // on a timeout the interesting question is WHICH link stalled:
          // the slow group's position publish, the fast cut, or a dead
          // query — put all three in the failure message
          def health = s"fastActive=${fast.isActive} fastEx=${fast.exception} " +
            s"slowActive=${slow.isActive} slowEx=${slow.exception} " +
            s"groups=${groupState(root)}"
          stageA.foreach { case ((t, p), n) =>
            val b = FileTopicLog.startOffset(root, t, p)
            val slowRec = FileTopicLog.groupPositions(root, "slow")
              .getOrElse(t, Map.empty[Int, Long]).getOrElse(p, 0L)
            require(b >= n,
              s"retention must advance $t/$p past stage A ($b < $n); $health")
            require(b <= slowRec,
              s"base must never outrun the slow group at $t/$p ($b > $slowRec)")
          }
        } finally slow.stop()
      } finally fast.stop()
      replicatedByEventId(s, s"$base/out")
    },
    k2.oracle)

  // K2e — GROUP-EXPIRY GOVERNANCE under the oracle: k2d proved a
  // registered group PINS retention; this proves the policy loop
  // RELEASES an abandoned pin without costing the pipeline a record.
  // One truncating replication pipeline (groupId "fast") runs against
  // a log where a second group registered and went silent — the
  // operator-forgot-to-unregister case. Phases: (1) with the abandoned
  // group registered, a commit that wants to cut is blocked at base 0;
  // (2) the group's liveness stamp ages past the TTL (mtime backdate —
  // the same signal a real idle group shows) and one
  // [[GroupExpiryService]] pass expires exactly it; (3) the next
  // commits advance retention past the previously-pinned records. The
  // pipeline's replicated output then faces the same full-relation
  // hash gate as k2: expiry released storage without reordering,
  // duplicating, or dropping anything. Expiry-vs-live-commit atomicity
  // is the group lock's job (GroupExpiryServiceSpec); here the policy
  // loop is exercised against a RUNNING query under the oracle.
  private val k2e = QueryDef(
    "k2e_group_expiry",
    (s, dir) => {
      import graft.sources.FileTopicLog
      val root = graft.SessionTemp.dir("graft_k2e_log_")
      val recs = recordsInThirds(s, dir, "graft_k2e_recs_")
      val topics = eventTopics(s, dir)
      val stageA = stageCounted(recs, col("offset") < col("t1"), root)
      FileTopicLog.setWhitelist(root, topics)
      FileTopicLog.registerGroup(root, "abandoned")
      val base = graft.SessionTemp.dir("graft_k2e_")
      val src = s.readStream.format("graft-topiclog")
        .option("path", root)
        .option("truncateOnCommit", "true")
        .option("groupId", "fast")
        .load()
      val q = ReplicationPipeline.parquetSink(
          ReplicationPipeline.transform(src, k2Spec.copy(name = "k2e")),
          s"$base/out", s"$base/ckpt", availableNow = false)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("25 milliseconds"))
        .start()
      try {
        q.processAllAvailable()
        writeLog(recs.filter(col("offset") >= col("t1") &&
          col("offset") < col("t2")), root)
        q.processAllAvailable() // stage-A commit fired → wants to cut
        require(topics.forall(t => FileTopicLog.partitionsOf(root, t)
            .forall(p => FileTopicLog.startOffset(root, t, p) == 0L)),
          "the abandoned group must block retention until expired")
        // the group goes idle past the TTL (liveness is the group
        // file's mtime; backdating it is exactly the stamp a real
        // abandoned group shows after ttl of silence)
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(root, "_groups", "abandoned.json"),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 120000L))
        val expired = new graft.streaming.GroupExpiryService(root,
          ttlMillis = 60000L).expireOnce()
        require(expired == Seq("abandoned"),
          s"exactly the idle group must expire (got $expired); " +
            "the live query's own group never ages while committing")
        // the cut runs at each batch's source commit, so the release
        // shows at the commit AFTER the next data lands — write stage
        // C, drain, and wait for the bases
        writeLog(recs.filter(col("offset") >= col("t2")), root)
        q.processAllAvailable()
        awaitLogBases(root, stageA)
        stageA.foreach { case ((t, p), n) =>
          require(FileTopicLog.startOffset(root, t, p) >= n,
            s"retention must advance past the released pin at $t/$p; " +
              s"qActive=${q.isActive} qEx=${q.exception} groups=${groupState(root)}")
        }
      } finally q.stop()
      replicatedByEventId(s, s"$base/out")
    },
    k2.oracle)

  val defs: Seq[QueryDef] =
    Seq(k2, s2, s2b, k2b, k2c, k2d, k2e, e3, d7, d8, d12, d13, d14, d18, d19,
      d20, p17d, p17f, d21, p21,
      e4,
      e6, e7)
}

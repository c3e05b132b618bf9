package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of the d16/d17 span wing's BUILD side: a
  * continuously-arriving document stream maintains a PERSISTENT
  * cross-document repeated-span census (the Lee et al. 2022
  * exact-substring-dedup primitive) across micro-batches AND
  * crash/restart — on plain parquet, no transactional table format,
  * the [[IncrementalDedup]] layout discipline applied to ADDITIVE
  * state.
  *
  * Census partials are per-batch (span_h, n_docs, n_occurrences)
  * aggregates; because every document arrives in exactly one batch,
  * both counts are ADDITIVE across batches — the merged census is a
  * sum, never a distinct-merge. That additivity changes the
  * crash-safety contract vs the dedup index:
  *  - per-batch partitions (`census/batch=<id>`, overwrite) stay
  *    idempotent under checkpoint replay exactly like
  *    [[IncrementalDedup]] (same batch id ⇒ same file set ⇒ same
  *    partial, overwritten in place);
  *  - compaction commits through [[StateCommit]] (publish, then
  *    sweep) like the dedup index, but its reads CANNOT tolerate
  *    duplicates (a crash between publish and sweep would leave rows
  *    counted TWICE). Instead [[AdditiveBatchState]]'s READER enforces a
  *    preference rule: the partitions the highest `compacted=<n>` hides
  *    are invisible — so publishing the merged partition IS the commit
  *    point, and every failpoint leaves the visible census exactly
  *    correct, never a superset.
  *
  * At 100 TB the per-batch partial is batch-span-vocabulary-sized
  * (map-side partials absorb within-batch repeats); the merged census
  * read is one sum over the visible partitions; [[run]] compacts on a
  * cadence so the partition count stays bounded over a long-lived
  * stream.
  *
  * The partials ALSO carry each span's first occurrence — min over
  * (doc_id, pos) structs, which merges across batches exactly like the
  * sums (min of per-batch mins; the position comes from the
  * position-carrying `span_hashes_pos` kernel). That makes the
  * maintained census a full [[graft.operators.Dedup
  * .spanCensusWithFirst]] relation, so the stream's output is a
  * CONSUMED input, not just the d16 diagnostic: [[censusWithFirst]]
  * feeds [[graft.operators.Dedup.spanDedupCorpus]] directly (the d19
  * composition — run the keep-first action pass over the accumulated
  * corpus on whatever cadence the pipeline wants, [[dedupAccumulated]]).
  * [[census]] still projects the counts-only d16 shape. */
object IncrementalSpanCensus {

  def run(s: SparkSession, docsDir: String, workDir: String,
      spanTokens: Int = 8, failAtBatch: Option[Long] = None,
      compactEvery: Int = 16): Unit =
    BatchStreamRunner.run(s, docsDir, workDir, "documents*.parquet",
      (batch, id) => runBatch(batch, id, workDir, spanTokens),
      (ss, upTo) => compact(ss, workDir, upTo),
      failAtBatch, compactEvery)

  private[streaming] def runBatch(batch: DataFrame, id: Long,
      workDir: String, spanTokens: Int): Unit =
    batch
      .select(col("doc_id"), explode_outer(
        expr(s"span_hashes_pos(text, $spanTokens, 1L)")).as("w"))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), col("w").getField("pos").as("pos"),
        col("w").getField("h").as("span_h"))
      .groupBy("span_h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .write.mode("overwrite").parquet(s"$workDir/census/batch=$id")

  /** The merged census: (span_h, n_docs, n_occurrences) over every
    * document streamed so far, spans occurring ≥ `minCount` times —
    * the counts-only d16 shape (the `first` column is projected away
    * before the merge). */
  def census(s: SparkSession, workDir: String,
      minCount: Long = 2L): DataFrame =
    merged(s, workDir)
      .filter(col("n_occurrences") >= minCount)
      .select("span_h", "n_docs", "n_occurrences")

  /** The merged census WITH each span's first occurrence — the
    * [[graft.operators.Dedup.spanCensusWithFirst]] relation, built
    * incrementally: (span_h, n_docs, n_occurrences, first_doc,
    * first_pos). min(first) merges across partials exactly like the
    * sums. */
  def censusWithFirst(s: SparkSession, workDir: String,
      minCount: Long = 2L): DataFrame =
    merged(s, workDir)
      .filter(col("n_occurrences") >= minCount)
      .select(col("span_h"), col("n_docs"), col("n_occurrences"),
        col("first").getField("doc_id").as("first_doc"),
        col("first").getField("pos").as("first_pos"))

  /** THE census merge — the one place that knows how partials combine
    * (counts are additive, the keeper is the min (doc_id, pos) struct).
    * Both the read path ([[merged]]) and [[compact]] go through here:
    * when a partial gains a column, this is the single edit point —
    * split, a column added to one site and not the other would
    * silently corrupt everything older than the compaction horizon. */
  private def mergeAgg(partials: DataFrame): DataFrame =
    partials.groupBy("span_h")
      .agg(sum("n_docs").as("n_docs"),
        sum("n_occurrences").as("n_occurrences"),
        min("first").as("first"))

  private def merged(s: SparkSession, workDir: String): DataFrame =
    AdditiveBatchState.merged(s, new Path(s"$workDir/census"), mergeAgg)

  /** The d19 composition: the keep-first action pass
    * ([[graft.operators.Dedup.spanDedupCorpus]]) over the documents
    * accumulated so far, consuming the INCREMENTALLY-maintained
    * census — identical output to rebuilding the census from scratch
    * (the merged partials ARE the batch census; spec-pinned), so a
    * pipeline can emit a deduplicated snapshot on any cadence without
    * ever re-scanning history for the census side. */
  def dedupAccumulated(s: SparkSession, workDir: String,
      corpus: DataFrame, spanTokens: Int = 8): DataFrame =
    graft.operators.Dedup.spanDedupCorpus(corpus,
      censusWithFirst(s, workDir), spanTokens)

  /** Sum-merge every visible partition with id ≤ `upToBatch` into ONE
    * `compacted=<upToBatch>` partition, then sweep the sources.
    * Crash-safe by [[StateCommit]]'s publish + the reader's preference
    * rule (see object Scaladoc): the publish IS the commit — before it
    * the tmp is `_`-invisible, after it every source with id ≤
    * upToBatch is reader-invisible whether or not the sweep completed.
    * A re-run that finds the target published skips the merge and
    * finishes the sweep. `failpoint` injects test crashes.
    *
    * The merged partition is hash-partitioned and sorted on `span_h`
    * into `max(n, defaultParallelism)` files, n scaled to the source
    * partitions' bytes ([[AdditiveBatchState.compact]]): the partials
    * keep EVERY span (the ≥ minCount filter is read-side — a later
    * occurrence can lift a count), so the merged census approaches the
    * corpus's distinct span count and must be written as wide as the
    * data, never through one task. That width also keeps each
    * emission's census probe ([[censusForSpans]]) a full-width scan.
    * Clustering by span_h means the NEXT compaction's merge of this
    * partition shuffles rows that are already co-located. */
  def compact(s: SparkSession, workDir: String, upToBatch: Long,
      failpoint: Failpoint = Failpoint.Off,
      targetFileBytes: Long = BatchedParquetIndex.DefaultTargetFileBytes): Unit =
    AdditiveBatchState.compact(s, new Path(s"$workDir/census"), upToBatch,
      mergeAgg, keyCols = Seq("span_h"), targetFileBytes = targetFileBytes,
      failpoint = failpoint)

  // ---- bounded-cost emission: delta rewrites under monotone arrival ----
  //
  // [[dedupAccumulated]] rewrites the full accumulated corpus per
  // emission — exact under ANY arrival order, but linear in the corpus
  // per emission: at an hourly cadence over 100 TB the re-rewrite of
  // history is the dominant recurring cost (the same observation that
  // produced [[IncrementalDsir]]'s frozen-epoch emission). The span
  // wing admits a STRONGER fix than DSIR's, with no epochs at all,
  // because keep-first by (doc_id, pos) is MONOTONE under
  // doc_id-ordered arrival: a doc D's rewrite drops a span occurrence
  // iff some occurrence with a smaller (doc_id, pos) exists in the
  // FULL corpus, and once every doc_id below D's has reached the
  // census, later arrivals can only ADD occurrences with LARGER ids —
  // the census min never moves below anything that decides D. So D's
  // rewrite against the census as of any batch ≥ D's own is already
  // its final full-corpus rewrite (count thresholds are monotone too:
  // a span D keeps as its first occurrence stays kept however large
  // its count grows). The bounded emission therefore rewrites ONLY the
  // docs that arrived since the last emission ([[emitNewDocs]]) and
  // appends them to a durable emitted-corpus state
  // (`emitted/batch=<censusBoundary>`, overwrite — a crashed emission
  // re-runs with the same delta and heals in place); [[emittedCorpus]]
  // is the union, row-identical to [[dedupAccumulated]] over the same
  // docs (spec-pinned).
  //
  // The census side is delta-restricted too: a delta doc can only be
  // cut on spans IT CONTAINS, and a per-row key filter commutes with
  // the key-grouped merge, so filtering the state partials to the
  // delta's own span set before merging yields exact counts and
  // firsts for every span that matters. The filter is a bloom of the
  // delta's spans probed inside the state scan (false positives are
  // removed by an exact semi join after the merge), so the emission
  // SHUFFLES and MATERIALIZES only delta-sized census rows — the
  // remaining census-sized term is one columnar scan of the state,
  // with no shuffle, no wide write, and no corpus text. Per-emission
  // cost therefore scales with the delta plus one state scan — never
  // the accumulated corpus rewrite the d19 path pays.
  //
  // The monotonicity precondition is validated LOUDLY: each delta's
  // min doc_id must exceed the emitted watermark (the max doc_id of
  // the latest emission — monotone emissions make the latest
  // partition's max the global max, so the check reads ONE delta-sized
  // partition, not the accumulated state). A violated precondition
  // throws instead of silently emitting a rewrite the full-corpus
  // oracle would contradict; non-monotone pipelines keep
  // [[dedupAccumulated]].

  private def emittedRoot(workDir: String) = new Path(s"$workDir/emitted")

  /** (id, path) of every emitted partition, ascending by id. */
  private def emittedParts(s: SparkSession,
      workDir: String): Seq[(Long, Path)] = {
    val root = emittedRoot(workDir)
    StateCommit.parts(root.getFileSystem(s.sparkContext.hadoopConfiguration),
      root).map(p => (p.id, p.path))
  }

  /** True when an emitted partition finished its parquet job commit:
    * the committer's `_SUCCESS` marker is the completion record (the
    * default local/HDFS committer writes it atomically after every
    * task's output is moved in). A partition without it is a crashed
    * attempt — its rows may be a partial subset of its delta, so its
    * max doc_id UNDERSTATES the watermark and it must never be trusted
    * as a complete emission. */
  private def committed(s: SparkSession, p: Path): Boolean =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(new Path(p, "_SUCCESS"))

  /** Rewrite ONLY `newDocs` — the docs that arrived since the last
    * emission, all already absorbed into the census (run [[run]] over
    * them first) — against the incrementally-maintained census, and
    * append them to the emitted-corpus state. Exact under
    * doc_id-monotone arrival (see the section comment; validated
    * loudly). Idempotent: a crashed emission re-runs with the same
    * delta and overwrites its own partition — a COMMITTED partition at
    * the boundary is overwritten only when it holds exactly this
    * delta's doc_id range (a genuine crash re-run does; a second,
    * different delta emitted at the same boundary would otherwise be
    * silently discarded by the overwrite, so it throws: advance the
    * census first, or emit the union). An empty delta is a no-op.
    *
    * CONFIG REQUIREMENT: completeness of a prior emission is read from
    * the committer's `_SUCCESS` marker, so
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs` must stay
    * enabled (its default). On clusters that disable it every
    * successfully committed prior emission would look crashed and the
    * stream could never advance — checked loudly at entry instead of
    * failing one emission later with a misleading "crashed mid-write".
    *
    * Cost shape: TWO delta scans total — the span materialization
    * (which also carries the delta's (min, max, count) bounds as
    * observed metrics, so the monotonicity guards cost no scan of
    * their own) and the rewrite pass — plus the bloom-probed census
    * state read ([[censusForDelta]]). */
  def emitNewDocs(s: SparkSession, workDir: String, newDocs: DataFrame,
      spanTokens: Int = 8): Unit = {
    require(s.sparkContext.hadoopConfiguration.getBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true),
      "mapreduce.fileoutputcommitter.marksuccessfuljobs is disabled — " +
        "the bounded emission reads each prior emission's completeness " +
        "from its _SUCCESS marker and would treat every committed " +
        "partition as a crashed attempt; re-enable the marker (default) " +
        "to use emitNewDocs")
    val boundary = AdditiveBatchState.maxVisibleId(s,
      new Path(s"$workDir/census"))
    require(boundary >= 0,
      s"no census state under $workDir — run the stream before emitting")
    // ONE delta scan feeds both the distinct-span materialization and
    // the monotonicity bounds (observed metrics ride the same pass)
    val obs = org.apache.spark.sql.Observation()
    val spansTmp = graft.SessionTemp.dir("graft_emit_spans_")
    val boundCols = Seq(min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"), count(lit(1)).as("n"))
    newDocs
      .observe(obs, boundCols.head, boundCols.tail: _*)
      .select(explode_outer(
        expr(s"span_hashes(text, $spanTokens, 1L)")).as("span_h"))
      .filter(col("span_h").isNotNull).distinct()
      .write.mode("overwrite").parquet(spansTmp)
    // the observed metrics come back empty when no span survives (every
    // delta doc shorter than the span width) — read the bounds with one
    // more delta scan in that case only
    val bounds = Some(obs.get).filter(_.nonEmpty).getOrElse(
      newDocs.agg(boundCols.head, boundCols.tail: _*).collect()(0)
        .getValuesMap[Any](Seq("min_id", "max_id", "n")))
    if (bounds("n").asInstanceOf[Long] == 0L) return
    val minNew = bounds("min_id").asInstanceOf[Long]
    val maxNew = bounds("max_id").asInstanceOf[Long]
    val parts = emittedParts(s, workDir)
    // a partition AT the boundary is a prior attempt of THIS emission
    // (the census did not advance) — the overwrite below heals it; the
    // watermark comes from the emissions strictly before it
    val prior = parts.filter(_._1 != boundary)
    require(prior.forall(_._1 < boundary),
      s"emitted state holds partitions beyond census boundary $boundary" +
        s" (${prior.map(_._1).filter(_ > boundary).mkString(",")}) — " +
        "the census state regressed; rebuild before emitting")
    prior.lastOption.foreach { case (lastId, lastPath) =>
      require(committed(s, lastPath),
        s"emitted partition batch=$lastId has no _SUCCESS marker — a " +
          "prior emission crashed mid-write and its rows may be partial; " +
          "re-run it with its own delta before advancing")
      val wmRow = s.read.parquet(lastPath.toString)
        .agg(max(col("doc_id")), count(lit(1))).collect()(0)
      require(wmRow.getLong(1) > 0L,
        s"emitted partition batch=$lastId is empty — a prior emission " +
          "crashed mid-write; re-run it with its own delta before advancing")
      val wm = wmRow.getLong(0)
      require(minNew > wm,
        s"non-monotone arrival: delta min doc_id $minNew ≤ emitted " +
          s"watermark $wm — the bounded emission's keep-first finality " +
          "needs doc_id-ordered arrival; use dedupAccumulated")
    }
    // a COMMITTED partition already at the boundary: a genuine crash
    // re-run holds the identical delta (same doc_id range); anything
    // else is a SECOND delta at one boundary (two emitNewDocs calls
    // without a census advance between them) and the overwrite would
    // silently discard the first — throw instead. An UNcommitted
    // boundary partition is a crashed attempt; the overwrite heals it.
    parts.find(_._1 == boundary)
      .filter { case (_, p) => committed(s, p) }
      .foreach { case (_, p) =>
        val r = s.read.parquet(p.toString)
          .agg(min(col("doc_id")), max(col("doc_id")), count(lit(1)))
          .collect()(0)
        require(r.getLong(2) > 0L && r.getLong(0) == minNew &&
            r.getLong(1) == maxNew,
          s"emitted partition batch=$boundary already holds a committed " +
            s"emission of docs [${if (r.getLong(2) > 0L) s"${r.getLong(0)},${r.getLong(1)}" else "∅"}] " +
            s"but this delta is [$minNew,$maxNew] — two different deltas " +
            "at one census boundary; advance the census (run) before " +
            "emitting again, or emit their union as one delta")
      }
    graft.operators.Dedup.spanDedupCorpus(newDocs,
        censusForSpans(s, workDir, s.read.parquet(spansTmp),
          parquetRowCount(s, spansTmp)), spanTokens)
      .write.mode("overwrite")
      .parquet(new Path(emittedRoot(workDir), s"batch=$boundary").toString)
  }

  /** Exact row count of a just-written parquet directory from its file
    * FOOTERS — a driver-side metadata read, no Spark job. The emission
    * needs its distinct-span count twice (the empty-delta gate and the
    * bloom sizing); re-counting the relation with `count()` costs a
    * spans-relation scan per emission that the footers already paid
    * for at write time. */
  private def parquetRowCount(s: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val conf = s.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromStatus(st, conf))
        try r.getRecordCount
        finally r.close()
      }.sum
  }

  /** [[censusWithFirst]] restricted to the DELTA'S OWN span set — see
    * the section comment: the key filter commutes with the key-grouped
    * merge, so the surviving rows are exact, and the bloom-inside-the-
    * scan keeps non-matching state rows out of the merge shuffle
    * (the exact semi join after the merge removes the fpp trickle). */
  private[streaming] def censusForDelta(s: SparkSession, workDir: String,
      newDocs: DataFrame, spanTokens: Int): DataFrame = {
    // materialize the delta's distinct spans once — consumed by the
    // bloom build and the exact semi join (delta-sized by definition)
    val spansTmp = graft.SessionTemp.dir("graft_emit_spans_")
    newDocs.select(explode_outer(
        expr(s"span_hashes(text, $spanTokens, 1L)")).as("span_h"))
      .filter(col("span_h").isNotNull).distinct()
      .write.mode("overwrite").parquet(spansTmp)
    censusForSpans(s, workDir, s.read.parquet(spansTmp),
      parquetRowCount(s, spansTmp))
  }

  /** [[censusForDelta]] over an ALREADY-MATERIALIZED distinct-span
    * relation (`spans(span_h)`, session-temp parquet) of `nSpans` rows
    * — the entry point [[emitNewDocs]] uses so its own span
    * materialization pass is not repeated. Every visible partial is
    * bloom-probed in one plain union; the exact semi join after the
    * merge removes the bloom's false positives. */
  private def censusForSpans(s: SparkSession, workDir: String,
      spans: DataFrame, nSpans: Long): DataFrame = {
    import graft.operators.Dedup.spanKey
    if (nSpans == 0L)
      // every delta doc is shorter than the span width — nothing can
      // be cut; hand the rewrite an empty, correctly-typed census
      return s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "span_h STRING, n_docs BIGINT, n_occurrences BIGINT, " +
            "first_doc BIGINT, first_pos INT"))
    val bf = spans.stat.bloomFilter(spanKey(col("span_h")), nSpans, 0.001)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val partials = AdditiveBatchState
      .visibleUnion(s, new Path(s"$workDir/census"))
      .filter(call_function(
        "bloom_contains", lit(bos.toByteArray), spanKey(col("span_h"))))
    mergeAgg(partials)
      .filter(col("n_occurrences") >= 2L)
      .join(spans, Seq("span_h"), "left_semi")
      .select(col("span_h"), col("n_docs"), col("n_occurrences"),
        col("first").getField("doc_id").as("first_doc"),
        col("first").getField("pos").as("first_pos"))
  }

  /** The emitted deduplicated corpus — the union of every emission's
    * partition: (doc_id, n_tokens, n_kept, kept_text), row-identical
    * to [[dedupAccumulated]] over the same docs under the monotone-
    * arrival contract (spec-pinned). Partition count equals the number
    * of emissions — caller-cadence-bounded by construction, so no
    * compaction is maintained for this state. */
  def emittedCorpus(s: SparkSession, workDir: String): DataFrame = {
    val parts = emittedParts(s, workDir)
    require(parts.nonEmpty, s"no emitted state under $workDir")
    s.read.parquet(parts.map(_._2.toString): _*)
  }
}

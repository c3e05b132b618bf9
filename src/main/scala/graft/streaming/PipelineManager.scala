package graft.streaming

import graft.model.PipelineSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.concurrent.TrieMap

/**
 * Driver-side control plane: the reference's Controller + Manager layers
 * (SURVEY.md §3.2–3.3) collapsed into a query-per-route lifecycle manager.
 *
 *  - add/delete topic (reference F1/F2,
 *    `controller/rest/resources/TopicManagementRestletResource.java:113-252`)
 *    become spec updates + controlled query restart — Spark's substitute
 *    for in-flight assignment mutation (reference S2).
 *  - status (reference V1,
 *    `controller/core/TopicAssignmentViewBuilder.java:34`) is a JSON view
 *    over the live queries' progress.
 *  - failure replacement (reference O7) is `restart(name)` — the
 *    checkpoint resumes offsets, so semantics match the reference's
 *    offline→online transition.
 *
 * Scale: state here is one map entry + one StreamingQuery handle per route;
 * all data-plane work stays inside Spark's scheduler.
 */
final class PipelineManager(spark: SparkSession) {

  private val specs = TrieMap.empty[String, PipelineSpec]
  private val queries = TrieMap.empty[String, StreamingQuery]
  private val starters = TrieMap.empty[String, PipelineSpec => StreamingQuery]
  private val idToName = TrieMap.empty[java.util.UUID, String]

  /** Register + start a pipeline. `starter` builds the query from the spec
    * (file- or kafka-backed), so restarts re-resolve sources.
    *
    * Lifecycle methods are synchronized: a supervisor failure-restart and
    * a whitelister update can race on the same route, and an unsynced
    * double-restart would either throw (same checkpoint id active) or
    * silently drop the newer spec. Driver-side, low-frequency — a single
    * lock is the right tool. */
  def start(spec: PipelineSpec)(starter: PipelineSpec => StreamingQuery): StreamingQuery = synchronized {
    require(!queries.contains(spec.name), s"pipeline ${spec.name} already running")
    specs.put(spec.name, spec)
    starters.put(spec.name, starter)
    val q = starter(spec)
    queries.put(spec.name, q)
    idToName.put(q.id, spec.name)
    q
  }

  /** Pipeline name for a streaming query id ([[RouteSupervisor]] uses this
    * to route termination events back to a restartable pipeline). */
  def nameOf(queryId: java.util.UUID): Option[String] = idToName.get(queryId)

  /** Stop a pipeline, keeping its spec for restart. The query-id mapping
    * is evicted so a stale id can never route a later termination event
    * back to this (now healthy or replaced) pipeline. */
  def stop(name: String): Unit = synchronized {
    queries.remove(name).foreach { q =>
      q.stop()
      idToName.remove(q.id)
    }
  }

  /** Stop + start with the current spec (offsets resume from checkpoint). */
  def restart(name: String): Option[StreamingQuery] = synchronized {
    stop(name)
    for (spec <- specs.get(name); st <- starters.get(name)) yield {
      val q = st(spec)
      queries.put(name, q)
      idToName.put(q.id, name)
      q
    }
  }

  /** Update the spec (e.g. topic add/remove — reference F1/F2) and restart
    * so the new topic set takes effect. */
  def update(spec: PipelineSpec): Option[StreamingQuery] = synchronized {
    specs.put(spec.name, spec)
    if (queries.contains(spec.name)) restart(spec.name) else None
  }

  /** Compare-and-swap spec update: applies `next` ONLY if the registered
    * spec is still `expected`. Callers that compute a new spec from a
    * snapshot while running Spark jobs (auto-whitelister passes, admin
    * commands) must use this instead of [[update]] — a plain update would
    * silently overwrite any add/delete that interleaved with the slow
    * computation (resurrecting deleted topics or dropping added ones).
    * Returns false when the spec moved; the caller re-reads and retries. */
  def updateIfCurrent(expected: PipelineSpec, next: PipelineSpec): Boolean = synchronized {
    require(expected.name == next.name, "CAS must keep the pipeline name")
    if (!specs.get(expected.name).contains(expected)) false
    else { update(next); true }
  }

  /** CAS spec update applied IN FLIGHT for a pipeline reading the
    * dynamic source ([[graft.sources.DynamicTopicLogProvider]]): the new
    * topic set is written to the log's whitelist control file, which the
    * RUNNING query observes at its next micro-batch — the reference's
    * true S2 semantics (`worker/ConsumerFetcherThread.java:183-240`),
    * no restart, no checkpoint churn. Same CAS contract as
    * [[updateIfCurrent]]. */
  def updateIfCurrentInFlight(expected: PipelineSpec, next: PipelineSpec,
      topicLogRoot: String): Boolean = synchronized {
    require(expected.name == next.name, "CAS must keep the pipeline name")
    if (!specs.get(expected.name).contains(expected)) false
    else {
      specs.put(next.name, next)
      graft.sources.FileTopicLog.setWhitelist(topicLogRoot, next.topics)
      true
    }
  }

  def spec(name: String): Option[PipelineSpec] = specs.get(name)
  def allSpecs: Seq[PipelineSpec] = specs.values.toSeq.sortBy(_.name)
  def query(name: String): Option[StreamingQuery] = queries.get(name)
  def running: Seq[String] = queries.keys.toSeq.sorted

  /** Wait for all running availableNow pipelines to drain. A restart
    * (supervisor, whitelister) can replace a route's handle while we
    * wait: the stopped handle's wait returns normally, so the registered
    * handles are re-read under the lock after each wait, until every
    * route's current handle has terminated. */
  def awaitAll(): Unit = {
    var pending = synchronized(queries.values.toSeq)
    while (pending.nonEmpty) {
      pending.foreach(_.awaitTermination())
      pending = synchronized(queries.values.filter(_.isActive).toSeq)
    }
  }

  /** V1-style status view: one JSON object per pipeline. */
  def statusJson: String = {
    val entries = specs.keys.toSeq.sorted.map { name =>
      val active = queries.get(name).exists(_.isActive)
      val progress = queries.get(name).flatMap(q => Option(q.lastProgress))
      val rows = progress.map(_.numInputRows).getOrElse(0L)
      val batch = progress.map(_.batchId).getOrElse(-1L)
      s"""{"name":${PipelineManager.jsonEscape(name)},"active":$active,""" +
        s""""lastBatchId":$batch,"lastNumInputRows":$rows}"""
    }
    entries.mkString("[", ",", "]")
  }

  /** V2 input — the registered specs as JSON (name, route, topic set),
    * the assignment-side half of the reference's backup
    * (`controller/core/ClusterInfoBackupManager.java:90-143`). */
  def specsJson: String = {
    import PipelineManager.jsonEscape
    specs.toSeq.sortBy(_._1).map { case (name, sp) =>
      s"""{"name":${jsonEscape(name)},"route":${jsonEscape(sp.route.render)},""" +
        s""""topics":[${sp.topics.map(jsonEscape).mkString(",")}]}"""
    }.mkString("[", ",", "]")
  }

  def shutdown(): Unit = {
    queries.keys.toSeq.foreach(stop)
  }
}

object PipelineManager {
  /** JSON-escape a string value (quotes, backslashes, control chars). */
  private[graft] def jsonEscape(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

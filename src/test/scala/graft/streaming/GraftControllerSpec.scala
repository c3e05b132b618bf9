package graft.streaming

import graft.SparkTestSession
import graft.model.{PipelineSpec, Route}
import graft.sources.TopicCatalogObserver
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composite control plane booted as one unit (reference
  * `ControllerStarter` → `ControllerInstance.start`): a real route under
  * the manager, service loops live, and the REST surface answering on a
  * port — the "switch the controller on" acceptance shape. */
class GraftControllerSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val client = HttpClient.newHttpClient()
  private def call(method: String, url: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.noBody()).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def records(topics: Seq[String]): DataFrame =
    (for (t <- topics; p <- 0 to 1; o <- 0 until 5)
      yield (s"k$o", s"v-$t-$p-$o", t, p, o.toLong))
      .toDF("k", "v", "topic", "partition", "offset")
      .select(col("k").cast("binary").as("key"),
        col("v").cast("binary").as("value"),
        col("topic"), col("partition"), col("offset"))

  test("boot, serve a route, answer REST, validate, back up, shut down") {
    val base = java.nio.file.Files.createTempDirectory("graft_ctrl_").toString
    records(Seq("click", "view")).write.parquet(s"$base/src")
    val view = Seq(("w1", "click", 0, "ONLINE"), ("w1", "click", 1, "ONLINE"))
      .toDF("instance", "topic", "partition", "state")
    // the destination shows `view` only once the click-only drain is
    // checked: the 1-s whitelister would otherwise add it to route-a
    // (and restart the route) while the drain is still running
    @volatile var dstHasView = false
    val ctrl = new GraftController(
      spark,
      srcObserver = TopicCatalogObserver.fromRecords(() =>
        spark.read.parquet(s"$base/src")),
      dstObserver = new TopicCatalogObserver(() =>
        (Seq(("click", 2)) ++ (if (dstHasView) Seq(("view", 2)) else Nil))
          .toDF("topic", "num_partitions")),
      idealView = () => view,
      externalView = () => view,
      backupDir = s"$base/backup")
    ctrl.start(whitelistPipeline = Some("route-a"),
      validationPeriodSeconds = 1, whitelistPeriodSeconds = 1,
      backupPeriodSeconds = 1)
    try {
      val baseUrl = s"http://127.0.0.1:${ctrl.boundPort}"
      assert(call("GET", s"$baseUrl/health") == (200, """{"status":"ok"}"""))

      // a real route under the composite's manager
      val spec = PipelineSpec(name = "route-a", route = Route("c1", "dst", 0),
        topics = Seq("click"), excludeTopicRegex = None,
        checkpointLocation = Some(s"$base/ckpt"))
      ctrl.manager.start(spec) { sp =>
        val schema = spark.read.parquet(s"$base/src").schema
        ReplicationPipeline.parquetSink(
          ReplicationPipeline.transform(
            ReplicationPipeline.fileSource(spark, s"$base/src", schema), sp),
          s"$base/out", sp.checkpointLocation.get).start()
      }
      ctrl.manager.awaitAll()
      // a failed route leaves an empty sink, and reading it fails with
      // an unrelated schema-inference error: name the route's own first
      val routeError = ctrl.manager.query("route-a").flatMap(_.exception)
      assert(routeError.isEmpty, s"route-a failed: $routeError")
      assert(spark.read.parquet(s"$base/out").count() == 10) // click only
      dstHasView = true

      // REST mutation flows into the manager's spec (CAS path)
      val (sc, _) = call("POST", s"$baseUrl/topics?pipeline=route-a&topic=extra")
      assert(sc == 200)
      assert(ctrl.manager.spec("route-a").get.topics.contains("extra"))

      // the 1-s service loops come around: validation counters exported,
      // the whitelister adds the observed dst topic, a backup dump lands
      val deadline = System.currentTimeMillis() + 30000
      def until(cond: => Boolean): Unit =
        while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
      until(call("GET", s"$baseUrl/validation")._2.contains(""""validated":true"""))
      assert(call("GET", s"$baseUrl/validation")._2
        .contains(""""numServingTopics":1"""))
      until(ctrl.manager.spec("route-a").exists(_.topics.contains("view")))
      assert(ctrl.manager.spec("route-a").get.topics.contains("view"))
      until(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/backup")) &&
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/backup"))
          .findFirst().isPresent)
      val dumps = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$base/backup")).toArray
      assert(dumps.nonEmpty)

      assert(call("GET", s"$baseUrl/admin/autobalancing_status")._2
        .contains("true"))
    } finally ctrl.stop()
    // idempotent: a second stop (post-shutdown) must not throw
    ctrl.stop()
  }

  test("the wired group-expiry loop releases an abandoned pin, leader-gated") {
    import graft.sources.FileTopicLog
    val base = java.nio.file.Files.createTempDirectory("graft_ctrl_exp_").toString
    records(Seq("click")).write.parquet(s"$base/src")
    val root = s"$base/log"
    FileTopicLog.registerGroup(root, "dead")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "_groups", "dead.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000L))
    @volatile var leader = false
    val view = Seq(("w1", "click", 0, "ONLINE"))
      .toDF("instance", "topic", "partition", "state")
    val ctrl = new GraftController(
      spark,
      srcObserver = TopicCatalogObserver.fromRecords(() =>
        spark.read.parquet(s"$base/src")),
      dstObserver = new TopicCatalogObserver(() =>
        Seq(("click", 2)).toDF("topic", "num_partitions")),
      idealView = () => view,
      externalView = () => view,
      backupDir = s"$base/backup",
      isLeader = () => leader,
      groupExpiry = Some((root, 1000L)))
    ctrl.start(validationPeriodSeconds = 3600, backupPeriodSeconds = 3600)
    try {
      // non-leader: the loop runs but applies nothing
      assert(ctrl.expiry.get.expireOnce().isEmpty)
      assert(FileTopicLog.groups(root) == Seq("dead"))
      leader = true
      // leader: the periodic loop (ttl/4-bounded cadence ≥ 1 s) expires
      val deadline = System.currentTimeMillis() + 15000L
      while (FileTopicLog.groups(root).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50L)
      assert(FileTopicLog.groups(root).isEmpty,
        "leadership gained → the wired loop expires the abandoned group")
      // the admin surface is wired to the same root + expiry service:
      // /groups reflects the expiry counter and DELETE is leader-gated.
      // Run the read + non-leader phases with leadership DROPPED so the
      // live 1-s expiry loop cannot race the assertions; re-gain the
      // lease only for the instant of the leader DELETE (freshly
      // registered group, well inside the TTL).
      leader = false
      FileTopicLog.registerGroup(root, "etl")
      val base2 = s"http://127.0.0.1:${ctrl.boundPort}"
      val cl = java.net.http.HttpClient.newHttpClient()
      def call(method: String, url: String) = {
        val resp = cl.send(java.net.http.HttpRequest
            .newBuilder(java.net.URI.create(url))
            .method(method, java.net.http.HttpRequest.BodyPublishers.noBody())
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      val (gc, gBody) = call("GET", s"$base2/groups")
      assert(gc == 200 && gBody.contains(""""group":"etl"""), gBody)
      assert(gBody.contains(""""expiredTotal":1"""), gBody)
      assert(call("DELETE", s"$base2/groups/etl")._1 == 400,
        "a non-leader controller refuses the data-loss action")
      assert(FileTopicLog.groups(root) == Seq("etl"))
      FileTopicLog.registerGroup(root, "etl") // refresh liveness stamp
      leader = true
      val (dc, _) = call("DELETE", s"$base2/groups/etl")
      assert(dc == 200 && FileTopicLog.groups(root).isEmpty)
    } finally ctrl.stop()
  }
}

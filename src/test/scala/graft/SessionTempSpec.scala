package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The session-temp lifecycle: every materialization site routes
  * through one shared root that the shutdown hook removes — no more
  * per-call `createTempDirectory` orphans accumulating in /tmp. */
class SessionTempSpec extends AnyFunSuite {

  test("dirs share one root; cleanup removes everything; next call recovers") {
    val a = Paths.get(SessionTemp.dir("spec_a_"))
    val b = Paths.get(SessionTemp.dir("spec_b_"))
    assert(Files.exists(a) && Files.exists(b))
    assert(a.getParent == b.getParent, "both scratch dirs under one root")
    val root = SessionTemp.rootOption.get
    assert(a.getParent == root)
    // a populated tree is removed recursively
    Files.writeString(a.resolve("part-0000.parquet"), "x")
    SessionTemp.cleanupNow()
    assert(!Files.exists(a) && !Files.exists(b) && !Files.exists(root))
    assert(SessionTemp.rootOption.isEmpty)
    // mid-run cleanup is safe: the next call recreates a fresh root
    val c = Paths.get(SessionTemp.dir("spec_c_"))
    assert(Files.exists(c))
    assert(c.getParent != root || Files.exists(c.getParent))
  }

  test("streaming entries stay correct across a mid-run cleanupNow") {
    val spark = SparkTestSession.spark
    def rows(name: String): Seq[String] =
      queries.Catalog.byName(name).fn(spark, SparkTestSession.sfDir)
        .collect().map(_.toString).toSeq
    val entries = Seq("k2_replication_pipeline", "d12_stream_incremental_dedup",
      "d3_minhash_lsh", "d6_dedup_keeplist")
    val before = entries.map(rows)
    val root = SessionTemp.rootOption.get
    SessionTemp.cleanupNow()
    // the cached fixture dirs under the removed root are rebuilt, and
    // every per-run dir lands under the new root
    val after = entries.map(rows)
    assert(after == before)
    assert(before.forall(_.nonEmpty))
    assert(!Files.exists(root), s"$root was recreated after cleanupNow")
  }

  test("cleanupNow is idempotent") {
    SessionTemp.cleanupNow()
    SessionTemp.cleanupNow()
    assert(SessionTemp.rootOption.isEmpty)
  }

  test("no raw createTempDirectory remains in queries/operators sources") {
    import scala.jdk.CollectionConverters._
    val roots = Seq("src/main/scala/graft/queries",
      "src/main/scala/graft/operators")
    val offenders = roots.flatMap { r =>
      Files.walk(Paths.get(r)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("createTempDirectory"))
        .map(_.toString)
    }
    assert(offenders.isEmpty, s"route these through SessionTemp: $offenders")
  }

  test("no raw createTempDirectory remains in the sources specs") {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get("src/test/scala/graft/sources"))
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("createTempDirectory"))
        .map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty, s"route these through SessionTemp: $offenders")
  }
}

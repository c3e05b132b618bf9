package graft.streaming

import graft.SparkTestSession
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The durable state layer's commit protocol on hand-built roots: the
  * retire window of a republish, the orphan rule that closes it, and the
  * sweep both layouts share. */
class StateCommitSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def write(root: String, name: String, rows: Seq[(Long, Long)]): Unit =
    rows.toDF("k", "v").coalesce(1).write.mode("overwrite")
      .parquet(s"$root/$name")

  private def rows(root: String): Set[(Long, Long)] =
    AdditiveBatchState.merged(spark, new Path(root), identity).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet

  private def names(root: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName).toSeq.sorted

  test("a crash between retire and swap leaves the old compacted partition visible") {
    val root = graft.SessionTemp.dir("graft_retire_window_")
    // the republish of compacted=3 retired the live dir, the new content
    // sits in its tmp dir, and a later batch landed on top
    write(root, "_retired_compacted=3", Seq(1L -> 10L, 2L -> 20L))
    write(root, "_tmp_compacted=3", Seq(1L -> 99L))
    write(root, "batch=4", Seq(3L -> 30L))
    assert(rows(root) === Set(1L -> 10L, 2L -> 20L, 3L -> 30L),
      "readers lost the retired compacted partition")
    assert(AdditiveBatchState.maxVisibleId(spark, new Path(root)) === 4L)
  }

  test("a republish crashed at Retired heals on re-run; a compaction folds the orphan") {
    val root = graft.SessionTemp.dir("graft_retire_heal_")
    write(root, "batch=0", Seq(1L -> 10L))
    AdditiveBatchState.publishRebase(spark, new Path(root), 2L,
      Seq(1L -> 11L).toDF("k", "v"))
    val crashed = intercept[RuntimeException] {
      AdditiveBatchState.publishRebase(spark, new Path(root), 2L,
        Seq(1L -> 12L).toDF("k", "v"), failpoint = Failpoint.Retired)
    }
    assert(crashed.getMessage.contains("injected rebase crash"))
    assert(names(root) === Seq("_retired_compacted=2", "_tmp_compacted=2"))
    assert(rows(root) === Set(1L -> 11L))
    // the re-run publishes; the orphan goes only once its name is live
    AdditiveBatchState.publishRebase(spark, new Path(root), 2L,
      Seq(1L -> 12L).toDF("k", "v"))
    assert(names(root) === Seq("compacted=2"))
    assert(rows(root) === Set(1L -> 12L))
    // crash again, then compact past the boundary instead of re-running:
    // the orphan is one of the merged sources and the sweep removes it
    intercept[RuntimeException] {
      AdditiveBatchState.publishRebase(spark, new Path(root), 2L,
        Seq(1L -> 13L).toDF("k", "v"), failpoint = Failpoint.Retired)
    }
    write(root, "batch=3", Seq(2L -> 20L))
    AdditiveBatchState.compact(spark, new Path(root), 3L,
      _.groupBy("k").sum("v").toDF("k", "v"), keyCols = Seq("k"))
    assert(names(root) === Seq("compacted=3"))
    assert(rows(root) === Set(1L -> 12L, 2L -> 20L))
  }

  test("one sweep: both layouts drop exactly what the highest compacted partition hides") {
    val root = graft.SessionTemp.dir("graft_sweep_")
    for (n <- Seq("batch=0", "compacted=1", "batch=1", "compacted=2", "batch=3"))
      write(root, n, Seq(0L -> 0L))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ps = StateCommit.parts(fs, new Path(root))
    assert(ps.map(p => (p.compacted, p.id)) ===
      Seq((false, 0L), (false, 1L), (true, 1L), (true, 2L), (false, 3L)))
    assert(StateCommit.hidden(ps).map(_.path.getName) ===
      Seq("batch=0", "batch=1", "compacted=1"))
    val crashed = intercept[RuntimeException] {
      StateCommit.sweep(fs, new Path(root), Failpoint.MidDelete)
    }
    assert(crashed.getMessage === "injected compaction crash at MidDelete")
    StateCommit.sweep(fs, new Path(root))
    assert(names(root) === Seq("batch=3", "compacted=2"))
  }
}

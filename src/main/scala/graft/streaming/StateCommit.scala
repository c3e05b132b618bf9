package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** A test hook naming the step of a [[StateCommit]] publish or sweep at
  * which to inject a crash. `Off` injects none. */
sealed trait Failpoint {

  /** Throw the injected crash when this hook is set to `point`; `what`
    * names the operation in the message ("compaction", "rebase"). */
  private[streaming] def crashAt(point: Failpoint, what: String): Unit =
    if (this == point)
      throw new RuntimeException(s"injected $what crash at $point")
}

object Failpoint {
  case object Off extends Failpoint
  /** The new content is written to its tmp dir; nothing is renamed. */
  case object BeforePublish extends Failpoint
  /** The old live partition is renamed to its retired name; the new
    * content is still in its tmp dir. */
  case object Retired extends Failpoint
  /** The new content is live; the sweep has not started. */
  case object AfterPublish extends Failpoint
  /** The sweep deleted one hidden partition. */
  case object MidDelete extends Failpoint
}

/** The commit protocol of the durable state layer
  * ([[BatchedParquetIndex]], [[AdditiveBatchState]], and the frozen
  * tables of [[IncrementalDsir]] and [[IncrementalAnn]]), on plain
  * parquet with no transactional table format. A state root holds one
  * dir per partition: `batch=<n>` (the rows one batch wrote) or
  * `compacted=<n>` (the merge of every partition with id ≤ n).
  *
  *  - [[publish]] makes new content live under a partition name: write
  *    `_tmp_<name>`, rename the old live dir (if any) to
  *    `_retired_<name>`, rename the tmp dir to `<name>`, delete the
  *    retired dir. The live name is never deleted before the new
  *    content is in place, so a crash at any step leaves either the old
  *    or the new content readable.
  *  - [[parts]] is the one lister and name parser. While a live name is
  *    absent it reads an orphaned `_retired_<name>` as that name: that
  *    is the state a crash between the two renames leaves, and the old
  *    content is still the committed one.
  *  - [[sweep]] deletes every partition the highest `compacted=<n>`
  *    hides ([[hidden]]): all others with id ≤ n, whose rows n holds.
  *  - [[compact]] is a publish of `compacted=<n>` over the caller's
  *    visible partitions, then a sweep; the caller supplies only the
  *    merge.
  *
  * `_`-prefixed dirs are invisible to every reader except through that
  * orphan rule. A publish first deletes stale tmp dirs and every retired
  * dir whose live name exists; a retired dir is never deleted while it
  * is the only copy of its name. Single writer per root. */
private[streaming] object StateCommit {

  final case class Part(path: Path, compacted: Boolean, id: Long)

  private val TmpPrefix = "_tmp_"
  private val RetiredPrefix = "_retired_"

  /** (isCompacted, id) of a partition dir name. */
  private def parse(name: String): Option[(Boolean, Long)] =
    name.split("=", 2) match {
      case Array(kind @ ("batch" | "compacted"), n) =>
        n.toLongOption.map(id => (kind == "compacted", id))
      case _ => None
    }

  /** Every partition under `root`, ascending by id (a batch before the
    * compacted partition of the same id). */
  def parts(fs: FileSystem, root: Path): Seq[Part] =
    if (!fs.exists(root)) Seq.empty
    else {
      val paths = fs.listStatus(root).toSeq.map(_.getPath)
      val names = paths.map(_.getName).toSet
      paths.flatMap { p =>
        val n = p.getName
        val live = n.stripPrefix(RetiredPrefix)
        val name = if (n.startsWith(RetiredPrefix) && !names(live)) live else n
        parse(name).map { case (c, id) => Part(p, c, id) }
      }.sortBy(p => (p.id, p.compacted))
    }

  /** The partitions the highest `compacted=<n>` in `ps` hides: every
    * other partition with id ≤ n. Its rows are all in n. */
  def hidden(ps: Seq[Part]): Seq[Part] =
    ps.filter(_.compacted).map(_.id).maxOption.fold(Seq.empty[Part]) { n =>
      ps.filter(p => p.id <= n && !(p.compacted && p.id == n))
    }

  /** Publish the merge of every partition in `visible` with id ≤ `upTo`
    * as `compacted=<upTo>`, then [[sweep]]. `write(sources, tmp)` writes
    * the merge. A re-run that finds the target published, or a call
    * with fewer than two sources, only sweeps, so the partitions a
    * mid-delete crash left hidden never persist. */
  def compact(fs: FileSystem, root: Path, upTo: Long, visible: Seq[Part],
      failpoint: Failpoint)(write: (Seq[Path], Path) => Unit): Unit = {
    val sources = visible.filter(_.id <= upTo)
    if (sources.size >= 2 && !sources.exists(p => p.compacted && p.id == upTo))
      publish(fs, root, s"compacted=$upTo", failpoint)(
        write(sources.map(_.path), _))
    sweep(fs, root, failpoint)
  }

  /** Make the content `write` puts in the given dir live as `root/name`
    * (see the object doc for the steps and the crash argument). */
  def publish(fs: FileSystem, root: Path, name: String,
      failpoint: Failpoint = Failpoint.Off, what: String = "compaction")(
      write: Path => Unit): Unit = {
    fs.mkdirs(root)
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    names.filter(n => n.startsWith(TmpPrefix) ||
        (n.startsWith(RetiredPrefix) && names(n.stripPrefix(RetiredPrefix))))
      .foreach(n => fs.delete(new Path(root, n), true))
    val live = new Path(root, name)
    val tmp = new Path(root, TmpPrefix + name)
    val retired = new Path(root, RetiredPrefix + name)
    write(tmp)
    failpoint.crashAt(Failpoint.BeforePublish, what)
    if (fs.exists(live)) rename(fs, live, retired)
    failpoint.crashAt(Failpoint.Retired, what)
    rename(fs, tmp, live)
    fs.delete(retired, true)
    failpoint.crashAt(Failpoint.AfterPublish, what)
  }

  /** Delete every [[hidden]] partition under `root`. Readers never see
    * them, so a crash mid-sweep changes no read; the next sweep
    * finishes. */
  def sweep(fs: FileSystem, root: Path,
      failpoint: Failpoint = Failpoint.Off, what: String = "compaction"): Unit =
    hidden(parts(fs, root)).foreach { p =>
      fs.delete(p.path, true)
      failpoint.crashAt(Failpoint.MidDelete, what)
    }

  // the destination never exists here: a Hadoop rename onto an existing
  // dir would move the source INTO it
  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")
}

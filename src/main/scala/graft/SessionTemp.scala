package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** One JVM-scoped scratch root for every materialize-before-reuse site
  * (Retrieval's tf table, p13/p14/x14/x16/x17's heavy-projection
  * parquet, the streaming entries' log/checkpoint roots). Each call
  * gets a fresh subdirectory, but they all live under a single root
  * registered for shutdown-hook removal — previously every site called
  * `Files.createTempDirectory` directly and corpus-sized parquet
  * accumulated in /tmp per bench run (and would leak unboundedly in a
  * long-lived driver). `cleanupNow()` is safe mid-run: the next `dir()`
  * call recreates the root.
  */
object SessionTemp {

  private val lock = new Object
  private var current: Option[Path] = None
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Fresh scratch subdirectory (absolute path) under the shared root. */
  def dir(prefix: String): String = lock.synchronized {
    val root = current.filter(Files.exists(_)).getOrElse {
      val r = Files.createTempDirectory("graft_session_")
      current = Some(r)
      if (hooked.compareAndSet(false, true))
        Runtime.getRuntime.addShutdownHook(new Thread(() => cleanupNow()))
      r
    }
    Files.createTempDirectory(root, prefix).toString
  }

  /** Remove the root and everything under it (idempotent). The walk
    * stream is closed explicitly — specs call this repeatedly and an
    * unclosed stream leaks a directory handle per invocation. */
  def cleanupNow(): Unit = lock.synchronized {
    current.foreach { r =>
      if (Files.exists(r)) {
        val walk = Files.walk(r)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    current = None
  }

  /** `cache(key)` while every path `landed(cached)` names still exists,
    * else `build` (stored): [[cleanupNow]] may have removed what an
    * earlier run landed under the root. Paths are plain or `file:`
    * URIs (a parquet frame's `inputFiles`). */
  def live[K, V](cache: java.util.concurrent.ConcurrentHashMap[K, V],
      key: K)(landed: V => Seq[String])(build: => V): V =
    cache.compute(key, (_, v) =>
      if (v != null && landed(v).forall(exists)) v else build)

  private def exists(path: String): Boolean =
    Files.exists(Paths.get(new org.apache.hadoop.fs.Path(path).toUri.getPath))

  /** Current root if one has been created and not cleaned (for specs). */
  private[graft] def rootOption: Option[Path] = lock.synchronized {
    current.filter(Files.exists(_))
  }
}

package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}

/** Shared bench-fixture plumbing: the scale fixtures ship `documents`
  * as ONE parquet file, but the streaming modules' file source
  * (`maxFilesPerTrigger = 1`, glob `documents*.parquet`) needs one
  * file per desired micro-batch — slice the corpus into `slices`
  * renamed part files under a session-temp dir. */
object BenchFixtures {

  /** Returns the sliced dir (session-temp; cleaned at exit). */
  def sliceDocs(spark: SparkSession, docsDir: String, slices: Int,
      prefix: String = "bench_docs_"): String = {
    val sliced = SessionTemp.dir(prefix)
    graft.sources.Records.table(spark, docsDir, "documents")
      .repartition(slices)
      .write.mode("overwrite").parquet(s"$sliced/_parts")
    val parts = new java.io.File(s"$sliced/_parts").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(f"$sliced/documents-$i%03d.parquet"))
    }
    FileUtils.deleteDirectory(new java.io.File(s"$sliced/_parts"))
    sliced
  }

  /** Write `df` as the ONE parquet file `<dir>/<name>.parquet`
    * (replacing an existing one): stage the write under
    * `<dir>/_stage_<name>` — the leading underscore hides it from a
    * file stream listing `dir` — move its single part file into place,
    * delete the stage. The caller shapes `df` into one partition
    * (`coalesce(1)`, or `repartition(1)` plus a sort when the
    * generating stage must stay parallel); a write that produced more
    * than one part fails here instead of silently dropping rows.
    * Returns the file's path. */
  def writeSingleFile(df: Dataset[_], dir: String, name: String,
      options: Map[String, String] = Map.empty): String = {
    val stage = Paths.get(dir, s"_stage_$name")
    df.write.mode("overwrite").options(options).parquet(stage.toString)
    val ls = Files.list(stage)
    val parts =
      try ls.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally ls.close()
    require(parts.size == 1,
      s"expected one parquet part under $stage, found ${parts.size}")
    val out = Paths.get(dir, s"$name.parquet")
    Files.move(parts.head, out, StandardCopyOption.REPLACE_EXISTING)
    FileUtils.deleteDirectory(stage.toFile)
    out.toString
  }
}

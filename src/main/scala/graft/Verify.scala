package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev only; driver passes 2): comma-list of query
    // names to dump, for fast single-query iteration with compare_oracle.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, subset) => (s, o, Some(subset.split(",").toSet))
    }
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${Report.cause(e)}")
      }
      // Queries persist() intermediates (LSH bands etc.) and can't
      // unpersist what they lazily return; drop them here so cached
      // blocks don't accumulate across the 90+ query run.
      CacheDrain.drain(spark)
    }
    // Environment facts DuckDB can't observe but this process can:
    // owner/primary group of files the fs fixtures plant, probed via a
    // java.nio temp file created by the SAME process that planted them.
    val probe = Files.createTempFile("graft_probe", "")
    val attrs = Files.readAttributes(probe,
      classOf[java.nio.file.attribute.PosixFileAttributes])
    val (fsUser, fsGroup) = (attrs.owner().getName, attrs.group().getName)
    Files.delete(probe)
    val json = SparkEntry.oracleSql
      // fs oracles need literal paths for DuckDB glob()/read_blob();
      // substitute the tier actually verified (queries.FsQueries doc).
      .map { case (k, v) =>
        s"${Report.json(k)}: ${Report.json(v.replace(queries.FsQueries.SfDirToken, sfDir)
          .replace(queries.FsQueries.FsUserToken, fsUser)
          .replace(queries.FsQueries.FsGroupToken, fsGroup))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

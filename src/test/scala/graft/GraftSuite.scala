package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ListBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** What every Spark spec shares: `spark` is the shipped profile,
  * `GraftSession(4)`, one session for the whole test JVM that no suite
  * stops (a suite that needs other settings takes `spark.newSession()`,
  * which keeps the profile and the extensions); `tempDir` makes a
  * directory that is deleted after the suite. Each suite ends with the
  * drain Bench runs between keys, so no suite's cached blocks reach the
  * next one's counts.
  */
trait GraftSuite extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = GraftSuite.shared

  private val temps = ListBuffer.empty[Path]

  def tempDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    temps += p
    p
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      CacheDrain.drain(spark)
      temps.foreach(p => FileUtils.deleteQuietly(p.toFile))
    }
}

object GraftSuite {
  lazy val shared: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

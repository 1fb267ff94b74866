package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark driver JVM. Runs the given `SparkEntry.queries` keys
  * serially, for a fixed number of passes, and writes one JSON file
  * of raw records; `perfbench/run.py` turns it into metrics.
  *
  * Every timing is taken around the program's public entry points: the
  * query builder call (`construct`), the action that consumes the result
  * (`action`) and `CacheDrain.drain` (`drain`). With `trace=1` a
  * SparkListener and a QueryExecutionListener record jobs, stages,
  * tasks, SQL executions and Catalyst phases on every other timed pass;
  * the passes in between register nothing, so both kinds of pass run in
  * one JVM and their difference is the tracing overhead.
  *
  * Arguments are `name=value` pairs: data, keys (a file, one key a
  * line, or `*` for every key), warmup, passes, trace, cores, out.
  *
  * `setup_s` runs from JVM start to the first timed key: session,
  * extensions and the untimed warm-up passes, which also make every
  * key's one-time work (layout writes, training) happen before timing.
  */
object Harness {
  type Rec = Map[String, Any]

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener event times.
    */
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used, all threads. */
  def cpu(): Double = os.getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val data = args("data")
    val listed = java.nio.file.Files.readAllLines(new File(args("keys")).toPath).asScala
      .map(_.trim).filter(_.nonEmpty).toVector
    val keys = if (listed == Vector("*")) graft.SparkEntry.queries.keys.toVector.sorted else listed
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val out = mutable.LinkedHashMap[String, Any]()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = args("cores").toInt
    val spark = session(cores)
    out("cores") = cores
    val sc = spark.sparkContext
    out("confs") = (sc.getConf.getAll.toSeq ++ spark.conf.getAll.toSeq).toMap
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }

    val queries = graft.SparkEntry.queries
    val recorder = new Recorder
    val execs = mutable.ArrayBuffer[Rec]()
    val passes = mutable.ArrayBuffer[Rec]()
    val warmup = args("warmup").toInt
    // `warmup` untimed passes let the JIT settle, then `passes` timed
    // ones: a fixed count keeps every run on the same stretch of the
    // warm-up. Traced runs trace every other timed pass, starting with
    // the first.
    for (pass <- 1 to warmup + args("passes").toInt) {
      val traced = args("trace") == "1" && pass > warmup && (pass - warmup) % 2 == 1
      if (pass == warmup + 1) out("setup_s") = (now() - jvmStart) / 1000
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder.qel)
      }
      val (p0, c0) = (now(), cpu())
      for (key <- keys) execs += runKey(spark, queries(key), key, data, pass, tmp)
      val (p1, c1) = (now(), cpu())
      if (traced) {
        org.apache.spark.perfbench.BusDrain(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder.qel)
      }
      passes += Map("pass" -> pass, "traced" -> traced,
        "start" -> p0, "end" -> p1, "cpu_s" -> (c1 - c0), "store_bytes" -> storeEntries(tmp).map(du).sum)
    }
    out("passes") = passes
    out("execs") = execs
    out("events") = recorder.events.asScala.toSeq
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(args("out")), out)
  }

  def session(cores: Int): SparkSession = SparkSession.builder()
    .withExtensions(new graft.GraftExtensions)
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    // Bench's shipped profile.
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One key: build (construct), consume (action), drain. */
  def runKey(spark: SparkSession, query: (SparkSession, String) => DataFrame,
      key: String, data: String, pass: Int, tmp: File): Rec = {
    val sc = spark.sparkContext
    val storeBefore = storeEntries(tmp).length
    sc.setJobGroup(key, key)
    val c0 = cpu()
    val t0 = now()
    var t1 = t0
    val result: Rec =
      try {
        val df = query(spark, data)
        t1 = now()
        val (cols, rows, d1, d2) = digest(df)
        Map("ok" -> true, "cols" -> cols, "rows" -> rows, "d1" -> d1, "d2" -> d2)
      } catch {
        case e: Exception =>
          if (t1 == t0) t1 = now()
          Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val t2 = now()
    val rdds = sc.getPersistentRDDs.size
    graft.CacheDrain.drain(spark)
    val t3 = now()
    val c3 = cpu()
    sc.clearJobGroup()
    result ++ Map("key" -> key, "pass" -> pass, "t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> t3,
      "cpu_s" -> (c3 - c0),
      "rdds_released" -> (rdds - sc.getPersistentRDDs.size),
      "store_new" -> (storeEntries(tmp).length - storeBefore))
  }

  /** Row count and an order-insensitive digest that reads every output
    * column: each row hashes the string form of its columns (in column
    * name order, nulls marked, floating point at 12 significant digits),
    * and the row hashes are summed as two 32-bit halves.
    */
  def digest(df: DataFrame): (String, Long, Long, Long) = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val parts: Seq[Column] = fields.toSeq.map { case (f, i) =>
      val c = col(s"c$i")
      val s = f.dataType match {
        case DoubleType | FloatType =>
          val d = c.cast("double")
          format_string("%.12g", when(d === 0.0, lit(0.0)).otherwise(d))
        case _ => c.cast("string")
      }
      coalesce(s, lit("\u0000null"))
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    val r = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def orZero(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (fields.map(_._1.name).mkString(","), r.getLong(0), orZero(1), orZero(2))
  }

  def storeEntries(tmp: File): Array[File] =
    Option(new File(tmp, "graft_artstore").listFiles()).getOrElse(Array.empty)

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

}

/** Records listener events, in arrival order. */
final class Recorder extends SparkListener {
  import Harness.Rec
  val events = new ConcurrentLinkedQueue[Rec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    events.add(Map("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time.toDouble,
      "group" -> p.map(_.getProperty("spark.jobGroup.id")).orNull,
      "exec" -> p.map(_.getProperty("spark.sql.execution.id")).orNull,
      "stages" -> e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(Map("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time.toDouble))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    events.add(Map("ev" -> "stage_end", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "tasks" -> s.numTasks, "submit" -> s.submissionTime.map(_.toDouble).getOrElse(-1.0),
      "t" -> s.completionTime.map(_.toDouble).getOrElse(Harness.now())))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val base: Rec = Map("ev" -> "task", "stage" -> e.stageId, "attempt" -> e.stageAttemptId,
      "launch" -> i.launchTime.toDouble, "finish" -> i.finishTime.toDouble,
      "ok" -> (e.reason == TaskSuccess))
    val m = e.taskMetrics
    events.add(if (m == null) base else base ++ Map(
      "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime,
      "deser_ms" -> m.executorDeserializeTime, "gc_ms" -> m.jvmGCTime,
      "peak_mem" -> m.peakExecutionMemory, "in_bytes" -> m.inputMetrics.bytesRead,
      "out_bytes" -> m.outputMetrics.bytesWritten, "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      events.add(Map("ev" -> "sql_start", "exec" -> s.executionId, "t" -> s.time.toDouble))
    case s: SparkListenerSQLExecutionEnd =>
      events.add(Map("ev" -> "sql_end", "exec" -> s.executionId, "t" -> s.time.toDouble))
    case _ =>
  }

  /** Catalyst phases of every finished SQL action. */
  val qel: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(funcName, qe)
    private def phases(funcName: String, qe: QueryExecution): Unit =
      events.add(Map[String, Any]("ev" -> "action", "func" -> funcName, "t" -> Harness.now()) ++
        qe.tracker.phases.map { case (name, p) => name -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble) })
  }
}

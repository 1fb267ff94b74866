package graft
import scala.util.control.NonFatal

/** Dev profiling main: time one or more named queries in isolation on
  * the shipped profile (GraftSession).
  * Usage: runMain graft.Prof <sfDir> <q1,q2,...> [reps]
  * Prints per-rep wall time. A failing key prints its exception and
  * stack trace and the run goes on to the next key; Prof exits 1 if any
  * key failed. Modes, by environment:
  *  - SPARK_GRAFT_CONF="k=v;k2=v2": session confs set on top of the
  *    profile, for A/B-ing one knob (AQE, thresholds) without a rebuild;
  *  - SPARK_GRAFT_PROF_STAGES=1: per-stage wall/task-count/CPU;
  *  - SPARK_GRAFT_PROF_EXPLAIN=1: the formatted plan after the last rep.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession(GraftSession.envCores)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_PROF_STAGES=1: print per-stage wall/task-count/CPU for
    // stages over 200 ms — the empirical loop's "which stage is slow"
    // readout (optimization guide §1.1) without the UI.
    if (sys.env.contains("SPARK_GRAFT_PROF_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          import org.apache.spark.scheduler._
          // CPU per stage attempt, one successful attempt per task index:
          // speculative duplicates in an attempt count once, and zombie
          // tasks of a finished attempt find no entry to add to.
          private val cpu = new java.util.concurrent.ConcurrentHashMap[
            (Int, Int), java.util.concurrent.ConcurrentHashMap[Int, Long]]()
          override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
            cpu.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
              new java.util.concurrent.ConcurrentHashMap[Int, Long]()): Unit
          override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
            if (e.taskMetrics != null && e.reason == org.apache.spark.Success)
              Option(cpu.get((e.stageId, e.stageAttemptId))).foreach(
                _.putIfAbsent(e.taskInfo.index, e.taskMetrics.executorCpuTime))
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val dur = (for { s0 <- si.submissionTime; c <- si.completionTime }
              yield c - s0).getOrElse(-1L)
            // Evict the attempt whether or not it is printed.
            val tasks = Option(cpu.remove((si.stageId, si.attemptNumber())))
            val cpuNs = tasks.fold(0L)(_.values.stream.mapToLong(x => x).sum)
            if (dur > 200)
              println(f"  [stage ${si.stageId}.${si.attemptNumber()}] ${dur / 1e3}%.2fs " +
                f"tasks=${si.numTasks} cpu=${cpuNs / 1e9}%.2fs")
          }
        })
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => } // warm-up
    val failed = names.filterNot { name =>
      try {
        val fn = SparkEntry.queries(name)
        for (r <- 1 to reps) {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"PROF $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.2fs ($n rows)")
          // Mirror Bench: persist()ed blocks must not leak between reps or
          // queries, or rep 2+ reports cache-served times (codegen/JIT stay
          // warm — that's the intended rep-2 signal).
          CacheDrain.drain(spark)
          if (r == reps && sys.env.contains("SPARK_GRAFT_PROF_EXPLAIN"))
            fn(spark, sfDir).explain("formatted")
        }
        true
      } catch {
        case NonFatal(e) =>
          println(s"PROF $name FAILED: ${Report.cause(e)}")
          e.printStackTrace(System.out)
          CacheDrain.drain(spark)
          false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      println(s"PROF failed keys: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}

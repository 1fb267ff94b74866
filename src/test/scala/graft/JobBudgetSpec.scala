package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Cc, Graph}

/** Job counts as a gated, noise-free metric. At gate scale the
  * fixpoint keys are bound by fixed cost per Spark job and per SQL
  * execution, not by compute, and a regression there hides inside the
  * run-to-run spread of wall time. Counts do not spread: under one
  * session profile a call schedules the same jobs every time. So this
  * suite pins, per call at sf0.001 under the shipped profile:
  *
  *  - a job budget and an SQL-execution budget for each connected-
  *    components key, counted over construction plus one consuming
  *    collect, and that two calls count exactly the same;
  *  - that every fixpoint round is exactly ONE SQL execution (its
  *    eager localCheckpoint, which also carries the convergence count),
  *    checked against an in-memory replay of the round schedule.
  *
  * Jobs are attributed by job group, SQL executions by a listener on a
  * session of this suite's own, so suites sharing the SparkContext do
  * not leak into the counts.
  */
class JobBudgetSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  /** The shipped profile on a session of this suite's own, so the
    * query-execution listener sees only this suite's executions.
    */
  override lazy val spark: SparkSession = GraftSuite.shared.newSession()

  /** Jobs started and SQL executions finished (by action name). */
  case class Counts(jobs: Int, execs: Seq[String])

  private def measure(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val group = s"jobbudget-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val execs = new ConcurrentLinkedQueue[String]()
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(f): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(f): Unit
    }
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
      CacheDrain.drain(spark)
    }
    Counts(jobs.get, execs.asScala.toSeq)
  }

  // Per call at sf0.001: (jobs, SQL executions), set at the counts of
  // the one-execution-per-round fixpoints. Lower is fine; higher fails.
  private val budgets = Seq(
    "dedup_clusters" -> (28, 6),
    "pipeline_dedup_corpus" -> (29, 6),
    "pipeline_mm_dedup" -> (15, 4),
    "graph_connected_components" -> (24, 7))

  test("connected-components keys stay within their job and SQL-execution budgets") {
    for ((key, (jobBudget, execBudget)) <- budgets) {
      def call(): Counts = measure { SparkEntry.queries(key)(spark, sf).collect(): Unit }
      call() // warm-up: one-time table reads and layout work
      val (a, b) = (call(), call())
      info(s"$key: ${a.jobs} jobs, SQL executions ${a.execs.mkString(", ")}")
      assert(a == b, s"$key: counts differ between two calls: $a vs $b")
      assert(a.jobs <= jobBudget, s"$key: ${a.jobs} jobs > budget $jobBudget (${a.execs})")
      assert(a.execs.size <= execBudget,
        s"$key: ${a.execs.size} SQL executions > budget $execBudget (${a.execs})")
    }
  }

  test("every fixpoint round is exactly one SQL execution") {
    val sp = spark
    import sp.implicits._
    val path = (0L until 299L).map(i => (i, i + 1))
    val cc = measure { Cc.minLabel(path.toDF("id_a", "id_b"), "path300").collect(): Unit }
    // The init step and each round: one localCheckpoint each; then
    // the consuming collect, and no other action (no aggregate probe).
    assert(cc.execs.count(_ == "localCheckpoint") == CcSpec.minLabelRounds(path) + 1, cc)
    assert(cc.execs.size == CcSpec.minLabelRounds(path) + 2, cc)

    val chain = (1L until 12L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (21L, 22L))
    val census = measure {
      Graph.componentCensus(chain.toDF("u", "v"), "chain").collect(): Unit
    }
    assert(census.execs.count(_ == "localCheckpoint") == CcSpec.censusRounds(chain) + 1, census)
    assert(census.execs.size == CcSpec.censusRounds(chain) + 2, census)
  }
}

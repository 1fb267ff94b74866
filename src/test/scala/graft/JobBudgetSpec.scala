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

import graft.queries.Cc

/** Job counts as a gated, noise-free metric. At gate scale the
  * fixpoint keys are bound by fixed cost per Spark job and per SQL
  * execution, not by compute, and a regression there hides inside the
  * run-to-run spread of wall time. Counts do not spread: under one
  * session profile a call schedules the same jobs every time. So this
  * suite pins, per call at sf0.001 under the shipped profile:
  *
  *  - a job budget and an SQL-execution budget for each connected-
  *    components key, each community (Louvain/modularity) key and
  *    each converging graph loop (PageRank, HITS, k-core; the first
  *    two on their training calls) and each small-state trainer
  *    (k-means, PQ, PCA, BPE; training calls), counted over
  *    construction plus one consuming collect, and that
  *    two calls count exactly the same, except for the few keys whose
  *    job count differs between calls; those assert the budget only;
  *  - that every `Cc.minLabel` round is exactly ONE SQL execution (its
  *    eager localCheckpoint, which also carries the convergence count),
  *    checked against an in-memory replay of the contraction and the
  *    round schedule on pair frames of explicit partition layouts.
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

  /** Per call at sf0.001: (jobs, SQL executions). Lower is fine;
    * higher fails. Keys in `varying` assert the budget only. With
    * `train`, every call first resets the artifact memo, so it trains
    * the key's artifact instead of reading it. Returns one call's
    * counts per key.
    */
  private def checkBudgets(budgets: Seq[(String, (Int, Int))],
      varying: Set[String] = Set.empty, train: Boolean = false): Map[String, Counts] =
    budgets.map { case (key, (jobBudget, execBudget)) =>
      def call(): Counts = {
        if (train) ArtifactMemo.resetForTest()
        measure { SparkEntry.queries(key)(spark, sf).collect(): Unit }
      }
      call() // warm-up: one-time table reads, layout work and artifacts
      val (a, b) = (call(), call())
      info(s"$key: ${a.jobs} jobs, SQL executions ${a.execs.mkString(", ")}")
      if (!varying(key)) assert(a == b, s"$key: counts differ between two calls: $a vs $b")
      assert(a.jobs <= jobBudget, s"$key: ${a.jobs} jobs > budget $jobBudget (${a.execs})")
      assert(a.execs.size <= execBudget,
        s"$key: ${a.execs.size} SQL executions > budget $execBudget (${a.execs})")
      key -> a
    }.toMap

  test("connected-components keys stay within their job and SQL-execution budgets") {
    // Set at the counts of the contracted fixpoints: at sf0.001 every
    // component settles in the init step, so no propagation round runs.
    checkBudgets(Seq(
      "dedup_clusters" -> (19, 3),
      "pipeline_dedup_corpus" -> (20, 3),
      "pipeline_mm_dedup" -> (14, 3),
      "graph_connected_components" -> (9, 2)))
  }

  test("community keys stay within their job and SQL-execution budgets") {
    // Set at the counts before these keys shared one community kernel.
    // Job counts measured to differ between calls: graph_louvain_level2
    // (11 or 12 before the kernel), graph_louvain_step (21 or 22 on it)
    // and graph_louvain_full (32 or 33 on it).
    checkBudgets(Seq(
      "graph_modularity" -> (22, 1),
      "graph_louvain_step" -> (26, 1),
      "graph_louvain_level2" -> (12, 1),
      "graph_louvain_coarsen" -> (10, 1),
      "graph_coarsen_invariant" -> (28, 5),
      "graph_community_conductance" -> (17, 3),
      "graph_louvain_full" -> (55, 7)),
      varying = Set("graph_louvain_level2", "graph_louvain_step", "graph_louvain_full"))
  }

  test("PageRank, HITS and k-core stay within their budgets, with no driver read per round") {
    // Each round is one Cc.round: its checkpoint also observes the
    // round's changed count and the scalars the next round needs.
    val counts = checkBudgets(Seq("graph_k_core" -> (16, 3))) ++
      checkBudgets(Seq(
        "graph_pagerank_converged" -> (33, 7),
        "graph_hits_converged" -> (34, 10)), train = true)
    for ((key, c) <- counts)
      assert(!c.execs.exists(Set("head", "count")), s"$key: a driver read remains: ${c.execs}")
  }

  test("the small-state trainers stay within their training budgets") {
    // Training calls: a seed read, one collect per round (13 k-means,
    // 29 PQ, 9 PCA rounds; 12 BPE merges) and the consuming collect of
    // the held last round.
    checkBudgets(Seq(
      "sim_kmeans_converged" -> (45, 15),
      "sim_pq_train_converged" -> (93, 31),
      "feat_pca_power_converged" -> (61, 11),
      "bpe_train_loop" -> (41, 13)), train = true)
  }

  test("every fixpoint round is exactly one SQL execution") {
    import CcSpec.{minLabelRounds, onePairEach, pairFrame, shuffledPath, slices}
    val path = (0L until 299L).map(i => (i, i + 1))
    // The census chain: graph_connected_components' fixpoint is
    // Cc.minLabel too.
    val chain = (1L until 12L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (21L, 22L))
    // Explicit layouts, because the contraction's reach sets the round
    // count: one partition settles the shuffled path in the init step.
    val fixtures = Seq(
      "path300, one pair each" -> onePairEach(path),
      "path300, four slices" -> slices(path, 4),
      "path300 shuffled, one partition" -> slices(shuffledPath, 1),
      "chain, two slices" -> slices(chain, 2))
    val rounds = fixtures.map { case (what, layout) =>
      val cc = measure { Cc.minLabel(pairFrame(spark, layout), what).collect(): Unit }
      val n = minLabelRounds(layout)
      // The init step and each round: one localCheckpoint each; then
      // the consuming collect, and no other action (no aggregate probe).
      assert(cc.execs.count(_ == "localCheckpoint") == n + 1, s"$what: $cc")
      assert(cc.execs.size == n + 2, s"$what: $cc")
      n
    }
    assert(rounds.contains(0) && rounds.max >= 8, s"fixtures must cover 0 and many rounds: $rounds")
  }
}

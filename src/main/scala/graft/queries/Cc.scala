package graft.queries

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{classic, Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.OfRows

/** Connected components via min-label propagation with pointer
  * jumping — the shared fixpoint behind dedup_clusters /
  * pipeline_dedup_corpus (text near-dup graphs) and pipeline_mm_dedup
  * (perceptual-hash graphs). Extracted round 14 so the mm survivor
  * pipeline provably rides the identical schedule the text CC keys
  * have been oracle-green on since round 8.
  *
  * Scale design:
  *
  * - Both edge directions come from ONE pass over the pair frame: a
  *   union of the pair query with its swap re-executes the whole
  *   upstream subtree per branch (measured ~2× the pair-join cost);
  *   explode emits (a,b) and (b,a) from each row instead.
  * - One SQL execution per round ([[round]]): an eager localCheckpoint
  *   materializes the round's label table, and the convergence count
  *   rides that same job as an Observation — no separate aggregate
  *   action. The checkpoint also truncates lineage: the round-k plan
  *   references the round-(k−1) frame several times, so without it
  *   the logical tree — which Catalyst re-analyzes in full — grows
  *   exponentially with rounds (measured: 136 s at sf0.01 from
  *   analysis alone).
  * - Each checkpoint carries its OBSERVED row count as its statistics
  *   ([[round]]), so Catalyst broadcasts a label table that is small
  *   (at sf0.01 a round is 3 Spark jobs: the broadcast, the groupBy's
  *   shuffle-map stage and the checkpoint's result stage) and keeps
  *   shuffling one that is not. No forced broadcast() hint, and no
  *   persist() on top of the checkpoint: its blocks already back every
  *   later read, and a persist adds a cache-stage job per round. Each
  *   superseded round's blocks are released ([[release]]) as soon as
  *   its successor is materialized.
  * - Convergence is a CHANGED count, not a sum equality: each node
  *   carries its previous label through the round's groupBy (the max of
  *   a column set only on its self row), and the round counts
  *   label < prev. Observed metrics can double-count when tasks are
  *   retried; zero versus non-zero survives that, equality of two sums
  *   does not.
  * - ONE join per round brings each node its neighbors' labels and its
  *   label's label (pointer jumping). Jumping shortens chains whose ids
  *   grow along the chain (a 300-node path in id order settles in 10
  *   rounds), but it is no log-depth guarantee: the same path with
  *   shuffled ids needed 69-133 rounds over three random shufflings,
  *   past the 30-round cap, where the loop fails loudly instead of
  *   emitting a split clustering.
  */
object Cc {

  /** Min-label connected components over an UNDIRECTED pair frame
    * (columns id_a, id_b; each pair listed once). Returns a
    * checkpointed (id, label) frame covering every node that appears in
    * some pair — label = min node id reachable. Isolated nodes (no
    * pairs) are absent; callers that need them coalesce to the node's
    * own id. Throws if propagation has not converged after 30 rounds.
    */
  def minLabel(pairs: DataFrame, what: String): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"))
      .persist() // joined every propagation round
    // Init already performs round 1 (min of self and direct
    // neighbors) — the groupBy that would otherwise just distinct the
    // node ids computes the neighbor min for free, saving one full
    // propagation round of fixed job overhead.
    var labels = round(
      edges.groupBy(col("id_a").as("id")).agg(min(col("id_b")).as("nmin")),
      lit(false), col("id"), least(col("id"), col("nmin")).as("label"))._1
    val noPrev = lit(null).cast(labels.schema("label").dataType)
    var changed = -1L
    var rounds = 0
    while (changed != 0L && rounds < 30) {
      // ONE join brings each node its neighbors' labels AND its
      // label's label: the right side is every edge plus a pseudo-edge
      // label(v) → v. Labels always point at real node ids (min over
      // ids in the component so far), so every pseudo-edge matches.
      val hops = edges.unionByName(
        labels.select(col("label").as("id_a"), col("id").as("id_b")))
      val viaHops = labels.join(hops, col("id") === col("id_a"))
        .select(col("id_b").as("id"), col("label"), noPrev.as("prev"))
      val self = labels.select(col("id"), col("label"), col("label").as("prev"))
      val next = viaHops.unionByName(self)
        .groupBy("id")
        .agg(min(col("label")).as("label"), max(col("prev")).as("prev"))
      val (cp, n) = round(next, col("label") < col("prev"), col("id"), col("label"))
      release(labels)
      labels = cp
      changed = n
      rounds += 1
    }
    // An unconverged fixpoint must fail loudly: a partial propagation
    // would emit labels that are upper bounds, i.e. a WRONG (split)
    // clustering, and only the gate harness's hash — not a standalone
    // caller — would notice.
    require(changed == 0L,
      s"$what: min-label propagation did not converge in $rounds rounds" +
        " — emission would be a partial (split) clustering")
    edges.unpersist()
    labels
  }

  /** One fixpoint round in ONE SQL execution: eagerly localCheckpoints
    * `df` projected to `out`, and counts its rows and the rows where
    * `changed` holds through an Observation on that same job. Returns
    * the checkpointed frame, sized by its row count ([[sized]]), and
    * the changed count. Only zero versus non-zero of that count is
    * meaningful: a retried task may add its rows twice.
    */
  def round(df: DataFrame, changed: Column, out: Column*): (DataFrame, Long) = {
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("rows"),
        count(when(changed, lit(1))).as("changed"))
      .select(out: _*)
      .localCheckpoint(eager = true)
    // The metrics arrive with the execution's end event; a missing
    // report is a failure, not a silent "converged".
    val row = Await.result(obs.future, 5.minutes)
    (sized(cp, row.getLong(0)), row.getLong(1))
  }

  /** The checkpoint `cp` with statistics taken from its observed row
    * count. Spark sizes a checkpoint by the estimate of the plan that
    * produced it, and a join's estimate is the product of its sides'
    * estimates: fed back through the label table round after round,
    * the estimate's digit count doubles every round (a 300-node path's
    * tenth round spent minutes multiplying BigInts in the planner).
    * Measured statistics also let Catalyst broadcast a label table
    * that really is small — and keep shuffling one that is not.
    */
  private def sized(cp: DataFrame, rows: Long): DataFrame =
    cp.queryExecution.logical match {
      case r: LogicalRDD =>
        val stats = Statistics(EstimationUtils.getOutputSize(r.output, rows), Some(rows))
        OfRows(cp.sparkSession,
          new LogicalRDD(r.output, r.rdd, r.outputPartitioning, r.outputOrdering, r.isStreaming)(
            cp.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), None))
      case _ => cp
    }

  /** Releases the blocks of a frame returned by [[round]] or
    * `localCheckpoint`: `Dataset.unpersist()` does nothing for a
    * checkpoint that was never persisted, so the checkpoint RDD itself
    * is unpersisted. Call only once nothing will read the frame again —
    * the checkpoint is the data's only copy.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false): Unit
    case _ => df.unpersist(): Unit
  }
}

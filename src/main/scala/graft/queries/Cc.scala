package graft.queries

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{classic, Column, DataFrame, Encoders, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{OfRows, Unpersist}

/** Connected components via min-label propagation with pointer
  * jumping — the shared fixpoint behind dedup_clusters /
  * pipeline_dedup_corpus (text near-dup graphs), pipeline_mm_dedup
  * (perceptual-hash graphs) and graph_connected_components.
  *
  * Scale design:
  *
  * - Contraction first ([[contract]]): a union-find over each task's
  *   rows of the pair frame, in the pair scan's own stage, emits
  *   (id, root) for every node it saw, root being the smallest id of
  *   the node's component among that task's pairs. This star forest S
  *   has the pairs' components (every pair is unioned in some task, and
  *   every root lies in its node's component) and one row per node
  *   per flush window, at most two per pair, so never more rows than
  *   the pairs' two directions. Its memory is bounded: the map is
  *   flushed every [[FlushNodes]] nodes, so a task holds a few MB at
  *   any scale. Which rows share a flush window depends on row order,
  *   and a retried task may cut different windows; any window still
  *   emits roots that are nodes of the same component with root ≤ id.
  * - Init is one [[round]] over S grouped by id: label = min(root),
  *   and the round counts the CONTESTED nodes, min(root) < max(root).
  *   Zero contested is a certificate, not a heuristic: every node then
  *   has one root, and each root, which has its own (r, r) row, is its
  *   own label; so both ends of every S edge carry the same label and
  *   every label is a fixed point, which by min-label's fixpoint
  *   argument forces each label to its component's minimum. No
  *   propagation round runs. Only zero versus non-zero of the count is
  *   read, and that survives a retried task.
  * - Otherwise propagation runs over S in both directions, one SQL
  *   execution per round ([[round]]): an eager localCheckpoint
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
  *   label's label (pointer jumping). Neither the contraction nor the
  *   jumping bounds the depth: laid out one pair per task the
  *   contraction is the identity, and a 300-node path with shuffled ids
  *   then needs 69-133 rounds over three random shufflings, past the
  *   30-round cap, where the loop fails loudly instead of emitting a
  *   split clustering.
  *
  * Every converging key runs its loop on [[fixpoint]], the one driver:
  * min-label here, PageRank, HITS, k-core and both Louvain loops
  * (Graph), and the small-state trainers (Vectors.stationary). A caller
  * keeps only its step and its emission; the driver owns the cap and
  * its loud failure, and releases each superseded state only after the
  * step has materialized its successor, never the state it returns.
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
    val longPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val star = pairs.select(col("id_a"), col("id_b")).as(longPair)
      .mapPartitions(contract(_))(longPair)
      .toDF("id", "root")
      .persist() // joined every propagation round
    val (init, r0) = round(
      star.groupBy("id").agg(min(col("root")).as("label"), max(col("root")).as("top")),
      col("label") < col("top"), Seq("id", "label"))
    // Both directions of every star edge, from one pass over S.
    val edges = star
      .select(explode(array(
        struct(col("id").as("id_a"), col("root").as("id_b")),
        struct(col("root").as("id_a"), col("id").as("id_b")))).as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"))
    val noPrev = lit(null).cast(init.schema("label").dataType)
    // An unconverged fixpoint fails loudly: a partial propagation would
    // emit labels that are upper bounds, i.e. a WRONG (split)
    // clustering, and only the gate harness's hash — not a standalone
    // caller — would notice.
    val labels = fixpoint(s"$what (min-label propagation)", 30)(
        init, r0.getAs[Long]("changed") != 0L) { labels =>
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
      val (cp, r) = round(next, col("label") < col("prev"), Seq("id", "label"))
      (cp, r.getAs[Long]("changed") != 0L)
    }(release)
    star.unpersist()
    labels
  }

  /** Nodes a [[contract]] map holds before it flushes: a few MB. */
  val FlushNodes: Int = 1 << 16

  /** Union-find over `pairs`, emitting (node, root) for every node
    * seen, root being the smallest id of the node's component among
    * the pairs seen since the last flush. Every `flushAt` nodes the map
    * is flushed and cleared, so memory stays bounded; each emitted root
    * is then still a node of the same component with root ≤ node.
    */
  def contract(pairs: Iterator[(Long, Long)],
      flushAt: Int = FlushNodes): Iterator[(Long, Long)] = new Iterator[(Long, Long)] {
    private val parent = mutable.LongMap.empty[Long]
    private var out: Iterator[(Long, Long)] = Iterator.empty

    private def find(x: Long): Long = {
      var v = x
      var p = parent.getOrElseUpdate(v, v)
      while (p != v) { // path splitting
        val g = parent(p)
        parent(v) = g
        v = p
        p = g
      }
      v
    }

    /** Unions the next window of pairs; false once the input is spent. */
    private def fill(): Boolean = {
      parent.clear()
      while (parent.size < flushAt && pairs.hasNext) {
        val (a, b) = pairs.next()
        val (ra, rb) = (find(a), find(b))
        // Root at the smaller id, so a root is its window's component min.
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val nodes = parent.keysIterator.toArray
      out = nodes.iterator.map(v => (v, find(v)))
      nodes.nonEmpty
    }

    def hasNext: Boolean = out.hasNext || fill()
    def next(): (Long, Long) =
      if (hasNext) out.next() else throw new NoSuchElementException("contract")
  }

  /** The one convergence driver: from `s0`, runs `step` while the
    * last round moved (`moved0` for the start state), and never more
    * than `cap` times; returns the first state a step reports unmoved.
    * A step returns its successor, materialized, and whether it moved.
    * Once it has returned, the state it superseded is `release`d unless
    * it equals the successor: a returned state is never released, so a
    * step that returns its own input releases nothing. A state still
    * moving after `cap` steps throws: an unconverged fixpoint would
    * emit a truncation, so the cap bounds a broken schedule and is
    * never a silent exit.
    */
  def fixpoint[S](what: String, cap: Int)(s0: S, moved0: Boolean)
      (step: S => (S, Boolean))(release: S => Unit): S = {
    @annotation.tailrec
    def go(s: S, moved: Boolean, n: Int): S =
      if (!moved) s
      else {
        require(n < cap, s"$what: did not converge in $cap rounds — emission " +
          "would be a truncation, not the fixed point")
        val (next, m) = step(s)
        if (next != s) release(s)
        go(next, m, n + 1)
      }
    go(s0, moved0, 0)
  }

  /** One fixpoint round in ONE SQL execution: eagerly localCheckpoints
    * `df` projected to `out`, and observes on that same job its row
    * count (`rows`), the count of rows where `changed` holds (`changed`)
    * and the `extra` aggregates, named by their aliases. Returns the
    * checkpointed frame, sized by its row count ([[sized]]), and the
    * observed row. Observed metrics merge task results, and a retried
    * task may add its rows twice, so read them only where a double
    * count cannot change the answer: `changed` as zero versus non-zero,
    * a `max` or `min` as is, and a sum only after checking `rows`
    * against a row count known in advance, so a double count fails
    * instead of shifting the sum.
    */
  def round(df: DataFrame, changed: Column, out: Seq[String], extra: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val cp = df.observe(obs, count(lit(1)).as("rows"),
        count(when(changed, lit(1))).as("changed") +: extra: _*)
      .select(out.map(col): _*)
      .localCheckpoint(eager = true)
    // The metrics arrive with the execution's end event; a missing
    // report is a failure, not a silent "converged".
    val row = Await.result(obs.future, 5.minutes)
    (sized(cp, row.getAs[Long]("rows")), row)
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
    * checkpoint that was never persisted, so the checkpoint RDD's own
    * blocks are freed ([[Unpersist]]). Call only once nothing will read
    * the frame again — the checkpoint is the data's only copy.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => Unpersist(r.rdd)
    case _ => df.unpersist(): Unit
  }
}

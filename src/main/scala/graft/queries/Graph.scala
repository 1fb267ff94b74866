package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.SparkEntry.keyed

/** Link-graph operators (SURVEY.md §2i, crawl-curation layer).
  *
  * Web-scale training pipelines weight documents by link-graph signals
  * (host-level PageRank over the crawl graph is the classic quality
  * prior). The reference checkout is empty (SURVEY.md §0), so no
  * file:line citation is possible; the operator follows the standard
  * published power-iteration schedule.
  *
  * Scale shape: one PageRank iteration is two key shuffles — out-degree
  * by source, contribution sum by destination — exactly the distributed
  * schedule that holds at any edge count; map-side combine bounds what
  * each task emits by its distinct destination count, and the node/count
  * scalars ride a broadcast, never a driver collect.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Once-per-dataset Louvain phase-1 artifacts on the %3 witness graph
    * (VERDICT r11 item 2 — the PQ trained-codebook precedent,
    * Vectors.scala pqMemo): the step's (i, c) label table and the
    * contraction it induces are deterministic pure functions of the
    * parquet under `d`, and in production both are PERSISTED artifact
    * tables (the community map ships with the corpus, exactly as the PQ
    * price sheet ships with the index) — so within a JVM the step
    * subtree runs ONCE and every consumer (graph_louvain_coarsen's
    * label joins, graph_coarsen_invariant's two paths,
    * graph_louvain_level2's coarse input) re-seeds from the held
    * artifact. Before the memo the step subtree re-ran ~5× across the
    * family = 24.8 s, 14.4% of the whole 312-key bench (BENCH_r11).
    * Driver-held size is structurally bounded: labels are one row per
    * %3 part (~6.6k at sf0.1), the contraction ≤ C(64,2)+64 = 2 080
    * rows — the ≤1024-row codebook class, not corpus-proportional data
    * (at 100 TB both remain node/community-sized artifact TABLES; the
    * driver-held Seq is the gate-scale stand-in for reading them back).
    * Keyed on path + parquet content fingerprint so an in-place
    * regeneration retrains (the pqMemo r11-ADVICE rule). Eager
    * checkpoint during the one-time build (the level2 finding): sibling
    * joins otherwise lose the first-compute race and re-run the step
    * subtree per consumer (measured 2× wall).
    */
  private case class LouvainArt(labelsPath: String,
      coarse: Seq[(Long, Long, Long, Long)])

  private def louvainArt(s: SparkSession, d: String): LouvainArt =
    graft.ArtifactMemo.once(artifactKey(d, "lineitem") + "#louvstep") {
      val lab = queries("graph_louvain_step")(s, d)
        .select(col("node_id").as("i"), col("cid_new").as("c"))
        .localCheckpoint(eager = true)
      // Labels are NODE-SIZED (corpus-proportional) → persisted parquet
      // artifact, never driver memory (r12 review; the cachedTable
      // rationale). The ≤C(64,2)+64-row contraction stays driver-held.
      val labPath = graft.Tables.scratch(s,
        "artlouv" + graft.Tables.md5hex(artifactKey(d, "lineitem")).take(12), d)
      lab.write.mode("overwrite").parquet(labPath)
      val cws = contract(unit(undirectedEdges(s, d, 3)), Labels(lab)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      Cc.release(lab)
      LouvainArt(labPath, cws)
    }

  /** graph_louvain_step's partition as an (i, c) label table, re-read
    * from the once-per-dataset parquet artifact (node-sized; consumers
    * join it — broadcast-sized at gate scale, a plain scan at any).
    */
  private def louvainStepLabels(s: SparkSession, d: String): DataFrame =
    s.read.parquet(louvainArt(s, d).labelsPath)

  /** The %3 contraction as a kernel edge list (u, v, n_edges, w),
    * re-seeded from the artifact — graph_louvain_level2's input.
    */
  private def louvainCoarseTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    louvainArt(s, d).coarse.toDF("u", "v", "n_edges", "w")
  }

  /** graph_louvain_converged's phase-1 fixpoint on the %10 witness graph
    * as a once-per-dataset trained artifact (the sim_pq_train_converged
    * precedent verbatim): the Q-monotone loop is deterministic, so its
    * final partition + final Q are a pure function of the parquet under
    * `d`; the first invocation trains, repeats and downstream consumers
    * (graph_louvain_full's level-1 input) re-seed from the held rows
    * (~2k at sf0.1 — node-sized on the witness graph; a persisted
    * artifact table in production).
    */
  private case class Louvain10Art(labelsPath: String, q: Double)

  /** The %10 phase-1 fixpoint artifact — single-flight through
    * ArtifactMemo.once: the trainer itself is the memo value, so no
    * caller checks for the artifact and then looks it up separately.
    */
  private def louvain10Art(s: SparkSession, d: String): Louvain10Art = {
    val key = artifactKey(d, "lineitem") + "#p10"
    graft.ArtifactMemo.once(key)(trainLouvain10(s, d, key))
  }

  /** graph_louvain_converged's training, the single-flight memo value
    * (round 13): the kernel's Q-dip loop ([[phase1]]) on the %10 witness
    * graph from the id % 64 start, its fixpoint labels persisted as the
    * scratch parquet artifact. ArtifactMemo.once owns the only call
    * site (no check-then-act).
    */
  private def trainLouvain10(s: SparkSession, d: String,
      memoKey: String): Louvain10Art = {
    val und = undirectedEdges(s, d, 10).persist()
    val g = CGraph.of(unit(und)).held
    val (lab, q) = phase1(g, hash64,
      modularity(g, hash64).head().getDouble(0), 40, "graph_louvain_converged")
    // Node-sized (corpus-proportional) labels: a parquet label table,
    // never driver memory (r12 review).
    val labPath = graft.Tables.scratch(s,
      "artlouv10" + graft.Tables.md5hex(memoKey).take(12), d)
    lab.write.mode("overwrite").parquet(labPath)
    Cc.release(lab); Cc.release(g.deg); und.unpersist()
    Louvain10Art(labPath, q)
  }

  /** The lineitem-derived co-occurrence WITNESS GRAPHS every graph
    * operator runs on, hoisted to ONE definition (VERDICT r12 item 6:
    * the block was repeated verbatim in 10+ query bodies — a drift
    * between copies would silently put two operators on different
    * graphs). Parts with l_partkey % m == 0 are nodes (m = 3: the
    * step/modularity witness; m = 10: the converged-loop witness —
    * see graph_louvain_converged's scaladoc for why they differ); two
    * parts sharing an order are one undirected edge, deduplicated,
    * oriented u < v.
    */
  private def partPairs(s: SparkSession, d: String, m: Int): DataFrame =
    lineitem(s, d).filter(col("l_partkey") % m === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()

  private def undirectedEdges(s: SparkSession, d: String, m: Int): DataFrame = {
    val op = partPairs(s, d, m)
    op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("u"), col("y.p").as("v")).distinct()
  }

  /* ---- The community kernel ----
   *
   * One definition each of the Louvain insertion-gain sweep ([[sweep]]),
   * the community rollup and its modularity Q ([[rollup]],
   * [[modularity]]), the degree-mass-preserving contraction
   * ([[contract]]) and the phase-1 Q-dip loop ([[phase1]]); every
   * community key calls them.
   *
   * The graph ([[CGraph]]) is a weighted edge list (u, v, w), each
   * undirected edge listed once; u = v is a self-loop. A cut-free edge's
   * weight counts toward both endpoints' degree k, a self-loop's weight
   * once toward its node's, and m = Σk/2. The fine co-occurrence graph
   * is the case w = 1 with no self-loops, where k is the plain degree
   * and m the edge count. A contraction folds each community's internal
   * edges into a self-loop of twice their weight, so every community
   * keeps its degree mass and the singleton Q of the contracted graph
   * equals the partition's Q on the finer one — which is why one sweep
   * and one Q serve every level (graph_coarsen_invariant measures it).
   *
   * Sweep: every node i moves to the community c among its own and its
   * neighbors' with the largest insertion gain
   *   ΔQ(i→c) = kin(i,c)/m − k_i·Σtot(c∖i)/(2m²),
   * kin = the weight from i into c, Σtot(c∖i) = c's degree mass without
   * i (remove-then-insert, so staying is always a candidate, at kin 0
   * when i has no neighbor in its own community). All nodes move at
   * once (synchronous). Q = Σ_c [e_c/m − (d_c/2m)²], e_c = the weight
   * inside c with self-loops at half weight, d_c = c's degree mass.
   *
   * Exactness: kin, Σtot, k, e_c, d_c and m are exact longs. The gain
   * is one IEEE expression rounded at 1e-9 before the argmax, and the
   * argmax is max(struct(gain, −c)) = (gain DESC, c ASC) as an
   * aggregate, which partial-combines map-side. Q's per-community terms
   * are rounded at 1e-9, summed exactly as DECIMAL(28,9) and rounded at
   * 1e-6. Nothing depends on summation order, so the DuckDB oracles
   * reproduce each key bit for bit.
   */

  /** A kernel graph: `edges` (u, v, w) as above, `deg` its degree table
    * (i, ki, sw = self-loop weight). m is a column: a 1-row broadcast
    * that [[withM]] attaches, or, once read on the driver ([[held]],
    * [[readM]]), a literal.
    */
  private final case class CGraph(edges: DataFrame, deg: DataFrame,
      mRead: Option[Long]) {
    /** (i, j, w): both directions of every edge but the self-loops. */
    def adj: DataFrame = edges.filter(col("u") =!= col("v"))
      .select(explode(array(
        struct(col("u").as("i"), col("v").as("j"), col("w")),
        struct(col("v").as("i"), col("u").as("j"), col("w")))).as("e"))
      .select("e.*")
    def mRow: DataFrame = edges.agg((coalesce(sum(
        when(col("u") === col("v"), col("w")).otherwise(col("w") * 2)), lit(0L)) / 2)
      .cast(LongType).as("m"))
    def m: Column = mRead.fold(col("m"))(lit(_))
    def withM(df: DataFrame): DataFrame =
      if (mRead.isEmpty) df.crossJoin(broadcast(mRow)) else df
    /** m read once on the driver (one O(1) action). */
    def readM: CGraph = copy(mRead = Some(mRow.head().getLong(0)))
    /** For a loop that probes the graph every sweep: m read once and the
      * degree table checkpointed once — [[Cc.release]] it when done.
      */
    def held: CGraph = CGraph(edges, deg.localCheckpoint(eager = true), None).readM
  }

  private object CGraph {
    def of(edges: DataFrame): CGraph = {
      // One row per edge end: a self-loop has one end, and its weight
      // is also its node's self-loop weight.
      val ends = edges.select(explode(array(
          struct(col("u").as("i"), col("w").as("k"),
            when(col("u") === col("v"), col("w")).otherwise(lit(0L)).as("s")),
          when(col("u") =!= col("v"),
            struct(col("v").as("i"), col("w").as("k"), lit(0L).as("s"))))).as("e"))
        .filter(col("e").isNotNull)
      CGraph(edges, ends.groupBy(col("e.i").as("i"))
        .agg(sum(col("e.k")).as("ki"), sum(col("e.s")).as("sw")), None)
    }
  }

  /** A witness graph's (u < v) edges at weight 1. */
  private def unit(und: DataFrame): DataFrame =
    und.select(col("u"), col("v"), lit(1L).as("w"))

  /** A partition of a kernel graph's nodes. `attach` adds the community
    * of `df`'s node column `node` as column `as`: a label table (i, c)
    * is joined in; a label that is a function of the node id needs no
    * join. An injective partition (every node its own community) lets
    * the sweep skip its rollups, since each (node, community) pair then
    * occurs once.
    */
  private sealed trait Part {
    def attach(df: DataFrame, node: String, as: String): DataFrame
    def injective: Boolean = false
    /** The partition as an (i, c) label table over g's nodes. */
    def table(g: CGraph): DataFrame = attach(g.deg, "i", "c").select("i", "c")
  }

  private final case class Labels(lab: DataFrame) extends Part {
    def attach(df: DataFrame, node: String, as: String): DataFrame =
      df.join(lab.select(col("i").as(node), col("c").as(as)), node)
    override def table(g: CGraph): DataFrame = lab
  }

  private final case class LabelOf(f: Column => Column,
      override val injective: Boolean = false) extends Part {
    def attach(df: DataFrame, node: String, as: String): DataFrame =
      df.withColumn(as, f(col(node)))
  }

  /** The id % 64 hash communities the fine sweeps start from. */
  private val hash64 = LabelOf(pmod(_, lit(64)))

  /** Every node its own community: each weighted level's restart. */
  private val singletons = LabelOf(identity, injective = true)

  /** One synchronous sweep from partition p: (i, c, gain), each node's
    * best community and the gain of moving there.
    */
  private def sweep(g: CGraph, p: Part): DataFrame = {
    val kin = p.attach(g.adj, "j", "c").select(col("i"), col("c"), col("w").as("kin"))
    val own = p.attach(g.deg, "i", "c0")
    val stay = own.select(col("i"), col("c0").as("c"), lit(0L).as("kin"))
    val (cand, ktot) =
      if (p.injective)
        (kin.unionByName(stay), own.select(col("c0").as("c"), col("ki").as("ktot")))
      else
        (kin.groupBy("i", "c").agg(sum(col("kin")).as("kin")).unionByName(stay)
          .groupBy("i", "c").agg(max(col("kin")).as("kin")),
          own.groupBy(col("c0").as("c")).agg(sum(col("ki")).as("ktot")))
    val sigma = col("ktot") - when(col("c") === col("c0"), col("ki")).otherwise(lit(0L))
    g.withM(cand.join(ktot, "c").join(own.select("i", "ki", "c0"), "i"))
      .withColumn("gain", round(col("kin").cast(DoubleType) / g.m -
        col("ki").cast(DoubleType) * sigma.cast(DoubleType) / (lit(2.0) * g.m * g.m), 9))
      .groupBy("i")
      .agg(max(struct(col("gain"), (-col("c")).as("negc"))).as("b"))
      .select(col("i"), (-col("b.negc")).as("c"), col("b.gain").as("gain"))
  }

  /** Per community c of p: n_nodes, d_c (degree mass) and e_c (the
    * weight inside c, self-loops at half weight).
    */
  private def rollup(g: CGraph, p: Part): DataFrame = {
    val dC = p.attach(g.deg, "i", "c").groupBy("c")
      .agg(count(lit(1)).as("n_nodes"), sum(col("ki")).as("d_c"),
        (sum(col("sw")) / 2).cast(LongType).as("sh"))
    val inner = p.attach(p.attach(g.edges.filter(col("u") =!= col("v")), "u", "cu"), "v", "cv")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(sum(col("w")).as("iw"))
    dC.join(inner, Seq("c"), "left")
      .select(col("c"), col("n_nodes"), col("d_c"),
        (coalesce(col("iw"), lit(0L)) + col("sh")).as("e_c"))
  }

  /** Q of partition p as a 1-row frame: q, then the `more` aggregates
    * over the per-community terms.
    */
  private def modularity(g: CGraph, p: Part, more: Column*): DataFrame =
    g.withM(rollup(g, p))
      .select(round(col("e_c").cast(DoubleType) / g.m -
        (col("d_c").cast(DoubleType) / (g.m * 2)) *
          (col("d_c").cast(DoubleType) / (g.m * 2)), 9).as("term"))
      .agg(round(sum(col("term").cast(DecimalType(28, 9))).cast(DoubleType), 6).as("q"),
        more: _*)

  /** Phase 2: every community of p becomes one node. Edges roll up by
    * community pair into (u ≤ v, n_edges = edges folded, w); an edge
    * inside a community doubles as it folds into the self-loop, so
    * every community keeps its degree mass.
    */
  private def contract(edges: DataFrame, p: Part): DataFrame =
    p.attach(p.attach(edges, "u", "cu"), "v", "cv")
      .select(least(col("cu"), col("cv")).as("a"), greatest(col("cu"), col("cv")).as("b"),
        when(col("cu") === col("cv") && col("u") =!= col("v"), col("w") * 2)
          .otherwise(col("w")).as("wc"))
      .groupBy(col("a").as("u"), col("b").as("v"))
      .agg(count(lit(1)).as("n_edges"), sum(col("wc")).as("w"))

  /** Louvain phase 1 to its Q dip: sweeps from `start`, whose Q is `q0`,
    * while Q strictly improves, and returns the last improving
    * partition as an (i, c) table and its Q; the first sweep that does
    * not improve is discarded, and the step returns its input unmoved.
    * Throws if Q still improves after `cap` sweeps ([[Cc.fixpoint]]): a
    * mid-ascent partition would under-report the refinement. Zero moves
    * is no stop rule here: the synchronous sweep can swap nodes forever,
    * while Q rises and then dips. Each sweep's labels are one eager,
    * row-count-sized checkpoint ([[Cc.round]]), so plans stay flat and
    * their estimates real; Q is one O(1) driver read per sweep. (A
    * variant deriving Q from the sweep's own kin/ktot, with no edge
    * joins, measured slower: 44 s vs 32 s on the %3 graph; caching the
    * wide pre-argmax frame cost more than the two small edge joins it
    * saved.) `g` is meant to be [[CGraph.held]].
    */
  private def phase1(g: CGraph, start: Part, q0: Double, cap: Int,
      what: String): (DataFrame, Double) = {
    val (lab, q) = Cc.fixpoint(what, cap)((start, q0), moved0 = true) { case st @ (lab, q) =>
      val nxt = Cc.round(sweep(g, lab), lit(false), Seq("i", "c"))._1
      val qn = modularity(g, Labels(nxt)).head().getDouble(0)
      if (qn > q) ((Labels(nxt), qn), true)
      else { Cc.release(nxt); (st, false) } // the dip: the sweep is rejected
    } {
      case (Labels(t), _) => Cc.release(t)
      case _ => () // the start partition: a function of the node id
    }
    (lab.table(g), q)
  }

  /** One synchronous plurality-vote step of label propagation from the
    * id % 64 start: every node of und takes the label most of its
    * neighbors carry, ties to the smaller label — (node, lbl, votes).
    * The vote is max(struct(votes, −lbl)) = (votes DESC, lbl ASC) as an
    * aggregate. Both edge directions come from one explode: a union of
    * two selects re-executes the pair-join + distinct subtree once per
    * direction (see graph_degree_dist).
    */
  private def plurality(und: DataFrame): DataFrame =
    und.select(explode(array(
        struct(col("u").as("node"), (col("v") % 64).as("lbl")),
        struct(col("v").as("node"), (col("u") % 64).as("lbl")))).as("e"))
      .select(col("e.node").as("node"), col("e.lbl").as("lbl"))
      .groupBy("node", "lbl").agg(count(lit(1)).as("votes"))
      .groupBy("node")
      .agg(max(struct(col("votes"), (-col("lbl")).as("neglbl"))).as("b"))
      .select(col("node"), (-col("b.neglbl")).as("lbl"), col("b.votes").as("votes"))

  val queries: Map[String, Q] = keyed(
    "graph_pagerank_step" -> { (s, d) =>
      // One damped power-iteration step (d=0.85) from the uniform start
      // over the bipartite supplier→part link graph (distinct lineitem
      // pairs — the fixture's stand-in for a host→host crawl graph).
      // Node identity is (ntype, id) since supplier and part key spaces
      // overlap. Suppliers have out-edges only, parts in-edges only, so
      // sink (part) mass is dropped rather than redistributed — the
      // documented simplified step; iterating would renormalize.
      // Determinism: each edge contribution (1/N)/outdeg is the same
      // IEEE double expression in both engines, rounded at 1e-12, then
      // summed EXACTLY as DECIMAL(28,12) so the per-destination total is
      // summation-order-free; the damped blend rounds at 1e-12 again.
      val edges = lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      val nodes = edges.select(lit("s").as("ntype"), col("src").as("node_id")).distinct()
        .unionByName(
          edges.select(lit("p").as("ntype"), col("dst").as("node_id")).distinct())
      val nRow = nodes.agg(count(lit(1)).as("n"))
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val contrib = edges.join(outdeg, "src").crossJoin(broadcast(nRow))
        .select(col("dst"),
          round(lit(1.0) / col("n") / col("outdeg"), 12).as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib").cast(DecimalType(28, 12))).cast(DoubleType).as("msum"))
      nodes.crossJoin(broadcast(nRow))
        .join(contrib,
          col("ntype") === lit("p") && col("node_id") === col("dst"), "left")
        .select(col("ntype"), col("node_id"),
          round(lit(0.15) / col("n") + lit(0.85) * coalesce(col("msum"), lit(0.0)), 12)
            .as("pr"))
        .orderBy("ntype", "node_id")
    },

    "graph_pagerank_converged" -> { (s, d) =>
      // Full damped PageRank (d = 0.85) iterated TO THE FIXPOINT — the
      // converged quality prior a crawl-curation pipeline actually
      // ships, where graph_pagerank_step documents one iteration
      // (VERDICT r9 item 3). Two additions over the step: the driver
      // loop, and the DANGLING-MASS term the one-step version documents
      // away — parts are sinks (no out-edges), so their mass is
      // redistributed uniformly each round (the standard published
      // treatment) instead of leaking.
      //
      // Oracle-able convergence (the graph_k_core idempotence
      // precedent, adapted to numerics): scores are kept SCALED by n
      // (q = pr·n, O(1) values) and every round QUANTIZES q at 1e-4 —
      // the iteration is then a map on quantized vectors, and once a
      // round leaves the vector exactly unchanged, every further round
      // is a no-op. Spark stops at that stationary point; the oracle
      // unrolls a FIXED 100 rounds of the identical arithmetic —
      // rounds past stationarity change nothing, so the hash gate
      // compares the exact same vector. 1e-4 on n-scaled values is the
      // GATE precision (production would run the same loop to 1e-6:
      // geometric 0.85-rate convergence costs ~ln(1/tol)/0.163 rounds,
      // so tolerance is a cost knob, not a structural change — the
      // first cut at 1e-6 measured 41 s of pure per-round fixed
      // overhead at sf0.1, ~100 rounds). Per-round arithmetic is
      // order-free: per-edge contribution rounded at 1e-9 then summed
      // as DECIMAL(38,9); dangling sum exact over the quantized q.
      //
      // Scale shape per round: ONE data shuffle (contribution sum by
      // dst; the corpus-side join auto-broadcasts the O(|V|)-row pr
      // table under the threshold and degrades to a shuffle join above
      // it — no forced hint, the graph_triangles rationale). Each round
      // is one [[Cc.round]]: its checkpoint job also observes the
      // dangling mass D of the new q and the count of nodes whose q
      // changed, each node carrying its previous q through the round's
      // join. Zero changed nodes is itself the proof of a fixed point.
      // n is the init round's observed row count.
      //
      // ARTIFACT MEMO (round 12): the converged vector is the shipped
      // crawl-quality prior (this scaladoc's own framing) — trained
      // once per dataset into a PERSISTED parquet artifact table and
      // re-READ on every consumption (cachedTable, not the driver-held
      // form: the emission is node-sized, i.e. corpus-proportional —
      // r12 review finding; floor RESET per the BASELINE.md rule; the
      // training path stays timed as rep1 and in SCALING).
      graft.ArtifactMemo.cachedTable(s,
          artifactKey(d, "lineitem") + "#pagerank") {
      val edges = lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val wed = edges.join(outdeg, "src").persist() // static, probed every round
      // Exact over the quantized q (a decimal sum): deterministic.
      val dmass = coalesce(sum(when(col("ntype") === lit("p"), col("q"))
        .cast(DecimalType(38, 4))), lit(0)).cast(DoubleType).as("dmass")
      def step(cur: DataFrame, dOverN: Double): DataFrame = {
        val contrib = cur.filter(col("ntype") === lit("s"))
          .join(wed, col("node_id") === col("src"))
          .select(col("dst"), round(col("q") / col("outdeg"), 9).as("c"))
          .groupBy("dst")
          // Exact long capture (Tables.lsum): identical to the decimal
          // sum while per-node Σ|c| < 9e6 (c ≤ q ≤ total mass / node —
          // holds for graphs to ~10⁹ in-edges per node at q ≤ 1e-3·n).
          .agg(lsum(col("c"), 9).as("msum"))
        cur.select(col("ntype"), col("node_id"), col("q").as("prev"))
          .join(contrib, col("ntype") === lit("p") && col("node_id") === col("dst"), "left")
          .select(col("ntype"), col("node_id"), col("prev"),
            round(lit(0.15) + lit(0.85) *
              (coalesce(col("msum"), lit(0.0)) + lit(dOverN)), 4)
              .as("q"))
      }
      val out = Seq("ntype", "node_id", "q")
      val (q0, r0) = Cc.round(
        wed.select(lit("s").as("ntype"), col("src").as("node_id")).distinct()
          .unionByName(
            wed.select(lit("p").as("ntype"), col("dst").as("node_id")).distinct())
          .withColumn("q", lit(1.0)),
        lit(false), out, dmass)
      val n = r0.getAs[Long]("rows")
      val (q, _) = Cc.fixpoint("graph_pagerank_converged", 100)((q0, r0), moved0 = true) {
        case (cur, r) =>
          // Quantized q compares EXACTLY (every value is round(·, 4)).
          val (next, rn) = Cc.round(step(cur, r.getAs[Double]("dmass") / n),
            col("q") =!= col("prev"), out, dmass)
          // D is a sum: a task counted twice would shift it, and it would
          // also add rows, so a double count fails here instead.
          require(rn.getAs[Long]("rows") == n,
            s"graph_pagerank_converged: a round observed " +
              s"${rn.getAs[Long]("rows")} rows, not $n")
          ((next, rn), rn.getAs[Long]("changed") != 0L)
      } { case (cur, _) => Cc.release(cur) }
      wed.unpersist()
      // q backs the returned plan and is the caller's to drain
      // (CacheDrain).
      q.select(col("ntype"), col("node_id"), col("q").as("pr_n"))
      }.orderBy("ntype", "node_id")
    },

    "graph_hits_converged" -> { (s, d) =>
      // HITS iterated TO THE FIXPOINT — graph_hits_step's one
      // mutual-recursion pass looped until hubs and authorities are
      // exactly stationary (completing the to-convergence family
      // VERDICT r9 opened with pagerank/kmeans: hubs/authorities are
      // the crawl-seeding signal a single PageRank score can't
      // express). Same oracle-able-convergence construction as
      // graph_pagerank_converged: scores live QUANTIZED at 1e-4 (the
      // pagerank GATE precision — tolerance is a cost knob, not a
      // structural change: rounds scale with ln(1/tol) at the spectral
      // rate, and the 1e-6 form of this loop measured 10.8 s warm at
      // sf0.1 vs ~6 s at 1e-4; production runs the same loop tighter),
      // each round's update is a pure function of the previous
      // quantized state, so stationarity is exact equality and rounds
      // past the stationary point are no-ops — the oracle unrolls a
      // fixed 60 rounds of identical arithmetic.
      //
      // Normalization is the one structural wrinkle HITS adds: the
      // standard schedule rescales both sides every round (raw scores
      // otherwise grow geometrically by the principal singular value),
      // and the divisor must be the CURRENT round's max — a
      // previous-round-max shortcut was tried first and is genuinely
      // unstable (the scale obeys s_k ≈ λ·s_{k-1}/max(λ·s_{k-2}·u), a
      // ratio recursion that oscillates through 1e5 → 1e-5 until the
      // 1e-6 quantizer flushes the vector to zero — measured r0-r3
      // maxima 41 → 5.6e5 → 1.3e4 → 7e-5). So each side of a round is
      // one [[Cc.round]] that observes its max on its own checkpoint
      // job, and the driver reads it back (the MLlib-literal pattern).
      // With current-max normalization every quantized score lives in
      // [0,1] and the converged maxima are exactly 1 — the textbook
      // max-normalized HITS solution. Stationarity needs only the
      // A-SIDE: each authority carries its previous raw through the
      // authority groupBy, and qh = g(qa) and qa' = f(qh) are pure
      // functions of the quantized state, so zero changed authorities
      // drag the h-side with them and prove the fixed point. Per-edge
      // sums capture the 4-dp scores in DECIMAL(38,6) (exact,
      // order-free); raw→double and the division are identical IEEE in
      // both engines.
      //
      // Scale shape per round: two O(edges) key shuffles (authority
      // sum by dst, hub sum by src), map-side combine bounding every
      // task's emission by its distinct-key count; the state stays on
      // the executors (drivers see 3 scalars). The checkpoint per side
      // truncates lineage (the ccLabels necessity measurement).
      //
      // ARTIFACT MEMO (round 12): the converged hub/authority vector
      // is the shipped crawl-seeding prior — trained once per dataset
      // into a persisted parquet artifact table and re-read on every
      // consumption (cachedTable: node-sized emission — r12 review;
      // floor RESET; train path timed as rep1).
      graft.ArtifactMemo.cachedTable(s, artifactKey(d, "lineitem") + "#hits") {
      val edges = lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
        .distinct().persist()
      val raw = Seq("node_id", "raw")
      val noRaw = lit(null).cast(DoubleType)
      // Round 0: every hub at raw 1 (so qh = 1); no authority yet.
      val hRaw0 = edges.select(col("src").as("node_id")).distinct().withColumn("raw", lit(1.0))
      val aRaw0 = edges.limit(0).select(col("dst").as("node_id"), noRaw.as("raw"))
      val (aRaw, hRaw, ma, mh) = Cc.fixpoint("graph_hits_converged", 60)(
          (aRaw0, hRaw0, 1.0, 1.0), moved0 = true) { case (aRaw, hRaw, _, mh) =>
        val hubQ = hRaw.select(col("node_id").as("src"), round(col("raw") / lit(mh), 4).as("qh"))
        val (a, ra) = Cc.round(
          edges.join(hubQ, "src").select(col("dst").as("node_id"), col("qh"), noRaw.as("prev"))
            .unionByName(aRaw.select(col("node_id"), noRaw.as("qh"), col("raw").as("prev")))
            .groupBy("node_id")
            // Exact long capture (Tables.lsum): qh is 1e-4-quantized in
            // [0,1], so per-node Σ|qh| < 9e9 holds to ~9 billion in-edges.
            .agg(lsum(col("qh"), 6).as("raw"), max(col("prev")).as("prev")),
          !(col("raw") <=> col("prev")), raw, max(col("raw")).as("ma"))
        val ma = ra.getAs[Double]("ma")
        val (h, rh) = Cc.round(
          edges.join(a.select(col("node_id").as("dst"),
              round(col("raw") / lit(ma), 4).as("qa")), "dst")
            .groupBy(col("src").as("node_id"))
            .agg(lsum(col("qa"), 6).as("raw")),
          lit(false), raw, max(col("raw")).as("mh"))
        ((a, h, ma, rh.getAs[Double]("mh")), ra.getAs[Long]("changed") != 0L)
      } { case (aRaw, hRaw, _, _) => Cc.release(aRaw); Cc.release(hRaw) }
      edges.unpersist()
      aRaw.select(lit("p").as("ntype"), col("node_id"), round(col("raw") / lit(ma), 4).as("score"))
        .unionByName(hRaw.select(lit("s").as("ntype"), col("node_id"),
          round(col("raw") / lit(mh), 4).as("score")))
      }.orderBy("ntype", "node_id")
    },

    "graph_triangles" -> { (s, d) =>
      // Exact triangle count over the part co-occurrence graph (parts
      // sharing an order are connected — the fixture's stand-in for a
      // doc-link or co-citation graph; clustering coefficient and
      // community signals start here). The distributed shape is the
      // standard degree-ordered orientation: each undirected edge is
      // directed from its (degree, id)-smaller endpoint, which bounds
      // every node's OUT-degree at O(sqrt(m)) — so the wedge self-join,
      // the only superlinear step, generates at most m^1.5 candidates
      // total instead of sum(deg²) on hub nodes. Each triangle is then
      // counted exactly once by the closure equi-join. No driver
      // collect, no cartesian: per-order pair expansion is bounded by
      // order size, the wedge join is an equi-join on src with an
      // ordering residual, and closure is an equi-join on (y, z).
      // The %3 node restriction bounds the GATE query the same way
      // jaccard's %5 and the dedup truth sets do: this synthetic
      // co-order graph is abnormally dense (sf0.1: 20k nodes, 1.2M
      // edges, avg deg 120 → 41M oriented wedges even after the
      // orientation bound — measured, ~50 s of real closure-join work),
      // where a crawl graph at the same edge count is ~100× sparser.
      // The subgraph (6.7k nodes, 132k edges, 1.4M wedges) witnesses
      // the identical schedule at a cost that reflects real graphs.
      val und = undirectedEdges(s, d, 3)
        .persist() // 3 consumers: degree count, orientation, edge count
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // Degree table is O(|V|) rows — NO broadcast hint, matching
      // ccLabels' at-scale pattern: under the threshold Catalyst
      // auto-broadcasts anyway (it does at every test tier), and an
      // oversized |V| degrades to a shuffle join instead of OOMing
      // the executors a forced hint would.
      val ordered = und
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      val fwd = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val ori = ordered.select(
          when(fwd, col("u")).otherwise(col("v")).as("src"),
          when(fwd, col("v")).otherwise(col("u")).as("dst"),
          when(fwd, col("dv")).otherwise(col("du")).as("ddeg"))
        .persist() // 3 consumers: both wedge sides + closure probe
      // Join-strategy note (measured, SCALING.md): the wedge self-join's
      // input can dip under the broadcast threshold while its OUTPUT
      // explodes m^1.5-fold; AQE's size-only runtime promotion then
      // picks a broadcast build that runs ~3x slower than the merge
      // join (observed only at the synthetic 2x tier). At bench scale
      // the promotion is right, and at production scale the input never
      // sits under the threshold — so no hint: pinning merge here was
      // measured 3x WORSE at 1x. A cluster deployment that hits the
      // crossover window would set the hint per-site.
      val wedges = ori.as("a").join(ori.as("b"),
          col("a.src") === col("b.src") &&
            (col("a.ddeg") < col("b.ddeg") ||
              (col("a.ddeg") === col("b.ddeg") && col("a.dst") < col("b.dst"))))
        .select(col("a.dst").as("y"), col("b.dst").as("z"))
      val tri = wedges
        .join(ori.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
        .agg(count(lit(1)).as("n_triangles"))
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(tri))
    },

    "graph_hits_step" -> { (s, d) =>
      // One HITS iteration over the supplier→part bipartite graph —
      // pagerank's mutual-recursion sibling (hubs score by the
      // authorities they point at, authorities by the hubs pointing
      // in; the crawl-seeding signal PageRank's single score can't
      // express). From the uniform hub start the first authority pass
      // is a(p) = indeg(p) and the hub update is h(s) = Σ_{s→p} a(p)
      // — EXACT INTEGER sums end-to-end (no per-edge double dust, the
      // determinism trap pagerank needed decimal capture for), with
      // the single division deferred to the final max-normalization.
      // Shape: two groupBys over the edge list (O(edges) shuffle
      // bytes), max as a 1-row broadcast. Emission: both node sides,
      // scores in [0,1] rounded at 1e-9.
      // Persisted rollups (round 15, VERDICT r14 item 4): the old plan
      // referenced auth from THREE branches (hub build, its own max,
      // emission) and hub from two — every reference re-ran the full
      // O(edges) groupBy over the persisted edge list (measured: a
      // ~10-wave cascade of 3-task stages, 1.7 s warm with ≤0.6 s of
      // real CPU). Persist auth and the unioned raw-score table, attach
      // the per-side max by a 2-row broadcast ntype join instead of two
      // scalar crossJoins: each rollup now runs ONCE and the plan is
      // three jobs, not ten. Same exact-integer arithmetic, same final
      // division and rounding.
      val edges = lineitem(s, d)
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
        .distinct().persist()
      val auth = edges.groupBy("dst").agg(count(lit(1)).as("a")).persist()
      val scores = auth
        .select(lit("p").as("ntype"), col("dst").as("node_id"), col("a").as("raw"))
        .unionByName(edges.join(auth, "dst")
          .groupBy("src").agg(sum(col("a")).as("raw"))
          .select(lit("s").as("ntype"), col("src").as("node_id"), col("raw")))
        .persist()
      val maxes = scores.groupBy("ntype").agg(max(col("raw")).as("mx"))
      scores.join(broadcast(maxes), "ntype")
        .select(col("ntype"), col("node_id"),
          round(col("raw").cast(DoubleType) / col("mx"), 9).as("score"))
        .orderBy("ntype", "node_id")
    },

    "graph_clustering_coefficient" -> { (s, d) =>
      // Per-node LOCAL clustering coefficient — cc(v) = 2·t(v) /
      // (deg·(deg−1)), the community-density signal triangle counting
      // exists to feed (spam-farm rings score ~1, crawl frontiers ~0).
      // Same degree-ordered orientation as graph_triangles (out-degree
      // bounded at O(√m), wedge join ≤ m^1.5 candidates), but the
      // closure join KEEPS the triangle triples and charges each
      // triangle to all three corners via one explode — per-node
      // counts from one extra O(#triangles) rollup, no second pass
      // over edges. The %10 subgraph bounds the gate cost exactly as
      // k_core's does. All inputs to cc are exact longs; the one
      // division is identical IEEE, rounded at 1e-6.
      val und = undirectedEdges(s, d, 10)
        .persist()
      val deg = und.select(col("u").as("node"))
        .unionAll(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // Degree attach: no broadcast hint (same rationale as
      // graph_triangles' — O(|V|) rows must be allowed to degrade to
      // a shuffle join when the node table outgrows the threshold).
      val ordered = und
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      val fwd = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val ori = ordered.select(
          when(fwd, col("u")).otherwise(col("v")).as("src"),
          when(fwd, col("v")).otherwise(col("u")).as("dst"),
          when(fwd, col("dv")).otherwise(col("du")).as("ddeg"))
        .persist()
      val wedges = ori.as("a").join(ori.as("b"),
          col("a.src") === col("b.src") &&
            (col("a.ddeg") < col("b.ddeg") ||
              (col("a.ddeg") === col("b.ddeg") && col("a.dst") < col("b.dst"))))
        .select(col("a.src").as("x"), col("a.dst").as("y"), col("b.dst").as("z"))
      val triNodes = wedges
        .join(ori.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_tri"))
      deg.filter(col("deg") >= 2)
        .join(triNodes, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          round(coalesce(col("n_tri"), lit(0L)).cast(DoubleType) * 2 /
            (col("deg") * (col("deg") - 1)), 6).as("cc"))
        .orderBy("node")
    },

    "graph_jaccard_neighbors" -> { (s, d) =>
      // Per-node most-similar neighbor by neighborhood Jaccard — the
      // node-similarity primitive behind "related items" / host-level
      // near-dup detection on the link graph. Candidates come from the
      // wedge EQUI-join on the shared neighbor (two nodes with
      // disjoint neighborhoods never pair, so no n² comparison);
      // |N(u)∩N(v)| is the wedge count, |N(u)∪N(v)| = du+dv-common
      // from a broadcast degree table (|V| rows), and the per-node
      // argmax is a row_number window over the candidate pairs —
      // partitioned by node, so it shuffles candidate pairs, never the
      // corpus. Determinism: common/du/dv are exact longs; the Jaccard
      // double is the same correctly-rounded division in both engines,
      // and the argmax tie-breaks on (jac DESC, nbr ASC). The %5
      // node filter bounds the gate output; the schedule itself is
      // degree-bounded (wedges ≤ Σ deg(shared)²), the published
      // hub-salting escape applying if a crawl graph needs it.
      val op = lineitem(s, d).filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val und = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("u"), col("y.p").as("v")).distinct()
      // wide-by-nbr (round 15, VERDICT r14 item 1): the wedge self-join
      // is the query's CPU (measured: 2.2 s of pair-generation CPU on
      // the 2 tasks byte-based AQE coalescing left it). Pinning the
      // persisted adj to cluster-width hash(nbr) IS the join's required
      // distribution, so the self-join reads the cache with NO exchange
      // at any scale and the pair CPU runs cluster-wide. nbr is
      // skew-bounded here (co-order graph, order-size-bounded degrees).
      val adj = wide(und.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(und.select(col("v").as("node"), col("u").as("nbr"))),
          col("nbr"))
        .persist() // 3 consumers: degree + both wedge sides
      val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      // Same join-strategy crossover as graph_triangles' wedge join
      // (see note there): no hint, AQE's pick is right at bench and
      // production sizes.
      val common = adj.as("a").join(adj.as("b"),
          col("a.nbr") === col("b.nbr") && col("a.node") =!= col("b.node"))
        .groupBy(col("a.node").as("node"), col("b.node").as("cand"))
        .agg(count(lit(1)).as("common"))
      // Degree attach: no broadcast hint either — O(|V|) rows, same
      // degrade-don't-OOM rationale as the triangles degree joins.
      val scored = common
        .join(deg.select(col("node"), col("deg").as("dn")), "node")
        .join(deg.select(col("node").as("cand"), col("deg").as("dc")),
          "cand")
        .withColumn("jac",
          floor(col("common").cast(DoubleType)
            / (col("dn") + col("dc") - col("common")) * 1000000 + 0.5)
            .cast(DoubleType) / 1000000.0)
      // Per-node argmax as an AGGREGATE, not a rank window (round 14,
      // guide §2.3 "aggregate before you shuffle"): max over
      // struct(jac, −cand, common) is exactly (jac DESC, cand ASC) —
      // common is only compared on a full (jac, cand) tie, i.e. the
      // same row — and the hash aggregate partial-combines map-side,
      // so the exchange carries ≤|V| rows instead of every candidate
      // pair, and the per-partition sort the window needed is gone.
      scored.groupBy("node")
        .agg(max(struct(col("jac"), (-col("cand")).as("negc"),
          col("common"))).as("b"))
        .select(col("node"), (-col("b.negc")).as("best_match"),
          col("b.common").as("common"), col("b.jac").as("jac"))
        .orderBy("node")
    },

    "graph_adamic_adar" -> { (s, d) =>
      // Per-node best link-prediction candidate by Adamic–Adar —
      // jaccard_neighbors' frequency-weighted upgrade: a shared
      // neighbor contributes 1/ln(deg(w)), so two pages co-linked by
      // an obscure hub count far more than two co-linked by a
      // mega-hub (the recommender/crawl-frontier scoring standard).
      // Same candidate schedule as jaccard_neighbors: the wedge
      // EQUI-join on the shared neighbor generates pairs, so disjoint
      // neighborhoods never pair. Determinism: 1/ln(deg) is libm —
      // snapped to the 1e-9 grid (the MI recipe) and DECIMAL-summed
      // per pair, so the AA score is exact and order-free; the
      // per-node argmax window orders by that exact decimal (ties →
      // cand ASC) and only the EMISSION casts to double.
      val op = lineitem(s, d).filter(col("l_partkey") % 5 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val und = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("u"), col("y.p").as("v")).distinct()
      // NO wide-by-nbr here, unlike jaccard_neighbors (measured, round
      // 15): this wedge feeds a groupBy(node,cand) aggregate directly
      // (no per-pair set arithmetic), so the pair stage is byte-bound,
      // not CPU-dense — the extra pinned exchange read +0.2-0.3 s in
      // every bench/Prof reading (1.11 base vs 1.33-1.41 widened) and
      // was reverted per the A/B protocol.
      val adj = und.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(und.select(col("v").as("node"), col("u").as("nbr")))
        .persist() // 3 consumers: degree + both wedge sides
      val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      val pairs = adj.as("a").join(adj.as("b"),
          col("a.nbr") === col("b.nbr") && col("a.node") < col("b.node"))
        .select(col("a.node").as("node"), col("b.node").as("cand"),
          col("a.nbr").as("w"))
      // Center degree attaches AFTER the wedge join, not before: the
      // symmetric adj⋈adj self-join reuses ONE exchange for both
      // sides, and pre-joining the weight onto one side breaks that
      // reuse (measured: attach-before 4.2 s vs attach-after 3.1 s at
      // sf0.1); deg (|V| rows ≤ edges) lands on the wedge stream as a
      // map-side join under the auto-broadcast threshold. No
      // broadcast hint (degrade-don't-OOM).
      val aa = pairs
        .join(deg.select(col("node").as("w"), col("deg").as("dw")), "w")
        .groupBy("node", "cand")
        .agg(sum(round(lit(1.0) / log(col("dw")), 9)
          .cast(DecimalType(28, 9))).as("aa_dec"))
      // Argmax as an aggregate, not a rank window (round 14 — the
      // jaccard_neighbors rationale): max(struct(aa_dec, −cand)) IS
      // (aa_dec DESC, cand ASC), partial-combines map-side, and drops
      // the window's per-partition sort; the exchange carries ≤|V|
      // rows instead of every scored pair.
      aa.groupBy("node")
        .agg(max(struct(col("aa_dec"), (-col("cand")).as("negc"))).as("b"))
        .select(col("node"), (-col("b.negc")).as("best_cand"),
          col("b.aa_dec").cast(DoubleType).as("aa"))
        .orderBy("node")
    },

    "graph_assortativity" -> { (s, d) =>
      // Degree assortativity — Pearson correlation of endpoint degrees
      // over the edge list (both orientations): r > 0 means hubs link
      // hubs (social nets), r < 0 hubs link leaves (the web, most
      // crawl graphs). THE one-number topology audit behind the
      // hub-salting decision graph_degree_dist motivates. Shape: edge
      // derivation + one degree shuffle, then ONE O(edges) join
      // attaches both endpoint degrees (no broadcast hint — the
      // degree-join rationale) and a global aggregate collapses to a
      // 1-row exact-sum state; n, Σd, Σd², Σd_u·d_v all accumulate as
      // exact DECIMAL(38,0) integers, r is one IEEE expression on the
      // 1-row result.
      val und = undirectedEdges(s, d, 10)
        .persist() // 2 consumers: degree count + orientation fan-out
      val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val e2 = und.select(col("u").as("a"), col("v").as("b"))
        .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      val d38 = DecimalType(38, 0)
      val sums = e2
        .join(deg.select(col("node").as("a"), col("deg").cast(d38).as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").cast(d38).as("db")), "b")
        .agg(count(lit(1)).as("n_dir"),
          sum(col("da")).cast(DoubleType).as("sx"),
          sum(col("db")).cast(DoubleType).as("sy"),
          sum(col("da") * col("da")).cast(DoubleType).as("sxx"),
          sum(col("db") * col("db")).cast(DoubleType).as("syy"),
          sum(col("da") * col("db")).cast(DoubleType).as("sxy"))
      val nD = col("n_dir").cast(DoubleType)
      sums.select((col("n_dir") / 2).cast(LongType).as("n_edges"),
        round((nD * col("sxy") - col("sx") * col("sy")) /
          (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
            sqrt(nD * col("syy") - col("sy") * col("sy"))), 6)
          .as("assortativity"))
    },

    "graph_degree_dist" -> { (s, d) =>
      // Degree distribution of the co-order part graph in power-of-two
      // buckets — the power-law audit run before any graph algorithm
      // ships (it decides whether hub-salting is needed). Bucket =
      // BINARY DIGIT COUNT of the degree (⌊log2⌋+1 computed exactly on
      // integers via bin(); a floating log2 could tie at bucket edges).
      // Shape: edge derivation + one degree shuffle; the histogram
      // rollup reduces |V| rows to ≤64 — map-side combine makes the
      // second shuffle bytes trivial at any graph size.
      // wide-by-o (round 15, VERDICT r14 item 4): the per-order pair
      // expansion + partial edge-distinct is the query's CPU (measured:
      // 1.6 s on the 3 tasks AQE left the self-join stage). hash(o) at
      // cluster width IS the self-join's required distribution — one
      // exchange, reused by both sides, pair CPU cluster-wide; order
      // sizes bound the per-key skew.
      val op = wide(lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct(),
        col("o"))
      val und = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("u"), col("y.p").as("v")).distinct()
      // Both endpoints from ONE pass: a unionAll of two selects over
      // `und` re-executes the whole pair-join + distinct subtree per
      // branch (measured 2× wall at this graph's size); explode emits
      // u and v from each edge row instead.
      und.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .groupBy(length(bin(col("deg"))).as("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .orderBy("bucket")
    },

    "graph_modularity" -> { (s, d) =>
      // Modularity Q of the one-step LPA partition — the number that
      // says whether a community assignment is BETTER THAN CHANCE
      // (0 = random, >0.3 = real structure), the acceptance test every
      // community detector reports. graph_label_prop's plurality step
      // (same %3 graph) scored by the kernel's Q, so the two queries
      // read as detect → score. Shape: e_c joins the edge list to the
      // label table on BOTH endpoints (two O(edges) equi-joins); d_c
      // rides the node-sized degree table; m attaches as a 1-row
      // broadcast.
      val und = undirectedEdges(s, d, 3)
        .persist() // consumed by votes, deg, e_c, and m
      val labels = plurality(und).select(col("node").as("i"), col("lbl").as("c"))
        .persist() // joined onto both edge endpoints + the degree table
      val g = CGraph.of(unit(und))
      modularity(g, Labels(labels), count(lit(1)).as("n_communities"))
        .crossJoin(broadcast(g.mRow.select(col("m").as("m_edges"))))
        .select(col("n_communities"), col("m_edges"), col("q"))
    },

    "graph_louvain_step" -> { (s, d) =>
      // One synchronous Louvain phase-1 sweep — the REFINE step that
      // completes the community trio (graph_label_prop detects,
      // graph_modularity scores, this moves): the kernel's sweep over
      // the %3 co-occurrence graph from the id % 64 communities
      // label_prop steps from. The start is arithmetic, so no label
      // table is joined: kin rolls up by (node, neighbor id % 64), and
      // m attaches as a 1-row broadcast (the graph_modularity attach) —
      // nothing denser than the edge list.
      val g = CGraph.of(unit(undirectedEdges(s, d, 3)
        .persist())) // consumed by adj, deg, and m
      hash64.attach(sweep(g, hash64), "i", "c0")
        .select(col("i").as("node_id"), col("c0").as("cid_old"),
          col("c").as("cid_new"), (col("c") =!= col("c0")).as("moved"),
          col("gain"))
        .orderBy("node_id")
    },

    "graph_louvain_converged" -> { (s, d) =>
      // Louvain phase-1 iterated to ITS OWN convergence criterion
      // (VERDICT r10 item 4): the kernel's Q-dip loop ([[phase1]]) —
      // repeat the sweep WHILE MODULARITY STRICTLY IMPROVES, stop at the
      // first non-improving sweep, emit the last improving partition,
      // the textbook phase-1 contract ("repeat until no gain"). Zero-
      // moves stationarity was MEASURED to be the wrong criterion for
      // the synchronous schedule: the sweep enters a persistent swap
      // limit cycle (~451 nodes at sf0.01, ~4 900 at sf0.1, flat to
      // round 200), and an alternating-parity dampener converges at
      // sf0.01 (52 sub-rounds) but still cycles past 200 at sf0.1; both
      // probed on the %3 graph. Q, however, rises monotonically and dips
      // exactly once inside the cap at both gate scales — so the
      // Q-monotone rule is both the honest algorithmic contract and a
      // deterministic, bounded stop.
      //
      // Oracle-able without a fixpoint: the stop round k* = min{k : Q_k
      // ≤ Q_{k-1}} is a pure function of the exact Q sequence — the
      // oracle unrolls the 40-round cap, reproduces the Q ladder,
      // computes k* with a self-join, and emits lab_{k*−1}. The cap +
      // require make a never-dipping trajectory a loud failure on the
      // Spark side and a zero-row emission in the oracle — either way a
      // red gate, never a silent wrong answer.
      //
      // %10 witness graph (the graph_clustering_coefficient bound, NOT
      // the step's %3): the iterated sweep pays its stage overhead per
      // ROUND, and the %3 graph's Q ladder runs 23 sweeps at sf0.1 vs
      // 9 here (measured in DuckDB replicas of the full ladder) — the
      // smaller witness proves the same loop at a third of the wall.
      //
      // ARTIFACT MEMO (round 12, the sim_pq_train_converged precedent):
      // the loop runs once per dataset; repeat invocations and
      // graph_louvain_full re-seed from the held fixpoint rows. The
      // one-time training cost sits outside the floor's timed repeats
      // exactly as the PQ codebook's does (BASELINE.md r11 floor-reset
      // rule); the floor is RESET to the re-seeded emission.
      val art = louvain10Art(s, d) // single-flight: trains at most once
      s.read.parquet(art.labelsPath)
        .select(col("i").as("node_id"), col("c").as("cid"))
        .orderBy("node_id")
    },


    "graph_louvain_coarsen" -> { (s, d) =>
      // Louvain PHASE 2 — the kernel's contraction, the step the outer
      // Louvain loop alternates with phase 1 (sweep → contract → sweep
      // the supernode graph): every community becomes one supernode,
      // inter-community edge counts become weighted super-edges, and
      // intra-community edges fold into a self-loop of weight 2·e_c.
      // Input partition is graph_louvain_step's one-sweep argmax, so the
      // two operators read as phase1 → phase2. Scale shape: two
      // O(edges) label joins + a ≤|C|²-bounded pair rollup.
      // DELIBERATELY LIVE even though louvainArt holds this exact
      // emission: the family needs one benched witness of the
      // contraction's edge-linear cost (the g-tier SCALING rows key on
      // it), and re-emitting the artifact here would leave the
      // contraction's plan shape unexercised — labels re-seed, the
      // contraction is this query's own work.
      contract(unit(undirectedEdges(s, d, 3)), Labels(louvainStepLabels(s, d)))
        .select(col("u").as("c_a"), col("v").as("c_b"), col("n_edges"),
          col("w").as("weight"))
        .orderBy("c_a", "c_b")
    },

    "graph_louvain_level2" -> { (s, d) =>
      // The WEIGHTED phase-1 sweep over the coarsened supernode graph —
      // the step multi-level Louvain alternates with contraction
      // (phase1 → coarsen → THIS → coarsen → …): the kernel's sweep over
      // graph_louvain_coarsen's contraction from the standard singleton
      // restart (every supernode its own community), so kin(i, {j}) =
      // w_ij, Σtot({j}) = k_j (weighted degree INCLUDING the self-loop)
      // and staying scores 0. The restart is arithmetic (label = id),
      // so no label table is joined and no rollup runs; m attaches as a
      // 1-row broadcast. Scale shape: the coarse graph of a 10⁹-node
      // corpus still has millions of supernodes, so the sweep keeps the
      // fine step's edge-rollup shape.
      // Input re-seeds from the once-per-dataset artifact (louvainArt —
      // VERDICT r11 item 2): the ≤2 080-row contraction arrives as a
      // broadcast-sized local relation, so the plan branches that
      // consume it share it for free — the r11 shape (eager checkpoint
      // of a live coarsen subtree, itself the fix for the measured
      // 12.5 s first-compute race) paid the whole step+contraction
      // subtree inside this query; the memo pays it once per dataset.
      sweep(CGraph.of(louvainCoarseTable(s, d)), singletons)
        .select(col("i").as("node_id"), col("c").as("cid_new"),
          (col("c") =!= col("i")).as("moved"), col("gain"))
        .orderBy("node_id")
    },

    "graph_coarsen_invariant" -> { (s, d) =>
      // The coarsening CORRECTNESS WITNESS: modularity computed along
      // two INDEPENDENT paths — Q_fine, the kernel's Q of the step
      // labels over the fine graph, and Q_coarse over the CONTRACTED
      // graph's own tables (singleton partition: Q = Σ_i [sw_i/2m −
      // (k_i/2m)²] with sw = the 2·e_c self-loops, k = weighted degree,
      // m = half the degree-mass sum), written out here on purpose
      // rather than taken from the kernel — must be EXACTLY equal: the
      // 2·e_c convention preserves degree mass, so per-community terms
      // are the same rationals (e_c/m vs 2e_c/2m — IEEE division is
      // correctly rounded, so equal quotients round identically), the
      // 1e-9 snap and decimal sum commute, and the equality is exact
      // double equality, not an epsilon. A bookkeeping slip anywhere in
      // the contraction (missed cut edge, single-counted self-loop,
      // dropped community) breaks the flag. Scale shape: the fine path
      // is two O(edges) label joins; the coarse path is ≤|C|²-row
      // arithmetic; both m's are O(1) driver reads.
      val lab = Labels(louvainStepLabels(s, d))
      val g = CGraph.of(unit(undirectedEdges(s, d, 3)
        .localCheckpoint(eager = true))) // fine path + contraction consume it
        .readM
      val qFine = modularity(g, lab).select(col("q").as("q_fine"))
      // Coarse path: contract independently, then singleton-partition
      // weighted modularity over the CONTRACTED tables only.
      val cw = contract(g.edges, lab)
        .select(col("u").as("c_a"), col("v").as("c_b"), col("w").as("weight"))
        .localCheckpoint(eager = true) // adjacency + self-loops + degrees
      val adjw = cw.filter(col("c_a") =!= col("c_b"))
        .select(col("c_a").as("i"), col("weight").as("w"))
        .unionByName(cw.filter(col("c_a") =!= col("c_b"))
          .select(col("c_b").as("i"), col("weight").as("w")))
      val degw = adjw.groupBy("i").agg(sum(col("w")).as("nw"))
        .join(cw.filter(col("c_a") === col("c_b"))
          .select(col("c_a").as("i"), col("weight").as("sw")), Seq("i"), "full")
        .select(col("i"),
          (coalesce(col("nw"), lit(0L)) + coalesce(col("sw"), lit(0L)))
            .as("ki"),
          coalesce(col("sw"), lit(0L)).as("sw"))
      val m2 = degw.agg((sum(col("ki")) / 2).cast(LongType)).head().getLong(0)
      val qCoarse = degw
        .select(round(
          col("sw").cast(DoubleType) / lit(2.0 * m2) -
            (col("ki").cast(DoubleType) / lit(2.0 * m2)) *
              (col("ki").cast(DoubleType) / lit(2.0 * m2)), 9).as("term"))
        .agg(round(sum(col("term").cast(DecimalType(28, 9)))
          .cast(DoubleType), 6).as("q_coarse"))
      qFine.crossJoin(broadcast(qCoarse))
        .select(col("q_fine"), col("q_coarse"),
          (col("q_fine") === col("q_coarse")).as("invariant_holds"),
          g.m.as("m_fine"), lit(m2).as("m_coarse"))
    },

    "graph_louvain_full" -> { (s, d) =>
      // The WHOLE multi-level Louvain algorithm (VERDICT r11 item 3) —
      // the operator users actually run; the round-11 pieces are its
      // proof parts. Alternates phase 1 and phase 2 on the %10 witness
      // graph: level-1 phase-1 to the Q-monotone fixpoint
      // (graph_louvain_converged — re-seeded from the once-per-dataset
      // artifact), contract, then per level ≥2 the kernel's Q-dip loop
      // from the singleton restart (graph_louvain_level2's sweep,
      // iterated), re-contract, repeat — STOPPING at the first level
      // whose converged sweep yields no Q gain (level-over-level gain ≤
      // 0 on the round-6-quantized ladder). Emits the FINE-node → final-
      // community map (label tables composed down the levels) plus the
      // level count and final Q.
      //
      // Correctness witnesses, all loud: (1) each level's SINGLETON Q
      // over the contraction must EXACTLY equal the previous level's
      // final Q — graph_coarsen_invariant's theorem, require()d per
      // level, so a bookkeeping slip in the weighted contraction
      // cannot emit silently; (2) the inner loop fails unless it dips
      // within the sweep cap (the converged contract); (3) the outer
      // loop fails unless it stops within the level cap — a still-
      // improving level-4 is a red gate, never a truncated emission.
      // Both loops run on Cc.fixpoint, which owns both caps.
      //
      // Oracle-able by composition: the oracle unrolls the fine ladder
      // (40) + two weighted ladders (16 each) of the same arithmetic
      // and selects the stop level with the kstar self-join pattern.
      //
      // Scale shape: the level-1 input is the held artifact (node-
      // sized); the fine contraction is one O(edges) rollup; each
      // level-l graph stays a DATAFRAME (the coarse graph of a 10⁹-
      // node corpus still has millions of supernodes — level2's bound)
      // with per-sweep O(coarse-edges) rollups, node-sized joins and
      // ONE O(1) driver scalar (the sweep's Q) per round; label
      // composition is one node-sized join per level. Witness-graph
      // instance: every coarse table here is ≤ C(64,2)+64 = 2 080 rows
      // (communities ⊂ the 64 hash seeds), so the inner rounds are pure
      // stage-floor — the honest gate-scale cost of the scale-true plan
      // (the HITS finding).
      val art = louvain10Art(s, d)
      val lab1 = s.read.parquet(art.labelsPath) // (i, c), node-sized
      // Level state as eager checkpoints sized by their observed row
      // counts ([[Cc.round]]), not by the plan's estimate.
      def checkpoint(df: DataFrame): DataFrame = Cc.round(df, lit(false), df.columns.toSeq)._1
      // State: the current coarse graph, the fine i → community map at
      // the current final level (node-sized, the next level joins it),
      // its Q and the level count. Cc.release of the parquet-read lab1
      // is a no-op unpersist.
      val cur0 = checkpoint(contract(unit(undirectedEdges(s, d, 10)), Labels(lab1)))
      val (cur, compo, curQ, levels) = Cc.fixpoint("graph_louvain_full: levels", 3)(
          (cur0, lab1, art.q, 1), moved0 = true) { case st @ (cur, compo, curQ, levels) =>
        val g = CGraph.of(cur).held
        // Witness (1): the coarsen invariant, loud, per level.
        val q0 = modularity(g, singletons).head().getDouble(0)
        require(q0 == curQ,
          s"graph_louvain_full: contraction broke the modularity " +
            s"invariant at level $levels (singleton Q=$q0 vs $curQ)")
        val (lab, q) = phase1(g, singletons, q0, 16,
          s"graph_louvain_full: level ${levels + 1}")
        val moved = q > curQ // a level that adds nothing stops the loop
        val next = if (!moved) st else {
          val compoNext = checkpoint(compo
            .join(lab.select(col("i").as("c"), col("c").as("c2")), "c")
            .select(col("i"), col("c2").as("c")))
          (checkpoint(contract(cur, Labels(lab))), compoNext, q, levels + 1)
        }
        Cc.release(lab)
        Cc.release(g.deg)
        (next, moved)
      } { case (cur, compo, _, _) => Cc.release(cur); Cc.release(compo) }
      Cc.release(cur) // the final coarse graph; the emission reads compo
      compo.select(col("i").as("node_id"), col("c").as("cid"),
        lit(levels.toLong).as("levels"), lit(curQ).as("q_final"))
        .orderBy("node_id")
    },

    "graph_community_conductance" -> { (s, d) =>
      // ARTIFACT CONSUMER (round 12): community QUALITY metrics over
      // the converged phase-1 partition (the louvain10 parquet
      // artifact) — per community its size, internal edge count,
      // degree mass, cut and CONDUCTANCE φ(C) = cut(C) / min(vol(C),
      // 2m − vol(C)), the standard community-health metric Louvain's
      // own Q does not expose (a partition can carry good ΔQ while a
      // community leaks most of its degree across the cut — exactly
      // what a crawl-curation pipeline audits before trusting
      // community-level quality priors). Everything is exact longs
      // (vol = Σ ki, cut = vol − 2·e_c) with ONE rounded division at
      // emission; a community owning all edge mass (min = 0) emits
      // φ = 0 by convention instead of 0/0. Scale shape: the kernel's
      // community rollup — two O(edges) label joins + community-sized
      // rollups; labels re-read from the artifact table, never
      // recomputed.
      val lab = Labels(s.read.parquet(louvain10Art(s, d).labelsPath))
      val g = CGraph.of(unit(undirectedEdges(s, d, 10)
        .localCheckpoint(eager = true))) // deg + both e_c joins consume it
        .readM
      val cut = col("d_c") - col("e_c") * 2
      val vol = least(col("d_c"), g.m * 2 - col("d_c"))
      rollup(g, lab)
        .select(col("c").as("community_id"), col("n_nodes"), col("e_c"),
          col("d_c"), cut.as("cut"),
          when(vol === 0, lit(0.0)).otherwise(round(cut.cast(DoubleType) / vol, 6))
            .as("conductance"))
        .orderBy("community_id")
    },

    "graph_label_prop" -> { (s, d) =>
      // One synchronous label-propagation step (community detection's
      // workhorse), the kernel's plurality vote: every node adopts the
      // plurality label among its neighbors, ties broken toward the
      // smaller label — the deterministic LPA variant. Labels start as
      // id % 64 (coarse hash communities), so on step 1 a neighbor's
      // label is derivable from its id and no label-table join is
      // needed; iterating would turn that select into a shuffled
      // equi-join on node id, same shape. Distributed schedule: one
      // map-side-combined groupBy (node, label) for the votes and one
      // by node for the winner — parallelism scales with nodes, and no
      // step exceeds O(edges) shuffle bytes. Same %3 witness bound as
      // graph_triangles (see there).
      plurality(undirectedEdges(s, d, 3))
        .select(col("node"), col("lbl").as("new_label"), col("votes"))
        .orderBy("node")
    },

    "graph_bfs_levels" -> { (s, d) =>
      // Multi-source-capable BFS from a deterministic seed (the minimum
      // node id) to depth 4 over the part co-occurrence graph — the
      // neighborhood-expansion primitive behind crawl-frontier
      // scheduling, influence radii, and graph feature extraction.
      // Iterative-driver schedule, but UNLIKE Cc.minLabel/k_core there
      // is NO per-round driver read at all: depth 4 is the emission
      // contract, not a convergence cap, so the loop is a plan unroll,
      // off Cc.fixpoint — Spark runs all four frontier expansions as
      // one job tree at the final count, where eager rounds would add
      // an SQL execution per level. Per round: one frontier⋈edges
      // equi-join + one anti-join against the visited set, O(edges)
      // shuffle bytes; frontier and visited localCheckpoint to keep the
      // 4-round lineage flat.
      // Oracle: the expansion UNROLLED 4 rounds (k_core's pattern) —
      // level assignment is min-hop by construction since a node
      // joins `visited` the first round it is reachable. Both
      // directions of every witness edge come from one explode, as in
      // CGraph.adj: a union of two selects re-executes the pair join.
      val edges = undirectedEdges(s, d, 10)
        .select(explode(array(
          struct(col("u").as("u"), col("v").as("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select("e.*")
        .persist() // joined every round
      var visited = edges.agg(min(col("u")).as("n"))
        .withColumn("level", lit(0))
        .localCheckpoint(eager = false)
      var frontier = visited.select("n")
      for (r <- 1 to 4) {
        val next = frontier.join(edges, col("n") === col("u"))
          .select(col("v").as("n")).distinct()
          .join(visited.select("n"), Seq("n"), "left_anti")
          .localCheckpoint(eager = false)
        visited = visited
          .unionByName(next.withColumn("level", lit(r)))
          .localCheckpoint(eager = false)
        frontier = next
      }
      visited.select(col("n").as("node"), col("level")).orderBy("node")
    },

    "graph_k_core" -> { (s, d) =>
      // k-core decomposition (K = 5): repeatedly peel nodes of degree
      // < K until the remaining subgraph is stable — the graph-quality
      // filter that keeps densely-linked hosts/docs and drops the
      // sparsely-connected fringe (spam/orphan pruning on a crawl
      // graph). Iterative-driver schedule like dedup_clusters: each
      // round is one degree groupBy joined to both endpoints of every
      // surviving edge, O(edges) shuffle bytes per round, checkpointed
      // as (u, v, peel) by one [[Cc.round]] that counts the peeled
      // edges on the same job; the next round reads the unpeeled ones,
      // and zero peeled is the fixpoint. Round count is bounded by the
      // peel cascade depth (measured: 3 rounds at both sf0.01 and
      // sf0.1; %10 witness bound — see graph_triangles). The per-round
      // checkpoint truncates the exponentially re-analyzed lineage, as
      // in Cc.minLabel. Oracle: the peel UNROLLED 6
      // times — peeling is idempotent at fixpoint, so any graph that
      // converges within 6 rounds hash-matches exactly; one that
      // doesn't fails the gate loudly (the drift alarm we want).
      //
      // A partial peel is NOT a 5-core — it still contains nodes whose
      // degree would drop below k on further rounds. The 30-round cap
      // bounds a broken schedule (the peel cascade depth is ≤ the node
      // count and measured at 3 here), and Cc.fixpoint fails loudly
      // past it.
      val cur = Cc.fixpoint("graph_k_core", 30)(
          undirectedEdges(s, d, 10).withColumn("peel", lit(false)), moved0 = true) { cur =>
        val edges = cur.filter(!col("peel"))
        val deg = edges.select(explode(array(col("u"), col("v"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        def degOf(end: String) = deg.select(col("node").as(end), col("deg").as(s"d$end"))
        val (next, r) = Cc.round(
          edges.join(degOf("u"), "u").join(degOf("v"), "v")
            .withColumn("peel", col("du") < 5 || col("dv") < 5),
          col("peel"), Seq("u", "v", "peel"))
        (next, r.getAs[Long]("changed") != 0L)
      }(Cc.release)
      // No edge peeled: every edge of cur is in the 5-core.
      cur.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("core_deg"))
        .orderBy("node")
    },

    "graph_walk_pairs" -> { (s, d) =>
      // Random-walk positive-pair generation — the DeepWalk/node2vec
      // skip-gram sampler that turns a graph into embedding training
      // pairs: from EVERY node, a 2-hop walk whose next-hop draw is
      // hash-seeded (the sample_stratified salted-md5 determinism
      // pattern): hop t from node u goes to the neighbor v minimizing
      // md5("walk:t:u:v") with (hash, v) lexicographic tie-break, so
      // both engines derive the identical walk and the gate can
      // hash-compare the full pair table. Scale shape: a hop is ONE
      // equi-join of the frontier against the edge table + a per-node
      // min reduction — O(edges) per hop, one shuffle per hop, path
      // sets never materialize (the walk table stays one row per start
      // node at every hop). Dead ends can't occur: co-occurrence edges
      // are symmetric, so every reachable node keeps ≥1 neighbor. The
      // %3 subgraph bounds the gate the same way graph_triangles
      // documents.
      val und = undirectedEdges(s, d, 3)
      // wide round-robin (round 15): the per-candidate md5 is the
      // query's CPU and ran on the 1-2 tasks AQE left the edge table's
      // materialization (measured 0.4-0.8 s single-task stages); the
      // repartition ships two longs per row once and the hash CPU runs
      // cluster-wide.
      val both = wide(und.unionByName(und.select(col("v").as("u"), col("u").as("v"))))
        .persist() // two hops probe the same edge table
      // Next-hop per NODE, not per walk (round 15, guide §1.2 "remove
      // passes"): h = md5("walk:t:u:v") depends only on (t, u, v) — the
      // walk's identity is NOT in the hash — so every walk standing on
      // node u at hop t draws the SAME next node, and the old
      // frontier⋈edges join + per-walk argmin recomputed one identical
      // argmin per standing walk. Computing argmin_v md5(t:u:v) ONCE
      // per node per hop is an O(edges) aggregate with map-side partial
      // combine producing a NODE-sized (u → next) table; walks then
      // attach by equi-join (auto-broadcast at gate scale, plain
      // shuffle join above it). min(struct(h, v)) IS (h ASC, v ASC) —
      // the round-14 argmin-as-aggregate pattern, per-node keys.
      def nexthop(t: Int): DataFrame =
        both.groupBy(col("u"))
          .agg(min(struct(md5(concat(lit(s"walk:$t:"), col("u").cast(StringType),
            lit(":"), col("v").cast(StringType))), col("v"))).as("b"))
          .select(col("u"), col("b.v").as("nx"))
      // nexthop(1)'s key set IS the distinct start set (every node with
      // ≥1 edge), so the old separate starts-distinct pass is free here.
      val w1 = nexthop(1).select(col("u").as("node_id"), col("nx").as("hop1"))
      val w2 = w1.join(nexthop(2), col("hop1") === col("u"))
        .select(col("node_id"), col("hop1"), col("nx").as("hop2"))
      w2.orderBy("node_id")
    },

    "graph_connected_components" -> { (s, d) =>
      // Connected components of the co-occurrence graph with a
      // component census — the community-structure readout a crawl
      // audit runs (how fragmented is the link graph? how big is the
      // giant component?); the fixpoint itself is [[componentCensus]].
      // The %10 subgraph bounds the recursive-CTE oracle's transitive
      // closure, the graph_triangles gate rationale; edges keep only
      // STRONG ties (pairs co-occurring in ≥ 2 distinct orders — the
      // standard co-occurrence significance cut), which both matches
      // how a real community census thresholds noise edges and
      // fragments this synthetic graph into a multi-component emission
      // (19 components at sf0.01) instead of one giant blob — the
      // census grouping is genuinely exercised.
      val op = partPairs(s, d, 10)
      val und = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("u"), col("y.p").as("v"))
        .agg(count(lit(1)).as("nord"))
        .filter(col("nord") >= 2).select("u", "v")
      componentCensus(und, "graph_connected_components")
    }
  )

  /** Connected-component census of an undirected edge frame (u, v;
    * each edge listed in either or both directions): one row per
    * component — component_id (= its min node), n_nodes, min_node,
    * max_node. The components are [[Cc.minLabel]]'s: its per-partition
    * union-find settles every component that no partition boundary
    * splits in its init step, and propagation rounds, one SQL execution
    * each, run only when some node got two roots.
    */
  def componentCensus(und: DataFrame, what: String): DataFrame =
    Cc.minLabel(und.select(col("u").as("id_a"), col("v").as("id_b")), what)
      .groupBy(col("label").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("id")).as("min_node"), max(col("id")).as("max_node"))
      .orderBy("component_id")

  /** The graph_louvain_converged oracle's CTE chain on the %10 graph:
    * op/und/adj/deg/m, the 40-round unrolled fine sweep, the exact Q
    * ladder, and the k* stop-selection tables — ending with labs(k,i,c),
    * kstar(ks), qs(k,q). Shared VERBATIM by the graph_louvain_full
    * oracle as its level-1 input, so the two oracles cannot drift.
    */
  private def louvainFineLadderCtes: String = {
    def qOf(lab: String): String =
      s"""SELECT round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS q FROM (
         |  SELECT round(CAST(coalesce(ec.e_c, 0) AS DOUBLE) / m.m
         |    - (CAST(dc.d_c AS DOUBLE) / (2.0 * m.m))
         |      * (CAST(dc.d_c AS DOUBLE) / (2.0 * m.m)), 9) AS term
         |  FROM (SELECT l.c, CAST(sum(d.ki) AS BIGINT) AS d_c
         |        FROM deg d JOIN $lab l USING (i) GROUP BY l.c) dc
         |  LEFT JOIN (SELECT l1.c AS c, count(*) AS e_c FROM und
         |        JOIN $lab l1 ON und.u = l1.i
         |        JOIN $lab l2 ON und.v = l2.i AND l1.c = l2.c
         |        GROUP BY l1.c) ec USING (c)
         |  CROSS JOIN m) t""".stripMargin
    val rounds = (1 to 40).map { k =>
      s"""kin$k AS (SELECT a.i, l.c, count(*) AS kin
         |  FROM adj a JOIN lab${k - 1} l ON a.j = l.i GROUP BY a.i, l.c),
         |cand$k AS (SELECT i, c, max(kin) AS kin FROM (
         |    SELECT * FROM kin$k
         |    UNION ALL
         |    SELECT d.i, l.c, CAST(0 AS BIGINT) AS kin
         |    FROM deg d JOIN lab${k - 1} l USING (i)) t
         |  GROUP BY i, c),
         |ktot$k AS (SELECT l.c, CAST(sum(d.ki) AS BIGINT) AS ktot
         |  FROM deg d JOIN lab${k - 1} l USING (i) GROUP BY l.c),
         |lab$k AS MATERIALIZED (
         |  SELECT i, c FROM (
         |    SELECT cand.i, cand.c, row_number() OVER (PARTITION BY cand.i
         |      ORDER BY round(CAST(cand.kin AS DOUBLE) / m.m
         |        - CAST(deg.ki AS DOUBLE) * CAST(ktot.ktot
         |            - CASE WHEN cand.c = l0.c THEN deg.ki ELSE 0 END AS DOUBLE)
         |          / (2.0 * m.m * m.m), 9) DESC, cand.c) AS rn
         |    FROM cand$k cand JOIN ktot$k ktot USING (c) JOIN deg USING (i)
         |      JOIN lab${k - 1} l0 USING (i) CROSS JOIN m) t
         |  WHERE rn = 1),
         |q$k AS MATERIALIZED (${qOf(s"lab$k")})""".stripMargin
    }.mkString(",\n")
    val qs = (0 to 40).map(k => s"SELECT $k AS k, q FROM q$k")
      .mkString("\n    UNION ALL ")
    val labs = (0 to 39).map(k => s"SELECT $k AS k, i, c FROM lab$k")
      .mkString("\n    UNION ALL ")
    s"""op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      |  WHERE l_partkey % 10 = 0),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT x.p AS u, y.p AS v
      |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
      |adj AS MATERIALIZED (
      |  SELECT u AS i, v AS j FROM und UNION ALL SELECT v, u FROM und),
      |deg AS MATERIALIZED (SELECT i, count(*) AS ki FROM adj GROUP BY i),
      |m AS (SELECT count(*) AS m FROM und),
      |lab0 AS MATERIALIZED (SELECT i, i % 64 AS c FROM deg),
      |q0 AS MATERIALIZED (${qOf("lab0")}),
      |$rounds,
      |qs AS ($qs),
      |kstar AS (SELECT min(a.k) AS ks FROM qs a JOIN qs b ON b.k = a.k - 1
      |  WHERE a.q <= b.q),
      |labs AS ($labs)""".stripMargin
  }

  /** One weighted level's CTE block for the graph_louvain_full oracle:
    * given the level's coarse table cw$lv(c_a, c_b, w), emits
    * adjw/degw/mm, the `rounds`-round weighted ladder from the
    * singleton restart (the kernel's sweep: exact-long weighted
    * kin/ktot/degrees incl. self-loops, the 1e-9-snapped gain, (gain
    * DESC, c ASC) argmax), the per-round labeled weighted Q (the
    * kernel's Q: e_c = intra weight + sw/2, the same term grid), the
    * first-dip selection wks$lv, the level's final
    * labels wfin$lv(i, c) and final Q wqf$lv(q).
    */
  private def louvainWeightedLevelCtes(lv: Int, rounds: Int): String = {
    val cw = s"cw$lv"
    def qOfW(lab: String): String =
      s"""SELECT round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS q FROM (
         |  SELECT round(CAST(coalesce(iw.iw, 0) + dc.sh AS DOUBLE) / mm$lv.m
         |    - (CAST(dc.d_c AS DOUBLE) / (2.0 * mm$lv.m))
         |      * (CAST(dc.d_c AS DOUBLE) / (2.0 * mm$lv.m)), 9) AS term
         |  FROM (SELECT l.c, CAST(sum(d.ki) AS BIGINT) AS d_c,
         |          CAST(sum(d.sw) / 2 AS BIGINT) AS sh
         |        FROM degw$lv d JOIN $lab l USING (i) GROUP BY l.c) dc
         |  LEFT JOIN (SELECT l1.c AS c, CAST(sum(w) AS BIGINT) AS iw
         |        FROM $cw JOIN $lab l1 ON $cw.c_a = l1.i
         |        JOIN $lab l2 ON $cw.c_b = l2.i AND l1.c = l2.c
         |        WHERE $cw.c_a <> $cw.c_b
         |        GROUP BY l1.c) iw USING (c)
         |  CROSS JOIN mm$lv) t""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      s"""wkin${lv}_$r AS (SELECT a.i, l.c, CAST(sum(a.w) AS BIGINT) AS kin
         |  FROM adjw$lv a JOIN wlab${lv}_${r - 1} l ON a.j = l.i
         |  GROUP BY a.i, l.c),
         |wcand${lv}_$r AS (SELECT i, c, max(kin) AS kin FROM (
         |    SELECT * FROM wkin${lv}_$r
         |    UNION ALL
         |    SELECT d.i, l.c, CAST(0 AS BIGINT) AS kin
         |    FROM degw$lv d JOIN wlab${lv}_${r - 1} l USING (i)) t
         |  GROUP BY i, c),
         |wktot${lv}_$r AS (SELECT l.c, CAST(sum(d.ki) AS BIGINT) AS ktot
         |  FROM degw$lv d JOIN wlab${lv}_${r - 1} l USING (i) GROUP BY l.c),
         |wlab${lv}_$r AS MATERIALIZED (
         |  SELECT i, c FROM (
         |    SELECT cand.i, cand.c, row_number() OVER (PARTITION BY cand.i
         |      ORDER BY round(CAST(cand.kin AS DOUBLE) / mm$lv.m
         |        - CAST(d.ki AS DOUBLE) * CAST(kt.ktot
         |            - CASE WHEN cand.c = l0.c THEN d.ki ELSE 0 END AS DOUBLE)
         |          / (2.0 * mm$lv.m * mm$lv.m), 9) DESC, cand.c) AS rn
         |    FROM wcand${lv}_$r cand JOIN wktot${lv}_$r kt USING (c)
         |      JOIN degw$lv d USING (i)
         |      JOIN wlab${lv}_${r - 1} l0 USING (i) CROSS JOIN mm$lv) t
         |  WHERE rn = 1),
         |wq${lv}_$r AS MATERIALIZED (${qOfW(s"wlab${lv}_$r")})""".stripMargin
    }.mkString(",\n")
    val wqs = (0 to rounds).map(r => s"SELECT $r AS r, q FROM wq${lv}_$r")
      .mkString("\n    UNION ALL ")
    val wlabs = (0 until rounds)
      .map(r => s"SELECT $r AS r, i, c FROM wlab${lv}_$r")
      .mkString("\n    UNION ALL ")
    s"""adjw$lv AS (
      |  SELECT c_a AS i, c_b AS j, w FROM $cw WHERE c_a <> c_b
      |  UNION ALL SELECT c_b, c_a, w FROM $cw WHERE c_a <> c_b),
      |degw$lv AS MATERIALIZED (
      |  SELECT coalesce(a.i, s.i) AS i,
      |    CAST(coalesce(a.nw, 0) + coalesce(s.sw, 0) AS BIGINT) AS ki,
      |    CAST(coalesce(s.sw, 0) AS BIGINT) AS sw
      |  FROM (SELECT i, sum(w) AS nw FROM adjw$lv GROUP BY i) a
      |  FULL JOIN (SELECT c_a AS i, w AS sw FROM $cw WHERE c_a = c_b) s
      |    ON a.i = s.i),
      |mm$lv AS (SELECT CAST(sum(ki) / 2 AS BIGINT) AS m FROM degw$lv),
      |wlab${lv}_0 AS MATERIALIZED (SELECT i, i AS c FROM degw$lv),
      |wq${lv}_0 AS MATERIALIZED (${qOfW(s"wlab${lv}_0")}),
      |$roundsSql,
      |wqs$lv AS ($wqs),
      |wks$lv AS (SELECT min(a.r) AS ks FROM wqs$lv a
      |  JOIN wqs$lv b ON b.r = a.r - 1 WHERE a.q <= b.q),
      |wlabs$lv AS ($wlabs),
      |wfin$lv AS MATERIALIZED (SELECT i, c FROM wlabs$lv l
      |  JOIN wks$lv k ON l.r = k.ks - 1),
      |wqf$lv AS (SELECT q FROM wqs$lv q JOIN wks$lv k ON q.r = k.ks - 1)"""
      .stripMargin
  }

  val oracleSql: Map[String, String] = keyed(
    "graph_pagerank_step" ->
      """WITH edges AS (
        |  SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |nodes AS (
        |  SELECT DISTINCT 's' AS ntype, src AS node_id FROM edges
        |  UNION ALL
        |  SELECT DISTINCT 'p' AS ntype, dst AS node_id FROM edges),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |contrib AS (
        |  SELECT e.dst,
        |    CAST(sum(CAST(round(1.0 / nn.n / od.outdeg, 12) AS DECIMAL(28,12)))
        |      AS DOUBLE) AS msum
        |  FROM edges e JOIN od USING (src) CROSS JOIN nn GROUP BY e.dst)
        |SELECT nodes.ntype, nodes.node_id,
        |  round(0.15 / nn.n + 0.85 * coalesce(c.msum, 0.0), 12) AS pr
        |FROM nodes CROSS JOIN nn
        |LEFT JOIN contrib c ON nodes.ntype = 'p' AND nodes.node_id = c.dst
        |ORDER BY ntype, node_id""".stripMargin,

    // Fixed 100-round unroll of the identical quantized arithmetic:
    // rounds past the stationary point are no-ops (every q is
    // round(·, 4), so the map is idempotent once stationary), which is
    // exactly how the k_core oracle absorbs its data-dependent round
    // count. 100 = the Spark-side round cap, so any vector the Spark
    // side can legally emit is inside the unroll.
    "graph_pagerank_converged" -> {
      val rounds = (1 to 100).map { i =>
        s"""d$i AS (SELECT CAST(coalesce(sum(CAST(q AS DECIMAL(38,4))), 0) AS DOUBLE) AS dmass
           |  FROM pr${i - 1} WHERE ntype = 'p'),
           |c$i AS (SELECT w.dst,
           |    CAST(sum(CAST(round(p.q / w.outdeg, 9) AS DECIMAL(38,9))) AS DOUBLE) AS msum
           |  FROM pr${i - 1} p JOIN w ON p.node_id = w.src
           |  WHERE p.ntype = 's' GROUP BY w.dst),
           |pr$i AS MATERIALIZED (SELECT p.ntype, p.node_id,
           |  round(0.15 + 0.85 * (coalesce(c.msum, 0.0) + d.dmass / nn.n), 4) AS q
           |  FROM pr${i - 1} p CROSS JOIN d$i d CROSS JOIN nn
           |  LEFT JOIN c$i c ON p.ntype = 'p' AND p.node_id = c.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |w AS MATERIALIZED (SELECT e.src, e.dst, od.outdeg FROM e JOIN od USING (src)),
        |nodes AS (
        |  SELECT DISTINCT 's' AS ntype, src AS node_id FROM e
        |  UNION ALL
        |  SELECT DISTINCT 'p' AS ntype, dst AS node_id FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |pr0 AS MATERIALIZED (
        |  SELECT ntype, node_id, CAST(1.0 AS DOUBLE) AS q FROM nodes),
        |$rounds
        |SELECT ntype, node_id, q AS pr_n FROM pr100
        |ORDER BY ntype, node_id""".stripMargin
    },

    // 60-round unroll of the HITS schedule with current-round-max
    // normalization — identical quantized arithmetic (4-dp scores
    // captured in DECIMAL(38,6) sums, raw→double cast, IEEE division
    // by the round's own max, round at 1e-4); rounds past the
    // stationary point are no-ops (the pagerank-unroll argument: the
    // update is a pure function of the quantized state).
    "graph_hits_converged" -> {
      val rounds = (1 to 60).map { i =>
        s"""ar$i AS MATERIALIZED (
           |  SELECT e.dst AS node_id,
           |    CAST(sum(CAST(h.q AS DECIMAL(38,6))) AS DOUBLE) AS raw
           |  FROM e JOIN h${i - 1} h ON h.node_id = e.src GROUP BY e.dst),
           |a$i AS MATERIALIZED (
           |  SELECT node_id, round(raw / (SELECT max(raw) FROM ar$i), 4) AS q
           |  FROM ar$i),
           |hr$i AS MATERIALIZED (
           |  SELECT e.src AS node_id,
           |    CAST(sum(CAST(a.q AS DECIMAL(38,6))) AS DOUBLE) AS raw
           |  FROM e JOIN a$i a ON a.node_id = e.dst GROUP BY e.src),
           |h$i AS MATERIALIZED (
           |  SELECT node_id, round(raw / (SELECT max(raw) FROM hr$i), 4) AS q
           |  FROM hr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |h0 AS (SELECT DISTINCT src AS node_id, CAST(1.0 AS DOUBLE) AS q
        |  FROM e),
        |$rounds
        |SELECT ntype, node_id, q AS score FROM (
        |  SELECT 'p' AS ntype, node_id, q FROM a60
        |  UNION ALL
        |  SELECT 's' AS ntype, node_id, q FROM h60)
        |ORDER BY ntype, node_id""".stripMargin
    },

    // Integer-only replica of the degree-ordered orientation, so the
    // triangle set — not just the count — is engine-independent.
    "graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
        |  GROUP BY node),
        |e AS (
        |  SELECT u, v, du.deg AS du, dv.deg AS dv
        |  FROM und JOIN deg du ON und.u = du.node JOIN deg dv ON und.v = dv.node),
        |ori AS (
        |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
        |  FROM e),
        |w AS (
        |  SELECT a.dst AS y, b.dst AS z FROM ori a JOIN ori b
        |  ON a.src = b.src AND (a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst))),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM w JOIN ori ON w.y = ori.src AND w.z = ori.dst)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM und) AS n_edges, n_triangles
        |FROM tri""".stripMargin,

    "graph_clustering_coefficient" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 10 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
        |  GROUP BY node),
        |e AS (
        |  SELECT u, v, du.deg AS du, dv.deg AS dv
        |  FROM und JOIN deg du ON und.u = du.node JOIN deg dv ON und.v = dv.node),
        |ori AS (
        |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
        |         CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddeg
        |  FROM e),
        |w AS (
        |  SELECT a.src AS x, a.dst AS y, b.dst AS z FROM ori a JOIN ori b
        |  ON a.src = b.src AND (a.ddeg < b.ddeg OR (a.ddeg = b.ddeg AND a.dst < b.dst))),
        |tn AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT unnest([x, y, z]) AS node
        |    FROM w JOIN ori ON w.y = ori.src AND w.z = ori.dst) t
        |  GROUP BY node)
        |SELECT d.node, d.deg,
        |  CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
        |  round(CAST(coalesce(tn.n_tri, 0) AS DOUBLE) * 2
        |    / (d.deg * (d.deg - 1)), 6) AS cc
        |FROM deg d LEFT JOIN tn ON d.node = tn.node
        |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin,

    "graph_jaccard_neighbors" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |adj AS (
        |  SELECT u AS node, v AS nbr FROM und
        |  UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
        |common AS (
        |  SELECT a.node AS node, b.node AS cand, count(*) AS common
        |  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node <> b.node
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT common.node AS node, common.cand AS cand, common.common AS common,
        |    floor(CAST(common.common AS DOUBLE) / (dn.deg + dc.deg - common.common)
        |      * 1000000 + 0.5) / 1000000.0 AS jac
        |  FROM common JOIN deg dn ON common.node = dn.node
        |  JOIN deg dc ON common.cand = dc.node),
        |top AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY node ORDER BY jac DESC, cand ASC) AS rn
        |  FROM scored)
        |SELECT node, cand AS best_match, common, jac
        |FROM top WHERE rn = 1 ORDER BY node""".stripMargin,

    "graph_adamic_adar" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 5 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |adj AS (
        |  SELECT u AS node, v AS nbr FROM und
        |  UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
        |pairs AS (
        |  SELECT a.node AS node, b.node AS cand, a.nbr AS w
        |  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node),
        |aa AS (
        |  SELECT pairs.node AS node, pairs.cand AS cand,
        |    sum(CAST(round(1.0 / ln(dw.deg), 9) AS DECIMAL(28,9))) AS aa_dec
        |  FROM pairs JOIN deg dw ON pairs.w = dw.node
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY node ORDER BY aa_dec DESC, cand ASC) AS rn
        |  FROM aa)
        |SELECT node, cand AS best_cand, CAST(aa_dec AS DOUBLE) AS aa
        |FROM top WHERE rn = 1 ORDER BY node""".stripMargin,

    "graph_assortativity" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 10 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
        |  GROUP BY node),
        |e2 AS (
        |  SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_dir,
        |    CAST(sum(CAST(da.deg AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(db.deg AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(da.deg AS DECIMAL(38,0))
        |      * CAST(da.deg AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(db.deg AS DECIMAL(38,0))
        |      * CAST(db.deg AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(da.deg AS DECIMAL(38,0))
        |      * CAST(db.deg AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM e2 JOIN deg da ON e2.a = da.node JOIN deg db ON e2.b = db.node)
        |SELECT CAST(n_dir / 2 AS BIGINT) AS n_edges,
        |  round((n_dir * sxy - sx * sy)
        |    / (sqrt(n_dir * sxx - sx * sx) * sqrt(n_dir * syy - sy * sy)), 6)
        |    AS assortativity
        |FROM s""".stripMargin,

    "graph_degree_dist" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
        |  GROUP BY node)
        |SELECT CAST(length(bin(deg)) AS INTEGER) AS bucket,
        |  count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY bucket""".stripMargin,

    "graph_label_prop" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |votes AS (
        |  SELECT u AS node, v % 64 AS lbl, count(*) AS votes
        |  FROM edges GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY node ORDER BY votes DESC, lbl) AS rn
        |  FROM votes)
        |SELECT node, lbl AS new_label, CAST(votes AS BIGINT) AS votes
        |FROM r WHERE rn = 1 ORDER BY node""".stripMargin,

    // Peel unrolled 6 rounds (fixpoint measured at 3 for both gate
    // tiers; extra rounds are no-ops by idempotence — a graph needing
    // >6 would hash-mismatch, which is the alarm we want). MATERIALIZED
    // is load-bearing: each stage references its predecessor 3×, so
    // DuckDB's default CTE inlining would expand 3^6 = 729 base scans
    // (observed: "too many open files").
    "graph_modularity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |votes AS (
        |  SELECT node, lbl, count(*) AS votes FROM (
        |    SELECT u AS node, v % 64 AS lbl FROM und
        |    UNION ALL SELECT v, u % 64 FROM und) t
        |  GROUP BY node, lbl),
        |labels AS (
        |  SELECT node, lbl FROM (
        |    SELECT node, lbl, row_number() OVER (
        |      PARTITION BY node ORDER BY votes DESC, lbl) AS rn
        |    FROM votes) r WHERE rn = 1),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
        |  GROUP BY node),
        |dc AS (
        |  SELECT l.lbl, CAST(sum(deg) AS BIGINT) AS d_c
        |  FROM deg d JOIN labels l ON d.node = l.node GROUP BY l.lbl),
        |ec AS (
        |  SELECT lu.lbl, count(*) AS e_c
        |  FROM und JOIN labels lu ON und.u = lu.node
        |  JOIN labels lv ON und.v = lv.node
        |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
        |m AS (SELECT count(*) AS m FROM und),
        |terms AS (
        |  SELECT round(CAST(coalesce(ec.e_c, 0) AS DOUBLE) / m.m
        |    - (CAST(dc.d_c AS DOUBLE) / (m.m * 2))
        |      * (CAST(dc.d_c AS DOUBLE) / (m.m * 2)), 9) AS term
        |  FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl CROSS JOIN m)
        |SELECT count(*) AS n_communities,
        |  (SELECT m FROM m) AS m_edges,
        |  round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6) AS q
        |FROM terms""".stripMargin,

    // Same insertion-gain comparator, exact-long inputs, 1e-9 snap
    // before the row_number argmax with the identical (gain DESC, c)
    // tie order.
    "graph_louvain_step" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |adj AS (SELECT u AS i, v AS j FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT i, count(*) AS ki FROM adj GROUP BY i),
        |kin AS (SELECT i, j % 64 AS c, count(*) AS kin FROM adj GROUP BY i, j % 64),
        |stay AS (SELECT i, i % 64 AS c, CAST(0 AS BIGINT) AS kin FROM deg),
        |cand AS (
        |  SELECT i, c, max(kin) AS kin FROM (
        |    SELECT * FROM kin UNION ALL SELECT * FROM stay) t
        |  GROUP BY i, c),
        |ktot AS (
        |  SELECT i % 64 AS c, CAST(sum(ki) AS BIGINT) AS ktot
        |  FROM deg GROUP BY i % 64),
        |m AS (SELECT count(*) AS m FROM und),
        |scored AS (
        |  SELECT cand.i, cand.c, cand.i % 64 AS c0,
        |    round(CAST(cand.kin AS DOUBLE) / m.m
        |      - CAST(deg.ki AS DOUBLE) * CAST(ktot.ktot
        |          - CASE WHEN cand.c = cand.i % 64 THEN deg.ki ELSE 0 END
        |          AS DOUBLE)
        |        / (2.0 * m.m * m.m), 9) AS gain
        |  FROM cand JOIN ktot USING (c) JOIN deg USING (i) CROSS JOIN m),
        |best AS (
        |  SELECT i, c0, c, gain, row_number() OVER (
        |    PARTITION BY i ORDER BY gain DESC, c) AS rn
        |  FROM scored)
        |SELECT i AS node_id, c0 AS cid_old, c AS cid_new,
        |  (c <> c0) AS moved, gain
        |FROM best WHERE rn = 1 ORDER BY node_id""".stripMargin,

    // 40-round unroll of the sweep + the exact Q ladder; the stop
    // round k* = min{k : q_k <= q_{k-1}} is recomputed with a
    // self-join over the ladder and the emission is lab_{k*-1} — the
    // same "iterate while modularity improves" contract the Spark
    // loop executes (it just stops computing at the first dip; the
    // oracle computes the full cap and selects).
    "graph_louvain_converged" ->
      s"""WITH $louvainFineLadderCtes
        |SELECT i AS node_id, c AS cid
        |FROM labs JOIN kstar ON labs.k = kstar.ks - 1
        |ORDER BY node_id""".stripMargin,

    // The WHOLE multi-level algorithm: the fine ladder (above, shared
    // verbatim) selects the level-1 fixpoint; each weighted level
    // contracts the previous graph and unrolls its own 16-round
    // weighted ladder with a first-dip k* selection; the stop level is
    // the first whose converged sweep shows no Q gain over the previous
    // level's final Q (levels capped at 3 — the Spark side require()s a
    // still-improving level 4 into a loud failure, so the cap is a
    // certificate, not a truncation); the emission composes the level
    // label tables down to the fine nodes.
    "graph_louvain_full" ->
      s"""WITH $louvainFineLadderCtes,
        |lvl1 AS MATERIALIZED (SELECT i, c
        |  FROM labs JOIN kstar ON labs.k = kstar.ks - 1),
        |ql1 AS (SELECT q FROM qs JOIN kstar ON qs.k = kstar.ks - 1),
        |cw2 AS MATERIALIZED (
        |  SELECT least(l1.c, l2.c) AS c_a, greatest(l1.c, l2.c) AS c_b,
        |    CAST(sum(CASE WHEN l1.c = l2.c THEN 2 ELSE 1 END) AS BIGINT) AS w
        |  FROM und JOIN lvl1 l1 ON und.u = l1.i
        |    JOIN lvl1 l2 ON und.v = l2.i
        |  GROUP BY 1, 2),
        |${louvainWeightedLevelCtes(2, 16)},
        |cw3 AS MATERIALIZED (
        |  SELECT least(l1.c, l2.c) AS c_a, greatest(l1.c, l2.c) AS c_b,
        |    CAST(sum(CASE WHEN l1.c = l2.c AND cw2.c_a <> cw2.c_b
        |      THEN 2 * w ELSE w END) AS BIGINT) AS w
        |  FROM cw2 JOIN wfin2 l1 ON cw2.c_a = l1.i
        |    JOIN wfin2 l2 ON cw2.c_b = l2.i
        |  GROUP BY 1, 2),
        |${louvainWeightedLevelCtes(3, 16)},
        |sel AS (SELECT CASE
        |    WHEN (SELECT q FROM wqf2) <= (SELECT q FROM ql1) THEN 1
        |    WHEN (SELECT q FROM wqf3) <= (SELECT q FROM wqf2) THEN 2
        |    ELSE 3 END AS lev),
        |qfin AS (SELECT CASE sel.lev
        |    WHEN 1 THEN (SELECT q FROM ql1)
        |    WHEN 2 THEN (SELECT q FROM wqf2)
        |    ELSE (SELECT q FROM wqf3) END AS q FROM sel),
        |comp2 AS (SELECT l.i, w.c FROM lvl1 l JOIN wfin2 w ON l.c = w.i),
        |comp3 AS (SELECT c2.i, w.c FROM comp2 c2 JOIN wfin3 w ON c2.c = w.i)
        |SELECT t.i AS node_id, t.c AS cid, CAST(sel.lev AS BIGINT) AS levels,
        |  qfin.q AS q_final
        |FROM (
        |  SELECT i, c FROM lvl1 WHERE (SELECT lev FROM sel) = 1
        |  UNION ALL SELECT i, c FROM comp2 WHERE (SELECT lev FROM sel) = 2
        |  UNION ALL SELECT i, c FROM comp3 WHERE (SELECT lev FROM sel) = 3) t
        |CROSS JOIN sel CROSS JOIN qfin
        |ORDER BY node_id""".stripMargin,

    // The shared fine ladder selects the converged partition; the
    // conductance rollup is exact-long arithmetic over it.
    "graph_community_conductance" ->
      s"""WITH $louvainFineLadderCtes,
        |flab AS MATERIALIZED (SELECT i, c
        |  FROM labs JOIN kstar ON labs.k = kstar.ks - 1),
        |dc AS (SELECT l.c, CAST(sum(d.ki) AS BIGINT) AS d_c,
        |    count(*) AS n_nodes
        |  FROM deg d JOIN flab l USING (i) GROUP BY l.c),
        |ec AS (SELECT l1.c AS c, count(*) AS e_c FROM und
        |  JOIN flab l1 ON und.u = l1.i
        |  JOIN flab l2 ON und.v = l2.i AND l1.c = l2.c
        |  GROUP BY l1.c)
        |SELECT dc.c AS community_id, n_nodes,
        |  CAST(coalesce(ec.e_c, 0) AS BIGINT) AS e_c, d_c,
        |  CAST(d_c - 2 * coalesce(ec.e_c, 0) AS BIGINT) AS cut,
        |  CASE WHEN least(d_c, 2 * m.m - d_c) = 0 THEN 0.0
        |    ELSE round(CAST(d_c - 2 * coalesce(ec.e_c, 0) AS DOUBLE)
        |      / least(d_c, 2 * m.m - d_c), 6) END AS conductance
        |FROM dc LEFT JOIN ec USING (c) CROSS JOIN m
        |ORDER BY community_id""".stripMargin,

    // The louvain_step oracle's label CTEs + the contraction rollup
    // (least/greatest unordered pair, 2x self-loop weight).
    "graph_louvain_coarsen" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |adj AS (SELECT u AS i, v AS j FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT i, count(*) AS ki FROM adj GROUP BY i),
        |kin AS (SELECT i, j % 64 AS c, count(*) AS kin FROM adj GROUP BY i, j % 64),
        |stay AS (SELECT i, i % 64 AS c, CAST(0 AS BIGINT) AS kin FROM deg),
        |cand AS (
        |  SELECT i, c, max(kin) AS kin FROM (
        |    SELECT * FROM kin UNION ALL SELECT * FROM stay) t
        |  GROUP BY i, c),
        |ktot AS (
        |  SELECT i % 64 AS c, CAST(sum(ki) AS BIGINT) AS ktot
        |  FROM deg GROUP BY i % 64),
        |m AS (SELECT count(*) AS m FROM und),
        |scored AS (
        |  SELECT cand.i, cand.c,
        |    round(CAST(cand.kin AS DOUBLE) / m.m
        |      - CAST(deg.ki AS DOUBLE) * CAST(ktot.ktot
        |          - CASE WHEN cand.c = cand.i % 64 THEN deg.ki ELSE 0 END
        |          AS DOUBLE)
        |        / (2.0 * m.m * m.m), 9) AS gain
        |  FROM cand JOIN ktot USING (c) JOIN deg USING (i) CROSS JOIN m),
        |best AS (
        |  SELECT i, c, row_number() OVER (
        |    PARTITION BY i ORDER BY gain DESC, c) AS rn
        |  FROM scored),
        |lab AS (SELECT i, c FROM best WHERE rn = 1),
        |pairs AS (
        |  SELECT least(l1.c, l2.c) AS c_a, greatest(l1.c, l2.c) AS c_b,
        |    count(*) AS n_edges
        |  FROM und JOIN lab l1 ON und.u = l1.i JOIN lab l2 ON und.v = l2.i
        |  GROUP BY 1, 2)
        |SELECT c_a, c_b, n_edges,
        |  CAST(CASE WHEN c_a = c_b THEN 2 * n_edges ELSE n_edges END
        |    AS BIGINT) AS weight
        |FROM pairs ORDER BY c_a, c_b""".stripMargin,

    // The coarsen oracle's CTEs + the weighted singleton-partition
    // sweep (kin = w_ij, Σtot({j}) = weighted degree incl. self-loop).
    "graph_louvain_level2" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |adj AS (SELECT u AS i, v AS j FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT i, count(*) AS ki FROM adj GROUP BY i),
        |kin AS (SELECT i, j % 64 AS c, count(*) AS kin FROM adj GROUP BY i, j % 64),
        |stay AS (SELECT i, i % 64 AS c, CAST(0 AS BIGINT) AS kin FROM deg),
        |cand AS (
        |  SELECT i, c, max(kin) AS kin FROM (
        |    SELECT * FROM kin UNION ALL SELECT * FROM stay) t
        |  GROUP BY i, c),
        |ktot AS (
        |  SELECT i % 64 AS c, CAST(sum(ki) AS BIGINT) AS ktot
        |  FROM deg GROUP BY i % 64),
        |m AS (SELECT count(*) AS m FROM und),
        |scored AS (
        |  SELECT cand.i, cand.c,
        |    round(CAST(cand.kin AS DOUBLE) / m.m
        |      - CAST(deg.ki AS DOUBLE) * CAST(ktot.ktot
        |          - CASE WHEN cand.c = cand.i % 64 THEN deg.ki ELSE 0 END
        |          AS DOUBLE)
        |        / (2.0 * m.m * m.m), 9) AS gain
        |  FROM cand JOIN ktot USING (c) JOIN deg USING (i) CROSS JOIN m),
        |best AS (
        |  SELECT i, c, row_number() OVER (
        |    PARTITION BY i ORDER BY gain DESC, c) AS rn
        |  FROM scored),
        |lab AS (SELECT i, c FROM best WHERE rn = 1),
        |pairs AS (
        |  SELECT least(l1.c, l2.c) AS c_a, greatest(l1.c, l2.c) AS c_b,
        |    count(*) AS n_edges
        |  FROM und JOIN lab l1 ON und.u = l1.i JOIN lab l2 ON und.v = l2.i
        |  GROUP BY 1, 2),
        |cw AS (
        |  SELECT c_a, c_b, CAST(CASE WHEN c_a = c_b THEN 2 * n_edges
        |    ELSE n_edges END AS BIGINT) AS weight
        |  FROM pairs),
        |adjw AS (
        |  SELECT c_a AS i, c_b AS j, weight AS w FROM cw WHERE c_a <> c_b
        |  UNION ALL
        |  SELECT c_b, c_a, weight FROM cw WHERE c_a <> c_b),
        |selfw AS (SELECT c_a AS i, weight AS sw FROM cw WHERE c_a = c_b),
        |degw AS (
        |  SELECT coalesce(a.i, s.i) AS i,
        |    CAST(coalesce(a.nw, 0) + coalesce(s.sw, 0) AS BIGINT) AS ki
        |  FROM (SELECT i, sum(w) AS nw FROM adjw GROUP BY i) a
        |  FULL JOIN selfw s ON a.i = s.i),
        |mm AS (SELECT CAST(sum(ki) / 2 AS BIGINT) AS m FROM degw),
        |candw AS (
        |  SELECT i, j AS c, w AS kin FROM adjw
        |  UNION ALL SELECT i, i, CAST(0 AS BIGINT) FROM degw),
        |scoredw AS (
        |  SELECT candw.i, candw.c,
        |    round(CAST(candw.kin AS DOUBLE) / mm.m
        |      - CAST(d.ki AS DOUBLE) * CAST(CASE WHEN candw.c = candw.i
        |          THEN 0 ELSE kt.ki END AS DOUBLE)
        |        / (2.0 * mm.m * mm.m), 9) AS gain
        |  FROM candw JOIN degw kt ON candw.c = kt.i
        |    JOIN degw d ON candw.i = d.i CROSS JOIN mm),
        |bestw AS (
        |  SELECT i, c, gain, row_number() OVER (
        |    PARTITION BY i ORDER BY gain DESC, c) AS rn
        |  FROM scoredw)
        |SELECT i AS node_id, c AS cid_new, (c <> i) AS moved, gain
        |FROM bestw WHERE rn = 1 ORDER BY node_id""".stripMargin,

    // Both modularity paths replicated: fine (edge joins over the step
    // labels) and coarse (singleton-partition weighted form over the
    // contracted tables), compared exactly.
    "graph_coarsen_invariant" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |adj AS (SELECT u AS i, v AS j FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT i, count(*) AS ki FROM adj GROUP BY i),
        |kin AS (SELECT i, j % 64 AS c, count(*) AS kin FROM adj GROUP BY i, j % 64),
        |stay AS (SELECT i, i % 64 AS c, CAST(0 AS BIGINT) AS kin FROM deg),
        |cand AS (
        |  SELECT i, c, max(kin) AS kin FROM (
        |    SELECT * FROM kin UNION ALL SELECT * FROM stay) t
        |  GROUP BY i, c),
        |ktot AS (
        |  SELECT i % 64 AS c, CAST(sum(ki) AS BIGINT) AS ktot
        |  FROM deg GROUP BY i % 64),
        |m AS (SELECT count(*) AS m FROM und),
        |scored AS (
        |  SELECT cand.i, cand.c,
        |    round(CAST(cand.kin AS DOUBLE) / m.m
        |      - CAST(deg.ki AS DOUBLE) * CAST(ktot.ktot
        |          - CASE WHEN cand.c = cand.i % 64 THEN deg.ki ELSE 0 END
        |          AS DOUBLE)
        |        / (2.0 * m.m * m.m), 9) AS gain
        |  FROM cand JOIN ktot USING (c) JOIN deg USING (i) CROSS JOIN m),
        |best AS (
        |  SELECT i, c, row_number() OVER (
        |    PARTITION BY i ORDER BY gain DESC, c) AS rn
        |  FROM scored),
        |lab AS MATERIALIZED (SELECT i, c FROM best WHERE rn = 1),
        |dc AS (SELECT l.c, CAST(sum(d.ki) AS BIGINT) AS d_c
        |  FROM deg d JOIN lab l USING (i) GROUP BY l.c),
        |ec AS (SELECT l1.c AS c, count(*) AS e_c FROM und
        |  JOIN lab l1 ON und.u = l1.i JOIN lab l2 ON und.v = l2.i
        |  AND l1.c = l2.c GROUP BY l1.c),
        |qf AS (SELECT round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
        |    AS q_fine FROM (
        |  SELECT round(CAST(coalesce(ec.e_c, 0) AS DOUBLE) / m.m
        |    - (CAST(dc.d_c AS DOUBLE) / (2.0 * m.m))
        |      * (CAST(dc.d_c AS DOUBLE) / (2.0 * m.m)), 9) AS term
        |  FROM dc LEFT JOIN ec USING (c) CROSS JOIN m) t),
        |pairs AS (
        |  SELECT least(l1.c, l2.c) AS c_a, greatest(l1.c, l2.c) AS c_b,
        |    count(*) AS n_edges
        |  FROM und JOIN lab l1 ON und.u = l1.i JOIN lab l2 ON und.v = l2.i
        |  GROUP BY 1, 2),
        |cw AS (
        |  SELECT c_a, c_b, CAST(CASE WHEN c_a = c_b THEN 2 * n_edges
        |    ELSE n_edges END AS BIGINT) AS weight
        |  FROM pairs),
        |adjw AS (
        |  SELECT c_a AS i, weight AS w FROM cw WHERE c_a <> c_b
        |  UNION ALL SELECT c_b, weight FROM cw WHERE c_a <> c_b),
        |degw AS (
        |  SELECT coalesce(a.i, s.i) AS i,
        |    CAST(coalesce(a.nw, 0) + coalesce(s.sw, 0) AS BIGINT) AS ki,
        |    CAST(coalesce(s.sw, 0) AS BIGINT) AS sw
        |  FROM (SELECT i, sum(w) AS nw FROM adjw GROUP BY i) a
        |  FULL JOIN (SELECT c_a AS i, weight AS sw FROM cw
        |    WHERE c_a = c_b) s ON a.i = s.i),
        |mm AS (SELECT CAST(sum(ki) / 2 AS BIGINT) AS m FROM degw),
        |qc AS (SELECT round(CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
        |    AS q_coarse FROM (
        |  SELECT round(CAST(sw AS DOUBLE) / (2.0 * mm.m)
        |    - (CAST(ki AS DOUBLE) / (2.0 * mm.m))
        |      * (CAST(ki AS DOUBLE) / (2.0 * mm.m)), 9) AS term
        |  FROM degw CROSS JOIN mm) t)
        |SELECT qf.q_fine, qc.q_coarse,
        |  (qf.q_fine = qc.q_coarse) AS invariant_holds,
        |  m.m AS m_fine, mm.m AS m_coarse
        |FROM qf CROSS JOIN qc CROSS JOIN m CROSS JOIN mm""".stripMargin,

    "graph_hits_step" ->
      """WITH e AS (
        |  SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        |auth AS (SELECT dst, count(*) AS a FROM e GROUP BY dst),
        |hub AS (
        |  SELECT e.src, CAST(sum(auth.a) AS BIGINT) AS h
        |  FROM e JOIN auth ON e.dst = auth.dst GROUP BY e.src),
        |m AS (SELECT (SELECT max(a) FROM auth) AS ma,
        |             (SELECT max(h) FROM hub) AS mh)
        |SELECT ntype, node_id, score FROM (
        |  SELECT 'p' AS ntype, dst AS node_id,
        |    round(CAST(a AS DOUBLE) / m.ma, 9) AS score FROM auth, m
        |  UNION ALL
        |  SELECT 's' AS ntype, src AS node_id,
        |    round(CAST(h AS DOUBLE) / m.mh, 9) AS score FROM hub, m) t
        |ORDER BY ntype, node_id""".stripMargin,

    "graph_bfs_levels" -> {
      val rounds = (1 to 4).map { i =>
        s"""fr$i AS MATERIALIZED (
           |  SELECT DISTINCT e.v AS n FROM fr${i - 1} f JOIN e ON f.n = e.u
           |  WHERE e.v NOT IN (SELECT n FROM v${i - 1})),
           |v$i AS MATERIALIZED (
           |  SELECT n, level FROM v${i - 1}
           |  UNION ALL SELECT n, $i AS level FROM fr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 10 = 0),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |v0 AS MATERIALIZED (SELECT min(u) AS n, 0 AS level FROM e),
        |fr0 AS (SELECT n FROM v0),
        |$rounds
        |SELECT n AS node, level FROM v4 ORDER BY node""".stripMargin
    },

    "graph_k_core" -> {
      val peel = (1 to 6).map { i =>
        s"""k$i AS MATERIALIZED (SELECT n FROM (
           |  SELECT n, count(*) AS d FROM (
           |    SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) t$i
           |  GROUP BY n) dd$i WHERE d >= 5),
           |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 10 = 0),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |$peel
        |SELECT n AS node, count(*) AS core_deg FROM (
        |  SELECT u AS n FROM e6 UNION ALL SELECT v FROM e6) f
        |GROUP BY n ORDER BY node""".stripMargin
    },

    // Same salted-md5 next-hop draw; identical string seeds in both
    // engines make the full walk table hash-comparable.
    "graph_walk_pairs" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 3 = 0),
        |und AS (
        |  SELECT DISTINCT x.p AS u, y.p AS v
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |both_e AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |h1 AS (
        |  SELECT u AS node_id, v AS hop1, row_number() OVER (
        |    PARTITION BY u ORDER BY
        |      md5('walk:1:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)),
        |      v) AS rn
        |  FROM both_e),
        |w1 AS (SELECT node_id, hop1 FROM h1 WHERE rn = 1),
        |h2 AS (
        |  SELECT w1.node_id, w1.hop1, e.v AS hop2, row_number() OVER (
        |    PARTITION BY w1.node_id ORDER BY
        |      md5('walk:2:' || CAST(w1.hop1 AS VARCHAR)
        |        || ':' || CAST(e.v AS VARCHAR)),
        |      e.v) AS rn
        |  FROM w1 JOIN both_e e ON w1.hop1 = e.u)
        |SELECT node_id, hop1, hop2 FROM h2 WHERE rn = 1
        |ORDER BY node_id""".stripMargin,

    // The dedup_clusters recursive-CTE fixpoint with the graph swapped;
    // the %10 subgraph bounds the closure.
    "graph_connected_components" ->
      """WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_partkey % 10 = 0),
        |e0 AS (
        |  SELECT x.p AS u, y.p AS v FROM op x JOIN op y
        |  ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.id = e.u),
        |lab AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |SELECT comp AS component_id, count(*) AS n_nodes,
        |  min(id) AS min_node, max(id) AS max_node
        |FROM lab GROUP BY comp ORDER BY component_id""".stripMargin
  )
}

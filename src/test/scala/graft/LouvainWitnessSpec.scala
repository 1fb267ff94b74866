package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Three-level witness for graph_louvain_full (VERDICT r12 item 5):
  * the outer loop's label-composition path past level 2 and the stop
  * rule at depth were previously exercised only under the cap-require.
  * The fixture (the companion's `edges`) is a planted hierarchy built
  * around the MEASURED synchronous-sweep dynamics:
  *
  *  - 27 K6 "mids" whose 6 members share one residue class mod 64, so
  *    the fine loop's hash seeding starts AT the mids and phase 1
  *    emits them unchanged (level 1) — no single node can leave a K6
  *    (stay kin 5 beats every per-foreign-mid kin, capped ≤ 4 by the
  *    even edge spread);
  *  - per gadget (3 disconnected gadgets of 9 mids), 3 triangles of
  *    mids with asymmetric weights (20, 24, 16): a synchronous sweep
  *    provably merges the WEAK pair of a 3-cycle (both endpoints point
  *    at the shared apex) and then stalls in a label-chase that leaves
  *    the sets fixed — so level 2 contracts each triangle to
  *    {M1, M3} + {M2} (probed: exactly this, Q up);
  *  - a second asymmetric 3-cycle (68, 76, 60) planted between the
  *    level-2 PAIR supernodes of the three triangles (spread evenly
  *    over their 4 underlying mid-pairs, each planted mid-pair weight
  *    kept below the intra-triangle minimum so level-2 argmaxes are
  *    undisturbed) — level 3 merges its weak pair the same way;
  *  - the level-4 sweep's simultaneous moves then only produce
  *    zero-internal-weight regroupings: Q cannot improve, the ladder
  *    dips at sweep 1, and the outer loop stops with improving=false.
  *
  * Done-when (VERDICT): levels == 3 asserted by a gate, the coarsen
  * invariant require()d by the operator green at every level (a
  * violation would throw, failing this test), and the composed
  * fine-node → final-community map emitted for all 162 nodes.
  */
class LouvainWitnessSpec extends AnyFunSuite with GraftSuite {
  test("graph_louvain_full contracts exactly 3 levels on the planted hierarchy") {
    val dir = LouvainWitnessSpec.writeFixture(spark, tempDir("graft_louvain_witness").toString)
    val out = SparkEntry.queries("graph_louvain_full")(spark, dir)
      .select("node_id", "cid", "levels").collect()
    assert(out.length === 162, s"expected 162 fine nodes, got ${out.length}")
    val levels = out.map(_.getLong(2)).distinct.toSeq
    assert(levels === Seq(3L),
      s"planted hierarchy must contract exactly 3 levels, got $levels")

    val lab = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Mids never split: the label composed down 3 levels is constant
    // across each seeded K6 (a composition slip past level 2 would
    // scatter exactly these).
    for (j <- 0 until 27) {
      val cids = LouvainWitnessSpec.midNodes(j).map(lab).distinct
      assert(cids.length === 1, s"mid $j split across communities: $cids")
    }
    // Gadgets are disconnected: no community crosses one.
    val gadgetOf = (0 until 27).map(j => j -> j / 9).toMap
    val byCid = out.groupBy(_.getLong(1))
    byCid.foreach { case (cid, rows) =>
      val gs = rows.map(r => gadgetOf((r.getLong(0) / 10 - 1).toInt % 32))
        .distinct
      assert(gs.length === 1, s"community $cid crosses gadgets $gs")
    }
    // The probed fixpoint: 9 communities (3 per gadget).
    assert(byCid.size === 9,
      s"expected the probed 9-community fixpoint, got ${byCid.size}")
  }
}

/** The planted 3-level hierarchy the witness runs on. */
object LouvainWitnessSpec {
  // 3 supermacros x 3 macros x 3 mids, mid = K6 whose 6 members share
  // one residue class mod 64 (the fine loop's hash seeding) so the
  // level-1 partition is the mids BY SEED CONSTRUCTION; asymmetric
  // 3-cycle bridge weights at both weighted tiers break the
  // synchronous sweep's swap hazard; supermacros disconnected.
  val midsPerMacro = 3
  val macrosPerSuper = 3
  val supers = 3
  val K = 6 // mid clique size
  val wMid: (Int, Int, Int) = (20, 24, 16)  // (M1M2, M2M3, M1M3)
  // level-3 pair-to-pair 3-cycle: weights between the level-2 PAIR
  // supernodes {M1,M3} of the three triangles of a gadget, spread
  // evenly over their 4 underlying mid-pairs (17/19/15 per mid-pair,
  // each below every mid's best intra-triangle link of 20 or 24)
  val wMac: (Int, Int, Int) = (68, 76, 60)  // (P1P2, P2P3, P1P3)

  def midIndex(sm: Int, mac: Int, mid: Int): Int =
    (sm * macrosPerSuper + mac) * midsPerMacro + mid

  def midNodes(j: Int): IndexedSeq[Long] =
    (0 until K).map(t => 10L * (j + 1 + 32 * t))

  /** w distinct, evenly-spread edges between two equal-size groups:
    * diagonal d, position i — each node carries at most ceil(w/n)
    * endpoints and at most 2 toward any single foreign K6 block.
    */
  def spread(xs: IndexedSeq[Long], ys: IndexedSeq[Long],
      w: Int): Seq[(Long, Long)] = {
    val n = xs.length
    require(w <= n * ys.length)
    (0 until w).map(i => (xs(i % n), ys(((i % n) + i / n) % ys.length)))
  }

  def edges(): Seq[(Long, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (sm <- 0 until supers; mac <- 0 until macrosPerSuper) {
      // K6 internals
      for (mid <- 0 until midsPerMacro) {
        val ids = midNodes(midIndex(sm, mac, mid))
        for (i <- 0 until K; j <- i + 1 until K) buf += ((ids(i), ids(j)))
      }
      // asymmetric mid-mid 3-cycle within the macro
      val (w12, w23, w13) = wMid
      buf ++= spread(midNodes(midIndex(sm, mac, 0)),
        midNodes(midIndex(sm, mac, 1)), w12)
      buf ++= spread(midNodes(midIndex(sm, mac, 1)),
        midNodes(midIndex(sm, mac, 2)), w23)
      buf ++= spread(midNodes(midIndex(sm, mac, 0)),
        midNodes(midIndex(sm, mac, 2)), w13)
    }
    // asymmetric pair-to-pair 3-cycle within each gadget: links between
    // the {M1,M3} weak-pair supernodes of the three triangles, each
    // spread evenly over the 4 underlying mid-pairs
    def pairNodes(sm: Int, mac: Int): IndexedSeq[Long] =
      midNodes(midIndex(sm, mac, 0)) ++ midNodes(midIndex(sm, mac, 2))
    val (a2, b2, c2) = wMac
    for (sm <- 0 until supers) {
      buf ++= spread(pairNodes(sm, 0), pairNodes(sm, 1), a2)
      buf ++= spread(pairNodes(sm, 1), pairNodes(sm, 2), b2)
      buf ++= spread(pairNodes(sm, 0), pairNodes(sm, 2), c2)
    }
    buf.toSeq
  }

  /** Writes the fixture's lineitem table under `dir`; returns `dir`. */
  def writeFixture(spark: SparkSession, dir: String): String = {
    val sp = spark
    import sp.implicits._
    val es = edges()
    val rows = es.zipWithIndex.flatMap { case ((u, v), o) =>
      Seq((o.toLong, u), (o.toLong, v))
    }
    rows.toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }
}

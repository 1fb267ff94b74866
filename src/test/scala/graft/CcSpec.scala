package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Cc, Graph}

/** The connected-components fixpoints against an in-memory
  * union-find: `Cc.minLabel` (min-label propagation with pointer
  * jumping) must label every node with the min id of its component,
  * and `Graph.componentCensus` (its census over `Cc.minLabel`) must
  * emit exactly the union-find components. The fixtures cover seeded random graphs,
  * a 300-node path (many rounds) and a shuffled one past the round
  * cap, fixpoints that land on odd and on even rounds, duplicate and
  * reversed pairs, and an empty pair frame.
  */
class CcSpec extends AnyFunSuite with GraftSuite {
  import CcSpec._

  private def pairFrame(pairs: Seq[(Long, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("id_a", "id_b")
  }

  private def sparkLabels(pairs: Seq[(Long, Long)], what: String): Map[Long, Long] = {
    val sp = spark
    import sp.implicits._
    val out = Cc.minLabel(pairFrame(pairs), what)
    try out.select("id", "label").as[(Long, Long)].collect().toMap
    finally CacheDrain.drain(spark)
  }

  private def checkMinLabel(pairs: Seq[(Long, Long)], what: String): Unit = {
    val got = sparkLabels(pairs, what)
    val want = unionFindLabels(pairs)
    assert(got == want, s"$what: Cc.minLabel disagrees with union-find " +
      s"on ${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} nodes")
  }

  test("Cc.minLabel matches union-find on seeded random graphs") {
    for (seed <- 1 to 8) {
      val rnd = new Random(seed)
      val n = 10 + rnd.nextInt(50)
      // Sparse, non-contiguous ids: many components, some chains.
      val ids = rnd.shuffle((0 until n * 3).map(_.toLong + 100L)).take(n).toVector
      val m = n / 2 + rnd.nextInt(n)
      val pairs = Seq.fill(m) {
        val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }
      checkMinLabel(pairs, s"random seed $seed")
    }
  }

  test("Cc.minLabel converges on a 300-node path (many jumping rounds)") {
    val path = (0L until 299L).map(i => (i, i + 1))
    assert(minLabelRounds(path) >= 8, "the path must force many rounds")
    checkMinLabel(path, "path300")
  }

  test("Cc.minLabel fails loudly, not with a split clustering, past its round cap") {
    // Pointer jumping is no log-depth guarantee: with the ids shuffled
    // along the chain, label(label) rarely jumps far, and the same
    // 300-node path needs more than the 30-round cap.
    val perm = new Random(7).shuffle((0L until 300L).toVector)
    val shuffled = (0 until 299).map(i => (perm(i), perm(i + 1)))
    assert(minLabelRounds(shuffled) > 30)
    val e = intercept[IllegalArgumentException](sparkLabels(shuffled, "path300 shuffled"))
    assert(e.getMessage.contains("did not converge in 30 rounds"), e.getMessage)
  }

  test("Cc.minLabel is right whether the fixpoint lands on an odd or an even round") {
    // Paths of growing length with shuffled ids: pick the first whose
    // simulated fixpoint lands on an odd round and the first on an even
    // round.
    val candidates = (2 to 40).map { len =>
      val perm = new Random(len).shuffle((1L to len.toLong).toVector)
      (0 until len - 1).map(i => (perm(i), perm(i + 1)))
    }
    val byParity = candidates.groupBy(minLabelRounds(_) % 2)
    assert(byParity.keySet == Set(0, 1), "fixtures must cover both parities")
    for ((parity, graphs) <- byParity.toSeq.sortBy(_._1))
      checkMinLabel(graphs.head, s"fixpoint on round parity $parity")
  }

  test("Cc.minLabel ignores duplicate and reversed pairs") {
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 2L),
      (10L, 11L), (11L, 10L), (10L, 11L))
    checkMinLabel(pairs, "duplicates")
    assert(unionFindLabels(pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("Cc.minLabel on an empty pair frame gives an empty result") {
    assert(sparkLabels(Seq.empty, "empty").isEmpty)
  }

  test("graph component census matches union-find on a small fixture") {
    val sp = spark
    import sp.implicits._
    val rnd = new Random(11)
    val ids = (1L to 60L).toVector
    val chain = (1L until 12L).map(i => (i, i + 1)) // diameter 11
    val noise = Seq.fill(40)((ids(rnd.nextInt(60)), ids(rnd.nextInt(60))))
      .filter { case (a, b) => a != b }
    val edges = chain ++ noise ++ Seq((40L, 41L), (41L, 40L))
    val got = Graph.componentCensus(edges.toDF("u", "v"), "census fixture")
      .select("component_id", "n_nodes", "min_node", "max_node")
      .as[(Long, Long, Long, Long)].collect().toSeq
    CacheDrain.drain(spark)
    val want = unionFindLabels(edges).toSeq.groupBy(_._2).toSeq.map { case (c, ms) =>
      (c, ms.size.toLong, ms.map(_._1).min, ms.map(_._1).max)
    }.sortBy(_._1)
    assert(got == want)
    assert(want.size > 1, "the fixture must have several components")
  }
}

object CcSpec {

  /** Component min id of every node that appears in a pair. */
  def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      // Root at the smaller id, so a root is its component's min.
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Rounds `Cc.minLabel` runs after its init step, the last one being
    * the round that finds no change: an in-memory replay of its
    * schedule (min of own label, neighbor labels and label(label)).
    */
  def minLabelRounds(pairs: Seq[(Long, Long)]): Int = {
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var lab = adj.map { case (v, ns) => v -> (ns :+ v).min }
    var n = 0
    var changed = true
    while (changed) {
      val next = lab.map { case (v, l) =>
        v -> (adj(v).map(lab) :+ l :+ lab(l)).min
      }
      changed = next != lab
      lab = next
      n += 1
    }
    n
  }
}

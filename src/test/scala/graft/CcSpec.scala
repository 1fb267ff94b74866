package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, max, sum}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Cc, Graph}

/** The connected-components fixpoints against an in-memory
  * union-find: `Cc.minLabel` (union-find contraction per partition,
  * then min-label propagation with pointer jumping) must label every
  * node with the min id of its component, and `Graph.componentCensus`
  * (its census over `Cc.minLabel`) must emit exactly the union-find
  * components. Each fixture states its partition layout, because the
  * contraction's reach, and so the round count, depends on it: one
  * pair per partition makes the contraction the identity and leaves
  * the propagation schedule on its own. The fixtures cover seeded
  * random graphs in three layouts, a 300-node path (many rounds), a
  * shuffled one past the round cap and the same one settled by the
  * contraction, fixpoints that land on odd and on even rounds,
  * duplicate and reversed pairs, an empty pair frame, and the
  * contraction's union-find without Spark. `Cc.round`, the fixpoint
  * round every data-sized loop runs, is checked on its own too, and
  * `Cc.fixpoint`, the driver every converging loop runs on, on plain
  * Scala states.
  */
class CcSpec extends AnyFunSuite with GraftSuite {
  import CcSpec._

  private def sparkLabels(layout: Seq[Seq[(Long, Long)]], what: String): Map[Long, Long] = {
    val sp = spark
    import sp.implicits._
    val out = Cc.minLabel(pairFrame(spark, layout), what)
    try out.select("id", "label").as[(Long, Long)].collect().toMap
    finally CacheDrain.drain(spark)
  }

  private def checkMinLabel(layout: Seq[Seq[(Long, Long)]], what: String): Map[Long, Long] = {
    val got = sparkLabels(layout, what)
    val want = unionFindLabels(layout.flatten)
    assert(got == want, s"$what: Cc.minLabel disagrees with union-find " +
      s"on ${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} nodes")
    got
  }

  /** Seeded random graphs: sparse, non-contiguous ids, many
    * components, some chains.
    */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val n = 10 + rnd.nextInt(50)
    val ids = rnd.shuffle((0 until n * 3).map(_.toLong + 100L)).take(n).toVector
    val m = n / 2 + rnd.nextInt(n)
    Seq.fill(m) {
      val a = ids(rnd.nextInt(n)); val b = ids(rnd.nextInt(n))
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
  }

  test("Cc.minLabel matches union-find on seeded random graphs") {
    for (seed <- 1 to 8) checkMinLabel(slices(randomGraph(seed), 4), s"random seed $seed")
  }

  test("Cc.minLabel gives the same labels in every partition layout") {
    for (seed <- 1 to 8) {
      val pairs = randomGraph(seed)
      val byLayout = Seq(1, 4, pairs.size).map(k => checkMinLabel(slices(pairs, k), s"seed $seed in $k"))
      assert(byLayout.distinct.size == 1, s"seed $seed: labels depend on the layout")
    }
  }

  test("Cc.minLabel converges on a 300-node path (many jumping rounds)") {
    // One pair per partition: the contraction is the identity, so the
    // propagation rounds do all the work.
    val path = onePairEach((0L until 299L).map(i => (i, i + 1)))
    assert(minLabelRounds(path) >= 8, "the path must force many rounds")
    checkMinLabel(path, "path300")
  }

  test("Cc.minLabel fails loudly, not with a split clustering, past its round cap") {
    // Pointer jumping is no log-depth guarantee: with the ids shuffled
    // along the chain, label(label) rarely jumps far, and the same
    // 300-node path needs more than the 30-round cap once no partition
    // holds more than one of its pairs.
    val layout = onePairEach(shuffledPath)
    assert(minLabelRounds(layout) > 30)
    val e = intercept[IllegalArgumentException](sparkLabels(layout, "path300 shuffled"))
    assert(e.getMessage.contains("did not converge in 30 rounds"), e.getMessage)
  }

  test("Cc.minLabel settles a shuffled path in its init step when one partition holds it") {
    assert(minLabelRounds(slices(shuffledPath, 1)) == 0)
    checkMinLabel(slices(shuffledPath, 1), "path300 shuffled, one partition")
    // In four slices the slices' roots contest the boundary nodes, and
    // propagation over the star forest finishes the job.
    assert(minLabelRounds(slices(shuffledPath, 4)) > 0)
    checkMinLabel(slices(shuffledPath, 4), "path300 shuffled, four slices")
  }

  test("Cc.minLabel is right whether the fixpoint lands on an odd or an even round") {
    // Paths of growing length with shuffled ids, one pair per
    // partition: pick the first whose simulated fixpoint lands on an
    // odd round and the first on an even round.
    val candidates = (2 to 40).map { len =>
      val perm = new Random(len).shuffle((1L to len.toLong).toVector)
      onePairEach((0 until len - 1).map(i => (perm(i), perm(i + 1))))
    }
    val byParity = candidates.filter(minLabelRounds(_) > 0).groupBy(minLabelRounds(_) % 2)
    assert(byParity.keySet == Set(0, 1), "fixtures must cover both parities")
    for ((parity, graphs) <- byParity.toSeq.sortBy(_._1))
      checkMinLabel(graphs.head, s"fixpoint on round parity $parity")
  }

  test("Cc.minLabel ignores duplicate and reversed pairs") {
    val pairs = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 2L),
      (10L, 11L), (11L, 10L), (10L, 11L))
    checkMinLabel(slices(pairs, 4), "duplicates")
    assert(unionFindLabels(pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("Cc.minLabel on an empty pair frame gives an empty result") {
    assert(sparkLabels(slices(Seq.empty, 1), "empty").isEmpty)
  }

  test("Cc.contract emits roots in the node's component, the min without a flush") {
    for (seed <- 1 to 20) {
      val pairs = randomGraph(seed)
      val comp = unionFindLabels(pairs)
      // A flush every 2 nodes: roots are only window-local.
      val flushed = Cc.contract(pairs.iterator, flushAt = 2).toSeq
      assert(flushed.map(_._1).toSet == comp.keySet, s"seed $seed: nodes lost")
      for ((v, r) <- flushed) {
        assert(r <= v, s"seed $seed: root $r above node $v")
        assert(comp(r) == comp(v), s"seed $seed: root $r outside the component of $v")
      }
      assert(flushed.size > comp.size, s"seed $seed: the fixture must flush")
      // One window: exactly the component minimum, once per node.
      val whole = Cc.contract(pairs.iterator).toSeq
      assert(whole.size == comp.size && whole.toMap == comp, s"seed $seed")
    }
  }

  test("Cc.fixpoint runs a step that moves n times exactly n times, releasing each superseded state") {
    // States are fresh boxes, so a release names exactly one state.
    final class St(val n: Int)
    for (n <- 1 to 4) {
      val released = mutable.ArrayBuffer[Int]()
      var steps = 0
      val out = Cc.fixpoint("count up", 10)(new St(0), moved0 = true) { st =>
        steps += 1
        (new St(st.n + 1), st.n + 1 < n)
      }(st => released += st.n)
      assert(out.n == n && steps == n)
      assert(released == (0 until n), "each superseded state once, never the returned one")
    }
  }

  test("Cc.fixpoint runs no step when the start did not move") {
    var steps = 0
    val out = Cc.fixpoint("settled", 10)("s0", moved0 = false) { st => steps += 1; (st + "'", true) }(
      st => fail(s"released $st"))
    assert(out == "s0" && steps == 0)
  }

  test("Cc.fixpoint does not release a state a step returns as its own") {
    val released = mutable.ArrayBuffer[String]()
    val out = Cc.fixpoint("rejects", 10)("a", moved0 = true) {
      case "a" => ("b", true)
      case st => (st, false) // a rejected move: the input comes back unmoved
    }(released += _)
    assert(out == "b" && released == Seq("a"))
  }

  test("Cc.fixpoint fails loudly past its cap") {
    var steps = 0
    val e = intercept[IllegalArgumentException](
      Cc.fixpoint("never settles", 5)(0, moved0 = true) { st => steps += 1; (st + 1, true) }(_ => ()))
    assert(e.getMessage.contains("did not converge in 5 rounds"), e.getMessage)
    assert(steps == 5)
  }

  test("Cc.round returns rows, changed and extra aggregates from one SQL execution") {
    // A session of its own, so the listener sees only this round.
    val sp = spark.newSession()
    import sp.implicits._
    val execs = new ConcurrentLinkedQueue[String]()
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(f): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(f): Unit
    }
    // (id, label, prev) over three partitions; two labels dropped.
    val df = sp.sparkContext.parallelize(Seq((1L, 1L, 5L), (2L, 2L, 2L), (3L, 3L, 7L),
      (4L, 4L, 4L), (5L, 5L, 5L)), 3).toDF("id", "label", "prev")
    sp.listenerManager.register(ql)
    val (cp, r) =
      try Cc.round(df, col("label") < col("prev"), Seq("id", "label"),
        max(col("prev")).as("top"), sum(col("label")).as("total"))
      finally {
        ListenerBusDrain(sp.sparkContext)
        sp.listenerManager.unregister(ql)
      }
    assert(execs.asScala.toSeq == Seq("localCheckpoint"))
    assert((r.getAs[Long]("rows"), r.getAs[Long]("changed"), r.getAs[Long]("top"),
      r.getAs[Long]("total")) == ((5L, 2L, 7L, 15L)))
    // The checkpoint holds `out` only, sized by its observed row count.
    assert(cp.columns.toSeq == Seq("id", "label"))
    assert(cp.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(5)))
    assert(cp.as[(Long, Long)].collect().sorted.toSeq == (1L to 5L).map(i => (i, i)))
    Cc.release(cp)
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

  /** A 300-node path whose ids are shuffled along the chain. */
  val shuffledPath: Seq[(Long, Long)] = {
    val perm = new Random(7).shuffle((0L until 300L).toVector)
    (0 until 299).map(i => (perm(i), perm(i + 1)))
  }

  /** `pairs` cut into `k` contiguous slices, one per partition. */
  def slices(pairs: Seq[(Long, Long)], k: Int): Seq[Seq[(Long, Long)]] =
    (0 until k).map(i => pairs.slice(i * pairs.size / k, (i + 1) * pairs.size / k))

  /** The one-pair-per-partition layout, where the contraction is the
    * identity.
    */
  def onePairEach(pairs: Seq[(Long, Long)]): Seq[Seq[(Long, Long)]] = slices(pairs, pairs.size)

  /** A pair frame (id_a, id_b) with one partition per slice. */
  def pairFrame(spark: SparkSession, layout: Seq[Seq[(Long, Long)]]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(layout, layout.size).flatMap(s => s).toDF("id_a", "id_b")
  }

  /** Rounds `Cc.minLabel` runs after its init step on a pair frame laid
    * out as `layout`, the last one being the round that finds no
    * change: an in-memory replay of its schedule. The contraction
    * (`Cc.contract` per slice) gives the star forest S; init labels each
    * node with its smallest root, and no round runs unless some node
    * has two roots; otherwise each round takes the min of own label,
    * the labels of S neighbors (both directions) and label(label).
    */
  def minLabelRounds(layout: Seq[Seq[(Long, Long)]]): Int = {
    val star = layout.flatMap(s => Cc.contract(s.iterator))
    val roots = star.groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2) }
    if (roots.values.forall(rs => rs.min == rs.max)) 0
    else {
      val adj = (star ++ star.map(_.swap)).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      var lab = roots.map { case (v, rs) => v -> rs.min }
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
}

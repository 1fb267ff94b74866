package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AsOfJoin

/** Edge semantics of the custom as-of join on a hand-built dataset:
  * no-match rows (nulls), inclusive time boundary, latest-of-many
  * matches, keys missing on either side, and multi-partition execution.
  */
class AsOfJoinSpec extends AnyFunSuite with GraftSuite {
  test("as-of edge semantics on a hand-built dataset") {
    val sp = spark
    import sp.implicits._
    val left = Seq(
      (1L, 100L, 5L),   // key 1: before any right row → null
      (1L, 100L, 20L),  // key 1: exactly at right t=20 → inclusive match
      (1L, 100L, 35L),  // key 1: between 30 and 40 → match t=30
      (2L, 200L, 50L),  // key 2: no right rows at all → null
      (3L, 300L, 99L)   // key 3: far after the only right row → match t=1
    ).toDF("k", "payload", "t")
    val right = Seq(
      (1L, 1000L, 20L),
      (1L, 1001L, 30L),
      (1L, 1002L, 40L),  // after every left row of key 1 except none
      (3L, 3000L, 1L),
      (4L, 4000L, 7L)    // key absent on the left → ignored
    ).toDF("rk", "rpayload", "rt")

    val got = AsOfJoin(left, "k", "t", right, "rk", "rt")
      .select("k", "t", "rpayload", "rt")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq

    assert(got === Seq(
      (1L, 5L, -1L, -1L),
      (1L, 20L, 1000L, 20L),
      (1L, 35L, 1001L, 30L),
      (2L, 50L, -1L, -1L),
      (3L, 99L, 3000L, 1L)))
  }
}

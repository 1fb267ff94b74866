package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the time-series / history operators that the
  * row-hash oracle can't articulate: gap-fill density, OHLC pick rules,
  * SCD2 interval integrity.
  */
class TimeSeriesSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"
  private val hourUs = 3600000000L

  test("ar1Tail: slope = -1 takes the closed form, not the drift fallback") {
    // r12 ADVICE: the geometric closed form is singular only at
    // b = +1; an alternating series fitting b = -1 exactly must
    // forecast the alternation (2, 8, 2), not the drift line 8 + 10h.
    val sp = spark
    import sp.implicits._
    // counts 2,8,2,8 at hours 1..4: lag pairs (2,8),(8,2),(2,8) fit
    // y = -x + 10 exactly => OLS slope -1, intercept 10, y_last = 8.
    val hc = Seq(("a", 1L, 2L), ("a", 2L, 8L), ("a", 3L, 2L), ("a", 4L, 8L))
      .toDF("event_type", "h", "n")
    val got = graft.queries.StreamingBatch.ar1Tail(hc)
      .select("h", "slope", "forecast").as[(Int, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.map(_._2).forall(_ == -1.0), s"slope must fit -1: ${got.toSeq}")
    assert(got.map(_._3).toSeq === Seq(2.0, 8.0, 2.0),
      s"b = -1 must alternate via the closed form: ${got.toSeq}")
  }

  test("ts_gapfill emits a dense hourly series carrying values forward") {
    val rows = SparkEntry.queries("ts_gapfill")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (user, rs) =>
      val hours = rs.map(_.getLong(1)).sorted
      // Dense: every step between consecutive emitted hours is one hour.
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == hourUs },
        s"user $user: hourly series has a hole")
      // Forward-carry: a filled row repeats the last observed value and
      // reports zero events; an observed row reports >0.
      var lastObserved = Double.NaN
      rs.sortBy(_.getLong(1)).foreach { r =>
        val (n, v, filled) = (r.getLong(2), r.getDouble(3), r.getBoolean(4))
        if (filled) {
          assert(n == 0L, s"user $user: filled hour claims events")
          assert(v == lastObserved, s"user $user: filled value not carried")
        } else {
          assert(n > 0L, s"user $user: observed hour claims zero events")
          lastObserved = v
        }
      }
    }
  }

  test("ts_ohlc_downsample open/close follow the (us, event_id) tie rule") {
    val bars = SparkEntry.queries("ts_ohlc_downsample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(bars.nonEmpty)
    // Recompute first/last independently from the raw table.
    val raw = Tables.eventsTs(spark, sf)
      .select(col("user_id"), col("event_id"), col("us"), col("value"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(2) / 86400000000L * 86400000000L))
    assert(raw.keySet === bars.keySet)
    raw.foreach { case (k, rs) =>
      val ordered = rs.sortBy(r => (r.getLong(2), r.getLong(1)))
      val bar = bars(k)
      assert(bar.getDouble(5) === ordered.head.getDouble(3), s"$k: open mismatch")
      assert(bar.getDouble(6) === ordered.last.getDouble(3), s"$k: close mismatch")
      assert(bar.getDouble(3) === rs.map(_.getDouble(3)).min, s"$k: lo mismatch")
      assert(bar.getDouble(4) === rs.map(_.getDouble(3)).max, s"$k: hi mismatch")
      assert(bar.getLong(2) === rs.length.toLong, s"$k: volume mismatch")
    }
  }

  test("merge_scd2 intervals chain without overlap and close correctly") {
    val iv = SparkEntry.queries("merge_scd2")(spark, sf).collect()
    assert(iv.nonEmpty)
    iv.groupBy(_.getLong(0)).foreach { case (user, rs) =>
      val ordered = rs.sortBy(_.getLong(2))
      // Exactly one open (current) interval per user, and it's the last.
      assert(ordered.count(_.getBoolean(4)) === 1, s"user $user: open-interval count")
      assert(ordered.last.getBoolean(4), s"user $user: current interval not last")
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        // Half-open chain: each interval ends exactly where the next starts.
        assert(!a.isNullAt(3) && a.getLong(3) === b.getLong(2),
          s"user $user: interval chain broken")
        // Collapsed: consecutive intervals never repeat a state.
        assert(a.getString(1) !== b.getString(1),
          s"user $user: un-collapsed consecutive state")
      }
    }
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.Tables._
import graft.SparkEntry.keyed

/** Window function suite (SURVEY.md §2e). Every window is partitioned —
  * never a global unpartitioned window except the bounded top-k — and
  * every ORDER BY inside a frame ends with a unique key so ties cannot
  * reorder between engines (SURVEY.md §7).
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = keyed(
    "win_row_number" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    },

    "win_rank_dense" -> { (s, d) =>
      // Banded price → genuine ties; rank/dense_rank depend only on the
      // band so the values are deterministic despite ties.
      //
      // Scale form: a naive rank() over partitionBy(status) serializes
      // each status (3 partitions for 100 TB of orders). Since ranks are
      // a function of the band alone, compute them on the TINY
      // (status, band) aggregate — rank = 1 + rows in higher bands,
      // dense_rank = band position — and broadcast-join back. Identical
      // values, no giant window state.
      val banded = orders(s, d)
        .withColumn("band", floor(col("o_totalprice") / 50000).cast("long"))
      val w = Window.partitionBy("o_orderstatus").orderBy(desc("band"))
      val bandRanks = banded.groupBy("o_orderstatus", "band")
        .agg(count(lit(1)).as("c"))
        .withColumn("rnk", (coalesce(sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1).cast("int"))
        .withColumn("drnk", row_number().over(w))
        .select(col("o_orderstatus").as("st"), col("band").as("b"),
          col("rnk"), col("drnk"))
      banded.join(broadcast(bandRanks),
          col("o_orderstatus") === col("st") && col("band") === col("b"))
        .select("o_orderkey", "o_orderstatus", "band", "rnk", "drnk")
        .orderBy("o_orderkey")
    },

    "win_lag_lead" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      eventsTs(s, d)
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .withColumn("gap_us", col("us") - col("prev_us"))
        .select("event_id", "user_id", "prev_us", "next_us", "gap_us")
        .orderBy("event_id")
    },

    "win_running_sum" -> { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders(s, d)
        .withColumn("running_spend", sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    },

    "win_moving_avg" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(-2, 0)
      eventsTs(s, d)
        .withColumn("mavg", round(avg(col("value")).over(w), 4))
        .select("event_id", "user_id", "mavg")
        .orderBy("event_id")
    },

    "win_range_frame" -> { (s, d) =>
      // RANGE frame over epoch millis: all orders of the same customer
      // within the 30 days preceding each order.
      val ms30d = 2592000000L
      val w = Window.partitionBy("o_custkey").orderBy(col("ms"))
        .rangeBetween(-ms30d, 0)
      orders(s, d)
        // o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC so the
        // cast to TIMESTAMP is identity and unix_millis matches epoch_ms.
        .withColumn("ms", unix_millis(col("o_orderdate").cast(TimestampType)))
        .withColumn("spend_30d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
        .withColumn("n_30d", count(lit(1)).over(w))
        .select("o_custkey", "o_orderkey", "spend_30d", "n_30d")
        .orderBy("o_custkey", "o_orderkey")
    },

    "win_pct" -> { (s, d) =>
      // percent_rank/cume_dist with a unique ordering (no ties → both
      // are exact integer ratios, identical across engines).
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .filter(col("o_custkey") % 25 === 0) // post-window, like QUALIFY
        .select("o_orderkey", "o_orderstatus", "pr", "cd")
        .orderBy("o_orderkey")
    },

    "win_ntile" -> { (s, d) =>
      val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
      customer(s, d)
        .withColumn("quartile", ntile(4).over(w))
        .select("c_custkey", "c_mktsegment", "quartile")
        .orderBy("c_custkey")
    },

    "win_first_last" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      eventsTs(s, d)
        .withColumn("first_type", first(col("event_type")).over(w))
        .withColumn("last_type", last(col("event_type")).over(w))
        .select("user_id", "first_type", "last_type")
        .distinct()
        .orderBy("user_id")
    },

    "win_nth_value" -> { (s, d) =>
      // nth_value over the full frame — "each user's 2nd and 3rd event
      // type" (NULL when the series is shorter); same one-shuffle
      // full-frame shape as win_first_last.
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      eventsTs(s, d)
        .withColumn("second_type", nth_value(col("event_type"), 2).over(w))
        .withColumn("third_type", nth_value(col("event_type"), 3).over(w))
        .select("user_id", "second_type", "third_type")
        .distinct()
        .orderBy("user_id")
    },

    "topk_per_group" -> { (s, d) =>
      val w = Window.partitionBy("p_brand").orderBy(desc("p_retailprice"), col("p_partkey"))
      part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("p_brand", "rn", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rn")
    },

    "win_streak" -> { (s, d) =>
      // Gaps-and-islands: each user's longest run of CONSECUTIVE active
      // days. The classic trick — day_idx minus row_number over the
      // distinct active days is constant within a consecutive run — so
      // islands fall out of one window plus one groupBy, both keyed on
      // user_id: the distinct, the window, and both rollups ride a
      // single user partitioning (one exchange). The explicit
      // repartition makes that sharing real — without it the distinct
      // hashes on (user_id, day_idx) and the window re-shuffles on
      // user_id; partitioning by the user_id SUBSET up front satisfies
      // the distinct's ClusteredDistribution too, so Spark plans no
      // further hash exchange. Integer-only output.
      val dayUs = 86400000000L
      val days = eventsTs(s, d)
        .select(col("user_id"), expr(s"us DIV ${dayUs}L").as("day_idx"))
        .repartition(col("user_id"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day_idx")
      days
        .withColumn("island", col("day_idx") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("max_streak"))
        .orderBy("user_id")
    }
  )

  val oracleSql: Map[String, String] = keyed(
    "win_row_number" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey, CAST(row_number()
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "win_rank_dense" ->
      """SELECT o_orderkey, o_orderstatus, band,
        |  CAST(rank() OVER w AS INTEGER) AS rnk, CAST(dense_rank() OVER w AS INTEGER) AS drnk
        |FROM (SELECT *, CAST(floor(o_totalprice / 50000) AS BIGINT) AS band FROM orders) t
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY band DESC)
        |ORDER BY o_orderkey""".stripMargin,

    "win_lag_lead" ->
      """SELECT event_id, user_id, prev_us, next_us, us - prev_us AS gap_us FROM (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts), 1) OVER w AS prev_us,
        |    lead(epoch_us(ts), 1) OVER w AS next_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
        |ORDER BY event_id""".stripMargin,

    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_moving_avg" ->
      """SELECT event_id, user_id, round(avg(value)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
        |FROM events ORDER BY event_id""".stripMargin,

    "win_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE) AS spend_30d,
        |  count(*) OVER w AS n_30d
        |FROM (SELECT *, epoch_ms(o_orderdate) AS ms FROM orders) t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY ms
        |             RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_pct" ->
      """SELECT o_orderkey, o_orderstatus,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |QUALIFY o_custkey % 25 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "win_ntile" ->
      """SELECT c_custkey, c_mktsegment, CAST(ntile(4)
        |  OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "win_first_last" ->
      """SELECT DISTINCT user_id,
        |  first_value(event_type) OVER w AS first_type,
        |  last_value(event_type) OVER w AS last_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,

    "win_nth_value" ->
      """SELECT DISTINCT user_id,
        |  nth_value(event_type, 2) OVER w AS second_type,
        |  nth_value(event_type, 3) OVER w AS third_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id""".stripMargin,

    "topk_per_group" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice, CAST(row_number()
        |    OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS rn
        |  FROM part) t
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    "win_streak" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_idx
        |  FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day_idx - row_number()
        |      OVER (PARTITION BY user_id ORDER BY day_idx) AS island
        |  FROM days),
        |runs AS (
        |  SELECT user_id, island, count(*) AS len
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_streaks, max(len) AS max_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}

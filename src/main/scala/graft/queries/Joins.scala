package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.SparkEntry.keyed

/** Join suite (SURVEY.md §2c). Scale notes per operator:
  *
  * - Dimension sides (region/nation/customer-at-sf) get explicit
  *   `broadcast()` hints — on a 1000-executor cluster the fact table
  *   never shuffles for those joins.
  * - The non-equi joins (theta-range, interval-overlap) are written as
  *   BANDED joins: both sides bucketed on the range key, one side
  *   exploded to adjacent buckets, then an equi-join on the bucket +
  *   exact residual filter. That turns an O(n·m) BNLJ into a shuffle
  *   hash join whose pair count is bounded by band width — the shape
  *   that survives 100 TB.
  * - As-of is the union-and-window form: one shuffle on the key, no
  *   join explosion at all.
  */
object Joins {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = keyed(
    "join_inner_equi" -> ((s, d) =>
      orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .filter(col("o_totalprice") > 150000)
        .orderBy("o_orderkey")),

    "join_multiway_star" -> { (s, d) =>
      // Flagship-shaped star join: fact lineitem joined through orders to
      // the broadcast dimension chain. One shuffle (li ⋈ orders);
      // customer/nation/region ride along broadcast.
      val li = lineitem(s, d)
      val o  = orders(s, d)
      val c  = customer(s, d)
      val n  = nation(s, d)
      val r  = region(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },

    "join_left_outer" -> ((s, d) =>
      customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    "join_right_outer" -> ((s, d) =>
      orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(coalesce(col("o_totalprice"), lit(0))).as("spend"))
        .orderBy("c_custkey")),

    "join_full_outer" -> { (s, d) =>
      // Aggregate-then-join keeps the outer join 25-rows-a-side wide and
      // creates genuine gaps on both sides (filters pick nation subsets).
      val cs = customer(s, d).filter(col("c_acctbal") < 0)
        .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
      val ss = supplier(s, d).filter(col("s_acctbal") > 5000)
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
      cs.join(ss, col("nk_c") === col("nk_s"), "full")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy("nationkey")
    },

    "join_left_semi" -> ((s, d) =>
      customer(s, d).join(
        orders(s, d).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "join_left_anti" -> ((s, d) =>
      // Customers with no high-value URGENT order (every customer has
      // SOME order in this data, so the plain NOT EXISTS would be empty
      // — a weak witness; the predicate keeps the result non-trivial).
      customer(s, d).join(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 250000),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    "join_broadcast" -> ((s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("r_name", "n_name")),

    "join_cross" -> ((s, d) =>
      region(s, d).crossJoin(nation(s, d))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    "join_theta_range" -> { (s, d) =>
      // Banded theta join: l_quantity BETWEEN p_size-1 AND p_size+1.
      // Parts replicate to the 3 integer bands they can match; lineitem
      // is PRE-AGGREGATED to (band, quantity) groups first — the pair
      // explosion then happens on weighted group rows (~100s) instead of
      // raw lineitems (~10^5), which is what keeps this join viable when
      // lineitem is 100 TB. Exact residual after a broadcast equi-join.
      val p = part(s, d).filter(col("p_size") <= 3)
        .select(col("p_brand"), col("p_size"))
        .withColumn("band", explode(array(col("p_size") - 1, col("p_size"), col("p_size") + 1)))
      val l = lineitem(s, d).filter(col("l_quantity") < 4)
        .groupBy(floor(col("l_quantity")).cast("int").as("band"), col("l_quantity"))
        .agg(count(lit(1)).as("n_l"), sum(dec(col("l_extendedprice"))).as("price_sum"))
      l.join(broadcast(p), Seq("band"))
        .filter(col("l_quantity").between(col("p_size") - 1, col("p_size") + 1))
        .groupBy("p_brand")
        .agg(sum(col("n_l")).as("n_pairs"), sum(col("price_sum")).cast("double").as("value"))
        .orderBy("p_brand")
    },

    "join_asof" -> { (s, d) =>
      // As-of: for each click, the most recent purchase of the same user
      // at or before it. Union-and-window form: no join, one shuffle on
      // user_id; `last(_, ignoreNulls)` over the ts-ordered frame.
      // Timestamps compared/emitted as epoch µs (ns-vs-µs safe, §7.4).
      val e = eventsTs(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
        .withColumn("p_us", when(col("event_type") === "purchase", col("us")))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("last_purchase_us", last(col("p_us"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "last_purchase_us")
        .orderBy("event_id")
    },

    "join_asof_custom" -> { (s, d) =>
      // Same as-of semantics as join_asof, but through the custom
      // AsOfJoinExec physical operator (graft.plans.AsOfJoin): one
      // sort-merge pass instead of union+window. Shares join_asof's
      // oracle SQL — the two implementations must agree with DuckDB and
      // therefore with each other.
      val clicks = eventsTs(s, d).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"))
      val purchases = eventsTs(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("us").as("p_us"))
      graft.plans.AsOfJoin(clicks, "user_id", "us", purchases, "p_user", "p_us")
        .select(col("event_id"), col("user_id"), col("p_us").as("last_purchase_us"))
        .orderBy("event_id")
    },

    "join_asof_forward" -> { (s, d) =>
      // Forward as-of: for each click, the EARLIEST purchase of the same
      // user strictly after it in (us, event_id) order — the
      // time-to-conversion primitive, and join_asof's mirror. Same
      // union-and-window shape (one user shuffle, no join explosion):
      // first(_, ignoreNulls) over the strictly-following frame.
      val e = eventsTs(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
        .withColumn("p_us", when(col("event_type") === "purchase", col("us")))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      e.withColumn("next_purchase_us", first(col("p_us"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select("event_id", "user_id", "next_purchase_us")
        .orderBy("event_id")
    },

    "join_asof_nearest" -> { (s, d) =>
      // Nearest as-of — the bidirectional member completing the as-of
      // family (backward / forward / custom-operator / nearest): for
      // each click, whichever same-user purchase is closest in time,
      // BOTH window passes riding the SAME user shuffle (the backward
      // last() and forward first() share one partitioning — Catalyst
      // plans one exchange), then a pure-column distance pick with a
      // deterministic earlier-on-tie rule.
      val e = eventsTs(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
        .withColumn("p_us", when(col("event_type") === "purchase", col("us")))
      val wb = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      e.withColumn("back_us", last(col("p_us"), ignoreNulls = true).over(wb))
        .withColumn("fwd_us", first(col("p_us"), ignoreNulls = true).over(wf))
        .filter(col("event_type") === "click")
        .withColumn("nearest_purchase_us",
          when(col("back_us").isNull, col("fwd_us"))
            .when(col("fwd_us").isNull, col("back_us"))
            .when(col("us") - col("back_us") <= col("fwd_us") - col("us"), col("back_us"))
            .otherwise(col("fwd_us")))
        .select("event_id", "user_id", "nearest_purchase_us")
        .orderBy("event_id")
    },

    "join_asof_tolerance" -> { (s, d) =>
      // Staleness-bounded as-of — the sensor-fusion variant: a match
      // older than the tolerance window (1 hour here) is WORSE than no
      // match, so it nulls out rather than propagating stale state.
      // Identical one-shuffle union-and-window shape as join_asof; the
      // tolerance is a pure post-window column predicate, so the bound
      // costs nothing at any scale. Emits the age for matched rows —
      // the quantity monitoring dashboards alarm on.
      val tolUs = 3600L * 1000000L
      val e = eventsTs(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
        .withColumn("p_us", when(col("event_type") === "purchase", col("us")))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("raw_us", last(col("p_us"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          when(col("us") - col("raw_us") <= tolUs, col("raw_us"))
            .as("last_purchase_us"),
          when(col("us") - col("raw_us") <= tolUs, col("us") - col("raw_us"))
            .as("age_us"))
        .orderBy("event_id")
    },

    "join_point_in_interval" -> { (s, d) =>
      // Point-in-interval attribution: assign each purchase to the
      // SCD2 state interval containing the instant BEFORE it (t =
      // us − 1 — "what state was the user in when they decided to
      // buy", the conversion-attribution question; t = us itself is
      // trivially the purchase's own interval since the change log
      // derives from these events) — "which dimension version was
      // active when the fact happened", the warehouse join every
      // star schema with versioned dimensions needs (asof answers
      // nearest-BEFORE; this answers CONTAINING, with the open
      // current interval clamped to corpus end). A user's FIRST
      // event has no prior interval and drops from the inner join —
      // the honest semantics of "state before". Scale shape: a raw
      // `from <= t AND t < to` range join plans as BNLJ at any size,
      // so intervals EXPLODE to their covered day buckets (bounded
      // here by corpus span; production clamps current intervals to
      // "now" the same way) and the fact equi-joins on (user, day)
      // with the exact range predicate as a residual — the
      // join_interval_overlap banding applied to containment. SCD2
      // intervals per user are disjoint, so each purchase matches at
      // most one interval and the banded join needs NO dedup. The
      // oracle computes the direct unbanded range join — the hash
      // gate proves the banding lossless.
      val dayUs = 86400000000L
      val iv = graft.queries.StreamingBatch.queries("merge_scd2")(s, d)
      val maxRow = eventsTs(s, d).agg((max(col("us")) + 1).as("max_us"))
      val ivb = iv.crossJoin(broadcast(maxRow))
        .withColumn("to_us", coalesce(col("valid_to_us"), col("max_us")))
        // EMPTY intervals (to_us == valid_from_us, possible when a user
        // has duplicate `us` instants) can contain no t, and banding
        // one would hand sequence() a stop < start — Spark emits a
        // DESCENDING sequence there, silently generating spurious day
        // rows that only the residual predicate mops up. Drop them
        // before banding instead of leaning on that fragile behavior.
        .filter(col("to_us") > col("valid_from_us"))
        .select(col("user_id").as("iv_user"), col("state"),
          col("valid_from_us"), col("to_us"),
          explode(sequence(
            (col("valid_from_us") / dayUs).cast("long"),
            ((col("to_us") - 1) / dayUs).cast("long"))).as("iv_day"))
      eventsTs(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), (col("us") - 1).as("t"),
          ((col("us") - 1) / dayUs).cast("long").as("day"))
        .join(ivb, col("user_id") === col("iv_user") && col("day") === col("iv_day") &&
          col("t") >= col("valid_from_us") && col("t") < col("to_us"))
        .groupBy("state")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("state")
    },

    "join_interval_overlap" -> { (s, d) =>
      // Pairs of same-user events within 5 minutes — banded self-join on
      // (user_id, 5-min bucket), one side exploded to adjacent buckets,
      // exact |Δt| residual after the equi-join. Never a BNLJ.
      val us = eventsTs(s, d).select(col("event_id"), col("user_id"), col("us"))
      val fiveMinUs = 300000000L
      val a = us.withColumn("band", floor(col("us") / fiveMinUs))
        .select(col("event_id").as("id_a"), col("user_id"), col("us").as("us_a"), col("band"))
      val bBase = us.withColumn("b0", floor(col("us") / fiveMinUs))
      val b = bBase.withColumn("band_b",
          explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
        .select(col("event_id").as("id_b"), col("user_id").as("user_b"),
          col("us").as("us_b"), col("band_b"))
      a.join(b, col("user_id") === col("user_b") && col("band") === col("band_b") &&
          col("id_a") < col("id_b") &&
          abs(col("us_a") - col("us_b")) <= fiveMinUs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },

    "join_skew_salted" -> { (s, d) =>
      // Manual skew salting — the lever for a hot key when BOTH join
      // sides are too large to broadcast and AQE's skew split is
      // unavailable (non-AQE engines, streaming joins, or skew inside a
      // single value AQE can't subdivide). A deliberately skewed fact
      // key (every l_orderkey % 3 == 0 collapses onto key 0 — a third
      // of the table on one key) would pin one reducer in a plain
      // shuffle join. Instead: the fact spreads the hot key across
      // SALT=8 deterministic subkeys ((l_orderkey + l_linenumber) % 8)
      // and the dim replicates ×8 via explode, so the join key becomes
      // (k, salt) and the hot key's rows land on 8 reducers. Rolling up
      // by k afterwards restores the plain-join semantics — the oracle
      // IS the unsalted join, so the hash gate proves salting is a pure
      // re-partitioning, not a semantic change. merge hints pin SMJ:
      // at test scale the ~8k-row dim would broadcast, which would
      // defeat the technique being demonstrated (broadcast never
      // shuffles, so there is nothing to salt).
      val salt = 8
      val fact = lineitem(s, d).select(
        when(col("l_orderkey") % 3 === 0, 0L)
          .otherwise(pmod(col("l_orderkey"), lit(997))).as("k"),
        pmod(col("l_orderkey") + col("l_linenumber"), lit(salt)).as("salt"),
        col("l_extendedprice"))
      val dim = part(s, d)
        .groupBy(pmod(col("p_partkey"), lit(997)).as("k"))
        .agg(count(lit(1)).as("n_parts"))
        .withColumn("salt", explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
      fact.hint("merge")
        .join(dim.hint("merge"), Seq("k", "salt"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total_price"),
          max(col("n_parts")).as("n_parts"))
        .orderBy("k")
    },

    "join_null_safe" -> { (s, d) =>
      // Null-safe equi-join (<=>): NULL keys MATCH each other — the
      // semantic a plain equi-join silently drops (its NULL rows join
      // nothing). Both sides derive a nullable key via nullif; Catalyst
      // still plans <=> as a hash-partitioned equi-join (keys wrapped in
      // coalesce), so the shape scales like any other shuffle join —
      // no nested loop for the null bucket.
      val c = customer(s, d)
        .select(nullif(col("c_nationkey") % 7, lit(3)).as("k"),
          col("c_custkey"))
      val su = supplier(s, d)
        .select(nullif(col("s_nationkey") % 7, lit(3)).as("ks"),
          col("s_suppkey"))
      c.join(su, col("k") <=> col("ks"))
        .groupBy(coalesce(col("k"), lit(-1L)).as("key_or_null"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("s_suppkey")).as("n_supp"))
        .orderBy("key_or_null")
    },

    "join_runtime_bloom" -> { (s, d) =>
      // Runtime bloom-filter semi-join reduction — at 100 TB the single
      // biggest shuffle saver after partition pruning: a selective
      // filter on the dimension side is turned into a bloom filter that
      // prunes the FACT side's rows *before* its shuffle, so the
      // exchange carries only rows that can possibly join (~2% here
      // instead of 100%). This is Catalyst's own InjectRuntimeFilter
      // rule, not a hand-rolled UDF: the optimized plan grows a
      // Filter(might_contain(scalar-subquery bloom_filter_agg, ...))
      // above the lineitem scan. A derived session isolates the confs
      // (the app-side-scan threshold defaults to 10 GB — meant for real
      // clusters — and broadcast must be off so the join actually
      // shuffles; neither setting may leak into other queries' plans).
      // The require() makes the witness self-enforcing: the result is
      // oracled against the plain join, proving the bloom pre-filter is
      // a pure reduction, never a semantic change.
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val sel = orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 250000)
      val joined = lineitem(s2, d)
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
      require(joined.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "runtime bloom filter was not injected into the fact-side scan:\n" +
          joined.queryExecution.optimizedPlan)
      joined
    },

    "join_fuzzy_key" -> { (s, d) =>
      // Entity-resolution join: match keys within Levenshtein distance
      // 1 WITHOUT a cross join, via deletion-neighborhood blocking
      // (the FastSS scheme): every string blocks to itself plus its
      // L one-character deletions, two strings within edit distance 1
      // are guaranteed to share a block key, so candidates come from a
      // plain EQUI-join on the variant — O(L) expansion instead of
      // O(n·m) comparison — and an exact levenshtein() residual keeps
      // only true matches (the neighborhood admits a few distance-2
      // pairs: delete-at-i = delete-at-j collisions). The probe set is
      // derived from the table itself — every 7th supplier name with
      // one key-dependent character deleted — so the whole rule is
      // deterministic and the oracle can brute-force the same truth.
      val sup = supplier(s, d).select(col("s_suppkey"), col("s_name"))
      def variants(src: String): Column = explode(expr(
        s"""array_append(
           |  transform(sequence(1, length($src)),
           |    i -> concat(substring($src, 1, i - 1),
           |                substring($src, i + 1, length($src)))),
           |  $src)""".stripMargin))
      val probes = sup.filter(col("s_suppkey") % 7 === 0)
        .select(col("s_suppkey").as("probe_id"),
          expr("""concat(substring(s_name, 1, cast(s_suppkey % 18 as int)),
                 |       substring(s_name, cast(s_suppkey % 18 as int) + 2,
                 |                 length(s_name)))""".stripMargin).as("probe_name"))
        .select(col("probe_id"), col("probe_name"), variants("probe_name").as("vkey"))
      val cands = sup
        .select(col("s_suppkey"), col("s_name"), variants("s_name").as("vkey"))
        .join(probes, "vkey")
      cands
        .filter(levenshtein(col("probe_name"), col("s_name")) <= 1)
        .select(col("probe_id"), col("probe_name"), col("s_suppkey"),
          col("s_name"),
          levenshtein(col("probe_name"), col("s_name")).cast("int").as("dist"))
        .distinct()
        .orderBy("probe_id", "s_suppkey")
    }
  )

  val oracleSql: Map[String, String] = keyed(
    "join_inner_equi" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 150000 ORDER BY o_orderkey""".stripMargin,

    "join_multiway_star" ->
      s"""SELECT r_name, n_name,
        |  ${oSum("l_extendedprice * (1 - l_discount)")} AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "join_right_outer" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  ${oSum("coalesce(o_totalprice, 0)")} AS spend
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "join_full_outer" ->
      """SELECT coalesce(nk_c, nk_s) AS nationkey, n_cust, n_supp FROM
        |  (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer
        |   WHERE c_acctbal < 0 GROUP BY c_nationkey) cs
        |FULL OUTER JOIN
        |  (SELECT s_nationkey AS nk_s, count(*) AS n_supp FROM supplier
        |   WHERE s_acctbal > 5000 GROUP BY s_nationkey) ss
        |ON nk_c = nk_s
        |ORDER BY nationkey""".stripMargin,

    "join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "join_left_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT' AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "join_broadcast" ->
      s"""SELECT r_name, n_name, count(*) AS n_customers,
        |  ${oSum("c_acctbal")} AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "join_theta_range" ->
      s"""SELECT p_brand, count(*) AS n_pairs, ${oSum("l_extendedprice")} AS value
        |FROM part, lineitem
        |WHERE p_size <= 3 AND l_quantity < 4
        |  AND l_quantity BETWEEN p_size - 1 AND p_size + 1
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "join_asof" ->
      """SELECT event_id, user_id, last_purchase_us FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
        |  FROM events) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "join_asof_tolerance" ->
      """SELECT event_id, user_id,
        |  CASE WHEN us - raw_us <= 3600000000 THEN raw_us END AS last_purchase_us,
        |  CASE WHEN us - raw_us <= 3600000000 THEN us - raw_us END AS age_us
        |FROM (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |    last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_us
        |  FROM events) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "join_asof_nearest" ->
      """SELECT event_id, user_id,
        |  CASE WHEN back_us IS NULL THEN fwd_us
        |       WHEN fwd_us IS NULL THEN back_us
        |       WHEN us - back_us <= fwd_us - us THEN back_us
        |       ELSE fwd_us END AS nearest_purchase_us
        |FROM (
        |  SELECT event_id, user_id, event_type, us,
        |    last_value(p_us IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
        |    first_value(p_us IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_us
        |  FROM (
        |    SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |      CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_us
        |    FROM events) b) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "join_asof_custom" ->
      """SELECT event_id, user_id, last_purchase_us FROM (
        |  SELECT event_id, user_id, event_type,
        |    last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
        |  FROM events) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    "join_asof_forward" ->
      """SELECT event_id, user_id, next_purchase_us FROM (
        |  SELECT event_id, user_id, event_type,
        |    first_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_us
        |  FROM events) t
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,

    // Direct unbanded containment join — the truth the banded form must
    // reproduce exactly (same scd2 CTE as the merge_scd2 oracle).
    "join_point_in_interval" ->
      """WITH chg AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_id, us, event_type
        |  FROM chg WHERE prev_type IS NULL OR prev_type <> event_type),
        |iv AS (
        |  SELECT user_id, event_type AS state, us AS valid_from_us,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS valid_to_us
        |  FROM runs),
        |mx AS (SELECT max(epoch_us(ts)) + 1 AS max_us FROM events),
        |p AS (
        |  SELECT user_id, event_id, epoch_us(ts) - 1 AS t FROM events
        |  WHERE event_type = 'purchase')
        |SELECT iv.state, count(*) AS n_purchases,
        |  count(DISTINCT p.user_id) AS n_users
        |FROM p JOIN iv ON p.user_id = iv.user_id
        |  AND p.t >= iv.valid_from_us
        |  AND p.t < coalesce(iv.valid_to_us, (SELECT max_us FROM mx))
        |GROUP BY iv.state ORDER BY iv.state""".stripMargin,

    "join_interval_overlap" ->
      """SELECT e1.user_id, count(*) AS n_pairs
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
        |  AND abs(epoch_us(e1.ts) - epoch_us(e2.ts)) <= 300000000
        |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin,

    // The oracle is the UNSALTED join: equality proves the salt is a
    // pure physical re-partitioning.
    "join_skew_salted" ->
      s"""WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
        |              ELSE l_orderkey % 997 END AS k,
        |    l_extendedprice
        |  FROM lineitem),
        |dim AS (
        |  SELECT p_partkey % 997 AS k, count(*) AS n_parts
        |  FROM part GROUP BY 1)
        |SELECT k, count(*) AS n_items,
        |  ${oSum("l_extendedprice")} AS total_price,
        |  max(n_parts) AS n_parts
        |FROM fact JOIN dim USING (k)
        |GROUP BY k ORDER BY k""".stripMargin,

    "join_null_safe" ->
      """WITH c AS (
        |  SELECT nullif(c_nationkey % 7, 3) AS k, c_custkey FROM customer),
        |s AS (
        |  SELECT nullif(s_nationkey % 7, 3) AS ks, s_suppkey FROM supplier)
        |SELECT CAST(coalesce(k, -1) AS BIGINT) AS key_or_null, count(*) AS n_pairs,
        |  count(DISTINCT c_custkey) AS n_cust,
        |  count(DISTINCT s_suppkey) AS n_supp
        |FROM c JOIN s ON k IS NOT DISTINCT FROM ks
        |GROUP BY 1 ORDER BY key_or_null""".stripMargin,

    // The oracle is the plain join: equality proves the injected bloom
    // pre-filter is a pure reduction, never a semantic change.
    "join_runtime_bloom" ->
      s"""SELECT l_returnflag, count(*) AS n_items,
        |  ${oSum("l_extendedprice")} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Brute-force truth: the O(n·m) cross join the blocked form must
    // reproduce exactly (tractable at oracle scale).
    "join_fuzzy_key" ->
      """WITH probes AS (
        |  SELECT s_suppkey AS probe_id,
        |    substring(s_name, 1, CAST(s_suppkey % 18 AS INTEGER)) ||
        |    substring(s_name, CAST(s_suppkey % 18 AS INTEGER) + 2) AS probe_name
        |  FROM supplier WHERE s_suppkey % 7 = 0)
        |SELECT probe_id, probe_name, s_suppkey, s_name,
        |  CAST(levenshtein(probe_name, s_name) AS INTEGER) AS dist
        |FROM probes CROSS JOIN supplier
        |WHERE levenshtein(probe_name, s_name) <= 1
        |ORDER BY probe_id, s_suppkey""".stripMargin
  )
}

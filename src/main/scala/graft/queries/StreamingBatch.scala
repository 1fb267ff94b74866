package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.Tables._
import graft.SparkEntry.keyed

/** Batch-equivalent forms of the streaming operators (SURVEY.md §2j).
  * The oracle is batch DuckDB, so each op ships twice: these DataFrame
  * queries (hash-compared) + true Structured Streaming forms in
  * graft.streaming.StreamingOps whose incremental results are asserted
  * equal to these in StreamingSpec.
  */
object StreamingBatch {
  type Q = (SparkSession, String) => DataFrame

  private val hourUs = 3600000000L
  private val halfHourUs = 1800000000L
  private val gapUs = 300000000L // 5-minute session gap

  val queries: Map[String, Q] = keyed(
    "stream_tumbling_counts" -> ((s, d) =>
      eventsTs(s, d)
        .groupBy(window(col("ts_t"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .select(col("win.start").cast("timestamp_ntz").as("hour_start"), col("event_type"),
          col("n"), col("avg_value"))
        .orderBy("hour_start", "event_type")),

    "stream_sliding_avg" -> ((s, d) =>
      eventsTs(s, d)
        .groupBy(window(col("ts_t"), "1 hour", "30 minutes").as("win"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .select(col("win.start").cast("timestamp_ntz").as("win_start"), col("n"), col("avg_value"))
        .orderBy("win_start")),

    "stream_stream_join" -> { (s, d) =>
      // Batch twin of StreamingSpec's watermarked stream-stream interval
      // join: clicks joined to same-user purchases within the preceding
      // hour. Equi-key (user_id) + time-range predicate, so this plans
      // as a hash/merge join on the user key with the range as a join
      // filter — never a BNLJ; at 100 TB each side shuffles once on
      // user_id and per-key time runs merge locally. The incremental
      // form (watermark state eviction, append-mode emission) is
      // asserted equal to this in StreamingSpec.
      val ev = eventsTs(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("us").as("c_us"),
          col("event_id").as("c_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("us").as("p_us"),
          col("event_id").as("p_id"))
      clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_us") >= col("c_us") - hourUs && col("p_us") <= col("c_us"))
        .select(col("c_id"), col("p_id"))
        .orderBy("c_id", "p_id")
    },

    "stream_dedup" -> { (s, d) =>
      // Batch twin of the watermarked dropDuplicates stream: events
      // (self-unioned so there are duplicates worth dropping, same
      // device as dedup_exact) dedup by event_id keeping the earliest
      // arrival, then a per-type rollup proves exactly one survivor per
      // id. One shuffle on event_id — the same state key the streaming
      // form partitions its dedup state by.
      val ev = eventsTs(s, d).select("event_id", "event_type", "us", "value")
      ev.unionByName(ev)
        .groupBy("event_id")
        .agg(min(struct(col("us"), col("event_type"), col("value"))).as("keep"))
        .select(col("keep.event_type").as("event_type"), col("keep.value").as("value"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_unique"), dsum(col("value")).as("total_value"))
        .orderBy("event_type")
    },

    "stream_running_totals" -> { (s, d) =>
      // Batch twin of the flatMapGroupsWithState running-total stream:
      // each user's cumulative event count and value at every event,
      // in event-time order — the full state TRAJECTORY the stateful
      // operator would emit, not just its final value, so the hash gate
      // pins every intermediate state transition. Window per user_id;
      // state stays partition-local at any scale.
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      // dsum's decimal-accumulate/double-emit policy, window form: the
      // window attaches to the sum, the double cast to its result.
      eventsTs(s, d)
        .select(col("user_id"), col("event_id"), col("us"),
          count(lit(1)).over(w).as("running_n"),
          sum(dec(col("value"))).over(w).cast("double").as("running_value"))
        .select("user_id", "event_id", "running_n", "running_value")
        .orderBy("user_id", "event_id")
    },

    "funnel_stages" -> { (s, d) =>
      // Ordered conversion funnel view → click → purchase: a click
      // counts only if the user already had a view strictly earlier in
      // (us, event_id) order, a purchase only after such a click. Shape:
      // ONE shuffle of events on user_id hosts every stage — the
      // stage-k marker is a running min over the same (us, event_id)
      // sort, so Spark plans consecutive Window nodes with no extra
      // exchange (vs the naive 3-join form that re-shuffles events per
      // stage). The per-user rollup then rides the same partitioning;
      // only the 3-row stage count crosses the network. Tie rule
      // (us, event_id) is total, so the hash gate is deterministic.
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val staged = eventsTs(s, d)
        .select(col("user_id"), col("event_id"), col("us"), col("event_type"))
        .withColumn("vt_before",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("conv_click",
          col("event_type") === "click" && col("vt_before").isNotNull)
        .withColumn("ct_before",
          min(when(col("conv_click"), col("us"))).over(w))
        .withColumn("conv_purchase",
          col("event_type") === "purchase" && col("ct_before").isNotNull)
      val perUser = staged.groupBy("user_id").agg(
        max((col("event_type") === "view").cast("long")).as("s1"),
        max(col("conv_click").cast("long")).as("s2"),
        max(col("conv_purchase").cast("long")).as("s3"))
      perUser.agg(sum("s1").as("u1"), sum("s2").as("u2"), sum("s3").as("u3"))
        .select(explode(array(
          struct(lit("1_view").as("stage"), col("u1").as("users")),
          struct(lit("2_click").as("stage"), col("u2").as("users")),
          struct(lit("3_purchase").as("stage"), col("u3").as("users")))).as("r"))
        .select(col("r.stage"), col("r.users"))
        .orderBy("stage")
    },

    "stream_session_windows" -> { (s, d) =>
      // Gaps-and-islands: session boundary where the gap to the previous
      // event of the same user exceeds 5 minutes; identical windowed SQL
      // runs in DuckDB (SURVEY.md §2j pins this form for the oracle).
      val w1 = Window.partitionBy("user_id").orderBy("us", "event_id")
      val w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      eventsTs(s, d)
        .withColumn("gap", col("us") - lag(col("us"), 1).over(w1))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > gapUs, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(w2))
        .groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .withColumn("span_us", col("end_us") - col("start_us"))
        .orderBy("user_id", "sess_id")
    },

    "ts_gapfill" -> { (s, d) =>
      // Hourly gap-fill with forward-carry — the time-series
      // regularization pass (dashboards, feature windows, training on
      // evenly-spaced series all need it). Shape: hourly rollup (one
      // shuffle on (user, hour) with map-side partials — at 100 TB this
      // is the big reduction), then lead() over the REDUCED hourly table
      // finds each gap and one explode(sequence(...)) manufactures the
      // missing hours carrying the last observed value forward. No spine
      // join at all: the dense calendar never materializes as a separate
      // table, and the second shuffle moves only hourly rows. Users are
      // sampled (% 10) to keep the gate output bounded; the shape is
      // user-count-invariant.
      val hourly = eventsTs(s, d)
        .filter(col("user_id") % 10 === 0)
        .groupBy(col("user_id"), expr(s"us DIV $hourUs * $hourUs").as("h0"))
        .agg(count(lit(1)).as("n_obs"), davg(col("value")).as("avg_value"))
      val w = Window.partitionBy("user_id").orderBy("h0")
      hourly
        .withColumn("next0", lead(col("h0"), 1).over(w))
        .withColumn("hour_us", explode(sequence(col("h0"),
          coalesce(col("next0") - hourUs, col("h0")), lit(hourUs))))
        .select(col("user_id"), col("hour_us"),
          when(col("hour_us") === col("h0"), col("n_obs")).otherwise(lit(0L))
            .as("n_events"),
          col("avg_value").as("value_ffill"),
          (col("hour_us") =!= col("h0")).as("is_filled"))
        .orderBy("user_id", "hour_us")
    },

    "ts_ohlc_downsample" -> { (s, d) =>
      // Downsample each user's value series to daily OHLC bars
      // (open/high/low/close + volume) — the canonical resample. The
      // open/close pick is the tie-broken (us, event_id) first/last row:
      // two row_number windows (ascending + descending) over the SAME
      // partition keys share one exchange, and the (user, day) rollup
      // rides that partitioning too — one shuffle end to end.
      val dayUs = 86400000000L
      val wAsc = Window.partitionBy("user_id", "day_us")
        .orderBy(col("us").asc, col("event_id").asc)
      val wDesc = Window.partitionBy("user_id", "day_us")
        .orderBy(col("us").desc, col("event_id").desc)
      eventsTs(s, d)
        .select(col("user_id"), col("event_id"), col("us"), col("value"))
        .withColumn("day_us", expr(s"us DIV $dayUs * $dayUs"))
        .withColumn("rn_a", row_number().over(wAsc))
        .withColumn("rn_d", row_number().over(wDesc))
        .groupBy("user_id", "day_us")
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"), max(col("value")).as("hi"),
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(when(col("rn_d") === 1, col("value"))).as("close"))
        .orderBy("user_id", "day_us")
    },

    "merge_scd2" -> { (s, d) =>
      // SCD2 history build from a change log: compress each user's
      // event_type sequence into validity intervals [valid_from,
      // valid_to) — consecutive repeats collapse, the open interval is
      // flagged current. Two windows over the same user_id partitioning
      // (lag to detect the change, lead AFTER the collapse filter for
      // the interval end), so the whole build is one shuffle; filters
      // preserve partitioning, so Catalyst plans no second exchange.
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      eventsTs(s, d)
        .select(col("user_id"), col("event_id"), col("us"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("valid_to_us", lead(col("us"), 1).over(w))
        .select(col("user_id"), col("event_type").as("state"),
          col("us").as("valid_from_us"), col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
        .orderBy("user_id", "valid_from_us")
    },

    "ts_ewma" -> { (s, d) =>
      // Exponentially-weighted moving average per user — inherently
      // sequential (each step needs the previous), so no window-function
      // form exists; the scalable shape is one shuffle on the key, the
      // per-key ORDERED series gathered once, and a single left fold via
      // the aggregate() higher-order function (codegen'd, no UDF). The
      // per-key-sequence-fits-in-memory assumption is the same one
      // sessionization and mapGroupsWithState make; keys never co-reside,
      // so 10⁹ users spread over the cluster. Sort key is raw ns ts +
      // event_id (total order); both engines fold left from the first
      // observation with identical IEEE double steps, so round(4) is
      // belt-and-braces, not a fudge.
      events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
            .as("series"))
        .withColumn("vs", expr("transform(series, x -> x.value)"))
        .select(col("user_id"), col("n_events"),
          round(expr(
            """aggregate(slice(vs, 2, size(vs) - 1), CAST(vs[0] AS DOUBLE),
              |(acc, x) -> acc * CAST(0.8 AS DOUBLE) + x * CAST(0.2 AS DOUBLE))""".stripMargin),
            4).as("ewma"))
        .orderBy("user_id")
    },

    "ts_anomaly_zscore" -> { (s, d) =>
      // Per-user z-score outliers: flag events whose value sits >3σ from
      // that user's mean. Mean/σ come from EXACT decimal sums (Σv, Σv²)
      // over an unbounded frame — Spark computes whole-partition frames
      // in one pass per key, so this is ONE shuffle on user_id and the
      // stats never leave the partition that owns the key; the same
      // shape holds for 10⁹ users. Determinism: decimal capture at
      // scale 6 makes both sums order-free; everything after (mean,
      // sample variance, sqrt, the 3σ comparison) is pure IEEE double
      // arithmetic on identical inputs, so the flag set — not just the
      // rounded z — is engine-independent. Squares go through
      // DECIMAL(18,6) so the product type (37,12) stays exact within
      // 38 digits (dec's (28,6) would square past precision 38 and
      // trigger Spark's lossy downscale).
      val d6 = col("value").cast(DecimalType(18, 6))
      val w = Window.partitionBy("user_id")
      val sx = sum(d6).over(w).cast(DoubleType)
      val sxx = sum(d6 * d6).over(w).cast(DoubleType)
      val n = count(lit(1)).over(w)
      val mean = sx / n
      val m2 = sxx - sx * sx / n
      val z = (col("value") - mean) / sqrt(m2 / (n - 1))
      eventsTs(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          n.as("n"), m2.as("m2"), z.as("z_raw"))
        .filter(col("n") > 1 && col("m2") > 0 && abs(col("z_raw")) > 3)
        .select(col("user_id"), col("event_id"), col("value"),
          (floor(col("z_raw") * 10000 + 0.5).cast(DoubleType) / 10000.0).as("z"))
        .orderBy("user_id", "event_id")
    },

    "agg_decay_halflife" -> { (s, d) =>
      // Recency-weighted rollup — the freshness prior behind trending /
      // replay-weighting signals: an event's weight halves for every 3
      // whole DAYS of age relative to the corpus's newest day. The STEP
      // decay keeps the hash gate exact across engines: age is an
      // integer day difference, so weight = 1 / 2^(age div 3) is one
      // long shift and one division by a power of two — bit-exact
      // IEEE doubles in both engines, no libm pow in sight. The weight
      // (≤10 halvings over this corpus' 30-day span) is captured
      // exactly by DECIMAL(28,10), so the per-type rollup is
      // summation-order-free; the value-weighted sum rounds the exact
      // product at 1e-6 first (money policy). Scale shape: the newest
      // day is a 1-row broadcast, weighting is map-only, and the
      // groupBy key space is |event_type|, so map-side combine sends a
      // handful of partials per task at any input size.
      val ev = eventsTs(s, d).withColumn("day", to_date(col("ts_t")))
      val ref = ev.agg(max(col("day")).as("ref_day"))
      ev.crossJoin(broadcast(ref))
        .withColumn("age3",
          floor(datediff(col("ref_day"), col("day")).cast(DoubleType) / 3.0)
            .cast("int"))
        .withColumn("w", expr("1.0 / shiftleft(CAST(1 AS BIGINT), age3)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("w").cast(DecimalType(28, 10))).cast(DoubleType).as("decayed_n"),
          sum((floor(col("w") * col("value") * 1000000 + 0.5).cast(DoubleType)
            / 1000000.0).cast(DecimalType(28, 6)))
            .cast(DoubleType).as("decayed_value"))
        .orderBy("event_type")
    },

    "ts_retention" -> { (s, d) =>
      // Cohort retention matrix — the canonical product-analytics
      // rollup: users are grouped by the week of their FIRST event
      // (cohort), and each cell counts how many of them were active
      // `week_offset` weeks later. Shape: the one data-sized shuffle
      // is the groupBy(user_id) — min week and the distinct active-week
      // set reduce per user in one pass (collect_set is bounded by the
      // corpus's week span, a few dozen entries at any data size); the
      // exploded (cohort, offset) rollup and the per-cohort base-size
      // window then run on user-count-sized data, and the matrix
      // itself is O(weeks²). Retention is a ratio of exact longs, so
      // the doubles are bit-identical in any engine.
      val weekUs = 7L * 86400000000L
      val byUser = eventsTs(s, d)
        .select(col("user_id"), expr(s"us DIV ${weekUs}L").as("wk"))
        .groupBy("user_id")
        .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
      val m = byUser
        .select(col("cohort"), explode(col("wks")).as("wk"))
        .select(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
        .groupBy("cohort", "week_offset")
        .agg(count(lit(1)).as("n_users"))
      val base = Window.partitionBy("cohort")
      m.withColumn("retention",
          round(col("n_users") /
            max(when(col("week_offset") === 0, col("n_users"))).over(base), 6))
        .orderBy("cohort", "week_offset")
    },

    "ts_interpolate" -> { (s, d) =>
      // Linear interpolation across hourly gaps — the other half of the
      // regularization story next to ts_gapfill's forward-carry step:
      // numeric features want a ramp, not a plateau. Identical scale
      // shape to ts_gapfill: the hourly rollup is THE data-sized
      // shuffle (map-side partials), lead() rides the reduced hourly
      // table, and explode(sequence) manufactures only the gap hours —
      // no dense calendar spine is ever joined. Determinism: v0/v1 are
      // 4-dp davg outputs (exact), the ramp v0 + (v1-v0)·frac is the
      // same IEEE expression on identical doubles in both engines,
      // floored at 1e-6; the trailing observation (no next) and the
      // observed hour itself (frac = 0) both coalesce to exactly v0.
      val hourly = eventsTs(s, d)
        .filter(col("user_id") % 10 === 0)
        .groupBy(col("user_id"), expr(s"us DIV $hourUs * $hourUs").as("h0"))
        .agg(davg(col("value")).as("v0"))
      val w = Window.partitionBy("user_id").orderBy("h0")
      hourly
        .withColumn("next0", lead(col("h0"), 1).over(w))
        .withColumn("v1", lead(col("v0"), 1).over(w))
        .withColumn("hour_us", explode(sequence(col("h0"),
          coalesce(col("next0") - hourUs, col("h0")), lit(hourUs))))
        .withColumn("frac",
          (col("hour_us") - col("h0")).cast(DoubleType) /
            (col("next0") - col("h0")).cast(DoubleType))
        .select(col("user_id"), col("hour_us"),
          (floor((col("v0") +
              coalesce((col("v1") - col("v0")) * col("frac"), lit(0.0)))
            * 1000000 + 0.5).cast(DoubleType) / 1000000.0).as("v_interp"),
          (col("hour_us") =!= col("h0")).as("is_interp"))
        .orderBy("user_id", "hour_us")
    },

    "ts_lag_features" -> { (s, d) =>
      // One-pass feature engineering (the feature-store pattern): daily
      // per-user spend plus calendar lag-1, lag-7, trailing-7-day mean,
      // and day-over-day delta. Every window shares
      // partitionBy(user_id).orderBy(day_idx), so Spark plans ONE
      // exchange + one sort for all four features — N features never
      // cost N shuffles. Lags use single-point RANGE frames on the day
      // index (calendar-correct: a gap day yields NULL, a row-offset
      // lag would silently misalign). Determinism: v is the exact
      // decimal day sum emitted as double; lags copy those doubles;
      // the 7-day mean re-captures them as decimals (exact sum / exact
      // count, floored at 1e-4); delta subtracts two exact-at-6dp
      // doubles.
      val dayUs = 86400000000L
      val daily = eventsTs(s, d)
        .groupBy(col("user_id"), expr(s"us DIV ${dayUs}L").as("day_idx"))
        .agg(dsum(col("value")).as("v"))
      def at(off: Int) = Window.partitionBy("user_id").orderBy("day_idx")
        .rangeBetween(off, off)
      val w7 = Window.partitionBy("user_id").orderBy("day_idx")
        .rangeBetween(-6, 0)
      daily
        .withColumn("lag1", max(col("v")).over(at(-1)))
        .withColumn("lag7", max(col("v")).over(at(-7)))
        .withColumn("mean7",
          floor(sum(dec(col("v"))).over(w7).cast(DoubleType) /
            count(lit(1)).over(w7) * 10000 + 0.5)
            .cast(DoubleType) / 10000.0)
        .withColumn("delta1", col("v") - col("lag1"))
        .orderBy("user_id", "day_idx")
    },

    "ts_changepoint" -> { (s, d) =>
      // CUSUM changepoint detection: per user, the event where the
      // cumulative deviation from the user's mean peaks — the standard
      // level-shift locator. Three windows (whole-partition mean,
      // ordered cumulative sum, argmax rank) all partition by user_id,
      // so Spark plans ONE exchange; parallelism scales with users,
      // not series length per task. Determinism: the mean is floored
      // at 1e-4 (pure IEEE), per-row deviations are floored at 1e-4
      // then decimal-captured EXACTLY, so every prefix sum is
      // order-free-exact and the argmax (tie-broken on us, event_id)
      // picks the same row in any engine.
      val wAll = Window.partitionBy("user_id")
      val wOrd = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = eventsTs(s, d)
        .filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("us"), col("event_id"), col("value"))
        .withColumn("mean",
          floor(sum(dec(col("value"))).over(wAll).cast(DoubleType) /
            count(lit(1)).over(wAll) * 10000 + 0.5)
            .cast(DoubleType) / 10000.0)
        .withColumn("dev4",
          floor((col("value") - col("mean")) * 10000 + 0.5)
            .cast(DoubleType) / 10000.0)
        .withColumn("cusum", sum(dec(col("dev4"))).over(wOrd).cast(DoubleType))
      val wTop = Window.partitionBy("user_id")
        .orderBy(abs(col("cusum")).desc, col("us"), col("event_id"))
      base.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("us").as("cp_us"),
          col("cusum").as("max_cusum"))
        .orderBy("user_id")
    },

    "ts_rolling_actives" -> { (s, d) =>
      // Exact rolling 7-day distinct active users per day (the DAU/WAU
      // family). Distributed shape: the (user, day) distinct is THE
      // data-sized shuffle (map-side combine); each surviving pair then
      // fans out to at most 7 observation days — a bounded map-side
      // explode, never a dense-calendar join — and the per-day
      // count-distinct shuffles only the already-deduped pairs. Days
      // past the corpus end (the explode tail) are clipped by a
      // broadcast semi join against the observed-day set, which is
      // calendar-bounded and tiny at any data size. All-integer, so
      // exact in any engine.
      val dayUs = 86400000000L
      val du = eventsTs(s, d)
        .select(col("user_id"), expr(s"us DIV ${dayUs}L").as("day"))
        .distinct()
      val days = du.select(col("day").as("obs_day")).distinct()
      du.withColumn("obs_day", explode(sequence(col("day"), col("day") + 6)))
        .join(broadcast(days), Seq("obs_day"), "left_semi")
        .groupBy("obs_day")
        .agg(countDistinct(col("user_id")).as("dau7"))
        .orderBy("obs_day")
    },

    "feat_target_encode" -> { (s, d) =>
      // Leave-one-out target encoding — the standard categorical
      // feature for GBDT/linear models: each row's category becomes
      // the mean target of all OTHER rows in its category, so a row
      // never leaks its own label. Distributed shape: per-category
      // (sum, count) reduces map-side into a #categories-row table
      // that broadcasts back onto the stream — the encode itself is
      // map-side, the big table never shuffles; with 10^9 categories
      // the same plan degrades gracefully to a shuffled equi-join.
      // Determinism: category sums are exact decimals; subtracting the
      // row's own exact capture stays decimal, and the divide runs on
      // identical IEEE doubles in both engines, floored at 1e-4.
      val stats = eventsTs(s, d).groupBy("event_type")
        .agg(sum(dec(col("value"))).as("sv"), count(lit(1)).as("n"))
      eventsTs(s, d).filter(col("user_id") % 20 === 0)
        .join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          (floor((col("sv") - dec(col("value"))).cast(DoubleType) /
              (col("n") - 1) * 10000 + 0.5)
            .cast(DoubleType) / 10000.0).as("te"))
        .orderBy("event_id")
    },

    "ts_seasonal_profile" -> { (s, d) =>
      // Day-of-week seasonal index — the decomposition prior for
      // traffic forecasting: each dow's mean event value relative to
      // the overall mean. The data-sized work is ONE map-side-combined
      // groupBy into 7 rows; the overall mean is recomposed from those
      // 7 rows (an unpartitioned window over a 7-row table), never a
      // second scan. dow comes from the epoch-day index by pure
      // integer arithmetic ((day + 4) % 7; 1970-01-01 was a Thursday,
      // so 0 = Sunday). Exact decimal sums; the index divides
      // identical IEEE doubles, floored at 1e-6.
      val byDow = eventsTs(s, d)
        .select(expr("(us DIV 86400000000 + 4) % 7").as("dow"), col("value"))
        .groupBy("dow")
        .agg(sum(dec(col("value"))).as("sv"), count(lit(1)).as("n"))
      val wAll = Window.partitionBy()
      byDow
        .withColumn("sv_all", sum(col("sv")).over(wAll))
        .withColumn("n_all", sum(col("n")).over(wAll))
        .select(col("dow"), col("n"),
          (floor(col("sv").cast(DoubleType) / col("n") /
              (col("sv_all").cast(DoubleType) / col("n_all")) * 1000000 + 0.5)
            .cast(DoubleType) / 1000000.0).as("seasonal_idx"))
        .orderBy("dow")
    },

    "feat_quantile_bucketize" -> { (s, d) =>
      // Quantile discretization of a numeric feature (per-lang length
      // quartiles) — the standard continuous→categorical step before
      // crossing features or equal-population sharding. Distributed
      // shape: the cut points reduce to a #groups-row table (one
      // map-side-combined agg) that BROADCASTS back onto the corpus;
      // the bucketize itself is map-side, so the big table shuffles
      // zero times at any scale. Exact `percentile` sorts per group and
      // is the gate form; at 100 TB the documented swap is
      // approx_percentile (same plan shape, bounded sketch memory —
      // agg_approx_percentile witnesses it). Determinism: n_chars is
      // integral, so interpolated quartiles are exact binary fractions
      // (lo + (hi-lo)·{0,.25,.5,.75}) — bit-identical across engines;
      // bucket edges compare those exact doubles with <=.
      val docs = documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      val cuts = docs.groupBy("lang").agg(
        percentile(col("n_chars"), lit(0.25)).as("q1"),
        percentile(col("n_chars"), lit(0.50)).as("q2"),
        percentile(col("n_chars"), lit(0.75)).as("q3"))
      docs.join(broadcast(cuts), "lang")
        .withColumn("bucket",
          when(col("n_chars") <= col("q1"), 1)
            .when(col("n_chars") <= col("q2"), 2)
            .when(col("n_chars") <= col("q3"), 3)
            .otherwise(4))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "bucket")
    },

    "feat_minmax_scale" -> { (s, d) =>
      // Min-max feature scaling per category — the [0,1] normalization
      // step before distance-based models. Same distributed shape as
      // feat_target_encode: per-type (min, max) reduces map-side into a
      // #types-row table that BROADCASTS back; the scale itself is
      // map-side, the big table never shuffles. min/max of doubles are
      // order-free (no accumulation), so the quotient runs on identical
      // IEEE doubles in both engines, floored at 1e-6; a degenerate
      // single-value type pins to 0.5 rather than divide by zero.
      val stats = eventsTs(s, d).groupBy("event_type")
        .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      eventsTs(s, d).filter(col("user_id") % 20 === 0)
        .join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          when(col("mx") === col("mn"), lit(0.5))
            .otherwise(floor((col("value") - col("mn")) / (col("mx") - col("mn"))
                * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
            .as("scaled"))
        .orderBy("event_id")
    },

    "feat_standard_scale" -> { (s, d) =>
      // Z-score standardization per category (round 12) — THE default
      // scaler (feat_minmax_scale and feat_robust_scale cover the
      // [0,1] and outlier-hardened variants; this is the mean/σ form
      // models assume). Same distributed shape as the other scalers:
      // per-type moments reduce MAP-SIDE into a #types-row table that
      // broadcasts back; the scale itself is map-side, the big table
      // never shuffles. Determinism by the agg_moments recipe: value
      // is 2-dp, so Σv and Σv² are EXACT decimal sums and mean/σ
      // recompose on bit-identical doubles in both engines; the z
      // quotient exits through the floor(·1e6+0.5) half-up quantizer
      // (the davg tie rule). A degenerate constant-valued or
      // single-row type emits z = 0.0 (σ = 0 / NaN guard) instead of
      // dividing by zero.
      // Second factor at DECIMAL(12,2), not (8,2): a |value| ≥ 10⁶ row
      // would overflow the narrow cast to NULL in Spark's non-ANSI
      // mode while the DuckDB oracle errors — a silent-wrong-sum vs
      // loud-failure asymmetry (r12 review). (12,2)×(19,2) stays
      // inside DECIMAL(38) with exact products to |value| < 10¹⁰,
      // far past the fixture's 2-dp ≤ 10⁴ domain.
      val d2: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => c.cast(DecimalType(19, 2))
      val stats = eventsTs(s, d).groupBy("event_type")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(d2(col("value"))).cast(DoubleType).as("s1"),
          sum(d2(col("value")) * col("value").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("s2"))
        .select(col("event_type"), (col("s1") / col("n")).as("mu"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)).as("sd"))
      eventsTs(s, d).filter(col("user_id") % 20 === 0)
        .join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          when(col("sd") === 0 || isnan(col("sd")), lit(0.0))
            .otherwise(floor((col("value") - col("mu")) / col("sd")
              * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
            .as("z"))
        .orderBy("event_id")
    },

    "agg_mutual_information" -> { (s, d) =>
      // Mutual information between event type and hour-of-day — the
      // feature-selection / drift primitive ("does WHEN predict WHAT").
      // Distributed shape: the only data-sized work is ONE map-side-
      // combined (type, hour) count rollup; every marginal and the MI
      // sum then ride the ≤ #types×24-row joint table — the three
      // unpartitioned windows below run over that O(1) calendar-bounded
      // table, never the stream (shuffle_global's bounded-window rule).
      // Determinism: all inputs to the doubles are exact BIGINT counts,
      // so p·log terms are identical IEEE in both engines — but their
      // SUM order is not (per-partition shuffle-fetch order vs DuckDB's
      // sequential scan), so each term snaps to the 1e-9 grid and
      // accumulates through an exact decimal sum (the
      // text_unigram_logprob recipe), with the 1e-6 emission rounding
      // applied to the then-identical total.
      val joint = eventsTs(s, d)
        .groupBy(col("event_type"), (expr(s"us DIV $hourUs") % 24).as("hr"))
        .agg(count(lit(1)).as("n_xy"))
      val w = Window.partitionBy()
      joint
        .withColumn("n_x", sum(col("n_xy")).over(Window.partitionBy("event_type")))
        .withColumn("n_y", sum(col("n_xy")).over(Window.partitionBy("hr")))
        .withColumn("n", sum(col("n_xy")).over(w))
        .groupBy("event_type")
        .agg(sum(col("n_xy")).as("n_events"),
          sum(round(col("n_xy").cast(DoubleType) / col("n") *
            log(col("n_xy").cast(DoubleType) * col("n") /
              (col("n_x").cast(DoubleType) * col("n_y"))), 9)
            .cast(DecimalType(28, 9))).cast(DoubleType).as("mi_raw"))
        .select(col("event_type"), col("n_events"),
          round(col("mi_raw"), 6).as("mi_contrib"))
        .orderBy("event_type")
    },

    "ts_mk_trend" -> { (s, d) =>
      // Mann–Kendall trend test over the global hourly count series —
      // the NONPARAMETRIC "is traffic actually trending" answer
      // (agg_linreg's least squares assumes linear + normal errors;
      // MK only assumes monotonicity, which is what capacity alerts
      // actually mean). S = Σ_{i<j} sgn(x_j − x_i) with the
      // tie-corrected variance and the ±1-continuity z. Shape: the
      // ONLY data-sized work is the hourly rollup; the pairwise
      // self-join runs on the calendar-bounded hour table (ts_acf's
      // argument — hours-in-corpus² pairs regardless of corpus
      // bytes), and ties reduce on the distinct-count table. All
      // inputs to z are exact BIGINTs; emission floors at 1e-6.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
        .persist() // self-joined + tie table + count
      val sRow = hc.as("a").join(hc.as("b"), col("a.h") < col("b.h"))
        .agg(coalesce(sum(signum(col("b.n") - col("a.n")).cast(LongType)),
          lit(0L)).as("s"))
      val tieRow = hc.groupBy("n").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("ties"))
      val nRow = hc.agg(count(lit(1)).as("nh"))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      nRow.crossJoin(broadcast(sRow)).crossJoin(broadcast(tieRow))
        .withColumn("var_s",
          (col("nh") * (col("nh") - 1) * (lit(2) * col("nh") + 5) - col("ties"))
            .cast(DoubleType) / 18.0)
        .select(col("nh").as("n_hours"), col("s"),
          r6(col("var_s")).as("var_s"),
          r6(when(col("s") > 0, (col("s") - 1) / sqrt(col("var_s")))
            .when(col("s") < 0, (col("s") + 1) / sqrt(col("var_s")))
            .otherwise(lit(0.0))).as("z"))
    },

    "ts_seasonal_naive_forecast" -> { (s, d) =>
      // Seasonal-naive backtest — the forecast floor every capacity
      // model must beat before it ships: predict each hour's event
      // count as the SAME HOUR LAST WEEK (lag 168), then score the
      // forecast per day (MAE + bias). Shape: one map-side-combined
      // hourly rollup is the data-sized work; the lag join is an
      // equi-join of the calendar-bounded hour table against itself
      // (h = h−168), and the per-day score table is ≤ days-in-corpus
      // rows. Missing hours (zero events) are absent ROWS, so the
      // inner join scores only hours observed in both weeks — n_hours
      // carries that honesty per day. All |err| sums are exact BIGINTs;
      // MAE/bias round via the davg floor formula.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
        .persist() // self-joined at lag 168
      snfTail(hc)
    },

    "agg_chi_square" -> { (s, d) =>
      // Pearson χ² independence test between event type and hour-of-day
      // — agg_mutual_information's classical-statistics sibling (drift
      // monitors run both: MI ranks features, χ² gates alerts at a
      // known null distribution). Same distributed shape: ONE
      // map-side-combined (type, hour) rollup is the only data-sized
      // work; expected counts E = n_x·n_y/N and the χ² terms ride the
      // ≤ #types×24-row joint table. Determinism: E and each term
      // (O−E)²/E are IEEE-identical from exact BIGINT counts; the SUM
      // order is not, so terms snap to the 1e-9 grid and accumulate
      // through an exact decimal sum (the agg_mutual_information
      // recipe). dof emits per row: (#types−1)·(#hours−1) from the
      // OBSERVED margins — both engines count the same joint table.
      val joint = eventsTs(s, d)
        .groupBy(col("event_type"), (expr(s"us DIV $hourUs") % 24).as("hr"))
        .agg(count(lit(1)).as("n_xy"))
      chiSquareTail(joint)
    },

    "agg_cramers_v" -> { (s, d) =>
      // Cramér's V over the same (type, hour-of-day) contingency —
      // agg_chi_square's EFFECT SIZE companion (χ² scales with n, so at
      // 100 TB everything is "significant"; V ∈ [0,1] is the
      // n-invariant association strength drift dashboards actually
      // threshold on). Identical distributed shape: one map-side
      // rollup, then margins/terms ride the ≤ types×24-row joint table
      // through tiny windows. χ² accumulates via the same 1e-9
      // snap + decimal sum; V = sqrt(χ²/(n·min(r−1,c−1))) is one IEEE
      // expression on the then-identical total.
      val joint = eventsTs(s, d)
        .groupBy(col("event_type"), (expr(s"us DIV $hourUs") % 24).as("hr"))
        .agg(count(lit(1)).as("n_xy"))
      val w = Window.partitionBy()
      val tot = joint
        .withColumn("n_x", sum(col("n_xy")).over(Window.partitionBy("event_type")))
        .withColumn("n_y", sum(col("n_xy")).over(Window.partitionBy("hr")))
        .withColumn("n", sum(col("n_xy")).over(w))
        .withColumn("n_types", size(collect_set(col("event_type")).over(w)))
        .withColumn("n_hours", size(collect_set(col("hr")).over(w)))
        .withColumn("e", col("n_x").cast(DoubleType) * col("n_y") / col("n"))
        .agg(max(col("n")).as("n"),
          max(col("n_types")).cast(LongType).as("n_rows_dim"),
          max(col("n_hours")).cast(LongType).as("n_cols_dim"),
          sum(round((col("n_xy") - col("e")) * (col("n_xy") - col("e"))
              / col("e"), 9).cast(DecimalType(28, 9)))
            .cast(DoubleType).as("chi2_raw"))
      tot.select(col("n"), col("n_rows_dim"), col("n_cols_dim"),
        round(col("chi2_raw"), 6).as("chi2"),
        round(sqrt(col("chi2_raw") / (col("n")
          * least(col("n_rows_dim") - 1, col("n_cols_dim") - 1))), 6)
          .as("cramers_v"))
    },

    "feat_robust_scale" -> { (s, d) =>
      // Robust (median/IQR) scaling per category — the outlier-immune
      // sibling of feat_minmax_scale (one wild value shifts min/max and
      // mean, but not the quartiles). Same broadcast shape: exact
      // per-type quartiles reduce to a #types-row table broadcast back,
      // the scale is map-side, the stream never shuffles
      // (approx_percentile is the documented 100 TB cut-point swap,
      // feat_winsorize's note). Cut points snap to the 1e-9 grid before
      // use — cross-engine quantile interpolation is not bit-identical
      // (feat_winsorize's fix) — and the scaled value floors at 1e-6 on
      // then-identical doubles.
      val cuts = eventsTs(s, d).groupBy("event_type").agg(
        round(percentile(col("value"), lit(0.25)), 9).as("q1"),
        round(percentile(col("value"), lit(0.5)), 9).as("med"),
        round(percentile(col("value"), lit(0.75)), 9).as("q3"))
      eventsTs(s, d).filter(col("user_id") % 20 === 0)
        .join(broadcast(cuts), "event_type")
        .select(col("event_id"), col("event_type"),
          when(col("q3") === col("q1"), lit(0.0))
            .otherwise(floor((col("value") - col("med")) / (col("q3") - col("q1"))
                * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
            .as("scaled"))
        .orderBy("event_id")
    },

    "ts_cross_corr" -> { (s, d) =>
      // Lagged cross-correlation between event-type activity series —
      // the lead-indicator probe ("do clicks at hour h predict
      // purchases at h+lag?"). Distributed shape: the data-sized work
      // is ONE map-side-combined hourly rollup into a calendar-bounded
      // (hour × type) table; the lag fan-out (×4) and self-join run on
      // that tiny table, never on raw events. Pearson r is recomposed
      // from integer count sums — exact at any parallelism — with the
      // one double expression evaluated on bit-identical inputs in both
      // engines (agg_corr_matrix's recipe; sums here are hour counts,
      // so they stay far inside exact-double range — at 1e9 events/hour
      // the documented swap is the same DECIMAL capture corr_matrix
      // uses). Hours missing from either series are absent (inner
      // join), not zero-filled: the corpus is hourly-dense, and the
      // zero-filled variant is ts_gapfill's composition, not this one.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val a = hc.select(col("event_type").as("type_a"), col("h"),
        col("n").as("x"))
        .withColumn("lag_h", explode(array((0 to 3).map(lit): _*)))
      val b = hc.select(col("event_type").as("type_b"), col("h").as("hb"),
        col("n").as("y"))
      val sums = a.join(b,
          col("hb") === col("h") + col("lag_h") &&
            col("type_a") =!= col("type_b"))
        .groupBy("type_a", "type_b", "lag_h")
        .agg(count(lit(1)).as("n_hours"),
          sum(col("x")).cast(DoubleType).as("sx"),
          sum(col("y")).cast(DoubleType).as("sy"),
          sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
          sum(col("y") * col("y")).cast(DoubleType).as("syy"),
          sum(col("x") * col("y")).cast(DoubleType).as("sxy"))
      val nD = col("n_hours").cast(DoubleType)
      sums
        .select(col("type_a"), col("type_b"), col("lag_h"), col("n_hours"),
          when(nD * col("sxx") === col("sx") * col("sx") ||
              nD * col("syy") === col("sy") * col("sy"), lit(null).cast(DoubleType))
            .otherwise(round((nD * col("sxy") - col("sx") * col("sy")) /
              (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
                sqrt(nD * col("syy") - col("sy") * col("sy"))), 6))
            .as("xcorr"))
        .orderBy("type_a", "type_b", "lag_h")
    },

    "feat_winsorize" -> { (s, d) =>
      // Winsorization — clip each value into its type's [p05, p95] —
      // the outlier-robust preprocessing step before scaling. Same
      // broadcast shape as feat_quantile_bucketize: exact percentiles
      // reduce to a #types-row table that broadcasts back, the clip is
      // map-side, and only the per-type rollup shuffles
      // (approx_percentile is the documented 100 TB cut-point swap).
      // Determinism: quantile interpolation is NOT guaranteed
      // bit-identical across engines (lo+(hi-lo)*f vs lo*(1-f)+hi*f
      // differ by ulps), so the cut points are snapped to a 1e-9 grid
      // at the source — every downstream comparison (clip counts AND
      // clipped values) then runs on identical doubles in both
      // engines; clipped values additionally round at 1e-6 before the
      // exact decimal capture (text_unigram_logprob's recipe).
      val cuts = eventsTs(s, d).groupBy("event_type").agg(
        round(percentile(col("value"), lit(0.05)), 9).as("p05"),
        round(percentile(col("value"), lit(0.95)), 9).as("p95"))
      eventsTs(s, d).join(broadcast(cuts), "event_type")
        .withColumn("clipped",
          round(least(greatest(col("value"), col("p05")), col("p95")), 6))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("value") < col("p05")).cast(LongType)).as("n_clip_lo"),
          sum((col("value") > col("p95")).cast(LongType)).as("n_clip_hi"),
          sum(dec(col("clipped"))).cast(DoubleType).as("sum_clipped"),
          round(min(col("p05")), 6).as("p05"),
          round(min(col("p95")), 6).as("p95"))
        .orderBy("event_type")
    },

    "ts_rolling_median" -> { (s, d) =>
      // Exact rolling median (lower middle) of each user's last 7
      // observations — the robust smoother percentile_approx can't
      // replace when outliers must not bleed. The frame is BOUNDED
      // (7 rows), so collecting it per row is O(1) state and the whole
      // op rides ONE user_id exchange; an element pick from the sorted
      // frame is exact double equality in any engine — no rounding, no
      // interpolation. Users sampled %20 BEFORE the window, so the
      // frame is over the sampled stream (mirrored in the oracle).
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(-6, 0)
      eventsTs(s, d)
        .filter(col("user_id") % 20 === 0)
        .select(col("event_id"), col("user_id"), col("us"), col("value"))
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .select(col("event_id"), col("user_id"),
          size(col("arr")).as("n_win"),
          expr("element_at(arr, int((size(arr) + 1) div 2))").as("med_lo"))
        .orderBy("event_id")
    },

    "ts_acf" -> { (s, d) =>
      // Autocorrelation of the global hourly event-count series at lags
      // 1–6 — the seasonality probe (a 24-lag spike means daily
      // rhythm). Same recomposition as ts_cross_corr against the series
      // itself: one map-side-combined hourly rollup, a ×6 lag fan-out
      // + self-join over the calendar-bounded hour table, Pearson r
      // from exact integer sums.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
      val a = hc.select(col("h"), col("n").as("x"))
        .withColumn("lag_h", explode(array((1 to 6).map(lit): _*)))
      val b = hc.select(col("h").as("hb"), col("n").as("y"))
      val sums = a.join(b, col("hb") === col("h") + col("lag_h"))
        .groupBy("lag_h")
        .agg(count(lit(1)).as("n_hours"),
          sum(col("x")).cast(DoubleType).as("sx"),
          sum(col("y")).cast(DoubleType).as("sy"),
          sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
          sum(col("y") * col("y")).cast(DoubleType).as("syy"),
          sum(col("x") * col("y")).cast(DoubleType).as("sxy"))
      val nD = col("n_hours").cast(DoubleType)
      sums
        .select(col("lag_h"), col("n_hours"),
          when(nD * col("sxx") === col("sx") * col("sx") ||
              nD * col("syy") === col("sy") * col("sy"), lit(null).cast(DoubleType))
            .otherwise(round((nD * col("sxy") - col("sx") * col("sy")) /
              (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
                sqrt(nD * col("syy") - col("sy") * col("sy"))), 6))
            .as("acf"))
        .orderBy("lag_h")
    },

    "ts_pacf" -> { (s, d) =>
      // Partial autocorrelation at lags 1–3 via the Durbin–Levinson
      // recursion on ts_acf's correlations — THE AR-order selector
      // (ACF says "correlated at lag k", PACF says "correlated at lag
      // k AFTER removing lags < k" — where PACF cuts off is the AR
      // order a forecaster fits). Distributed shape is exactly
      // ts_acf's: one map-side hourly rollup, a ×3 lag fan-out on the
      // calendar-bounded hour table, exact integer sums. The DL
      // recursion itself is closed-form arithmetic on the three
      // UNROUNDED r's, pivoted onto one row — r1..r3 are identical
      // IEEE in both engines (pure expressions over exact sums), so
      // φ11/φ22/φ33 are too; round at 1e-6 on emission only.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
      val a = hc.select(col("h"), col("n").as("x"))
        .withColumn("lag_h", explode(array((1 to 3).map(lit): _*)))
      val b = hc.select(col("h").as("hb"), col("n").as("y"))
      val sums = a.join(b, col("hb") === col("h") + col("lag_h"))
        .groupBy("lag_h")
        .agg(count(lit(1)).as("n_hours"),
          sum(col("x")).cast(DoubleType).as("sx"),
          sum(col("y")).cast(DoubleType).as("sy"),
          sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
          sum(col("y") * col("y")).cast(DoubleType).as("syy"),
          sum(col("x") * col("y")).cast(DoubleType).as("sxy"))
      val nD = col("n_hours").cast(DoubleType)
      val r = (nD * col("sxy") - col("sx") * col("sy")) /
        (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
          sqrt(nD * col("syy") - col("sy") * col("sy")))
      val piv = sums.withColumn("r", r)
        .agg(max(when(col("lag_h") === 1, col("r"))).as("r1"),
          max(when(col("lag_h") === 2, col("r"))).as("r2"),
          max(when(col("lag_h") === 3, col("r"))).as("r3"))
      val p1 = col("r1")
      val p2 = (col("r2") - col("r1") * col("r1")) /
        (lit(1.0) - col("r1") * col("r1"))
      val phi21 = p1 - p2 * p1
      val p3 = (col("r3") - phi21 * col("r2") - p2 * col("r1")) /
        (lit(1.0) - phi21 * col("r1") - p2 * col("r2"))
      piv.select(round(p1, 6).as("pacf1"), round(p2, 6).as("pacf2"),
        round(p3, 6).as("pacf3"))
    },

    "ts_new_vs_returning" -> { (s, d) =>
      // New-vs-returning daily actives — the cohort-entry split every
      // growth dashboard leads with (ts_retention answers "do they
      // come back"; this answers "who arrived today"). Shape: one
      // user-keyed groupBy for first-seen day, one (day, user)
      // distinct for daily actives, an equi-join on user_id (both
      // sides user-partitioned — co-located at any scale), and a
      // calendar-bounded day rollup. Counts exact longs throughout.
      val dayUs = 86400000000L
      val ev = eventsTs(s, d)
        .select(expr(s"us DIV $dayUs").as("d"), col("user_id"))
      val firstDay = ev.groupBy("user_id").agg(min(col("d")).as("first_d"))
      ev.distinct().join(firstDay, "user_id")
        .groupBy("d").agg(count(lit(1)).as("n_active"),
          sum(when(col("d") === col("first_d"), 1L).otherwise(0L))
            .as("n_new"))
        .withColumn("n_returning", col("n_active") - col("n_new"))
        .orderBy("d")
    },

    "ts_downsample_ltob" -> { (s, d) =>
      // Largest-Triangle-One-Bucket downsampling of the global hourly
      // series — the dashboard decimation step (render ~4 points/day
      // without flattening spikes the way plain averaging does).
      // Deliberately LTOB, not LTTB: LTTB's triangle anchors on the
      // PREVIOUSLY SELECTED point, an inherently sequential recurrence
      // (the fold shape ts_ewma documents); LTOB anchors each bucket's
      // pick on its NEIGHBOR BUCKETS' fixed centroids — near-identical
      // visual fidelity (Steinarsson's published one-bucket variant)
      // and every bucket decides in PARALLEL, which is the correct
      // 100 TB trade. Shape: one map-side hourly rollup, centroids on
      // the calendar-bounded bucket table (the ts_mk_trend hour-table
      // argument covers its unpartitioned lag/lead window), one
      // per-bucket argmax window. Determinism: centroids are
      // 1e-6-snapped decimal averages of exact longs, the 2×-area is
      // IEEE on identical inputs, argmax tie-breaks on h; edge buckets
      // keep their first/last point via a sign-trick score (max(−h) =
      // min h), the standard LTTB endpoint rule.
      val snap: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bkt", expr("h DIV 6"))
      val cent = hc.groupBy("bkt").agg(
        snap(sum(dec(col("h"))).cast(DoubleType) / count(lit(1))).as("ct"),
        snap(sum(dec(col("n"))).cast(DoubleType) / count(lit(1))).as("cv"),
        count(lit(1)).as("n_in_bucket"))
      val wB = Window.orderBy("bkt")
      val anch = cent
        .withColumn("ta", lag(col("ct"), 1).over(wB))
        .withColumn("va", lag(col("cv"), 1).over(wB))
        .withColumn("tc", lead(col("ct"), 1).over(wB))
        .withColumn("vc", lead(col("cv"), 1).over(wB))
      val area2 = abs((col("ta") - col("tc")) * (col("n") - col("va"))
        - (col("ta") - col("h")) * (col("vc") - col("va")))
      val score = when(col("ta").isNull, -col("h").cast(DoubleType))
        .when(col("tc").isNull, col("h").cast(DoubleType))
        .otherwise(area2)
      val wS = Window.partitionBy("bkt").orderBy(desc("score"), col("h"))
      hc.join(anch, "bkt")
        .withColumn("score", score)
        .withColumn("rn", row_number().over(wS))
        .filter(col("rn") === 1)
        .select(col("bkt"), col("h").as("sel_h"), col("n").as("sel_n"),
          col("n_in_bucket"))
        .orderBy("bkt")
    },

    "ts_periodogram" -> { (s, d) =>
      // Schuster periodogram at candidate periods {6, 12, 24, 168 h}
      // — WHICH cycle dominates a series (ts_acf says "correlated at
      // lag k"; the periodogram ranks whole periods, the question a
      // seasonality-aware capacity model actually asks — 24 should
      // dominate for diurnal traffic, 168 adds the weekly rhythm).
      // Power_p ∝ C'² + S'² with C' = Σn·cosφ − n̄·Σcosφ (mean
      // centering in closed form — no second pass, no broadcast).
      // Shape: one map-side hourly rollup, a ×4 period fan-out on the
      // calendar-bounded hour table, one agg per period. Determinism:
      // cos/sin are libm → snapped to the 1e-9 grid and cast to
      // DECIMAL(12,9) (the MI ln recipe), products against integer
      // counts accumulate as exact decimals, and every double after
      // the sums is identical IEEE; 1e-6 at emission.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
      val twoPi = lit(2 * math.Pi)
      val d9 = DecimalType(12, 9)
      val d19 = DecimalType(19, 0)
      val rows = hc
        .withColumn("p", explode(array(lit(6L), lit(12L), lit(24L), lit(168L))))
        .withColumn("phase", col("h") % col("p"))
        .withColumn("c9", round(cos(twoPi * col("phase") / col("p")), 9).cast(d9))
        .withColumn("s9", round(sin(twoPi * col("phase") / col("p")), 9).cast(d9))
      val agg = rows.groupBy("p").agg(
        count(lit(1)).as("n_hours"),
        sum(col("n")).cast(DoubleType).as("sn"),
        sum(col("c9")).cast(DoubleType).as("sc"),
        sum(col("s9")).cast(DoubleType).as("ss"),
        sum(col("n").cast(d19) * col("c9")).cast(DoubleType).as("snc"),
        sum(col("n").cast(d19) * col("s9")).cast(DoubleType).as("sns"))
      val nh = col("n_hours").cast(DoubleType)
      val cP = col("snc") - col("sn") / nh * col("sc")
      val sP = col("sns") - col("sn") / nh * col("ss")
      agg.select(col("p").as("period_h"), col("n_hours"),
          round((cP * cP + sP * sP) / (nh * nh), 6).as("power"))
        .orderBy("period_h")
    },

    "ts_ar1_forecast" -> { (s, d) =>
      // AR(1) forecast over the per-type hourly count series (round
      // 12) — the autoregressive family member the ts_ shelf lacked
      // (holt/holt_winters are exponential-smoothing state; this FITS
      // the lag-1 dependence y_t = a + b·y_{t−1} by exact OLS and
      // forecasts h = 1..3 steps from the closed form ŷ_{T+h} =
      // a·(1−bʰ)/(1−b) + bʰ·y_T). Distributed shape: ONE map-side-
      // combined (type, hour) rollup is the only data-sized work; the
      // lag pairs join the calendar-bounded hourly table to itself on
      // h+1 (consecutive PRESENT hours — the ts_cross_corr missing-
      // hour convention); the fit reduces to 5 exact integer sums per
      // type (counts are BIGINTs — order-free), and slope/intercept
      // snap at 1e-6 BEFORE the forecast recursion so bʰ and the
      // emission compute on identical doubles in both engines. A
      // |b| = 1 series (impossible under a 1e-6 snap unless exactly
      // unit-root) falls back to the drift form y_T + a·h.
      // Tail shared with the streaming twin (StreamingSpec): the
      // streamed per-type hourly rollup feeds the identical ar1Tail.
      ar1Tail(eventsTs(s, d)
        .groupBy(col("event_type"), expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n")))
    },

    "ts_holt_linear" -> { (s, d) =>
      // Holt's linear (double exponential) smoothing of the global
      // hourly series — level + trend state, the capacity-planning
      // forecast one rung above ts_seasonal_naive_forecast. A
      // two-state recurrence (l' = αy + (1−α)(l+b); b' = β(l'−l) +
      // (1−β)b) is inherently sequential — no window reformulation —
      // so like ts_ewma it folds via the aggregate() higher-order
      // function; the state is a 2-element DOUBLE ARRAY. (Oracle-side
      // finding, recorded in the verify skill: DuckDB list_reduce
      // with a STRUCT accumulator updates fields sequentially and
      // corrupts exactly this fold, but a LIST accumulator evaluates
      // every element against the OLD acc — verified against a
      // sequential reference — so the twin is a list fold.) Scale:
      // the fold's input is the calendar-bounded hourly array
      // (ts_acf's boundedness argument: input-size-invariant past the
      // one map-side rollup); counts are exact ints → exact doubles,
      // the fold order is pinned by sort_array over unique hours, so
      // every intermediate is identical IEEE in both engines. Emits
      // final level/trend + the 1..3-hour-ahead forecasts, 1e-6.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
      val series = hc
        .agg(sort_array(collect_list(struct(col("h"), col("n")))).as("sn"))
        .select(expr("transform(sn, p -> cast(p.n as double))").as("ys"),
          size(col("sn")).as("n_hours"))
      val folded = series.select(col("n_hours"),
        expr("""aggregate(
          slice(ys, 2, size(ys) - 1),
          array(ys[0], cast(0.0 as double)),
          (acc, y) -> array(
            0.2d * y + 0.8d * (acc[0] + acc[1]),
            0.1d * (0.2d * y + 0.8d * (acc[0] + acc[1]) - acc[0])
              + 0.9d * acc[1]))""").as("st"))
      folded.select(col("n_hours"),
        round(col("st").getItem(0), 6).as("level"),
        round(col("st").getItem(1), 6).as("trend"),
        round(col("st").getItem(0) + col("st").getItem(1), 6).as("fc_1h"),
        round(col("st").getItem(0) + lit(2.0) * col("st").getItem(1), 6).as("fc_2h"),
        round(col("st").getItem(0) + lit(3.0) * col("st").getItem(1), 6).as("fc_3h"))
    },

    "ts_holt_winters" -> { (s, d) =>
      // Holt–Winters additive TRIPLE exponential smoothing — the
      // classical seasonal forecaster one rung above ts_holt_linear:
      // level + trend + a 24-slot hour-of-day seasonal state, updated
      // per observation (l' = α(y−s_h) + (1−α)(l+b); b' = β(l'−l) +
      // (1−β)b; s_h' = γ(y−l') + (1−γ)s_h; other slots carry).
      // Inherently sequential like holt_linear, so it folds via
      // aggregate() with a 26-element DOUBLE-ARRAY state ([l, b,
      // s0..s23]); each new element is an expression of the OLD
      // accumulator only (l' inlined where b'/s' need it — Spark's
      // aggregate lambda and DuckDB's list_reduce LIST accumulator
      // both evaluate every element against the old state, the
      // ts_holt_linear finding). No intermediate rounding: counts are
      // exact ints → exact doubles and the fold order is pinned by
      // sort_array over unique hours, so every intermediate is the
      // same IEEE value in both engines; emission snaps at 1e-6.
      // Scale: input is the calendar-bounded hourly array (ts_acf's
      // boundedness argument) — one map-side rollup, then O(1).
      // Emits the 24 seasonal slots with the final level/trend and
      // the l+b+s_h one-step forecast each slot would get.
      hwTail(eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n")))
    },

    "ts_holt_winters_forecast" -> { (s, d) =>
      // The 24-hour-horizon FORECAST off the fitted Holt–Winters state
      // — what the capacity planner actually consumes (ts_holt_winters
      // emits the fitted components; this emits tomorrow):
      // ŷ(T+h) = l + h·b + s_{(hod(T)+h) mod 24}, h = 1..24, the
      // standard additive-HW prediction equation. Shares hwFolded (the
      // 26-slot fold and therefore the streaming-twin equivalence)
      // with ts_holt_winters; the horizon expansion is a 24-row
      // explode over the 1-row state — O(1) past the hourly rollup.
      // Arithmetic: h and the slot index are exact ints, h·b one IEEE
      // product — both engines state the identical expression; snap
      // at 1e-6 on emission.
      hwFolded(eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n")))
        .select(col("last_h"), col("st"),
          explode(expr("sequence(1, 24)")).as("h_ahead"))
        .withColumn("target_hod",
          ((col("last_h") + col("h_ahead")) % 24).cast(IntegerType))
        .select(col("h_ahead").cast(IntegerType).as("h_ahead"),
          col("target_hod"),
          round(col("st").getItem(0) +
            col("h_ahead") * col("st").getItem(1) +
            element_at(col("st"), col("target_hod") + lit(3)), 6)
            .as("forecast"))
        .orderBy("h_ahead")
    },

    "ts_stl_decompose" -> { (s, d) =>
      // Additive seasonal-trend decomposition of the global hourly
      // event-count series — the classical-decomposition core of STL
      // (moving-average trend, hour-of-day seasonal means, residual
      // remainder), the diagnostic every capacity/anomaly pipeline runs
      // before alerting on "unusual" traffic. Exactness design: trend
      // is a centered 25-hour RANGE window mean (range, not rows — a
      // missing hour must not slide the frame) emitted only where the
      // frame is FULL, and the detrended series is kept ×25 so it stays
      // an exact INTEGER (25·n − Σwin); the seasonal means then sum
      // integers, so every double in the output derives from exact
      // integer sums through expression shapes stated identically in
      // both engines. Scale: one map-side-combined hourly rollup, then
      // everything rides the calendar-bounded hour table (the window
      // is unpartitioned but its input is ≤ hours-in-corpus rows —
      // input-size-invariant past the rollup, the ts_acf argument);
      // the 24-row seasonal table broadcasts back.
      //
      // The seasonal indices are MEAN-CENTERED (classical
      // decomposition's constraint: the 24 hod indices sum to ~0, so
      // no series level leaks into "seasonal"): each raw index is
      // snapped to a 1e-9 grid, the grand mean over the 24 indices
      // goes through an exact decimal sum (order-free — a 24-double
      // sum would be partial-aggregation-order-dependent), and the
      // centered index + residual derive from those snapped values
      // through identical expression shapes in both engines.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
      stlTail(hc)
    },

    "ts_cusum_changepoint" -> { (s, d) =>
      // CUSUM level-shift localization over the global hourly count
      // series — ts_mk_trend answers "IS traffic trending";
      // ts_anomaly_zscore flags single outlier points; CUSUM answers
      // "WHERE did the level shift" (the deploy/incident localizer an
      // on-call review jumps to first). S_k = Σ_{i≤k}(n_i − μ); the
      // change-point estimate is argmax_k |S_k| with the means before/
      // after it as the read-out. Determinism: multiply S through by
      // nh so the argmax compares EXACT BIGINTs — D_k = nh·cum_k −
      // k·total = nh·S_k and sign/ordering are unchanged — no float
      // exists until the four reported divisions (each ONE IEEE
      // expression over exact longs, floor-snapped). The last row is
      // excluded from the argmax (D_nh ≡ 0 by construction — a "shift"
      // at the end has no after-side), so mean_after never divides by
      // zero. Shape: the map-side-combined hourly rollup is the ONLY
      // data-sized work; rank/cumsum/totals all ride one ordered
      // window pass over the calendar-bounded hour table
      // (hours-in-corpus rows at ANY corpus size — the ts_acf
      // argument), and the argmax is a 1-row sort-limit on that table.
      val hc = eventsTs(s, d)
        .groupBy(expr(s"us DIV $hourUs").as("h"))
        .agg(count(lit(1)).as("n"))
      cusumTail(hc)
    }
  )

  /** The CUSUM tail over the (h, n) hourly count table — factored for
    * the streaming twin: a stream maintains exactly the hourly rollup
    * (StreamingOps.hourlyCounts, the snfTail twin's source — state is
    * calendar-bounded), and this tail is the shared definition both
    * forms run, so StreamingSpec's equality proves the whole operator
    * streaming ≡ batch. All comparisons inside are exact BIGINTs
    * (D_k = nh·S_k); the four divisions happen once, at emission.
    */
  /** The AR(1) fit + closed-form forecast tail of ts_ar1_forecast,
    * over a (event_type, h, n) per-type hourly count table — factored
    * out so the streaming twin (StreamingSpec, fed by
    * StreamingOps.typeHourlyCounts) provably shares the batch
    * arithmetic: exact integer sums over consecutive-present-hour lag
    * pairs, slope/intercept snapped at 1e-6 BEFORE the bʰ recursion,
    * b = 1 drift fallback (b = −1 is non-singular and takes the
    * closed form — r12 ADVICE).
    */
  private[graft] def ar1Tail(hc: DataFrame): DataFrame = {
    // Renamed-projection self-join, not alias resolution: over a
    // streaming memory-sink VIEW both `a.<col>` candidates resolve to
    // the same attribute set and the alias form is ambiguous.
    val lhs = hc.select(col("event_type"), col("h"), col("n").as("x"))
    val rhs = hc.select(col("event_type").as("et_r"),
      (col("h") - 1).as("h_l"), col("n").as("y"))
    val pairs = lhs.join(rhs,
        col("event_type") === col("et_r") && col("h") === col("h_l"))
      .select(col("event_type"), col("x"), col("y"))
    val fit = pairs.groupBy("event_type").agg(
        count(lit(1)).as("np"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      // Degenerate fit (constant x over the pairs — incl. any type
      // with exactly one pair): slope denominator is exactly 0 on the
      // integer grid → defined flat fallback slope = 0, intercept =
      // mean(y) (the feat_standard_scale guard convention) instead of
      // a silent NaN emission (r12 review).
      .withColumn("slope",
        when(col("np") * col("sxx") - col("sx") * col("sx") === 0, lit(0.0))
          .otherwise(round(
            (col("np") * col("sxy") - col("sx") * col("sy"))
              .cast(DoubleType) /
              (col("np") * col("sxx") - col("sx") * col("sx"))
                .cast(DoubleType), 6)))
      .withColumn("intercept", round(
        (col("sy").cast(DoubleType) - col("slope") *
          col("sx").cast(DoubleType)) / col("np"), 6))
    val wLast = Window.partitionBy("event_type").orderBy(col("h").desc)
    val last = hc.withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("event_type").as("et_last"), col("n").as("y_last"))
    fit.join(last, col("event_type") === col("et_last")).drop("et_last")
      .select(col("event_type"), col("np").as("n_pairs"), col("slope"),
        col("intercept"), col("y_last"),
        explode(sequence(lit(1), lit(3))).as("h"))
      // bʰ unrolls to explicit multiplications (h ∈ {1,2,3}) — libm
      // pow is only 1-ulp-specified in the JVM while DuckDB's power()
      // is correctly rounded, so a pow() here could flip a round(·,6)
      // boundary between engines; products of identical doubles are
      // bit-exact in both (the codebase's no-libm-pow rule; r12
      // review).
      .withColumn("bh",
        when(col("h") === 1, col("slope"))
          .when(col("h") === 2, col("slope") * col("slope"))
          .otherwise(col("slope") * col("slope") * col("slope")))
      // The geometric closed form is singular ONLY at slope = +1
      // (denominator 1 − b = 0 ⇒ pure drift y_T + a·h); slope = −1 is
      // a perfectly valid alternating AR(1) and takes the closed form
      // (r12 ADVICE: the old abs(slope) == 1 branch emitted the drift
      // line for b = −1, which is not that model's forecast).
      .withColumn("forecast", round(
        when(col("slope") === 1.0,
          col("y_last") + col("intercept") * col("h"))
          .otherwise(col("intercept") *
            (lit(1.0) - col("bh")) / (lit(1.0) - col("slope")) +
            col("bh") * col("y_last")), 6))
      .select(col("event_type"), col("n_pairs"), col("slope"),
        col("intercept"), col("h"), col("forecast"))
      .orderBy("event_type", "h")
  }

  private[graft] def cusumTail(hc: DataFrame): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0
    val w = Window.orderBy("h")
    val wAll = Window.partitionBy()
    hc.withColumn("k", row_number().over(w).cast(LongType))
      .withColumn("cum", sum("n").over(w))
      .withColumn("tot", sum("n").over(wAll))
      .withColumn("nh", count(lit(1)).over(wAll))
      .withColumn("dk", col("nh") * col("cum") - col("k") * col("tot"))
      .filter(col("k") < col("nh"))
      .orderBy(abs(col("dk")).desc, col("h").asc)
      .limit(1)
      .select(col("h").as("cp_hour"), col("nh").as("n_hours"),
        r6(abs(col("dk")).cast(DoubleType) / col("nh")).as("s_max"),
        r6(col("cum").cast(DoubleType) / col("k")).as("mean_before"),
        r6((col("tot") - col("cum")).cast(DoubleType)
          / (col("nh") - col("k"))).as("mean_after"),
        r6((col("tot") - col("cum")).cast(DoubleType)
            / (col("nh") - col("k"))
          - col("cum").cast(DoubleType) / col("k")).as("shift"))
  }

  /** The statistic tail of agg_chi_square over the (event_type, hr,
    * n_xy) joint count table — factored out for the streaming twin:
    * a stream maintains exactly the joint rollup (tumbling hourly
    * counts by type), and everything after rides the ≤ types×24-row
    * table.
    */
  private[graft] def chiSquareTail(joint: DataFrame): DataFrame = {
    val w = Window.partitionBy()
    joint
      .withColumn("n_x", sum(col("n_xy")).over(Window.partitionBy("event_type")))
      .withColumn("n_y", sum(col("n_xy")).over(Window.partitionBy("hr")))
      .withColumn("n", sum(col("n_xy")).over(w))
      .withColumn("n_types", size(collect_set(col("event_type")).over(w)))
      .withColumn("n_hours", size(collect_set(col("hr")).over(w)))
      .withColumn("e", col("n_x").cast(DoubleType) * col("n_y") / col("n"))
      .groupBy("event_type")
      .agg(sum(col("n_xy")).as("n_events"),
        sum(round((col("n_xy") - col("e")) * (col("n_xy") - col("e")) / col("e"), 9)
          .cast(DecimalType(28, 9))).cast(DoubleType).as("chi2_raw"),
        max((col("n_types") - 1) * (col("n_hours") - 1)).as("dof"))
      .select(col("event_type"), col("n_events"),
        round(col("chi2_raw"), 6).as("chi2_contrib"), col("dof").cast(LongType).as("dof"))
      .orderBy("event_type")
  }

  /** The scoring tail of ts_seasonal_naive_forecast over an (h, n)
    * hourly count table — factored out (stlTail's pattern) so the
    * streaming twin can feed it the incrementally-maintained rollup:
    * the rollup is the only part of the operator that touches raw
    * events.
    */
  /** The Holt–Winters fold of ts_holt_winters over an (h, n) hourly
    * count table — factored out (the snfTail/cusumTail pattern) so the
    * streaming twin (StreamingSpec) can feed it the incrementally-
    * maintained tumbling-window rollup and prove streaming ≡ batch
    * through the shared definition: the rollup is the only part of
    * the operator that touches raw events.
    */
  private[graft] def hwFolded(hc: DataFrame): DataFrame = {
    val series = hc
      .agg(sort_array(collect_list(struct(col("h"), col("n")))).as("sn"),
        max(col("h")).as("last_h"))
      .select(expr("transform(sn, p -> named_struct(" +
          "'hod', cast(p.h % 24 as int), 'y', cast(p.n as double)))")
        .as("sv"), size(col("sn")).as("n_hours"), col("last_h"))
    val zeros = Seq.fill(24)("0.0d").mkString(", ")
    val lNew = "0.3d * (p.y - acc[p.hod + 2]) + 0.7d * (acc[0] + acc[1])"
    series.select(col("n_hours"), col("last_h"), expr(
      s"""aggregate(
         |  slice(sv, 2, size(sv) - 1),
         |  array(sv[0].y, 0.0d, $zeros),
         |  (acc, p) -> transform(sequence(0, 25), i ->
         |    CASE WHEN i = 0 THEN $lNew
         |         WHEN i = 1 THEN 0.1d * (($lNew) - acc[0]) + 0.9d * acc[1]
         |         WHEN i = p.hod + 2
         |           THEN 0.2d * (p.y - ($lNew)) + 0.8d * acc[p.hod + 2]
         |         ELSE acc[i] END))""".stripMargin).as("st"))
  }

  private[graft] def hwTail(hc: DataFrame): DataFrame = {
    val folded = hwFolded(hc)
    folded
      .select(col("n_hours"), col("st"),
        posexplode(expr("slice(st, 3, 24)")).as(Seq("hod", "sx")))
      .select(col("hod").cast(IntegerType).as("hod"), col("n_hours"),
        round(col("st").getItem(0), 6).as("level"),
        round(col("st").getItem(1), 6).as("trend"),
        round(col("sx"), 6).as("seasonal"),
        round(col("st").getItem(0) + col("st").getItem(1) + col("sx"), 6)
          .as("fc_if_next"))
      .orderBy("hod")
  }

  private[graft] def snfTail(hc: DataFrame): DataFrame = {
    val fc = hc.select((col("h") + 168).as("h"), col("n").as("n_pred"))
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0
    hc.join(fc, "h")
      .groupBy((col("h") / lit(24)).cast(LongType).as("day"))
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("n") - col("n_pred"))).as("abs_err"),
        sum(col("n") - col("n_pred")).as("sum_err"))
      .select(col("day"), col("n_hours"),
        r6(col("abs_err").cast(DoubleType) / col("n_hours")).as("mae"),
        r6(col("sum_err").cast(DoubleType) / col("n_hours")).as("bias"))
      .orderBy("day")
  }

  /** The decomposition tail of ts_stl_decompose, over an (h, n) hourly
    * count table — factored out so the streaming twin (StreamingSpec)
    * can feed it the INCREMENTALLY-maintained rollup (tumbling-window
    * streaming counts) and prove streaming ≡ batch through the shared
    * definition: the rollup is the only part of the op that touches
    * raw events, so it is the only part a stream has to maintain.
    */
  private[graft] def stlTail(hc: DataFrame): DataFrame = {
    {
      val w = Window.orderBy("h").rangeBetween(-12, 12)
      val t = hc
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("sum_win", sum(col("n")).over(w))
        .filter(col("n_win") === 25)
        .withColumn("det25", lit(25) * col("n") - col("sum_win"))
        .withColumn("hod", col("h") % 24)
      val seas = t.groupBy("hod")
        .agg(round(sum(col("det25")).cast(DoubleType) / count(lit(1)) / lit(25.0), 9)
          .as("idx"))
      val centered = seas
        .withColumn("grand",
          (sum(col("idx").cast(DecimalType(28, 9)))
            .over(Window.partitionBy())).cast(DoubleType) / lit(24.0))
        .select(col("hod"), (col("idx") - col("grand")).as("seasonal_idx"))
      t.join(broadcast(centered), "hod")
        .select(col("h"), col("n"),
          round(col("sum_win") / lit(25.0), 6).as("trend"),
          round(col("seasonal_idx"), 6).as("seasonal"),
          round(col("n") - col("sum_win") / lit(25.0) - col("seasonal_idx"), 6)
            .as("resid"))
        .orderBy("h")
    }
  }

  val oracleSql: Map[String, String] = keyed(
    "feat_winsorize" ->
      """WITH cuts AS (
        |  SELECT event_type, round(quantile_cont(value, 0.05), 9) AS p05,
        |    round(quantile_cont(value, 0.95), 9) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  CAST(sum(CAST(round(least(greatest(value, p05), p95), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_clipped,
        |  round(min(p05), 6) AS p05, round(min(p95), 6) AS p95
        |FROM events e JOIN cuts USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "agg_mutual_information" ->
      """WITH joint AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 % 24 AS hr,
        |    count(*) AS n_xy
        |  FROM events GROUP BY event_type, hr),
        |m AS (
        |  SELECT event_type, hr, n_xy,
        |    CAST(sum(n_xy) OVER (PARTITION BY event_type) AS BIGINT) AS n_x,
        |    CAST(sum(n_xy) OVER (PARTITION BY hr) AS BIGINT) AS n_y,
        |    CAST(sum(n_xy) OVER () AS BIGINT) AS n
        |  FROM joint)
        |SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(round(CAST(n_xy AS DOUBLE) / n *
        |    ln(CAST(n_xy AS DOUBLE) * n / (CAST(n_x AS DOUBLE) * n_y)), 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS mi_contrib
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_mk_trend" ->
      """WITH hc AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |s AS (
        |  SELECT CAST(coalesce(sum(CASE WHEN b.n > a.n THEN 1
        |    WHEN b.n < a.n THEN -1 ELSE 0 END), 0) AS BIGINT) AS s
        |  FROM hc a JOIN hc b ON a.h < b.h),
        |ties AS (
        |  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
        |    AS ties
        |  FROM (SELECT count(*) AS t FROM hc GROUP BY n) g),
        |nh AS (SELECT count(*) AS nh FROM hc),
        |v AS (
        |  SELECT nh.nh, s.s, ties.ties,
        |    CAST(nh.nh * (nh.nh - 1) * (2 * nh.nh + 5) - ties.ties AS DOUBLE)
        |      / 18.0 AS var_s
        |  FROM nh CROSS JOIN s CROSS JOIN ties)
        |SELECT nh AS n_hours, s,
        |  floor(var_s * 1000000 + 0.5) / 1000000.0 AS var_s,
        |  floor(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
        |    WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0.0 END
        |    * 1000000 + 0.5) / 1000000.0 AS z
        |FROM v""".stripMargin,

    "ts_seasonal_naive_forecast" ->
      """WITH hc AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT a.h // 24 AS day, count(*) AS n_hours,
        |  floor(CAST(sum(abs(a.n - b.n)) AS DOUBLE) / count(*)
        |    * 1000000 + 0.5) / 1000000.0 AS mae,
        |  floor(CAST(sum(a.n - b.n) AS DOUBLE) / count(*)
        |    * 1000000 + 0.5) / 1000000.0 AS bias
        |FROM hc a JOIN hc b ON a.h = b.h + 168
        |GROUP BY day ORDER BY day""".stripMargin,

    "agg_chi_square" ->
      """WITH joint AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 % 24 AS hr,
        |    count(*) AS n_xy
        |  FROM events GROUP BY event_type, hr),
        |m AS (
        |  SELECT event_type, hr, n_xy,
        |    CAST(sum(n_xy) OVER (PARTITION BY event_type) AS BIGINT) AS n_x,
        |    CAST(sum(n_xy) OVER (PARTITION BY hr) AS BIGINT) AS n_y,
        |    CAST(sum(n_xy) OVER () AS BIGINT) AS n,
        |    count(DISTINCT event_type) OVER () AS n_types,
        |    count(DISTINCT hr) OVER () AS n_hours
        |  FROM joint),
        |e AS (SELECT *, CAST(n_x AS DOUBLE) * n_y / n AS e FROM m)
        |SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(round((n_xy - e) * (n_xy - e) / e, 9)
        |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS chi2_contrib,
        |  CAST(max((n_types - 1) * (n_hours - 1)) AS BIGINT) AS dof
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_cramers_v" ->
      """WITH joint AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 % 24 AS hr,
        |    count(*) AS n_xy
        |  FROM events GROUP BY event_type, hr),
        |m AS (
        |  SELECT event_type, hr, n_xy,
        |    CAST(sum(n_xy) OVER (PARTITION BY event_type) AS BIGINT) AS n_x,
        |    CAST(sum(n_xy) OVER (PARTITION BY hr) AS BIGINT) AS n_y,
        |    CAST(sum(n_xy) OVER () AS BIGINT) AS n,
        |    count(DISTINCT event_type) OVER () AS n_types,
        |    count(DISTINCT hr) OVER () AS n_hours
        |  FROM joint),
        |e AS (SELECT *, CAST(n_x AS DOUBLE) * n_y / n AS e FROM m),
        |t AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n,
        |    CAST(max(n_types) AS BIGINT) AS n_rows_dim,
        |    CAST(max(n_hours) AS BIGINT) AS n_cols_dim,
        |    CAST(sum(CAST(round((n_xy - e) * (n_xy - e) / e, 9)
        |      AS DECIMAL(28,9))) AS DOUBLE) AS chi2_raw
        |  FROM e)
        |SELECT n, n_rows_dim, n_cols_dim,
        |  round(chi2_raw, 6) AS chi2,
        |  round(sqrt(chi2_raw / (n * least(n_rows_dim - 1, n_cols_dim - 1))), 6)
        |    AS cramers_v
        |FROM t""".stripMargin,

    "feat_robust_scale" ->
      """WITH cuts AS (
        |  SELECT event_type, round(quantile_cont(value, 0.25), 9) AS q1,
        |    round(quantile_cont(value, 0.5), 9) AS med,
        |    round(quantile_cont(value, 0.75), 9) AS q3
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type,
        |  CASE WHEN q3 = q1 THEN 0.0
        |    ELSE floor((value - med) / (q3 - q1) * 1000000 + 0.5) / 1000000.0
        |  END AS scaled
        |FROM events e JOIN cuts USING (event_type)
        |WHERE user_id % 20 = 0
        |ORDER BY event_id""".stripMargin,

    "ts_rolling_median" ->
      """WITH s AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, value
        |  FROM events WHERE user_id % 20 = 0),
        |w AS (
        |  SELECT event_id, user_id,
        |    list_sort(list(value) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM s)
        |SELECT event_id, user_id, CAST(len(arr) AS INTEGER) AS n_win,
        |  arr[CAST((len(arr) + 1) // 2 AS INTEGER)] AS med_lo
        |FROM w ORDER BY event_id""".stripMargin,

    "ts_acf" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT l.lag_h AS lag_h, a.n AS x, b.n AS y
        |  FROM hc a CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS lag_h) l
        |  JOIN hc b ON b.h = a.h + l.lag_h),
        |agg AS (
        |  SELECT lag_h, count(*) AS n_hours,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM j GROUP BY 1)
        |SELECT lag_h, n_hours,
        |  CASE WHEN n_hours * sxx = sx * sx OR n_hours * syy = sy * sy THEN NULL
        |       ELSE round((n_hours * sxy - sx * sy) /
        |         (sqrt(n_hours * sxx - sx * sx) * sqrt(n_hours * syy - sy * sy)), 6)
        |  END AS acf
        |FROM agg ORDER BY lag_h""".stripMargin,

    "ts_pacf" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |j AS (
        |  SELECT l.lag_h AS lag_h, a.n AS x, b.n AS y
        |  FROM hc a CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag_h) l
        |  JOIN hc b ON b.h = a.h + l.lag_h),
        |agg AS (
        |  SELECT lag_h, count(*) AS n_hours,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM j GROUP BY 1),
        |rr AS (
        |  SELECT lag_h, (n_hours * sxy - sx * sy) /
        |    (sqrt(n_hours * sxx - sx * sx) * sqrt(n_hours * syy - sy * sy)) AS r
        |  FROM agg),
        |p AS (
        |  SELECT max(CASE WHEN lag_h = 1 THEN r END) AS r1,
        |    max(CASE WHEN lag_h = 2 THEN r END) AS r2,
        |    max(CASE WHEN lag_h = 3 THEN r END) AS r3
        |  FROM rr),
        |dl AS (
        |  SELECT r1, r2, r3,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
        |  FROM p),
        |dl2 AS (SELECT *, r1 - p2 * r1 AS phi21 FROM dl)
        |SELECT round(r1, 6) AS pacf1, round(p2, 6) AS pacf2,
        |  round((r3 - phi21 * r2 - p2 * r1)
        |    / (1.0 - phi21 * r1 - p2 * r2), 6) AS pacf3
        |FROM dl2""".stripMargin,

    "ts_new_vs_returning" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS d, user_id FROM events),
        |fd AS (SELECT user_id, min(d) AS first_d FROM ev GROUP BY 1),
        |daily AS (SELECT DISTINCT d, user_id FROM ev)
        |SELECT d, count(*) AS n_active,
        |  CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  count(*) - CAST(sum(CASE WHEN d = first_d THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returning
        |FROM daily JOIN fd USING (user_id)
        |GROUP BY d ORDER BY d""".stripMargin,

    "ts_downsample_ltob" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |hb AS (SELECT h, n, h // 6 AS bkt FROM hc),
        |cent AS (
        |  SELECT bkt,
        |    floor(CAST(sum(CAST(h AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(*) * 1000000 + 0.5) / 1000000.0 AS ct,
        |    floor(CAST(sum(CAST(n AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(*) * 1000000 + 0.5) / 1000000.0 AS cv,
        |    count(*) AS n_in_bucket
        |  FROM hb GROUP BY bkt),
        |anch AS (
        |  SELECT bkt, n_in_bucket,
        |    lag(ct) OVER (ORDER BY bkt) AS ta,
        |    lag(cv) OVER (ORDER BY bkt) AS va,
        |    lead(ct) OVER (ORDER BY bkt) AS tc,
        |    lead(cv) OVER (ORDER BY bkt) AS vc
        |  FROM cent),
        |cand AS (
        |  SELECT hb.bkt, hb.h, hb.n, anch.n_in_bucket,
        |    CASE WHEN ta IS NULL THEN -CAST(h AS DOUBLE)
        |      WHEN tc IS NULL THEN CAST(h AS DOUBLE)
        |      ELSE abs((ta - tc) * (n - va) - (ta - h) * (vc - va))
        |    END AS score
        |  FROM hb JOIN anch USING (bkt)),
        |sel AS (
        |  SELECT bkt, h, n, n_in_bucket, row_number() OVER (
        |    PARTITION BY bkt ORDER BY score DESC, h) AS rn
        |  FROM cand)
        |SELECT bkt, h AS sel_h, n AS sel_n, n_in_bucket
        |FROM sel WHERE rn = 1 ORDER BY bkt""".stripMargin,

    "ts_periodogram" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |rows_ AS (
        |  SELECT h, n, p.p AS p, h % p.p AS phase
        |  FROM hc CROSS JOIN (SELECT unnest([6, 12, 24, 168]) AS p) p),
        |f AS (
        |  SELECT p, n,
        |    CAST(round(cos(2 * pi() * phase / p), 9) AS DECIMAL(12,9)) AS c9,
        |    CAST(round(sin(2 * pi() * phase / p), 9) AS DECIMAL(12,9)) AS s9
        |  FROM rows_),
        |agg AS (
        |  SELECT p, CAST(count(*) AS BIGINT) AS n_hours,
        |    CAST(sum(n) AS DOUBLE) AS sn,
        |    CAST(sum(c9) AS DOUBLE) AS sc, CAST(sum(s9) AS DOUBLE) AS ss,
        |    CAST(sum(CAST(n AS DECIMAL(19,0)) * c9) AS DOUBLE) AS snc,
        |    CAST(sum(CAST(n AS DECIMAL(19,0)) * s9) AS DOUBLE) AS sns
        |  FROM f GROUP BY p)
        |SELECT CAST(p AS BIGINT) AS period_h, n_hours,
        |  round(((snc - sn / n_hours * sc) * (snc - sn / n_hours * sc)
        |    + (sns - sn / n_hours * ss) * (sns - sn / n_hours * ss))
        |    / (CAST(n_hours AS DOUBLE) * n_hours), 6) AS power
        |FROM agg ORDER BY period_h""".stripMargin,

    // The LIST-accumulator fold (NOT a struct: DuckDB list_reduce
    // updates struct fields sequentially — skill-gotcha finding — but
    // list elements all evaluate against the OLD acc, verified against
    // a sequential reference). list_prepend supplies the init value
    // since this DuckDB's list_reduce has no 3-arg form.
    "ts_holt_linear" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |ser AS (
        |  SELECT list(CAST(n AS DOUBLE) ORDER BY h) AS ys,
        |    CAST(count(*) AS INTEGER) AS n_hours
        |  FROM hc),
        |folded AS (
        |  SELECT n_hours, list_reduce(
        |    list_prepend([ys[1], CAST(0.0 AS DOUBLE)],
        |      list_transform(ys[2:], y -> [y])),
        |    (acc, y) -> [
        |      0.2 * y[1] + 0.8 * (acc[1] + acc[2]),
        |      0.1 * (0.2 * y[1] + 0.8 * (acc[1] + acc[2]) - acc[1])
        |        + 0.9 * acc[2]]) AS st
        |  FROM ser)
        |SELECT n_hours, round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[1] + st[2], 6) AS fc_1h,
        |  round(st[1] + 2.0 * st[2], 6) AS fc_2h,
        |  round(st[1] + 3.0 * st[2], 6) AS fc_3h
        |FROM folded""".stripMargin,

    // Same 26-slot list fold: elements are [hod, y] 2-lists (the
    // list_prepend init trick needs element type == accumulator type),
    // every new slot an expression of the OLD acc (LIST-accumulator
    // semantics, the holt_linear finding), identical IEEE shapes,
    // 1e-6 snap at emission only.
    "ts_holt_winters" -> {
      val zeros = Seq.fill(24)("CAST(0.0 AS DOUBLE)").mkString(", ")
      val lNew = "0.3 * (p[2] - acc[CAST(p[1] AS BIGINT) + 3])" +
        " + 0.7 * (acc[1] + acc[2])"
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |ser AS (
        |  SELECT list([CAST(h % 24 AS DOUBLE), CAST(n AS DOUBLE)] ORDER BY h) AS sv,
        |    CAST(count(*) AS INTEGER) AS n_hours
        |  FROM hc),
        |folded AS (
        |  SELECT n_hours, list_reduce(
        |    list_prepend(list_concat([sv[1][2], CAST(0.0 AS DOUBLE)],
        |      [$zeros]), sv[2:]),
        |    (acc, p) -> list_transform(range(26), i ->
        |      CASE WHEN i = 0 THEN $lNew
        |           WHEN i = 1 THEN 0.1 * (($lNew) - acc[1]) + 0.9 * acc[2]
        |           WHEN i = CAST(p[1] AS BIGINT) + 2
        |             THEN 0.2 * (p[2] - ($lNew))
        |               + 0.8 * acc[CAST(p[1] AS BIGINT) + 3]
        |           ELSE acc[i + 1] END)) AS st
        |  FROM ser)
        |SELECT CAST(i AS INTEGER) AS hod, n_hours,
        |  round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[CAST(i AS INTEGER) + 3], 6) AS seasonal,
        |  round(st[1] + st[2] + st[CAST(i AS INTEGER) + 3], 6) AS fc_if_next
        |FROM folded, (SELECT unnest(range(24)) AS i) hods
        |ORDER BY hod""".stripMargin
    },

    // hwFolded's fold replicated (the ts_holt_winters list_reduce)
    // plus the horizon expansion: identical prediction expression over
    // the same folded state, h = 1..24.
    "ts_holt_winters_forecast" -> {
      val zeros = Seq.fill(24)("CAST(0.0 AS DOUBLE)").mkString(", ")
      val lNew = "0.3 * (p[2] - acc[CAST(p[1] AS BIGINT) + 3])" +
        " + 0.7 * (acc[1] + acc[2])"
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |ser AS (
        |  SELECT list([CAST(h % 24 AS DOUBLE), CAST(n AS DOUBLE)] ORDER BY h) AS sv,
        |    max(h) AS last_h
        |  FROM hc),
        |folded AS (
        |  SELECT last_h, list_reduce(
        |    list_prepend(list_concat([sv[1][2], CAST(0.0 AS DOUBLE)],
        |      [$zeros]), sv[2:]),
        |    (acc, p) -> list_transform(range(26), i ->
        |      CASE WHEN i = 0 THEN $lNew
        |           WHEN i = 1 THEN 0.1 * (($lNew) - acc[1]) + 0.9 * acc[2]
        |           WHEN i = CAST(p[1] AS BIGINT) + 2
        |             THEN 0.2 * (p[2] - ($lNew))
        |               + 0.8 * acc[CAST(p[1] AS BIGINT) + 3]
        |           ELSE acc[i + 1] END)) AS st
        |  FROM ser)
        |SELECT CAST(h AS INTEGER) AS h_ahead,
        |  CAST((last_h + h) % 24 AS INTEGER) AS target_hod,
        |  round(st[1] + h * st[2]
        |    + st[CAST((last_h + h) % 24 AS BIGINT) + 3], 6) AS forecast
        |FROM folded, (SELECT unnest(range(1, 25)) AS h) hs
        |ORDER BY h_ahead""".stripMargin
    },

    // Full replication of the classical decomposition: range-framed
    // 25-hour trend window (full frames only), ×25 integer detrended
    // series, mean-centered hour-of-day seasonal indices (1e-9-snapped,
    // decimal-summed grand mean), identical double shapes.
    "ts_stl_decompose" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT h, n, count(*) OVER w AS n_win, sum(n) OVER w AS sum_win
        |  FROM hc
        |  WINDOW w AS (ORDER BY h RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |f AS (
        |  SELECT h, n, sum_win, 25 * n - sum_win AS det25, h % 24 AS hod
        |  FROM t WHERE n_win = 25),
        |seas AS (
        |  SELECT hod,
        |    round(CAST(sum(det25) AS DOUBLE) / count(*) / 25.0, 9) AS idx
        |  FROM f GROUP BY hod),
        |centered AS (
        |  SELECT hod, idx - CAST(sum(CAST(idx AS DECIMAL(28,9))) OVER ()
        |    AS DOUBLE) / 24.0 AS seasonal_idx
        |  FROM seas)
        |SELECT h, n, round(sum_win / 25.0, 6) AS trend,
        |  round(seasonal_idx, 6) AS seasonal,
        |  round(n - sum_win / 25.0 - seasonal_idx, 6) AS resid
        |FROM f JOIN centered USING (hod) ORDER BY h""".stripMargin,

    "feat_standard_scale" ->
      """WITH stats AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(19,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value AS DECIMAL(19,2))
        |      * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY event_type),
        |sd AS (
        |  SELECT event_type, s1 / n AS mu,
        |    sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
        |  FROM stats)
        |SELECT event_id, e.event_type,
        |  CASE WHEN sd = 0 OR isnan(sd) THEN 0.0
        |       ELSE floor((value - mu) / sd * 1000000 + 0.5) / 1000000.0
        |  END AS z
        |FROM events e JOIN sd USING (event_type)
        |WHERE user_id % 20 = 0 ORDER BY event_id""".stripMargin,

    "ts_ar1_forecast" ->
      s"""WITH hc AS (
        |  SELECT event_type, epoch_us(ts) // $hourUs AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.event_type, a.n AS x, b.n AS y
        |  FROM hc a JOIN hc b
        |    ON b.event_type = a.event_type AND b.h = a.h + 1),
        |fit AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pairs GROUP BY event_type),
        |sl AS (
        |  SELECT event_type, np,
        |    CASE WHEN np * sxx - sx * sx = 0 THEN 0.0
        |      ELSE round(CAST(np * sxy - sx * sy AS DOUBLE)
        |        / CAST(np * sxx - sx * sx AS DOUBLE), 6) END AS slope,
        |    sx, sy
        |  FROM fit),
        |ab AS (
        |  SELECT event_type, np, slope,
        |    round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / np, 6)
        |      AS intercept
        |  FROM sl),
        |lastv AS (
        |  SELECT event_type, n AS y_last FROM (
        |    SELECT event_type, n, row_number() OVER (
        |      PARTITION BY event_type ORDER BY h DESC) AS rn FROM hc) t
        |  WHERE rn = 1)
        |SELECT ab.event_type, np AS n_pairs, slope, intercept, hh.h,
        |  round(CASE WHEN slope = 1.0
        |    THEN y_last + intercept * hh.h
        |    ELSE intercept * (1.0 - (CASE hh.h WHEN 1 THEN slope
        |        WHEN 2 THEN slope * slope
        |        ELSE slope * slope * slope END))
        |      / (1.0 - slope)
        |      + (CASE hh.h WHEN 1 THEN slope WHEN 2 THEN slope * slope
        |        ELSE slope * slope * slope END) * y_last END, 6)
        |    AS forecast
        |FROM ab JOIN lastv USING (event_type)
        |CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) hh
        |ORDER BY event_type, hh.h""".stripMargin,

    "feat_minmax_scale" ->
      """WITH stats AS (
        |  SELECT event_type, min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type,
        |  CASE WHEN mx = mn THEN 0.5
        |       ELSE floor((value - mn) / (mx - mn) * 1000000 + 0.5) / 1000000.0
        |  END AS scaled
        |FROM events e JOIN stats USING (event_type)
        |WHERE user_id % 20 = 0 ORDER BY event_id""".stripMargin,

    "ts_cross_corr" ->
      s"""WITH hc AS (
        |  SELECT epoch_us(ts) // $hourUs AS h, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    l.lag_h AS lag_h, a.n AS x, b.n AS y
        |  FROM hc a CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS lag_h) l
        |  JOIN hc b ON b.h = a.h + l.lag_h AND a.event_type <> b.event_type),
        |agg AS (
        |  SELECT type_a, type_b, lag_h, count(*) AS n_hours,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(y * y) AS DOUBLE) AS syy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy
        |  FROM j GROUP BY 1, 2, 3)
        |SELECT type_a, type_b, lag_h, n_hours,
        |  CASE WHEN n_hours * sxx = sx * sx OR n_hours * syy = sy * sy THEN NULL
        |       ELSE round((n_hours * sxy - sx * sy) /
        |         (sqrt(n_hours * sxx - sx * sx) * sqrt(n_hours * syy - sy * sy)), 6)
        |  END AS xcorr
        |FROM agg ORDER BY type_a, type_b, lag_h""".stripMargin,

    "agg_decay_halflife" ->
      """WITH ev AS (
        |  SELECT event_type, value, CAST(ts AS DATE) AS day FROM events),
        |ref AS (SELECT max(day) AS ref_day FROM ev)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(1.0 / (CAST(1 AS BIGINT) << CAST(
        |    floor(CAST(date_diff('day', day, ref_day) AS DOUBLE) / 3.0) AS INTEGER))
        |    AS DECIMAL(28,10))) AS DOUBLE) AS decayed_n,
        |  CAST(sum(CAST(floor(1.0 / (CAST(1 AS BIGINT) << CAST(
        |    floor(CAST(date_diff('day', day, ref_day) AS DOUBLE) / 3.0) AS INTEGER))
        |    * value * 1000000 + 0.5) / 1000000.0 AS DECIMAL(28,6))) AS DOUBLE)
        |    AS decayed_value
        |FROM ev CROSS JOIN ref
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stream_tumbling_counts" ->
      s"""SELECT make_timestamp(epoch_us(ts) // $hourUs * $hourUs) AS hour_start,
        |  event_type, count(*) AS n, ${oAvg("value")} AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "stream_sliding_avg" ->
      s"""WITH assigned AS (
        |  SELECT make_timestamp(epoch_us(ts) // $halfHourUs * $halfHourUs) AS w0, value FROM events
        |  UNION ALL
        |  SELECT make_timestamp((epoch_us(ts) // $halfHourUs - 1) * $halfHourUs) AS w0, value FROM events)
        |SELECT w0 AS win_start, count(*) AS n, ${oAvg("value")} AS avg_value
        |FROM assigned GROUP BY w0 ORDER BY win_start""".stripMargin,

    "stream_dedup" ->
      s"""WITH dup AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS us, value FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, epoch_us(ts) AS us, value FROM events),
        |survivors AS (
        |  SELECT event_id, min(struct_pack(us := us, event_type := event_type,
        |    value := value)) AS k FROM dup GROUP BY event_id)
        |SELECT k.event_type AS event_type, count(*) AS n_unique,
        |  ${oSum("k.value")} AS total_value
        |FROM survivors GROUP BY k.event_type ORDER BY event_type""".stripMargin,

    "stream_running_totals" ->
      s"""SELECT user_id, event_id,
        |  count(*) OVER w AS running_n,
        |  CAST(sum(CAST(value AS $oD)) OVER w AS DOUBLE) AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "stream_stream_join" ->
      s"""WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us, event_id AS c_id
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c_id, p_id FROM c JOIN p ON c.user_id = p.user_id
        |  AND p_us >= c_us - $hourUs AND p_us <= c_us
        |ORDER BY c_id, p_id""".stripMargin,

    "funnel_stages" ->
      s"""WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) OVER w AS vt_before
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |o2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND vt_before IS NOT NULL
        |    THEN us END) OVER w2 AS ct_before
        |  FROM o
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
        |    max(CASE WHEN event_type = 'click' AND vt_before IS NOT NULL
        |      THEN 1 ELSE 0 END) AS s2,
        |    max(CASE WHEN event_type = 'purchase' AND ct_before IS NOT NULL
        |      THEN 1 ELSE 0 END) AS s3
        |  FROM o2 GROUP BY user_id)
        |SELECT stage, users FROM (
        |  SELECT '1_view' AS stage, CAST(sum(s1) AS BIGINT) AS users FROM u
        |  UNION ALL SELECT '2_click', CAST(sum(s2) AS BIGINT) FROM u
        |  UNION ALL SELECT '3_purchase', CAST(sum(s3) AS BIGINT) FROM u) t
        |ORDER BY stage""".stripMargin,

    "stream_session_windows" ->
      s"""WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    epoch_us(ts) - lag(epoch_us(ts), 1)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN gap IS NULL OR gap > $gapUs THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |ids AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
        |  FROM flagged)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us,
        |  max(us) - min(us) AS span_us
        |FROM ids GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin,

    "ts_gapfill" ->
      s"""WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // $hourUs * $hourUs AS h0,
        |    count(*) AS n_obs, ${oAvg("value")} AS avg_value
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
        |led AS (
        |  SELECT *, lead(h0) OVER (PARTITION BY user_id ORDER BY h0) AS next0
        |  FROM hourly),
        |sp AS (
        |  SELECT user_id, h0, n_obs, avg_value,
        |    unnest(generate_series(h0, coalesce(next0 - $hourUs, h0), $hourUs))
        |      AS hour_us
        |  FROM led)
        |SELECT user_id, hour_us,
        |  CASE WHEN hour_us = h0 THEN n_obs ELSE 0 END AS n_events,
        |  avg_value AS value_ffill, hour_us <> h0 AS is_filled
        |FROM sp ORDER BY user_id, hour_us""".stripMargin,

    "ts_ohlc_downsample" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |    epoch_us(ts) // 86400000000 * 86400000000 AS day_us
        |  FROM events),
        |rn AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, day_us
        |      ORDER BY us ASC, event_id ASC) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, day_us
        |      ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM base)
        |SELECT user_id, day_us, count(*) AS n,
        |  min(value) AS lo, max(value) AS hi,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close
        |FROM rn GROUP BY user_id, day_us ORDER BY user_id, day_us""".stripMargin,

    "merge_scd2" ->
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
        |  FROM runs)
        |SELECT user_id, state, valid_from_us, valid_to_us,
        |  valid_to_us IS NULL AS is_current
        |FROM iv ORDER BY user_id, valid_from_us""".stripMargin,

    // list() ORDER BY (ts, event_id) matches Spark's sort_array over the
    // (ts, event_id, value) struct; list_reduce folds left from the
    // first element exactly like aggregate() seeded with vs[0].
    "ts_ewma" ->
      """SELECT user_id, count(*) AS n_events,
        |  round(list_reduce(list(value ORDER BY ts, event_id),
        |    (acc, x) -> acc * CAST(0.8 AS DOUBLE) + x * CAST(0.2 AS DOUBLE)), 4)
        |    AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ts_anomaly_zscore" ->
      """WITH st AS (
        |  SELECT user_id, event_id, value,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6)))
        |      OVER w AS DOUBLE) AS sxx,
        |    count(*) OVER w AS n
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id)),
        |z AS (
        |  SELECT user_id, event_id, value, n,
        |    sxx - sx * sx / n AS m2,
        |    (value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS z_raw
        |  FROM st)
        |SELECT user_id, event_id, value,
        |  floor(z_raw * 10000 + 0.5) / 10000.0 AS z
        |FROM z WHERE n > 1 AND m2 > 0 AND abs(z_raw) > 3
        |ORDER BY user_id, event_id""".stripMargin,

    "ts_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
        |uw AS (
        |  SELECT DISTINCT e.user_id, cohort, wk - cohort AS week_offset
        |  FROM e JOIN c USING (user_id)),
        |m AS (
        |  SELECT cohort, week_offset, count(*) AS n_users
        |  FROM uw GROUP BY cohort, week_offset)
        |SELECT cohort, week_offset, n_users,
        |  round(n_users / max(CASE WHEN week_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort), 6) AS retention
        |FROM m ORDER BY cohort, week_offset""".stripMargin,

    "ts_interpolate" ->
      s"""WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // $hourUs * $hourUs AS h0,
        |    ${oAvg("value")} AS v0
        |  FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
        |led AS (
        |  SELECT *,
        |    lead(h0) OVER (PARTITION BY user_id ORDER BY h0) AS next0,
        |    lead(v0) OVER (PARTITION BY user_id ORDER BY h0) AS v1
        |  FROM hourly),
        |sp AS (
        |  SELECT user_id, h0, v0, v1, next0,
        |    unnest(generate_series(h0, coalesce(next0 - $hourUs, h0), $hourUs))
        |      AS hour_us
        |  FROM led)
        |SELECT user_id, hour_us,
        |  floor((v0 + coalesce((v1 - v0) *
        |      (CAST(hour_us - h0 AS DOUBLE) / CAST(next0 - h0 AS DOUBLE)), 0.0))
        |    * 1000000 + 0.5) / 1000000.0 AS v_interp,
        |  hour_us <> h0 AS is_interp
        |FROM sp ORDER BY user_id, hour_us""".stripMargin,

    "ts_lag_features" ->
      s"""WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day_idx,
        |    ${oSum("value")} AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, day_idx, v,
        |  max(v) OVER (PARTITION BY user_id ORDER BY day_idx
        |    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag1,
        |  max(v) OVER (PARTITION BY user_id ORDER BY day_idx
        |    RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS lag7,
        |  floor(CAST(sum(CAST(v AS $oD)) OVER (PARTITION BY user_id
        |      ORDER BY day_idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)
        |    / count(*) OVER (PARTITION BY user_id ORDER BY day_idx
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) * 10000 + 0.5)
        |    / 10000.0 AS mean7,
        |  v - max(v) OVER (PARTITION BY user_id ORDER BY day_idx
        |    RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS delta1
        |FROM daily ORDER BY user_id, day_idx""".stripMargin,

    "ts_changepoint" ->
      s"""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, value
        |  FROM events WHERE user_id % 10 = 0),
        |m AS (
        |  SELECT user_id, us, event_id, value,
        |    floor(CAST(sum(CAST(value AS $oD))
        |        OVER (PARTITION BY user_id) AS DOUBLE)
        |      / count(*) OVER (PARTITION BY user_id) * 10000 + 0.5)
        |      / 10000.0 AS mean
        |  FROM e),
        |dv AS (
        |  SELECT user_id, us, event_id,
        |    floor((value - mean) * 10000 + 0.5) / 10000.0 AS dev4
        |  FROM m),
        |c AS (
        |  SELECT user_id, us, event_id,
        |    CAST(sum(CAST(dev4 AS $oD)) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      AS cusum
        |  FROM dv),
        |r AS (
        |  SELECT user_id, us, cusum, row_number() OVER (PARTITION BY user_id
        |    ORDER BY abs(cusum) DESC, us, event_id) AS rn
        |  FROM c)
        |SELECT user_id, us AS cp_us, cusum AS max_cusum
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "ts_rolling_actives" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day AS obs_day FROM du),
        |ex AS (
        |  SELECT du.user_id, du.day + x.o AS obs_day
        |  FROM du CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) x(o))
        |SELECT obs_day, count(DISTINCT user_id) AS dau7
        |FROM ex JOIN days USING (obs_day)
        |GROUP BY obs_day ORDER BY obs_day""".stripMargin,

    "feat_target_encode" ->
      s"""WITH st AS (
        |  SELECT event_type, sum(CAST(value AS $oD)) AS sv, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |  floor(CAST(sv - CAST(value AS $oD) AS DOUBLE) / (n - 1)
        |    * 10000 + 0.5) / 10000.0 AS te
        |FROM events e JOIN st USING (event_type)
        |WHERE user_id % 20 = 0 ORDER BY event_id""".stripMargin,

    "ts_seasonal_profile" ->
      s"""WITH b AS (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    sum(CAST(value AS $oD)) AS sv, count(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT dow, n, sv,
        |    sum(sv) OVER () AS sv_all, sum(n) OVER () AS n_all
        |  FROM b)
        |SELECT dow, n,
        |  floor(CAST(sv AS DOUBLE) / n / (CAST(sv_all AS DOUBLE) / n_all)
        |    * 1000000 + 0.5) / 1000000.0 AS seasonal_idx
        |FROM t ORDER BY dow""".stripMargin,

    "feat_quantile_bucketize" ->
      """WITH cuts AS (
        |  SELECT lang,
        |    percentile_cont(0.25) WITHIN GROUP (ORDER BY n_chars) AS q1,
        |    percentile_cont(0.50) WITHIN GROUP (ORDER BY n_chars) AS q2,
        |    percentile_cont(0.75) WITHIN GROUP (ORDER BY n_chars) AS q3
        |  FROM documents GROUP BY lang)
        |SELECT d.lang,
        |  CAST(CASE WHEN n_chars <= q1 THEN 1 WHEN n_chars <= q2 THEN 2
        |            WHEN n_chars <= q3 THEN 3 ELSE 4 END AS INTEGER) AS bucket,
        |  count(*) AS n_docs, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars
        |FROM documents d JOIN cuts USING (lang)
        |GROUP BY d.lang, bucket ORDER BY lang, bucket""".stripMargin,

    "ts_cusum_changepoint" ->
      """WITH hc AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT h,
        |    CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS k,
        |    CAST(sum(n) OVER (ORDER BY h) AS BIGINT) AS cum,
        |    CAST(sum(n) OVER () AS BIGINT) AS tot,
        |    CAST(count(*) OVER () AS BIGINT) AS nh
        |  FROM hc),
        |d AS (
        |  SELECT h, k, cum, tot, nh, nh * cum - k * tot AS dk
        |  FROM c WHERE k < nh)
        |SELECT h AS cp_hour, nh AS n_hours,
        |  floor(CAST(abs(dk) AS DOUBLE) / nh * 1000000 + 0.5)
        |    / 1000000.0 AS s_max,
        |  floor(CAST(cum AS DOUBLE) / k * 1000000 + 0.5)
        |    / 1000000.0 AS mean_before,
        |  floor(CAST(tot - cum AS DOUBLE) / (nh - k) * 1000000 + 0.5)
        |    / 1000000.0 AS mean_after,
        |  floor((CAST(tot - cum AS DOUBLE) / (nh - k)
        |      - CAST(cum AS DOUBLE) / k) * 1000000 + 0.5)
        |    / 1000000.0 AS shift
        |FROM d ORDER BY abs(dk) DESC, h LIMIT 1""".stripMargin
  )
}

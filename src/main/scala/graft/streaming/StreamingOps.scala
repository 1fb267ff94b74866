package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** True Structured Streaming forms of the §2j operators. Each builds on
  * an unbounded `readStream` source and is proven equal to its batch
  * form in StreamingSpec (file source → MemorySink, SURVEY.md §5.4).
  *
  * Scale note: all aggregations here are keyed (event_type, user_id,
  * session key), so state partitions across executors; watermarks bound
  * state size — the properties that matter when the stream is 100 TB/day.
  */
object StreamingOps {
  /** Schema of the events table as the file source reads it (ts is raw
    * int64 nanos — same convention as Tables.events).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded events source over a directory of parquet files. */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(eventsSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(dir)
      .withColumn("ts_t", timestamp_micros(expr("ts DIV 1000")))
  }

  /** Tumbling 1-hour counts by type with a watermark. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("hour_start"), col("event_type"), col("n"))

  /** Global tumbling 1-hour counts — the incremental rollup behind
    * ts_stl_decompose's streaming twin. The decomposition itself
    * (StreamingBatch.stlTail) is a calendar-bounded finishing pass
    * over this table (≤ hours-in-corpus rows), so the ONLY part of
    * the operator that touches raw events is exactly the part a
    * stream maintains incrementally; `h` is the same epoch-hour index
    * the batch rollup derives (us DIV 3 600 000 000).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"))
      .select((unix_timestamp(col("win.start")) / 3600).cast(LongType).as("h"),
        col("n"))

  /** Staleness-bounded as-of candidates as a watermarked stream-stream
    * join — join_asof_tolerance's streaming analogue. The 1-hour
    * tolerance IS the state bound: a purchase row can stop waiting for
    * clicks once the click watermark passes purchase time + 1 h, which
    * is what makes the op runnable unbounded (a tolerance-free as-of
    * would hold every purchase forever). The strict (us, event_id)
    * tiebreak mirrors the batch window's rowsBetween-preceding frame,
    * so the per-click max over these candidates equals the batch
    * operator's last() exactly.
    */
  def asofToleranceCands(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    def side(tpe: String, p: String) = events
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${p}_user"), col("ts_t").as(s"${p}_ts"),
        col("event_id").as(s"${p}_id"), expr("ts DIV 1000").as(s"${p}_us"))
      .withWatermark(s"${p}_ts", watermark)
    side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
        col("p_ts") <= col("c_ts") &&
        (col("p_us") < col("c_us") ||
          (col("p_us") === col("c_us") && col("p_id") < col("c_id"))))
      .select(col("c_id"), col("c_user"), col("c_us"), col("p_us"))
  }

  /** (event_type, hour-of-day) joint counts — the incremental rollup
    * behind agg_chi_square's streaming twin. Keyed on hour-of-day
    * (not a time window), so the key space is ≤ types×24 forever and
    * complete-mode state is O(1); the χ² statistic tail
    * (StreamingBatch.chiSquareTail) rides this table.
    */
  /** Per-type ABSOLUTE-hour counts — ts_ar1_forecast's streamed input
    * (typeHourCounts below is hour-of-day; the AR fit needs the
    * calendar axis). Same epoch-hour convention as hourlyCounts, so
    * the ar1Tail consumes either source unchanged.
    */
  def typeHourlyCounts(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(col("event_type"), window(col("ts_t"), "1 hour").as("win"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        (unix_timestamp(col("win.start")) / 3600).cast(LongType).as("h"),
        col("n"))

  def typeHourCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), hour(col("ts_t")).cast(LongType).as("hr"))
      .agg(count(lit(1)).as("n_xy"))

  /** Sliding 1-hour/30-minute event counts. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), "1 hour", "30 minutes").as("win"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("n"))

  /** Session windows with a 5-minute inactivity gap. */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts_t", watermark)
      .groupBy(session_window(col("ts_t"), "5 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("win.start").as("start_t"),
        col("win.end").as("end_t"), col("n_events"))

  /** Drop duplicate event_ids within the watermark horizon. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts_t", watermark).dropDuplicates("event_id")

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** Unbounded orders source — the feed agg_benford_test's streaming
    * twin watches (the fraud tripwire is exactly an alert you want ON
    * the live ingest, not a nightly batch).
    */
  def readOrders(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(ordersSchema).parquet(dir)

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Unbounded documents source — the corpus feed the tokenizer-apply
    * twin (and any future ingest-side text op) watches.
    */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(documentsSchema).parquet(dir)

  /** mm_decode_meta's streaming twin (round 13): container-metadata
    * decode over a streamed doc source — the ingest-side pass a
    * multimodal pipeline runs as blobs ARRIVE, not nightly. Stateless
    * map (append mode, no watermark needed): the per-row wrap→parse
    * roundtrip is the batch operator's own decodeMetaRow, so
    * StreamingSpec's equality proves streaming ≡ batch including the
    * CRC-32/RIFF verification.
    */
  def decodeMeta(docs: DataFrame): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          graft.queries.Multimodal.decodeMetaRow(id, text)
        }
      }
      .toDF("doc_id", "container", "n_bytes", "width", "height",
        "header_ok")
  }

  /** bpe_tokenize_corpus's streaming twin (round 13, VERDICT r12 item
    * 8): per-doc word/token/char counts over a streamed doc source
    * under a TRAINED merge list — the artifact-consumer pattern on
    * incremental arrival (encode is stateless map work; the merge list
    * comes from the shared single-flight vocabulary memo and
    * broadcasts as chained codegen'd replace()s). ONE stateful
    * aggregation keyed by doc_id — the batch query's intermediate
    * per-(doc, word) collapse is an encode-each-distinct-word-once
    * efficiency, mathematically identical to summing per occurrence,
    * and streaming does not allow the chained agg — so the twin sums
    * occurrences directly and StreamingSpec's equality against the
    * batch emission proves the decomposition exact. State is one row
    * per doc key in complete mode (a production run would bound it
    * with a doc-arrival watermark + append emission per micro-batch).
    */
  def tokenizeCorpus(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val encoded = graft.queries.TextPipeline.bpeEncode(merges)
    docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(encoded).cast(LongType)).as("n_tokens"),
        sum(length(col("w")).cast(LongType)).as("n_chars"))
  }

  /** Leading-digit counts over a streamed orders source — the
    * incremental rollup behind agg_benford_test's streaming twin:
    * complete-mode agg on ≤9 keys forever (not a time window), digit
    * derivation shared with the batch op (Relational.benfordDigit);
    * the χ² tail (Relational.benfordTail) rides this table.
    */
  def benfordDigitCounts(orders: DataFrame): DataFrame =
    orders
      .groupBy(graft.queries.Relational.benfordDigit(col("o_totalprice")).as("digit"))
      .agg(count(lit(1)).as("n_obs"))

  final case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Explicit keyed state: per-user running totals via
    * flatMapGroupsWithState (update mode emits the refreshed total on
    * every batch that touches the key).
    */
  def runningTotals(events: DataFrame): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, t0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var t = t0
          rows.foreach { r => n += 1; t += r._2 }
          state.update((n, t))
          Iterator(UserTotal(user, n, t))
      }
  }

  /** The same running totals on the Spark-4 arbitrary-state API
    * (transformWithState / StatefulProcessor): typed per-key ValueState
    * with explicit lifecycle, TTL hooks, and timer support — the
    * replacement for flatMapGroupsWithState that a long-lived 100 TB/day
    * state pipeline would use (state lives in RocksDB with changelog
    * checkpointing rather than an in-memory HashMap). StreamingSpec
    * asserts its trajectory equals both the legacy form and the batch
    * twin.
    */
  class RunningTotalProcessor
      extends StatefulProcessor[Long, (Long, Double), UserTotal] {
    @transient private var totals: ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[UserTotal] = {
      val (n0, t0) = if (totals.exists()) totals.get() else (0L, 0.0)
      var n = n0; var t = t0
      rows.foreach { r => n += 1; t += r._2 }
      totals.update((n, t))
      Iterator(UserTotal(user, n, t))
    }
  }

  /** transformWithState requires the RocksDB state store; the caller's
    * session must set spark.sql.streaming.stateStore.providerClass to
    * RocksDBStateStoreProvider before starting the query.
    */
  def runningTotalsTws(events: DataFrame): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class RollMed(event_id: Long, user_id: Long, n_win: Int, med_lo: Double)

  /** ts_rolling_median's incremental form: per-user exact median of the
    * last 7 observations, via transformWithState with O(1) state — the
    * bounded frame is WHY this windows op streams at all (an unbounded
    * frame would need the full history in state). State per key is just
    * the last ≤7 (us, event_id, value) rows; each arrival appends,
    * trims, and emits the sorted-frame pick. Ordering contract: rows
    * within one trigger batch arrive unordered, so the processor sorts
    * the batch by (us, event_id) before folding; ACROSS triggers the
    * caller must feed event-time-ordered slices (time-partitioned files
    * + maxFilesPerTrigger — the replay shape; a live pipeline gets the
    * same guarantee from watermark-ordered reprocessing or an ordered
    * log). StreamingSpec proves the trajectory equals the batch window
    * form row-for-row.
    */
  /** The ≤7-row bounded frame held per key (Product wrapper because the
    * state encoder requires one; the Seq field is encoder-supported).
    */
  final case class Frame(rows: Seq[(Long, Long, Double)])

  class RollingMedianProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Double), RollMed] {
    @transient private var frame: ValueState[Frame] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      frame = getHandle.getValueState[Frame]("frame",
        org.apache.spark.sql.Encoders.product[Frame], TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timers: TimerValues): Iterator[RollMed] = {
      var f: Seq[(Long, Long, Double)] =
        if (frame.exists()) frame.get().rows else Nil
      val out = rows.toSeq.sortBy { case (_, us, eid, _) => (us, eid) }
        .map { case (_, us, eid, v) =>
          f = (f :+ ((us, eid, v))).takeRight(7)
          val sorted = f.map(_._3).sorted
          RollMed(eid, user, f.length, sorted((f.length - 1) / 2))
        }
      frame.update(Frame(f))
      out.iterator
    }
  }

  /** Rolling median stream (users sampled %20, mirroring the batch
    * query). RocksDB provider required, as for [[runningTotalsTws]].
    */
  def rollingMedian(events: DataFrame): Dataset[RollMed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("user_id") % 20 === 0)
      .select(col("user_id"), expr("ts DIV 1000").as("us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RollingMedianProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** feat_winsorize's streaming form — the production split of that
    * operator: cut points come from a BATCH reference table (yesterday's
    * percentiles), broadcast into a static-stream join; the clip is
    * map-side on each arriving row; only the per-type rollup keeps
    * state (one row per event_type). Complete mode because the rollup
    * is the result. StreamingSpec proves the final state equals the
    * batch operator's output on the same data exactly (same 1e-9 cut
    * snap + 1e-6 clip rounding + exact decimal capture).
    */
  def winsorizeCounts(events: DataFrame, cuts: DataFrame): DataFrame =
    events.join(broadcast(cuts), "event_type")
      .withColumn("clipped",
        round(least(greatest(col("value"), col("p05")), col("p95")), 6))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value") < col("p05")).cast(LongType)).as("n_clip_lo"),
        sum((col("value") > col("p95")).cast(LongType)).as("n_clip_hi"),
        graft.Tables.dsum(col("clipped")).as("sum_clipped"),
        round(min(col("p05")), 6).as("p05"),
        round(min(col("p95")), 6).as("p95"))
}

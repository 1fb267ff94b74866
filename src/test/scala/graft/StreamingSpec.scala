package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Structured Streaming forms equal their batch forms (SURVEY.md §5.4):
  * events parquet split into several files → readStream → op →
  * MemorySink → compare with the same logic run in batch. File order is
  * shuffled to exercise cross-file disorder; the late-data test drives
  * one file at a time so the watermark actually advances between
  * triggers and drops a too-late file.
  */
class StreamingSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  private var srcDir: Path = _

  override def beforeAll(): Unit = {
    // Split events into 8 files, shuffled across time (partitioned by
    // a hash, so each file spans the whole month — disorder guaranteed).
    srcDir = tempDir("graft_stream_src")
    graft.Tables.events(spark, sf)
      .repartition(8, col("event_id"))
      .write.mode("overwrite").parquet(srcDir.toString)
  }

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling counts: streaming == batch") {
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val got = runToMemory(StreamingOps.tumblingCounts(stream), "t_tumbling", "complete")
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = graft.Tables.eventsTs(spark, sf)
      .groupBy(window(col("ts_t"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("hour_start"), col("event_type"), col("n"))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got === want)
  }

  test("session windows: streaming session_window == batch gaps-and-islands") {
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val got = runToMemory(StreamingOps.sessionCounts(stream), "t_session", "complete")
      .select("user_id", "n_events")
      .groupBy("user_id").agg(sum("n_events").as("total"), count(lit(1)).as("n_sessions"))
      .orderBy("user_id").collect().toSeq
    // Batch truth from the gaps-and-islands query (same 5-min gap).
    val want = graft.queries.StreamingBatch.queries("stream_session_windows")(spark, sf)
      .groupBy("user_id").agg(sum("n_events").as("total"), count(lit(1)).as("n_sessions"))
      .orderBy("user_id").collect().toSeq
    assert(got === want)
  }

  test("watermark dedup drops duplicate event_ids") {
    // Duplicate the whole source: every event_id appears twice.
    val dupDir = tempDir("graft_stream_dup")
    val ev = graft.Tables.events(spark, sf)
    ev.unionByName(ev).repartition(8, col("event_id"))
      .write.mode("overwrite").parquet(dupDir.toString)
    val stream = StreamingOps.readEvents(spark, dupDir.toString)
    val got = runToMemory(StreamingOps.dedupEvents(stream), "t_dedup", "append")
    assert(got.count() === ev.count())
    assert(got.select("event_id").distinct().count() === ev.count())
  }

  test("stl decomposition over the streamed hourly rollup == batch ts_stl_decompose") {
    // The r7 time-series op's streaming twin (VERDICT r7 item 5): the
    // hourly rollup — the only part of ts_stl_decompose that touches
    // raw events — is maintained as a streaming tumbling-window count;
    // the decomposition tail is the SHARED batch definition (stlTail),
    // so equality here proves the whole operator streaming ≡ batch.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val hc = runToMemory(StreamingOps.hourlyCounts(stream), "t_stl_hc", "complete")
    val got = graft.queries.StreamingBatch.stlTail(hc).collect().toSeq
    val want = SparkEntry.queries("ts_stl_decompose")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("asof-tolerance: watermarked stream-stream candidates reduce to the batch operator") {
    // join_asof_tolerance's streaming analogue: the 1-hour staleness
    // bound becomes the stream-stream join's time-range condition —
    // which is exactly what bounds the join STATE (purchases expire
    // once the click watermark passes purchase+1h), the property that
    // makes the op runnable unbounded. The per-click max over the
    // streamed candidates, left-joined back onto all clicks, must
    // equal the batch operator row-for-row, nulls included.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val cands = runToMemory(StreamingOps.asofToleranceCands(stream), "t_asof_tol", "append")
    val perClick = cands.groupBy(col("c_id"))
      .agg(max(col("p_us")).as("last_purchase_us"))
    val clicks = graft.Tables.eventsTs(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us"))
    val got = clicks
      .join(perClick, col("event_id") === col("c_id"), "left")
      .select(col("event_id"), col("user_id"), col("last_purchase_us"),
        (col("us") - col("last_purchase_us")).as("age_us"))
      .orderBy("event_id").collect().toSeq
    val want = SparkEntry.queries("join_asof_tolerance")(spark, sf)
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("chi-square over the streamed (type, hour-of-day) rollup == batch agg_chi_square") {
    // Complete-mode streaming agg on (type, hr) — NOT a time window, so
    // state is bounded at types×24 keys forever; the χ² tail is the
    // shared batch definition over that table.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val joint = runToMemory(StreamingOps.typeHourCounts(stream), "t_chi_joint", "complete")
    val got = graft.queries.StreamingBatch.chiSquareTail(joint).collect().toSeq
    val want = SparkEntry.queries("agg_chi_square")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("welch t over the streamed per-arm sums == batch agg_welch_ttest") {
    // Complete-mode agg on the 2-key arm table — the only part of the
    // operator that touches raw events; the t/df tail is the shared
    // batch definition (Relational.welchTail), so equality proves the
    // whole operator streaming ≡ batch. Exact decimal sums make the
    // streamed state's emission bit-identical to the batch pass.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val perArm = runToMemory(
      graft.queries.Relational.armValueSums(stream), "t_welch_arms", "complete")
    val got = graft.queries.Relational.welchTail(perArm).collect().toSeq
    val want = SparkEntry.queries("agg_welch_ttest")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("cohen's d over the streamed per-arm sums == batch agg_cohens_d") {
    // Same streamed armValueSums table as the welch twin — the effect
    // size comes for free on the live readout once the 2-key state
    // exists; the tail is the shared batch definition.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val perArm = runToMemory(
      graft.queries.Relational.armValueSums(stream), "t_cohd_arms", "complete")
    val got = graft.queries.Relational.cohensDTail(perArm).collect().toSeq
    val want = SparkEntry.queries("agg_cohens_d")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("roc auc over the streamed per-value class counts == batch agg_roc_auc") {
    // Complete-mode agg on the per-score-value class-count table — the
    // only part of the operator that touches raw events (state is one
    // key per distinct score, the batch shuffle's own key cardinality;
    // a continuous production score pre-bins to its declared grid).
    // The banded ECDF AUC tail is the shared batch definition
    // (Relational.rocAucTail), so equality proves the whole operator
    // streaming ≡ batch — the newest stats family joins the proof
    // surface.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val pv = runToMemory(
      graft.queries.Relational.valueClassCounts(stream), "t_auc_pv", "complete")
    val got = graft.queries.Relational.rocAucTail(pv).collect().toSeq
    val want = SparkEntry.queries("agg_roc_auc")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("benford digits over a streamed orders source == batch agg_benford_test") {
    // The fraud tripwire on the live ingest: digit derivation AND the
    // χ² tail are the shared batch definitions; the stream maintains
    // only the ≤9-key digit counts (complete mode, bounded forever).
    val ordersDir = tempDir("graft_stream_orders")
    graft.Tables.orders(spark, sf)
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").parquet(ordersDir.toString)
    val stream = StreamingOps.readOrders(spark, ordersDir.toString)
    val obs = runToMemory(
      StreamingOps.benfordDigitCounts(stream), "t_benford_obs", "complete")
    val got = graft.queries.Relational.benfordTail(obs).collect().toSeq
    val want = SparkEntry.queries("agg_benford_test")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("seasonal-naive backtest over the streamed hourly rollup == batch operator") {
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val hc = runToMemory(StreamingOps.hourlyCounts(stream), "t_snf_hc", "complete")
    val got = graft.queries.StreamingBatch.snfTail(hc).collect().toSeq
    val want = SparkEntry.queries("ts_seasonal_naive_forecast")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("cusum change-point over the streamed hourly rollup == batch operator") {
    // Same streamed hourlyCounts table as the seasonal-naive twin —
    // the incident localizer comes for free on the live dashboard once
    // the calendar-bounded hourly state exists; the exact-BIGINT CUSUM
    // tail is the shared batch definition, so equality proves the
    // whole operator streaming ≡ batch.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val hc = runToMemory(StreamingOps.hourlyCounts(stream), "t_cusum_hc", "complete")
    val got = graft.queries.StreamingBatch.cusumTail(hc).collect().toSeq
    val want = SparkEntry.queries("ts_cusum_changepoint")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("Holt-Winters fold over the streamed hourly rollup == batch operator") {
    // Third rider on the streamed hourlyCounts state (seasonal-naive,
    // cusum, now the 26-slot triple-smoothing fold): the fold itself
    // is the shared hwTail definition over the calendar-bounded hourly
    // table, so equality proves the whole operator streaming ≡ batch.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val hc = runToMemory(StreamingOps.hourlyCounts(stream), "t_hw_hc", "complete")
    val got = graft.queries.StreamingBatch.hwTail(hc).collect().toSeq
    val want = SparkEntry.queries("ts_holt_winters")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("Holt-Winters 24h forecast over the streamed hourly rollup == batch operator") {
    // The horizon emission shares hwFolded with the fitted-state twin,
    // so this pins the last_h plumbing too (the forecast is the one
    // consumer of the fold that needs the series' final hour).
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val hc = runToMemory(StreamingOps.hourlyCounts(stream), "t_hwf_hc", "complete")
    val got = graft.queries.StreamingBatch.hwFolded(hc)
      .select(col("last_h"), col("st"),
        explode(expr("sequence(1, 24)")).as("h_ahead"))
      .withColumn("target_hod",
        ((col("last_h") + col("h_ahead")) % 24).cast("int"))
      .select(col("h_ahead").cast("int").as("h_ahead"), col("target_hod"),
        round(col("st").getItem(0) + col("h_ahead") * col("st").getItem(1) +
          element_at(col("st"), col("target_hod") + lit(3)), 6).as("forecast"))
      .orderBy("h_ahead").collect().toSeq
    val want = SparkEntry.queries("ts_holt_winters_forecast")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("AR(1) fit+forecast over the streamed per-type hourly rollup == batch operator") {
    // The autoregressive rider on the streamed hourly state (round
    // 12): typeHourlyCounts keeps the calendar axis per type, and the
    // exact-integer ar1Tail is the shared batch definition — equality
    // proves ts_ar1_forecast streaming ≡ batch end-to-end, including
    // the 1e-6 slope/intercept snap feeding the bʰ recursion.
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val hc = runToMemory(StreamingOps.typeHourlyCounts(stream),
      "t_ar1_hc", "complete")
    val got = graft.queries.StreamingBatch.ar1Tail(hc).collect().toSeq
    val want = SparkEntry.queries("ts_ar1_forecast")(spark, sf).collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("multimodal container decode: streaming == batch") {
    // The ingest-side decode pass (round 13): stateless append-mode
    // map over a streamed doc source through the SHARED decodeMetaRow
    // must land exactly on mm_decode_meta's batch emission, CRC/RIFF
    // verification included.
    val docsDir = tempDir("graft_stream_mm")
    graft.Tables.documents(spark, sf).write.mode("overwrite")
      .parquet(docsDir.toString)
    val stream = StreamingOps.readDocuments(spark, docsDir.toString)
    val got = runToMemory(StreamingOps.decodeMeta(stream),
      "t_mm_decode", "append").orderBy("doc_id").collect().toSeq
    val want = SparkEntry.queries("mm_decode_meta")(spark, sf)
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("tokenize-corpus under the trained vocabulary: streaming == batch") {
    // The tokenizer-apply artifact-consumer on incremental arrival
    // (round 13): encode-with-trained-merges over a streamed doc
    // source through the SHARED single-flight vocabulary memo must
    // land exactly on bpe_tokenize_corpus's batch emission — including
    // the twin's single-agg decomposition (sum per occurrence ≡ the
    // batch per-(doc, word) collapse).
    val docsDir = tempDir("graft_stream_docs")
    graft.Tables.documents(spark, sf).write.mode("overwrite")
      .parquet(docsDir.toString)
    val merges = graft.queries.TextPipeline.trainedBpeMerges(spark, sf)
    assert(merges.length === 6, s"expected the 6-merge vocabulary: $merges")
    val stream = StreamingOps.readDocuments(spark, docsDir.toString)
    val got = runToMemory(StreamingOps.tokenizeCorpus(stream, merges),
      "t_bpe_tok", "complete").orderBy("doc_id").collect().toSeq
    val want = SparkEntry.queries("bpe_tokenize_corpus")(spark, sf)
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("flatMapGroupsWithState running totals == batch per-user totals") {
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val mem = runToMemory(StreamingOps.runningTotals(stream).toDF(), "t_state", "update")
    // Update mode may emit a row per key per batch: keep the final one.
    val got = mem.groupBy("user_id").agg(max("n").as("n"))
      .orderBy("user_id").collect().toSeq
    val want = graft.Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    assert(got === want)
  }

  test("transformWithState running totals == legacy state API == batch") {
    // The Spark-4 arbitrary-state API on RocksDB state (its required
    // provider) must land exactly where flatMapGroupsWithState and the
    // batch rollup land. A separate session keeps the RocksDB provider
    // conf out of the other streaming tests.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = StreamingOps.readEvents(s2, srcDir.toString)
    val q = StreamingOps.runningTotalsTws(stream).toDF()
      .writeStream.outputMode("update").format("memory").queryName("t_tws").start()
    q.processAllAvailable()
    q.stop()
    val got = s2.table("t_tws").groupBy("user_id")
      .agg(max("n").as("n"))
      .orderBy("user_id").collect().toSeq
    val want = graft.Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    assert(got === want)
  }

  test("transformWithState rolling median == batch bounded-frame window") {
    // The ≤7-row frame is what makes this window op streamable at all:
    // O(1) state per user. Replay shape: 8 time-sliced files fed one
    // per trigger (mtime-ordered), so arrival respects event time
    // ACROSS triggers; within a trigger the processor sorts the batch.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = graft.Tables.events(spark, sf).withColumn("us", expr("ts DIV 1000"))
    val (loUs, hiUs) = {
      val r = ev.agg(min("us"), max("us")).collect()(0)
      (r.getLong(0), r.getLong(1) + 1)
    }
    val sliceDir = tempDir("graft_stream_slices")
    import java.nio.file.attribute.FileTime
    val width = (hiUs - loUs + 7) / 8
    val staged = (0 until 8).map { i =>
      val stage = tempDir(s"graft_slice_$i")
      ev.filter(col("us") >= loUs + i * width && col("us") < loUs + (i + 1) * width)
        .drop("us").coalesce(1).write.mode("overwrite").parquet(stage.toString)
      // A slice CAN be empty if the fixture's time axis is skewed; fail
      // with the data-shape message, not an opaque Option.get crash.
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(fail(s"time slice $i of events produced no parquet part " +
          "— fixture time distribution changed; rebalance the slice count"))
      val target = java.nio.file.Paths.get(s"$sliceDir/slice_$i.parquet")
      Files.copy(part.toPath, target)
      Files.setLastModifiedTime(target,
        FileTime.fromMillis(System.currentTimeMillis() - 120000 + i * 10000))
      stage
    }
    // Staging + slice dirs hold full event-table copies; drop them when
    // the suite's JVM exits (the Tables.scratch cleanup convention).
    (sliceDir +: staged).foreach { p =>
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(p.toFile)
      }))
    }
    val stream = StreamingOps.readEvents(s2, sliceDir.toString,
      maxFilesPerTrigger = Some(1))
    val q = StreamingOps.rollingMedian(stream).toDF()
      .writeStream.outputMode("append").format("memory").queryName("t_rollmed").start()
    q.processAllAvailable()
    q.stop()
    val got = s2.table("t_rollmed")
      .select("event_id", "user_id", "n_win", "med_lo")
      .orderBy("event_id").collect().toSeq
    val want = SparkEntry.queries("ts_rolling_median")(spark, sf)
      .collect().toSeq
    assert(got.nonEmpty && got === want)
  }

  test("winsorize stream with batch-broadcast cuts == batch operator") {
    // The production split of feat_winsorize: percentile cut points are
    // a BATCH product (yesterday's reference table) broadcast into a
    // static-stream join; the clip is map-side per arriving row; only
    // the per-type rollup keeps state. Equality with the batch operator
    // is exact — decimal sums are order-free, so arrival order (the
    // shuffled srcDir) cannot perturb the result.
    val ev = graft.Tables.eventsTs(spark, sf)
    val cuts = ev.groupBy("event_type").agg(
      round(percentile(col("value"), lit(0.05)), 9).as("p05"),
      round(percentile(col("value"), lit(0.95)), 9).as("p95"))
    val stream = StreamingOps.readEvents(spark, srcDir.toString)
    val got = runToMemory(
      StreamingOps.winsorizeCounts(stream, cuts), "t_winsor", "complete")
      .orderBy("event_type").collect().toSeq
    val want = SparkEntry.queries("feat_winsorize")(spark, sf)
      .collect().toSeq
    assert(got.nonEmpty && got === want)
  }

  test("stream-stream interval join equals the batch join") {
    // Clicks joined to same-user purchases within the preceding hour —
    // the canonical watermarked stream-stream join.
    def side(tpe: String, k: String, t: String, id: String) =
      StreamingOps.readEvents(spark, srcDir.toString)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(k), col("ts_t").as(t), col("event_id").as(id))
        .withWatermark(t, "10 minutes")
    val joined = side("click", "c_user", "c_ts", "c_id")
      .join(side("purchase", "p_user", "p_ts", "p_id"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"))
    val got = runToMemory(joined.select("c_id", "p_id"), "t_ssjoin", "append")
      .orderBy("c_id", "p_id").collect().toSeq
    // Expected side IS the gate query's batch twin — one definition of
    // the interval-join semantics, so an edit to either the gate or
    // this test's streaming side diverges loudly here.
    val want = SparkEntry.queries("stream_stream_join")(spark, sf)
      .collect().toSeq
    assert(got === want)
  }

  test("left-outer stream-stream join emits null matches only after the watermark passes") {
    // The outer variant of the interval join: clicks with NO purchase in
    // the preceding hour must surface with a null match — but streaming
    // can only declare "no match ever" once the watermark has passed the
    // click's whole join window, so the null rows trail the data. The
    // test witnesses exactly that mechanic: after the real files are
    // processed the result still misses the tail's unmatched clicks;
    // two far-future sentinel batches push the watermark forward (the
    // flush trick production pipelines use at stream end), after which
    // the streamed result equals the batch left-outer join exactly.
    val dir = tempDir("graft_stream_loj")
    graft.Tables.events(spark, sf)
      .repartition(4, col("event_id"))
      .write.mode("overwrite").parquet(dir.toString)
    def side(tpe: String, k: String, t: String, id: String) =
      StreamingOps.readEvents(spark, dir.toString)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(k), col("ts_t").as(t), col("event_id").as(id))
        .withWatermark(t, "10 minutes")
    val joined = side("click", "c_user", "c_ts", "c_id")
      .join(side("purchase", "p_user", "p_ts", "p_id"),
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
          col("p_ts") <= col("c_ts"),
        "left_outer")
      .select("c_id", "p_id")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("t_ssloj").start()
    q.processAllAvailable()
    val beforeFlush = spark.table("t_ssloj").count()
    // Sentinels: one click + one purchase for a user that exists nowhere
    // else, 30+ days past the corpus end (2024-03-01, 2024-03-02 UTC).
    def sentinel(n: Int): Unit = {
      import spark.implicits._
      val tsNs = (1709251200L + n * 86400L) * 1000000000L
      Seq((900000L + n, tsNs, -1L, "click", 0.0, "{}"),
        (910000L + n, tsNs, -1L, "purchase", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir.toString)
    }
    sentinel(1); q.processAllAvailable()
    sentinel(2); q.processAllAvailable()
    q.stop()
    val got = spark.table("t_ssloj")
      .filter(col("c_id") < 900000L)
      .orderBy(col("c_id"), col("p_id").asc_nulls_first).collect().toSeq
    val ev = graft.Tables.eventsTs(spark, sf)
    val hourUs = 3600000000L
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("us").as("c_us"), col("event_id").as("c_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("us").as("p_us"), col("event_id").as("p_id"))
    val want = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_us") >= col("c_us") - hourUs && col("p_us") <= col("c_us"),
        "left_outer")
      .select("c_id", "p_id")
      .orderBy(col("c_id"), col("p_id").asc_nulls_first).collect().toSeq
    assert(got.size > beforeFlush,
      "flush sentinels emitted no trailing null-match rows — watermark never passed the tail")
    assert(got === want)
  }

  test("foreachBatch CDC maintenance: streamed 3-batch apply == batch chain") {
    // The streaming side of merge_cdc_chain: CDC batch descriptors
    // arrive as a file stream (one control file per batch, mtime- and
    // path-ordered so maxFilesPerTrigger=1 delivers them in sequence),
    // and a foreachBatch upsert sink applies EACH batch to an external
    // parquet snapshot via the IDENTICAL Relational.cdcApply the batch
    // operator uses — the standard Structured-Streaming MERGE pattern
    // (no native streaming upsert sink exists; foreachBatch + an
    // atomic snapshot swap is the production idiom). The final
    // snapshot rollup must equal the batch operator's 3-chain result
    // row-for-row: streamed incremental maintenance ≡ direct recompute.
    import org.apache.hadoop.fs.Path
    val dir = tempDir("graft_cdc_stream")
    val ctl = dir.resolve("ctl"); Files.createDirectories(ctl)
    val params = Seq(
      (1, 13, 10, 1000, 17, 2000000000L, "N"),
      (2, 19, 7, 500, 23, 4000000000L, "Q"),
      (3, 29, 11, 250, 31, 16000000000L, "R"))
    params.foreach { case (b, dm, um, ua, im, off, st) =>
      val f = ctl.resolve(s"batch$b.json")
      Files.write(f,
        s"""{"delMod":$dm,"updMod":$um,"updAdd":$ua,"insMod":$im,"insOff":$off,"insStatus":"$st"}""".getBytes("UTF-8"))
      assert(f.toFile.setLastModified(1700000000000L + b * 60000L))
    }
    val snapDir = dir.resolve("snap").toString
    graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(snapDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "delMod INT, updMod INT, updAdd INT, insMod INT, insOff BIGINT, insStatus STRING")
    val fs = new Path(snapDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(ctl.toString)
      .writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach { r =>
          val snap = spark.read.parquet(snapDir)
          val next = queries.Relational.cdcApply(snap,
            r.getAs[Int]("delMod"), r.getAs[Int]("updMod"),
            r.getAs[Int]("updAdd"), r.getAs[Int]("insMod"),
            r.getAs[Long]("insOff"), r.getAs[String]("insStatus"))
          // Write-aside + atomic swap: the snapshot being read can't be
          // overwritten in place.
          val tmp = s"$snapDir.next"
          next.write.mode("overwrite").parquet(tmp)
          fs.delete(new Path(snapDir), true)
          assert(fs.rename(new Path(tmp), new Path(snapDir)))
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(snapDir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("o_totalprice")).as("total"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus").collect().toSeq
    val want = SparkEntry.queries("merge_cdc_chain")(spark, sf)
      .collect().toSeq
    assert(got === want)
  }

  test("parquet file sink is exactly-once across stop/restart") {
    // The production sink semantic: the checkpoint (source offsets +
    // sink commit log) must make restarts idempotent — a restart with
    // nothing new appends nothing, and reprocessing after new data
    // arrives emits each input row exactly once, ever.
    val ev = graft.Tables.events(spark, sf)
    val srcDir2 = tempDir("graft_restart_src")
    val outDir = tempDir("graft_restart_out")
    val ckpt = tempDir("graft_restart_ckpt")
    def addFile(name: String, filter: org.apache.spark.sql.Column): Long = {
      val stage = tempDir("graft_restart_stage")
      val part = ev.filter(filter)
      part.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val f = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$srcDir2/$name"))
      part.count()
    }
    def runOnce(): Unit = {
      val q = StreamingOps.readEvents(spark, srcDir2.toString)
        .select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
    val n1 = addFile("a.parquet", col("event_id") % 2 === 0)
    runOnce()
    assert(spark.read.parquet(outDir.toString).count() === n1)
    // Restart with no new input: the commit log must prevent re-emission.
    runOnce()
    assert(spark.read.parquet(outDir.toString).count() === n1)
    // New data after restart: exactly the delta lands, nothing replays.
    val n2 = addFile("b.parquet", col("event_id") % 2 === 1)
    runOnce()
    val out = spark.read.parquet(outDir.toString)
    assert(out.count() === n1 + n2)
    assert(out.select("event_id").distinct().count() === n1 + n2,
      "a row was emitted more than once across restarts")
  }

  test("late data beyond the watermark is dropped") {
    // Three files, one per trigger: file A carries hours 10 and 23
    // (advancing event time to 23:00), file B is a bridge (observed:
    // Spark applies the advanced watermark starting one batch AFTER the
    // advancing batch), file C replays hour 10 — far beyond the
    // 1-minute watermark by then, so it must be dropped in append mode.
    val lateDir = tempDir("graft_stream_late")
    val spark2 = spark
    import spark2.implicits._
    def mkRow(id: Long, hour: Int, minute: Int): (Long, Long, Long, String, Double, String) = {
      val us = (java.time.Instant.parse("2024-06-01T00:00:00Z").getEpochSecond * 1000000L) +
        (hour * 3600L + minute * 60L) * 1000000L
      (id, us * 1000L, id % 3, "click", 1.0, "{}")
    }
    val files = Seq(
      "a.parquet" -> Seq(mkRow(1, 10, 0), mkRow(2, 10, 30), mkRow(3, 23, 0)),
      "b.parquet" -> Seq(mkRow(4, 22, 0)),  // bridge batch
      "c.parquet" -> Seq(mkRow(5, 10, 31))) // 12.5h late → dropped
    val srcFlat = tempDir("graft_stream_late_flat")
    import java.nio.file.attribute.FileTime
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val sub = s"$lateDir/$name.dir"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(sub)
      val part = new java.io.File(sub).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = java.nio.file.Paths.get(s"$srcFlat/$name")
      Files.copy(part.toPath, target)
      // FileStreamSource orders by modification time: force a < b < c.
      Files.setLastModifiedTime(target,
        FileTime.fromMillis(System.currentTimeMillis() - 60000 + i * 10000))
    }
    val stream = StreamingOps.readEvents(spark, srcFlat.toString, maxFilesPerTrigger = Some(1))
    val got = runToMemory(
      StreamingOps.tumblingCounts(stream, watermark = "1 minute"), "t_late", "append")
    // Hour-10 window closed once the watermark reached 22:59; the late
    // hour-10 event from file c must not appear: count stays 2.
    val hour10 = got.filter(col("hour_start") === lit("2024-06-01 10:00:00").cast("timestamp"))
      .select("n").collect()
    assert(hour10.length === 1 && hour10(0).getLong(0) === 2L,
      s"late row leaked into the closed window: ${got.collect().mkString(",")}")
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.ArtifactMemo
import graft.SparkEntry.keyed
import graft.functions.Glob

/** Relational core (SURVEY.md §2a/§2b/§2d/§2f): scans, projections,
  * filters, aggregations, sorts, set ops. All built-in Catalyst-optimized
  * operators — predicate pushdown / column pruning / partial (map-side)
  * aggregation come for free because the plans are declarative
  * (SURVEY.md §4b). Every query ends in an ORDER BY on a unique key set
  * and uses the Tables.dsum/davg numeric policy (SURVEY.md §7).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** TPC-H-Q1-shaped flagship: scan → pushed filter → partial/final hash
    * agg → sort. Money sums via exact DECIMAL (order-free); avgs as
    * rounded doubles over exact decimal sums (SURVEY.md §7.1).
    */
  /** One CDC batch against a snapshot — merge_cdc_chain's per-batch
    * apply, package-visible so the StreamingSpec foreachBatch twin
    * drives the IDENTICAL logic through a streaming upsert sink.
    * Delete anti-join + update left-join override share one
    * o_orderkey shuffle; inserts union in at disjoint offset keys.
    */
  private[graft] def cdcApply(snap: DataFrame, delMod: Int, updMod: Int,
      updAdd: Int, insMod: Int, insOff: Long, insStatus: String): DataFrame = {
    val delKeys = snap.filter(col("o_orderkey") % delMod === 0)
      .select("o_orderkey")
    val upd = snap
      .filter(col("o_orderkey") % updMod === 0 &&
        col("o_orderkey") % delMod =!= 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + updAdd).as("new_price"))
    val ins = snap.filter(col("o_orderkey") % insMod === 0)
      .select((col("o_orderkey") + insOff).as("o_orderkey"),
        lit(insStatus).as("o_orderstatus"), col("o_totalprice"))
    snap.join(delKeys, Seq("o_orderkey"), "left_anti")
      .join(upd, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"),
        coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"))
      .unionByName(ins)
  }

  def q1(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-06-30 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q1Oracle: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${oSum("l_quantity")} AS sum_qty,
      |  ${oSum("l_extendedprice")} AS sum_base_price,
      |  ${oSum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
      |  ${oSum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
      |  ${oAvg("l_quantity")} AS avg_qty,
      |  ${oAvg("l_extendedprice")} AS avg_price,
      |  ${oAvg("l_discount")} AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Glob applied to part.p_type — the one genuinely reusable reference
    * semantic (hh glob matching). Same compiled regex goes to both
    * engines so Spark rlike and DuckDB regexp_matches agree.
    */
  private val typeGlobRegex = Glob.toRegex("{STANDARD,SMALL}*")

  /** One-time scratch layouts (partitioned, clustered and deliberately
    * damaged copies of a tier's tables), each written once per (app,
    * tier) through `ArtifactMemo.written`: a layout is a pure function
    * of the tier, the app-unique scratch path cannot be a stale
    * leftover, and a write that throws leaves the layout unwritten, so
    * the next consumer writes it again instead of reusing a partial dir.
    */
  private def partitionedOrders(s: SparkSession, d: String): String =
    ArtifactMemo.written(s, "part_orders", d) { tmp =>
      orders(s, d).withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
    }

  /** Range-clustered lineitem for the 1-D data-skipping witness. Small
    * parquet blocks force many row groups so skipping granularity is
    * visible even at test scale. Clusters on a DATE key: parquet
    * row-group skipping evaluates date stats, while TIMESTAMP_NTZ
    * stats are pushed but not evaluated by the reader (verified
    * empirically — an NTZ-keyed layout skips nothing).
    */
  private def sortedLineitem(s: SparkSession, d: String): String =
    ArtifactMemo.written(s, "sorted_li", d) { tmp =>
      lineitem(s, d)
        .withColumn("ship_date", to_date(col("l_shipdate")))
        .repartitionByRange(8, col("ship_date"), col("l_orderkey"))
        .sortWithinPartitions("ship_date", "l_orderkey")
        .write.mode("overwrite")
        .option("parquet.block.size", 131072)
        .parquet(tmp)
    }

  /** Randomly-scattered lineitem with a parquet BLOOM FILTER on
    * l_orderkey — the point-lookup complement of the clustered layouts:
    * on a shuffled high-cardinality key, row-group min/max spans the
    * whole domain (stats prune nothing) and dictionary encoding is
    * explicitly disabled on the column (at real scale a 10⁹-value
    * column overflows dictionaries anyway), so the bloom filter is the
    * ONLY thing standing between a point probe and a full-table read.
    * Small blocks make the granularity visible at test scale.
    */
  private def bloomLineitem(s: SparkSession, d: String): String =
    ArtifactMemo.written(s, "bloom_li", d) { tmp =>
      lineitem(s, d)
        .repartition(8, col("l_partkey")) // scatter orderkeys across files
        .write.mode("overwrite")
        .option("parquet.block.size", 131072)
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        // NDV sized to the ROW GROUP (~1-2k rows at 128 KiB), not the
        // table: parquet allocates one bloom per row group per column,
        // so a table-wide 1e6 NDV made every 128 KiB group carry a
        // ~1 MiB bloom — the "skipping" read was dominated by bloom
        // bytes (11.7s warm at the 4× tier vs 0.4s with right-sized
        // ~4 KiB blooms). Constant rows-per-group means this stays
        // correct at every tier.
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "4096")
        .option("parquet.enable.dictionary#l_orderkey", "false")
        .parquet(tmp)
    }

  /** Morton (z-order) bit-spread of the low 16 bits: bit i of the input
    * lands at position 2i. Pure column arithmetic — shifts and masks —
    * so the whole z-value computation stays inside codegen.
    */
  private[graft] def spread16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order-clustered lineitem layout: rows sorted by the interleaved
    * (l_partkey, l_suppkey) Morton code, so every parquet row group
    * covers a narrow range in BOTH dimensions at once — the multi-column
    * generalization of [[sortedLineitem]]'s 1-D clustering. The 16-bit
    * truncation only affects clustering quality (keys beyond 2^16 alias
    * a cell), never correctness: predicates stay on the original
    * columns. Same one-time-write contract as the other layouts.
    */
  private def zorderLineitem(s: SparkSession, d: String): String =
    ArtifactMemo.written(s, "zorder_li", d) { tmp =>
      lineitem(s, d)
        .withColumn("z",
          spread16(col("l_partkey")).bitwiseOR(shiftleft(spread16(col("l_suppkey")), 1)))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .option("parquet.block.size", 131072)
        .parquet(tmp)
    }

  /** Lineitem re-written as 16 parquet files — the multi-file table
    * layout every production estate actually has (a 100 TB table is
    * tens of thousands of files; scan parallelism comes from files as
    * much as from intra-file splits), which the driver's one-file-per-
    * table testdata never exercises. Round-robin repartition gives 16
    * near-equal files. Same one-time-write contract as the other
    * layouts, so Bench's timed repeats measure only the many-file read.
    */
  private def multifileLineitem(s: SparkSession, d: String): String =
    ArtifactMemo.written(s, "multifile_li", d) { tmp =>
      lineitem(s, d).repartition(16)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Pre-execution physical plan with the AQE wrapper peeled — the tree
    * whose node instances (and metric accumulators) the first adaptive
    * stage executes.
    */
  private def initialPlanOf(df: DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  /** Runtime data-skipping gate, enforced ONCE per layout per JVM
    * (`ArtifactMemo.once` on the layout's path): the first consumer
    * executes the probe and require()s the scan's numOutputRows metric
    * under half the table (skipped below a 10k-row floor where
    * row-group granularity cannot show); a failed require leaves the
    * gate open for the next consumer. Later consumers — Bench's timed
    * repeats after its untimed warm-up — return the lazy result
    * directly, so min-of-N times ONLY the clustered read, never the
    * probe (BASELINE.md write policy).
    */
  private def skippingGate(res: DataFrame, layout: String, tag: String)(
      totalDf: => DataFrame): DataFrame = {
    ArtifactMemo.once(layout + "#skipping") {
      res.collect()
      val scanned = initialPlanOf(res).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
      val totalRows = totalDf.count()
      require(scanned > 0 && (totalRows < 10000 || scanned * 2 < totalRows),
        s"$tag skipping ineffective: scan emitted $scanned of $totalRows rows")
    }
    res
  }

  // ---------------------------------------------------------------- 2a scans
  val queries: Map[String, Q] = keyed(
    "agg_groupby" -> (q1 _),

    "scan_parquet" -> ((s, d) =>
      part(s, d).orderBy("p_partkey")),

    "scan_projection_pushdown" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .filter(col("l_orderkey") % 10 === 0)
        .orderBy("l_orderkey", "l_linenumber")),

    "scan_json_props" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .orderBy("event_id")),

    "scan_corrupt_tolerant" -> { (s, d) =>
      // Estate reality at 100 TB: among millions of files some are torn
      // (failed writer, partial upload). A pipeline that dies on the
      // first bad footer can't finish a day; ignoreCorruptFiles degrades
      // the bad split to a logged skip. Witnessed for real: a valid
      // nation copy plus a planted garbage .parquet in one directory —
      // the read must return exactly the valid rows.
      val tmp = ArtifactMemo.written(s, "corrupt_scan", d) { t =>
        nation(s, d).coalesce(1).write.mode("overwrite").parquet(t)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(t, "part-torn.snappy.parquet"),
          "these bytes are not a parquet footer".getBytes("UTF-8"))
      }
      s.read.option("ignoreCorruptFiles", "true").parquet(tmp)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    "scan_malformed_rows" -> { (s, d) =>
      // Row-level tolerance, the complement of scan_corrupt_tolerant's
      // file-level skip: a JSONL file where every 5th record is garbage
      // must parse PERMISSIVEly — good rows land in columns, bad rows
      // land whole in the corrupt-record column for quarantine instead
      // of killing the job. Bad rows group under key -1; the oracle
      // reconstructs both populations from the source table.
      val tmp = ArtifactMemo.written(s, "malformed_rows", d) { t =>
        val n = nation(s, d)
        n.filter(col("n_nationkey") % 5 =!= 0)
          .select(to_json(struct(col("n_nationkey"), col("n_name"),
            col("n_regionkey"))).as("value"))
          .unionByName(n.filter(col("n_nationkey") % 5 === 0)
            .select(concat(lit("{torn json line "),
              col("n_nationkey").cast(StringType)).as("value")))
          .coalesce(1).write.mode("overwrite").text(t)
      }
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType),
        StructField("n_name", StringType),
        StructField("n_regionkey", LongType),
        StructField("_bad", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(tmp)
        .groupBy(when(col("_bad").isNotNull, lit(-1L))
          .otherwise(col("n_regionkey")).as("region_or_bad"))
        .agg(count(lit(1)).as("n"))
        .orderBy("region_or_bad")
    },

    "sink_csv_roundtrip" -> { (s, d) =>
      // Write a projection to CSV, re-read with an explicit schema, and
      // aggregate — proves the CSV connector both directions. The
      // projection is int/string only (CSV-lossless), so the oracle is
      // the same aggregate straight off the nation table: any round-trip
      // corruption shows up as a value mismatch.
      val tmp = scratch(s, "csv_rt", d)
      nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      s.read.schema(schema).option("header", "true").csv(tmp)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), min("n_name").as("first_name"))
        .orderBy("n_regionkey")
    },

    "sink_json_roundtrip" -> { (s, d) =>
      // JSON connector both directions; the oracle checks the aggregate
      // against the source table directly (roundtrip must be lossless).
      val tmp = scratch(s, "json_rt", d)
      customer(s, d).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").json(tmp)
      val schema = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType)))
      s.read.schema(schema).json(tmp)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"),
          min(col("c_name")).as("first_name"))
        .orderBy("c_mktsegment")
    },

    "sink_partition_overwrite" -> { (s, d) =>
      // Dynamic partition overwrite — the estate's daily-reload
      // primitive: INSERT OVERWRITE replaces exactly the partitions
      // present in the incoming batch and leaves every other
      // partition's FILES untouched (static overwrite clobbers the
      // whole table; append duplicates). Seeded fresh each repeat
      // (roundtrip kind): the full year-partitioned layout, then a
      // 1996-only batch with doubled totals written with
      // partitionOverwriteMode=dynamic. The require pins the untouched
      // partitions by file identity (part filenames carry task UUIDs,
      // so any rewrite changes them); the gate then proves the value
      // semantics — 1996 totals doubled, every other year identical to
      // source. At 100 TB this is the only overwrite shape that scales:
      // work and commit cost are proportional to the RELOADED
      // partitions, never the table.
      val tmp = scratch(s, "part_overwrite", d)
      val o = orders(s, d).withColumn("yr", year(col("o_orderdate")))
        .select(col("o_orderkey"), col("o_totalprice"), col("yr"))
      o.write.partitionBy("yr").mode("overwrite").parquet(tmp)
      def lsNames(sub: String): Set[String] = {
        val p = new org.apache.hadoop.fs.Path(s"$tmp/$sub")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(p)) Set.empty
        else fs.listStatus(p).map(_.getPath.getName).toSet
      }
      val before = lsNames("yr=1995")
      o.filter(col("yr") === 1996)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.partitionBy("yr").option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(tmp)
      val after = lsNames("yr=1995")
      require(before.nonEmpty && before == after,
        s"sink_partition_overwrite: untouched partition rewritten " +
          s"(before=${before.size} files, after=${after.size})")
      s.read.parquet(tmp)
        .groupBy("yr")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("yr")
    },

    "sink_orc_roundtrip" -> { (s, d) =>
      // ORC connector both directions, same lossless-aggregate oracle.
      val tmp = scratch(s, "orc_rt", d)
      supplier(s, d).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n"), dsum(col("s_acctbal")).as("bal"))
        .orderBy("s_nationkey")
    },

    "scan_schema_evolution" -> { (s, d) =>
      // Schema drift — the standing reality of a 100 TB estate where
      // old files predate new columns. Two generations are written
      // with different-but-overlapping schemas; mergeSchema reconciles
      // them at read (old-generation rows null-fill the new column),
      // and the aggregate proves rows from BOTH generations and the
      // drifted column survive the merge. The oracle reconstructs the
      // same two generations from the source table with UNION ALL.
      val tmp = scratch(s, "schevo", d)
      val docs = documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$tmp/gen=0")
      docs.filter(col("doc_id") % 2 === 1).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          count(col("n_chars")).as("n_with_chars"),
          sum(coalesce(col("n_chars"), lit(0))).cast(LongType).as("chars"))
        .orderBy("lang")
    },

    "agg_approx_percentile" -> ((s, d) =>
      // Sketch family, bar-flag pattern (cf. agg_approx_distinct): the
      // digest behind approx_percentile is engine-specific, so emit the
      // EXACT p50/p95 plus a flag that the sketch landed within 1% of
      // them; the oracle pins the exact values and TRUE. The sketch is
      // the 100 TB path — exact percentile materializes every value per
      // group, the sketch merges bounded summaries map-side (accuracy
      // 10000 → rank error ≤ 0.01%, far inside the 1% value bar here).
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile(o_totalprice, array(0.5D, 0.95D))").as("exact"),
          expr("approx_percentile(o_totalprice, array(0.5D, 0.95D), 10000)").as("apx"))
        .select(col("o_orderstatus"),
          round(element_at(col("exact"), 1), 4).as("p50"),
          round(element_at(col("exact"), 2), 4).as("p95"),
          (abs(element_at(col("apx"), 1) - element_at(col("exact"), 1)) <=
            element_at(col("exact"), 1) * 0.01 &&
            abs(element_at(col("apx"), 2) - element_at(col("exact"), 2)) <=
              element_at(col("exact"), 2) * 0.01).as("approx_within_1pct"))
        .orderBy("o_orderstatus")),

    "agg_sketch_union" -> { (s, d) =>
      // Re-aggregatable sketch pattern: per-(event_type, hour) partial
      // HLL sketches (DataSketches hll_sketch_agg), merged per
      // event_type with hll_union_agg — the 100 TB shape: bounded
      // sketch state flows through BOTH aggregation levels (a daily
      // rollup can be re-merged into monthly without touching raw
      // rows), and raw user ids never cross the network twice. HLL
      // register state is order-independent (max per register), so the
      // estimate is deterministic; emitted via the bar-flag pattern
      // (cf. agg_approx_percentile): exact distinct + within-2% flag,
      // oracle pins exact + TRUE.
      val ev = eventsTs(s, d)
      val partial = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts_t")).as("hr"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = partial.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.02).as("sketch_within_2pct"))
        .orderBy("event_type")
    },

    "agg_bitmap_distinct" -> { (s, d) =>
      // The EXACT counterpart of agg_sketch_union: re-aggregatable
      // distinct via bitmaps (Spark's roaring-style bitmap_* builtins).
      // Per-(event_type, day, bucket) partial bitmaps OR-merge per
      // (event_type, bucket) — the 100 TB rollup shape where daily
      // bitmap partials re-merge into monthly EXACT distincts without
      // re-reading raw rows, and user ids cross the network once, as
      // bitmap positions. Bitmap OR is order-free, so unlike a double
      // sum this is deterministic at any parallelism; the oracle is the
      // plain exact COUNT(DISTINCT) — equality proves the two-level
      // bitmap pipeline loses nothing.
      val ev = eventsTs(s, d)
        .select(col("event_type"),
          date_trunc("day", col("ts_t")).as("day"),
          expr("bitmap_bucket_number(user_id)").as("bkt"),
          expr("bitmap_bit_position(user_id)").as("pos"))
      ev.groupBy("event_type", "day", "bkt")
        .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        .groupBy("event_type", "bkt")
        .agg(expr("bitmap_count(bitmap_or_agg(bm))").as("n_bucket"))
        .groupBy("event_type")
        .agg(sum(col("n_bucket")).as("n_users"))
        .orderBy("event_type")
    },

    "scan_partition_pruning" -> { (s, d) =>
      // The single biggest 100 TB lever: a date-partitioned layout plus
      // a partition-key predicate must scan ONE directory, not the whole
      // table. Writes orders partitioned by year(o_orderdate) to
      // scratch, re-reads with a single-year filter, and require()s that
      // every file the scan selected lives under o_year=1995 — so every
      // Verify/Bench run re-witnesses the pruning, not just the test
      // suite. PlanSpec additionally pins PartitionFilters on the scan
      // node. The aggregate is oracled against the unpartitioned source
      // with the same year predicate.
      val pruned = s.read.parquet(partitionedOrders(s, d))
        .filter(col("o_year") === 1995)
      // Dataset.inputFiles lists the relation UNPRUNED; the pruning
      // evidence lives on the physical scan's selectedPartitions (under
      // the AQE wrapper). 7 year-partitions exist; exactly one may
      // survive.
      val scans = initialPlanOf(pruned).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val nParts = scans.map(_.selectedPartitions.partitionCount).sum
      val selected = scans.flatMap(_.selectedPartitions.toPartitionArray)
        .map(_.filePath.toString)
      require(nParts == 1 && selected.nonEmpty &&
          selected.forall(_.contains("o_year=1995")),
        s"partition pruning failed; $nParts partitions selected: " +
          selected.take(3).mkString(","))
      pruned.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    "scan_sorted_skipping" -> { (s, d) =>
      // Data skipping via range-clustered layout — the unpartitionable
      // complement of scan_partition_pruning: when the predicate column
      // has too many values to be a directory key (timestamps, ids),
      // you CLUSTER the table on it instead, so every parquet row
      // group's min/max stats cover a narrow slice and the pushed-down
      // range predicate skips whole groups inside the reader. At 100 TB
      // this is the difference between reading ~7% and 100% of the
      // table for a time-range query. Witnessed for real: the probe
      // executes once and require()s the scan's numOutputRows metric —
      // rows that survived row-group pruning — stays under half the
      // table; the aggregate is oracled against the unclustered source,
      // so the gate also proves re-layout is semantics-free.
      val lo = lit("1996-01-01").cast("date")
      val hi = lit("1996-06-30").cast("date")
      val layout = sortedLineitem(s, d)
      val res = s.read.parquet(layout)
        .filter(col("ship_date").between(lo, hi))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
      // Metric read off the INITIAL plan: AQE's final plan hides the
      // scan inside a materialized QueryStageExec, but the first stage
      // executes these same node instances (see skippingGate).
      skippingGate(res, layout, "row-group")(lineitem(s, d))
    },

    "scan_zorder_skipping" -> { (s, d) =>
      // Multi-dimensional data skipping — the z-order generalization of
      // scan_sorted_skipping: a 2-D box predicate (part range × supplier
      // range) over the Morton-clustered layout prunes row groups on
      // BOTH columns' stats simultaneously; 1-D clustering can serve
      // only one of the two dimensions. Same runtime metric gate: the
      // probe executes once and the scan must emit under half the
      // table; the aggregate is oracled against the unclustered source.
      // Size floor matters here: at sf0.001 the box spans a third of
      // the tiny key space (TPC-H correlates partkey/suppkey), so
      // clustering granularity cannot show — the witness tier is
      // sf0.01+ where the box is <6% per dimension.
      val layout = zorderLineitem(s, d)
      val res = s.read.parquet(layout)
        .filter(col("l_partkey").between(20, 119) &&
          col("l_suppkey").between(1, 6))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
      skippingGate(res, layout, "z-order")(lineitem(s, d))
    },

    "scan_bloom_skipping" -> { (s, d) =>
      // Point-lookup data skipping on a key you CAN'T cluster by — the
      // third member of the skipping triad (partition dirs → range
      // cluster → bloom): when the table is laid out for some other
      // access path, an orderkey probe finds row-group min/max spanning
      // the whole domain and (dictionary disabled, as high-cardinality
      // columns are at real scale) the only row groups the reader can
      // drop are those whose BLOOM FILTER proves the key absent. At
      // 100 TB this turns needle-in-haystack lookups from a full-table
      // read into a few row groups of false positives. Same runtime
      // gate as the other skipping witnesses: the probe executes once
      // and the scan must emit well under half the table; the row
      // output is oracled against the unscattered source, so the gate
      // also proves the bloom-annotated rewrite is semantics-free.
      val layout = bloomLineitem(s, d)
      val res = s.read.parquet(layout)
        .filter(col("l_orderkey").isin(1L, 32L, 69L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
        // Sort by ALL output columns: the synthetic lineitem does not
        // enforce (orderkey, linenumber) uniqueness, so anything less
        // is a partial order and the oracle compare sees tie shuffles.
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      skippingGate(res, layout, "bloom")(lineitem(s, d))
    },

    "scan_dynamic_pruning" -> { (s, d) =>
      // Dynamic partition pruning — the JOIN-time analogue of
      // scan_partition_pruning: the fact side is partitioned by year,
      // the pruning year is only known after filtering a dimension
      // (region → one derived year), so Catalyst must inject a
      // DynamicPruningSubquery into the fact scan at planning and skip
      // 6 of 7 year directories at runtime. At 100 TB this is the lever
      // that turns dim-filtered fact joins from full scans into
      // single-partition reads. PlanSpec pins the dynamicpruning
      // expression on the scan node.
      val fact = s.read.parquet(partitionedOrders(s, d))
      // EUROPE → r_regionkey 3 → derived year 1995: one dim row, known
      // only at runtime from the dimension scan.
      val dim = region(s, d)
        .filter(col("r_name") === "EUROPE")
        .select((lit(1992) + col("r_regionkey")).as("y"))
      fact.join(broadcast(dim), fact("o_year") === dim("y"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    },

    "scan_multifile" -> { (s, d) =>
      // Many-file scan witness — a 100 TB table is tens of thousands of
      // parquet files, and the driver's one-file-per-table testdata
      // never exercises that read path in the timed plan. Re-read the
      // 16-file lineitem layout and require() the planner actually saw
      // all 16 files AND split them into multiple parallel tasks; the
      // aggregate is oracled against the single-file source, so the
      // hash gate proves the re-layout (and split planning over it) is
      // semantics-free. File-count evidence comes from the scan node's
      // selectedPartitions (static planning truth); parallelism from
      // the scan RDD's partition count (file-bin packing respects
      // maxPartitionBytes/openCostInBytes — the knobs that size tasks
      // at estate scale).
      val layout = multifileLineitem(s, d)
      val df = s.read.parquet(layout)
      val scans = initialPlanOf(df).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val nFiles = scans.map(_.selectedPartitions.toPartitionArray.length).sum
      val nSplits = scans.map(_.inputRDD.getNumPartitions).sum
      require(nFiles == 16 && nSplits > 1,
        s"multi-file scan planned $nFiles files into $nSplits splits " +
          "(want 16 files, >1 parallel splits)")
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    "join_bucketed_colocated" -> { (s, d) =>
      // Bucketing: the co-location contract that removes the shuffle
      // from every future join on the key — at 100 TB you bucket the
      // fact ONCE and every daily join stops paying the exchange. Both
      // sides are written bucketed(8) + sorted on the join key as
      // external tables (explicit path → no warehouse dependence,
      // app-suffixed names → concurrent sessions never collide), then
      // merge-joined: the require() proves the join subplan has NO
      // shuffle exchange — the 8 sorted buckets stream straight into
      // the SortMergeJoin. Oracled against the same join on the raw
      // (unbucketed) tables.
      val app = s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      val (to, tc) = (s"graft_orders_bkt_$app", s"graft_cust_bkt_$app")
      orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").format("parquet")
        .option("path", scratch(s, "bkt_orders", d))
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(to)
      customer(s, d).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").format("parquet")
        .option("path", scratch(s, "bkt_cust", d))
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(tc)
      // hint("merge") keeps the witness an SMJ even where the dim is
      // broadcast-sized; co-located buckets make that SMJ exchange-free.
      val joined = s.table(to)
        .join(s.table(tc).hint("merge"), col("o_custkey") === col("c_custkey"))
      // Assert on plan NODE TYPES, not plan-string matching: collect the
      // actual SortMergeJoinExec / ShuffleExchangeExec nodes under the
      // AQE wrapper's initial plan.
      val initial = initialPlanOf(joined)
      val smjs = initial.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      val shuffles = initial.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      require(smjs.nonEmpty && shuffles.isEmpty,
        s"bucketed join is not an exchange-free SMJ " +
          s"(${smjs.size} SMJ, ${shuffles.size} shuffle):\n$initial")
      val result = joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
      // Catalog hygiene: the result plan above is fully analyzed and its
      // relations pin the external files directly, so the catalog
      // entries can be dropped now — a long-lived shared session doesn't
      // accumulate graft_*_bkt_* tables. DROP on an external table
      // leaves the scratch data in place (cleaned by the shutdown hook).
      Seq(to, tc).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      result
    },

    // ---------------------------------------------------- 2b project/filter
    "project_compute" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("double").as("revenue"),
          (col("l_quantity") * 2 + 1).as("qty_scaled"),
          concat_ws("|", col("l_returnflag"), col("l_linestatus")).as("flags"))
        .filter(col("l_orderkey") % 20 === 0)
        .orderBy("l_orderkey", "l_linenumber")),

    "filter_predicates" -> ((s, d) =>
      orders(s, d)
        .filter((col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice").between(50000, 200000) &&
          col("o_orderdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
          !(col("o_orderpriority") === "5-LOW")) ||
          col("o_totalprice") < 1000)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")),

    "filter_like" -> ((s, d) =>
      part(s, d)
        .filter(col("p_name").like("%ink%") || col("p_brand").like("Brand#1%"))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")),

    "filter_rlike_glob" -> ((s, d) =>
      part(s, d)
        .filter(col("p_type").rlike(typeGlobRegex))
        .select("p_partkey", "p_type")
        .orderBy("p_partkey")),

    "conditional_case" -> ((s, d) =>
      customer(s, d)
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 3000, "low")
            .when(col("c_acctbal") < 7000, "mid")
            .otherwise("high").as("band"))
        .groupBy("band").agg(count(lit(1)).as("n"))
        .orderBy("band")),

    // ------------------------------------------------------------- 2d aggs
    "agg_global" -> ((s, d) =>
      lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))),

    "agg_having" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spend"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")),

    "agg_count_distinct" -> ((s, d) =>
      events(s, d)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    "agg_bool" -> ((s, d) =>
      // Boolean aggregation (every/any) — the data-quality assertion
      // primitive: "do ALL rows satisfy X, does ANY row violate Y" as a
      // per-group rollup; partials are single booleans, so the shuffle
      // carries one bit per (group, predicate).
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          bool_and(col("o_totalprice") > 850).as("all_over_850"),
          bool_or(col("o_totalprice") > 400000).as("any_over_400k"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    "agg_entropy" -> { (s, d) =>
      // Shannon entropy of each user's event-type distribution — the
      // behavioral-diversity metric (its corpus twin scores token
      // diversity per document). Two exchanges BY CHOICE: the first
      // carries map-side PARTIAL (user, type) counts — the big
      // reduction at 100 TB — and the second re-clusters only the tiny
      // per-(user, type) count table by user for the window + rollup.
      // A single-exchange form exists (repartition raw events by user)
      // but would move every event row instead of the counts. round(6)
      // absorbs the sub-ulp difference in double summation order
      // across engines (5 terms, error ~1e-15).
      val cnt = events(s, d)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      cnt
        .withColumn("tot", sum(col("n")).over(w).cast(DoubleType))
        .groupBy("user_id")
        .agg(sum(col("n")).as("n_events"),
          // + 0.0 normalizes IEEE -0.0 (a zero-entropy group) to +0.0 —
          // mirrored in the oracle, where DuckDB's round keeps the sign.
          (round(-sum((col("n") / col("tot")) * log(col("n") / col("tot"))), 6) + lit(0.0))
            .as("entropy"))
        .orderBy("user_id")
    },

    "agg_heavy_hitters" -> { (s, d) =>
      // approx_top_k heavy hitters — the sketch that finds hot keys
      // (skew detection, trending items) in one pass with bounded
      // state. Oracled on its EXACTNESS DOMAIN: 5 distinct event types
      // < maxItemsTracked, so the sketch counts are provably exact and
      // DuckDB's exact GROUP BY reproduces them (same contract as
      // agg_approx_percentile's exactness gate).
      events(s, d)
        .agg(expr("approx_top_k(event_type, 10)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("n"))
        .orderBy(desc("n"), col("item"))
    },

    "agg_topk_merge" -> { (s, d) =>
      // The re-aggregatable form: per-segment approx_top_k_accumulate
      // sketches combined then estimated — merge_incremental_agg's
      // story for sketch state (daily heavy-hitter sketches fold into
      // the monthly answer without re-reading history). Same exactness
      // domain, so the oracle is the direct exact rollup.
      val cutUs = 1705276800000000L
      val ev = eventsTs(s, d)
      def seg(f: DataFrame) =
        f.agg(expr("approx_top_k_accumulate(event_type, 10)").as("acc"))
      seg(ev.filter(col("us") < cutUs))
        .unionByName(seg(ev.filter(col("us") >= cutUs)))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(acc), 10)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("n"))
        .orderBy(desc("n"), col("item"))
    },

    "agg_max_by" -> ((s, d) =>
      // argmax/argmin: which row holds the extreme, not the extreme
      // itself — one shuffle with tiny per-group state (the running
      // best pair), vs the window-rank form that materializes every
      // row's rank. Ordering key is a (price, orderkey) struct so ties
      // break deterministically — bare max_by on a tied price column
      // is nondeterministic under parallel aggregation.
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("top_orderkey"),
          max(col("o_totalprice")).as("top_price"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("bottom_orderkey"),
          min(col("o_totalprice")).as("bottom_price"))
        .orderBy("o_orderpriority")),

    "agg_approx_distinct" -> ((s, d) =>
      // The HLL sketch value is engine-specific, so the oracle can't
      // match it directly; instead emit the exact distinct count (oracle
      // value-matches it) plus a computed within-5%-of-exact flag the
      // oracle pins to TRUE — the hash gate then verifies the sketch's
      // accuracy claim, not just a row count. Raw accuracy additionally
      // asserted in PipelineSpec.
      events(s, d)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id")).as("approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast(DoubleType) / col("n_exact") <= 0.05)
            .as("approx_within_5pct"))
        .orderBy("event_type")),

    "agg_hll_intersect" -> { (s, d) =>
      // Sketch-algebra audience overlap: |A∩B| via inclusion-exclusion
      // over HLL sketches — est(A) + est(B) − est(A∪B) — the only
      // intersection HLLs support (they union natively but cannot
      // intersect), and the dashboard shape when cohorts are sketched
      // separately and re-scanning 100 TB per pair is off the table.
      // Cohorts: customers with an URGENT order vs with a HIGH order
      // (76% true overlap — a genuine partial intersection, not a
      // degenerate identical-set pair). The three sketches build in ONE
      // scan via null-skipping conditional columns (HLL ignores nulls),
      // map-side partials only. rsd = 0.01: inclusion-exclusion
      // compounds THREE sketch errors against the smaller intersection
      // (worst case ~(σ·(|A|+|B|+|A∪B|))/|A∩B| ≈ 3.6% here), so the
      // default 5% sketch would not survive a 10% flag bar — the tight
      // sketch keeps the bar honest. Exact counts exist only to pin the
      // flag (the gate branch, as in agg_approx_distinct); production
      // is the sketch branch alone.
      val o = orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_custkey"),
          (col("o_orderpriority") === "1-URGENT").as("ia"),
          (col("o_orderpriority") === "2-HIGH").as("ib"))
      val est = o.agg(
        approx_count_distinct(when(col("ia"), col("o_custkey")), 0.01).as("ea"),
        approx_count_distinct(when(col("ib"), col("o_custkey")), 0.01).as("eb"),
        approx_count_distinct(col("o_custkey"), 0.01).as("eu"))
      val exact = o.groupBy("o_custkey")
        .agg(max(col("ia")).as("va"), max(col("ib")).as("vb"))
        .agg(
          sum(when(col("va"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("vb"), 1L).otherwise(0L)).as("n_b"),
          count(lit(1)).as("n_union"),
          sum(when(col("va") && col("vb"), 1L).otherwise(0L)).as("n_intersect"))
      exact.crossJoin(broadcast(est))
        .select(col("n_a"), col("n_b"), col("n_union"), col("n_intersect"),
          (abs(col("ea") + col("eb") - col("eu") - col("n_intersect"))
            .cast(DoubleType) / col("n_intersect") <= 0.10)
            .as("incl_excl_within_10pct"))
    },

    "agg_skew_salted" -> { (s, d) =>
      // Skew mitigation at the gate: ~90% of lineitem rows collapse to
      // one hot key, and the two-phase (key, salt) partial → key merge
      // spreads that key over 32 reducers instead of one — the pattern
      // a 100 TB group-by needs when AQE can't see the skew (e.g.
      // pre-aggregated inputs). Decimal partials keep the re-association
      // exact, so the result is bitwise equal to the direct group-by —
      // which is exactly what the oracle computes.
      val keyed = lineitem(s, d).select(
        when(col("l_orderkey") % 10 =!= 0, lit("hot"))
          .otherwise(concat(lit("k"), col("l_orderkey") % 97)).as("key"),
        col("l_quantity"))
      keyed
        .withColumn("salt", pmod(hash(col("l_quantity")), lit(32)))
        .groupBy("key", "salt")
        .agg(sum(dec(col("l_quantity"))).as("pq"), count(lit(1)).as("pn"))
        .groupBy("key")
        .agg(sum(col("pq")).cast(DoubleType).as("sum_qty"),
          sum(col("pn")).as("n"))
        .orderBy("key")
    },

    "agg_filtered" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
          dsum(when(col("o_orderstatus") === "O", col("o_totalprice")).otherwise(lit(0))).as("open_value"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    "agg_collect_sorted" -> ((s, d) =>
      customer(s, d)
        .filter(col("c_custkey") % 50 === 0)
        .groupBy("c_nationkey")
        // ','-joined string, not a raw array: comparator-safe output.
        .agg(array_join(sort_array(collect_list(col("c_name"))), ",").as("names"))
        .orderBy("c_nationkey")),

    "agg_stats" -> ((s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
        .orderBy("l_returnflag")),

    "agg_moments" -> { (s, d) =>
      // Skewness & excess kurtosis per group from EXACT raw-moment sums
      // (the built-ins accumulate doubles in partition order —
      // nondeterministic across engines, like corr in agg_corr_matrix).
      // One Q1-shaped pass emits Σx..Σx⁴ as exact decimals (quantity is
      // 2dp ≤ 50, so x⁴ at scale 8 stays far inside DECIMAL(38)); the
      // central-moment recomposition then runs on bit-identical doubles
      // in both engines. Shuffle bytes: 5 numbers per (group, task).
      val d2: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => c.cast(DecimalType(8, 2))
      val q = col("l_quantity")
      lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(d2(q)).cast(DoubleType).as("s1"),
          sum(d2(q) * d2(q)).cast(DoubleType).as("s2"),
          sum(d2(q) * d2(q) * d2(q)).cast(DoubleType).as("s3"),
          sum(d2(q) * d2(q) * d2(q) * d2(q)).cast(DoubleType).as("s4"))
        .withColumn("mu", col("s1") / col("n"))
        .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
        .withColumn("m3", col("s3") / col("n") -
          lit(3) * col("mu") * col("s2") / col("n") +
          lit(2) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4", col("s4") / col("n") -
          lit(4) * col("mu") * col("s3") / col("n") +
          lit(6) * col("mu") * col("mu") * col("s2") / col("n") -
          lit(3) * col("mu") * col("mu") * col("mu") * col("mu"))
        .select(col("l_returnflag"), col("n").cast(LongType).as("n_rows"),
          round(col("mu"), 6).as("mean_qty"),
          round(col("m3") / pow(col("m2"), 1.5), 6).as("skewness"),
          round(col("m4") / (col("m2") * col("m2")) - 3, 6).as("kurtosis"))
        .orderBy("l_returnflag")
    },

    "agg_jarque_bera" -> { (s, d) =>
      // Jarque–Bera normality screen per returnflag group — the gate a
      // parametric readout (agg_welch_ttest / agg_ab_ztest) should run
      // FIRST: JB = n/6·(S² + K²/4) over sample skewness S and excess
      // kurtosis K, ~χ²(2 dof) under normality, rejected at the 5%
      // critical value 5.991465. Rides the agg_moments machinery
      // unchanged: one Q1-shaped pass emits Σx..Σx⁴ as EXACT decimals
      // (2-dp quantity ≤ 50 keeps x⁴ far inside DECIMAL(38)), so every
      // double after the sums — the central-moment recomposition, S, K,
      // and JB itself — is identical IEEE in both engines; the boolean
      // compares the unrounded JB (the agg_srm_check flag pattern).
      // Shuffle bytes: 5 numbers per (group, task) — input-size-free.
      val d2: Column => Column = c => c.cast(DecimalType(8, 2))
      val q = col("l_quantity")
      lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(d2(q)).cast(DoubleType).as("s1"),
          sum(d2(q) * d2(q)).cast(DoubleType).as("s2"),
          sum(d2(q) * d2(q) * d2(q)).cast(DoubleType).as("s3"),
          sum(d2(q) * d2(q) * d2(q) * d2(q)).cast(DoubleType).as("s4"))
        .withColumn("mu", col("s1") / col("n"))
        .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
        .withColumn("m3", col("s3") / col("n") -
          lit(3) * col("mu") * col("s2") / col("n") +
          lit(2) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4", col("s4") / col("n") -
          lit(4) * col("mu") * col("s3") / col("n") +
          lit(6) * col("mu") * col("mu") * col("s2") / col("n") -
          lit(3) * col("mu") * col("mu") * col("mu") * col("mu"))
        .withColumn("sk", col("m3") / pow(col("m2"), 1.5))
        .withColumn("ku", col("m4") / (col("m2") * col("m2")) - 3)
        .withColumn("jb",
          col("n") / 6 * (col("sk") * col("sk") + col("ku") * col("ku") / 4))
        .select(col("l_returnflag"), col("n").cast(LongType).as("n_rows"),
          round(col("jb"), 6).as("jb"),
          (col("jb") > 5.991465).as("normal_rejected"))
        .orderBy("l_returnflag")
    },

    "agg_gini" -> { (s, d) =>
      // Gini concentration of order value per status — the inequality
      // audit that tells a mixture designer how skewed a source's
      // contribution is. Exact form: rank each value inside its group
      // (ties carry equal values, so Σ i·x is tie-order invariant) and
      // recompose G = 2·Σi·x/(n·Σx) − (n+1)/n. One shuffle: the rank
      // window and the rollup share the o_orderstatus partitioning.
      // Σx and Σi·x go through exact decimals (i ≤ n keeps (38,6) far
      // from overflow), so the closing formula runs on bit-identical
      // doubles in both engines.
      // Rank by the decimal capture itself: the 2-dp→(28,6) cast is
      // order-preserving, so this is the same permutation the oracle's
      // ORDER BY o_totalprice produces.
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("v"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_orderstatus"), col("o_orderkey"),
          dec(col("o_totalprice")).as("v"))
        .withColumn("i", row_number().over(w).cast(DecimalType(10, 0)))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(col("v")).cast(DoubleType).as("sv"),
          sum(col("v") * col("i")).cast(DoubleType).as("svi"))
        .select(col("o_orderstatus"), col("n").cast(LongType).as("n_orders"),
          round(lit(2.0) * col("svi") / (col("n") * col("sv")) -
            (col("n") + 1) / col("n"), 6).as("gini"))
        .orderBy("o_orderstatus")
    },

    "agg_linreg" -> { (s, d) =>
      // Per-type least-squares trend of event value over time, built
      // from EXACT partials: the only order-sensitive work is the four
      // sums, and each is order-free (Sx/Sxx are integer sums, Sy/Sxy go
      // through the decimal policy), so the slope/intercept formula runs
      // on bit-identical doubles in any engine and at any parallelism —
      // unlike the built-in regr_slope, whose double accumulation order
      // varies with partitioning. x is hours since the corpus epoch
      // (small integers, so Sxx fits a BIGINT exactly). One shuffle of 4
      // partials per (type, task) — the same aggregate shape as Q1.
      val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z
      val hUs = 3600000000L
      val e = eventsTs(s, d)
        .withColumn("x", expr(s"(us - ${epochUs}L) DIV $hUs"))
      e.groupBy("event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          dsum(col("value")).as("sy"),
          sum(dec(col("value")) * col("x").cast(DecimalType(10, 0)))
            .cast("double").as("sxy"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))
        .withColumn("intercept", (col("sy") - col("slope") * col("sx")) / col("n"))
        .select(col("event_type"), col("n").cast("long").as("n_events"),
          col("slope"), col("intercept"))
        .orderBy("event_type")
    },

    "agg_corr_matrix" -> { (s, d) =>
      // Pairwise Pearson correlation of the four lineitem measures in
      // ONE pass: a single global aggregate emits every Σx/Σx²/Σxy
      // partial (map-side combine reduces each task to one 15-number
      // row, so bytes-over-network is O(tasks), data-size-invariant),
      // then the 6 correlations are pure arithmetic on the 1-row
      // result. The built-in corr() accumulates doubles in partition
      // order — nondeterministic across engines/parallelism — so the
      // sums go through exact DECIMAL capture instead and the corr
      // formula runs on bit-identical doubles. Width (8,2), not the
      // usual (18,6): every lineitem measure is an exact multiple of
      // 0.01 below 1e6 (FIXTURES), so scale 2 captures the same value,
      // and an (8,2)×(8,2) product lands at (17,4) — still inside
      // Spark's long-backed compact decimal, so the 14 per-row products
      // avoid the BigDecimal slow path that (18,6)×(18,6)→(37,12)
      // forces (measured 2.8× wall on this query at the 4× tier).
      val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val d6: String => org.apache.spark.sql.Column =
        c => col(c).cast(DecimalType(8, 2))
      val pairs = for {
        i <- measures.indices; j <- measures.indices if i < j
      } yield (measures(i), measures(j))
      // spread (round 15): the partial aggregate — 4 double→decimal
      // casts + 14 decimal products per row — is the query's entire
      // cost and ran on the 3 splits of the one-file gate-tier scan
      // (measured: one 3-task stage, 1.3-2.1 s CPU, nothing else over
      // 200 ms). Narrow to the four measure columns FIRST (the spread
      // shuffle ships 4 doubles per row), round-robin to cluster width
      // (no-op once the scan arrives in ≥ cluster-width splits — guide
      // §2.6 idle capacity), and only THEN cast — so the per-row
      // BigDecimal work runs cluster-wide, not on the scan's 3 tasks.
      // Sums are unchanged: decimal addition is order-free, same casts,
      // same products.
      val base = spread(lineitem(s, d).select(measures.map(col): _*))
      val sums =
        Seq(count(lit(1)).cast(DoubleType).as("n")) ++
          measures.map(c => sum(d6(c)).cast(DoubleType).as(s"s_$c")) ++
          measures.map(c => sum(d6(c) * d6(c)).cast(DoubleType).as(s"ss_$c")) ++
          pairs.map { case (a, b) =>
            sum(d6(a) * d6(b)).cast(DoubleType).as(s"sp_${a}_$b")
          }
      val corrRows = pairs.map { case (a, b) =>
        struct(lit(a).as("x_col"), lit(b).as("y_col"),
          round((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
            (sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
              sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))),
            6).as("corr"))
      }
      base
        .agg(sums.head, sums.tail: _*)
        .select(explode(array(corrRows: _*)).as("r"))
        .select(col("r.x_col"), col("r.y_col"), col("r.corr"))
        .orderBy("x_col", "y_col")
    },

    "agg_percentile" -> ((s, d) =>
      orders(s, d)
        .groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D))").as("qs"))
        .select(col("o_orderstatus"),
          round(element_at(col("qs"), 1), 4).as("q1"),
          round(element_at(col("qs"), 2), 4).as("median"),
          round(element_at(col("qs"), 3), 4).as("q3"))
        .orderBy("o_orderstatus")),

    "agg_tukey_outliers" -> { (s, d) =>
      // Tukey-fence outlier census per status — the box-plot screen a
      // data audit runs before trusting means (agg_median_abs_deviation
      // is the robust-scale sibling; this is the count-what-falls-out
      // form). Quartiles are TYPE-1 order statistics (the value at rank
      // ⌈0.25n⌉ / ⌈0.75n⌉) rather than interpolated: both engines pick
      // an actual data value by exact integer rank arithmetic, so the
      // fences q1 ∓ 1.5·IQR are arithmetic on IDENTICAL doubles and the
      // outlier comparisons can never straddle an interpolation ulp.
      // Shape: rank pass and census pass both ride the status shuffle;
      // the ≤#status-row fence table attaches back by equi-join
      // (Catalyst auto-broadcasts — the ccLabels no-hint rationale).
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wAll = Window.partitionBy("o_orderstatus")
      val t = orders(s, d)
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
      val q = t.groupBy("o_orderstatus").agg(
        max(when(col("rn") === ceil(col("n") * 0.25), col("o_totalprice")))
          .as("q1"),
        max(when(col("rn") === ceil(col("n") * 0.75), col("o_totalprice")))
          .as("q3"))
      val f = q
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      orders(s, d).join(f, "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(max(col("q1")), 4).as("q1"),
          round(max(col("q3")), 4).as("q3"),
          round(max(col("lo")), 4).as("lo_fence"),
          round(max(col("hi")), 4).as("hi_fence"),
          sum(when(col("o_totalprice") < col("lo"), 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("o_totalprice") > col("hi"), 1L).otherwise(0L))
            .as("n_high"))
        .orderBy("o_orderstatus")
    },

    "agg_trimmed_mean" -> { (s, d) =>
      // 5%-trimmed mean per status — the robust center a skewed-metric
      // readout wants when the mean is hostage to its tails (the
      // agg_tukey_outliers census tells you THAT tails exist; the trim
      // is how you report the middle anyway). Trim bounds are exact
      // integer ranks (rn in (⌈0.05n⌉, ⌈0.95n⌉] — n·0.05 is the same
      // IEEE product in both engines, so ⌈⌉ agrees), the kept-set mean
      // rides the davg exact-decimal policy. One status shuffle: the
      // rank window and the rollup share it.
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wAll = Window.partitionBy("o_orderstatus")
      orders(s, d)
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .filter(col("rn") > ceil(col("n") * 0.05) &&
          col("rn") <= ceil(col("n") * 0.95))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_kept"),
          davg(col("o_totalprice")).as("trimmed_mean"))
        .orderBy("o_orderstatus")
    },

    "agg_rollup" -> ((s, d) =>
      customer(s, d)
        .rollup("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal"))
        .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("c_nationkey"))),

    "agg_cube" -> ((s, d) =>
      orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("value"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    "agg_grouping_sets" -> { (s, d) =>
      orders(s, d).createOrReplaceTempView("gs_orders")
      s.sql(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  ${oSum("o_totalprice")} AS value
        |FROM gs_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    },

    "agg_mode_deterministic" -> { (s, d) =>
      // Most frequent event_type per user with a pinned tie-break
      // (count desc, type asc) — the builtin mode() picks arbitrary
      // survivors on ties (banned class, SURVEY.md §7.5).
      val counts = events(s, d).groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("n"), asc("event_type"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
        .orderBy("user_id")
    },

    "agg_weighted_median" -> { (s, d) =>
      // Weighted median — each row counts l_quantity times (the
      // data-mixing primitive: "median over the corpus where docs
      // carry sampling weights"). The naive form (one window per
      // group key) shuffles the WHOLE table into #groups partitions —
      // with 3 flags that's parallelism 3 at any cluster size, the
      // classic low-cardinality-window scale bug (measured here:
      // 600k rows sorted by 3 tasks). Instead, the standard two-phase
      // bucket prune: (1) aggregate weight per (flag, price-bucket) —
      // map-side combine makes the shuffle O(#flags × #buckets), not
      // O(rows); (2) a running sum over that tiny table locates the
      // bucket where cumulative weight crosses half the total; (3) only
      // rows in the crossing bucket (≈ rows/#buckets, broadcast-joined
      // spec) are sorted to find the exact crossing price. The big
      // table is scanned, never globally sorted or shuffled whole.
      // Determinism: weights accumulate as exact decimals in both
      // phases; bucket = floor(price/1000.0) is one IEEE divide on
      // identical doubles; prices pass through min() untouched.
      val base = lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"), dec(col("l_quantity")).as("q"),
          floor(col("l_extendedprice") / 1000.0).cast(LongType).as("bkt"))
      val bw = base.groupBy("l_returnflag", "bkt").agg(sum(col("q")).as("bq"))
      val wB = Window.partitionBy("l_returnflag").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wT = Window.partitionBy("l_returnflag")
      val crossing = bw
        .withColumn("cumb", sum(col("bq")).over(wB))
        .withColumn("tot", sum(col("bq")).over(wT))
        .filter(col("cumb") * 2 >= col("tot"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("bkt")))
        .filter(col("rn") === 1)
        .select(col("l_returnflag").as("cf"), col("bkt").as("cb"),
          (col("cumb") - col("bq")).as("cum_before"), col("tot"))
      val wIn = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.join(broadcast(crossing),
          col("l_returnflag") === col("cf") && col("bkt") === col("cb"))
        .withColumn("cum", col("cum_before") + sum(col("q")).over(wIn))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min(col("l_extendedprice")).cast(DoubleType).as("wmedian"))
        .orderBy("l_returnflag")
    },

    "agg_ab_ztest" -> { (s, d) =>
      // Two-proportion z-test — the experimentation readout every
      // data platform carries: arm = user parity, unit = (user, day),
      // success = the unit saw a purchase (day-level units keep both
      // proportions strictly inside (0,1), so z never degenerates).
      // Shape: the per-unit reduce is the ONE data-sized shuffle
      // (map-side combine on the unit key); four conditional sums then
      // collapse the unit table to a single row, so z is computed from
      // exact longs — identical IEEE doubles in any engine, floored at
      // 1e-6.
      val dayUs = 86400000000L
      val perUnit = eventsTs(s, d)
        .groupBy(col("user_id"), expr(s"us DIV ${dayUs}L").as("day"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .withColumn("arm", col("user_id") % 2)
      val c = perUnit.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"))
      val p0 = col("c0").cast(DoubleType) / col("n0")
      val p1 = col("c1").cast(DoubleType) / col("n1")
      val p = (col("c0") + col("c1")).cast(DoubleType) / (col("n0") + col("n1"))
      val z = (p0 - p1) / sqrt(p * (lit(1.0) - p) *
        (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
      c.select(col("n0"), col("c0"), col("n1"), col("c1"),
        (floor(z * 1000000 + 0.5).cast(DoubleType) / 1000000.0).as("z"))
    },

    "agg_benford_test" -> { (s, d) =>
      // Benford first-digit screen over order totals — the
      // data-quality/fraud tripwire: naturally-occurring amounts
      // follow P(d) = log10(1 + 1/d), and a feed that stops following
      // it (flat digits: synthetic data; spikes: thresholds/caps) is
      // worth an alert long before any downstream metric moves. One
      // map-side-combined count per leading digit (9 groups at any
      // input size), expected from the closed form on the exact total,
      // χ² per digit snapped to 1e-9 and decimal-summed (the
      // agg_chi_square recipe). First digit via the INTEGER-cents
      // string head (integer rendering is unambiguous in any engine;
      // double→string is not, and log10/floor would coin-flip on
      // power-of-ten boundaries). Money is 2-decimal by fixture, so
      // cents' leading digit IS the amount's leading digit.
      // Digit derivation + statistic tail are factored (benfordDigit /
      // benfordTail) so the streaming twin — a complete-mode 9-key agg
      // over a streamed orders source — shares both definitions.
      benfordTail(orders(s, d)
        .select(benfordDigit(col("o_totalprice")).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs")))
    },

    "agg_median_abs_deviation" -> { (s, d) =>
      // Median absolute deviation per event type — the robust spread
      // estimate (one wild value moves stddev arbitrarily, MAD not at
      // all; ×1.4826 makes it σ-consistent under normality — the
      // robust-zscore denominator production outlier monitors use
      // where ts_anomaly_zscore's σ would be poisoned by the very
      // outliers it hunts). Two-level exact medians: per-type median
      // broadcast back (a #types-row table), then the median of
      // |v − med| the same way — two shuffles on the type key, both
      // percentile aggregates exact order statistics (engine parity
      // pinned by agg_percentile). Deviations are pure IEEE on
      // identical doubles; emission rounds at 1e-6.
      val med = eventsTs(s, d).groupBy("event_type")
        .agg(expr("percentile(value, 0.5D)").as("med"))
      eventsTs(s, d).select(col("event_type"), col("value"))
        .join(broadcast(med), "event_type")
        .withColumn("ad", abs(col("value") - col("med")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(min(col("med")), 6).as("median"),
          expr("percentile(ad, 0.5D)").as("mad_raw"))
        .select(col("event_type"), col("n"), col("median"),
          round(col("mad_raw"), 6).as("mad"),
          round(col("mad_raw") * 1.4826, 6).as("mad_sigma"))
        .orderBy("event_type")
    },

    "agg_bootstrap_ci" -> { (s, d) =>
      // Bootstrap confidence interval for the mean event value — the
      // nonparametric CI every experimentation platform falls back to
      // when the metric isn't normal (ratios, truncated revenue). The
      // online-bootstrap trick makes it ONE distributed pass: replica
      // b resamples each row with a Poisson(1) weight (the n→∞ limit
      // of multinomial resampling), so 32 replicas are 32 weighted
      // sums computed map-side — never 32 shuffles of the data, and
      // the per-task partial state is 32 accumulators regardless of
      // input size. Determinism: weights come from md5-derived
      // uniforms through an inverse-CDF CASE chain whose Poisson(1)
      // cumulative thresholds are stated as identical literals in
      // both engines; replica sums are exact (int weight × decimal
      // capture); the CI is pure ORDER STATISTICS of the 32 replica
      // means (2nd and 31st — nominal 93.75% coverage, documented;
      // no interpolation, so no quantile-definition hazard).
      val B = 32
      // Uniform source is the LshBucket-style arithmetic hash (pure
      // int64 multiply-adds, identical in any engine) rather than the
      // md5-prefix idiom: 32 uniforms/row × the corpus made md5 +
      // hex-conv the map's single heaviest query (measured 8.4 s at
      // sf0.1; this form is codegen'd arithmetic). event_id is reduced
      // mod 1000003 FIRST so the product stays far inside int64 at any
      // tier; weights therefore repeat across id residue classes ~1e6
      // apart — harmless for resampling (replicas need exchangeable
      // weights, not cryptographic ones).
      def w(b: Int) = {
        val u = ((col("event_id") % 1000003L) * 1315423911L +
          lit(b.toLong) * 2654435761L).mod(lit(1000003L))
          .cast(DoubleType) / 1000003.0
        when(u < 0.36787944117144233, 0)
          .when(u < 0.7357588823428847, 1)
          .when(u < 0.9196986029286058, 2)
          .when(u < 0.9810118431238462, 3)
          .when(u < 0.9963401531726563, 4)
          .when(u < 0.9994058151824183, 5)
          .when(u < 0.9999167588507119, 6)
          .when(u < 0.9999897508033253, 7)
          .otherwise(8)
      }
      def r6(c: Column) = floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val ev = eventsTs(s, d).select(col("event_id"), col("value"))
      val d6 = col("value").cast(DecimalType(18, 6))
      // ONE aggregation, 66 accumulators (32 × (Σw·v, Σw) + count +
      // Σv): no explode, no replica shuffle — each task carries the
      // whole replica state and partial-merges it, which IS the
      // online-bootstrap shape (the first cut posexploded a 32-wide
      // weight array and paid a 32×-row shuffle: measured 2.5 s vs
      // ~0.6 s for this form at sf0.1).
      val aggs =
        (0 until B).flatMap(b => Seq(
          sum(w(b) * d6).cast(DoubleType).as(s"sxw$b"),
          sum(w(b).cast(LongType)).as(s"sw$b"))) ++
        Seq(count(lit(1)).as("n_events"),
          sum(d6).cast(DoubleType).as("sx"))
      ev.agg(aggs.head, aggs.tail: _*)
        .select(col("n_events"), col("sx"),
          sort_array(array((0 until B).map(b => struct(
            (col(s"sxw$b") / col(s"sw$b")).as("mean_b"),
            lit(b).as("b"))): _*)).as("ms"))
        .select(col("n_events"),
          r6(col("sx") / col("n_events")).as("point_mean"),
          r6(element_at(col("ms"), 2).getField("mean_b")).as("ci_lo"),
          r6(element_at(col("ms"), B - 1).getField("mean_b")).as("ci_hi"))
    },

    "agg_welch_ttest" -> { (s, d) =>
      // Welch's unequal-variance two-sample t — the continuous-metric
      // sibling of agg_ab_ztest (z for conversion rates, Welch for
      // revenue/latency means; Welch because arms NEVER have equal
      // variance in production). Arm = user parity over event `value`.
      // Shape: one map-side-combined groupBy(arm) collapses the stream
      // to a 2-row (n, Σv, Σv²) table — no shuffle grows with data.
      // Determinism: Σv, Σv² through the exact decimal capture
      // (DECIMAL(18,6); squares widen to (37,12) inside precision 38 —
      // the ts_anomaly_zscore recipe), so t and the Welch–Satterthwaite
      // df are pure IEEE on identical inputs, floored at 1e-6. The
      // statistic tail is factored (welchTail) so the streaming twin —
      // a complete-mode 2-key agg maintaining exactly this table —
      // shares the definition (the chiSquareTail pattern).
      welchTail(armValueSums(eventsTs(s, d)))
    },

    "agg_cohens_d" -> { (s, d) =>
      // Cohen's d effect size between the user-parity arms — the
      // readout that separates statistically significant from
      // practically meaningful (at 100 TB event counts EVERYTHING is
      // significant; d is what a launch decision actually reads):
      // standardized mean difference over the pooled SD, with the
      // conventional negligible/small/medium/large bands at
      // 0.2/0.5/0.8 (compared on the UNROUNDED d — the agg_srm_check
      // flag pattern). Rides the agg_welch_ttest machinery unchanged:
      // the same 2-row armValueSums exact-decimal table, a factored
      // tail (cohensDTail) the streaming twin shares, and pure IEEE
      // arithmetic after the sums. No shuffle grows with data.
      cohensDTail(armValueSums(eventsTs(s, d)))
    },

    "agg_k_anonymity" -> { (s, d) =>
      // k-anonymity audit over the (nation, market-segment) quasi-
      // identifier — the privacy gate a dataset release runs: every
      // equivalence class under the quasi-identifier must hold ≥ k
      // individuals or its members are re-identifiable by linkage.
      // Emits the class census (classes, the realized k = min class
      // size, classes and rows below k=5) and the release verdict.
      // Shape: one groupBy to the ≤ nations×segments class table, then
      // a 1-row reduction — the audit costs one scan at any corpus
      // size; counts exact longs, verdict on an integer compare.
      val g = customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("cls"))
      g.agg(count(lit(1)).as("n_classes"),
          min(col("cls")).as("k_anonymity"),
          sum(when(col("cls") < 5, 1L).otherwise(0L)).as("n_small_classes"),
          sum(when(col("cls") < 5, col("cls")).otherwise(0L))
            .as("n_exposed_rows"))
        .withColumn("anonymity_ok", col("k_anonymity") >= 5)
    },

    "agg_dp_count_laplace" -> { (s, d) =>
      // Differentially-private count release (Laplace mechanism,
      // ε = 1, sensitivity 1) — agg_k_anonymity's complement: instead
      // of gating the release, perturb it. The noise draw here is
      // hash-seeded per released cell (the sample_mixture_resample
      // md5-uniform, inverse-CDF'd to Laplace) so the gate can
      // hash-verify the WHOLE mechanism; a production release swaps
      // the per-cell uniform for a calibrated RNG — the shape (one
      // map-side draw per output cell, zero extra passes) is
      // identical, and the gate emission keeps n_true only to prove
      // the draw. ln on the round-at-1e-6 recipe; the 1e-12 clamp
      // guards the u→0.5 singularity.
      val u = conv(substring(md5(concat(lit("graft-dp:"),
        col("event_type"))), 1, 8), 16, 10)
        .cast(LongType).cast(DoubleType) / 4294967296.0
      val c = u - 0.5
      val noise = round(-signum(c) *
        log(greatest(lit(1e-12), lit(1.0) - lit(2.0) * abs(c))), 6)
      eventsTs(s, d).groupBy("event_type").agg(count(lit(1)).as("n_true"))
        .withColumn("epsilon", lit(1.0))
        .withColumn("noise", noise)
        .withColumn("n_released", round(col("n_true") + col("noise"), 6))
        .orderBy("event_type")
    },

    "feat_psi_drift" -> { (s, d) =>
      // Population-stability-index drift between the calendar's first
      // and second half — THE production feature-drift tripwire (PSI >
      // 0.2 = retrain/investigate; text_js_divergence is its term-
      // distribution sibling). Reference = events before the integer
      // midpoint of the time range, current = after; 10 fixed bins on
      // the global value range (a quantile-bin variant would reuse the
      // agg_tukey_outliers rank machinery — fixed bins keep the whole
      // op one pass). PSI = Σ(q−p)·ln(q/p) with both shares clamped at
      // 1e-6 (the standard empty-bin guard, and it makes every term
      // finite). Shape: ONE 1-row global aggregate (lo/hi/min_us/
      // max_us) broadcast back, one ≤2×10-row groupBy, a 1-row
      // reduction — one corpus scan at any size. Shares are exact-long
      // ratios (identical IEEE), terms round-at-1e-6 then decimal-
      // summed (the ln recipe), flag on the decimal-exact sum.
      val snap: Column => Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val ev = eventsTs(s, d).filter(col("value").isNotNull)
      val rng = ev.agg(min("value").as("lo"), max("value").as("hi"),
        min("us").as("t0"), max("us").as("t1"))
      val mid = expr("(t0 + t1) DIV 2")
      val p = (col("value") - col("lo")) / (col("hi") - col("lo"))
      val binned = ev.crossJoin(broadcast(rng))
        .withColumn("bin", least(lit(9L), floor(p * 10).cast(LongType)))
        .withColumn("cur", (col("us") >= mid).cast(LongType))
      val counts = binned.groupBy("bin").agg(
        sum(when(col("cur") === 0, 1L).otherwise(0L)).as("nr"),
        sum(when(col("cur") === 1, 1L).otherwise(0L)).as("nc"))
      val wAll = Window.partitionBy()
      val shares = counts
        .withColumn("tr", sum(col("nr")).over(wAll))
        .withColumn("tc", sum(col("nc")).over(wAll))
        .withColumn("pr", greatest(lit(1e-6),
          col("nr").cast(DoubleType) / col("tr")))
        .withColumn("pc", greatest(lit(1e-6),
          col("nc").cast(DoubleType) / col("tc")))
        .withColumn("term",
          round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6))
      shares.agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
          sum(dec(col("term"))).cast(DoubleType).as("psi"))
        .withColumn("drift_detected", col("psi") > 0.2)
    },

    "agg_theil_index" -> { (s, d) =>
      // Theil T inequality of order value per status — agg_gini's
      // DECOMPOSABLE companion: unlike Gini, Theil splits exactly into
      // within-group + between-group terms, which is why a 100 TB
      // mixture audit prefers it (per-source Theils and the between
      // term compose without re-ranking anything). Closed form from
      // three order-free sums: T = Σx·ln x / (n·μ) − ln μ with
      // μ = Σx/n — NO rank window at all (Gini needs one), so the
      // whole op is a Q1-shaped one-shuffle aggregate of 3 partials
      // per (status, task). Determinism: Σx is the exact decimal
      // policy; each x·ln x term rounds at 1e-6 then decimal-sums
      // (the text_js_divergence ln recipe); ln μ snaps to the 1e-9
      // grid (the ts_periodogram trig treatment) before the one
      // emitted subtraction, which floor-snaps at 1e-6.
      val snap9: Column => Column =
        x => floor(x * 1e9 + 0.5).cast(DoubleType) / 1e9
      val snap6: Column => Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val x = col("o_totalprice").cast(DoubleType)
      orders(s, d)
        .select(col("o_orderstatus"),
          col("o_totalprice"),
          dec(round(x * log(x), 6)).as("xlx"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sv"),
          sum(col("xlx")).cast(DoubleType).as("sxlx"))
        .withColumn("mu", col("sv") / col("n_orders"))
        .select(col("o_orderstatus"), col("n_orders"),
          snap6(col("sxlx") / (col("n_orders") * col("mu"))
            - snap9(log(col("mu")))).as("theil"))
        .orderBy("o_orderstatus")
    },


    "agg_anova_oneway" -> { (s, d) =>
      // One-way ANOVA F across event types over `value` — the k-group
      // generalization of agg_welch_ttest (two arms get a t; k
      // treatment variants get ANOVA before anyone inspects pairwise).
      // Shape: ONE map-side-combined groupBy(event_type) collapses the
      // stream to k rows of (n, Σv, Σv²); everything after rides that
      // k-row table — no shuffle grows with data. Determinism: the
      // per-group Σv/Σv² stay EXACT DECIMALS through the second
      // (k-row) aggregation, so the grand totals are exact and
      // order-free; the one per-group non-exact term, (Σv_g)²/n_g, is
      // computed as identical IEEE from the exact decimals, snapped to
      // the 1e-9 grid, and decimal-summed across groups (the
      // agg_chi_square recipe — a k-double sum would be
      // partial-aggregation-order-dependent). F, df emit from those.
      val d6 = col("value").cast(DecimalType(18, 6))
      val g = eventsTs(s, d).groupBy("event_type").agg(
        count(lit(1)).as("n_g"),
        sum(d6).as("sx_g"),
        sum(d6 * d6).as("sxx_g"))
      val tot = g.agg(
        count(lit(1)).as("k"),
        sum(col("n_g")).as("n"),
        sum(col("sx_g")).cast(DoubleType).as("sx"),
        sum(col("sxx_g")).cast(DoubleType).as("sxx"),
        sum(round(col("sx_g").cast(DoubleType) * col("sx_g").cast(DoubleType)
            / col("n_g"), 9).cast(DecimalType(28, 9)))
          .cast(DoubleType).as("sb"))
      val ssb = col("sb") - col("sx") * col("sx") / col("n")
      val ssw = col("sxx") - col("sb")
      val f = (ssb / (col("k") - 1)) / (ssw / (col("n") - col("k")))
      def r6(c: Column) = (floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
      tot.select(col("k").cast(LongType).as("n_groups"), col("n"),
        (col("k") - 1).cast(LongType).as("df1"),
        (col("n") - col("k")).as("df2"), r6(f).as("f_stat"))
    },

    "agg_ks_test" -> { (s, d) =>
      // Two-sample Kolmogorov–Smirnov over event `value` by arm (user
      // parity) — the DISTRIBUTION-drift gate (welch/z compare means;
      // KS fires when the mean holds but the shape moves — the
      // training-data drift case). D = max |F0(v) − F1(v)| over
      // observed values. A naive ECDF is a GLOBAL sort — at 100 TB an
      // unpartitioned window over every distinct value — so the
      // cumulative counts come from [[bandedEcdf]] over the per-value
      // arm counts (one data-sized groupBy): exact longs, the inclusive
      // CDF of each arm read as F + c. Each |F0−F1| is one
      // identical-IEEE expression, and max is order-free. The oracle
      // is the FLAT global-window ECDF — the hash gate proves the
      // banding lossless. D's critical scaling sqrt(n0·n1/(n0+n1))
      // emits alongside (reject at 5% when scaled D > 1.358).
      val dRow = bandedEcdf(valueClassCounts(eventsTs(s, d), userArm0))
        .withColumn("gap", abs(
          (col("fa") + col("ca")).cast(DoubleType) / col("n_a") -
            (col("fb") + col("cb")).cast(DoubleType) / col("n_b")))
        .agg(max(col("n_a")).as("n0"), max(col("n_b")).as("n1"),
          max(col("gap")).as("d_raw"))
      dRow.select(col("n0"), col("n1"),
        round(col("d_raw"), 6).as("ks_d"),
        round(col("d_raw") * sqrt(col("n0").cast(DoubleType) * col("n1")
          / (col("n0") + col("n1"))), 6).as("ks_scaled"))
    },

    "agg_srm_check" -> { (s, d) =>
      // Sample-ratio-mismatch guardrail — the FIRST check every A/B
      // readout runs: if the unit split deviates from its design
      // (50/50 here) the assignment pipeline is broken and every
      // downstream stat (welch/z/U above) is invalid. Units are
      // DISTINCT users (events-per-user skew must not leak into the
      // ratio test); χ² vs the designed split with 1 dof, flagged at
      // the 5% critical value. One distinct shuffle + a 1-row closed
      // form; counts exact longs, χ² identical IEEE.
      val u = eventsTs(s, d)
        .select((col("user_id") % 2).as("arm"), col("user_id")).distinct()
      val c = u.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      val e = (col("n0") + col("n1")).cast(DoubleType) / 2
      val chi2 = (col("n0") - e) * (col("n0") - e) / e +
        (col("n1") - e) * (col("n1") - e) / e
      c.select(col("n0"), col("n1"),
        round(chi2, 6).as("chi2"),
        (chi2 > 3.841459).as("srm_detected"))
    },

    "agg_mannwhitney_u" -> { (s, d) =>
      // Mann–Whitney U (Wilcoxon rank-sum) between the user-parity
      // arms over `value` — the nonparametric location test the
      // experimentation platform reaches for when Welch's normality
      // assumption is indefensible (heavy-tailed revenue/latency).
      // Rank enumeration is the scale trap; U never needs it: U₀ is
      // [[u2Sum]]/2 over the per-value arm counts, its cumulative from
      // [[bandedEcdf]] as in agg_ks_test (no global sort at any size).
      // The tie-corrected normal z uses Σ(t³−t) over tie-group sizes:
      // computed as doubles (exact while t < 2¹⁷ — ties are
      // per-DISTINCT-VALUE groups, tiny for a continuous metric; both
      // engines compute identical IEEE regardless), decimal-captured so
      // the sum is order-free.
      val rows = bandedEcdf(valueClassCounts(eventsTs(s, d), userArm0))
        .withColumn("t", (col("ca") + col("cb")).cast(DoubleType))
        .withColumn("tt",
          round(col("t") * col("t") * col("t") - col("t"), 0)
            .cast(DecimalType(38, 0)))
      val agg = rows.agg(max(col("n_a")).as("n0"), max(col("n_b")).as("n1"),
        u2Sum.as("u2"), sum(col("tt")).cast(DoubleType).as("ties"))
      val n0D = col("n0").cast(DoubleType)
      val n1D = col("n1").cast(DoubleType)
      val nD = n0D + n1D
      val u1 = col("u2") / 2
      val mu = n0D * n1D / 2
      val v = n0D * n1D / 12 *
        ((nD + 1) - col("ties") / (nD * (nD - 1)))
      agg.select(col("n0"), col("n1"),
        (col("u2") / 2).as("u"),
        round((u1 - mu) / sqrt(v), 6).as("z"))
    },

    "agg_roc_auc" -> { (s, d) =>
      // ROC AUC of `value` ranking purchase events above the rest — the
      // classifier-eval primitive a quality-filter calibration runs
      // before trusting a score column at corpus scale. AUC is the
      // Mann–Whitney statistic rescaled (AUC = U⁺/(n⁺·n⁻) = P(score⁺ >
      // score⁻) + ½P(tie)), so it inherits the whole no-rank-enumeration
      // decomposition: per-value class counts (valueClassCounts — the
      // table the streaming twin maintains), then [[u2Sum]] over the
      // negative arm's cumulative from [[bandedEcdf]] (no global sort at
      // any size), everything ×2 as exact integers decimal-summed; the
      // ONLY IEEE steps are the two closing divisions, identical in both
      // engines (rocAucTail — shared with the streaming form). Emits the
      // Gini/accuracy-ratio twin (2·AUC−1) from the same sum. At 100 TB
      // the per-value table is the one shuffle; the band table is 256
      // rows.
      rocAucTail(valueClassCounts(eventsTs(s, d)))
    },

    "agg_calibration_bins" -> { (s, d) =>
      // Reliability diagram + expected calibration error — agg_roc_auc's
      // companion readout: AUC says a score RANKS well, calibration says
      // its magnitude can be trusted as a probability (the keep/drop
      // thresholds a quality-gate sets assume it can). Score p̂ is the
      // min-max-normalized value (1-row range attach, the ECDF banding
      // pattern), binned into 10 fixed deciles of the score range;
      // per bin: count, exact positive count, mean score and positive
      // rate; ECE = Σ (n_b/n)·|mean − rate| over the 10-row table.
      // Determinism: p̂ is identical IEEE in both engines, so the bin
      // assignment is too; means ride 1e-6-snapped decimal sums (davg
      // rationale), the gap is arithmetic on those identical doubles,
      // and ECE decimal-sums n_b·gap over the bounded bin table. At
      // 100 TB: one corpus pass + a ≤10-row rollup — the windows never
      // see more than 10 rows.
      val snap: Column => Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val ev = eventsTs(s, d).filter(col("value").isNotNull)
      val rng = ev.agg(min("value").as("lo"), max("value").as("hi"))
      val p = (col("value") - col("lo")) / (col("hi") - col("lo"))
      val binned = ev.crossJoin(broadcast(rng))
        .withColumn("bin", least(lit(9L), floor(p * 10).cast(LongType)))
        .withColumn("ps", snap(p))
        .withColumn("pos",
          when(col("event_type") === "purchase", 1L).otherwise(0L))
      val bins = binned.groupBy("bin")
        .agg(count(lit(1)).as("n_events"), sum(col("pos")).as("n_pos"),
          snap(sum(dec(col("ps"))).cast(DoubleType) / count(lit(1)))
            .as("avg_score"))
        .withColumn("pos_rate",
          snap(col("n_pos").cast(DoubleType) / col("n_events")))
        .withColumn("gap", snap(abs(col("avg_score") - col("pos_rate"))))
      val wAll = Window.partitionBy()
      bins
        // (10,6)×(19,0) keeps the product inside width 38 in BOTH
        // engines (gap ≤ 1 at 6 dp; DuckDB rejects wider outright).
        .withColumn("ece", snap(
          sum(col("gap").cast(DecimalType(10, 6))
            * col("n_events").cast(DecimalType(19, 0)))
            .over(wAll).cast(DoubleType)
            / sum(col("n_events")).over(wAll)))
        .select("bin", "n_events", "n_pos", "avg_score", "pos_rate",
          "gap", "ece")
        .orderBy("bin")
    },

    "agg_spearman_corr" -> { (s, d) =>
      // Spearman rank correlation between l_quantity and l_discount —
      // the monotone-association screen (Pearson needs linearity;
      // Spearman survives any monotone transform, the first stat a
      // feature audit runs on skewed columns). Ranks are the scale
      // hazard: a global rank() is one unpartitioned sort. Both
      // columns here have BOUNDED distinct values (quantity 1..50,
      // discount 11 grid points — the TPC-H generator's construction,
      // stable at any SF; a continuous column would bucket first, the
      // agg_ks_test banding), so average ranks derive from per-VALUE
      // counts: one tiny groupBy per column, exclusive prefix over the
      // ≤50-row distinct table, and avg-rank attaches back by
      // equi-join (Catalyst auto-broadcasts; no hint — the Graph
      // degree-join rationale). Exactness: avg rank for ties is
      // (2·cum_before + cnt + 1)/2 — kept ×2 as an exact LONG, so
      // Σ, Σ², Σxy over 2·rank accumulate as exact DECIMAL(38,0)
      // integers (the ×2 cancels in r), and rho's one division is
      // identical IEEE on identical exact inputs.
      val li = lineitem(s, d)
        .select(col("l_quantity").as("x"), col("l_discount").as("y"))
      def rank2(c: String): DataFrame = {
        val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
        li.groupBy(c).agg(count(lit(1)).as("cnt"))
          .select(col(c),
            (coalesce(sum(col("cnt")).over(w), lit(0L)) * 2 + col("cnt") + 1)
              .as(s"r2_$c"))
      }
      val d19 = DecimalType(19, 0)
      val ranked = li.join(rank2("x"), "x").join(rank2("y"), "y")
        .select(col("r2_x").cast(d19).as("rx"), col("r2_y").cast(d19).as("ry"))
      val sums = ranked.agg(
        count(lit(1)).as("n"),
        sum(col("rx")).cast(DoubleType).as("sx"),
        sum(col("ry")).cast(DoubleType).as("sy"),
        sum(col("rx") * col("rx")).cast(DoubleType).as("sxx"),
        sum(col("ry") * col("ry")).cast(DoubleType).as("syy"),
        sum(col("rx") * col("ry")).cast(DoubleType).as("sxy"))
      val nD = col("n").cast(DoubleType)
      sums.select(col("n"),
        round((nD * col("sxy") - col("sx") * col("sy")) /
          (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
            sqrt(nD * col("syy") - col("sy") * col("sy"))), 6).as("rho"))
    },

    "subquery_correlated" -> { (s, d) =>
      // Correlated scalar subquery — exercises Catalyst's
      // RewriteCorrelatedScalarSubquery decorrelation (SURVEY.md §4b).
      // Correlated scalar subquery — exercises Catalyst's
      // RewriteCorrelatedScalarSubquery decorrelation (SURVEY.md §4b).
      // The per-customer average is an exact decimal sum divided as
      // double, so both engines compare against identical thresholds.
      orders(s, d).createOrReplaceTempView("sq_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM sq_orders o1
          |WHERE o_totalprice > 1.5 * (
          |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / count(*)
          |  FROM sq_orders o2 WHERE o2.o_custkey = o1.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    },

    "subquery_scalar" -> { (s, d) =>
      // Uncorrelated scalar subquery: the global average computes ONCE
      // (a one-row plan broadcast into the filter), never per-row — at
      // any scale this is one tiny job plus a map-side filter. Decimal
      // policy keeps the threshold bit-identical across engines.
      customer(s, d).createOrReplaceTempView("sqs_cust")
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal FROM sqs_cust
          |WHERE c_acctbal > 2 * (
          |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
          |  FROM sqs_cust)
          |ORDER BY c_custkey""".stripMargin)
    },

    "subquery_in" -> { (s, d) =>
      // Uncorrelated IN subquery — Catalyst rewrites to a left-semi
      // hash join on the subquery's distinct keys; the orders side keeps
      // its pushed-down price filter, so the semi probe sees only the
      // selective slice.
      orders(s, d).createOrReplaceTempView("sqi_orders")
      customer(s, d).createOrReplaceTempView("sqi_cust")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice FROM sqi_orders
          |WHERE o_totalprice > 300000
          |  AND o_custkey IN (SELECT c_custkey FROM sqi_cust WHERE c_acctbal < 0)
          |ORDER BY o_orderkey""".stripMargin)
    },

    "subquery_not_in" -> { (s, d) =>
      // NOT IN — the null-aware anti join. Three-valued logic makes
      // `k NOT IN (set with NULL)` drop EVERY row, so a naive rewrite to
      // left-anti is wrong on nullable keys; Spark plans a null-aware
      // broadcast hash anti join (optimizeNullAwareAntiJoin) instead of
      // the O(n·m) nested loop this used to require. Keys here are
      // non-null in the data, so both engines agree with plain anti
      // semantics while the plan still exercises the NAAJ path.
      orders(s, d).createOrReplaceTempView("sqn_orders")
      customer(s, d).createOrReplaceTempView("sqn_cust")
      s.sql(
        """SELECT c_custkey, c_name FROM sqn_cust
          |WHERE c_custkey NOT IN (
          |  SELECT o_custkey FROM sqn_orders WHERE o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    },

    "join_lateral" -> { (s, d) =>
      // LATERAL correlated subquery with ORDER BY + LIMIT — the SQL
      // spelling of top-k-per-group. Catalyst decorrelates the limit
      // into a rank window over one shuffle on the join key (same
      // physical shape as topk_per_group), NOT a per-row re-execution —
      // the form that survives a billion customers.
      customer(s, d).createOrReplaceTempView("lat_cust")
      orders(s, d).createOrReplaceTempView("lat_orders")
      s.sql(
        """SELECT c_custkey, o_orderkey, o_totalprice
          |FROM lat_cust,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders
          |         WHERE o_custkey = c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top2
          |WHERE c_mktsegment = 'BUILDING'
          |ORDER BY c_custkey, o_orderkey""".stripMargin)
    },

    "merge_incremental_agg" -> { (s, d) =>
      // Incremental aggregation maintenance — the lambda-architecture
      // primitive: at 100 TB you never re-aggregate history; you keep
      // per-segment PARTIAL aggregates (count + exact decimal sum —
      // both re-aggregatable) and fold each new day's partials in. The
      // query splits events at a time cut, aggregates each segment
      // independently, then merges partials — and is oracled against
      // the direct full aggregation, so the gate PROVES merge(partials)
      // ≡ recompute. The double cast happens only at emission; partial
      // sums stay decimal (order-free) through the merge.
      val cutUs = 1705276800000000L // 2024-01-15T00:00Z in µs — mid-corpus
      val ev = eventsTs(s, d)
      def partial(df: DataFrame) = df
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
      partial(ev.filter(col("us") < cutUs))
        .unionByName(partial(ev.filter(col("us") >= cutUs)))
        .groupBy("event_type")
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast(DoubleType).as("sum_value"))
        .orderBy("event_type")
    },

    "merge_latest_per_key" -> { (s, d) =>
      // CDC-style upsert resolution: base snapshot (version 0) unioned
      // with an update batch (version 1, every 10th order repriced);
      // keep the highest version per key via one window — the
      // latest-wins merge every incremental 100 TB table needs, with a
      // single shuffle on the merge key. Emits the affected keys so the
      // oracle checks updates actually won.
      val base = orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), lit(0L).as("version"))
      val updates = orders(s, d)
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("o_totalprice"),
          lit(1L).as("version"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderkey").orderBy(desc("version"))
      base.unionByName(updates)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1 && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("version"))
        .orderBy("o_orderkey")
    },

    "merge_cdc_apply" -> { (s, d) =>
      // CDC batch apply with explicit op classes — the MERGE INTO of
      // the lakehouse world, completing the merge family
      // (merge_latest_per_key resolves versions, delta_snapshot_diff
      // classifies, this APPLIES): a change batch of disjoint
      // delete / update / insert records hits the snapshot in ONE
      // co-partitioned pass — delete anti-join and update left-join
      // override share the o_orderkey shuffle, inserts are new keys so
      // they union in without touching it (and with bucketed layouts
      // the exchange itself disappears, join_bucketed_colocated). The
      // op sets are deterministically derived and DISJOINT (updates
      // exclude delete keys; insert keys are offset beyond the domain)
      // so the apply needs no precedence resolution. Output: per-status
      // rollup of the post-merge snapshot under the exact-decimal money
      // policy, inserts surfacing as the synthetic 'N' status.
      val snap = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val delKeys = snap.filter(col("o_orderkey") % 13 === 0).select("o_orderkey")
      val upd = snap
        .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 13 =!= 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("new_price"))
      val ins = snap.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 2000000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"),
          (col("o_totalprice") / 2).as("o_totalprice"))
      snap.join(delKeys, Seq("o_orderkey"), "left_anti")
        .join(upd, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), col("o_orderstatus"),
          coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"))
        .unionByName(ins)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },

    "merge_cdc_chain" -> { (s, d) =>
      // Multi-batch incremental maintenance (VERDICT r9 item 6):
      // merge_cdc_apply proves ONE batch; the real lakehouse loop is
      // apply → compact → apply → apply, day after day, and this runs
      // exactly that — three chained CDC batches whose delete/update/
      // insert sets are derived from the CURRENT state (so batch 2
      // deletes/updates rows batch 1 inserted or repriced, the chain's
      // whole point), with a parquet compaction between batch 1 and
      // batch 2 (snapshot rewritten at the target file count and read
      // back — fs_compact's maintenance op folded into the chain; a
      // silently lossy rewrite fails the hash gate). Oracled as the
      // DIRECT final state: three chained CTEs with no compaction —
      // proving the materialize/reload cycle is semantics-preserving.
      // Per-batch shape is merge_cdc_apply's: delete anti-join + update
      // left-join override share one o_orderkey shuffle, inserts union
      // in at disjoint keys (offset past the live domain — batch k's
      // offset clears every key batch k-1 could have created). All
      // price arithmetic stays in exact decimals until dsum's one
      // final double cast. The compaction write re-runs every repeat —
      // the roundtrip-write bench kind, like sink_csv_roundtrip.
      val snap0 = orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val b1 = cdcApply(snap0, 13, 10, 1000, 17, 2000000000L, "N")
      val tmp = scratch(s, "cdc_chain", d)
      b1.repartition(2).write.mode("overwrite").parquet(tmp)
      val compacted = s.read.parquet(tmp)
      val b2 = cdcApply(compacted, 19, 7, 500, 23, 4000000000L, "Q")
      val b3 = cdcApply(b2, 29, 11, 250, 31, 16000000000L, "R")
      b3.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    "delta_snapshot_diff" -> { (s, d) =>
      // Snapshot diff — classify every key across two table versions as
      // insert / delete / update / unchanged (the reconciliation pass
      // behind incremental recompute and replication audit). The "new"
      // snapshot is derived deterministically from orders: every 13th
      // key deleted, every 7th surviving key repriced, every 11th key
      // cloned to a fresh high key. Shape for 100 TB: ONE co-partitioned
      // full-outer sort-merge join on the primary key — and if both
      // snapshots are bucketed on that key (join_bucketed_colocated),
      // even that exchange disappears. Null-safe <=> per column decides
      // changed-ness; output is the per-class rollup.
      val cmpCols = Seq("o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val old = orders(s, d)
      val neu = old.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")))
        .unionByName(old.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
      val same = cmpCols.map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _)
      old.as("o")
        .join(neu.as("n"), col("o.o_orderkey") === col("n.o_orderkey"), "full_outer")
        .select(
          when(col("o.o_orderkey").isNull, "insert")
            .when(col("n.o_orderkey").isNull, "delete")
            .when(same, "unchanged").otherwise("update").as("change_type"),
          coalesce(col("o.o_orderkey"), col("n.o_orderkey")).as("k"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"),
          max(col("k")).as("max_key"))
        .orderBy("change_type")
    },

    "profile_summary" -> { (s, d) =>
      // Column-profile pass — the data-quality audit every estate runs
      // before pointing a training job at a table: per column, row
      // count, non-null count, exact distinct count, min/max rendered
      // to engine-portable strings. ONE scan: all metrics live in a
      // single aggregate (several count-distincts plan one Expand, so
      // the profile costs one shuffle of expanded rows, not a pass per
      // column); at 100 TB swap the exact distincts for
      // approx_count_distinct and keep the shape. Rendering: bigints
      // print bare, the double goes through the DECIMAL(28,6) money
      // policy (Tables.dsum scaladoc), the timestamp through an
      // explicit format — all so both engines print identical strings.
      // spread: the Expand×7 multi-distinct partial aggregate is the
      // query's dominant cost and would otherwise run on the single
      // split of a one-row-group input file (guide §2.6 idle capacity;
      // no-op once the scan has ≥ cluster-width splits).
      val o = spread(orders(s, d))
      def longCol(c: String) = Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast(StringType).as(s"mn_$c"),
        max(col(c)).cast(StringType).as(s"mx_$c"))
      def strCol(c: String) = Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))
      val aggs: Seq[Column] =
        longCol("o_orderkey") ++ longCol("o_custkey") ++
          strCol("o_orderstatus") ++ Seq(
            count(col("o_totalprice")).as("nn_o_totalprice"),
            countDistinct(col("o_totalprice")).as("nd_o_totalprice"),
            min(col("o_totalprice").cast(DecimalType(28, 6))).cast(StringType)
              .as("mn_o_totalprice"),
            max(col("o_totalprice").cast(DecimalType(28, 6))).cast(StringType)
              .as("mx_o_totalprice"),
            count(col("o_orderdate")).as("nn_o_orderdate"),
            countDistinct(col("o_orderdate")).as("nd_o_orderdate"),
            date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
              .as("mn_o_orderdate"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss")
              .as("mx_o_orderdate")) ++
          strCol("o_orderpriority")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      // Reshape via explode(array(struct(...))), NOT stack() (round 14,
      // guide §1.1 empirical loop): with a stack Generate above the
      // 1-row aggregate, every AQE broadcast-future stage of this query
      // re-ran multi-second single-task work (measured 3.2-5.7 s warm;
      // the plan's per-stage task metrics showed 1.8-2.6 s of real CPU
      // in one task per agg side). The explode-of-structs form computes
      // the IDENTICAL six rows (same expressions per field, same
      // emission sort) and measures 0.45 s warm — a 7x win from the
      // generator shape alone.
      val arr = array(cols.map(c => struct(
        lit(c).as("column_name"), col("n_rows"),
        col(s"nn_$c").as("n_nonnull"), col(s"nd_$c").as("n_distinct"),
        col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"))): _*)
      o.agg(count(lit(1)).as("n_rows"), aggs: _*)
        .select(explode(arr).as("r")).select(col("r.*"))
        .orderBy("column_name")
    },

    "profile_summary_approx" -> { (s, d) =>
      // profile_summary's 100 TB form, witnessed (the exact variant's
      // scaladoc promises this swap; this query demonstrates it).
      // The PRODUCTION shape is the approx branch alone: every
      // approx_count_distinct is an HLL++ sketch inside ONE ordinary
      // aggregate — no Expand, no row multiplication, one scan, one
      // 1-row shuffle regardless of column count (vs the exact form,
      // whose n-distinct Expand multiplies every input row by
      // #distinct-columns). rsd=0.01 sizes the sketch for the 2% bar.
      // The exact branch below exists ONLY to power the oracle's
      // bar-flag gate (agg_approx_distinct's recipe): the emitted
      // n_distinct is exact (value-matched by DuckDB) and each
      // column's approx_within_2pct flag is pinned TRUE, so the hash
      // gate verifies the sketch's accuracy claim per column.
      val o = orders(s, d)
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val approxAggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          count(col(c)).as(s"nn_$c"),
          approx_count_distinct(col(c), 0.01).as(s"ap_$c")))
      val exactAggs = cols.map(c => countDistinct(col(c)).as(s"nd_$c"))
      val approx1 = o.agg(approxAggs.head, approxAggs.tail: _*)
      val exact1 = o.agg(exactAggs.head, exactAggs.tail: _*)
      // explode(array(struct)) instead of stack() — the profile_summary
      // rationale (measured here: 5.3 s -> 0.35 s warm, 15x; the stack
      // Generate above the BNLJ-joined 1-row aggregates made every
      // AQE broadcast-future stage re-run seconds of single-task CPU).
      // The 0.02 literal is SQL-parsed (expr), not lit(0.02): the SQL
      // parser types it DECIMAL(2,2) exactly as the old stack-string
      // branch did, so the flag comparison stays DECIMAL-typed — a
      // double comparison is exact only below 2^53 distincts, and the
      // r14 cutover silently narrowed it (VERDICT r14 item 7; the old
      // comment claimed "typed the same", which was wrong).
      val arr = array(cols.map(c => struct(
        lit(c).as("column_name"), col("n_rows"),
        col(s"nn_$c").as("n_nonnull"), col(s"nd_$c").as("n_distinct"),
        expr(s"abs(ap_$c - nd_$c) <= 0.02 * nd_$c")
          .as("approx_within_2pct"))): _*)
      approx1.crossJoin(broadcast(exact1))
        .select(explode(arr).as("r")).select(col("r.*"))
        .orderBy("column_name")
    },

    "agg_histogram" -> { (s, d) =>
      // Fixed-width histogram of order totals — the distribution pass
      // behind skew diagnosis and partition sizing. Bucketing is pure
      // arithmetic (floor of a double division, top bucket clamped), so
      // it's a map-side expression and the whole histogram is one
      // shuffle of ≤20 partial rows per task regardless of input size.
      val width = 30000.0
      orders(s, d)
        .groupBy(least(floor(col("o_totalprice") / width), lit(19.0))
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("bucket_total"))
        .withColumn("lo_bound", col("bucket") * width)
        .select("bucket", "lo_bound", "n", "bucket_total")
        .orderBy("bucket")
    },

    // ------------------------------------------------------- reshaping
    "reshape_pivot" -> ((s, d) =>
      // Pivot with an explicit value list (deterministic columns); the
      // oracle expresses the same reshape as conditional aggregates.
      events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),

    "reshape_unpivot" -> ((s, d) =>
      // Unpivot/melt (Spark 3.4+ native operator) back to long form.
      customer(s, d)
        .select(col("c_custkey"),
          col("c_acctbal").as("acctbal"),
          col("c_nationkey").cast(DoubleType).as("nationkey_d"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal"), col("nationkey_d")), "metric", "val")
        .orderBy("c_custkey", "metric")),

    // ------------------------------------------------- 2f sorts / set ops
    "sort_multi_key" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_orderkey") % 15 === 0)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_returnflag")
        .orderBy(desc("l_shipdate"), asc("l_returnflag"), desc("l_orderkey"), asc("l_linenumber"))),

    "sort_limit_topk" -> ((s, d) =>
      // orderBy+limit plans as TakeOrderedAndProject — no full sort.
      orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(100)),

    "set_union_all" -> ((s, d) =>
      customer(s, d).filter(col("c_acctbal") > 9000)
        .select(col("c_name").as("name"), col("c_acctbal").as("bal"))
        .unionByName(
          supplier(s, d).filter(col("s_acctbal") > 9000)
            .select(col("s_name").as("name"), col("s_acctbal").as("bal")))
        .orderBy("name", "bal")),

    "set_union_distinct" -> ((s, d) =>
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")),

    "set_intersect" -> ((s, d) =>
      customer(s, d).filter(col("c_acctbal") < 0).select(col("c_nationkey").as("nationkey"))
        .intersect(supplier(s, d).filter(col("s_acctbal") > 5000).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    "set_except" -> ((s, d) =>
      customer(s, d).filter(col("c_acctbal") < 0).select(col("c_nationkey").as("nationkey"))
        .except(supplier(s, d).filter(col("s_acctbal") > 5000).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    "distinct_rows" -> ((s, d) =>
      // Deterministic dedup: raw dropDuplicates keeps an arbitrary
      // survivor (banned, SURVEY.md §7.5); groupBy+min pins it.
      customer(s, d)
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(min(col("c_custkey")).as("keep_custkey"), count(lit(1)).as("n_dups"))
        .orderBy("c_nationkey", "c_mktsegment"))
  )

  /** Per-value two-arm counts over the non-null `value`s: `ca` counts
    * the events where `armA` holds, `cb` the rest. It is the ONLY part of
    * agg_ks_test, agg_mannwhitney_u and agg_roc_auc that touches raw
    * events, so it is what agg_roc_auc's streaming twin maintains
    * (complete-mode agg; state is one key per distinct score, exactly
    * the batch shuffle's key cardinality — a production deployment with
    * a truly continuous score pre-bins to its declared score grid and
    * feeds the same tail). The default arm is agg_roc_auc's positives.
    */
  private[graft] def valueClassCounts(events: DataFrame,
      armA: Column = col("event_type") === "purchase"): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy("value").agg(
        sum(when(armA, 1L).otherwise(0L)).as("ca"),
        sum(when(armA, 0L).otherwise(1L)).as("cb"))

  /** The even-user arm of the user-parity A/B split. */
  private def userArm0: Column = col("user_id") % 2 === 0

  /** Banded ECDF over a [[valueClassCounts]] table: attaches the 1-row
    * (lo, hi, n_a, n_b) range and adds `fa` and `fb`, each arm's count
    * over the values strictly below this one. The values band into 256
    * equal-width ranges of [lo, hi], a band that rises with the value,
    * so [[Tables.sumBefore]] computes the exact cumulative with no
    * global sort of the distinct values at any size, equal to the flat
    * global-window ECDF the oracles compute.
    */
  private def bandedEcdf(pv: DataFrame): DataFrame = {
    val rng = pv.agg(min("value").as("lo"), max("value").as("hi"),
      sum("ca").as("n_a"), sum("cb").as("n_b"))
    val nB = 256
    val width = (col("hi") - col("lo")) / nB
    val band = when(col("hi") === col("lo"), lit(0))
      .otherwise(least(lit(nB - 1),
        floor((col("value") - col("lo")) / width).cast(IntegerType)))
    sumBefore(pv.crossJoin(broadcast(rng)), Nil, band, Seq(col("value")),
      "fa" -> col("ca"), "fb" -> col("cb"))
  }

  /** 2·U of arm a against arm b over a [[bandedEcdf]] table,
    * Σ_v 2·c_a·F_b + c_a·c_b, summed exactly in DECIMAL(19,0) and read
    * as a double. The ×2 folds into the LONG factor before the decimal
    * cast: a (38,0)×(1,0) decimal product would need width 39, which
    * DuckDB rejects outright.
    */
  private def u2Sum: Column = {
    val d19 = DecimalType(19, 0)
    sum((col("ca") * 2).cast(d19) * col("fb").cast(d19)
      + col("ca").cast(d19) * col("cb").cast(d19)).cast(DoubleType)
  }

  /** AUC/Gini tail over the per-value class-count table, shared
    * verbatim by the batch operator and the streaming twin.
    */
  private[graft] def rocAucTail(pv: DataFrame): DataFrame =
    bandedEcdf(pv).agg(max(col("n_a")).as("n_pos"),
        max(col("n_b")).as("n_neg"), u2Sum.as("a2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("a2") / 2 /
          (col("n_pos").cast(DoubleType) * col("n_neg")), 6).as("auc"),
        round(col("a2") /
          (col("n_pos").cast(DoubleType) * col("n_neg")) - 1, 6).as("gini_ar"))

  /** Cohen's d tail over the same 2-row per-arm table as welchTail —
    * the effect-size readout that tells an experimenter whether a
    * significant t is PRACTICALLY meaningful; shared by the batch
    * operator and (via the already-streamed armValueSums table) the
    * streaming twin.
    */
  private[graft] def cohensDTail(perArm: DataFrame): DataFrame = {
    val c = perArm.agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 0, col("sx"))).as("sx0"),
      max(when(col("arm") === 0, col("sxx"))).as("sxx0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 1, col("sx"))).as("sx1"),
      max(when(col("arm") === 1, col("sxx"))).as("sxx1"))
    def s2(sx: Column, sxx: Column, n: Column) =
      (sxx - sx * sx / n) / (n - 1)
    val s20 = s2(col("sx0"), col("sxx0"), col("n0"))
    val s21 = s2(col("sx1"), col("sxx1"), col("n1"))
    val dEff = (col("sx0") / col("n0") - col("sx1") / col("n1")) /
      sqrt(((col("n0") - 1) * s20 + (col("n1") - 1) * s21) /
        (col("n0") + col("n1") - 2))
    def r6(x: Column) = floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
    c.select(col("n0"), col("n1"), r6(dEff).as("cohens_d"),
      when(abs(dEff) < 0.2, "negligible")
        .when(abs(dEff) < 0.5, "small")
        .when(abs(dEff) < 0.8, "medium")
        .otherwise("large").as("magnitude"))
  }

  /** Per-arm (user parity) value sums — the ONLY part of
    * agg_welch_ttest that touches raw events, hence exactly what its
    * streaming twin maintains (complete-mode agg, 2 keys forever).
    * Exact decimal capture per the ts_anomaly_zscore recipe; the
    * doubles emitted here are the unique decimal→double conversions,
    * identical wherever the table was accumulated.
    */
  private[graft] def armValueSums(events: DataFrame): DataFrame = {
    val d6 = col("value").cast(DecimalType(18, 6))
    events.groupBy((col("user_id") % 2).as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(d6).cast(DoubleType).as("sx"),
        sum(d6 * d6).cast(DoubleType).as("sxx"))
  }

  /** Welch t statistic tail over the 2-row per-arm table. */
  private[graft] def welchTail(perArm: DataFrame): DataFrame = {
    val c = perArm.agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 0, col("sx"))).as("sx0"),
      max(when(col("arm") === 0, col("sxx"))).as("sxx0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 1, col("sx"))).as("sx1"),
      max(when(col("arm") === 1, col("sxx"))).as("sxx1"))
    def s2(sx: Column, sxx: Column, n: Column) =
      (sxx - sx * sx / n) / (n - 1)
    val v0 = s2(col("sx0"), col("sxx0"), col("n0")) / col("n0")
    val v1 = s2(col("sx1"), col("sxx1"), col("n1")) / col("n1")
    val t = (col("sx0") / col("n0") - col("sx1") / col("n1")) / sqrt(v0 + v1)
    val df = (v0 + v1) * (v0 + v1) /
      (v0 * v0 / (col("n0") - 1) + v1 * v1 / (col("n1") - 1))
    def r6(c: Column) = (floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
    c.select(col("n0"), col("n1"), r6(t).as("t"), r6(df).as("df"))
  }

  /** Leading digit of a money column via the INTEGER-cents string head
    * (integer rendering is unambiguous in any engine; double→string is
    * not) — shared by agg_benford_test and its streamed form.
    */
  private[graft] def benfordDigit(money: Column): Column =
    substring(floor(money * 100 + 0.5).cast(LongType).cast(StringType), 1, 1)
      .cast(LongType)

  /** Benford χ² tail over the ≤9-row (digit, n_obs) count table. */
  private[graft] def benfordTail(obs: DataFrame): DataFrame = {
    val w = Window.partitionBy()
    obs
      .withColumn("n", sum(col("n_obs")).over(w))
      .withColumn("expected",
        round(col("n") * log(10.0, lit(1.0) + lit(1.0) / col("digit")), 9))
      .select(col("digit"), col("n_obs"),
        round(col("expected"), 6).as("n_expected"),
        round((col("n_obs") - col("expected")) * (col("n_obs") - col("expected"))
          / col("expected"), 6).as("chi2_term"))
      .orderBy("digit")
  }

  // -------------------------------------------------------------- oracles
  /** agg_corr_matrix oracle, generated from the same measure/pair lists
    * as the Spark side so the two column inventories can't drift.
    * DECIMAL(19,6) (not 18): DuckDB backs width ≤18 with int64 and its
    * multiply does NOT widen, so an (18,6)² square of l_extendedprice
    * overflows int64; width 19 forces int128 storage and the product
    * lands exact at (38,12) — same value Spark's (18,6)² computes at
    * (37,12).
    */
  private def corrMatrixOracle: String = {
    val ms = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def d6(c: String) = s"CAST($c AS DECIMAL(19,6))"
    val pairs = for { i <- ms.indices; j <- ms.indices if i < j }
      yield (ms(i), ms(j))
    val sums =
      Seq("CAST(count(*) AS DOUBLE) AS n") ++
        ms.map(c => s"CAST(sum(${d6(c)}) AS DOUBLE) AS s_$c") ++
        ms.map(c => s"CAST(sum(${d6(c)} * ${d6(c)}) AS DOUBLE) AS ss_$c") ++
        pairs.map { case (a, b) =>
          s"CAST(sum(${d6(a)} * ${d6(b)}) AS DOUBLE) AS sp_${a}_$b"
        }
    val rows = pairs.map { case (a, b) =>
      s"SELECT '$a' AS x_col, '$b' AS y_col, " +
        s"round((n * sp_${a}_$b - s_$a * s_$b) / " +
        s"(sqrt(n * ss_$a - s_$a * s_$a) * sqrt(n * ss_$b - s_$b * s_$b)), 6) " +
        s"AS corr FROM a"
    }
    s"WITH a AS (SELECT ${sums.mkString(", ")} FROM lineitem)\n" +
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY x_col, y_col")
  }

  val oracleSql: Map[String, String] = keyed(
    "agg_groupby" -> q1Oracle,

    "scan_parquet" -> "SELECT * FROM part ORDER BY p_partkey",

    "scan_partition_pruning" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${oSum("o_totalprice")} AS total
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The oracle reads the UNCLUSTERED source with the same predicate —
    // equality proves the re-layout is semantics-free.
    "scan_sorted_skipping" ->
      s"""SELECT l_returnflag, count(*) AS n, ${oSum("l_quantity")} AS sum_qty
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE)
        |  BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "scan_zorder_skipping" ->
      s"""SELECT l_returnflag, count(*) AS n, ${oSum("l_extendedprice")} AS revenue
        |FROM lineitem
        |WHERE l_partkey BETWEEN 20 AND 119 AND l_suppkey BETWEEN 1 AND 6
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "scan_bloom_skipping" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_orderkey IN (1, 32, 69)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin,

    "scan_dynamic_pruning" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${oSum("o_totalprice")} AS total
        |FROM orders JOIN (
        |  SELECT 1992 + r_regionkey AS y FROM region WHERE r_name = 'EUROPE') dim
        |  ON year(o_orderdate) = dim.y
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "join_bucketed_colocated" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${oSum("o_totalprice")} AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "scan_projection_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_orderkey % 10 = 0 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "scan_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    // The oracle reads the ORIGINAL table: equality proves the torn
    // file contributed nothing and the valid file survived whole.
    "scan_corrupt_tolerant" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // Reconstructs both populations from the source: good rows group by
    // region, every 5th key was replaced with garbage → bucket -1.
    "scan_malformed_rows" ->
      """WITH g AS (
        |  SELECT CASE WHEN n_nationkey % 5 = 0 THEN -1
        |              ELSE n_regionkey END AS region_or_bad
        |  FROM nation)
        |SELECT CAST(region_or_bad AS BIGINT) AS region_or_bad, count(*) AS n
        |FROM g GROUP BY 1 ORDER BY region_or_bad""".stripMargin,

    "sink_json_roundtrip" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${oSum("c_acctbal")} AS bal,
        |  min(c_name) AS first_name
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "sink_orc_roundtrip" ->
      s"""SELECT s_nationkey, count(*) AS n, ${oSum("s_acctbal")} AS bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // Known-construction emission: what the partitioned table must hold
    // AFTER the dynamic reload — 1996 doubled, every other year the
    // untouched source (the ×2 is an exact double scaling, so the
    // decimal capture sees identical values in both engines).
    "sink_partition_overwrite" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(*) AS n,
        |  ${oSum("o_totalprice * CASE WHEN year(o_orderdate) = 1996 THEN 2 ELSE 1 END")}
        |    AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "merge_latest_per_key" ->
      """SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice, CAST(1 AS BIGINT) AS version
        |FROM orders WHERE o_orderkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "merge_cdc_apply" ->
      s"""WITH snap AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_totalprice + 1000 AS new_price FROM snap
        |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 13 <> 0),
        |merged AS (
        |  SELECT s.o_orderkey, s.o_orderstatus,
        |    coalesce(u.new_price, s.o_totalprice) AS o_totalprice
        |  FROM snap s LEFT JOIN upd u USING (o_orderkey)
        |  WHERE s.o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 2000000000, 'N', o_totalprice / 2 FROM snap
        |  WHERE o_orderkey % 17 = 0)
        |SELECT o_orderstatus, count(*) AS n, ${oSum("o_totalprice")} AS total
        |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Direct final state of the three chained batches — the compaction
    // between batch 1 and 2 is semantics-free, so it has no CTE: gate
    // equality IS the proof the materialize/reload cycle lost nothing.
    "merge_cdc_chain" ->
      s"""WITH snap0 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |u1 AS (
        |  SELECT o_orderkey, o_totalprice + 1000 AS new_price FROM snap0
        |  WHERE o_orderkey % 10 = 0 AND o_orderkey % 13 <> 0),
        |b1 AS (
        |  SELECT s.o_orderkey, s.o_orderstatus,
        |    coalesce(u.new_price, s.o_totalprice) AS o_totalprice
        |  FROM snap0 s LEFT JOIN u1 u USING (o_orderkey)
        |  WHERE s.o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 2000000000, 'N', o_totalprice FROM snap0
        |  WHERE o_orderkey % 17 = 0),
        |u2 AS (
        |  SELECT o_orderkey, o_totalprice + 500 AS new_price FROM b1
        |  WHERE o_orderkey % 7 = 0 AND o_orderkey % 19 <> 0),
        |b2 AS (
        |  SELECT s.o_orderkey, s.o_orderstatus,
        |    coalesce(u.new_price, s.o_totalprice) AS o_totalprice
        |  FROM b1 s LEFT JOIN u2 u USING (o_orderkey)
        |  WHERE s.o_orderkey % 19 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 4000000000, 'Q', o_totalprice FROM b1
        |  WHERE o_orderkey % 23 = 0),
        |u3 AS (
        |  SELECT o_orderkey, o_totalprice + 250 AS new_price FROM b2
        |  WHERE o_orderkey % 11 = 0 AND o_orderkey % 29 <> 0),
        |b3 AS (
        |  SELECT s.o_orderkey, s.o_orderstatus,
        |    coalesce(u.new_price, s.o_totalprice) AS o_totalprice
        |  FROM b2 s LEFT JOIN u3 u USING (o_orderkey)
        |  WHERE s.o_orderkey % 29 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 16000000000, 'R', o_totalprice FROM b2
        |  WHERE o_orderkey % 31 = 0)
        |SELECT o_orderstatus, count(*) AS n, ${oSum("o_totalprice")} AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM b3 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "delta_snapshot_diff" ->
      """WITH neu AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |j AS (
        |  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |              WHEN n.o_orderkey IS NULL THEN 'delete'
        |              WHEN o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |               AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |               AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        |               AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
        |               AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority
        |              THEN 'unchanged' ELSE 'update' END AS change_type,
        |    coalesce(o.o_orderkey, n.o_orderkey) AS k
        |  FROM orders o FULL OUTER JOIN neu n ON o.o_orderkey = n.o_orderkey)
        |SELECT change_type, count(*) AS n, min(k) AS min_key, max(k) AS max_key
        |FROM j GROUP BY change_type ORDER BY change_type""".stripMargin,

    "profile_summary" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |    count(o_orderkey) AS n_nonnull, count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_val,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_val
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |    count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(o_totalprice),
        |    count(DISTINCT o_totalprice),
        |    CAST(min(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR),
        |    CAST(max(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(o_orderdate),
        |    count(DISTINCT o_orderdate),
        |    strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(o_orderpriority),
        |    count(DISTINCT o_orderpriority), min(o_orderpriority), max(o_orderpriority)
        |  FROM orders)
        |SELECT * FROM p ORDER BY column_name""".stripMargin,

    // Oracled against the SINGLE-file source table: equality proves the
    // 16-file re-layout and its split planning are semantics-free.
    "scan_multifile" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  ${oSum("l_quantity")} AS sum_qty,
        |  ${oSum("l_extendedprice")} AS sum_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // Exact distincts value-matched; the per-column accuracy flag is
    // pinned TRUE — the gate verifies the HLL sketches hit the 2% bar.
    "profile_summary_approx" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |    count(o_orderkey) AS n_nonnull,
        |    count(DISTINCT o_orderkey) AS n_distinct FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(o_custkey),
        |    count(DISTINCT o_custkey) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |    count(DISTINCT o_orderstatus) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(o_totalprice),
        |    count(DISTINCT o_totalprice) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(o_orderdate),
        |    count(DISTINCT o_orderdate) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(o_orderpriority),
        |    count(DISTINCT o_orderpriority) FROM orders)
        |SELECT column_name, n_rows, n_nonnull, n_distinct,
        |  TRUE AS approx_within_2pct
        |FROM p ORDER BY column_name""".stripMargin,

    "agg_histogram" ->
      s"""SELECT bucket, CAST(bucket * 30000.0 AS DOUBLE) AS lo_bound, count(*) AS n,
        |  ${oSum("o_totalprice")} AS bucket_total
        |FROM (SELECT CAST(least(floor(o_totalprice / 30000.0), 19) AS BIGINT)
        |        AS bucket, o_totalprice FROM orders) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "project_compute" ->
      s"""SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice * (1 - l_discount) AS $oD) AS DOUBLE) AS revenue,
        |  l_quantity * 2 + 1 AS qty_scaled,
        |  l_returnflag || '|' || l_linestatus AS flags
        |FROM lineitem WHERE l_orderkey % 20 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "filter_predicates" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE (o_orderstatus IN ('O','F')
        |  AND o_totalprice BETWEEN 50000 AND 200000
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND NOT (o_orderpriority = '5-LOW'))
        |  OR o_totalprice < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "filter_like" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE '%ink%' OR p_brand LIKE 'Brand#1%'
        |ORDER BY p_partkey""".stripMargin,

    "filter_rlike_glob" ->
      s"""SELECT p_partkey, p_type FROM part
        |WHERE regexp_matches(p_type, '$typeGlobRegex')
        |ORDER BY p_partkey""".stripMargin,

    "conditional_case" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |  WHEN c_acctbal < 3000 THEN 'low'
        |  WHEN c_acctbal < 7000 THEN 'mid'
        |  ELSE 'high' END AS band, count(*) AS n
        |FROM customer GROUP BY 1 ORDER BY band""".stripMargin,

    "agg_global" ->
      s"""SELECT count(*) AS n_rows, ${oSum("l_quantity")} AS sum_qty,
        |  ${oAvg("l_extendedprice")} AS avg_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "agg_having" ->
      s"""SELECT o_custkey, count(*) AS n_orders, ${oSum("o_totalprice")} AS total_spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,

    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS approx_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_hll_intersect" ->
      """WITH f AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS va,
        |    max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS vb
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  GROUP BY o_custkey)
        |SELECT CAST(sum(va) AS BIGINT) AS n_a, CAST(sum(vb) AS BIGINT) AS n_b,
        |  count(*) AS n_union, CAST(sum(va * vb) AS BIGINT) AS n_intersect,
        |  TRUE AS incl_excl_within_10pct
        |FROM f""".stripMargin,

    "agg_skew_salted" ->
      s"""SELECT key, ${oSum("l_quantity")} AS sum_qty, count(*) AS n
        |FROM (
        |  SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 'hot'
        |    ELSE 'k' || CAST(l_orderkey % 97 AS VARCHAR) END AS key, l_quantity
        |  FROM lineitem) t
        |GROUP BY key ORDER BY key""".stripMargin,

    "agg_filtered" ->
      s"""SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  ${oSum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS open_value,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "agg_collect_sorted" ->
      """SELECT c_nationkey, array_to_string(list_sort(list(c_name)), ',') AS names
        |FROM customer WHERE c_custkey % 50 = 0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // Mirrors the exact-partials build: integer sums for Sx/Sxx, the
    // decimal policy for Sy/Sxy, then the identical double formula —
    // so both engines run the same IEEE ops on bit-identical inputs.
    "agg_linreg" ->
      s"""WITH p AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    ${oSum("value")} AS sy,
        |    CAST(sum(CAST(value AS $oD) * CAST(x AS DECIMAL(10,0))) AS DOUBLE) AS sxy
        |  FROM (SELECT event_type, value,
        |          (epoch_us(ts) - 1704067200000000) // 3600000000 AS x
        |        FROM events) t
        |  GROUP BY event_type),
        |sl AS (
        |  SELECT event_type, n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
        |  FROM p)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events, slope,
        |  (sy - slope * sx) / n AS intercept
        |FROM sl ORDER BY event_type""".stripMargin,

    "agg_corr_matrix" -> corrMatrixOracle,

    "agg_gini" ->
      """WITH r AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(28,6)) AS v,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS i
        |  FROM orders),
        |p AS (
        |  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(v) AS DOUBLE) AS sv,
        |    CAST(sum(v * CAST(i AS DECIMAL(19,0))) AS DOUBLE) AS svi
        |  FROM r GROUP BY o_orderstatus)
        |SELECT o_orderstatus, CAST(n AS BIGINT) AS n_orders,
        |  round(2.0 * svi / (n * sv) - (n + 1) / n, 6) AS gini
        |FROM p ORDER BY o_orderstatus""".stripMargin,

    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // The (19,2) first factor forces DuckDB's int128 decimal path (its
    // width-≤18 multiplies don't widen and would overflow at scale 8);
    // the VALUES are identical to Spark's widening arithmetic, and both
    // engines emit the same doubles into the same expression tree.
    "agg_moments" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(8,2))
        |      * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s3,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(8,2))
        |      * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n, s1 / n AS mu, s2, s3, s4 FROM p),
        |c AS (
        |  SELECT l_returnflag, n, mu,
        |    s2 / n - mu * mu AS m2,
        |    s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu AS m3,
        |    s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu * mu * mu * mu AS m4
        |  FROM m)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round(mu, 6) AS mean_qty,
        |  round(m3 / pow(m2, 1.5), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3, 6) AS kurtosis
        |FROM c ORDER BY l_returnflag""".stripMargin,

    // Same exact-raw-moment pipeline as agg_moments; JB and the flag are
    // pure IEEE arithmetic after the decimal sums.
    "agg_jarque_bera" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(8,2))
        |      * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s3,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(8,2))
        |      * CAST(l_quantity AS DECIMAL(8,2)) * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n, s1 / n AS mu, s2, s3, s4 FROM p),
        |c AS (
        |  SELECT l_returnflag, n, mu,
        |    s2 / n - mu * mu AS m2,
        |    s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu AS m3,
        |    s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu * mu * mu * mu AS m4
        |  FROM m),
        |x AS (
        |  SELECT l_returnflag, n,
        |    n / 6 * ((m3 / pow(m2, 1.5)) * (m3 / pow(m2, 1.5))
        |      + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4) AS jb
        |  FROM c)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round(jb, 6) AS jb, jb > 5.991465 AS normal_rejected
        |FROM x ORDER BY l_returnflag""".stripMargin,

    "scan_schema_evolution" ->
      """SELECT lang, count(*) AS n, count(n_chars) AS n_with_chars,
        |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS chars
        |FROM (
        |  SELECT lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1) t
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "agg_approx_percentile" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
        |  TRUE AS approx_within_1pct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_sketch_union" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS sketch_within_2pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_bitmap_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_weighted_median" ->
      s"""WITH t AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    sum(CAST(l_quantity AS $oD)) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(CAST(l_quantity AS $oD))
        |      OVER (PARTITION BY l_returnflag) AS tot
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(min(l_extendedprice) AS DOUBLE) AS wmedian
        |FROM t WHERE cum * 2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_ab_ztest" ->
      """WITH pu AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    user_id % 2 AS arm
        |  FROM events GROUP BY 1, 2, 4),
        |c AS (
        |  SELECT count(*) FILTER (arm = 0) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    count(*) FILTER (arm = 1) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM pu)
        |SELECT n0, c0, n1, c1,
        |  floor((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
        |    / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 / n0 + 1.0 / n1))
        |    * 1000000 + 0.5) / 1000000.0 AS z
        |FROM c""".stripMargin,

    "agg_benford_test" ->
      """WITH obs AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |    count(*) AS n_obs
        |  FROM orders GROUP BY 1),
        |m AS (SELECT obs.*, CAST(sum(n_obs) OVER () AS BIGINT) AS n FROM obs),
        |e AS (SELECT *, round(n * log10(1.0 + 1.0 / digit), 9) AS expected FROM m)
        |SELECT digit, n_obs,
        |  round(expected, 6) AS n_expected,
        |  round((n_obs - expected) * (n_obs - expected) / expected, 6)
        |    AS chi2_term
        |FROM e ORDER BY digit""".stripMargin,

    "agg_median_abs_deviation" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |  round(min(m.med), 6) AS median,
        |  round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
        |  round(quantile_cont(abs(e.value - m.med), 0.5) * 1.4826, 6) AS mad_sigma
        |FROM events e JOIN med m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    // Same literal Poisson(1) inverse-CDF thresholds, same exact
    // replica sums, same order-statistic CI — the whole bootstrap is
    // replicated so the hash gate verifies the resampling itself.
    "agg_bootstrap_ci" ->
      """WITH wts AS (
        |  SELECT e.value, b.b,
        |    CASE
        |      WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238462 THEN 3
        |      WHEN u < 0.9963401531726563 THEN 4
        |      WHEN u < 0.9994058151824183 THEN 5
        |      WHEN u < 0.9999167588507119 THEN 6
        |      WHEN u < 0.9999897508033253 THEN 7
        |      ELSE 8 END AS w
        |  FROM (SELECT event_id, value FROM events) e
        |  CROSS JOIN (SELECT unnest(range(32)) AS b) b
        |  CROSS JOIN LATERAL (SELECT
        |    CAST(((e.event_id % 1000003) * 1315423911 + b.b * 2654435761)
        |      % 1000003 AS DOUBLE) / 1000003.0 AS u) uu),
        |reps AS (
        |  SELECT b, CAST(sum(w * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(sum(w) AS BIGINT) AS mean_b
        |  FROM wts GROUP BY b),
        |rk AS (
        |  SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rk FROM reps),
        |p AS (
        |  SELECT count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS pm
        |  FROM events)
        |SELECT n_events,
        |  floor(pm * 1000000 + 0.5) / 1000000.0 AS point_mean,
        |  (SELECT floor(mean_b * 1000000 + 0.5) / 1000000.0 FROM rk WHERE rk = 2)
        |    AS ci_lo,
        |  (SELECT floor(mean_b * 1000000 + 0.5) / 1000000.0 FROM rk WHERE rk = 31)
        |    AS ci_hi
        |FROM p""".stripMargin,

    // Same exact-decimal capture as the Spark side; the squares force
    // int128 via the (19,6)·(18,6) cast (DuckDB ≤18-wide decimals are
    // int64-backed and do NOT widen on multiply — agg_corr_matrix's
    // finding), landing on the same exact (37,12) products Spark's
    // (18,6)² computes.
    "agg_welch_ttest" ->
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx0,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))
        |      END) AS DOUBLE) AS sxx0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx1,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))
        |      END) AS DOUBLE) AS sxx1
        |  FROM events),
        |v AS (
        |  SELECT n0, n1,
        |    ((sxx0 - sx0 * sx0 / n0) / (n0 - 1)) / n0 AS v0,
        |    ((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1 AS v1,
        |    sx0 / n0 AS m0, sx1 / n1 AS m1
        |  FROM c)
        |SELECT n0, n1,
        |  floor((m0 - m1) / sqrt(v0 + v1) * 1000000 + 0.5) / 1000000.0 AS t,
        |  floor((v0 + v1) * (v0 + v1)
        |    / (v0 * v0 / (n0 - 1) + v1 * v1 / (n1 - 1))
        |    * 1000000 + 0.5) / 1000000.0 AS df
        |FROM v""".stripMargin,

    // Same exact-decimal arm sums as agg_welch_ttest; d and the band
    // label are pure IEEE after them.
    "agg_cohens_d" ->
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx0,
        |    CAST(sum(CASE WHEN user_id % 2 = 0
        |      THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))
        |      END) AS DOUBLE) AS sxx0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS sx1,
        |    CAST(sum(CASE WHEN user_id % 2 = 1
        |      THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))
        |      END) AS DOUBLE) AS sxx1
        |  FROM events),
        |v AS (
        |  SELECT n0, n1,
        |    (sxx0 - sx0 * sx0 / n0) / (n0 - 1) AS s20,
        |    (sxx1 - sx1 * sx1 / n1) / (n1 - 1) AS s21,
        |    sx0 / n0 AS m0, sx1 / n1 AS m1
        |  FROM c),
        |e AS (
        |  SELECT n0, n1, (m0 - m1)
        |    / sqrt(((n0 - 1) * s20 + (n1 - 1) * s21) / (n0 + n1 - 2)) AS d
        |  FROM v)
        |SELECT n0, n1,
        |  floor(d * 1000000 + 0.5) / 1000000.0 AS cohens_d,
        |  CASE WHEN abs(d) < 0.2 THEN 'negligible'
        |    WHEN abs(d) < 0.5 THEN 'small'
        |    WHEN abs(d) < 0.8 THEN 'medium'
        |    ELSE 'large' END AS magnitude
        |FROM e""".stripMargin,

    "agg_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS cls
        |  FROM customer GROUP BY 1, 2)
        |SELECT count(*) AS n_classes,
        |  CAST(min(cls) AS BIGINT) AS k_anonymity,
        |  CAST(sum(CASE WHEN cls < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small_classes,
        |  CAST(sum(CASE WHEN cls < 5 THEN cls ELSE 0 END) AS BIGINT)
        |    AS n_exposed_rows,
        |  min(cls) >= 5 AS anonymity_ok
        |FROM g""".stripMargin,

    "agg_dp_count_laplace" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
        |n AS (
        |  SELECT event_type, n_true,
        |    CAST(('0x' || substring(md5('graft-dp:' || event_type), 1, 8))
        |      AS BIGINT) / 4294967296.0 - 0.5 AS c
        |  FROM g)
        |SELECT event_type, n_true, CAST(1.0 AS DOUBLE) AS epsilon,
        |  round(-sign(c)
        |    * ln(greatest(1e-12, 1.0 - 2.0 * abs(c))), 6) AS noise,
        |  round(n_true + round(-sign(c)
        |    * ln(greatest(1e-12, 1.0 - 2.0 * abs(c))), 6), 6) AS n_released
        |FROM n ORDER BY event_type""".stripMargin,

    "feat_psi_drift" ->
      """WITH ev AS (
        |  SELECT value, epoch_us(ts) AS us FROM events
        |  WHERE value IS NOT NULL),
        |rng AS (
        |  SELECT min(value) AS lo, max(value) AS hi,
        |    min(us) AS t0, max(us) AS t1 FROM ev),
        |b AS (
        |  SELECT least(9, CAST(floor((value - lo) / (hi - lo) * 10)
        |      AS BIGINT)) AS bin,
        |    CASE WHEN us >= (t0 + t1) // 2 THEN 1 ELSE 0 END AS cur
        |  FROM ev, rng),
        |c AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM b GROUP BY bin),
        |sh AS (
        |  SELECT nr, nc,
        |    CAST(sum(nr) OVER () AS BIGINT) AS tr,
        |    CAST(sum(nc) OVER () AS BIGINT) AS tc
        |  FROM c),
        |t AS (
        |  SELECT tr, tc,
        |    round((greatest(1e-6, CAST(nc AS DOUBLE) / tc)
        |        - greatest(1e-6, CAST(nr AS DOUBLE) / tr))
        |      * ln(greatest(1e-6, CAST(nc AS DOUBLE) / tc)
        |        / greatest(1e-6, CAST(nr AS DOUBLE) / tr)), 6) AS term
        |  FROM sh)
        |SELECT max(tr) AS n_ref, max(tc) AS n_cur,
        |  CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS psi,
        |  CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE) > 0.2
        |    AS drift_detected
        |FROM t""".stripMargin,

    "agg_theil_index" ->
      """WITH t AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    CAST(round(o_totalprice * ln(o_totalprice), 6)
        |      AS DECIMAL(28,6)) AS xlx
        |  FROM orders),
        |p AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sv,
        |    CAST(sum(xlx) AS DOUBLE) AS sxlx
        |  FROM t GROUP BY o_orderstatus)
        |SELECT o_orderstatus, n_orders,
        |  floor((sxlx / (n_orders * (sv / n_orders))
        |      - floor(ln(sv / n_orders) * 1e9 + 0.5) / 1e9)
        |    * 1000000 + 0.5) / 1000000.0 AS theil
        |FROM p ORDER BY o_orderstatus""".stripMargin,


    // DECIMAL(19,6) in the square (not 18): DuckDB int64-backed ≤18
    // multiply doesn't widen — the corrMatrixOracle / welch finding.
    "agg_anova_oneway" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n_g,
        |    sum(CAST(value AS DECIMAL(18,6))) AS sx_g,
        |    sum(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6)))
        |      AS sxx_g
        |  FROM events GROUP BY event_type),
        |t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(sx_g) AS DOUBLE) AS sx,
        |    CAST(sum(sxx_g) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(CAST(sx_g AS DOUBLE) * CAST(sx_g AS DOUBLE)
        |      / n_g, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sb
        |  FROM g)
        |SELECT k AS n_groups, n, k - 1 AS df1, n - k AS df2,
        |  floor(((sb - sx * sx / n) / (k - 1))
        |    / ((sxx - sb) / (n - k)) * 1000000 + 0.5) / 1000000.0 AS f_stat
        |FROM t""".stripMargin,

    // The FLAT global-window ECDF — the Spark side runs it as a
    // Tables.sumBefore over 256 bands; the hash gate proves it lossless.
    "agg_ks_test" ->
      """WITH pv AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM events WHERE value IS NOT NULL GROUP BY value),
        |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |             CAST(sum(c1) AS BIGINT) AS n1 FROM pv),
        |c AS (
        |  SELECT CAST(sum(c0) OVER (ORDER BY value) AS BIGINT) AS f0,
        |         CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS f1
        |  FROM pv),
        |m AS (
        |  SELECT max(abs(CAST(f0 AS DOUBLE) / (SELECT n0 FROM t)
        |    - CAST(f1 AS DOUBLE) / (SELECT n1 FROM t))) AS d_raw FROM c)
        |SELECT n0, n1, round(d_raw, 6) AS ks_d,
        |  round(d_raw * sqrt(CAST(n0 AS DOUBLE) * n1 / (n0 + n1)), 6)
        |    AS ks_scaled
        |FROM m, t""".stripMargin,

    "agg_srm_check" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id % 2 AS arm, user_id FROM events),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM u)
        |SELECT n0, n1,
        |  round((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
        |      / ((n0 + n1) / 2.0)
        |    + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
        |      / ((n0 + n1) / 2.0), 6) AS chi2,
        |  ((n0 - (n0 + n1) / 2.0) * (n0 - (n0 + n1) / 2.0)
        |      / ((n0 + n1) / 2.0)
        |    + (n1 - (n0 + n1) / 2.0) * (n1 - (n0 + n1) / 2.0)
        |      / ((n0 + n1) / 2.0)) > 3.841459 AS srm_detected
        |FROM c""".stripMargin,

    // The FLAT global-window form (like agg_ks_test's oracle) — the
    // Spark side runs the same 256-band ECDF.
    "agg_mannwhitney_u" ->
      """WITH pv AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM events WHERE value IS NOT NULL GROUP BY value),
        |t AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
        |             CAST(sum(c1) AS BIGINT) AS n1 FROM pv),
        |c AS (
        |  SELECT c0, c1,
        |    CAST(coalesce(sum(c1) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS f1x
        |  FROM pv),
        |s AS (
        |  SELECT
        |    CAST(sum(CAST(c0 * 2 AS DECIMAL(19,0)) * CAST(f1x AS DECIMAL(19,0))
        |      + CAST(c0 AS DECIMAL(19,0)) * CAST(c1 AS DECIMAL(19,0)))
        |      AS DOUBLE) AS u2,
        |    CAST(sum(CAST(round(
        |      CAST(c0 + c1 AS DOUBLE) * (c0 + c1) * (c0 + c1) - (c0 + c1), 0)
        |      AS DECIMAL(38,0))) AS DOUBLE) AS ties
        |  FROM c)
        |SELECT n0, n1, u2 / 2 AS u,
        |  round((u2 / 2 - CAST(n0 AS DOUBLE) * n1 / 2)
        |    / sqrt(CAST(n0 AS DOUBLE) * n1 / 12
        |      * ((CAST(n0 AS DOUBLE) + n1 + 1)
        |        - ties / ((CAST(n0 AS DOUBLE) + n1)
        |          * (CAST(n0 AS DOUBLE) + n1 - 1)))), 6) AS z
        |FROM s, t""".stripMargin,

    // The FLAT global-window form again — the Spark side runs the same
    // 256-band ECDF and U sum as agg_mannwhitney_u with the class flag
    // swapped from user parity to event_type.
    "agg_roc_auc" ->
      """WITH pv AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM events WHERE value IS NOT NULL GROUP BY value),
        |t AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
        |             CAST(sum(cn) AS BIGINT) AS nn FROM pv),
        |c AS (
        |  SELECT cp, cn,
        |    CAST(coalesce(sum(cn) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS fnx
        |  FROM pv),
        |s AS (
        |  SELECT
        |    CAST(sum(CAST(cp * 2 AS DECIMAL(19,0)) * CAST(fnx AS DECIMAL(19,0))
        |      + CAST(cp AS DECIMAL(19,0)) * CAST(cn AS DECIMAL(19,0)))
        |      AS DOUBLE) AS a2
        |  FROM c)
        |SELECT np AS n_pos, nn AS n_neg,
        |  round(a2 / 2 / (CAST(np AS DOUBLE) * nn), 6) AS auc,
        |  round(a2 / (CAST(np AS DOUBLE) * nn) - 1, 6) AS gini_ar
        |FROM s, t""".stripMargin,

    "agg_calibration_bins" ->
      """WITH rng AS (
        |  SELECT min(value) AS lo, max(value) AS hi FROM events
        |  WHERE value IS NOT NULL),
        |b AS (
        |  SELECT least(9, CAST(floor((value - lo) / (hi - lo) * 10)
        |      AS BIGINT)) AS bin,
        |    floor((value - lo) / (hi - lo) * 1000000 + 0.5) / 1000000.0
        |      AS ps,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events, rng WHERE value IS NOT NULL),
        |g AS (
        |  SELECT bin, count(*) AS n_events,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    floor(CAST(sum(CAST(ps AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(*) * 1000000 + 0.5) / 1000000.0 AS avg_score
        |  FROM b GROUP BY bin),
        |r AS (
        |  SELECT bin, n_events, n_pos, avg_score,
        |    floor(CAST(n_pos AS DOUBLE) / n_events * 1000000 + 0.5)
        |      / 1000000.0 AS pos_rate
        |  FROM g),
        |gg AS (
        |  SELECT bin, n_events, n_pos, avg_score, pos_rate,
        |    floor(abs(avg_score - pos_rate) * 1000000 + 0.5) / 1000000.0
        |      AS gap
        |  FROM r)
        |SELECT bin, n_events, n_pos, avg_score, pos_rate, gap,
        |  floor(CAST(sum(CAST(gap AS DECIMAL(10,6))
        |        * CAST(n_events AS DECIMAL(19,0))) OVER ()
        |      AS DOUBLE)
        |    / CAST(sum(n_events) OVER () AS BIGINT) * 1000000 + 0.5)
        |    / 1000000.0 AS ece
        |FROM gg ORDER BY bin""".stripMargin,

    // Type-1 order-statistic quartiles by exact integer ranks — both
    // engines pick identical data VALUES, so the fence arithmetic and
    // comparisons are IEEE-identical (no interpolation ulp to straddle).
    "agg_tukey_outliers" ->
      """WITH t AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders),
        |q AS (
        |  SELECT o_orderstatus,
        |    max(CASE WHEN rn = ceil(n * 0.25) THEN o_totalprice END) AS q1,
        |    max(CASE WHEN rn = ceil(n * 0.75) THEN o_totalprice END) AS q3
        |  FROM t GROUP BY 1),
        |f AS (
        |  SELECT o_orderstatus, q1, q3,
        |    q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        |  FROM q)
        |SELECT o.o_orderstatus, count(*) AS n_orders,
        |  round(max(q1), 4) AS q1, round(max(q3), 4) AS q3,
        |  round(max(lo), 4) AS lo_fence, round(max(hi), 4) AS hi_fence,
        |  CAST(sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high
        |FROM orders o JOIN f USING (o_orderstatus)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_trimmed_mean" ->
      s"""WITH t AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS n_kept,
        |  ${oAvg("o_totalprice")} AS trimmed_mean
        |FROM t WHERE rn > ceil(n * 0.05) AND rn <= ceil(n * 0.95)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_spearman_corr" ->
      """WITH li AS (SELECT l_quantity AS x, l_discount AS y FROM lineitem),
        |rx AS (
        |  SELECT x, CAST(2 * (sum(cnt) OVER (ORDER BY x) - cnt) + cnt + 1
        |    AS BIGINT) AS r2_x
        |  FROM (SELECT x, count(*) AS cnt FROM li GROUP BY x)),
        |ry AS (
        |  SELECT y, CAST(2 * (sum(cnt) OVER (ORDER BY y) - cnt) + cnt + 1
        |    AS BIGINT) AS r2_y
        |  FROM (SELECT y, count(*) AS cnt FROM li GROUP BY y)),
        |j AS (
        |  SELECT CAST(r2_x AS DECIMAL(19,0)) AS rx,
        |         CAST(r2_y AS DECIMAL(19,0)) AS ry
        |  FROM li JOIN rx USING (x) JOIN ry USING (y)),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
        |    CAST(sum(rx * rx) AS DOUBLE) AS sxx,
        |    CAST(sum(ry * ry) AS DOUBLE) AS syy,
        |    CAST(sum(rx * ry) AS DOUBLE) AS sxy
        |  FROM j)
        |SELECT n, round((n * sxy - sx * sy)
        |  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS rho
        |FROM s""".stripMargin,

    "agg_percentile" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS median,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS q3
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_rollup" ->
      s"""SELECT c_mktsegment, c_nationkey, count(*) AS n, ${oSum("c_acctbal")} AS bal
        |FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin,

    "agg_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, ${oSum("o_totalprice")} AS value
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, ${oSum("o_totalprice")} AS value
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "agg_mode_deterministic" ->
      """SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, count(*) AS n, row_number()
        |    OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rk
        |  FROM events GROUP BY user_id, event_type) t
        |WHERE rk = 1 ORDER BY user_id""".stripMargin,

    "subquery_correlated" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o1
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / count(*)
        |  FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "agg_entropy" ->
      """SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |  round(-sum((n / tot) * ln(n / tot)), 6) + 0.0 AS entropy
        |FROM (
        |  SELECT user_id, n,
        |    CAST(sum(n) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
        |  FROM (
        |    SELECT user_id, event_type, count(*) AS n
        |    FROM events GROUP BY 1, 2) c) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Exactness-domain oracle: 5 distinct values < maxItemsTracked →
    // sketch counts equal the exact rollup.
    "agg_heavy_hitters" ->
      """SELECT event_type AS item, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY n DESC, item""".stripMargin,

    "agg_topk_merge" ->
      """SELECT event_type AS item, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY n DESC, item""".stripMargin,

    "agg_bool" ->
      """SELECT o_orderpriority,
        |  bool_and(o_totalprice > 850) AS all_over_850,
        |  bool_or(o_totalprice > 400000) AS any_over_400k,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Window-rank reconstruction of argmax/argmin with the same
    // (price, key) tie-break the Spark struct ordering encodes.
    "agg_max_by" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rt,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rb
        |  FROM orders)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rt = 1 THEN o_orderkey END) AS top_orderkey,
        |  max(CASE WHEN rt = 1 THEN o_totalprice END) AS top_price,
        |  max(CASE WHEN rb = 1 THEN o_orderkey END) AS bottom_orderkey,
        |  max(CASE WHEN rb = 1 THEN o_totalprice END) AS bottom_price
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The oracle is the DIRECT full aggregation — equality proves
    // merging per-segment partials reproduces the recompute exactly.
    "merge_incremental_agg" ->
      s"""SELECT event_type, count(*) AS n_events,
        |  ${oSum("value")} AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "subquery_scalar" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 2 * (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
        |  FROM customer)
        |ORDER BY c_custkey""".stripMargin,

    "subquery_in" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 300000
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin,

    "subquery_not_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "join_lateral" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) top2
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey, o_orderkey""".stripMargin,

    "reshape_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "reshape_unpivot" ->
      """SELECT c_custkey, metric, val FROM (
        |  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey_d' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer)
        |ORDER BY c_custkey, metric""".stripMargin,

    "sort_multi_key" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_returnflag
        |FROM lineitem WHERE l_orderkey % 15 = 0
        |ORDER BY l_shipdate DESC, l_returnflag ASC, l_orderkey DESC, l_linenumber ASC""".stripMargin,

    "sort_limit_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "set_union_all" ->
      """SELECT name, bal FROM (
        |  SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal > 9000
        |  UNION ALL
        |  SELECT s_name AS name, s_acctbal AS bal FROM supplier WHERE s_acctbal > 9000)
        |ORDER BY name, bal""".stripMargin,

    "set_union_distinct" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,

    "set_intersect" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < 0
        |  INTERSECT
        |  SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000)
        |ORDER BY nationkey""".stripMargin,

    "set_except" ->
      """SELECT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < 0
        |  EXCEPT
        |  SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000)
        |ORDER BY nationkey""".stripMargin,

    "distinct_rows" ->
      """SELECT c_nationkey, c_mktsegment, min(c_custkey) AS keep_custkey, count(*) AS n_dups
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin
  )
}

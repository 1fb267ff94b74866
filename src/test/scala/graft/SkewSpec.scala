package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew mitigation patterns for the 100 TB path (SURVEY.md §4b):
  * salted two-phase aggregation must equal the direct aggregation, and
  * AQE's skew-join handling stays enabled in the harness sessions.
  */
class SkewSpec extends AnyFunSuite with GraftSuite {
  test("salted two-phase aggregation equals direct aggregation") {
    val sp = spark
    import sp.implicits._
    // Skewed input: 90% of rows share one key (the hot key a real
    // pipeline salts), exact decimal measure so equality is bitwise.
    val skewed = spark.range(0, 100000)
      .select(
        when(col("id") % 10 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id") % 97)).as("key"),
        (col("id") % 1000).cast("decimal(18,2)").as("v"))

    val direct = skewed.groupBy("key")
      .agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      .orderBy("key").collect().toSeq

    // Phase 1 partial-aggregates on (key, salt); phase 2 merges per key.
    // At 100 TB the phase-1 shuffle spreads the hot key over 32 reducers
    // instead of one.
    val salted = skewed
      .withColumn("salt", pmod(hash(col("v")), lit(32)))
      .groupBy("key", "salt")
      .agg(sum(col("v")).as("pt"), count(lit(1)).as("pn"))
      .groupBy("key")
      .agg(sum(col("pt")).as("total"), sum(col("pn")).as("n"))
      .orderBy("key").collect().toSeq

    assert(salted === direct)
  }

  test("join_skew_salted equals the unsalted join and spreads the hot key") {
    val sf = "/root/testdata/sf0.001"
    val salted = SparkEntry.queries("join_skew_salted")(spark, sf)
      .collect().toSeq
    // The unsalted twin of the query (what the DuckDB oracle computes),
    // built with the same DataFrame ops so equality is engine-internal.
    val fact = Tables.lineitem(spark, sf).select(
      when(col("l_orderkey") % 3 === 0, 0L)
        .otherwise(pmod(col("l_orderkey"), lit(997))).as("k"),
      col("l_extendedprice"))
    val dim = Tables.part(spark, sf)
      .groupBy(pmod(col("p_partkey"), lit(997)).as("k"))
      .agg(count(lit(1)).as("n_parts"))
    val plain = fact.join(dim, Seq("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_items"),
        Tables.dsum(col("l_extendedprice")).as("total_price"),
        max(col("n_parts")).as("n_parts"))
      .orderBy("k").collect().toSeq
    assert(salted === plain)
    // The skew premise holds: key 0 really is hot (~1/3 of the fact).
    val hot = salted.find(_.getLong(0) == 0L).get.getLong(1)
    val total = salted.map(_.getLong(1)).sum
    assert(hot > total / 4, s"hot key carries only $hot of $total rows")
  }

  test("AQE and its skew-join handling are on in harness sessions") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
  }

  test("AQE actually splits a skewed join partition at runtime") {
    // The conf check above says the lever exists; this witnesses it
    // firing: a 90%-one-key fact joined to a dim, with the skew
    // thresholds scaled down to test size, must re-plan mid-query into
    // an SMJ flagged isSkewJoin — the hot partition read in slices by
    // several tasks instead of one straggler. Asserted on the adaptive
    // plan's FINAL node types after execution, not on plan strings.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10k")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10k")
    val left = s2.range(0, 200000).select(
      when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id") % 1000).as("k"),
      col("id").as("v"))
    val right = s2.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = left.join(right, "k")
    // Every left key is in [0, 1000), so each left row joins exactly once.
    assert(joined.collect().length === 200000)
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // QueryStageExec nodes are leaves (their materialized plan is not a
    // child), so plain collect() stops at them — flatten through.
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      })
    val skewSmjs = flatten(finalPlan).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec if j.isSkewJoin => j
    }
    assert(skewSmjs.nonEmpty,
      s"expected a skew-split SortMergeJoin in the final adaptive plan:\n$finalPlan")
  }

  test("AQE coalesces an over-partitioned tiny shuffle at runtime") {
    // The complement of the skew-split witness: shuffle.partitions is a
    // static guess (32 in harness sessions, sized for sf0.1); when a
    // stage's actual output is tiny, AQE must merge the post-shuffle
    // partitions down so 100 small aggregates don't occupy 32 near-empty
    // tasks. Witnessed on the final adaptive plan: an AQEShuffleRead
    // whose partition count came out below the static setting.
    val s4 = spark.newSession()
    s4.conf.set("spark.sql.shuffle.partitions", "32")
    val agg = s4.range(0, 10000).groupBy((col("id") % 100).as("k")).count()
    assert(agg.collect().length === 100)
    val finalPlan = agg.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def flatten(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatten(q.plan)
        case _ => p.children.flatMap(flatten)
      })
    val reads = flatten(finalPlan).collect {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(reads.nonEmpty, s"no AQEShuffleRead in the final plan:\n$finalPlan")
    assert(reads.exists(_.partitionSpecs.length < 32),
      s"AQE left all 32 post-shuffle partitions in place:\n$finalPlan")
  }

  test("runtime bloom filter from a selective dim prunes the fact-side shuffle") {
    // The third runtime join lever after DPP and skew-split: Catalyst's
    // InjectRuntimeFilter builds a bloom filter over the filtered dim's
    // join keys and applies might_contain() to the fact side BEFORE its
    // shuffle, so at 100 TB the exchange carries only rows that can
    // join. The application-side size gate (10 GB default) is scaled to
    // test size; the semantics lever itself is what's witnessed.
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s3.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // SMJ, not broadcast
    val sf = "/root/testdata/sf0.001"
    val fact = Tables.orders(s3, sf)
    val dim = Tables.customer(s3, sf).filter(col("c_mktsegment") === "BUILDING")
    val joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("might_contain"),
      s"no runtime bloom filter injected on the fact side:\n$optimized")
    assert(optimized.contains("bloom_filter_agg"),
      s"no bloom filter aggregate on the dim side:\n$optimized")
    // And the filtered result is still exactly the join semantics.
    val expect = fact.join(dim.hint("broadcast"), col("o_custkey") === col("c_custkey")).count()
    assert(joined.count() === expect)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bucketing = the production co-location strategy for the 100 TB fact
  * tables (SURVEY.md §4b partition-layout note): writing both join sides
  * bucketed on the join key lets the sort-merge join run with ZERO
  * shuffle exchanges — the property this spec pins on the physical plan.
  */
class BucketingSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  test("bucketed join on the bucket key plans with zero exchanges") {
    // External tables in a suite temp dir: the shared session's
    // warehouse dir is not this suite's to fill.
    val dir = tempDir("graft_warehouse")
    Tables.lineitem(spark, sf)
      .write.mode("overwrite").option("path", s"$dir/li")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.mode("overwrite").option("path", s"$dir/o")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val joined = s2.sql(
      "SELECT * FROM li_bucketed JOIN o_bucketed ON l_orderkey = o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString

    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")
    // Same result as the shuffling join over the raw files.
    val rawLi = Tables.lineitem(spark, sf)
    val rawO = Tables.orders(spark, sf)
    assert(joined.count() ===
      rawLi.join(rawO, rawLi("l_orderkey") === rawO("o_orderkey")).count())
  }

  test("join_bucketed_colocated executes after dropping its catalog entries") {
    // The query drops its app-scoped graft_*_bkt_* tables as soon as the
    // result plan is analyzed (catalog hygiene for long-lived sessions);
    // the resolved relations must keep pinning the external files, so
    // execution after the DROP has to still produce rows — and the
    // session must be left with no graft_* tables behind.
    val df = SparkEntry.queries("join_bucketed_colocated")(spark, sf)
    assert(df.collect().nonEmpty)
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("graft_")),
      "join_bucketed_colocated leaked catalog tables")
  }

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    super.afterAll()
  }
}

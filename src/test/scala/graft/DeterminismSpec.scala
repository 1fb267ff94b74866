package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Determinism double-run (SURVEY.md §5.5): every query executed twice
  * under different shuffle-partition counts must produce byte-identical
  * rows — catches missing ORDER BYs and float-order instability before
  * the driver's hash compare does.
  */
class DeterminismSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  test("every query is stable across shuffle-partition counts") {
    val alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val q = SparkEntry.queries(name)
      val r1 = q(spark, sf).collect().map(_.toString).toSeq
      // Clear BETWEEN the two runs, not just after: both sessions share
      // one CacheManager, so without this the alt-session run would be
      // served the partitions=4 cached blocks for the persist()ing
      // queries instead of recomputing under partitions=7 — exactly the
      // configuration difference this spec exists to exercise.
      spark.catalog.clearCache()
      val r2 = q(alt, sf).collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      if (r1 == r2) None
      else Some(s"$name (${r1.length} vs ${r2.length} rows, first diff: " +
        r1.zip(r2).find { case (a, b) => a != b }.orElse(
          Some((r1.lift(r2.length).getOrElse("-"), r2.lift(r1.length).getOrElse("-")))) + ")")
    }
    assert(bad.isEmpty, s"nondeterministic queries:\n${bad.mkString("\n")}")
  }

  test("custom-kernel queries agree between codegen and interpreted eval") {
    // Every custom Expression ships two implementations: doGenCode (the
    // codegen path PlanSpec pins into WholeStageCodegen) and eval (the
    // interpreted fallback Spark uses when codegen is disabled or
    // compilation fails). Divergence between them is a silent-corruption
    // bug class the oracle can't see (it only ever runs one path), so
    // run every kernel-bearing query under NO_CODEGEN and require
    // byte-identical rows.
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val kernelQueries = Seq(
      "text_fingerprint",   // RollingHash
      "text_langid",        // CharNGrams + array scoring
      "udtf_ngrams",        // WordShingles
      "dedup_minhash",      // MinHashAgg (TypedImperativeAggregate)
      "dedup_simhash",      // SimHashAgg
      "dedup_ngram_jaccard",// SortedIntersectSize
      "dedup_embedding",    // LshBucket
      "sim_ann_multitable", // LshBucket planeOffset path (offsets 8/16)
      "sim_cosine_topk",    // DotProductF
      "udf_chmod_parse",    // Chmod kernel
      "text_winnowing")     // WinnowedPrints (rolling hash + deque min)
    val bad = kernelQueries.flatMap { name =>
      val q = SparkEntry.queries(name)
      val r1 = q(spark, sf).collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      val r2 = q(interp, sf).collect().map(_.toString).toSeq
      spark.catalog.clearCache()
      if (r1 == r2) None else Some(name)
    }
    assert(bad.isEmpty, s"codegen/interpreted divergence in: ${bad.mkString(", ")}")
  }

  test("observe() collects audit metrics on the same pass as the query") {
    // The production-monitoring surface: a pipeline wants row counts and
    // quality tallies from every run WITHOUT a second scan. Observation
    // attaches named aggregates to the existing job — the metrics here
    // must match dedicated recomputations while the observed query did
    // its own, different work.
    val obs = Observation("audit")
    val o = Tables.orders(spark, sf)
    val out = o.observe(obs,
        count(lit(1)).as("rows_in"),
        sum(when(col("o_totalprice") > 150000, 1L).otherwise(0L)).as("big_orders"))
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .collect()
    assert(out.nonEmpty)
    val m = obs.get
    assert(m("rows_in") === o.count())
    assert(m("big_orders") === o.filter(col("o_totalprice") > 150000).count())
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the statistical operators that the row-hash
  * oracle can't articulate: the z-score flag set against an independent
  * recompute, the corr matrix against Spark's built-in corr, the
  * kmeans-step invariants (partition of the corpus, centroid = member
  * mean), the unigram-LM score ordering.
  */
class StatsSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  test("ts_anomaly_zscore flags exactly the >3-sample-sigma events") {
    val flagged = SparkEntry.queries("ts_anomaly_zscore")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Independent collect-side recompute of the SAME formula the query
    // (and oracle) use: exact decimal Σv/Σv², then the one-pass
    // E[x²]−E[x]² variance in doubles — a different variance formula
    // could differ by an ulp at the |z|≈3 boundary, which would be a
    // test artifact, not a query bug.
    val byUser = Tables.events(spark, sf)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    // .iterator: flatMap on a Map with tuple results would rebuild a
    // MAP keyed by user — silently keeping one flagged event per user.
    val expected = byUser.iterator.flatMap { case (u, rows) =>
      val n = rows.length
      if (n < 2) Seq.empty[(Long, Long)]
      else {
        val dv = rows.map(r => BigDecimal(r._3).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        val sx = dv.sum.toDouble
        val sxx = dv.map(d => d * d).sum.toDouble
        val m2 = sxx - sx * sx / n
        if (m2 <= 0) Seq.empty[(Long, Long)]
        else {
          val sd = math.sqrt(m2 / (n - 1))
          val mean = sx / n
          rows.filter(r => math.abs((r._3 - mean) / sd) > 3)
            .map(r => (u, r._2)).toSeq
        }
      }
    }.toSet
    assert(flagged.nonEmpty, "no anomalies at sf0.001 — fixture too tame?")
    // Double-vs-decimal recompute can disagree only within float noise of
    // the 3σ boundary; require symmetric-difference z-distance < 1e-9.
    val qOnly = flagged diff expected
    val rOnly = expected diff flagged
    assert(qOnly.isEmpty && rOnly.isEmpty,
      s"flag set mismatch: query-only=$qOnly recompute-only=$rOnly")
  }

  test("agg_corr_matrix matches built-in corr to 1e-5 and stays in [-1,1]") {
    val rows = SparkEntry.queries("agg_corr_matrix")(spark, sf).collect()
    assert(rows.length === 6)
    val li = Tables.lineitem(spark, sf)
    rows.foreach { r =>
      val (x, y, c) = (r.getString(0), r.getString(1), r.getDouble(2))
      assert(math.abs(c) <= 1.0 + 1e-12)
      val builtin = li.agg(corr(col(x), col(y))).head().getDouble(0)
      assert(math.abs(c - builtin) < 1e-5, s"($x,$y): $c vs builtin $builtin")
    }
  }

  test("sim_kmeans_step partitions the corpus and emits member means") {
    val rows = SparkEntry.queries("sim_kmeans_step")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val nVec = Tables.embeddings(spark, sf).count()
    val dims = rows.keys.map(_._2).toSet
    assert(dims === (0 until 64).toSet, "every dimension must be present")
    // Per-dimension member counts sum to the corpus size (assignment is
    // a partition: every vector lands in exactly one cluster).
    dims.foreach { dim =>
      val tot = rows.collect { case ((_, d), (n, _)) if d == dim => n }.sum
      assert(tot === nVec, s"dim $dim: members $tot != corpus $nVec")
    }
    // A cluster's n_members is identical across its dimensions.
    rows.keys.map(_._1).toSet.foreach { (cid: Int) =>
      val ns = rows.collect { case ((c, _), (n, _)) if c == cid => n }.toSet
      assert(ns.size === 1, s"cluster $cid: inconsistent member counts $ns")
    }
    // Centroids are means of member values → bounded by the value range.
    val bounds = Tables.embeddings(spark, sf)
      .select(explode(col("embedding")).as("v"))
      .agg(min("v"), max("v")).head()
    val (lo, hi) = (bounds.getFloat(0).toDouble, bounds.getFloat(1).toDouble)
    rows.values.foreach { case (_, c) =>
      assert(c >= lo - 1e-6 && c <= hi + 1e-6, s"centroid $c outside [$lo,$hi]")
    }
  }

  test("scan_bloom_skipping layout: bloom present, dictionary off, probe exact") {
    // Executing the query also writes the one-time scattered layout
    // (and its skippingGate require() already proves the scan emitted
    // <half the table). Here: pin that the mechanism is really the
    // BLOOM FILTER — footer carries one for l_orderkey, dictionary
    // encoding is off for that column (so dictionary filtering can't
    // be the pruner), and the probe returns exactly the source rows.
    val got = SparkEntry.queries("scan_bloom_skipping")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val want = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey").isin(1L, 32L, 69L))
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(got.nonEmpty && got.toSeq === want.toSeq)
    val layout = Tables.scratch(spark, "bloom_li", sf)
    val parts = new java.io.File(layout).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty, s"no part files under $layout")
    val conf = spark.sparkContext.hadoopConfiguration
    parts.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getRowGroups.forEach { rg =>
          val okCol = rg.getColumns.asScala
            .find(_.getPath.toDotString == "l_orderkey").get
          assert(okCol.getBloomFilterOffset >= 0,
            s"${p.getName}: l_orderkey row group lacks a bloom filter")
          assert(!okCol.getEncodings.asScala.exists(_.usesDictionary),
            s"${p.getName}: l_orderkey unexpectedly dictionary-encoded")
        }
      } finally reader.close()
    }
  }

  test("text_unigram_logprob scores rare-token docs below common-token docs") {
    val scored = SparkEntry.queries("text_unigram_logprob")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val nDocs = Tables.documents(spark, sf).count()
    assert(scored.size.toLong === nDocs, "every doc must be scored")
    // All log-probabilities are negative and n_tokens matches the
    // whitespace tokenization.
    val wsCounts = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scored.foreach { case (id, (n, lp)) =>
      assert(lp < 0, s"doc $id: logprob $lp must be negative")
      assert(n === wsCounts(id), s"doc $id: token count $n != ws ${wsCounts(id)}")
    }
    // Spot-verify one doc's score end-to-end with an independent
    // recompute of the corpus unigram LM.
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cnt = toks.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val tot = cnt.values.sum.toDouble
    val someDoc = toks.head._1
    val lps = toks.filter(_._1 == someDoc)
      .map(t => BigDecimal(math.log(cnt(t._2) / tot))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val expected = math.floor(lps.sum / lps.length * 1e6 + 0.5) / 1e6
    assert(math.abs(scored(someDoc)._2 - expected) < 1e-6,
      s"doc $someDoc: ${scored(someDoc)._2} vs recomputed $expected")
  }

  test("agg_moments matches an exact collect-side recompute") {
    val got = SparkEntry.queries("agg_moments")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val rows = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1)
    rows.foreach { case (flag, xs) =>
      val q = xs.map(_._2)
      val n = q.length.toDouble
      // Same exact-decimal-capture → double → formula pipeline as the
      // query and its oracle; sums are exact, so equality holds to the
      // emitted 6-dp rounding.
      val s1 = q.sum.toDouble
      val s2 = q.map(x => x * x).sum.toDouble
      val s3 = q.map(x => x * x * x).sum.toDouble
      val s4 = q.map(x => x * x * x * x).sum.toDouble
      val mu = s1 / n
      val m2 = s2 / n - mu * mu
      val m3 = s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu
      val m4 = s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * mu * mu * mu * mu
      val (gn, gMean, gSkew, gKurt) = got(flag)
      assert(gn === q.length.toLong)
      assert(math.abs(gMean - mu) < 1e-6, s"$flag mean: $gMean vs $mu")
      assert(math.abs(gSkew - m3 / math.pow(m2, 1.5)) < 1e-6, s"$flag skew")
      assert(math.abs(gKurt - (m4 / (m2 * m2) - 3)) < 1e-6, s"$flag kurt")
    }
  }
}

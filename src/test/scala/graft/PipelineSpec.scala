package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

/** LLM-pipeline operators that have no SQL oracle (SURVEY.md §5.2):
  * minhash recall on planted near-dups, ANN candidate soundness,
  * approx_count_distinct accuracy, trigram generator counts.
  */
class PipelineSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  test("dedup_minhash finds planted near-duplicates") {
    val sp = spark
    import sp.implicits._
    // Plant dups: for each source doc (ids 0..49), a copy with one word
    // changed → shingle-jaccard stays high; copies get ids 10000+i.
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
      .select("doc_id", "text").as[(Long, String)].collect()
    val planted = docs.map { case (id, text) =>
      val words = text.split(" ")
      words(words.length / 2) = "XREPLACEDX"
      (id + 10000L, words.mkString(" "))
    }
    val all = (docs ++ planted).toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("graft_minhash").toString
    all.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cand = SparkEntry.queries("dedup_minhash")(spark, tmp)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = docs.count { case (id, _) => cand.contains((id, id + 10000L)) }
    // K=16/B=4/R=4 banding: P(candidate) ≈ 1-(1-j^4)^4 — planted pairs
    // have shingle-jaccard ≈ 0.9+ → expect ≳85% recall.
    assert(found >= 40, s"minhash recall too low: $found/50 planted dups found")
  }

  test("sim_ann_lsh candidates carry exact cosines from the brute-force set") {
    val sp = spark
    import sp.implicits._
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .as[(Long, Double)].collect().toMap
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf)
      .select("vec_id", "cos").as[(Long, Double)].collect()
    assert(ann.nonEmpty, "ANN returned no candidates")
    // Each ANN hit's cosine must equal the brute-force cosine for that id
    // (brute holds top-20 only, so compare where present).
    ann.foreach { case (id, c) =>
      brute.get(id).foreach(b => assert(math.abs(b - c) < 1e-9, s"cos mismatch for $id"))
    }
  }

  test("dedup_simhash finds planted near-duplicates") {
    val sp = spark
    import sp.implicits._
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
      .select("doc_id", "text").as[(Long, String)].collect()
    val planted = docs.map { case (id, text) =>
      val words = text.split(" ")
      words(words.length / 2) = "XREPLACEDX"
      (id + 10000L, words.mkString(" "))
    }
    val all = (docs ++ planted).toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("graft_simhash").toString
    all.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cand = SparkEntry.queries("dedup_simhash")(spark, tmp)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = docs.count { case (id, _) => cand.contains((id, id + 10000L)) }
    assert(found >= 40, s"simhash recall too low: $found/50 planted dups found")
  }

  test("fixture similarity gap: no shared-shingle pair in [0.3, 0.8) jaccard") {
    // The dedup_minhash/dedup_simhash oracles rely on a corpus-wide
    // similarity GAP: every pair sharing a 5-word shingle is either
    // near-identical (jaccard ≥ 0.8 — banding recovers it) or far apart
    // (< 0.3 — the exact-verify tail drops it), so sketch candidates ∩
    // exact-truth EQUALS brute-force truth. A fixture edit that plants a
    // borderline-similarity pair would break those hash gates opaquely;
    // this test pins the assumption at the fixture layer so the failure
    // lands here, with a readable message, at both the test tier and the
    // driver's verify tier.
    for (tier <- Seq(sf, "/root/testdata/sf0.01")) {
      val shs = spark.read.parquet(s"$tier/documents.parquet")
        .select(col("doc_id"), call_function("graft_shingles", col("text")).as("shs"))
        .filter(size(col("shs")) > 0)
      val tok = shs.select(col("doc_id"), explode(col("shs")).as("sh"))
      val inter = tok.as("a")
        .join(tok.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_i"))
      val sizes = shs.select(col("doc_id"), size(col("shs")).as("n"))
      val jac = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
        .select((col("n_i").cast("double") /
          (col("n_a") + col("n_b") - col("n_i"))).as("jac"))
      val inGap = jac.filter(col("jac") >= 0.3 && col("jac") < 0.8).count()
      assert(inGap == 0,
        s"$tier: $inGap shared-shingle pairs fall inside the [0.3, 0.8) " +
          "similarity gap the sketch oracles assume — re-derive the " +
          "dedup_minhash/dedup_simhash oracle strategy before shipping this fixture")
      // The gap must be non-vacuous: pairs exist on both sides of it.
      assert(jac.filter(col("jac") >= 0.8).count() > 0, s"$tier: no near-dup pairs")
      assert(jac.filter(col("jac") < 0.3).count() > 0, s"$tier: no far pairs")
    }
  }

  test("decontaminate_ngram flags a training doc planted from the eval split") {
    val sp = spark
    import sp.implicits._
    // Pick a real doc that lands in eval (bucket >= 80 under the
    // md5 split), then plant a train-bucketed copy of its text. The
    // copy shares every shingle with the eval doc → must be counted
    // contaminated. Bucket membership is pinned by recomputing the
    // md5 arithmetic here, not assumed.
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-split:$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16) % 100
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect()
    // ≥ 5 words, or the planted copy yields no shingles to collide on.
    val evalDoc = docs.find(d =>
      bucket(d._1) >= 80 && d._2.split(" ").length >= 5).get
    val plantedId = (100000L to 100100L).find(bucket(_) < 80).get
    val all = (docs :+ ((plantedId, evalDoc._2, evalDoc._3))).toSeq
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val tmp = tempDir("graft_decon").toString
    all.coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val tmpBase = tempDir("graft_decon0").toString
    all.filter(col("doc_id") =!= plantedId).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmpBase/documents.parquet")
    val without = SparkEntry.queries("decontaminate_ngram")(spark, tmpBase)
      .filter(col("lang") === evalDoc._3)
      .select("n_contaminated").as[Long].head()
    val withPlant = SparkEntry.queries("decontaminate_ngram")(spark, tmp)
      .filter(col("lang") === evalDoc._3)
      .select("n_contaminated").as[Long].head()
    assert(withPlant === without + 1,
      s"planted train copy of an eval doc not flagged ($without -> $withPlant)")
  }

  test("pack_sequences bins are contiguous and conserve tokens") {
    val sp = spark
    import sp.implicits._
    val bins = SparkEntry.queries("pack_sequences")(spark, sf)
      .select("lang", "shard", "bin", "n_docs", "n_tokens")
      .as[(String, Long, Long, Long, Long)].collect()
    val totalTokens = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long")).as[Long]
      .collect().sum
    assert(bins.map(_._5).sum === totalTokens, "packing lost or duplicated tokens")
    // Bin ids start at 0 and are distinct per (lang, shard). They need
    // NOT be contiguous: a doc longer than the 2048-token budget makes
    // its successor skip bin indices by design (start-offset division).
    for (((_, _), group) <- bins.groupBy(b => (b._1, b._2))) {
      val ids = group.map(_._3).sorted
      assert(ids.head === 0L, s"first bin not 0: ${ids.mkString(",")}")
      assert(ids.distinct.length === ids.length, s"duplicate bin ids: ${ids.mkString(",")}")
    }
  }

  test("sample_stratified is deterministic and respects per-stratum rates") {
    val a = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    val b = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    assert(a.toSeq === b.toSeq, "sample changed between runs")
    // Loose rate check: en strata keep ~50%, others ~20% (md5 buckets
    // are uniform; at fixture size allow wide tolerance).
    val byLang = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = a.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length }
    for ((lang, n) <- sampled) {
      val rate = n.toDouble / byLang(lang)
      val want = if (lang == "en") 0.5 else 0.2
      assert(math.abs(rate - want) < 0.15,
        s"$lang sampled at $rate, wanted ~$want")
    }
  }

  test("pipeline_clean_corpus removes planted exact and near duplicates") {
    val sp = spark
    import sp.implicits._
    val base = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source").as[(Long, String, String, String)]
      .collect()
    // Plant: an exact copy of doc 0 (dies at exact-dedup), a one-word
    // edit of doc 1 (word-jaccard stays ≥ 0.8 within the block → dies at
    // near-dedup), and a 3-word junk doc (dies at the quality floor).
    val (id0, t0, l0, s0) = base(0)
    val (id1, t1, l1, s1) = base(1)
    val edited = { val w = t1.split(" "); w(0) = "xplanted"; w.mkString(" ") }
    val planted = Seq(
      (90001L, t0, l0, s0), (90002L, edited, l1, s1),
      (90003L, "tiny junk doc", l0, s0))
    val all = (base.toSeq ++ planted).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val tmp = tempDir("graft_pipeline").toString
    all.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def totalDocs(dir: String): Long =
      SparkEntry.queries("pipeline_clean_corpus")(spark, dir)
        .agg(sum("n_docs")).collect()(0).getLong(0)
    val withPlants = totalDocs(tmp)
    val baseline = totalDocs(sf)
    // All three planted docs must be filtered out; the baseline corpus
    // itself passes through whatever its own dedup structure removes,
    // identically in both runs.
    assert(withPlants === baseline,
      s"planted docs leaked through the pipeline: $withPlants vs $baseline")
  }

  test("MinHashAgg sketch equals the per-slot min(xxhash64) column form") {
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
    val viaSketch = tok.groupBy("doc_id")
      .agg(call_function("graft_minhash16", col("w")).as("sig"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
    val minCols = (0 until 16).map(i => min(xxhash64(col("w"), lit(i))).as(s"m$i"))
    val viaCols = tok.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong(_)).toSeq)
    assert(viaSketch.toSeq === viaCols.toSeq)
  }

  test("sim_ann_ivf probes exactly two label lists with exact re-rank cosines") {
    val sp = spark
    import sp.implicits._
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sf)
      .select("vec_id", "label", "cos").as[(Long, Int, Double)].collect()
    assert(ivf.nonEmpty)
    assert(ivf.map(_._2).distinct.length <= 2, "IVF must probe <= 2 label lists")
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .as[(Long, Double)].collect().toMap
    ivf.foreach { case (id, _, c) =>
      brute.get(id).foreach(b => assert(math.abs(b - c) < 1e-9, s"cos mismatch for $id"))
    }
  }

  test("approx_count_distinct within 5% of exact") {
    // The query now emits (event_type, n_exact, approx_within_5pct);
    // re-derive exact independently and require every flag true.
    val got = SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got.keySet === exact.keySet)
    for ((k, e) <- exact) {
      assert(got(k)._1 === e, s"$k exact-count mismatch: ${got(k)._1} vs $e")
      assert(got(k)._2, s"$k: approx fell outside 5% of $e")
    }
  }

  test("udtf_ngrams counts match sliding-window arithmetic") {
    val sp = spark
    import sp.implicits._
    val row = SparkEntry.queries("udtf_ngrams")(spark, sf)
      .filter(col("doc_id") === 0).as[(Long, Long, Long)].collect().head
    val text = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .select("text").as[String].collect().head
    assert(row._2 === (text.length - 2).toLong) // n_tri = len-2
    assert(row._3 === text.sliding(3).toSet.size.toLong)
  }

  test("geomean UDAF equals direct computation") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("agg_udaf_geomean")(spark, sf)
      .select("p_brand", "geomean_price").as[(String, Double)].collect().toMap
    val prices = Tables.part(spark, sf).select("p_brand", "p_retailprice")
      .as[(String, Double)].collect().groupBy(_._1)
    for ((brand, vs) <- prices) {
      val expect = math.exp(vs.map(v => math.round(math.log(v._2) * 1e12)).sum / 1e12 / vs.size)
      assert(math.abs(got(brand) - expect) < 1e-3, s"$brand: ${got(brand)} vs $expect")
    }
  }

  test("dedup_embedding removes exactly the planted near-dup copies") {
    val sp = spark
    import sp.implicits._
    val survivors = SparkEntry.queries("dedup_embedding")(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val originals = Tables.embeddings(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    // Every planted copy (vec_id+100000, shifted +0.005 → cosine ≈ 0.999)
    // must be banded with, verified against, and removed in favor of its
    // lower-id original; no original is near any other (max cosine 0.47).
    assert(survivors === originals,
      s"expected the original ${originals.size} ids to survive, got ${survivors.size}")
  }

  test("dedup_semantic removes the planted copies and partitions survivors") {
    val sp = spark
    import sp.implicits._
    val out = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val survivors = out.map(_._1).toSet
    val originals = Tables.embeddings(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    // A planted copy sits ~0.005/component from its original, so both
    // land in the same nearest-centroid cluster and the copy (always the
    // higher id) is removed; originals have no ≥0.9-cosine partner.
    assert(survivors === originals,
      s"expected the original ${originals.size} ids to survive, got ${survivors.size}")
    // Cluster assignment must agree with the kmeans-step argmin family:
    // every survivor carries a cid in [0, 8).
    assert(out.forall { case (_, cid) => cid >= 0 && cid < 8 })
  }

  test("graph_pagerank_step conserves damped supplier mass") {
    val rows = SparkEntry.queries("graph_pagerank_step")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val n = rows.length
    val nSupp = rows.count(_._1 == "s")
    // Suppliers receive no in-edges: rank exactly the teleport term.
    rows.filter(_._1 == "s").foreach { case (_, id, pr) =>
      assert(math.abs(pr - 0.15 / n) < 1e-12, s"supplier $id pr=$pr")
    }
    // One damped step from uniform: total mass = teleport (0.15) plus
    // 0.85 × the mass suppliers held (each 1/N, fully distributed — sink
    // mass is dropped by design, so parts' 1/N never re-enters).
    val total = rows.map(_._3).sum
    assert(math.abs(total - (0.15 + 0.85 * nSupp.toDouble / n)) < 1e-6,
      s"total=$total n=$n nSupp=$nSupp")
  }

  /** The distinct (supplier, part) edges both converged graph keys
    * iterate over.
    */
  private def supplierPartEdges(): Seq[(Long, Long)] = {
    val sp = spark
    import sp.implicits._
    Tables.lineitem(spark, sf)
      .select(col("l_suppkey").cast("long"), col("l_partkey").cast("long"))
      .distinct().as[(Long, Long)].collect().toSeq
  }

  /** (ntype, node_id) -> value of a converged graph key's emission,
    * trained in this call: an artifact an earlier spec trained in this
    * JVM would not test the loop here.
    */
  private def emitted(key: String, value: String): Map[(String, Long), Double] = {
    val sp = spark
    import sp.implicits._
    ArtifactMemo.resetForTest()
    SparkEntry.queries(key)(spark, sf)
      .select(col("ntype"), col("node_id").cast("long"), col(value))
      .as[(String, Long, Double)].collect()
      .map { case (t, id, v) => (t, id) -> v }.toMap
  }

  /** Spark's round(x, k) on a double: HALF_UP on its decimal form. */
  private def roundHalfUp(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Tables.lsum: each value captured as a long at `scale` decimals. */
  private def lsum(xs: Iterable[Double], scale: Int): Double = {
    val f = math.pow(10, scale)
    xs.map(x => BigDecimal(x * f).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      .toDouble / f
  }

  test("graph_pagerank_converged emits a fixed point of one damped step") {
    val q = emitted("graph_pagerank_converged", "pr_n")
    val edges = supplierPartEdges()
    val n = q.size
    assert(n == edges.map(_._1).distinct.size + edges.map(_._2).distinct.size)
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    // Dangling mass: the exact sum of the parts' quantized q.
    val dmass = q.collect { case (("p", _), v) => BigDecimal(v).setScale(4) }.sum.toDouble
    val msum = edges.groupBy(_._2).map { case (p, es) =>
      p -> lsum(es.map { case (s, _) => roundHalfUp(q(("s", s)) / outdeg(s), 9) }, 9)
    }
    val changed = q.filter { case ((t, id), v) =>
      val m = if (t == "p") msum(id) else 0.0
      roundHalfUp(0.15 + 0.85 * (m + dmass / n), 4) != v
    }
    assert(changed.isEmpty, s"${changed.size} of $n nodes move in one more step: ${changed.take(5)}")
  }

  test("graph_hits_converged emits a fixed point of one HITS step, max-normalized to 1") {
    val score = emitted("graph_hits_converged", "score")
    val edges = supplierPartEdges()
    def side(t: String) = score.collect { case ((`t`, id), v) => id -> v }
    val (hub, auth) = (side("s"), side("p"))
    assert(hub.values.max == 1.0 && auth.values.max == 1.0, "a side's max score is not 1")
    def normalized(raw: Map[Long, Double]): Map[Long, Double] = {
      val m = raw.values.max
      raw.map { case (id, r) => id -> roundHalfUp(r / m, 4) }
    }
    val auth2 = normalized(edges.groupBy(_._2).map { case (p, es) => p -> lsum(es.map(e => hub(e._1)), 6) })
    val hub2 = normalized(edges.groupBy(_._1).map { case (s, es) => s -> lsum(es.map(e => auth2(e._2)), 6) })
    assert(auth2.keySet == auth.keySet && hub2.keySet == hub.keySet)
    val moved = auth.count { case (id, v) => auth2(id) != v } + hub.count { case (id, v) => hub2(id) != v }
    assert(moved == 0, s"$moved of ${score.size} scores move in one more step")
  }

  /** The embeddings corpus as (vec_id, embedding). */
  private def corpus(): Seq[(Long, Seq[Float])] =
    Tables.embeddings(spark, sf).select(col("vec_id").cast("long"), col("embedding"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** graft_dot: double-widened products summed in index order. */
  private def dotF(a: Seq[Float], b: Seq[Float]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)

  /** A converged trainer's emission, trained in this call. */
  private def trained(key: String): Array[Row] = {
    ArtifactMemo.resetForTest()
    SparkEntry.queries(key)(spark, sf).collect()
  }

  /** A Lloyd table, (j, cid, dim) -> (n_members, centroid). */
  private type Lloyd = Map[(Int, Int, Int), (Long, Double)]

  private def lloydTable(rows: Array[Row], j: Row => Int): Lloyd =
    rows.map(r => (j(r), r.getAs[Int]("cid"), r.getAs[Int]("dim")) ->
      ((r.getAs[Long]("n_members"), r.getAs[Double]("centroid")))).toMap

  /** One Lloyd sweep over (j, slice) rows from the codebook a table
    * feeds back (each centroid cast to float): dist² rounded half-up at
    * 1e-6 before the (dist2, cid) argmin, member values at 1e-6 through
    * the exact long capture, the mean through floor(·*1e6+0.5)/1e6.
    */
  private def lloydStep(slices: Seq[(Int, Seq[Float])], t: Lloyd): Lloyd = {
    val cb = t.toSeq.groupBy { case ((j, cid, _), _) => (j, cid) }.map { case (jc, ds) =>
      jc -> ds.sortBy(_._1._3).map(_._2._2.toFloat) }
    slices.map { case (j, v) =>
      val ee = dotF(v, v)
      val cid = cb.toSeq.collect { case ((`j`, c), ce) =>
        (BigDecimal(ee - 2.0 * dotF(v, ce) + dotF(ce, ce)).setScale(6, BigDecimal.RoundingMode.HALF_UP), c)
      }.min._2
      (j, cid, v)
    }.flatMap { case (j, cid, v) => v.indices.map(dim => (j, cid, dim) -> v(dim)) }
      .groupBy(_._1).map { case (k, xs) =>
        val n = xs.size.toLong
        val sum = lsum(xs.map(x => roundHalfUp(x._2.toDouble, 6)), 6)
        k -> ((n, math.floor(sum / n * 1000000 + 0.5) / 1000000.0))
      }
  }

  test("sim_kmeans_converged emits a fixed point of one Lloyd step") {
    val t = lloydTable(trained("sim_kmeans_converged"), _ => 0)
    val next = lloydStep(corpus().map { case (_, e) => (0, e) }, t)
    val moved = (t.keySet ++ next.keySet).filter(k => t.get(k) != next.get(k))
    assert(moved.isEmpty, s"${moved.size} of ${t.size} (cid, dim) cells move in one more step: ${moved.take(5)}")
  }

  test("sim_pq_train_converged emits a fixed point of one Lloyd step") {
    val t = lloydTable(trained("sim_pq_train_converged"), _.getAs[Int]("j"))
    val slices = corpus().flatMap { case (_, e) => (0 until 8).map(j => (j, e.slice(j * 8, j * 8 + 8))) }
    val next = lloydStep(slices, t)
    val moved = (t.keySet ++ next.keySet).filter(k => t.get(k) != next.get(k))
    assert(moved.isEmpty, s"${moved.size} of ${t.size} (j, cid, dim) cells move in one more step: ${moved.take(5)}")
  }

  test("feat_pca_power_converged emits a fixed point of one power step") {
    val w = trained("feat_pca_power_converged").map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val v = w.toSeq.sortBy(_._1).map(_._2.toFloat)
    // The planted corpus: one copy of vec_id 0 per 10 corpus rows.
    val base = corpus()
    val v0 = base.find(_._1 == 0L).get._2
    val emb = base.map(_._2) ++ base.filter(_._1 % 10 == 0).map(_ => v0)
    val sc = emb.map(e => roundHalfUp(dotF(e, v), 6))
    val raw = v.indices.map(dim => lsum(emb.zip(sc).map { case (e, x) => roundHalfUp(e(dim).toDouble * x, 9) }, 9))
    val n2 = raw.map(x => BigDecimal(roundHalfUp(x * x, 9))).sum.toDouble
    val next = raw.indices.map(dim => dim -> roundHalfUp(raw(dim) / math.sqrt(n2), 6)).toMap
    val moved = w.keySet.filter(k => next.get(k) != w.get(k))
    assert(w.size == 64 && moved.isEmpty, s"${moved.size} of ${w.size} dims move in one more step: ${moved.take(5)}")
  }

  test("shuffle_global emits the exact md5-order permutation") {
    val out = SparkEntry.queries("shuffle_global")(spark, sf).collect()
    val n = out.length
    val poss = out.map(_.getLong(0))
    assert(poss.min === 0L && poss.max === (n - 1).toLong
      && poss.distinct.length === n, "pos is not a 0..n-1 permutation")
    // The two-level (bucket offsets + in-bucket rank) computation must
    // equal the flat global order it decomposes.
    val flat = Tables.documents(spark, sf)
      .select(col("doc_id"),
        md5(concat(lit("graft-shuffle:"), col("doc_id").cast("string"))).as("h"))
      .orderBy("h", "doc_id").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(out.sortBy(_.getLong(0)).map(_.getLong(1)).toSeq === flat)
  }

  test("sample_token_budget is a greedy per-language take-while at the budget") {
    val sel = SparkEntry.queries("sample_token_budget")(spark, sf).collect()
    val langs = Tables.documents(spark, sf).select("lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(sel.map(_.getString(1)).toSet === langs, "a language got no slice")
    sel.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      // Admission rule: tokens consumed strictly before each selected
      // doc are under budget...
      assert(rows.forall(_.getLong(3) < 2000L), s"$lang: doc admitted over budget")
      // ...and the slice actually fills the budget (every fixture lang
      // carries >2000 tokens, so the greedy walk must reach it).
      val total = rows.map(_.getLong(2)).sum
      assert(total >= 2000L, s"$lang: slice stopped at $total tokens under budget")
    }
  }

  test("text_dedup_lines strips exactly the planted boilerplate lines") {
    val out = SparkEntry.queries("text_dedup_lines")(spark, sf).collect()
    out.foreach { r =>
      val (id, nLines, nKept) = (r.getLong(0), r.getInt(2), r.getLong(3))
      // Planted lines: one footer on every 3rd doc, one on every 5th;
      // natural 8-word chunks are unique (30-word vocab, 8-gram space)
      // so ONLY the planted lines can cross the ≥10-doc threshold.
      val planted = (if (id % 3 == 0) 1 else 0) + (if (id % 5 == 0) 1 else 0)
      assert(nLines - nKept === planted,
        s"doc $id: $nLines lines, $nKept kept, expected $planted removed")
    }
    // Reassembly must be byte-exact: an unplanted doc's cleaned text IS
    // its original text (chunk-join of all surviving 8-word chunks).
    val sp = spark
    import sp.implicits._
    val orig = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")))
      .as[(Long, String)].collect().toMap
    out.filter(r => r.getLong(0) % 3 != 0 && r.getLong(0) % 5 != 0)
      .foreach(r => assert(r.getString(4) === orig(r.getLong(0)),
        s"doc ${r.getLong(0)}: surviving lines don't reassemble the original"))
  }

  test("sample_temperature upsamples low-resource languages") {
    val sp = spark
    import sp.implicits._
    val sel = SparkEntry.queries("sample_temperature")(spark, sf).collect()
    val rates = sel.map(r => r.getString(1) -> r.getDouble(3)).toMap
    val nLang = Tables.documents(spark, sf)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("lang").agg(sum("n").as("t"))
      .as[(String, Long)].collect().toMap
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0), s"rate out of range: $rates")
    // sqrt damping: sampling rate must be anti-monotone in corpus size.
    val bysize = nLang.toSeq.sortBy(_._2)
    bysize.sliding(2).foreach { case Seq((l1, n1), (l2, n2)) =>
      if (n1 < n2 && rates.contains(l1) && rates.contains(l2))
        assert(rates(l1) >= rates(l2),
          s"$l1 ($n1 tok) sampled below $l2 ($n2 tok): $rates")
      case _ => ()
    }
    // Expected take per lang ≈ rate × docs; the md5 bucket is uniform
    // enough at fixture size to land within a loose band.
    val docsPerLang = Tables.documents(spark, sf).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    sel.groupBy(_.getString(1)).foreach { case (lang, rows) =>
      val expected = rates(lang) * docsPerLang(lang)
      assert(rows.length <= docsPerLang(lang) &&
        math.abs(rows.length - expected) <= math.max(6.0, 0.6 * expected),
        s"$lang: selected ${rows.length}, expected ≈$expected")
    }
  }

  test("pipeline_manifest digest is partitioning-invariant and flips on a 1-char edit") {
    // The two claims the manifest comment makes and the oracle gate
    // can't isolate: (a) bit_xor commutes, so the digest is identical
    // at any partitioning; (b) a single flipped character (with
    // n_chars, counts, and ids all unchanged) flips the digest — the
    // drift the count columns are blind to.
    val base = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    def dump(df: DataFrame): String = {
      val t = tempDir("graft_manifest").toString
      df.write.mode("overwrite").parquet(s"$t/documents.parquet")
      t
    }
    val d7 = dump(base.repartition(7))
    val d3 = dump(base.repartition(3))
    // Same-length text edit on one doc: first char -> 'Z'.
    val mut = dump(base.withColumn("text",
      when(col("doc_id") === 7,
        concat(lit("Z"), expr("substring(text, 2)"))).otherwise(col("text"))))
    val q = SparkEntry.queries("pipeline_manifest")
    val rows7 = q(spark, d7).collect()
    val r7 = rows7.map(_.toString).toSeq
    val r3 = q(spark, d3).collect().map(_.toString).toSeq
    assert(r7 == r3, "manifest differs across partitionings")
    val mutSource = Tables.documents(spark, sf)
      .filter(col("doc_id") === 7).select("source").head().getString(0)
    val rm = q(spark, mut).collect()
      .map(r => r.getString(0) -> r).toMap
    val orig = rows7.map(r => r.getString(0) -> r).toMap
    for ((src, o) <- orig; m = rm(src)) {
      assert(o.getLong(1) == m.getLong(1) && o.getLong(2) == m.getLong(2),
        s"$src: count/chars moved on a same-length edit")
      if (src == mutSource)
        assert(o.getLong(5) != m.getLong(5) && o.getLong(6) != m.getLong(6),
          s"$src: digests blind to the planted 1-char flip")
      else
        assert(o.getLong(5) == m.getLong(5) && o.getLong(6) == m.getLong(6),
          s"$src: digest moved in an untouched source")
    }
  }

  test("sim_quantized_rerank matches the brute-force top-k") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("sim_quantized_rerank")(spark, sf)
      .select("vec_id", "cos").as[(Long, Double)].collect()
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .as[(Long, Double)].collect()
    val bruteMap = brute.toMap
    // Re-ranked cosines are EXACT (same kernel as brute force), so any
    // id shared with the brute-force top-20 must carry the same value.
    got.filter(g => bruteMap.contains(g._1))
      .foreach(g => assert(g._2 === bruteMap(g._1), s"cos mismatch for ${g._1}"))
    // int8 quantization over 100 candidates must recover ≥18/20 of the
    // true neighbors (observed: all 20 at every fixture tier).
    val recall = got.map(_._1).count(bruteMap.contains)
    assert(recall >= 18, s"quantized rerank recalled only $recall/20")
  }

  test("mm_phash_dedup recovers every planted pixel-perturbed near-dup") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("mm_phash_dedup")(spark, sf)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id").as[Long].collect().toSet
    // Every planted (d, d+1e12) pair must surface AT HAMMING 0: the
    // perturbation bumps only non-sample pixels, so after each image's
    // own PNG encode→decode roundtrip the aHashes are identical by
    // construction — the perceptual-collision property aHash provides.
    val gotAt0 = got.collect { case (a, b, 0) => (a, b) }.toSet
    planted.foreach { d =>
      assert(gotAt0.contains((d, d + 1000000000000L)),
        s"planted pixel-perturbed near-dup of doc $d not recovered at Hamming 0")
    }
    got.foreach { case (a, b, h) =>
      assert(h >= 0 && h <= 3, s"pair ($a,$b) outside the Hamming gate: $h")
    }
    // The DCT sibling must recover the same planted pairs at Hamming 0:
    // the perturbation leaves the 8x8 downsample — hence the whole
    // spectrum — identical.
    val dct = SparkEntry.queries("mm_phash_dct")(spark, sf)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val dctAt0 = dct.collect { case (a, b, 0) => (a, b) }.toSet
    planted.foreach { d =>
      assert(dctAt0.contains((d, d + 1000000000000L)),
        s"planted near-dup of doc $d not recovered by the DCT hash")
    }
  }

  test("text_bigram_lm conditionals are consistent with the vocabulary counts") {
    val sp = spark
    import sp.implicits._
    val vocab = SparkEntry.queries("text_vocab_build")(spark, sf)
      .select("term", "cnt").as[(String, Long)].collect().toMap
    val bg = SparkEntry.queries("text_bigram_lm")(spark, sf)
      .select("w1", "w2", "cnt", "w1_cnt").as[(String, String, Long, Long)].collect()
    assert(bg.nonEmpty, "bigram LM emitted nothing")
    bg.foreach { case (w1, w2, cnt, w1cnt) =>
      assert(cnt <= w1cnt, s"bigram ($w1,$w2) count $cnt exceeds its w1 total $w1cnt")
      // w1's bigram-start total counts occurrences followed by a token —
      // at most every occurrence of w1 in the corpus (vocab top-500 holds
      // this tiny fixture's whole vocabulary).
      vocab.get(w1).foreach(v =>
        assert(w1cnt <= v, s"$w1 starts $w1cnt bigrams but occurs only $v times"))
    }
  }

  test("text_kneser_ney probabilities are proper and discount-consistent") {
    val sp = spark
    import sp.implicits._
    val kn = SparkEntry.queries("text_kneser_ney")(spark, sf)
      .select("cnt", "c1", "n1f", "p_kn").as[(Long, Long, Long, Double)].collect()
    assert(kn.nonEmpty, "KN emitted nothing")
    kn.foreach { case (cnt, c1, n1f, p) =>
      assert(p > 0.0 && p <= 1.0, s"p_kn=$p out of (0,1]")
      // The discounted ML term alone lower-bounds p; ML + full
      // continuation mass upper-bounds it (lambda*Pcont <= D*n1f/c1).
      val ml = math.max(cnt - 0.75, 0.0) / c1
      assert(p >= ml - 1e-6, s"p_kn=$p below its discounted ML term $ml")
      assert(p <= ml + 0.75 * n1f / c1 + 1e-6,
        s"p_kn=$p exceeds ML + full backoff mass")
    }
  }

  test("sample_ppswor oversamples long docs and stays within the corpus") {
    val sp = spark
    import sp.implicits._
    val sample = SparkEntry.queries("sample_ppswor")(spark, sf)
      .select("doc_id", "n_tok").as[(Long, Long)].collect()
    assert(sample.length == math.min(100,
      Tables.documents(spark, sf).count()), "wrong sample size")
    assert(sample.map(_._1).distinct.length == sample.length,
      "WITHOUT replacement violated: duplicate doc_ids")
    val corpus = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long")).as[Long].collect()
    // PPS property: expected sample mean weight exceeds the corpus mean
    // (longer docs win the exponential race proportionally more often).
    val sMean = sample.map(_._2).sum.toDouble / sample.length
    val cMean = corpus.sum.toDouble / corpus.length
    assert(sMean > cMean,
      s"weighted sample mean $sMean not above corpus mean $cMean")
  }

  test("pipeline_dedup_corpus keep decisions reconcile with dedup_clusters") {
    val sp = spark
    import sp.implicits._
    val corpus = SparkEntry.queries("pipeline_dedup_corpus")(spark, sf)
      .select("doc_id", "survivor_id", "kept")
      .as[(Long, Long, Boolean)].collect()
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sf)
      .select("survivor_id", "n_members").as[(Long, Long)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(corpus.length == nDocs, "must emit one decision per document")
    // Every cluster removes exactly n_members - 1 docs; everything else
    // is kept. The two queries run the same CC fixpoint, so the counts
    // must reconcile exactly.
    val expectedRemoved = clusters.map(_._2 - 1).sum
    assert(corpus.count(!_._3) == expectedRemoved,
      s"removed ${corpus.count(!_._3)} != clusters' ${expectedRemoved}")
    corpus.foreach { case (id, surv, kept) =>
      assert(kept == (id == surv), s"doc $id: kept=$kept but survivor=$surv")
      assert(surv <= id, s"doc $id: survivor $surv is not the min member")
    }
  }

  test("building dedup_clusters keeps the label blocks of a built pipeline_dedup_corpus") {
    // Both keys run the connected-components fixpoint, whose checkpoint
    // is the label table's only copy; the caller's drain is the one
    // point that releases it. Building the second key must leave the
    // first key's lazy frame readable.
    val corpus = SparkEntry.queries("pipeline_dedup_corpus")(spark, sf)
    val labelRdds = corpus.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.id
    }
    assert(labelRdds.nonEmpty, "pipeline_dedup_corpus reads no checkpoint")
    SparkEntry.queries("dedup_clusters")(spark, sf)
    // A release frees its blocks asynchronously: wait until a label
    // table that is no longer registered as persistent has lost its
    // blocks, so the read below sees what a later action would.
    val released = labelRdds.filterNot(spark.sparkContext.getPersistentRDDs.contains)
    def blocksLeft = SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(r, _) => released.contains(r)
      case _ => false
    }, askStorageEndpoints = true).size
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (released.nonEmpty && blocksLeft > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(corpus.collect().length == Tables.documents(spark, sf).count())
  }

  test("graph_k_core output satisfies the core invariant (every degree >= 5)") {
    val sp = spark
    import sp.implicits._
    val core = SparkEntry.queries("graph_k_core")(spark, sf)
      .select("node", "core_deg").as[(Long, Long)].collect()
    assert(core.nonEmpty, "5-core unexpectedly empty at sf0.001 (19 nodes expected)")
    // The defining property: the surviving subgraph is its own witness —
    // every member's IN-CORE degree clears the peel threshold. (That the
    // peel removed exactly the right set is the DuckDB oracle's job;
    // this is the engine-independent sanity bound.)
    core.foreach { case (n, d) =>
      assert(d >= 5, s"node $n in the 5-core with in-core degree $d")
    }
    // And the peel only removes: core nodes are a subset of the graph's.
    val allNodes = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 10 === 0)
      .select(col("l_partkey")).distinct().as[Long].collect().toSet
    core.foreach { case (n, _) =>
      assert(allNodes.contains(n), s"core node $n not in the input graph")
    }
  }

  test("funnel_stages is monotone and stage 1 equals distinct viewers") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("funnel_stages")(spark, sf)
      .as[(String, Long)].collect().toMap
    val viewers = Tables.events(spark, sf).filter(col("event_type") === "view")
      .select(countDistinct("user_id")).as[Long].collect().head
    assert(got("1_view") === viewers)
    assert(got("1_view") >= got("2_click") && got("2_click") >= got("3_purchase"),
      s"funnel not monotone: $got")
    assert(got("3_purchase") > 0, "no user completed the funnel — fixture too small?")
  }
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.SparkEntry.keyed

/** Similarity search over the embeddings table (SURVEY.md §2i).
  *
  * Numeric determinism: every dot product is a LEFT-FOLD over
  * double-cast floats (Spark `aggregate`, DuckDB `list_reduce`), so both
  * engines sum in the identical order; results are rounded at 6 digits.
  *
  * Scale design: brute-force top-k broadcasts the single query vector
  * (no shuffle at all — a map-side scan + TakeOrdered); the pairs query
  * blocks on `label` so the quadratic term is bounded per block; the ANN
  * variant buckets by random-hyperplane LSH sign bits so candidate
  * generation is an equi-join on bucket id — the same shape that holds
  * when the table is 10^9 vectors.
  */
/** The Lloyd sweep's per-round codeword row: travels as broadcast
  * DATA, never as plan literals (codegen-cache stability — see
  * `Vectors.lloydSweep`). TOP-LEVEL deliberately: nested in the object it
  * compiles to `Vectors$Kc`, and Janino cannot reference `$`-named
  * classes in generated source — the encoder's 1-row serializer then
  * falls back to interpreted mode with a WARN per round.
  */
case class Kc(cid: Int, cemb: Seq[Float], cc: Double)

/** Trained PQ codeword row for the broadcast codebook the ADC family
  * re-seeds from (same Janino top-level constraint as Kc).
  */
case class PqC(j: Int, cid: Int, cemb: Seq[Float])

object Vectors {
  type Q = (SparkSession, String) => DataFrame

  /** Index-order dot product via the custom codegen'd DotProductF
    * expression (graft.functions.Expressions) — same accumulation order
    * as the oracle's left fold, ~10× the interpreted higher-order-
    * function version that bench flagged.
    */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / norm(a) / norm(b)

  /** Sign-bit LSH bucket over the deterministic pseudo-hyperplane
    * family (no RNG, SURVEY.md §7.5) via the codegen'd LshBucket
    * kernel — one tight loop instead of numPlanes literal-array dot
    * expressions (the 32-plane banding's ~2048 plan literals made
    * planning+codegen dominate the query's wall time).
    */
  private def lshBucket(emb: Column, planes: Int, dim: Int,
      offset: Int = 0): Column =
    call_function("graft_lsh_bucket", emb, lit(planes), lit(dim), lit(offset))

  /** Brute-force top-10 truth for the sampled query block — the shared
    * exact side of all four recall audits. One definition so a fix to
    * the measurement (tie-break, hit join, rounding) can never
    * desynchronize the variants the docs compare.
    */
  /** Grid-snapped squared euclidean distance between two float-array SQL
    * expressions — the PQ/ADC determinism recipe (sim_pq_adc scaladoc).
    */
  private def pqDist2(a: String, b: String): String =
    s"round(graft_dot($a, $a) - 2 * graft_dot($a, $b) + graft_dot($b, $b), 6)"

  /** Shared PQ/ADC broadcast-side hoist (round 14; factored per ADVICE
    * r14): `qcb` is the 1-row frame carrying, per subspace j, the
    * codebook slice with the query-to-centroid dist² precomputed —
    * row-invariant work evaluated ONCE on the broadcast side instead of
    * per corpus row (the per-j `filter` over the 128-struct array is an
    * interpreted higher-order function). `bestJ(j)` is the per-row
    * encode argmin over that slice: array_min's struct ordering
    * (dist2, cid, qdist) picks the nearest centroid and the precomputed
    * qdist rides along as the chosen ADC lookup. Shared verbatim by
    * sim_pq_adc and sim_ivf_pq so codebook-shape changes stay in one
    * place.
    */
  private def qcbAndBestJ(cb: DataFrame, q: DataFrame, M: Int, SUB: Int)
      : (DataFrame, Int => Column) = {
    val qcb = cb.crossJoin(q).select(
      (0 until M).map(j => expr(
        s"""transform(filter(cb, c -> c.j = $j), c -> named_struct(
           |  'cid', c.cid, 'cemb', c.cemb,
           |  'qdist', ${pqDist2(s"slice(q_emb, ${j * SUB + 1}, $SUB)", "c.cemb")}))
           |""".stripMargin).as(s"cb$j")): _*)
    val bestJ = (j: Int) => expr(
      s"""array_min(transform(cb$j, c -> named_struct(
         |  'dist2', ${pqDist2(s"slice(embedding, ${j * SUB + 1}, $SUB)", "c.cemb")},
         |  'cid', c.cid,
         |  'qdist', c.qdist)))
         |""".stripMargin)
    (qcb, bestJ)
  }

  private def annTruth(emb: DataFrame, qs: DataFrame): DataFrame =
    emb.crossJoin(broadcast(qs.select("q_id", "q_emb")))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rk") <= 10)

  /** Per-query hit counts + recall@10 — the shared emission of all
    * four recall audits.
    */
  private def annRecallEmit(exact: DataFrame, cands: DataFrame): DataFrame =
    exact.join(cands.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_exact"), col("n_hits"),
        round(col("n_hits").cast(DoubleType) / col("n_exact"), 6).as("recall_at_10"))
      .orderBy("q_id")

  /** Multi-table recall audit: nTables independent 8-plane families
    * (LshBucket planeOffset = 8·t), each probed at Hamming ≤ maxDist;
    * candidates collide in ANY table. Shared by sim_ann_multitable
    * (maxDist=1) and sim_ann_stacked (maxDist=2).
    */
  private def annMultiTableCands(s: SparkSession, d: String,
      nTables: Int, maxDist: Int): (DataFrame, DataFrame, DataFrame) = {
    val emb = embeddings(s, d)
    val tables = 0 until nTables
    val masks = hammingMasks(8, maxDist)
    val withB = tables.foldLeft(emb) { (df, t) =>
      df.withColumn(s"b$t", lshBucket(col("embedding"), 8, 64, t * 8))
    }
    val qs = withB.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id") +: col("embedding").as("q_emb") +:
        tables.map(t => col(s"b$t").as(s"qb$t")): _*)
    val probeCols = for (t <- tables; m <- masks)
      yield struct(lit(t).as("t"),
        col(s"qb$t").bitwiseXOR(lit(m)).as("probe"))
    val probes = qs.select(col("q_id"), explode(array(probeCols: _*)).as("pr"))
      .select(col("q_id"), col("pr.t").as("qt"), col("pr.probe").as("probe"))
    val dataBuckets = withB.select(col("vec_id"), explode(array(
        tables.map(t => struct(lit(t).as("t"), col(s"b$t").as("bucket"))): _*))
        .as("db"))
      .select(col("vec_id"), col("db.t").as("t"), col("db.bucket").as("bucket"))
    val cands = dataBuckets.join(broadcast(probes),
        col("t") === col("qt") && col("bucket") === col("probe") &&
          col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    (emb, qs, cands)
  }

  private def annMultiTableAudit(s: SparkSession, d: String,
      nTables: Int, maxDist: Int): DataFrame = {
    val (emb, qs, cands) = annMultiTableCands(s, d, nTables, maxDist)
    annRecallEmit(annTruth(emb, qs), cands)
  }

  /** The production-grade audit emission: recall AND its price. n_cand
    * is the per-query candidate-set size — the compute cost a
    * production deployment trades against recall (each candidate is
    * one exact re-rank dot product). A recall number without its
    * candidate fraction is how ANN configs get oversold: probing deep
    * enough always "reaches" any recall, degenerating to brute force.
    */
  private[graft] def annAudit(s: SparkSession, d: String,
      nTables: Int, maxDist: Int): DataFrame = {
    val (emb, qs, cands) = annMultiTableCands(s, d, nTables, maxDist)
    val nCand = cands.groupBy("q_id").agg(count(lit(1)).as("n_cand"))
    annRecallEmit(annTruth(emb, qs), cands)
      .join(nCand, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"), col("n_hits"),
        col("recall_at_10"), coalesce(col("n_cand"), lit(0L)).as("n_cand"))
      .orderBy("q_id")
  }

  private def annRecallAudit(s: SparkSession, d: String, masks: Seq[Long]): DataFrame = {
    val emb = embeddings(s, d)
    val planes = 8
    val withBucket = emb.withColumn("bucket", lshBucket(col("embedding"), planes, 64))
    val qs = withBucket.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket").as("q_bucket"))
    val probes = qs.select(col("q_id"), explode(array(
      masks.map(m => col("q_bucket").bitwiseXOR(lit(m))): _*)).as("probe"))
    val cands = withBucket
      .join(broadcast(probes),
        col("bucket") === col("probe") && col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    annRecallEmit(annTruth(emb, qs), cands)
  }

  /** Masks within Hamming distance `maxDist` of 0 over `planes` bits —
    * the probe rule both recall audits and both engines state as a
    * bit_count filter.
    */
  private def hammingMasks(planes: Int, maxDist: Int): Seq[Long] =
    (0 until (1 << planes))
      .filter(m => java.lang.Integer.bitCount(m) <= maxDist).map(_.toLong)

  /** One Lloyd sweep over a (j, vec_id, semb) frame, every subspace j
    * at once: each slice goes to the nearest codeword of its subspace,
    * then per-(j, cid, dim) means re-derive the codebook. The one sweep
    * of sim_kmeans_converged (one subspace, the whole embedding) and
    * sim_pq_train_converged (8 subspaces of 8 dims).
    *
    * Arithmetic, as the oracle states it: dist² = a·a − 2a·c + c·c from
    * three index-order dots, rounded at 1e-6 BEFORE the argmin, ties to
    * the lower cid (the (dist2, cid) struct order); member values snap
    * at 1e-6 and are captured exactly (Tables.lsum: per-(j, cid, dim)
    * Σ|v| < 9e9), and the mean leaves through the floor(·*1e6+0.5)
    * half-up quantizer.
    *
    * Scale shape: assignment is MAP-ONLY against a broadcast codebook,
    * and the recompute groupBy has ≤ 1,024 keys, so map-side combine
    * bounds every task's emission at any corpus size. Two codegen
    * traps, both measured, set the form: higher-order functions never
    * whole-stage-compile (an array_min(transform(…)) argmin spent
    * ~0.3 s/round interpreting at sf0.1), and per-round scalar literals
    * inline into the generated source, so every round compiled a fresh
    * class (~0.45 s/round). So the K candidates unroll to plain struct
    * columns under least(), and the codebook travels as broadcast DATA:
    * one row holding, per subspace, an array of (cid, cemb, cc) structs,
    * the self-dots cc folded in the JVM with graft_dot's accumulation
    * (double-widen, index order). The generated code is then the same
    * every round. A subspace that lost codewords (Lloyd can empty a
    * cluster) guards its free slots to (+inf, MaxValue), never elected,
    * so least() always gets K arguments.
    */
  private def lloydSweep(frame: DataFrame, K: Int)
      (cb: Map[Int, Seq[(Int, Seq[Float])]]): DataFrame = {
    val s = frame.sparkSession
    import s.implicits._
    def selfDot(v: Seq[Float]): Double = v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
    val csDf = Seq(Tuple1((0 until cb.size).map(j =>
      cb(j).sortBy(_._1).map { case (cid, ce) => Kc(cid, ce, selfDot(ce)) }))).toDF("cs")
    val cand = (1 to K).map { i =>
      val sub = element_at(col("cs"), col("j") + 1)
      val c = element_at(sub, i)
      when(lit(i) <= size(sub),
        struct(
          round(col("ee") - lit(2.0) * dot(col("semb"), c.getField("cemb"))
            + c.getField("cc"), 6).as("dist2"),
          c.getField("cid").as("cid")))
        .otherwise(struct(lit(Double.PositiveInfinity).as("dist2"),
          lit(Int.MaxValue).as("cid")))
    }
    frame.crossJoin(broadcast(csDf))
      .withColumn("ee", dot(col("semb"), col("semb")))
      .withColumn("best", least(cand: _*))
      .select(col("j"), col("best.cid").as("cid"),
        posexplode(col("semb")).as(Seq("dim", "v")))
      .groupBy("j", "cid", "dim")
      .agg(count(lit(1)).as("n_members"),
        (floor(lsum(round(col("v").cast("double"), 6), 6)
          / count(lit(1)) * 1000000 + 0.5).cast("double") / 1000000.0)
          .as("centroid"))
  }

  /** j -> (cid, codeword) from rows with (j, cid, dim, centroid)
    * columns: a sweep's table, or seed slices. Each centroid is CAST TO
    * FLOAT32, the corpus element type (the JVM cast is the same IEEE
    * nearest rounding as both engines' CAST AS FLOAT), so the next
    * round is a function of quantized tables.
    */
  private def codebook(rows: Seq[Row]): Map[Int, Seq[(Int, Seq[Float])]] =
    rows.groupBy(_.getAs[Int]("j")).map { case (j, rs) =>
      j -> rs.groupBy(_.getAs[Int]("cid")).toSeq.map { case (cid, ds) =>
        (cid, ds.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("centroid").toFloat))
      }
    }

  /** The small-state trainers' loop (k-means, PQ, PCA; the Spark
    * MLlib KMeans schedule) on [[Cc.fixpoint]], the one convergence
    * driver: run a round from the state, collect its table, and stop at
    * the first table equal to the one before. That table is the fixed
    * point and the emission: every round's arithmetic quantizes, so the
    * next round would start from the same float32 state and reproduce
    * it. The driver's state carries the last collected table; there is
    * nothing to release. The state crosses the driver, an O(state)
    * transfer (≤ 1,024 rows) independent of corpus size, and goes back
    * as broadcast data, so a round is one job with flat lineage and the
    * driver-side compare is the exact certificate. A broadcast +
    * checkpoint + compare-join round measured ~5× slower at sf0.1,
    * which is why these rounds stay off Cc.round. Each oracle unrolls
    * `cap` rounds, and rounds past the fixed point are no-ops; a loop
    * still moving after `cap` rounds (a quantization-made cycle) fails
    * loudly instead of emitting a mid-descent truncation.
    */
  private def stationary[S](what: String, cap: Int, s0: S)
      (step: S => DataFrame)(next: Seq[Row] => S): (StructType, Seq[Row]) = {
    Cc.fixpoint(what, cap)((s0, Option.empty[(StructType, Seq[Row])]), moved0 = true) {
      case (state, last) =>
        val df = step(state)
        val rows = graft.ArtifactMemo.collectBounded(df, what).toSeq
        ((next(rows), Some((df.schema, rows))), !last.exists(_._2.toSet == rows.toSet))
    }(_ => ())._2.get
  }

  /** Lloyd to the fixed point over a (j, vec_id, semb) frame, seeded
    * with each subspace's vec_id < K slices.
    */
  private def lloyd(frame: DataFrame, K: Int, cap: Int, what: String)
      : (StructType, Seq[Row]) = {
    val seeds = frame.filter(col("vec_id") < K)
      .select(col("j"), col("vec_id").cast("int").as("cid"),
        posexplode(col("semb")).as(Seq("dim", "centroid")))
      .withColumn("centroid", col("centroid").cast("double"))
      .collect().toSeq
    frame.persist() // re-scanned every round
    try stationary(what, cap, codebook(seeds))(lloydSweep(frame, K))(codebook)
    finally frame.unpersist()
  }

  /** The PQ codebook's memo key: the parquet content fingerprint, so an
    * in-place regeneration of embeddings.parquet retrains (r11 ADVICE).
    * sim_pq_train_converged emits the trained table under it, and the
    * ADC family reads the same held rows through `once`.
    */
  private def pqKey(d: String): String = artifactKey(d, "embeddings") + "#pq"

  /** PQ codebook training, m=8 × k=16 over 8-dim slices: Lloyd to the
    * fixed point over the corpus exploded to (j, vec_id, 8-dim slice).
    */
  private def trainPq(s: SparkSession, d: String): (StructType, Seq[Row]) = {
    val M = 8; val SUB = 8
    val slices = embeddings(s, d)
      .select(col("vec_id"), explode(array((0 until M).map(j => struct(
        lit(j).as("j"),
        slice(col("embedding"), j * SUB + 1, SUB).as("semb"))): _*)).as("x"))
      .select(col("x.j").as("j"), col("vec_id"), col("x.semb").as("semb"))
    lloyd(slices, 16, 60, "sim_pq_train_converged: codebook")
  }

  /** The trained codebook as the 1-row broadcast `cb` column the ADC
    * queries consume — same (j, cid, cemb) struct-array shape as the
    * old seed pick, values from the 60-round fixpoint. Trained once per
    * JVM and dataset: sim_pq_adc, sim_ivf_pq and sim_pq_train_converged
    * share the memo.
    */
  private def trainedCbDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, rows) = graft.ArtifactMemo.once(pqKey(d))(trainPq(s, d))
    Seq(Tuple1(codebook(rows).toSeq.sortBy(_._1).flatMap { case (j, ws) =>
      ws.sortBy(_._1).map { case (cid, ce) => PqC(j, cid, ce) } })).toDF("cb")
  }

  val queries: Map[String, Q] = keyed(
    "feat_embedding_norm_audit" -> { (s, d) =>
      // Embedding-health audit — the sanity gate an ANN/dedup build
      // runs BEFORE trusting cosine anywhere: zero-norm vectors make
      // cosine undefined, non-finite components poison every dot, and
      // a drifting norm profile per label flags a broken encoder
      // batch. Per-label census of L2 norms (count, snapped-decimal
      // mean, min/max, zero and non-finite counts). Shape: norms via
      // the codegen'd DotProductF kernel, MAP-ONLY; one ≤#labels-row
      // groupBy — the whole audit costs one corpus scan at any size.
      val snap: Column => Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      embeddings(s, d)
        .withColumn("nrm", round(norm(col("embedding")), 6))
        .groupBy("label").agg(
          count(lit(1)).as("n_vecs"),
          snap(sum(dec(col("nrm"))).cast(DoubleType) / count(lit(1)))
            .as("avg_norm"),
          min(col("nrm")).as("min_norm"),
          max(col("nrm")).as("max_norm"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(isnan(col("nrm")), 1L).otherwise(0L)).as("n_nonfinite"))
        .orderBy("label")
    },

    "sim_cosine_topk" -> { (s, d) =>
      // Brute-force top-20 cosine neighbors of vec_id 0: broadcast the
      // query row, map-side dot products, TakeOrdered for the top-k.
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(20)
    },

    "sim_pairs_threshold" -> { (s, d) =>
      // All pairs with cosine ≥ 0.3 within a label block. Norms are
      // precomputed once per vector (not once per pair), and the
      // division shape dot/‖a‖/‖b‖ matches the oracle exactly.
      val withNorm = embeddings(s, d)
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val a = withNorm.select(col("vec_id").as("id_a"),
        col("label"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = withNorm.select(col("vec_id").as("id_b"),
        col("label").as("label_b"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
        .withColumn("cos",
          round(dot(col("emb_a"), col("emb_b")) / col("nrm_a") / col("nrm_b"), 6))
        .filter(col("cos") >= 0.3)
        .select("label", "id_a", "id_b", "cos")
        .orderBy("label", "id_a", "id_b")
    },

    "sim_ann_ivf" -> { (s, d) =>
      // IVF scale path: labels act as the coarse quantizer (each label
      // block = one inverted list); centroids are per-dimension means
      // computed via posexplode + exact decimal sums (order-free, so the
      // determinism double-run holds), the query probes its 2 nearest
      // centroids, and only those lists are re-ranked exactly. At 10^9
      // vectors this touches n_probe/n_lists of the data. The whole
      // candidate rule is RNG-free arithmetic, so the oracle replicates
      // it end-to-end in SQL (decimal centroid means → 2-probe → exact
      // re-rank) and the hash gate verifies the full ANN result, not
      // just a row count.
      val emb = embeddings(s, d)
      // spread: the 64-way posexplode + partial aggregate over the
      // 1-row-group embeddings file otherwise runs on one task
      // (round 14, guide §2.6).
      val cent = spread(emb)
        .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
        .groupBy("label", "idx")
        .agg((sum(col("v").cast(D)).cast(DoubleType) / count(lit(1))).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("idx"), col("c")))),
          x => x.getField("c").cast(FloatType)).as("centroid"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val probes = cent.crossJoin(broadcast(q))
        .withColumn("csim", cosine(col("centroid"), col("q_emb")))
        .orderBy(desc("csim"), asc("label"))
        .limit(2)
        .select(col("label").as("probe_label"), col("q_emb"))
      emb.filter(col("vec_id") =!= 0)
        .join(broadcast(probes), col("label") === col("probe_label"))
        .select(col("vec_id"), col("label"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(20)
    },

    "dedup_embedding" -> { (s, d) =>
      // Embedding-cosine near-dup removal — the vector-space member of
      // the dedup family (exact / minhash / simhash / ngram / embedding).
      // The corpus has no natural near-dups (max same-label cosine 0.47,
      // probed at sf0.001 and sf0.01), so the query plants them: every
      // 50th vector gets a copy (vec_id + 100000) shifted +0.005 per
      // component — cosine(orig, copy) ≈ 0.999, a huge margin over both
      // the 0.9 threshold and the 0.47 background, so no engine-float
      // edge cases sit near a decision boundary.
      //
      // Scale shape: candidate generation is LSH banding — 4 bands of 8
      // sign bits each from a 32-hyperplane family — an equi-join on
      // (label, band, bits). Band width is the selectivity lever: at 8
      // bits, near-orthogonal background pairs collide in ≥1 band with
      // prob ≈ 1−(1−0.5⁸)⁴ ≈ 1.5% (a 2-bit band would collide at ~68%,
      // i.e. quadratic in disguise), while planted near-dups (cosine
      // ≈0.999, per-bit agree ≈0.992) miss all 4 bands with prob ≈2e-5.
      // Exact cosine verifies candidates only; survivor rule is the
      // deterministic greedy "drop any vector with a lower-id near-dup"
      // anti-join. The whole pipeline is RNG-free arithmetic, so the
      // oracle replicates planting, banding, verify, and anti-join in
      // SQL and the hash gate checks the exact survivor set.
      val corpus = embeddings(s, d).select(col("vec_id"), col("label"), col("embedding"))
        .unionByName(
          embeddings(s, d).filter(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 100000).as("vec_id"), col("label"),
              transform(col("embedding"),
                x => (x.cast(DoubleType) + lit(0.005)).cast(FloatType)).as("embedding")))
        .persist() // 4 consumers: banding, both verify sides, survivor base
      val bucket = lshBucket(col("embedding"), 32, 64)
      val bands = array((0 until 4).map { k =>
        struct(lit(k).as("band"),
          shiftright(col("bucket"), 8 * k).bitwiseAND(lit(255)).as("bits"))
      }: _*)
      val banded = corpus.withColumn("bucket", bucket)
        .select(col("vec_id"), col("label"), explode(bands).as("bb"))
        .select(col("vec_id"), col("label"), col("bb.band"), col("bb.bits"))
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.label") === col("b.label") && col("a.band") === col("b.band") &&
            col("a.bits") === col("b.bits") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct()
      val removed = cand
        .join(corpus.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
        .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
        .filter(cosine(col("emb_a"), col("emb_b")) >= 0.9)
        .select(col("id_b"))
        .distinct()
      corpus.join(removed, col("vec_id") === col("id_b"), "left_anti")
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },

    "sim_quantized_rerank" -> { (s, d) =>
      // Int8 scalar quantization + exact re-rank — the memory/IO lever
      // of vector search at 10^9 vectors: codes are 4× smaller than
      // float32 (and SIMD-friendly), so the first pass scans q8 codes
      // only; the full floats are touched for just the top-C survivors.
      // Encoding is per-vector symmetric int8 (scale = max|x|/127, the
      // faiss SQ8 shape) with the exact norm stored alongside — approx
      // cosine = (int-dot × scaleA × scaleB) / (‖a‖·‖b‖). The integer
      // dot is EXACT in any summation order, so the candidate stage has
      // no float-accumulation hazard at all; remaining double ops
      // (scales, norms) are identical expressions in both engines. The
      // oracle replicates encode → int-dot rank → top-100 → exact
      // re-rank end-to-end, so the hash gate verifies recall AND the
      // quantization arithmetic itself. Plan shape: broadcast query
      // codes, map-side int dots, TakeOrdered top-100, re-rank 100 rows
      // — zero shuffle at any corpus size.
      val emb = embeddings(s, d)
      val vmax = greatest(
        array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))),
        lit(1e-30))
      val coded = emb
        .withColumn("vmax", vmax)
        .withColumn("q8", transform(col("embedding"),
          x => floor(x.cast(DoubleType) / col("vmax") * 127.0 + 0.5)
            .cast(IntegerType)))
        .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val q = coded.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("q8").as("q_q8"),
          col("vmax").as("q_vmax"), col("nrm").as("q_nrm"))
      val intdot = aggregate(
        zip_with(col("q8"), col("q_q8"), (a, b) => (a * b).cast(LongType)),
        lit(0L), (acc, x) => acc + x)
      coded.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("approx_cos",
          intdot.cast(DoubleType) * (col("vmax") / 127.0) * (col("q_vmax") / 127.0)
            / col("nrm") / col("q_nrm"))
        .orderBy(desc("approx_cos"), asc("vec_id"))
        .limit(100)
        .select(col("vec_id"),
          round(col("approx_cos"), 6).as("approx_cos"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(20)
    },

    "sim_ann_lsh" -> { (s, d) =>
      // ANN scale path: 8 sign-bit hyperplane hashes → bucket id;
      // candidates = vectors in the query's bucket or any bucket at
      // Hamming distance 1 (multi-probe), exact cosine re-rank on the
      // candidates only. The plane family is deterministic integer
      // arithmetic (no RNG) and the dot fold is index-ordered, so the
      // oracle reproduces buckets, probes, and re-rank bit-for-bit in
      // SQL — the hash gate verifies the full ANN result. Recall vs
      // brute force additionally asserted in PipelineSpec.
      val emb = embeddings(s, d)
      val planes = 8
      val withBucket = emb.withColumn("bucket", lshBucket(col("embedding"), planes, 64))
      val probes = (0 until planes).map(p => col("q_bucket").bitwiseXOR(lit(1L << p))) :+
        col("q_bucket")
      val q = withBucket.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
        .select(col("q_emb"), explode(array(probes: _*)).as("probe"))
      withBucket.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("bucket") === col("probe"))
        .select(col("vec_id"), col("bucket"),
          round(cosine(col("embedding"), col("q_emb")), 6).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(20)
    },

    "sim_ann_recall" -> { (s, d) =>
      // The ANN audit every production index ships with: measured
      // recall@10 of the LSH multi-probe candidates against exact
      // brute-force truth, over a 1-in-100 query sample. This is how an
      // approximate index EARNS trust at 10⁹ vectors — you can't eyeball
      // it; you sample queries and measure. Shape: the brute-force side
      // is the deliberate truth set (sampled queries only — broadcast
      // query block, map-side dots, per-query top-10 window on a
      // #queries-partition key); the candidate side reuses
      // sim_ann_lsh's bucket + Hamming-1 probe rule. Everything is
      // RNG-free deterministic arithmetic, so the oracle replicates the
      // ENTIRE measurement — buckets, probes, truth sets, hit counts —
      // and the hash gate verifies the recall NUMBERS, not a bar flag.
      // Measured at the gate tier: recall@10 lands 0.0-0.3 — the audit
      // WORKING, not failing: 8 planes over ~500 vectors puts ~2
      // vectors/bucket, so 9 probes see ~4% of the corpus and the
      // sim_ann_lsh operating point is demonstrably under-provisioned
      // at this density. The production levers this measurement drives:
      // probe depth (Hamming-2), fewer planes per table, or multiple
      // independent tables — all the same equi-join shape.
      annRecallAudit(s, d, hammingMasks(8, 1))
    },

    "sim_ann_recall_multiprobe" -> { (s, d) =>
      // The LEVER the sim_ann_recall audit drives, pulled: identical
      // measurement, but probing every bucket within Hamming distance 2
      // of the query bucket (1 + 8 + C(8,2) = 37 masks — all m in
      // [0,256) with bit_count(m) <= 2, a rule both engines state
      // identically). Deeper probing is the cheapest recall lever
      // because it changes NOTHING about the index: same buckets, same
      // equi-join shape, just a 37-row (per query) broadcast probe list
      // instead of 9. At 10⁹ vectors with well-filled buckets this is
      // the standard multi-probe LSH trade — candidates grow ~4×ish and
      // recall follows. Measured at gate density: mean recall@10 0.16 →
      // 0.34 vs sim_ann_recall's Hamming-1 (per-query 0.3/0.2/0.3/0/0 →
      // 0.4/0.5/0.5/0/0.3) — the lever WORKS but one probe table over
      // near-isotropic gate vectors stays modest; the remaining
      // production levers are independent plane families (OR-
      // amplification) and fewer planes per table. The brute-force
      // truth side stays a sampled-queries-only audit cost. RNG-free,
      // so the oracle replicates the whole measurement and the gate
      // verifies the recall NUMBERS.
      annRecallAudit(s, d, hammingMasks(8, 2))
    },

    "sim_ann_multitable" -> { (s, d) =>
      // The THIRD ANN recall lever, measured: OR-amplification. Three
      // INDEPENDENT 8-plane tables (plane families at offsets 0/8/16 —
      // the LshBucket planeOffset param exists for exactly this), each
      // probed at Hamming-1; a candidate needs to collide in ANY
      // table. Same sampled brute-force truth and recall emission as
      // sim_ann_recall (L=1 baseline) and sim_ann_recall_multiprobe
      // (probe-depth lever), so the three operators read as one
      // controlled experiment — hash-verified recall per lever.
      // Measured at gate density: mean recall@10 0.16 (L=1) → 0.22
      // (L=3), incl. recovering one query whose single-table bucket
      // neighborhood was empty (0.0 → 0.2) — OR-amplification's exact
      // selling point; production stacks both levers. Scale
      // shape: L bucket columns are one map-side kernel pass each; the
      // data side unpivots to (vec_id, table, bucket) rows — L× the
      // index size, the textbook multi-table LSH storage trade — and
      // candidates stay ONE (table, bucket)=(table, probe) equi-join
      // against a broadcast ≤(n/100)·L·9-row probe list.
      annMultiTableAudit(s, d, nTables = 3, maxDist = 1)
    },

    "sim_ann_stacked" -> { (s, d) =>
      // Both levers TOGETHER — the production operating point the
      // other three audits triangulate: L=3 independent tables
      // (OR-amplification) × Hamming-2 probes (depth), completing the
      // 2×2 experiment grid {L=1, L=3} × {H≤1, H≤2} with measured,
      // hash-verified recall in every cell: baseline 0.16 → +probes
      // 0.34 → +tables 0.22 → stacked 0.52 mean recall@10 at gate
      // density (per-query 0.4/0.6/0.8/0.3/0.5 — every query above
      // 0.3, incl. both that a single lever left at 0). The levers
      // COMPOSE, which is the claim production tuning relies on and
      // exactly what a bar-flag gate could never show. Candidate cost is
      // L·37 probes/query against the same unpivoted index — still one
      // equi-join; at 10⁹ vectors the knobs (L, probe depth, planes/
      // table) tune recall-vs-candidates with NO reindexing for probe
      // depth, and index-rebuild only for L/planes.
      annMultiTableAudit(s, d, nTables = 3, maxDist = 2)
    },

    "sim_ann_production" -> { (s, d) =>
      // The PRODUCTION-RECALL cell the 2×2 experiment pointed at
      // (VERDICT r7 "What's missing #2"): the cheapest measured config
      // clearing mean recall@10 ≥ 0.8. Config scan at gate density
      // (AdjSimhash-style probe, round 8): L=4×H≤2 0.60, L=8×H≤2 0.66
      // (probe-depth ceiling), L=4×H≤3 0.82, L=6×H≤3 0.88, L=8×H≤3
      // 0.88 (table saturation) → production cell = L=4 tables ×
      // Hamming≤3 probes, mean recall@10 0.82. This emission also
      // carries the PRICE — n_cand, the per-query candidate-set size
      // (each candidate is one exact re-rank dot) — because recall
      // without its candidate fraction oversells any ANN config:
      // probe deep enough and any recall is "reached" at brute-force
      // cost. Measured trade at gate density: mean n_cand ≈ 0.60·n.
      // That fraction is NOT a corpus-density artifact: H≤3 probes
      // 93/256 = 36% of each table's bucket space, and 4 tables union
      // toward ~60% — the honest limit of 8-bit buckets. At 10⁹
      // vectors the same equi-join shape runs 16-24-plane tables with
      // L≈8-16 — MEASURED at the x16 tier (round 12, AdjAnn16 /
      // SCALING.md): 16-plane H≤3 probe fraction per table 697/65536
      // = 1.06% (the argued ~1e-2, exactly), candidate fraction 0.665
      // → 0.090 at the same L=4 — a 7.4× price drop from bucket-space
      // dilution alone (with the tier's clustered-duplicate caveat
      // recorded there; 16-plane probe lists must be mask-table
      // joins, not literal arrays — the 64 KB codegen limit). The
      // gate corpus (~500 vectors, ~2/bucket) stays on 8-plane
      // tables — wider buckets here would hold ~0 vectors and measure
      // noise — so the cell pins the RECALL≥0.8 methodology (config
      // scan + recall+cost emission), storage L× index rows, compute
      // n_cand re-ranks.
      annAudit(s, d, nTables = 4, maxDist = 3)
    },

    "sim_matryoshka_audit" -> { (s, d) =>
      // Matryoshka/MRL prefix-dimension audit: rank by cosine over the
      // FIRST 16 of 64 dims and measure recall@10 against the full-dim
      // truth — the measurement that decides whether a prefix-truncated
      // index (4× smaller vectors, 4× cheaper dots: the MRL serving
      // trade) is safe for a given corpus. Same sampled-query audit
      // harness as the five ANN recall cells (shared annTruth +
      // annRecallEmit, so all six operators read as one experiment
      // family); candidate side is a map-side prefix-cosine pass over
      // the broadcast query block + a per-query top-10 window on the
      // #queries-partition key. NOTE the honest expectation: gate
      // vectors are near-isotropic (no MRL training), so this measures
      // the audit working, not prefix truncation being good here.
      val emb = embeddings(s, d)
      val qs = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cands = emb.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(cosine(slice(col("embedding"), 1, 16),
            slice(col("q_emb"), 1, 16)), 6).as("pcos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("pcos"), asc("vec_id"))))
        .filter(col("rk") <= 10)
        .select("q_id", "vec_id")
      annRecallEmit(annTruth(emb, qs), cands)
    },

    "sim_pq_adc" -> { (s, d) =>
      // Product quantization + asymmetric distance computation — the
      // faiss-PQ shape that makes billion-vector search fit in RAM:
      // split 64-d into m=8 subspaces of 8 dims; per subspace a k=16
      // codebook (here the deterministic seed pick, vec_id 0..15's
      // slices — one Lloyd sweep away from production, and the
      // ENCODE/ADC shape is the operator); every vector compresses to
      // 8 nibble codes (4 bytes vs 256 — the 64× memory lever).
      // A query never decodes the corpus: it builds one 8×16 lookup
      // table of query-to-centroid partial distances and scores a
      // candidate as the SUM OF 8 TABLE LOOKUPS (ADC). Scale shape:
      // codebook collapses to a broadcast 1-row 128-struct array, the
      // encode+score pass is MAP-ONLY over the corpus, and the top-20
      // is a TakeOrdered — zero shuffle at any corpus size; the exact
      // column exists to measure ADC's rank fidelity (like the recall
      // audits, the price sheet ships WITH the index).
      // Determinism: every partial dist² is the same a·a−2ab+b·b
      // 3-dot composition both engines state, rounded to the 1e-6
      // grid BEFORE argmin (ties → lower cid via the struct
      // ordering); the 8-term ADC sum accumulates in DECIMAL(28,6)
      // (order-free, each term already a grid number).
      val M = 8; val K = 16; val SUB = 8
      val emb = embeddings(s, d)
      // Re-seeded from the TRAINED codebook (VERDICT r10 item 5): the
      // 60-round fixpoint artifact via trainPq's once-per-dataset memo,
      // so the ADC price sheet below is measured on a production
      // codebook, not the vec_id<16 seed pick.
      val cb = trainedCbDf(s, d)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      // Row-invariant work hoisted to the BROADCAST side (round 14,
      // guide §1.2 step 2): the per-j codebook slice (filter over the
      // 128-struct array — higher-order functions are interpreted per
      // row) and the query-to-centroid dist² (the ADC lookup value,
      // a pure function of q and the centroid) are both computed ONCE
      // on the 1-row qcb frame instead of once per corpus row; the
      // per-row pass keeps only the encode argmin's 8×16 slice dots.
      // Values are bit-identical: the same dist2 composition over the
      // same operands, evaluated on the other side of the broadcast.
      // (qcb/bestJ construction shared with sim_ivf_pq — qcbAndBestJ.)
      val (qcb, bestJ) = qcbAndBestJ(cb, q, M, SUB)
      val D6 = DecimalType(28, 6)
      // NO spread here (measured, then reverted): the op's pinned claim
      // — ShuffleSpec's "shuffle bytes must not track input size" gate —
      // is that encode+score is MAP-ONLY, and a parallelism-floor
      // repartition is a corpus-sized exchange at the single-split gate
      // tiers. The broadcast-side hoist above is where the win lives.
      val scored = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qcb)).crossJoin(broadcast(q))
        .withColumn("adc_dist2",
          (0 until M).map(j => bestJ(j).getField("qdist").cast(D6))
            .reduce(_ + _).cast(DoubleType))
        .withColumn("exact_dist2",
          expr(pqDist2("embedding", "q_emb")))
        .select(col("vec_id"), col("adc_dist2"), col("exact_dist2"))
        .persist() // two TakeOrdered consumers (ADC ranking + exact truth)
      val topExact = scored
        .orderBy(col("exact_dist2"), col("vec_id")).limit(20)
        .select(col("vec_id").as("x_id"))
      scored.orderBy(col("adc_dist2"), col("vec_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("adc_dist2"), col("vec_id"))))
        .join(topExact.withColumn("hit", lit(true)),
          col("vec_id") === col("x_id"), "left")
        .select(col("rank"), col("vec_id"), col("adc_dist2"),
          col("exact_dist2"), coalesce(col("hit"), lit(false)).as("in_exact_top20"))
        .orderBy("rank")
    },

    "sim_ivf_pq" -> { (s, d) =>
      // IVF + PQ composed — the faiss-IVFPQ production shape at 10⁹
      // vectors: the coarse quantizer (sim_ann_ivf's label centroids,
      // nprobe=2) prunes WHICH inverted lists are read, and PQ/ADC
      // (sim_pq_adc's 8×16 codebook) prunes WHAT each candidate costs
      // — compose them and RAM holds 4-byte codes for only the probed
      // fraction of the corpus. Both levers' audits exist separately;
      // this cell measures their COMPOSITION: top-20 by ADC over the
      // probed lists, each row carrying the exact dist² and an
      // in-exact-top20 flag vs the WHOLE-corpus truth (so the flag
      // prices coarse-pruning loss + quantization loss together), and
      // n_cand — the probed-list size every ADC lookup pays. Scale
      // shape: centroids/codebook/query/probe-set are all O(1)-row
      // broadcasts, candidate selection is one equi-join on label,
      // encode+score is map-only, both top-20s are TakeOrdered — the
      // only data-sized work is one corpus scan. Determinism: the
      // sim_pq_adc recipe verbatim (grid-snapped dist² before argmin,
      // DECIMAL(28,6) ADC accumulation).
      val M = 8; val K = 16; val SUB = 8
      val emb = embeddings(s, d)
      // spread: the 64-way posexplode + partial aggregate over the
      // 1-row-group embeddings file otherwise runs on one task
      // (round 14, guide §2.6).
      val cent = spread(emb)
        .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
        .groupBy("label", "idx")
        .agg((sum(col("v").cast(D)).cast(DoubleType) / count(lit(1))).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("idx"), col("c")))),
          x => x.getField("c").cast(FloatType)).as("centroid"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val probes = cent.crossJoin(broadcast(q))
        .withColumn("csim", cosine(col("centroid"), col("q_emb")))
        .orderBy(desc("csim"), asc("label"))
        .limit(2)
        .select(col("label").as("probe_label"))
      // Re-seeded from the TRAINED codebook (VERDICT r10 item 5): the
      // 60-round fixpoint artifact via trainPq's once-per-dataset memo,
      // so the ADC price sheet below is measured on a production
      // codebook, not the vec_id<16 seed pick.
      val cb = trainedCbDf(s, d)
      // Row-invariant work hoisted to the broadcast side + spread on
      // the 1-row-group embeddings scan — the sim_pq_adc round-14
      // rationale, applied to the composed query (shared qcbAndBestJ).
      val (qcb, bestJ) = qcbAndBestJ(cb, q, M, SUB)
      val D6 = DecimalType(28, 6)
      // No spread on the candidate/truth scans — the map-only claim
      // (the sim_pq_adc rationale); the qcb hoist carries the win.
      val cands = emb.filter(col("vec_id") =!= 0)
        .join(broadcast(probes), col("label") === col("probe_label"))
      val nC = cands.agg(count(lit(1)).as("n_cand"))
      val scored = cands
        .crossJoin(broadcast(qcb)).crossJoin(broadcast(q))
        .withColumn("adc_dist2",
          (0 until M).map(j => bestJ(j).getField("qdist").cast(D6))
            .reduce(_ + _).cast(DoubleType))
        .withColumn("exact_dist2", expr(pqDist2("embedding", "q_emb")))
        .select(col("vec_id"), col("adc_dist2"), col("exact_dist2"))
      val topExact = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), expr(pqDist2("embedding", "q_emb")).as("ed"))
        .orderBy(col("ed"), col("vec_id")).limit(20)
        .select(col("vec_id").as("x_id"))
      scored.orderBy(col("adc_dist2"), col("vec_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("adc_dist2"), col("vec_id"))))
        .join(topExact.withColumn("hit", lit(true)),
          col("vec_id") === col("x_id"), "left")
        .crossJoin(broadcast(nC))
        .select(col("rank"), col("vec_id"), col("adc_dist2"),
          col("exact_dist2"),
          coalesce(col("hit"), lit(false)).as("in_exact_top20"),
          col("n_cand"))
        .orderBy("rank")
    },

    "feat_pca_power_step" -> { (s, d) =>
      // One power-iteration step toward the corpus's top principal
      // component: w = Xᵀ(Xv), normalized — the spectral sibling of
      // sim_kmeans_step (witness the step; looping it IS the
      // algorithm, and the top PC drives whitening, ABTT embedding
      // post-processing, and spectral outlier audits). Scale shape:
      // Xv is a map-side pass (broadcast v, codegen'd left-fold dot),
      // Xᵀs is ONE shuffle of ≤64 decimal partials per task —
      // bytes-over-network O(tasks·dims), input-size-invariant; the
      // 64-row result normalizes via a 1-row broadcast attach. Every
      // double derives from rounded products captured in exact
      // decimals, so the oracle replicates score → weight → norm and
      // the gate verifies the iterate itself.
      val emb = embeddings(s, d)
      val v = emb.filter(col("vec_id") === 0).select(col("embedding").as("v"))
      val scored = emb.crossJoin(broadcast(v))
        .select(col("embedding"),
          round(dot(col("embedding"), col("v")), 6).as("sc"))
      val w = scored
        .select(posexplode(col("embedding")).as(Seq("dim", "x")), col("sc"))
        .groupBy("dim")
        // Exact long capture (Tables.lsum): per-dim Σ|x·sc| < 9e6
        // holds to ~10⁶ unit-scale vectors per partition-free key; the
        // decimal form is bit-identical and ~2× slower per round.
        .agg(lsum(round(col("x").cast(DoubleType) * col("sc"), 9), 9).as("w"))
      // n2 sums w² of the UNNORMALIZED iterate: w itself is
      // corpus-scaled (Σ over all vectors), so w²·10⁹ exceeds the
      // long-capture envelope as the corpus grows — the armed x64
      // drive TRIPPED here (round 13: max|m|·n = 1.5e18 with a single
      // term past 2⁵³, a true would-be wrap, not just the conservative
      // envelope). Widened to an exact DECIMAL(38,9) capture per the
      // committed rule ("a callsite whose group size grows with the
      // corpus should use dsum"): same exact Σ of the same rationals,
      // same single to-double rounding ⇒ bit-identical emission, just
      // the 29-digit headroom. The 64-row sum is off the hot path.
      val norm2 = w.agg(sum(round(col("w") * col("w"), 9)
        .cast(DecimalType(38, 9))).cast(DoubleType).as("n2"))
      w.crossJoin(broadcast(norm2))
        .select(col("dim"), round(col("w"), 6).as("w"),
          round(col("w") / sqrt(col("n2")), 6).as("w_normed"))
        .orderBy("dim")
    },

    "feat_pca_power_converged" -> { (s, d) =>
      // Power iteration TO THE FIXPOINT — feat_pca_power_step looped
      // until the normalized iterate is exactly stationary, emitting
      // the corpus's top principal component (the whitening/ABTT
      // direction a one-step witness can't actually ship). Completes
      // the to-convergence family (pagerank/HITS/kmeans → spectral).
      //
      // Oracle-able convergence, as for the Lloyd trainers: the step's
      // arithmetic already quantizes (scores at 1e-6, per-product
      // capture at 1e-9 through exact decimal sums, the emitted unit
      // vector rounded at 1e-6 and CAST TO FLOAT32 — the corpus element
      // type — before feeding back), so the round map is a function on
      // quantized 64-float vectors and `stationary` (the trainers' loop
      // on Cc.fixpoint) stops at exact equality. The 64-value iterate goes
      // back each round as broadcast DATA, one row of (v), never as
      // plan literals, so the generated code compiles once. A sign-flip
      // limit cycle (possible when the start vector is near-orthogonal
      // to the PC) fails the 60-round cap loudly rather than emit a
      // mid-oscillation iterate.
      //
      // The fixture needs a PLANT (the dedup_embedding precedent): the
      // synthetic embeddings are isotropic — their second-moment
      // spectrum has no gap, and MEASURED at 1e-6 the bare iterate
      // rotates indefinitely in the near-degenerate top subspace
      // (per-round max delta plateaus at ~2.5e-3 for 60 rounds). A
      // corpus with no principal direction has no PC to converge to,
      // so the witness corpus appends one deterministic copy of
      // vec_id 0's embedding per 10 corpus rows (ids offset clear of
      // the live domain) — the planted direction's second-moment term
      // is ~|v0|²·n/10 ≈ 6× the isotropic eigenvalues, a real gap, and
      // the loop then converges the way it would on any production
      // corpus that HAS a top component. Plant, start vector, and
      // arithmetic are all RNG-free, so the oracle replicates them.
      //
      // Scale shape per round = the step's: score pass is map-only
      // (broadcast v, codegen'd left-fold dot), the Xᵀs reduction
      // shuffles ≤64 decimal partials per task (bytes O(tasks·dim),
      // input-size-invariant), norm over 64 rows. The converged basis
      // is the shipped projection artifact: trained once per dataset,
      // re-emitted from the held 64 rows (graft.ArtifactMemo).
      import s.implicits._
      graft.ArtifactMemo.cached(s, artifactKey(d, "embeddings") + "#pca1") {
        val base = embeddings(s, d)
        val v0Df = base.filter(col("vec_id") === 0)
          .select(col("embedding").as("pv"))
        val emb = base.select(col("vec_id"), col("embedding"))
          .unionByName(base.filter(col("vec_id") % 10 === 0)
            .crossJoin(broadcast(v0Df))
            .select((col("vec_id") + 200000).as("vec_id"),
              col("pv").as("embedding")))
          .persist()
        def step(v: Seq[Float]): DataFrame = {
          val vDf = Seq(Tuple1(v)).toDF("v")
          val scored = emb.crossJoin(broadcast(vDf))
            .select(col("embedding"),
              round(dot(col("embedding"), col("v")), 6).as("sc"))
          val w = scored
            .select(posexplode(col("embedding")).as(Seq("dim", "x")), col("sc"))
            .groupBy("dim")
            // Exact long capture — see feat_pca_power_step's bound note.
            .agg(lsum(round(col("x").cast(DoubleType) * col("sc"), 9), 9).as("w"))
          // DECIMAL(38,9) capture, not lsum: w² of the corpus-scaled
          // iterate overflows the long envelope at the x64 tier (the
          // round-13 armed-drive trip — see feat_pca_power_step).
          val norm2 = w.agg(sum(round(col("w") * col("w"), 9)
            .cast(DecimalType(38, 9))).cast(DoubleType).as("n2"))
          w.crossJoin(broadcast(norm2))
            .select(col("dim"), round(col("w") / sqrt(col("n2")), 6).as("w_normed"))
        }
        val v0 = emb.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0)
        try stationary("feat_pca_power_converged: iterate", 60, v0)(step)(
          _.sortBy(_.getInt(0)).map(_.getDouble(1).toFloat))
        finally emb.unpersist()
      }.orderBy("dim")
    },

    "feat_pca_project" -> { (s, d) =>
      // ARTIFACT CONSUMER (round 12): project the corpus onto the
      // TRAINED first principal component — what a PCA basis is FOR
      // (the dimensionality-reduction feature column; the PQ-ADC
      // relationship replayed for the PCA family: train once, ship
      // the 64-float basis, consume it corpus-wide). The basis
      // re-seeds from feat_pca_power_converged's artifact (64
      // round-6 doubles cast to FLOAT — the serving dtype; JVM
      // toFloat and DuckDB CAST AS FLOAT are the same IEEE nearest
      // rounding); the projection is MAP-ONLY: one corpus scan, a
      // broadcast 64-float literal, the codegen'd index-order dot
      // (graft_dot), round 6 — the only exchange in the plan is the
      // emission orderBy's rangepartitioning (PlanSpec-pinned). At
      // 100 TB this is the embarrassingly parallel shape.
      val basis = queries("feat_pca_power_converged")(s, d)
        .orderBy("dim").collect().map(_.getDouble(1).toFloat).toSeq
      embeddings(s, d)
        .select(col("vec_id"), round(call_function("graft_dot",
          col("embedding"), typedLit(basis)), 6).as("pc1"))
        .orderBy("vec_id")
    },

    "dedup_semantic" -> { (s, d) =>
      // SemDeDup-style semantic dedup: coarse clusters BOUND the O(n²)
      // pair search (candidates are same-cluster only — at 10⁹ docs k
      // grows with the corpus so block size stays fixed), then
      // near-identical members within a cluster collapse to the
      // lowest-id survivor. Complements the dedup family: minhash
      // catches lexical copies, this catches SEMANTIC redundancy that
      // shares no tokens. Same planted +0.005 copies as
      // dedup_embedding (corpus has no natural near-dups); assignment
      // is the sim_kmeans_step argmin (map-only over a broadcast
      // centroid row, dist² rounded before argmin so it's
      // engine-independent); verify cosine rounds at 1e-6 before the
      // 0.9 threshold. Whole rule is RNG-free, so the oracle replicates
      // plant → assign → pair → anti-join and the hash gate checks the
      // exact survivor set.
      val base = embeddings(s, d)
      val corpus = base.select(col("vec_id"), col("embedding"))
        .unionByName(
          base.filter(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 100000).as("vec_id"),
              transform(col("embedding"),
                x => (x.cast(DoubleType) + lit(0.005)).cast(FloatType)).as("embedding")))
      val cRow = base.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cemb"))
        .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cs"))
      val assigned = corpus.crossJoin(broadcast(cRow))
        .withColumn("cid", expr(
          """array_min(transform(cs, c -> named_struct(
            |  'dist2', round(graft_dot(embedding, embedding)
            |             - 2 * graft_dot(embedding, c.cemb)
            |             + graft_dot(c.cemb, c.cemb), 6),
            |  'cid', c.cid))).cid""".stripMargin))
        .select(col("vec_id"), col("cid"), col("embedding"))
        .persist() // 3 consumers: both pair sides + the survivor base
      val a = assigned.select(col("cid"), col("vec_id").as("id_a"),
        col("embedding").as("emb_a"))
      val b = assigned.select(col("cid").as("cid_b"), col("vec_id").as("id_b"),
        col("embedding").as("emb_b"))
      val removed = a.join(b, col("cid") === col("cid_b") && col("id_a") < col("id_b"))
        .filter(round(cosine(col("emb_a"), col("emb_b")), 6) >= 0.9)
        .select(col("id_b"))
        .distinct()
      assigned.join(removed, col("vec_id") === col("id_b"), "left_anti")
        .select(col("vec_id"), col("cid"))
        .orderBy("vec_id")
    },

    "sim_kmeans_converged" -> { (s, d) =>
      // Lloyd's k-means iterated TO THE FIXPOINT (VERDICT r9 item 4) —
      // sim_kmeans_step's single iteration looped until the centroid
      // table is exactly stationary: `lloydSweep` over one subspace
      // (j = 0, the whole embedding, K = 8 seeds vec_id 0..7), driven by
      // `stationary`, with j dropped from the emission. Oracle-ability
      // comes from the step's arithmetic, which already QUANTIZES:
      // per-member values snap at 1e-6, means exit through the
      // floor(·*1e6+0.5) half-up quantizer (a coarser 1e-4 quantizer
      // was MEASURED to lengthen the trajectory — 31 → 40 rounds at
      // sf0.1: coarse centroids perturb assignments more than they
      // save tail rounds — so the step's own 1e-6 stands), and the
      // next round reads the centroids CAST TO FLOAT32. So stationarity
      // is EXACT equality, no epsilon, and every later round reproduces
      // the stationary table (the graph_k_core idempotence argument):
      // Spark stops at the first stationary round, the oracle unrolls a
      // fixed 40 rounds, and rounds past stationarity are no-ops. A
      // vanished cluster (possible under Lloyd) simply drops out of the
      // centroid table in both engines. Lloyd descends a finite
      // potential, so a cycle is impossible in exact arithmetic;
      // quantization could in theory introduce one, which the 40-round
      // cap catches loudly — measured convergence is well inside it.
      // The converged table is the shipped coarse quantizer (the
      // IVF/SemDeDup artifact): trained once per dataset, re-emitted
      // from the held ≤512 rows (graft.ArtifactMemo).
      graft.ArtifactMemo.cached(s, artifactKey(d, "embeddings") + "#kmeans8") {
        lloyd(embeddings(s, d).select(lit(0).as("j"), col("vec_id"),
          col("embedding").as("semb")), 8, 40, "sim_kmeans_converged: centroids")
      }.drop("j").orderBy("cid", "dim")
    },

    "sim_pq_train" -> { (s, d) =>
      // The Lloyd sweep sim_pq_adc documents itself as being "one
      // sweep away from production": PQ codebook TRAINING. All m=8
      // subspaces train SIMULTANEOUSLY in one corpus pass — the corpus
      // explodes to (vec_id, subspace, 8-d slice) rows, each slice is
      // assigned to its nearest same-subspace codeword (seed codebook =
      // pq_adc's vec_id 0..15 slices, broadcast as one 128-struct row),
      // and per-(subspace, codeword, dim) means re-derive the codebook.
      // Scale shape: assignment is MAP-ONLY (broadcast codebook; three
      // graft_dot kernels per candidate inside an array_min HOF — the
      // HOF evaluates interpreted, never whole-stage-compiled (ADVICE
      // r10); acceptable for this single witnessed sweep, while the
      // LOOPED form, sim_pq_train_converged, unrolls the candidates to
      // codegen'd struct columns + least() — dist² rounded 1e-6 before
      // the argmin so the assignment is engine-independent); recompute
      // groupBy has m×k×sub = 1024 keys, so map-side combine bounds
      // every task's emission at ANY corpus size. The sim_kmeans_step
      // quantizer (1e-6 member snap, exact decimal sum, floor-half-up
      // mean) carries over verbatim — the one sweep is the witnessed
      // primitive.
      val M = 8; val K = 16; val SUB = 8
      val emb = embeddings(s, d)
      // The SEED codebook, deliberately: this operator is the witnessed
      // single sweep FROM the seed; sim_pq_train_converged owns the
      // fixpoint and the ADC family re-seeds from it.
      val cb = emb.filter(col("vec_id") < K)
        .select(explode(array((0 until M).map(j => struct(
          lit(j).as("j"), col("vec_id").cast("int").as("cid"),
          slice(col("embedding"), j * SUB + 1, SUB).as("cemb"))): _*)).as("e"))
        .agg(sort_array(collect_list(col("e"))).as("cb"))
      emb.select(col("vec_id"), explode(array((0 until M).map(j => struct(
          lit(j).as("j"),
          slice(col("embedding"), j * SUB + 1, SUB).as("semb"))): _*)).as("x"))
        .select(col("vec_id"), col("x.j").as("j"), col("x.semb").as("semb"))
        .crossJoin(broadcast(cb))
        .withColumn("cid", expr(
          """array_min(transform(filter(cb, c -> c.j = j), c -> named_struct(
            |  'dist2', round(graft_dot(semb, semb)
            |             - 2 * graft_dot(semb, c.cemb)
            |             + graft_dot(c.cemb, c.cemb), 6),
            |  'cid', c.cid))).cid""".stripMargin))
        .select(col("j"), col("cid"), posexplode(col("semb")).as(Seq("dim", "v")))
        .groupBy("j", "cid", "dim")
        .agg(count(lit(1)).as("n_members"),
          (floor(lsum(round(col("v").cast("double"), 6), 6)
            / count(lit(1)) * 1000000 + 0.5).cast("double") / 1000000.0)
            .as("centroid"))
        .orderBy("j", "cid", "dim")
    },

    "sim_pq_train_converged" -> { (s, d) =>
      // PQ codebook training run TO THE FIXPOINT (VERDICT r10 item 5):
      // sim_pq_train's one simultaneous-subspace Lloyd sweep, in its
      // codegen'd form (`lloydSweep`: 16 guarded candidates under
      // least(), the codebook as broadcast DATA), driven by
      // `stationary` until all m×k codewords are exactly stationary.
      // The oracle unrolls a fixed 60 rounds (measured stationarity:
      // sweep 50 at sf0.1, inside 40 at sf0.01; rounds past the
      // fixpoint are no-ops). The driver holds m×k×sub doubles.
      // Downstream, sim_pq_adc/sim_ivf_pq re-seed from THIS trained
      // codebook via trainedCbDf (the same memo entry), so the ADC
      // price sheet is measured on a production codebook.
      graft.ArtifactMemo.cached(s, pqKey(d))(trainPq(s, d)).orderBy("j", "cid", "dim")
    },

    "sim_kmeans_step" -> { (s, d) =>
      // One Lloyd iteration over the embedding corpus (semantic-cluster
      // curation / SemDeDup-style pipelines run a handful of these):
      // k=8 seed centroids (vec_id 0..7), each vector assigned to its
      // nearest centroid by squared L2, then per-cluster per-dimension
      // means re-derive the centroids. Scale shape: the 8 centroids
      // collapse to ONE broadcast row, so assignment is MAP-ONLY — no
      // shuffle touches the corpus until the recompute groupBy, whose
      // key space is k×dim=512, so map-side combine reduces every task
      // to ≤512 partial rows regardless of input size. Determinism:
      // dist² = a·a − 2a·b + b·b from three left-fold dots (identical
      // fold in DuckDB), rounded at 1e-6 BEFORE the argmin so the
      // assignment itself is engine-independent (ties → lower cid, the
      // struct ordering); member values round at 1e-6 then go through
      // exact decimal capture so the mean is order-free.
      val emb = embeddings(s, d)
      val cRow = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cemb"))
        .agg(sort_array(collect_list(struct(col("cid"), col("cemb")))).as("cs"))
      emb.crossJoin(broadcast(cRow))
        .withColumn("best", expr(
          """array_min(transform(cs, c -> named_struct(
            |  'dist2', round(graft_dot(embedding, embedding)
            |             - 2 * graft_dot(embedding, c.cemb)
            |             + graft_dot(c.cemb, c.cemb), 6),
            |  'cid', c.cid)))""".stripMargin))
        .select(col("best.cid").as("cid"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg(count(lit(1)).as("n_members"),
          (floor(lsum(round(col("v").cast("double"), 6), 6)
            / count(lit(1)) * 1000000 + 0.5).cast("double") / 1000000.0)
            .as("centroid"))
        .orderBy("cid", "dim")
    }
  )

  private val oCos: String =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(list_zip(%A, %B), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
      |      (acc, x) -> acc + x)
      |    / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(%A, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))
      |    / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(%B, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))""".stripMargin

  /** Index-order dot as a SQL left fold — the same accumulation order
    * as DotProductF (double-widen each float, then multiply/add).
    */
  /** The PQ training fixpoint as a reusable CTE chain (pt-prefixed
    * names; ends at ptc60 = the trained codebook and ptm60 = the final
    * sweep's member/centroid table) — shared by the
    * sim_pq_train_converged oracle and the re-seeded ADC oracles.
    */
  private lazy val oPqTrainCtes: String = {
    def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
    val rounds = (1 to 60).map { i =>
      s"""pta$i AS (
         |  SELECT e.vec_id, e.j, e.semb, c.cid, round(
         |    e.ee - 2 * ${dot("e.semb", "c.cemb")} + c.cc, 6) AS dist2
         |  FROM pten e JOIN ptc${i - 1} c ON c.j = e.j),
         |ptbest$i AS (
         |  SELECT vec_id, j, semb, cid, row_number() OVER (
         |    PARTITION BY vec_id, j ORDER BY dist2, cid) AS rn
         |  FROM pta$i),
         |ptex$i AS (
         |  SELECT j, cid, CAST(i AS INTEGER) AS dim,
         |    round(CAST(semb[CAST(i AS INTEGER) + 1] AS DOUBLE), 6) AS v
         |  FROM ptbest$i, (SELECT unnest(range(8)) AS i) dims WHERE rn = 1),
         |ptm$i AS MATERIALIZED (
         |  SELECT j, cid, dim, count(*) AS n_members,
         |    floor(CAST(sum(CAST(v AS $oD)) AS DOUBLE) / count(*) * 1000000 + 0.5)
         |      / 1000000.0 AS centroid
         |  FROM ptex$i GROUP BY j, cid, dim),
         |ptc$i AS MATERIALIZED (
         |  SELECT j, cid, cemb, ${dot("cemb", "cemb")} AS cc
         |  FROM (SELECT j, cid,
         |    list_transform(list(centroid ORDER BY dim), x -> CAST(x AS FLOAT)) AS cemb
         |    FROM ptm$i GROUP BY j, cid) t)""".stripMargin
    }.mkString(",\n")
    s"""ptjs AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
      |ptsub AS MATERIALIZED (
      |  SELECT e.vec_id, ptjs.j,
      |    list_slice(e.embedding, ptjs.j * 8 + 1, ptjs.j * 8 + 8) AS semb
      |  FROM embeddings e CROSS JOIN ptjs),
      |pten AS MATERIALIZED (
      |  SELECT vec_id, j, semb, ${dot("semb", "semb")} AS ee FROM ptsub),
      |ptc0 AS MATERIALIZED (
      |  SELECT j, CAST(vec_id AS INTEGER) AS cid, semb AS cemb,
      |    ${dot("semb", "semb")} AS cc
      |  FROM ptsub WHERE vec_id < 16),
      |$rounds""".stripMargin
  }

  /** The feat_pca_power_converged oracle's CTE chain (60 unrolled
    * power rounds over the planted-gap corpus), ending with the
    * float-cast normalized basis v60 — shared verbatim with the
    * feat_pca_project oracle so the trainer and its consumer cannot
    * drift.
    */
  private def pcaLadderCtes: String = {
    def dotAB(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
    val rounds = (1 to 60).map { i =>
      s"""sc$i AS (
         |  SELECT e.embedding, round(${dotAB("e.embedding", "v.v")}, 6) AS sc
         |  FROM base e CROSS JOIN v${i - 1} v),
         |w$i AS MATERIALIZED (
         |  SELECT CAST(i AS INTEGER) AS dim,
         |    CAST(sum(CAST(round(
         |      CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * sc, 9)
         |      AS DECIMAL(28,9))) AS DOUBLE) AS w
         |  FROM sc$i, (SELECT unnest(range(64)) AS i) dims
         |  GROUP BY 1),
         |n$i AS (
         |  SELECT CAST(sum(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS DOUBLE) AS n2
         |  FROM w$i),
         |v$i AS MATERIALIZED (
         |  SELECT list_transform(list(round(w / sqrt(n.n2), 6) ORDER BY dim),
         |    x -> CAST(x AS FLOAT)) AS v
         |  FROM w$i CROSS JOIN n$i n GROUP BY n.n2)""".stripMargin
    }.mkString(",\n")
    s"""base AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT e.vec_id + 200000, p.pv FROM embeddings e
      |  CROSS JOIN (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0) p
      |  WHERE e.vec_id % 10 = 0),
      |v0 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
      |$rounds""".stripMargin
  }

  private val oDot: String =
    """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(list_zip(%A, %B), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
      |      (acc, x) -> acc + x)""".stripMargin

  /** The one recall-audit oracle, parameterized by probe Hamming depth
    * — the single thing the two audit operators vary (see
    * annRecallAudit on the Spark side).
    */
  private def oAnnRecallSql(maxDist: Int): String =
    s"""WITH planes AS (
      |  SELECT p, list_transform(range(64), i -> CAST(
      |    CAST((p * 1315423911 + i * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5
      |    AS FLOAT)) AS plane
      |  FROM (SELECT unnest(range(8)) AS p) t),
      |b AS (
      |  SELECT e.vec_id, CAST(sum(CASE WHEN
      |    ${oDot.replace("%A", "e.embedding").replace("%B", "pl.plane")} > 0
      |    THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
      |qs AS (
      |  SELECT e.vec_id AS q_id, e.embedding AS q_emb, b.bucket AS q_bucket
      |  FROM embeddings e JOIN b USING (vec_id) WHERE e.vec_id % 100 = 0),
      |exact AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q.q_id, e.vec_id, row_number() OVER (
      |      PARTITION BY q.q_id
      |      ORDER BY round(
      |        ${oCos.replace("%A", "e.embedding").replace("%B", "q.q_emb")},
      |        6) DESC, e.vec_id ASC) AS rk
      |    FROM embeddings e CROSS JOIN qs q
      |    WHERE e.vec_id <> q.q_id) t
      |  WHERE rk <= 10),
      |masks AS (
      |  SELECT CAST(m AS BIGINT) AS m
      |  FROM (SELECT unnest(range(256)) AS m) t
      |  WHERE bit_count(CAST(m AS BIGINT)) <= $maxDist),
      |probes AS (
      |  SELECT q_id, xor(CAST(q_bucket AS BIGINT), m) AS probe
      |  FROM qs CROSS JOIN masks),
      |cand AS (
      |  SELECT DISTINCT p.q_id, b.vec_id
      |  FROM b JOIN probes p ON b.bucket = p.probe
      |  WHERE b.vec_id <> p.q_id)
      |SELECT e.q_id, count(*) AS n_exact,
      |  CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_hits,
      |  round(CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS recall_at_10
      |FROM exact e LEFT JOIN cand c ON e.q_id = c.q_id AND e.vec_id = c.vec_id
      |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  /** The multi-table recall-audit oracle, parameterized by probe
    * Hamming depth — mirrors annMultiTableAudit (multitable=1,
    * stacked=2): three independent plane families (global plane index
    * t*8+lp, local bucket bits), per-table Hamming-masked probes,
    * union candidates, shared truth/tail.
    */
  private def oAnnMultiTableSql(nTables: Int, maxDist: Int): String =
    oAnnMultiTableSqlImpl(nTables, maxDist, withCost = false)

  private def oAnnMultiTableSqlImpl(nTables: Int, maxDist: Int,
      withCost: Boolean): String =
      s"""WITH planes AS (
        |  SELECT t, lp, list_transform(range(64), i -> CAST(
        |    CAST(((t * 8 + lp) * 1315423911 + i * 2654435761) % 1000003 AS DOUBLE)
        |      / 1000003.0 - 0.5 AS FLOAT)) AS plane
        |  FROM (SELECT unnest(range($nTables)) AS t) tt
        |  CROSS JOIN (SELECT unnest(range(8)) AS lp) pp),
        |b AS (
        |  SELECT pl.t, e.vec_id, CAST(sum(CASE WHEN
        |    ${oDot.replace("%A", "e.embedding").replace("%B", "pl.plane")} > 0
        |    THEN (1 << lp) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN planes pl GROUP BY pl.t, e.vec_id),
        |qs AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |exact AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e.vec_id, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY round(
        |        ${oCos.replace("%A", "e.embedding").replace("%B", "q.q_emb")},
        |        6) DESC, e.vec_id ASC) AS rk
        |    FROM embeddings e CROSS JOIN qs q
        |    WHERE e.vec_id <> q.q_id) t
        |  WHERE rk <= 10),
        |masks AS (
        |  SELECT CAST(m AS BIGINT) AS m
        |  FROM (SELECT unnest(range(256)) AS m) t
        |  WHERE bit_count(CAST(m AS BIGINT)) <= $maxDist),
        |probes AS (
        |  SELECT qb.q_id, qb.t, xor(qb.q_bucket, m.m) AS probe
        |  FROM (SELECT q.q_id, b.t, b.bucket AS q_bucket
        |        FROM qs q JOIN b ON b.vec_id = q.q_id) qb
        |  CROSS JOIN masks m),
        |cand AS (
        |  SELECT DISTINCT p.q_id, b.vec_id
        |  FROM b JOIN probes p ON b.t = p.t AND b.bucket = p.probe
        |  WHERE b.vec_id <> p.q_id)
        |SELECT e.q_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  round(CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS recall_at_10${if (withCost) """,
        |  coalesce((SELECT CAST(count(*) AS BIGINT) FROM cand cc
        |            WHERE cc.q_id = e.q_id), 0) AS n_cand""" else ""}
        |FROM exact e LEFT JOIN cand c ON e.q_id = c.q_id AND e.vec_id = c.vec_id
        |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  val oracleSql: Map[String, String] = keyed(
    // Full replication of the SemDeDup pipeline: planted copies, the
    // kmeans-step argmin assignment (row_number ≡ the struct array_min
    // ordering: dist2 then cid), within-cluster rounded-cosine pairs,
    // lowest-id-survivor anti-join.
    "dedup_semantic" -> {
      def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
      s"""WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.005 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (
        |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cemb
        |  FROM embeddings WHERE vec_id < 8),
        |a AS (
        |  SELECT e.vec_id, e.embedding, c.cid, round(
        |    ${dot("e.embedding", "e.embedding")}
        |    - 2 * ${dot("e.embedding", "c.cemb")}
        |    + ${dot("c.cemb", "c.cemb")}, 6) AS dist2
        |  FROM corpus e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, embedding, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM a),
        |asg AS (SELECT vec_id, embedding, cid FROM best WHERE rn = 1),
        |removed AS (
        |  SELECT DISTINCT b.vec_id AS id_b
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(
        |    ${oCos.replace("%A", "a.embedding").replace("%B", "b.embedding")}, 6) >= 0.9)
        |SELECT vec_id, cid FROM asg
        |WHERE vec_id NOT IN (SELECT id_b FROM removed)
        |ORDER BY vec_id""".stripMargin
    },

    // 40-round unroll of the step arithmetic; rounds past the first
    // stationary centroid table are exact no-ops (see the Spark-side
    // scaladoc), so the data-dependent convergence round is absorbed
    // the same way the k_core oracle absorbs its peel depth. The
    // self-dot (ee) and centroid-dot (cc) are hoisted into one-time
    // columns — the identical fold values the per-pair expression
    // would recompute, so the arithmetic is unchanged.
    "sim_kmeans_converged" -> {
      def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
      val rounds = (1 to 40).map { i =>
        s"""a$i AS (
           |  SELECT e.vec_id, e.embedding, c.cid, round(
           |    e.ee - 2 * ${dot("e.embedding", "c.cemb")} + c.cc, 6) AS dist2
           |  FROM en e CROSS JOIN c${i - 1} c),
           |best$i AS (
           |  SELECT vec_id, embedding, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
           |  FROM a$i),
           |ex$i AS (
           |  SELECT cid, CAST(i AS INTEGER) AS dim,
           |    round(CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE), 6) AS v
           |  FROM best$i, (SELECT unnest(range(64)) AS i) dims WHERE rn = 1),
           |m$i AS MATERIALIZED (
           |  SELECT cid, dim, count(*) AS n_members,
           |    floor(CAST(sum(CAST(v AS $oD)) AS DOUBLE) / count(*) * 1000000 + 0.5)
           |      / 1000000.0 AS centroid
           |  FROM ex$i GROUP BY cid, dim),
           |c$i AS MATERIALIZED (
           |  SELECT cid, cemb, ${dot("cemb", "cemb")} AS cc
           |  FROM (SELECT cid,
           |    list_transform(list(centroid ORDER BY dim), x -> CAST(x AS FLOAT)) AS cemb
           |    FROM m$i GROUP BY cid) t)""".stripMargin
      }.mkString(",\n")
      s"""WITH en AS MATERIALIZED (
        |  SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS ee
        |  FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cemb,
        |    ${dot("embedding", "embedding")} AS cc
        |  FROM embeddings WHERE vec_id < 8),
        |$rounds
        |SELECT cid, dim, n_members, centroid FROM m40
        |ORDER BY cid, dim""".stripMargin
    },

    // Per-subspace replica of the kmeans_step oracle: subvector slices
    // via list_slice, same 3-dot dist² rounded before the row_number
    // argmin, same floor-half-up exact-decimal mean.
    "sim_pq_train" -> {
      def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
      s"""WITH js AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS j),
        |sub AS (
        |  SELECT e.vec_id, js.j,
        |    list_slice(e.embedding, js.j * 8 + 1, js.j * 8 + 8) AS semb
        |  FROM embeddings e CROSS JOIN js),
        |cb AS MATERIALIZED (
        |  SELECT js.j, CAST(e.vec_id AS INTEGER) AS cid,
        |    list_slice(e.embedding, js.j * 8 + 1, js.j * 8 + 8) AS cemb
        |  FROM embeddings e CROSS JOIN js WHERE e.vec_id < 16),
        |a AS (
        |  SELECT s.vec_id, s.j, s.semb, c.cid, round(
        |    ${dot("s.semb", "s.semb")}
        |    - 2 * ${dot("s.semb", "c.cemb")}
        |    + ${dot("c.cemb", "c.cemb")}, 6) AS dist2
        |  FROM sub s JOIN cb c ON c.j = s.j),
        |best AS (
        |  SELECT vec_id, j, semb, cid,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist2, cid) AS rn
        |  FROM a),
        |ex AS (
        |  SELECT j, cid, CAST(i AS INTEGER) AS dim,
        |    round(CAST(semb[CAST(i AS INTEGER) + 1] AS DOUBLE), 6) AS v
        |  FROM best, (SELECT unnest(range(8)) AS i) dims WHERE rn = 1)
        |SELECT j, cid, dim, count(*) AS n_members,
        |  floor(CAST(sum(CAST(v AS $oD)) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |    / 1000000.0 AS centroid
        |FROM ex GROUP BY j, cid, dim ORDER BY j, cid, dim""".stripMargin
    },

    // 60-round per-subspace unroll — sim_kmeans_converged's oracle
    // construction composed with sim_pq_train's slicing (the shared
    // oPqTrainCtes chain; sim_pq_adc/sim_ivf_pq re-seed from its
    // ptc60). Rounds past the measured stationary sweep (50 at sf0.1,
    // inside 40 at sf0.01) are no-ops, so the fixed unroll emits the
    // fixpoint.
    "sim_pq_train_converged" ->
      s"""WITH $oPqTrainCtes
        |SELECT j, cid, dim, n_members, centroid FROM ptm60
        |ORDER BY j, cid, dim""".stripMargin,

    "sim_kmeans_step" -> {
      def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
      s"""WITH c AS (
        |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cemb
        |  FROM embeddings WHERE vec_id < 8),
        |a AS (
        |  SELECT e.vec_id, e.embedding, c.cid, round(
        |    ${dot("e.embedding", "e.embedding")}
        |    - 2 * ${dot("e.embedding", "c.cemb")}
        |    + ${dot("c.cemb", "c.cemb")}, 6) AS dist2
        |  FROM embeddings e CROSS JOIN c),
        |best AS (
        |  SELECT vec_id, embedding, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
        |  FROM a),
        |ex AS (
        |  SELECT cid, CAST(i AS INTEGER) AS dim,
        |    round(CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE), 6) AS v
        |  FROM best, (SELECT unnest(range(64)) AS i) dims WHERE rn = 1)
        |SELECT cid, dim, count(*) AS n_members,
        |  floor(CAST(sum(CAST(v AS $oD)) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |    / 1000000.0 AS centroid
        |FROM ex GROUP BY cid, dim ORDER BY cid, dim""".stripMargin
    },

    // Same left-fold norm as the Spark kernel; the audit arithmetic is
    // exact after the 6-dp snap.
    "feat_embedding_norm_audit" ->
      s"""WITH t AS (
        |  SELECT label, round(sqrt(
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (acc, x) -> acc + x)), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  floor(CAST(sum(CAST(nrm AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*) * 1000000 + 0.5) / 1000000.0 AS avg_norm,
        |  min(nrm) AS min_norm, max(nrm) AS max_norm,
        |  CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(sum(CASE WHEN isnan(nrm) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonfinite
        |FROM t GROUP BY label ORDER BY label""".stripMargin,

    "sim_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(
        |  ${oCos.replace("%A", "embedding").replace("%B", "q_emb")}, 6) AS cos
        |FROM embeddings CROSS JOIN q WHERE vec_id <> 0
        |ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin,

    "sim_pairs_threshold" ->
      s"""SELECT label, id_a, id_b, cos FROM (
        |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b, round(
        |    ${oCos.replace("%A", "a.embedding").replace("%B", "b.embedding")}, 6) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id) t
        |WHERE cos >= 0.3 ORDER BY label, id_a, id_b""".stripMargin,

    // Full replication of the near-dup pipeline: planted +0.005 copies,
    // 8-plane sign buckets, 4×2-bit bands, exact-cosine verify on
    // band-collision candidates, lower-id-survivor anti-join.
    "dedup_embedding" ->
      s"""WITH corpus AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, label,
        |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) + 0.005 AS FLOAT))
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |planes AS (
        |  SELECT p, list_transform(range(64), i -> CAST(
        |    CAST((p * 1315423911 + i * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5
        |    AS FLOAT)) AS plane
        |  FROM (SELECT unnest(range(32)) AS p) t),
        |bk AS (
        |  SELECT c.vec_id, CAST(sum(CASE WHEN
        |    ${oDot.replace("%A", "c.embedding").replace("%B", "pl.plane")} > 0
        |    THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM corpus c CROSS JOIN planes pl GROUP BY c.vec_id),
        |banded AS (
        |  SELECT c.vec_id, c.label, k.band, (bk.bucket >> (8 * k.band)) & 255 AS bits
        |  FROM corpus c JOIN bk USING (vec_id)
        |  CROSS JOIN (SELECT unnest(range(4)) AS band) k),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM banded a JOIN banded b
        |    ON a.label = b.label AND a.band = b.band AND a.bits = b.bits
        |    AND a.vec_id < b.vec_id),
        |removed AS (
        |  SELECT DISTINCT cand.id_b
        |  FROM cand
        |  JOIN corpus ca ON ca.vec_id = cand.id_a
        |  JOIN corpus cb ON cb.vec_id = cand.id_b
        |  WHERE ${oCos.replace("%A", "ca.embedding").replace("%B", "cb.embedding")} >= 0.9)
        |SELECT vec_id, label FROM corpus
        |WHERE vec_id NOT IN (SELECT id_b FROM removed)
        |ORDER BY vec_id""".stripMargin,

    // Full replication of the SQ8 pipeline: per-vector symmetric int8
    // encode, exact integer dot (order-free), scale/norm arithmetic in
    // the identical expression shape, top-100 candidates, exact re-rank.
    "sim_quantized_rerank" ->
      s"""WITH coded AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_aggregate(
        |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'),
        |      1e-30) AS vmax,
        |    sqrt(${oDot.replace("%A", "embedding").replace("%B", "embedding")}) AS nrm
        |  FROM embeddings),
        |c2 AS (
        |  SELECT vec_id, embedding, vmax, nrm,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / vmax * 127.0 + 0.5) AS INTEGER)) AS q8
        |  FROM coded),
        |q AS (
        |  SELECT embedding AS q_emb, q8 AS q_q8, vmax AS q_vmax, nrm AS q_nrm
        |  FROM c2 WHERE vec_id = 0),
        |cand AS (
        |  SELECT vec_id, embedding, q_emb,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_zip(q8, q_q8),
        |        p -> CAST(p[1] * p[2] AS BIGINT))), (a, b) -> a + b) AS DOUBLE)
        |      * (vmax / 127.0) * (q_vmax / 127.0) / nrm / q_nrm AS approx_cos
        |  FROM c2 CROSS JOIN q WHERE vec_id <> 0
        |  ORDER BY approx_cos DESC, vec_id ASC LIMIT 100)
        |SELECT vec_id, round(approx_cos, 6) AS approx_cos, round(
        |  ${oCos.replace("%A", "embedding").replace("%B", "q_emb")}, 6) AS cos
        |FROM cand ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin,

    // Full replication of the recall MEASUREMENT: plane family, sign
    // buckets, Hamming-masked probes, per-query exact top-10 truth via
    // a window, hit counts — the gate verifies the recall numbers. One
    // template (oAnnRecallSql) for both audits; only maxDist differs,
    // mirroring the Spark side's shared annRecallAudit + hammingMasks.
    "sim_ann_recall" -> oAnnRecallSql(1),

    // The probe depth lever pulled: bit_count(m) <= 2 → 1+8+28 = 37
    // probes/query, stated identically to hammingMasks(8, 2).
    "sim_ann_recall_multiprobe" -> oAnnRecallSql(2),

    "sim_ann_multitable" -> oAnnMultiTableSql(3, 1),

    "sim_ann_stacked" -> oAnnMultiTableSql(3, 2),
    "sim_ann_production" -> oAnnMultiTableSqlImpl(4, 3, withCost = true),

    // Same replicated-measurement contract as the five recall cells:
    // full-dim truth, prefix-dim candidate ranking, hit counts.
    "sim_matryoshka_audit" ->
      s"""WITH qs AS (
        |  SELECT vec_id AS q_id, embedding AS q_emb
        |  FROM embeddings WHERE vec_id % 100 = 0),
        |exact AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e.vec_id, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY round(
        |        ${oCos.replace("%A", "e.embedding").replace("%B", "q.q_emb")},
        |        6) DESC, e.vec_id ASC) AS rk
        |    FROM embeddings e CROSS JOIN qs q
        |    WHERE e.vec_id <> q.q_id) t
        |  WHERE rk <= 10),
        |cand AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e.vec_id, row_number() OVER (
        |      PARTITION BY q.q_id
        |      ORDER BY round(
        |        ${oCos.replace("%A", "list_slice(e.embedding, 1, 16)")
                      .replace("%B", "list_slice(q.q_emb, 1, 16)")},
        |        6) DESC, e.vec_id ASC) AS rk
        |    FROM embeddings e CROSS JOIN qs q
        |    WHERE e.vec_id <> q.q_id) t
        |  WHERE rk <= 10)
        |SELECT e.q_id, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  round(CAST(sum(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS recall_at_10
        |FROM exact e LEFT JOIN cand c ON e.q_id = c.q_id AND e.vec_id = c.vec_id
        |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,

    // Full PQ/ADC replication: same seed codebook, same 3-dot dist²
    // composition rounded at 1e-6 before the argmin, same decimal ADC
    // accumulation — the hash gate verifies codes, lookup tables, and
    // rank fidelity together.
    "sim_pq_adc" -> {
      def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
      def d2(a: String, b: String) =
        s"round(${dot(a, a)} - 2 * ${dot(a, b)} + ${dot(b, b)}, 6)"
      s"""WITH $oPqTrainCtes,
        |cents AS (SELECT j, cid, cemb FROM ptc60),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |sliced AS (
        |  SELECT e.vec_id, ct.j, ct.cid, ct.cemb,
        |    list_slice(e.embedding, ct.j * 8 + 1, ct.j * 8 + 8) AS sub,
        |    list_slice(q.q_emb, ct.j * 8 + 1, ct.j * 8 + 8) AS qsub
        |  FROM embeddings e CROSS JOIN q CROSS JOIN cents ct
        |  WHERE e.vec_id <> 0),
        |pairs AS (
        |  SELECT vec_id, j, cid,
        |    ${d2("sub", "cemb")} AS dist2,
        |    ${d2("qsub", "cemb")} AS qdist
        |  FROM sliced),
        |enc AS (
        |  SELECT vec_id, j, qdist, row_number() OVER (
        |    PARTITION BY vec_id, j ORDER BY dist2 ASC, cid ASC) AS rn
        |  FROM pairs),
        |adc AS (
        |  SELECT vec_id,
        |    CAST(sum(CAST(qdist AS DECIMAL(28,6))) AS DOUBLE) AS adc_dist2
        |  FROM enc WHERE rn = 1 GROUP BY vec_id),
        |exact AS (
        |  SELECT e.vec_id,
        |    ${d2("e.embedding", "q.q_emb")} AS exact_dist2
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        |topx AS (SELECT vec_id FROM exact ORDER BY exact_dist2, vec_id LIMIT 20),
        |topa AS (
        |  SELECT a.vec_id, a.adc_dist2, x.exact_dist2,
        |    CAST(row_number() OVER (ORDER BY a.adc_dist2, a.vec_id)
        |      AS INTEGER) AS rank
        |  FROM adc a JOIN exact x ON a.vec_id = x.vec_id
        |  ORDER BY a.adc_dist2, a.vec_id LIMIT 20)
        |SELECT rank, t.vec_id, adc_dist2, exact_dist2,
        |  (t.vec_id IN (SELECT vec_id FROM topx)) AS in_exact_top20
        |FROM topa t ORDER BY rank""".stripMargin
    },

    // The IVF oracle's centroid/probe CTEs composed with the PQ
    // oracle's encode/ADC CTEs — only the candidate set (probed
    // labels) and the n_cand emission differ from sim_pq_adc's.
    "sim_ivf_pq" -> {
      def dot(a: String, b: String) = oDot.replace("%A", a).replace("%B", b)
      def d2(a: String, b: String) =
        s"round(${dot(a, a)} - 2 * ${dot(a, b)} + ${dot(b, b)}, 6)"
      s"""WITH $oPqTrainCtes,
        |dims AS (SELECT unnest(range(64)) AS idx),
        |cm AS (
        |  SELECT label, idx, CAST(
        |    CAST(sum(CAST(embedding[idx + 1] AS DECIMAL(28,6))) AS DOUBLE) / count(*)
        |    AS FLOAT) AS c
        |  FROM embeddings CROSS JOIN dims GROUP BY label, idx),
        |cent AS (SELECT label, list(c ORDER BY idx) AS centroid FROM cm GROUP BY label),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |probes AS (
        |  SELECT c.label FROM cent c, q
        |  ORDER BY ${oCos.replace("%A", "c.centroid").replace("%B", "q.q_emb")} DESC,
        |    c.label ASC LIMIT 2),
        |cands AS (
        |  SELECT e.vec_id, e.embedding FROM embeddings e
        |  JOIN probes p ON e.label = p.label WHERE e.vec_id <> 0),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cands),
        |cents AS (SELECT j, cid, cemb FROM ptc60),
        |sliced AS (
        |  SELECT e.vec_id, ct.j, ct.cid, ct.cemb,
        |    list_slice(e.embedding, ct.j * 8 + 1, ct.j * 8 + 8) AS sub,
        |    list_slice(q.q_emb, ct.j * 8 + 1, ct.j * 8 + 8) AS qsub
        |  FROM cands e CROSS JOIN q CROSS JOIN cents ct),
        |pairs AS (
        |  SELECT vec_id, j, cid,
        |    ${d2("sub", "cemb")} AS dist2,
        |    ${d2("qsub", "cemb")} AS qdist
        |  FROM sliced),
        |enc AS (
        |  SELECT vec_id, j, qdist, row_number() OVER (
        |    PARTITION BY vec_id, j ORDER BY dist2 ASC, cid ASC) AS rn
        |  FROM pairs),
        |adc AS (
        |  SELECT vec_id,
        |    CAST(sum(CAST(qdist AS DECIMAL(28,6))) AS DOUBLE) AS adc_dist2
        |  FROM enc WHERE rn = 1 GROUP BY vec_id),
        |candx AS (
        |  SELECT e.vec_id, ${d2("e.embedding", "q.q_emb")} AS exact_dist2
        |  FROM cands e CROSS JOIN q),
        |exact AS (
        |  SELECT e.vec_id, ${d2("e.embedding", "q.q_emb")} AS ed
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        |topx AS (SELECT vec_id FROM exact ORDER BY ed, vec_id LIMIT 20),
        |topa AS (
        |  SELECT a.vec_id, a.adc_dist2, x.exact_dist2,
        |    CAST(row_number() OVER (ORDER BY a.adc_dist2, a.vec_id)
        |      AS INTEGER) AS rank
        |  FROM adc a JOIN candx x ON a.vec_id = x.vec_id
        |  ORDER BY a.adc_dist2, a.vec_id LIMIT 20)
        |SELECT rank, t.vec_id, adc_dist2, exact_dist2,
        |  (t.vec_id IN (SELECT vec_id FROM topx)) AS in_exact_top20,
        |  nc.n_cand
        |FROM topa t CROSS JOIN nc ORDER BY rank""".stripMargin
    },

    // Full replication of the power step: left-fold dot scores, rounded
    // products through DECIMAL(28,9) sums, identical norm shape.
    "feat_pca_power_step" -> {
      val d = oDot.replace("%A", "e.embedding").replace("%B", "v.v")
      s"""WITH v AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
        |sc AS (
        |  SELECT e.embedding, round($d, 6) AS sc
        |  FROM embeddings e CROSS JOIN v),
        |w AS (
        |  SELECT CAST(i AS INTEGER) AS dim,
        |    CAST(sum(CAST(round(
        |      CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) * sc, 9)
        |      AS DECIMAL(28,9))) AS DOUBLE) AS w
        |  FROM sc, (SELECT unnest(range(64)) AS i) dims
        |  GROUP BY 1),
        |n2 AS (
        |  SELECT CAST(sum(CAST(round(w * w, 9) AS DECIMAL(28,9))) AS DOUBLE) AS n2
        |  FROM w)
        |SELECT dim, round(w, 6) AS w, round(w / sqrt(n2), 6) AS w_normed
        |FROM w CROSS JOIN n2 ORDER BY dim""".stripMargin
    },

    // 60-round unroll of the identical quantized power step (scores
    // 1e-6, products 1e-9 through DECIMAL(28,9), unit vector rounded
    // at 1e-6 then CAST TO FLOAT per element before the next round —
    // the float32 feedback the Spark loop applies); rounds past the
    // stationary vector are exact no-ops.
    "feat_pca_power_converged" ->
      s"""WITH $pcaLadderCtes
        |SELECT dim, round(w / sqrt(n.n2), 6) AS w_normed
        |FROM w60 CROSS JOIN n60 n ORDER BY dim""".stripMargin,

    // The PCA ladder (above, shared verbatim) + one projection pass:
    // corpus x the float-cast v60 basis through the index-order dot.
    "feat_pca_project" ->
      s"""WITH $pcaLadderCtes
        |SELECT e.vec_id, round(
        |  ${oDot.replace("%A", "e.embedding").replace("%B", "v.v")}, 6)
        |  AS pc1
        |FROM embeddings e CROSS JOIN v60 v
        |ORDER BY e.vec_id""".stripMargin,

    // Full replication of the deterministic LSH pipeline: plane family
    // (integer-hash rationals cast to float), index-order sign dots,
    // bucket assembly, Hamming-1 multi-probe, exact re-rank.
    "sim_ann_lsh" ->
      s"""WITH planes AS (
        |  SELECT p, list_transform(range(64), i -> CAST(
        |    CAST((p * 1315423911 + i * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 - 0.5
        |    AS FLOAT)) AS plane
        |  FROM (SELECT unnest(range(8)) AS p) t),
        |b AS (
        |  SELECT e.vec_id, CAST(sum(CASE WHEN
        |    ${oDot.replace("%A", "e.embedding").replace("%B", "pl.plane")} > 0
        |    THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
        |q AS (
        |  SELECT e.embedding AS q_emb, b.bucket AS q_bucket
        |  FROM embeddings e JOIN b USING (vec_id) WHERE e.vec_id = 0),
        |probes AS (
        |  SELECT q_emb, unnest(list_append(
        |    list_transform(range(8), p -> xor(CAST(q_bucket AS BIGINT), 1 << p)),
        |    CAST(q_bucket AS BIGINT))) AS probe
        |  FROM q)
        |SELECT e.vec_id, b.bucket, round(
        |  ${oCos.replace("%A", "e.embedding").replace("%B", "p.q_emb")}, 6) AS cos
        |FROM embeddings e JOIN b USING (vec_id) JOIN probes p ON b.bucket = p.probe
        |WHERE e.vec_id <> 0
        |ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin,

    // Full replication of the IVF pipeline: per-label decimal-mean
    // centroids, 2 nearest probes by centroid cosine, exact re-rank
    // inside the probed lists only.
    "sim_ann_ivf" ->
      s"""WITH dims AS (SELECT unnest(range(64)) AS idx),
        |cm AS (
        |  SELECT label, idx, CAST(
        |    CAST(sum(CAST(embedding[idx + 1] AS DECIMAL(28,6))) AS DOUBLE) / count(*)
        |    AS FLOAT) AS c
        |  FROM embeddings CROSS JOIN dims GROUP BY label, idx),
        |cent AS (SELECT label, list(c ORDER BY idx) AS centroid FROM cm GROUP BY label),
        |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |probes AS (
        |  SELECT c.label, q.q_emb FROM cent c, q
        |  ORDER BY ${oCos.replace("%A", "c.centroid").replace("%B", "q.q_emb")} DESC,
        |    c.label ASC LIMIT 2)
        |SELECT e.vec_id, e.label, round(
        |  ${oCos.replace("%A", "e.embedding").replace("%B", "p.q_emb")}, 6) AS cos
        |FROM embeddings e JOIN probes p ON e.label = p.label
        |WHERE e.vec_id <> 0
        |ORDER BY cos DESC, vec_id ASC LIMIT 20""".stripMargin
  )
}

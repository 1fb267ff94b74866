package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.SparkEntry.keyed

/** LLM-training-data pipeline: deduplication + text analysis
  * (SURVEY.md §2i, north-star layer).
  *
  * Scale design: exact dedup is a hash-groupBy (one shuffle on the
  * fingerprint); the exact Jaccard join is BLOCKED on (lang, source) so
  * the quadratic term is bounded per block; MinHash+LSH is the 100 TB
  * path — signatures are one groupBy over exploded tokens, candidate
  * generation is an equi-join on (band-id, band-hash) buckets, never an
  * all-pairs comparison.
  */
object TextPipeline {
  type Q = (SparkSession, String) => DataFrame

  private def tokens(s: SparkSession, d: String): DataFrame =
    spread(documents(s, d)).select(col("doc_id"), col("lang"), col("source"),
      explode(array_distinct(split(col("text"), " "))).as("w"))

  /** Distinct 5-word shingles per doc via the codegen'd WordShingles
    * kernel (the equivalent transform/slice higher-order chain is
    * interpreted and cost ~2 s/corpus-pass at sf0.1 — see
    * functions/NGrams.scala). Docs shorter than 5 words yield an empty
    * array and drop out at the explode (none exist here, n_chars ≥ 48).
    */
  private[queries] def shingles(s: SparkSession, d: String): DataFrame = {
    spread(documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"))).as("w"))
  }

  /** The 80/10/10 split contract shared by split_train_test and
    * pipeline_clean_corpus: salted-md5 bucket in [0, 100), engine-
    * portable (md5 is md5 everywhere, unlike xxhash64/rand seeds).
    */
  private def splitBucket: org.apache.spark.sql.Column =
    conv(substring(
      md5(concat(lit("graft-split:"), col("doc_id").cast(StringType))), 1, 8),
      16, 10).cast(LongType) % 100

  private def splitName(bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** MinHash parameters: K signature slots in B bands of R rows.
    * Hashes are xxhash64 of token+slot-tag — seeded, deterministic. */
  private val K = 16
  private val B = 4
  private val R = K / B

  /** Shared exact-verify tail for the sketch dedup queries: join the
    * candidate pairs back to full shingle sets and keep pairs with
    * EXACT 5-word-shingle Jaccard ≥ [[ShingleT]]. The emitted result is
    * therefore candidates ∩ truth — and because this corpus has a wide
    * similarity gap (every pair sharing a shingle is either ≥ 0.8 or
    * < 0.3 Jaccard; measured at sf0.01 and sf0.1) the banding recovers
    * every truth pair, so the output EQUALS the brute-force truth set
    * and the DuckDB oracle (the unfiltered shared-shingle brute force)
    * hash-verifies the whole sketch pipeline as lossless here. Recall on
    * planted near-dups — the probabilistic case banding can miss — stays
    * asserted in PipelineSpec.
    */
  /** Per-doc unigram-LM scores (doc_id, lang, n_tokens, avg_logprob) —
    * the corpus-LM fit + scoring shared by text_unigram_logprob (the
    * raw score emission) and text_perplexity_filter (the CCNet-style
    * tercile gate). Lang rides the grouping (functionally dependent on
    * doc_id, so the rows are unchanged); see text_unigram_logprob's
    * scaladoc for the shape and determinism arguments.
    */
  private[graft] def unigramDocScores(s: SparkSession, d: String): DataFrame = {
    val toks = spread(documents(s, d)
        .select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("term"))
    val cnt = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .persist() // 2 consumers (total + logp) — uncached each would
                 // re-run the explode+groupBy corpus pass (tfidf's r2
                 // lesson); the cached table is vocab-sized, not corpus-sized
    val tot = cnt.agg(sum("cnt").as("tot"))
    val logp = cnt.crossJoin(broadcast(tot))
      .select(col("term"), round(log(col("cnt") / col("tot")), 6).as("logp"))
    toks.join(broadcast(logp), "term")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(sum(dec(col("logp"))).cast(DoubleType) / count(lit(1)) * 1000000 + 0.5)
          .cast(DoubleType) / 1000000.0).as("avg_logprob"))
  }

  private val ShingleT = 0.5
  private def shingleVerify(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val shs = documents(s, d).select(col("doc_id"),
      sort_array(call_function("graft_shingles", col("text"))).as("shs"))
    // Broadcast the one-row-per-doc sides: the verify becomes two
    // map-side hash joins with no shuffle of the candidate pairs (same
    // shape as dedup_ngram_jaccard's verify tail).
    cand
      .join(broadcast(shs.select(col("doc_id").as("id_a"), col("shs").as("shs_a"))), "id_a")
      .join(broadcast(shs.select(col("doc_id").as("id_b"), col("shs").as("shs_b"))), "id_b")
      .withColumn("n_i",
        call_function("graft_intersect_size", col("shs_a"), col("shs_b")))
      .withColumn("jac", col("n_i").cast(DoubleType) /
        (size(col("shs_a")) + size(col("shs_b")) - col("n_i")))
      .filter(col("jac") >= ShingleT)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** The brute-force truth the sketch queries' outputs must equal: exact
    * shingle Jaccard ≥ [[ShingleT]] over all pairs sharing ≥ 1 shingle
    * (complete for any positive threshold). Shingle construction
    * mirrors the WordShingles kernel: split on single space keeping
    * empties, 5-word windows joined by space, distinct.
    */
  private val shingleTruthSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(len(ws) - 4),
      |    i -> array_to_string(ws[i + 1:i + 5], ' '))) AS shs
      |  FROM w WHERE len(ws) >= 5),
      |tok AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |sz AS (SELECT doc_id, len(shs) AS n FROM sh),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i
      |  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM (
      |  SELECT id_a, id_b, CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i) AS jac
      |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b) t
      |WHERE jac >= $ShingleT ORDER BY id_a, id_b""".stripMargin

  /** Exact near-dup pairs (id_a < id_b, jaccard), unsorted — shared by
    * the dedup_jaccard_pairs emission and the [[ccLabels]] fixpoint.
    * Blocked on (lang, source): explode → self-join on shared token
    * within block → |A∩B| / (|A|+|B|−|A∩B|).
    */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val tok = tokens(s, d).persist() // 3 uses: sizes + both join sides
    val sizes = tok.groupBy(col("doc_id").as("sz_id"))
      .agg(count(lit(1)).as("n_tok"))
    val a = tok.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("w"))
    val b = tok.select(col("doc_id").as("id_b"),
      col("lang").as("lang_b"), col("source").as("source_b"), col("w").as("w_b"))
    val inter = a.join(b,
        col("w") === col("w_b") && col("lang") === col("lang_b") &&
          col("source") === col("source_b") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("sz_id", "id_a").withColumnRenamed("n_tok", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("sz_id", "id_b").withColumnRenamed("n_tok", "n_b"), "id_b")
      .withColumn("jac", col("n_inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jac") >= 0.8)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** Min-label connected components over the verified near-dup edge set
    * (the dedup_jaccard_pairs truth pairs) by [[Cc.minLabel]]: a
    * union-find per partition, then min-label rounds with pointer
    * jumping only where a partition boundary split a component ([[Cc]]
    * states its limits); measured at sf0.01 and sf0.001: no round, the
    * init step's one SQL execution settles every component. Each step
    * reads back one observed count; all data stays distributed. Returns
    * the converged (id, label) table, checkpointed and already
    * materialized. Shared by dedup_clusters (cluster emission) and
    * pipeline_dedup_corpus (survivor mapping over the full corpus).
    */
  private def ccLabels(s: SparkSession, d: String): DataFrame = {
    // The unsorted pairs, not the dedup_jaccard_pairs emission:
    // its orderBy would cost a range-sampling job and an exchange the
    // fixpoint never needs.
    val truthPairs = jaccardPairs(s, d).select(col("id_a"), col("id_b"))
    // The min-label pointer-jumping fixpoint itself lives in
    // [[Cc.minLabel]] (shared with pipeline_mm_dedup). Its checkpoint
    // is the label table's only copy: the caller's [[CacheDrain]]
    // releases it once the emission has run, as for every fixpoint key.
    Cc.minLabel(truthPairs, "ccLabels")
  }

  /** Train the first `k` BPE merges on a collapsed (w, c) word table —
    * the one BPE training loop: bpe_train_loop emits it, and bpe_encode
    * and the tokenizer-EVAL operators (text_tokenizer_fertility) train
    * the identical vocabulary. Each learned merge gets a fresh
    * control-char placeholder; returns the rank-ordered (pair,
    * placeholder, weighted count) list and the placeholder→text
    * expansion map. One O(1) driver row per round; per-round work is
    * vocabulary-bounded (the bpe_train_loop Zipf argument).
    */
  private def bpeTrainMerges(all: DataFrame, k: Int)
      : (Seq[(String, String, Long)], Map[String, String]) = {
    var words = all.filter(length(col("w")) >= 2).persist()
    val exp = scala.collection.mutable.Map[String, String]()
    val merges = scala.collection.mutable.ListBuffer[(String, String, Long)]()
    var prevWords: DataFrame = null
    for (r <- 1 to k) {
      val top = words.select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"), col("c"))
        .groupBy("pair").agg(sum(col("c")).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(1)
        .head() // the round's ONE job; materializes this round's vocab
      // This round's vocab is now cached — the parent round's cache is
      // dead weight from here on (k rounds would otherwise stack k
      // cached vocab tables for Bench's repeats to multiply).
      if (prevWords != null) prevWords.unpersist()
      prevWords = words
      val pair = top.getString(0)
      val ph = (r + 1).toChar.toString
      exp(ph) = pair.map(ch => exp.getOrElse(ch.toString, ch.toString)).mkString
      merges += ((pair, ph, top.getLong(1)))
      // Column-literal search/replacement strings (never SQL text —
      // the pair may contain earlier placeholder control chars).
      words = words
        .select(call_function("replace", col("w"), lit(pair), lit(ph)).as("w"),
          col("c"))
        .filter(length(col("w")) >= 2)
        .persist()
    }
    words.unpersist(); if (prevWords != null) prevWords.unpersist()
    (merges.toSeq, exp.toMap)
  }

  /** The most merges any key reads: bpe_train_loop emits 12. */
  private val bpeMaxMerges = 12

  /** Once-per-dataset memo over bpeTrainMerges — the merge list IS the
    * tokenizer artifact (the BPE-family instance of the r11/r12
    * trained-artifact pattern: trained once, shipped, consumed by every
    * encode). The loop is greedy and deterministic, so the first k of
    * the `bpeMaxMerges` trained merges are exactly the k-merge list: a
    * consumer of k merges takes those and only their expansions, and
    * one training loop per dataset serves every k. Keyed on the
    * documents parquet fingerprint.
    */
  private def bpeTrainMergesMemo(s: SparkSession, d: String,
      all: DataFrame, k: Int)
      : (Seq[(String, String, Long)], Map[String, String]) = {
    require(k <= bpeMaxMerges, s"bpe: $k merges asked, $bpeMaxMerges trained")
    val (merges, exp) =
      graft.ArtifactMemo.once(artifactKey(d, "documents") + "#merges")(
        bpeTrainMerges(all, bpeMaxMerges))
    val first = merges.take(k)
    (first, first.map { case (_, ph, _) => ph -> exp(ph) }.toMap)
  }

  /** The corpus collapsed to its (distinct lowercase [a-z]+ word w,
    * count c) table, the BPE family's training input.
    */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** The first `k` trained merges as (pair, placeholder), the
    * [[bpeEncode]] input of bpe_tokenize_corpus and its streaming twin:
    * same memo, same single-flight training.
    */
  private[graft] def trainedBpeMerges(s: SparkSession, d: String,
      k: Int = 6): Seq[(String, String)] =
    bpeTrainMergesMemo(s, d, wordCounts(s, d), k)._1
      .map { case (pair, ph, _) => (pair, ph) }

  /** Column w encoded under a trained merge list: the merges' chained
    * `replace`s in rank order, each pair replaced by its placeholder.
    * Column-literal search and replacement strings, never SQL text: a
    * pair may contain earlier placeholder control chars.
    */
  private[graft] def bpeEncode(merges: Seq[(String, String)]): Column =
    merges.foldLeft(col("w")) { case (c, (pair, ph)) =>
      call_function("replace", c, lit(pair), lit(ph))
    }

  val queries: Map[String, Q] = keyed(
    "dedup_exact" -> { (s, d) =>
      // The corpus has no exact dups (FIXTURES.md) → self-union first so
      // the query demonstrably removes something; survivor = min doc_id
      // per md5(text); emit surviving docs per lang.
      val docs = documents(s, d).select("doc_id", "text", "lang")
      val dup = docs.unionByName(docs)
      dup
        .groupBy(md5(col("text")).as("h"))
        .agg(min(struct(col("doc_id"), col("lang"))).as("keep"))
        .select(col("keep.lang").as("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_unique_docs"))
        .orderBy("lang")
    },

    "dedup_url" -> { (s, d) =>
      // Crawl-frontier URL dedup: canonicalize, then keep one doc per
      // canonical URL. Canonicalization = case-fold scheme/host (and,
      // aggressively, path), strip the #fragment, drop utm_* tracking
      // params, SORT the surviving query params — the noise classes
      // that make byte-equal pages look distinct in a crawl. The
      // fixture has no url column, so one is synthesized from doc
      // columns with the noise planted BY CONSTRUCTION (case flips,
      // utm params, fragments keyed off doc_id residues; doc_id DIV 4
      // shares the path) — collisions exist iff canonicalization
      // erases every noise class, which the hash gate then proves.
      // Scale shape: canonicalization is pure map-side string work;
      // the only shuffle is the groupBy(canonical) — the same
      // one-pass hash dedup as dedup_exact, keyed on the canonical
      // form instead of the body hash.
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://WWW.Example.COM"))
          .otherwise(lit("http://www.example.com")),
        lit("/"), col("lang"), lit("/doc-"), expr("doc_id DIV 4"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=feed&ref="))
          .otherwise(lit("?ref=")),
        col("source"),
        when(col("doc_id") % 3 === 1, lit("&utm_campaign=x")).otherwise(lit("")),
        lit("&page="), col("doc_id") % 2,
        when(col("doc_id") % 5 === 0, lit("#sec-3")).otherwise(lit("")))
      val nofrag = regexp_replace(url, "#.*$", "")
      val base = substring_index(nofrag, "?", 1)
      val params = sort_array(filter(split(substring_index(nofrag, "?", -1), "&"),
        p => !p.startsWith("utm")))
      documents(s, d)
        .select(col("doc_id"),
          concat(lower(base), lit("?"), array_join(params, "&")).as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
        .orderBy("canon")
    },

    "dedup_incremental" -> { (s, d) =>
      // Incremental exact dedup of a new ingest batch against the
      // accumulated corpus — the daily-crawl shape: the historical
      // side never re-reads document BODIES, only its fingerprint set
      // (in production a persisted, fingerprint-partitioned index that
      // the day's batch anti-joins against; co-partitioning makes the
      // join exchange-free on the history side). Here history =
      // doc_id % 10 != 0, the new batch the rest. Within-batch dups
      // collapse first (min-id survivor, one map-side-combined
      // groupBy), then the anti-join discards anything history already
      // has. Shuffle bytes are fingerprints only — 16 bytes/doc at any
      // corpus size, never text.
      val fp = documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val hist = fp.filter(col("doc_id") % 10 =!= 0).select("fp").distinct()
      fp.filter(col("doc_id") % 10 === 0)
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
        .join(hist, Seq("fp"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    },

    "dedup_bloom_incremental" -> { (s, d) =>
      // dedup_incremental's 100 TB refinement: a BLOOM PREFILTER over
      // the history fingerprints splits the batch map-side BEFORE any
      // join — might_contain=false rows are definitely new (bloom
      // false negatives are impossible by construction) and skip the
      // shuffle entirely; only the probable sliver (true dups + the
      // fpp's false positives) reaches the exact anti-join. At "today's
      // batch vs years of history" scale the bloom is ~1.2 bytes/key
      // broadcast once, vs shuffling every batch fingerprint to the
      // history's partitions. The sketch is Spark's OWN
      // BloomFilterAggregate/BloomFilterMightContain pair (what
      // InjectRuntimeFilter plants), surfaced via graft_bloom_agg /
      // graft_might_contain (GraftFunctions) so the query controls
      // placement — built as a scalar subquery over history. The
      // emission is IDENTICAL to dedup_incremental and the oracle IS
      // the plain exact form: the hash gate proves the bloom split is
      // a pure reduction, never a semantic change (join_runtime_bloom's
      // gate pattern, applied to dedup).
      val docs = documents(s, d)
      docs.createOrReplaceTempView("dbi_docs")
      // Size the sketch from the tier, not a constant: a fixed 48k-bit
      // filter saturates (fpp → 1) once history outgrows ~1000 items
      // and the prefilter silently stops skipping the shuffle. The doc
      // count is a parquet-footer metadata read (no data scan); 90% of
      // docs are history under the %10 split, and 48 bits/item keeps
      // fpp < 1e-9 at any tier, so the claimed shuffle-skip holds at
      // 100 TB history, not just at gate size. In a production
      // incremental pipeline this count is the maintained state-store
      // cardinality — known, not measured.
      val histEst = math.max(1000L, (docs.count() * 9L) / 10L)
      val df = s.sql(
        s"""WITH fp AS (SELECT doc_id, md5(text) AS fp FROM dbi_docs),
          |batch AS (
          |  SELECT fp, min(doc_id) AS doc_id FROM fp
          |  WHERE doc_id % 10 = 0 GROUP BY fp),
          |flagged AS (
          |  SELECT doc_id, fp,
          |    graft_might_contain(
          |      (SELECT graft_bloom_agg(xxhash64(fp), ${histEst}L, ${histEst * 48L}L)
          |       FROM fp WHERE doc_id % 10 != 0),
          |      xxhash64(fp)) AS probable
          |  FROM batch),
          |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 != 0)
          |SELECT doc_id FROM (
          |  SELECT doc_id FROM flagged WHERE NOT probable
          |  UNION ALL
          |  SELECT f.doc_id FROM (SELECT * FROM flagged WHERE probable) f
          |    LEFT ANTI JOIN hist h ON f.fp = h.fp) r
          |ORDER BY doc_id""".stripMargin)
      // Self-enforcing like join_runtime_bloom: the witness is only a
      // witness while the bloom probe actually survives optimization.
      require(df.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "bloom prefilter was optimized away:\n" + df.queryExecution.optimizedPlan)
      df
    },

    "feat_negative_sampling" -> { (s, d) =>
      // Deterministic negative sampling for contrastive training:
      // every anchor doc (doc_id % 97 == 0 — the fixture's stand-in
      // for a query/positive stream) draws 4 cross-lang negatives,
      // pseudo-randomly but reproducibly. Scheme: docs land in 64
      // md5 buckets; an anchor probes the 4 buckets after its own
      // (stride probing — no second hash), and takes the top-4
      // candidates by a per-candidate order hash among the probed
      // buckets' cross-lang members. The scale lever is a LOSSLESS
      // rank-prefix prune: only the top-4 candidates per
      // (bucket, lang) can ever appear in ANY anchor's global top-4
      // (an anchor keeps 4 total, so at most 4 from one slice), so
      // the corpus collapses into a ≤ 64·#langs·4-row index — built
      // with one (bucket, lang) shuffle, then BROADCAST. Per-anchor
      // work is O(1); anchors never join the corpus itself. Ordering
      // by md5 makes every step engine-portable and rerun-stable
      // (no rand() seeds).
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
      def bkt(id: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit("graft-neg:"), id.cast(StringType))),
          1, 8), 16, 10).cast(LongType) % 64
      val prefix = docs
        .select(col("doc_id").as("cand_id"), col("lang").as("cand_lang"),
          bkt(col("doc_id")).as("bucket"),
          md5(concat(lit("graft-ord:"), col("doc_id").cast(StringType))).as("rk"))
        .withColumn("pn", row_number().over(
          Window.partitionBy("bucket", "cand_lang").orderBy(col("rk"), col("cand_id"))))
        .filter(col("pn") <= 4).drop("pn")
      val probes = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("anchor_id"), col("lang").as("anchor_lang"),
          bkt(col("doc_id")).as("abkt"))
        .select(col("anchor_id"), col("anchor_lang"),
          explode(array((1 to 4).map(t => (col("abkt") + lit(t)) % 64): _*))
            .as("bucket"))
      probes.join(broadcast(prefix), "bucket")
        .filter(col("cand_lang") =!= col("anchor_lang"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("anchor_id").orderBy(col("rk"), col("cand_id"))))
        .filter(col("rn") <= 4)
        .select(col("anchor_id"), col("rn").as("neg_rank"),
          col("cand_id").as("neg_id"))
        .orderBy("anchor_id", "neg_rank")
    },

    "dedup_weighted" -> { (s, d) =>
      // Soft dedup — the training-mix alternative to dropping copies:
      // keep ONE survivor per exact-dup cluster but carry the cluster's
      // multiplicity out as a sampling weight (sqrt-damped, the common
      // upweighting rule), so downstream mixing can still reflect how
      // often the document occurred in the crawl. Same one-shuffle
      // hash-groupBy shape as dedup_exact; a 3× planted replication
      // makes the weights non-trivial on this dup-free corpus.
      val docs = documents(s, d).select("doc_id", "text", "n_chars")
      val tripled = docs
        .unionByName(docs.filter(col("doc_id") % 3 === 0))
        .unionByName(docs.filter(col("doc_id") % 9 === 0))
      tripled
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_copies"),
          min(col("n_chars")).as("n_chars"))
        .select(col("doc_id"), col("n_copies"),
          round(sqrt(col("n_copies")), 4).as("weight"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    "dedup_jaccard_pairs" -> { (s, d) =>
      jaccardPairs(s, d).orderBy("id_a", "id_b")
    },

    "dedup_containment" -> { (s, d) =>
      // Asymmetric CONTAINMENT (|A∩B| / min(|A|,|B|)) — the measure that
      // catches partial copies Jaccard misses: a paragraph quoted whole
      // inside a much longer doc has high containment but low Jaccard
      // (the size difference sinks the union denominator). Same blocked
      // one-pass token join as dedup_jaccard_pairs; only the
      // denominator changes.
      val tok = tokens(s, d).persist()
      val sizes = tok.groupBy(col("doc_id").as("sz_id"))
        .agg(count(lit(1)).as("n_tok"))
      val a = tok.select(col("doc_id").as("id_a"), col("lang"), col("source"), col("w"))
      val b = tok.select(col("doc_id").as("id_b"),
        col("lang").as("lang_b"), col("source").as("source_b"), col("w").as("w_b"))
      a.join(b,
          col("w") === col("w_b") && col("lang") === col("lang_b") &&
            col("source") === col("source_b") && col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.withColumnRenamed("sz_id", "id_a").withColumnRenamed("n_tok", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("sz_id", "id_b").withColumnRenamed("n_tok", "n_b"), "id_b")
        .withColumn("containment",
          col("n_inter").cast(DoubleType) / least(col("n_a"), col("n_b")))
        .filter(col("containment") >= 0.85)
        .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")
    },

    "dedup_ngram_jaccard" -> { (s, d) =>
      // EXACT character-trigram Jaccard ≥ 0.6, via PREFIX FILTERING (the
      // canonical exact set-similarity join): order every doc's trigrams
      // by (global df asc, trigram asc); any pair with jac ≥ t must
      // share a token within the first ⌊(1−t)·n⌋+1 tokens of that order,
      // so the candidate join runs on those short prefixes of RARE
      // tokens only — the frequent-trigram blowup ("the" joining every
      // doc to every doc) never happens. Candidates are then verified
      // exactly on the full trigram sets. The oracle computes the
      // UNFILTERED within-block brute force: a hash match proves the
      // prefix filter lost nothing.
      val t = 0.6
      val docs = spread(documents(s, d))
        .select(col("doc_id"), col("lang"), col("source"),
          call_function("graft_trigrams", col("text")).as("tris"))
        .persist() // 4 consumers (tris, sizes, sideA, sideB) — uncached,
                   // each re-runs the full-corpus trigram scan
      val tris = docs.select(col("doc_id"), col("lang"), col("source"),
        explode(col("tris")).as("tri"))
      val dfreq = tris.groupBy("tri").agg(count(lit(1)).as("df"))
      // Per-doc set sizes as a broadcast join (one small row per doc)
      // rather than a second window pass over every exploded token.
      val sizes = docs.select(col("doc_id").as("sz_id"), size(col("tris")).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(asc("df"), asc("tri"))
      // +1e-7 guards the binary-inexact (1−t)·n against rounding BELOW
      // the theoretical prefix bound (shorter prefix = lost pairs; a
      // hair longer only adds candidates the verify step rejects).
      // wide-by-join-key (round 15, VERDICT r14 item 1): the candidate
      // self-join and the verify tail are CPU-dense over byte-small
      // rows, so byte-based AQE coalescing squeezed them to 3-6 tasks
      // (measured: pair stage 1.1 s CPU on 6 tasks, verify stage 2.3 s
      // CPU on 3 tasks — the round's headline CPU-density gap). Pinning
      // the persisted prefix to cluster-width hash(tri, lang, source)
      // IS the self-join's required distribution: the join reads the
      // cache with no exchange at any scale and pair generation runs
      // cluster-wide. Prefix tokens are the RARE third of each doc's
      // trigrams (df-ascending prefix), so the block key is
      // skew-bounded by construction.
      // wide-by-doc_id on the window input too: the df-rank window's
      // required hash(doc_id) exchange is byte-small but carries the
      // per-doc sort + rank CPU, and AQE ran it on 4 tasks (~1 s CPU
      // measured warm); repartition(width, doc_id) IS the window's
      // required distribution — same exchange, pinned wide.
      val prefix = wide(wide(tris.join(dfreq, "tri"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .join(broadcast(sizes), col("doc_id") === col("sz_id"))
        .filter(col("rn") <= floor(col("n") * (1 - t) + 1e-7) + 1)
        .select(col("doc_id"), col("lang"), col("source"), col("tri"), col("n"), col("rn")),
        col("tri"), col("lang"), col("source"))
        .persist() // self-joined below (alias a/b): the df-rank window +
                   // dfreq groupBy would otherwise execute once per side
      // Candidate join with the two classic prunes evaluated on ints
      // BEFORE any pair reaches the shuffle:
      //  - LENGTH: jac ≥ t forces min(n)/max(n) ≥ t;
      //  - POSITION (ppjoin): sharing token at positions (rn_a, rn_b)
      //    bounds overlap by 1 + min(n_a−rn_a, n_b−rn_b), which must
      //    reach the minimum overlap t/(1+t)·(n_a+n_b).
      val cand = prefix.alias("a").join(prefix.alias("b"),
          col("a.tri") === col("b.tri") && col("a.lang") === col("b.lang") &&
            col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n"), col("b.n")) >= greatest(col("a.n"), col("b.n")) * t &&
            lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >=
              ceil((col("a.n") + col("b.n")) * (t / (1 + t)) - 1e-9))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"))
      // Verify on SORTED sets with the codegen'd two-pointer merge —
      // array_intersect's per-row hash set was the hot spot here.
      val sideA = docs.select(col("doc_id").as("id_a"),
        sort_array(col("tris")).as("tris_a"))
      val sideB = docs.select(col("doc_id").as("id_b"),
        sort_array(col("tris")).as("tris_b"))
      // Broadcasting the doc→sorted-set sides turns the verify into two
      // map-side hash joins (no shuffle of the candidate pairs at all);
      // the side is one small row per doc. At 100 TB the sides outgrow a
      // broadcast and these degrade gracefully to shuffle joins — drop
      // the hint, same plan semantics.
      // wide round-robin on the candidate pairs: the two-pointer
      // intersect verify is pure CPU over 4-long rows — the exchange it
      // adds ships candidate IDs (a lightweight proxy, guide §8), never
      // trigram payloads, and spreads the verify cluster-wide instead
      // of the 3 tasks byte-based coalescing left it.
      wide(cand).join(broadcast(sideA), "id_a").join(broadcast(sideB), "id_b")
        .withColumn("n_i",
          call_function("graft_intersect_size", col("tris_a"), col("tris_b")))
        .withColumn("jac", col("n_i").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_i")))
        .filter(col("jac") >= t)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    },

    "dedup_minhash" -> { (s, d) =>
      // The scale path: K=16 minhash slots over 5-word SHINGLE sets,
      // banded into B=4 LSH buckets; candidates = pairs sharing ≥1
      // (band, hash) bucket. Shingles (not unigrams) keep buckets sparse
      // — the 31-word vocabulary makes every unigram token-set nearly
      // identical, which degenerated LSH into all-pairs (bench-observed).
      // Engine-specific hashing → no SQL oracle; recall on planted
      // near-dups is asserted in TextSpec.
      val tok = shingles(s, d).select("doc_id", "w")
      // One-pass K-slot signature via the MinHashAgg sketch
      // (TypedImperativeAggregate) — bit-identical to K separate
      // min(xxhash64(w, i)) columns (PipelineSpec asserts it), one
      // mutable buffer instead of K aggregate states.
      val sigs = tok.groupBy("doc_id")
        .agg(call_function("graft_minhash16", col("w")).as("sig"))
      val bandStructs = (0 until B).map { j =>
        val rowCols = (0 until R).map(r => element_at(col("sig"), j * R + r + 1))
        struct(lit(j).as("band"), xxhash64(rowCols: _*).as("bh"))
      }
      val banded = sigs.select(col("doc_id"),
          explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("bs.band").as("band"), col("bs.bh").as("bh"))
        .persist() // self-joined below; uncached it recomputes the whole
                   // shingle+minhash pipeline for each side
      val cand = banded.alias("x")
        .join(banded.alias("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
        .select("id_a", "id_b")
      shingleVerify(s, d, cand)
    },

    "dedup_simhash" -> { (s, d) =>
      // SimHash near-dup candidates: 64-bit sign-vote signature per doc
      // (SimHashAgg, order-free), banded into 8×8-bit blocks (a one-word
      // edit on a short doc flips ~10 bits of a shingle-based signature,
      // so wide 16-bit bands rarely stay clean — observed 34% recall);
      // candidates share ≥1 identical block, then an exact Hamming
      // re-check ≤ 16. Engine-specific hashing → no oracle; planted-dup
      // recall in PipelineSpec.
      val sigs = shingles(s, d)
        .groupBy("doc_id")
        .agg(call_function("graft_simhash", col("w")).as("sig"))
      val bandCols = array((0 until 8).map(j =>
        shiftrightunsigned(col("sig"), j * 8).bitwiseAND(lit(0xFFL))): _*)
      val banded = sigs
        .select(col("doc_id"), col("sig"), posexplode(bandCols).as(Seq("bidx", "bval")))
        .persist() // self-joined below
      val cand = banded.alias("x").join(banded.alias("y"),
          col("x.bidx") === col("y.bidx") && col("x.bval") === col("y.bval") &&
            col("x.doc_id") < col("y.doc_id"))
        // A pair can match on up to 8 bands; dedup via groupBy (map-side
        // partial agg shrinks the shuffle) instead of a full-row
        // distinct. Hamming is a function of the pair, min == the value.
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(min(bit_count(col("x.sig").bitwiseXOR(col("y.sig")))).as("hamming"))
        .filter(col("hamming") <= 16)
        .select("id_a", "id_b")
      shingleVerify(s, d, cand)
    },

    "text_stats" -> { (s, d) =>
      // Per-lang corpus stats + top-3 terms (freq desc, term asc).
      val byLang = documents(s, d).groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        davg(col("n_chars")).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      val termFreq = documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("freq"))
      val w = Window.partitionBy("lang").orderBy(desc("freq"), asc("term"))
      val top = termFreq.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      top.join(byLang, "lang")
        .select("lang", "rank", "term", "freq", "n_docs", "avg_chars", "min_chars", "max_chars")
        .orderBy("lang", "rank")
    },

    "text_tfidf" -> { (s, d) =>
      // Top TF-IDF term per doc: tf · ln(N/df). Ranked on the ROUNDED
      // score (term asc tiebreak) so float noise can't reorder engines.
      val docs = documents(s, d)
      // Corpus size as a broadcast 1-row DF — no driver-side action.
      val nDf = docs.agg(count(lit(1)).cast(DoubleType).as("corpus_n"))
      val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist() // 2 consumers: df derivation + the tf⋈df join — uncached
                   // the explode+groupBy corpus pass runs twice (r2 bench
                   // measured it at 2× the query's cost)
      val df = tf.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      // Per-doc argmax as an aggregate, not a rank window (round 14,
      // guide §2.3): min over struct(−score, term) IS (score DESC,
      // term ASC) — negation flips the double order exactly, and the
      // string tiebreak stays ascending under min — with map-side
      // partial combine, so the exchange carries one row per doc
      // instead of every (doc, term) score, and the window's
      // per-partition sort is gone.
      tf.join(df, "term")
        .crossJoin(broadcast(nDf))
        .withColumn("score", round(col("tf") * log(col("corpus_n") / col("df")), 6))
        .groupBy("doc_id")
        .agg(min(struct((-col("score")).as("negs"), col("term"))).as("b"))
        .select(col("doc_id"), col("b.term").as("term"),
          (-col("b.negs")).as("score"))
        .orderBy("doc_id")
    },

    "text_tokens" -> ((s, d) =>
      // Token counting: whitespace tokens + a BPE-ish subword regex
      // (letter-runs/digit-runs/punct as separate tokens) + chars.
      documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe_tokens"),
        length(regexp_replace(col("text"), "[^a-z0-9]", "")).as("n_alnum_chars"))
        .orderBy("doc_id")),

    "bpe_pair_counts" -> { (s, d) =>
      // Tokenizer TRAINING primitive — one BPE merge round over a
      // character vocabulary: count adjacent symbol pairs within words
      // across the whole corpus and surface the top merge candidates
      // (rank 1 is the pair BPE would merge first). Shape: the word
      // explode and per-word pair generation are map-side
      // (codegen'd sequence+transform, no UDF); the ONLY shuffle
      // carries (pair, partial count) with a key space bounded by
      // alphabet² — map-side combine reduces every task to ≤~700
      // partial rows no matter how many petabytes of text flow in;
      // top-20 is a TakeOrdered, never a global sort.
      // spread: the per-character transform+explode over the one-split
      // documents scan is the query's CPU; without the parallelism
      // floor it runs as a single task (round 14, guide §2.6).
      spread(documents(s, d))
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(20)
    },

    "bpe_train_loop" -> { (s, d) =>
      // FULL BPE training loop (VERDICT r9 item 5): 12 merge rounds,
      // emitting the ordered merge list — THE tokenizer-training
      // artifact (bpe_pair_counts/bpe_merge_apply witness one round;
      // this runs the loop). Classic byte-level BPE representation:
      // every learned merge is assigned a fresh single-char placeholder
      // (char(2)..char(13) — outside [a-z], so unreachable in corpus
      // text), which keeps the working state a plain STRING column and
      // each round's merge a left-to-right non-overlapping replace()
      // — the rule both engines state identically (the bpe_merge_apply
      // precedent).
      //
      // Two structural choices make the loop cheap at ANY corpus size:
      // (1) the corpus collapses ONCE to a (distinct word, count)
      // table — BPE statistics are word-frequency-weighted, and
      // replace() is INJECTIVE on this state (placeholders only ever
      // stand for their full expansion, so expanding is a well-defined
      // inverse and two distinct words can never collide), so the
      // distinct-word table needs no re-grouping as rounds progress;
      // per-round work drops from corpus-size to vocabulary-size (the
      // Zipf bound — a first cut over raw words measured 9.4 s at
      // sf0.1, this shape ~6× less). (2) the round's winner is ONE
      // (pair, n) row — an O(1) read per round — re-embedded
      // as a plan literal, so a round is exactly ONE job (the
      // vocabulary-bounded pair-count aggregate;
      // map-side combine caps task emissions by (alphabet+merges)²)
      // and the merge decode is 12 driver-side string substitutions.
      // 12 is the gate-bounded round count; production trains 30k
      // merges with the identical loop. The loop is bpeTrainMerges, and
      // the ordered merge list IS the tokenizer: trained once per
      // dataset (bpeTrainMergesMemo), emitted with each merge's text
      // expansion and weighted count.
      import s.implicits._
      val (merges, exp) =
        bpeTrainMergesMemo(s, d, wordCounts(s, d), bpeMaxMerges)
      merges.zipWithIndex.map { case ((_, ph, n), i) => (i + 1, exp(ph), n) }
        .toDF("rank", "merge", "n").orderBy("rank")
    },

    "bpe_encode" -> { (s, d) =>
      // ENCODE under a trained vocabulary — the other end of the
      // tokenizer story (bpe_train_loop LEARNS the merge list; this
      // tokenizes the corpus with it): train 6 merges on the collapsed
      // (distinct word, count) table, then apply them to the FULL word
      // table (single-letter words included — training drops them as a
      // pair-free optimization, but they are real tokens at encode
      // time) as 6 chained replace()s in rank order — ONE map pass, no
      // iteration: given the merge list, encoding is embarrassingly
      // parallel, which is exactly why the artifact matters at 100 TB.
      // Emits the top-20 corpus tokens by weighted occurrence with
      // placeholders decoded back to their text expansions. Same scale
      // shape as the loop (vocabulary-bounded rounds) plus a
      // vocab-sized histogram groupBy.
      import s.implicits._
      val all = wordCounts(s, d).persist()
      val (merges, exp) = bpeTrainMergesMemo(s, d, all, 6)
      val encoded = bpeEncode(merges.map { case (pair, ph, _) => (pair, ph) })
      val expDf = exp.toSeq.toDF("sym", "tok")
      val res = all.select(encoded.as("w"), col("c"))
        .select(explode(expr(
          "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
          .as("sym"), col("c"))
        .groupBy("sym").agg(sum(col("c")).as("n"))
        .join(broadcast(expDf), Seq("sym"), "left")
        .select(coalesce(col("tok"), col("sym")).as("token"), col("n"))
        .orderBy(desc("n"), asc("token")).limit(20)
      // `all` stays cached for the emission's lazy re-read (the
      // harness clearCache()s between queries).
      res
    },

    "text_tokenizer_fertility" -> { (s, d) =>
      // Tokenizer EVALUATION — the third act of the BPE story (train →
      // encode → EVALUATE): fertility (tokens per word) and chars per
      // token, PER LANGUAGE, for the corpus-trained 6-merge vocabulary.
      // Fertility by language is the standard multilingual-tokenizer
      // health metric (a vocab trained on a skewed mix over-segments
      // the minority languages — exactly what this table surfaces).
      // Training is bpeTrainMerges verbatim (the bpe_encode vocabulary,
      // GLOBAL — one tokenizer, per-lang measurement); measurement is
      // one map pass over the per-(lang, word) collapse: each word's
      // token count is the encoded string's length (every surviving
      // symbol is one token), weighted by occurrence count. Scale
      // shape: vocabulary-bounded training + a ≤langs-key rollup —
      // map-side combine bounds every task at any corpus size.
      val all = wordCounts(s, d).persist()
      val (merges, _) = bpeTrainMergesMemo(s, d, all, 6)
      all.unpersist()
      val encoded = bpeEncode(merges.map { case (pair, ph, _) => (pair, ph) })
      documents(s, d)
        .select(col("lang"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
        .select(col("lang"), col("c"),
          length(col("w")).as("chars"), length(encoded).as("toks"))
        .groupBy("lang").agg(
          sum(col("c")).as("n_words"),
          sum(col("toks") * col("c")).as("n_tokens"),
          sum(col("chars") * col("c")).as("n_chars"))
        .select(col("lang"), col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast(DoubleType) / col("n_words"), 6)
            .as("fertility"),
          round(col("n_chars").cast(DoubleType) / col("n_tokens"), 6)
            .as("chars_per_token"))
        .orderBy("lang")
    },

    "bpe_tokenize_corpus" -> { (s, d) =>
      // The production OUTPUT of the tokenizer story (round 12):
      // actually TOKENIZE the corpus under the trained vocabulary —
      // train (bpe_train_loop), share the vocabulary (6 merges of the
      // one artifact memo), evaluate (text_tokenizer_fertility), and now
      // EMIT per-document token counts, the table a training-data
      // pipeline materializes at 100 TB before sequence packing
      // (pack_sequences' input in a real run). Embarrassingly
      // parallel by construction: the merge list broadcasts as 6
      // chained codegen'd replace()s; the only data-sized work is one
      // per-(doc, word) collapse with map-side combine, then a
      // doc-keyed rollup of encoded lengths (every surviving symbol is
      // one token — the fertility rule; [a-z]+ separator convention of
      // the whole BPE family).
      val encoded = bpeEncode(trainedBpeMerges(s, d))
      // spread: the tokenize explode + per-(doc, word) partial combine
      // otherwise run on the one-split scan's single task (round 14).
      spread(documents(s, d))
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("c"),
          length(col("w")).as("chars"), length(encoded).as("toks"))
        .groupBy("doc_id").agg(
          sum(col("c")).as("n_words"),
          sum(col("toks") * col("c")).as("n_tokens"),
          sum(col("chars") * col("c")).as("n_chars"))
        .orderBy("doc_id")
    },

    "bpe_merge_apply" -> { (s, d) =>
      // The OTHER half of the BPE training loop: take the rank-1 pair
      // (bpe_pair_counts' winner), apply the merge to every word, and
      // recount adjacent-symbol pairs on the MERGED segmentation — i.e.
      // one full train iteration; looping this query IS BPE training
      // (the sim_kmeans_step pattern: witness the step, not the loop).
      // The merge rule "replace left-to-right non-overlapping
      // occurrences of (a,b)" is exactly string replace() with a
      // placeholder symbol (chr(1), unreachable: words are [a-z]+ by
      // construction), a rule both engines state identically — so the
      // oracle replicates winner → merge → recount and the hash gate
      // verifies the post-merge pair table, the artifact the next
      // iteration would consume. Scale shape: the 1-row winner
      // broadcasts back (the same partial-agg alphabet²-bounded shuffle
      // as bpe_pair_counts); merge + recount are map-side codegen'd
      // string ops; the second pair shuffle is again vocabulary-bounded
      // (≤ alphabet² · 3 distinct symbols-pairs), data-size-invariant.
      // spread: both consumers (pair count + merge recount) run a
      // CPU-heavy per-character transform+explode over the one-split
      // documents scan — without the parallelism floor each pass is a
      // single task (round 14, guide §2.6).
      val words = spread(documents(s, d))
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
      val top = words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(1)
        .select(col("pair").as("merged_pair"))
      words.crossJoin(broadcast(top))
        .select(col("merged_pair"),
          expr("replace(w, merged_pair, char(1))").as("r"))
        .filter(length(col("r")) >= 2)
        .select(col("merged_pair"), explode(expr(
          """transform(sequence(1, length(r) - 1), i -> concat(
            |  if(substring(r, i, 1) = char(1), merged_pair, substring(r, i, 1)),
            |  if(substring(r, i + 1, 1) = char(1), merged_pair,
            |     substring(r, i + 1, 1))))""".stripMargin)).as("pair"))
        .groupBy("merged_pair", "pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(20)
    },

    "dedup_substring_spans" -> { (s, d) =>
      // Exact duplicated-SUBSTRING diagnostic (the Lee et al. "Dedup-
      // licating Training Data Makes Language Models Better" signal):
      // for every 8-token window in every doc, does that exact window
      // text occur anywhere else in the corpus? Emits per-doc window /
      // duplicated-window counts and the duplicated fraction — the
      // report that decides whether span-level dedup is worth running,
      // and the doc-level complement of the whole-doc dedup family
      // (near-dup ops can't see a copied paragraph inside an otherwise
      // unique doc; this can). Shape: window fingerprints are map-side
      // (codegen'd sequence/slice/md5), then ONE corpus-sized shuffle
      // on the fingerprint serves both the global occurrence count
      // (window function) and feeds the per-doc rollup — no join-back
      // pass. That fingerprint shuffle is the honest cost of exact
      // substring dedup at any scale (suffix-array approaches trade it
      // for sort passes of the same magnitude); at 100 TB the md5 can
      // be truncated to 8 bytes to quarter the shuffle width — same
      // plan, documented swap.
      val wins = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 7), i -> md5(array_join(slice(ws, i, 8), ' ')))"))
          .as("h"))
      wins
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_windows"), col("n_dup"),
          round(col("n_dup").cast(DoubleType) / col("n_windows"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    "pipeline_manifest" -> { (s, d) =>
      // Reproducibility manifest — the artifact a training run pins so a
      // re-run can PROVE it read the same corpus: per source, doc count,
      // char total, id range, and an order-free full-content digest.
      // The digest is TWO bit_xor columns over per-doc values mixed
      // from the RollingHash content fingerprint and doc_id with
      // independent multipliers (fp·K + doc_id, K ∈ {2654435761,
      // 4294967291}; fp < 1e9+7 keeps both products ≤ ~4.3e18 — no
      // int64 overflow, so value equality is genuine integer equality).
      // A pair of distinct docs can XOR-cancel in ONE mix whenever
      // id2−id1 = K·(fp1−fp2); canceling in BOTH forces
      // (K1−K2)(fp1−fp2)=0 → identical (fp, id) rows, which doc_id
      // uniqueness rules out at any id span. (Like every XOR
      // incremental hash, a larger subset can still cancel by
      // construction — this is a drift/corruption manifest, not a
      // cryptographic commitment.) XOR commutes, so the digests are
      // identical at ANY partitioning/parallelism and never widen: the
      // manifest of a 100 TB corpus is still one row per source from
      // one map-side-combined pass. Any flipped character, dropped
      // doc, or renumbered id changes at least one digest; the
      // count/chars columns catch the cardinality edits.
      documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"),
          call_function("graft_fingerprint", col("text")).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"),
          expr("bit_xor(fp * 2654435761L + doc_id)").as("content_digest"),
          expr("bit_xor(fp * 4294967291L + doc_id)").as("content_digest_b"))
        .orderBy("source")
    },

    "text_js_divergence" -> { (s, d) =>
      // Source-drift audit: Jensen–Shannon divergence of each source's
      // unigram distribution against the full-corpus mix — the
      // distribution-shift check run before adding a new crawl to the
      // training blend (JS is symmetric, bounded by ln 2, and defined
      // even on disjoint vocab — exactly why it beats raw KL here).
      // Terms ABSENT from a source contribute 0.5·ln2·q_t in closed
      // form (m = q/2 there), so every sum runs only over the (source,
      // term) table: one vocab-bounded shuffle, joined to the
      // per-source totals and to the corpus term counts. The corpus
      // total n is a window over the #sources-row totals table (the
      // pipeline_mixture_weights shape), never over the vocabulary. Each
      // per-term contribution is rounded to a 1e-9 grid and summed in
      // exact decimals (order-free — the ln ulp hazard and the
      // double-sum order hazard both die at the grid), so the oracle
      // replicates the whole computation and the gate verifies the
      // divergence NUMBERS.
      val toks = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
      val st = toks.groupBy("source", "term").agg(count(lit(1)).as("c_st"))
      val ns = st.groupBy("source").agg(sum("c_st").as("n_s"))
        .withColumn("n", sum(col("n_s")).over(Window.partitionBy()))
      val ct = st.groupBy("term").agg(sum("c_st").as("c_t"))
      val j = st.join(ns, "source").join(ct, "term")
        .withColumn("p", col("c_st").cast(DoubleType) / col("n_s"))
        .withColumn("q", col("c_t").cast(DoubleType) / col("n"))
        .withColumn("m", (col("p") + col("q")) / lit(2.0))
        .withColumn("contrib", round(col("p") * log(col("p") / col("m")) +
          col("q") * log(col("q") / col("m")), 9))
        .withColumn("q9", round(col("q"), 9))
      j.groupBy("source")
        .agg(max("n_s").as("n_tokens"),
          sum(col("contrib").cast(DecimalType(28, 9))).cast(DoubleType).as("s9"),
          sum(col("q9").cast(DecimalType(28, 9))).cast(DoubleType).as("qs"))
        .select(col("source"), col("n_tokens"),
          round(lit(0.5) * col("s9") +
            lit(0.5) * log(lit(2.0)) * (lit(1.0) - col("qs")), 6).as("js_div"))
        .orderBy("source")
    },

    "doc_chunk" -> { (s, d) =>
      // Context-window chunking — the op every pretraining pipeline
      // runs between cleaning and tokenization: split each doc into
      // overlapping token windows (size 32, stride 16 here; 2048/1024
      // in production — constants, not data-dependent). Entirely
      // map-side: split + sequence + slice are codegen'd, explode fans
      // out rows without a shuffle, so this scales embarrassingly at
      // any corpus size. A trailing window is emitted only if it
      // extends past the previous window's end (len > size - stride),
      // so no chunk is a subset of its predecessor — the rule both
      // engines state identically on integers. chunk_md5 pins the
      // exact chunk CONTENT, not just the counts.
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .select(col("doc_id"), col("arr"),
          explode(expr("sequence(0L, cast(size(arr) - 1 as bigint), 16L)"))
            .as("start"))
        .filter(col("start") === 0 || size(col("arr")) - col("start") > 16)
        .select(col("doc_id"), expr("start DIV 16").as("chunk_idx"),
          expr("slice(arr, cast(start + 1 as int), 32)").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_tok"),
          md5(array_join(col("chunk"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    "text_unigram_logprob" -> { (s, d) =>
      // Corpus-LM quality score (the perplexity-filter primitive): a
      // unigram LM is fit on the corpus itself and each doc scored by
      // its mean token log-probability — low scores mark gibberish /
      // rare-token docs, the classic pretraining quality gate. Shape:
      // one explode+groupBy corpus pass builds the vocab counts (the
      // only data-sized shuffle), the ~vocab-sized logp table rides a
      // BROADCAST join back onto tokens (vocab is Zipf-bounded — even
      // web-scale corpora hold ~10⁷ distinct whitespace tokens, far
      // under the broadcast ceiling at 16 bytes/row; were it larger the
      // same plan degrades to a shuffle join, not a different shape),
      // and the per-doc mean rides one shuffle on doc_id. Determinism:
      // ln(cnt/total) is rounded at 1e-6 then decimal-captured, so the
      // per-doc sum is order-free; the final mean uses the floor
      // half-up formula on exact inputs (Tables.davg policy).
      // Factored (unigramDocScores) so text_perplexity_filter — the
      // operational tercile gate over these scores — shares the LM.
      unigramDocScores(s, d)
        .select(col("doc_id"), col("n_tokens"), col("avg_logprob"))
        .orderBy("doc_id")
    },

    "text_perplexity_filter" -> { (s, d) =>
      // The OPERATIONAL form of the corpus-LM score — CCNet's
      // head/middle/tail split: docs bucket by perplexity terciles
      // (perplexity = exp(−avg_logprob), monotone, so the cut is on
      // avg_logprob directly: head = most predictable third), and
      // training mixes then sample buckets at different rates instead
      // of hard-dropping. Shape on top of the shared unigram scorer:
      // the two cut points are ONE exact-percentile row broadcast
      // back (1-row attach), bucketing is map-side, and the emission
      // rolls up to ≤ langs×3 rows. Cut points snap to the 1e-9 grid
      // before use (cross-engine quantile interpolation is not
      // bit-identical — the feat_robust_scale fix); per-bucket mean
      // logprob goes through decimal capture of the 1e-6-grid scores.
      val scores = unigramDocScores(s, d)
        .persist() // 2 consumers: the percentile row + the bucketing
      val cuts = scores.agg(
        round(expr("percentile(avg_logprob, 0.3333333333333333D)"), 9).as("c33"),
        round(expr("percentile(avg_logprob, 0.6666666666666666D)"), 9).as("c67"))
      scores.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("avg_logprob") >= col("c67"), lit("head"))
            .when(col("avg_logprob") >= col("c33"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          (floor(sum(dec(col("avg_logprob"))).cast(DoubleType) / count(lit(1))
            * 1000000 + 0.5).cast(DoubleType) / 1000000.0).as("mean_logprob"))
        .orderBy("lang", "bucket")
    },

    "text_langid" -> { (s, d) =>
      // Language-ID by character-trigram profiles, self-trained: per-lang
      // top-20 trigrams (freq desc, trigram asc) form the profile; a doc
      // is classified as the lang whose profile shares the most distinct
      // trigrams (ties → lang asc). Emits per-lang accuracy against the
      // labeled corpus. All-integer scoring → exact oracle.
      // Docs carry their distinct-trigram SET as an array column; only
      // the profile training explodes. Scoring is then a 5-rows-a-side
      // broadcast cross join + array_intersect per (doc, lang) — no
      // million-row score shuffle. Trigram extraction is the codegen'd
      // CharNGrams kernel (the interpreted transform/substr chain cost
      // ~2 s/pass and made a persist necessary; at kernel speed,
      // recomputing the arrays per branch is cheaper than caching them).
      val docTris = documents(s, d)
        .select(col("doc_id"), col("lang"),
          call_function("graft_trigrams", col("text")).as("tris"))
      // Profile-train on a deterministic 20% sample: top-20 trigram
      // profiles are frequency ranks, statistically identical from a
      // sample — at 100 TB the full-corpus explode would be the one
      // non-sampled pass this query can avoid.
      val profile = docTris
        .filter(col("doc_id") % 5 === 0)
        .select(col("lang"), explode(col("tris")).as("tri"))
        .groupBy("lang", "tri").agg(count(lit(1)).as("freq"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(desc("freq"), asc("tri"))))
        .filter(col("rk") <= 20)
        .groupBy(col("lang").as("p_lang"))
        .agg(collect_set(col("tri")).as("p_tris"))
      // Per-doc classification argmax as an aggregate, not a rank
      // window (round 14, guide §2.3): min(struct(−matches, p_lang))
      // IS (matches DESC, p_lang ASC) — the string tie-break survives
      // because min on a struct compares fields lexicographically —
      // and it partial-combines map-side, so at corpus scale the
      // exchange carries one row per doc instead of one per
      // (doc, lang) candidate.
      val scored = docTris.crossJoin(broadcast(profile))
        .withColumn("matches", size(array_intersect(col("tris"), col("p_tris"))))
        .filter(col("matches") > 0)
        .groupBy("doc_id", "lang")
        .agg(min(struct((-col("matches")).as("negm"), col("p_lang")))
          .as("b"))
        .select(col("lang"), col("b.p_lang").as("p_lang"))
      scored
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("p_lang") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
        .orderBy("lang")
    },

    "pipeline_clean_corpus" -> { (s, d) =>
      // The end-to-end training-corpus cleaning pipeline, composed from
      // the standalone stages: normalize → exact-dedup (min doc_id per
      // content hash) → near-dedup (drop the greater id of every blocked
      // word-Jaccard ≥ 0.8 pair) → quality floor (≥ 5 words) → salted
      // 80/10/10 split → per-(split, lang) rollup. One hash-verified
      // query proves the stages compose, not just work alone. The
      // near-dedup stage uses the exact blocked form so the oracle stays
      // SQL-replicable; at 100 TB swap in dedup_minhash's banding —
      // same pairs→drop-id_b interface, sketch candidates instead of
      // the blocked quadratic.
      val norm = spread(documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("text")))
        .withColumn("clean", trim(regexp_replace(
          regexp_replace(col("text"), "[^a-z0-9 ]", ""), " +", " ")))
        .select(col("doc_id"), col("lang"), col("source"), col("clean"))
      // Exact-dedup survivor as an aggregate, not a min-over-window
      // (round 14, guide §2.3): doc_id is unique, so min(struct(doc_id,
      // rest)) per content hash IS the min-doc_id row — the hash
      // aggregate partial-combines map-side and drops the window's
      // per-partition sort; the exchange carries one row per distinct
      // content hash instead of every row.
      val surv = norm
        .groupBy(md5(col("clean")).as("h"))
        .agg(min(struct(col("doc_id"), col("lang"), col("source"),
          col("clean"))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.source").as("source"), col("r.clean").as("clean"))
        .persist() // 4 consumers: both pair-join sides, sizes, final anti-join
      val tok = surv.select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(split(col("clean"), " "))).as("w"))
      val sizes = tok.groupBy(col("doc_id").as("sz_id")).agg(count(lit(1)).as("n_tok"))
      // wide-by-join-key on the blocked pair join only (round 15): the
      // join stage is CPU-dense pair generation over byte-small token
      // rows and AQE's byte-based coalescing ran it on ONE task
      // (measured: 1.1 s single-task CPU). Cluster-width hash on the
      // equi keys is the join's own required distribution — one
      // exchange, reused by both aliases; `sizes` keeps the un-widened
      // tok (its groupBy needs a doc_id exchange either way).
      val tokJ = wide(tok, col("w"), col("lang"), col("source"))
      val dropIds = tokJ.alias("a").join(tokJ.alias("b"),
          col("a.w") === col("b.w") && col("a.lang") === col("b.lang") &&
            col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_i"))
        .join(sizes.withColumnRenamed("sz_id", "id_a").withColumnRenamed("n_tok", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("sz_id", "id_b").withColumnRenamed("n_tok", "n_b"), "id_b")
        .filter(col("n_i").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_i")) >= 0.8)
        .select(col("id_b").as("doc_id")).distinct()
      surv.join(dropIds, Seq("doc_id"), "left_anti")
        .withColumn("n_words", size(split(col("clean"), " ")))
        .filter(col("n_words") >= 5)
        .withColumn("split", splitName(splitBucket))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words").cast(LongType)).as("total_words"))
        .orderBy("split", "lang")
    },

    "dedup_clusters" -> { (s, d) =>
      // Connected components over the near-dup pair graph — what a
      // production dedup actually keeps: pairs are only EDGES; the unit
      // of removal is the transitive CLUSTER (A~B, B~C → {A,B,C} keep
      // one). The min-label fixpoint lives in [[ccLabels]] (shared with
      // pipeline_dedup_corpus); this query formats it as one row per
      // non-singleton cluster: survivor (= min doc_id), member count,
      // member list. Oracle: DuckDB recursive-CTE reachability with
      // min-reachable-id labels — a hash match proves the propagation
      // found exactly the same fixpoint.
      ccLabels(s, d)
        .groupBy(col("label").as("survivor_id"))
        .agg(count(lit(1)).as("n_members"),
          // Numeric sort BEFORE stringify ("10" < "2" lexicographically);
          // string emission because the comparator crashes on array cells.
          array_join(transform(sort_array(collect_list(col("id"))),
            _.cast(StringType)), ",").as("members"))
        .orderBy("survivor_id")
    },

    "pipeline_dedup_corpus" -> { (s, d) =>
      // End-to-end near-dup corpus dedup — the emission a production
      // pipeline actually writes: every document mapped to its cluster
      // survivor (itself when it belongs to no near-dup cluster) plus
      // the keep decision (kept = "is its own survivor"). Composes the
      // CC fixpoint ([[ccLabels]] — same truth-set edges as
      // dedup_clusters) with one LEFT join of the corpus against the
      // label table. Scale shape: the label table holds only near-dup
      // NODES (≪ corpus; its cached stats let Catalyst broadcast it),
      // so the corpus side joins map-side without re-shuffling; the
      // oracle re-proves the fixpoint through the keep decision.
      val labels = ccLabels(s, d).withColumnRenamed("id", "doc_id")
      documents(s, d)
        .select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("survivor_id"),
          (coalesce(col("label"), col("doc_id")) === col("doc_id")).as("kept"))
        .orderBy("doc_id")
    },

    "split_train_test" -> { (s, d) =>
      // Deterministic train/val/test assignment by hashed id — the
      // standard reproducible-split shape for a training corpus:
      // map-only (zero shuffle at any scale), stable under reruns and
      // repartitioning, engine-portable (md5 is md5 everywhere, unlike
      // xxhash64/rand seeds). 80/10/10 on the shared salted-md5 bucket.
      documents(s, d)
        .select(col("doc_id"), splitBucket.as("bucket"))
        .withColumn("split", splitName(col("bucket")))
        .orderBy("doc_id")
    },

    "sample_kfold" -> { (s, d) =>
      // K-fold assignment (5 folds) for cross-validation over a corpus:
      // fold id from a salted md5 — reproducible, repartition-stable,
      // engine-portable, and INDEPENDENT of the train/test salt (a doc's
      // fold must not correlate with its split bucket, so the salts
      // differ). The assignment itself is map-only; only the per-fold
      // audit rollup (5 rows) shuffles. Emits the balance stats you
      // check before trusting a CV estimate: docs, chars, languages per
      // fold.
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (conv(substring(
            md5(concat(lit("graft-kfold:"), col("doc_id").cast(StringType))), 1, 8),
            16, 10).cast(LongType) % 5).as("fold"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("fold")
    },

    "sample_curriculum" -> { (s, d) =>
      // Curriculum ordering — schedule training data easy→hard: a
      // quality score per doc (mean token length blended with stopword
      // ratio, text_quality's features), quartile STAGE cut points from
      // exact percentiles, and a deterministic within-stage shuffle key
      // (salted md5 — reproducible across reruns). Scale shape: the cut
      // points reduce to a 3-value table that broadcasts back (never an
      // ntile over a global window — that's a single-partition sort);
      // stage assignment and shuffle key are map-side, so the corpus
      // never shuffles until the trainer's reader consumes (stage, key)
      // order. Cuts snap to 1e-9 before comparison; the score is
      // computed rounded at 1e-6 in both engines first.
      val scored = documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_stop", size(filter(split(col("text"), " "),
          x => x.isin("a", "the", "of", "and", "to"))))
        .withColumn("score", round(
          col("n_chars").cast(DoubleType) / col("n_tok") -
            lit(5.0) * col("n_stop").cast(DoubleType) / col("n_tok"), 6))
      val cuts = scored.agg(
        round(percentile(col("score"), lit(0.25)), 9).as("c1"),
        round(percentile(col("score"), lit(0.5)), 9).as("c2"),
        round(percentile(col("score"), lit(0.75)), 9).as("c3"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("score"),
          when(col("score") <= col("c1"), 0L).when(col("score") <= col("c2"), 1L)
            .when(col("score") <= col("c3"), 2L).otherwise(3L).as("stage"),
          substring(md5(concat(lit("graft-curriculum:"),
            col("doc_id").cast(StringType))), 1, 8).as("shuffle_key"))
        .orderBy("doc_id")
    },

    "pipeline_dataset_card" -> { (s, d) =>
      // Dataset-card generator — the per-(source, lang) summary table a
      // training-data release publishes: volume (docs, chars, tokens),
      // central tendency (mean chars via the exact-decimal davg rule),
      // and the quality-pass rate under the standard filter. ONE corpus
      // scan, map-side token/filter computation, one rollup shuffle of
      // #sources×#langs rows — the audit stays one job at any corpus
      // size.
      documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
        .withColumn("passes",
          (col("n_chars").between(100, 400) && col("n_tok") >= 20)
            .cast(LongType))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tok")).as("total_tokens"),
          davg(col("n_chars")).as("mean_chars"),
          round(sum(col("passes")).cast(DoubleType) / count(lit(1)), 6)
            .as("quality_pass_rate"))
        .orderBy("source", "lang")
    },

    "decontaminate_ngram" -> { (s, d) =>
      // Train/eval DECONTAMINATION — the benchmark-hygiene pass every
      // serious LLM training set runs: drop any training doc that shares
      // an n-gram (5-word shingle here, 13-gram in the published
      // recipes) with the held-out eval split. Shape for 100 TB: the
      // eval side is tiny by construction (a benchmark suite), so its
      // distinct shingle set BROADCASTS and the train side is a map-only
      // semi-join probe — the full training corpus is never shuffled;
      // the only exchanges are the distinct on the (small) eval shingles
      // and the final per-lang rollup. Emits per-lang counts: train
      // docs, contaminated, surviving.
      val docs = documents(s, d).withColumn("bucket", splitBucket)
      val evalShingles = docs.filter(col("bucket") >= 80)
        .select(explode(call_function("graft_shingles", col("text"))).as("sh"))
        .distinct()
      val train = docs.filter(col("bucket") < 80)
      val contaminated = train
        .select(col("doc_id"),
          explode(call_function("graft_shingles", col("text"))).as("sh"))
        .join(broadcast(evalShingles), "sh")
        .select("doc_id").distinct()
        .withColumn("hit", lit(1))
      train.join(contaminated, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_train"),
          count(col("hit")).as("n_contaminated"),
          (count(lit(1)) - count(col("hit"))).as("n_clean"))
        .orderBy("lang")
    },

    "decontaminate_minhash" -> { (s, d) =>
      // FUZZY decontamination (round 13) — decontaminate_ngram's
      // published-recipe sibling: exact shingle overlap flags verbatim
      // leakage, but a lightly-paraphrased benchmark doc needs the
      // NEAR-DUP test, so production hygiene also drops training docs
      // whose 5-word-shingle Jaccard with any eval doc reaches the
      // dedup family's 0.5 threshold. Same salted-md5 80/20 split;
      // candidates via dedup_minhash's machinery (K=16 one-pass
      // signature, 4×4-band LSH) with the EVAL side BROADCAST at every
      // stage (a benchmark suite is tiny by construction): the
      // training corpus is never shuffled except the per-doc signature
      // combine — band probe, shingle-hit probe, and candidate filter
      // are all broadcast hash joins. Verification is EXACT and
      // integer-only: 3·|A∩B| ≥ |A|+|B| ⇔ J ≥ 0.5 (no float divide).
      // The emission is candidates ∩ truth; the brute-force oracle is
      // the truth — equality holds because banding recall at J ≥ 0.5
      // is already proven complete on this corpus by dedup_minhash's
      // own green gate (same signature, same bands, superset pair
      // space). Emits the decontaminate_ngram rollup per lang.
      val docs = documents(s, d).withColumn("bucket", splitBucket)
      val sh = docs.select(col("doc_id"), col("bucket"),
        explode(array_distinct(
          call_function("graft_shingles", col("text")))).as("w"))
      val sigs = sh.groupBy("doc_id", "bucket")
        .agg(call_function("graft_minhash16", col("w")).as("sig"),
          count(lit(1)).as("n_sh")) // w is per-doc distinct
      val bandStructs = (0 until B).map { j =>
        val rowCols = (0 until R).map(r => element_at(col("sig"), j * R + r + 1))
        struct(lit(j).as("band"), xxhash64(rowCols: _*).as("bh"))
      }
      def banded(df: DataFrame): DataFrame = df
        .select(col("doc_id"), col("n_sh"),
          explode(array(bandStructs: _*)).as("bs"))
        .select(col("doc_id"), col("n_sh"),
          col("bs.band").as("band"), col("bs.bh").as("bh"))
      val evalB = banded(sigs.filter(col("bucket") >= 80))
        .select(col("doc_id").as("eval_id"), col("n_sh").as("n_ev"),
          col("band"), col("bh"))
      val cand = banded(sigs.filter(col("bucket") < 80))
        .join(broadcast(evalB), Seq("band", "bh"))
        .select("doc_id", "eval_id", "n_sh", "n_ev").distinct()
      val esh = sh.filter(col("bucket") >= 80)
        .select(col("doc_id").as("eval_id"), col("w"))
      // Exact intersection counts, train side map-only: shingle hits
      // against the broadcast eval set, filtered to banded candidates
      // (also broadcast), then one pair-keyed combine.
      val inter = sh.filter(col("bucket") < 80).select("doc_id", "w")
        .join(broadcast(esh), Seq("w"))
        .join(broadcast(cand), Seq("doc_id", "eval_id"))
        .groupBy("doc_id", "eval_id", "n_sh", "n_ev")
        .agg(count(lit(1)).as("n_i"))
      val cont = inter
        .filter(col("n_i") * 3 >= col("n_sh") + col("n_ev"))
        .select("doc_id").distinct().withColumn("hit", lit(1))
      docs.filter(col("bucket") < 80)
        .join(cont, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_train"),
          count(col("hit")).as("n_contaminated"),
          (count(lit(1)) - count(col("hit"))).as("n_clean"))
        .orderBy("lang")
    },

    "sample_stratified" -> { (s, d) =>
      // Stratified downsampling with per-stratum rates (the data-mixing
      // knob of a training pipeline: e.g. keep 50% of English, 20% of
      // everything else). Selection is a salted-md5 threshold on the doc
      // id — deterministic, seed-free, reproducible across reruns and
      // repartitioning, and map-only: zero shuffle at any corpus size
      // (contrast df.sampleBy, which is rand()-seeded per partition and
      // unstable under repartitioning). Emits the selected rows
      // themselves so the gate hash-verifies the exact sample.
      val bucket = conv(substring(
        md5(concat(lit("graft-sample:"), col("doc_id").cast(StringType))), 1, 8),
        16, 10).cast(LongType) % 100
      documents(s, d)
        .withColumn("bucket", bucket)
        .withColumn("rate", when(col("lang") === "en", 50).otherwise(20))
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    },

    "sample_stratified_k" -> { (s, d) =>
      // Exact-k stratified draw — "exactly 30 docs per language",
      // the eval-set construction rule (a RATE draw's stratum size
      // varies with the corpus; an eval set needs the exact count).
      // Deterministic rank on the salted md5 (ties impossible at
      // 128 bits; doc_id tiebreak anyway), one shuffle on the stratum
      // key, top-k per stratum via the rank window — at 100 TB each
      // stratum partition ranks independently and k rows survive per
      // stratum, so the emission is #strata·k rows regardless of
      // corpus size.
      val h = md5(concat(lit("graft-ksample:"), col("doc_id").cast(StringType)))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      documents(s, d)
        .withColumn("h", h)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 30)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("lang", "rn")
    },

    "sample_reservoir" -> { (s, d) =>
      // Exact-k per-stratum sample (reservoir semantics, deterministic
      // form): rank docs inside each language by a salted md5 of the id
      // and keep the first K=20 — a hard per-group bound where
      // sample_stratified's threshold gives a proportional RATE. One
      // shuffle on the stratum key; per-group window state is one
      // counter. Rerun- and partitioning-stable (hash order, no rand()).
      val w = Window.partitionBy("lang")
        .orderBy(md5(concat(lit("graft-rsv:"), col("doc_id").cast(StringType))),
          col("doc_id"))
      documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    },

    "sample_temperature" -> { (s, d) =>
      // Temperature-scaled language mixing (the UniMax/mT5 sampling
      // scheme): per-language sampling rates are DERIVED from corpus
      // statistics — weight w_l ∝ n_l^(1/T) with T=2 (sqrt damping), a
      // 30% global token budget apportioned by weight, rate_l capped at
      // 1 — then applied with the same salted-md5 threshold as
      // sample_stratified. Low-resource languages are upsampled
      // relative to their share, the classic mixing knob. Scale shape:
      // the stats pass is a 5-row aggregate; rates broadcast back and
      // selection is map-only. Numeric determinism: the cross-language
      // weight normalization is a LEFT FOLD over the lang-sorted
      // weights (collect_list → aggregate), not a parallel double sum,
      // so Spark and DuckDB accumulate in the identical order.
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      val packed = docs.groupBy("lang").agg(sum(col("n_tok")).as("n_lang"))
        .agg(sort_array(collect_list(struct(col("lang"), col("n_lang")))).as("ls"))
        .select(col("ls"),
          aggregate(col("ls"), lit(0.0),
            (acc, x) => acc + sqrt(x.getField("n_lang").cast(DoubleType))).as("total_w"),
          aggregate(col("ls"), lit(0L),
            (acc, x) => acc + x.getField("n_lang")).as("total_tok"))
      val rates = packed
        .select(explode(col("ls")).as("x"), col("total_w"), col("total_tok"))
        .select(col("x.lang").as("lang"),
          least(lit(1.0),
            col("total_tok").cast(DoubleType) * 0.3
              * sqrt(col("x.n_lang").cast(DoubleType)) / col("total_w")
              / col("x.n_lang").cast(DoubleType)).as("rate"))
      val bucket = conv(substring(
        md5(concat(lit("graft-temp:"), col("doc_id").cast(StringType))), 1, 8),
        16, 10).cast(LongType) % 10000
      docs.join(broadcast(rates), "lang")
        .withColumn("bucket", bucket)
        .filter(col("bucket").cast(DoubleType) < col("rate") * 10000.0)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          round(col("rate"), 6).as("rate"))
        .orderBy("doc_id")
    },

    "sample_ppswor" -> { (s, d) =>
      // Weighted sampling WITHOUT replacement (PPSWOR) via the
      // Efraimidis–Spirakis exponential race: each doc draws a
      // deterministic uniform u from a salted md5 and competes with key
      // -ln(u)/w, w = token count — the k smallest keys are exactly a
      // probability-proportional-to-size draw without replacement. This
      // is the sampler a quality/length-weighted corpus subset needs
      // when the requirement is "pick 100 docs, longer docs
      // proportionally more likely, NO duplicates" — the rate-based
      // samplers (stratified/temperature) give each doc an independent
      // coin, not an exact-k weighted draw. Shape: key assignment is
      // map-only; selection is a global top-k (TakeOrdered — never a
      // full sort); rerun- and partitioning-stable (hash u, doc_id
      // tiebreak). Determinism: both engines evaluate the identical
      // -ln((bucket + 0.5) / 10000) / w double expression; the measured
      // rank-100/101 order-statistic gap is 3.9e-5 at sf0.01 / 1.1e-6
      // at sf0.1 — ten orders of magnitude above any libm ln() ulp
      // difference, so cross-engine noise cannot flip membership.
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      val bucket = conv(substring(
        md5(concat(lit("graft-ppswor:"), col("doc_id").cast(StringType))), 1, 8),
        16, 10).cast(LongType) % 10000
      docs
        .withColumn("wkey",
          -log((bucket.cast(DoubleType) + 0.5) / 10000.0)
            / col("n_tok").cast(DoubleType))
        .orderBy(col("wkey"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          round(col("wkey"), 6).as("wkey"))
        .orderBy("doc_id")
    },

    "text_dedup_lines" -> { (s, d) =>
      // Line-level boilerplate removal (the CCNet / RefinedWeb pass
      // that strips "subscribe to our newsletter" from every page): a
      // line occurring in ≥ 10 distinct docs is boilerplate and removed
      // corpus-wide; docs are re-assembled from their surviving lines.
      // The corpus has no newlines or natural boilerplate, so a "line"
      // is an 8-word chunk and two footer lines are PLANTED on every
      // 3rd/5th doc (same planting pattern as text_pii_redact) — the
      // md5 gate then verifies both that planted lines vanish and that
      // natural lines survive byte-exactly. Scale shape: line
      // frequencies are one shuffle on the line; the boilerplate set is
      // tiny by construction (the Zipf head above the threshold), so
      // removal is a BROADCAST anti-join probe — map-only over the
      // corpus — and reassembly is one doc_id rollup.
      val boiler1 = "click here to subscribe to our newsletter today"
      val boiler2 = "all rights reserved copyright and terms of use"
      val arr = split(col("text"), " ")
      val nch = ceil(size(arr) / lit(8.0)).cast(IntegerType)
      val chunks = transform(sequence(lit(0), nch - 1),
        i => array_join(slice(arr, i * 8 + 1, lit(8)), " "))
      val withB1 = when(col("doc_id") % 3 === 0,
        concat(chunks, array(lit(boiler1)))).otherwise(chunks)
      val linesCol = when(col("doc_id") % 5 === 0,
        concat(withB1, array(lit(boiler2)))).otherwise(withB1)
      val docs = documents(s, d)
        .select(col("doc_id"), col("lang"), linesCol.as("lines"))
      val lined = docs.select(col("doc_id"),
        posexplode(col("lines")).as(Seq("pos", "line")))
      val boiler = lined.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 10).select("line")
      val kept = lined.join(broadcast(boiler), Seq("line"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), " ")).as("clean_md5"))
      // LEFT join + empty-string md5: a doc whose every line was
      // boilerplate must still be reported (as emptied), not dropped.
      docs.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          size(col("lines")).as("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
        .orderBy("doc_id")
    },

    "pack_sequences" -> { (s, d) =>
      // Sequence packing — concat-and-chunk batching for training: docs
      // are concatenated in deterministic (doc_id) order and cut every
      // 2048 tokens; a doc belongs to the bin its first token lands in.
      // Scale shape: the running sum is windowed per (lang, shard) where
      // shard buckets 1000 consecutive doc_ids, so no window partition
      // ever exceeds 1000 rows — packing a 100 TB corpus stays
      // embarrassingly parallel instead of serializing on one global
      // cumulative sum (bins are local to a shard, matching how packing
      // workers operate on corpus slices in practice). Emits per-bin
      // occupancy: docs and tokens.
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          (col("doc_id") / 1000).cast(LongType).as("shard"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .withColumn("start_off", coalesce(
          sum(col("n_tok")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("bin", (col("start_off") / 2048).cast(LongType))
        .groupBy("lang", "shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("lang", "shard", "bin")
    },

    "pipeline_interleave_sources" -> { (s, d) =>
      // Deterministic round-robin source interleaving — the curriculum
      // knob between "shuffle everything" (shuffle_global) and "one
      // source at a time": position p cycles through sources so every
      // training window sees the full mix. Shape mirrors
      // shuffle_global's two-level trick: the only unpartitioned
      // windows run on the ≤|sources| distinct-source table (bounded at
      // any corpus size), docs rank within their source partition, and
      // pos = (rank−1)·n_src + src_idx−1 is a total order with no
      // global window ever touching the corpus.
      val h = md5(concat(lit("graft-ilv:"), col("doc_id").cast(StringType)))
      val wSrc = Window.orderBy("source")
      val srcs = documents(s, d).select("source").distinct()
        .withColumn("src_idx", row_number().over(wSrc).cast(LongType))
        .withColumn("n_src", count(lit(1)).over(
          Window.partitionBy()).cast(LongType))
      val wIn = Window.partitionBy("source").orderBy(h, col("doc_id"))
      documents(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(srcs), "source")
        .withColumn("rk", row_number().over(wIn).cast(LongType))
        .select(((col("rk") - 1) * col("n_src") + col("src_idx") - 1).as("pos"),
          col("doc_id"), col("source"))
        .orderBy("pos")
    },

    "shuffle_global" -> { (s, d) =>
      // Deterministic global corpus shuffle — the "shuffle your training
      // data before packing" step — WITHOUT the single-partition trap: a
      // naive global row_number() window funnels the whole corpus
      // through one task. pos is the number of docs before this one in
      // (h, doc_id) order, a [[Tables.sumBefore]] of 1 whose bucket is
      // the md5 order key's first two hex chars: a prefix of the order
      // key, so the 256 buckets rise along it, the start prefix runs
      // over a ≤256-row table at ANY corpus size, and the in-bucket
      // windows partition ~corpus/256 rows each.
      val h = md5(concat(lit("graft-shuffle:"), col("doc_id").cast(StringType)))
      val docs = documents(s, d).select(col("doc_id"), h.as("h"))
      sumBefore(docs, Nil,
          conv(substring(col("h"), 1, 2), 16, 10).cast(LongType),
          Seq(col("h"), col("doc_id")), "pos" -> lit(1L))
        .select("pos", "doc_id")
        .orderBy("pos")
    },

    "sample_token_budget" -> { (s, d) =>
      // Token-budget corpus slice — "the first 2000 tokens per language
      // in deterministic shuffle order", the data-mixing primitive that
      // assembles a training mix from per-language/per-source token
      // budgets. The tokens consumed strictly before a doc are a
      // per-language [[Tables.sumBefore]] over shuffle_global's md5
      // prefix buckets, so no window partition ever exceeds ~corpus/256
      // rows and the slice stays parallel at 100 TB; a doc is admitted
      // iff that sum is under budget (greedy take-while; the boundary
      // doc may overshoot, matching how packing then consumes it).
      val budget = 2000L
      val h = md5(concat(lit("graft-mix:"), col("doc_id").cast(StringType)))
      val docs = documents(s, d).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"), h.as("h"))
      sumBefore(docs, Seq("lang"),
          conv(substring(col("h"), 1, 2), 16, 10).cast(LongType),
          Seq(col("h"), col("doc_id")), "consumed_before" -> col("n_tok"))
        .filter(col("consumed_before") < budget)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("consumed_before"))
        .orderBy("doc_id")
    },

    "text_normalize" -> { (s, d) =>
      // Cleaning stage: strip non-alphanumerics, collapse whitespace
      // runs, trim. Emits md5 of the cleaned text (not the text) so the
      // full transform is hash-verified with a 1-row-per-doc output.
      documents(s, d)
        .withColumn("clean", trim(regexp_replace(
          regexp_replace(col("text"), "[^a-z0-9 ]", ""), " +", " ")))
        .select(col("doc_id"), length(col("clean")).as("n_clean_chars"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id")
    },

    "text_repetition" -> { (s, d) =>
      // Repetition quality signals (the Gopher-rules family): per doc,
      // the mass of the most frequent unigram and bigram and the
      // distinct-token ratio — high values flag degenerate/boilerplate
      // text a pretraining filter drops. Shuffles on (doc_id, gram)
      // then (doc_id): both keys contain doc_id, so at 100 TB the
      // second aggregation reuses the first's partitioning and the work
      // stays embarrassingly doc-parallel.
      val toks = documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .persist() // 2 consumers: unigram + bigram branches of the join
      val uni = toks
        .select(col("doc_id"), explode(col("arr")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_uni"),
          sum(col("c")).as("n_tok"), count(lit(1)).as("n_distinct"))
      val bi = toks
        .select(col("doc_id"), explode(transform(
          slice(col("arr"), lit(1), size(col("arr")) - 1),
          (x, i) => concat(x, lit(" "), element_at(col("arr"), i + 2)))).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_bi"), sum(col("c")).as("n_bi"))
      // LEFT join: a single-token doc has no bigrams but is exactly what
      // a repetition filter must still report (null bigram ratio, not a
      // silently dropped row).
      uni.join(bi, Seq("doc_id"), "left")
        .select(col("doc_id"),
          round(col("top_uni").cast(DoubleType) / col("n_tok"), 6).as("top_unigram_ratio"),
          round(col("n_distinct").cast(DoubleType) / col("n_tok"), 6).as("distinct_ratio"),
          round(col("top_bi").cast(DoubleType) / col("n_bi"), 6).as("top_bigram_ratio"))
        .orderBy("doc_id")
    },

    "text_pii_redact" -> { (s, d) =>
      // Compliance scrub stage: count and redact emails/phones before
      // training. The corpus has no natural PII (probed at sf0.01), so
      // the query plants it on every 20th doc — a per-doc email and
      // phone built from doc_id, redaction then verified via md5 of the
      // scrubbed text. Regex subset chosen to mean the same thing in
      // Java regex (Spark) and RE2 (DuckDB). Pure map-side work: the
      // only exchange at any scale is the output sort.
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "555-[0-9]{4}-[0-9]+"
      documents(s, d)
        .withColumn("text2",
          when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or call 555-0142-"), col("doc_id")))
            .otherwise(col("text")))
        .select(col("doc_id"), col("lang"),
          regexp_count(col("text2"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("text2"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("text2"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("clean_md5"))
        .orderBy("doc_id")
    },

    "text_fingerprint" -> { (s, d) =>
      // Rolling-hash fingerprint via the custom codegen'd RollingHash
      // expression; equals the oracle's ord-fold because the corpus is
      // ASCII (bytes == codepoints).
      documents(s, d)
        .select(col("doc_id"), call_function("graft_fingerprint", col("text")).as("fp"))
        .orderBy("doc_id")
    },

    "text_quality" -> ((s, d) =>
      // Quality scoring: length ratio, stopword ratio, mean word length
      // — the standard pretraining-filter features.
      documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_stop", size(filter(split(col("text"), " "),
          x => x.isin("a", "the", "of", "and", "to"))))
        .select(
          col("doc_id"),
          col("n_tok"),
          round(col("n_stop").cast(DoubleType) / col("n_tok"), 6).as("stopword_ratio"),
          round(col("n_chars").cast(DoubleType) / col("n_tok"), 6).as("mean_tok_len"),
          (col("n_chars").between(100, 400) && col("n_tok") >= 20).as("passes_filter"))
        .orderBy("doc_id")),

    "text_lexical_diversity" -> { (s, d) =>
      // Lexical-diversity audit — the repetition/memorization screen a
      // corpus card reports next to text_quality's ratios: per-doc
      // type-token ratio (distinct/total tokens, the cheap MTLD
      // stand-in) rolled up per lang, plus the hapax-legomena share of
      // each lang's TRIGRAM vocabulary (fraction of trigram types seen
      // exactly once — Zipf-tail health; unigrams won't do here: the
      // synthetic ~30-word vocabulary makes every unigram frequent,
      // while trigram types outnumber instances enough to leave a real
      // hapax tail — and trigram uniqueness is what a memorization
      // audit actually measures). Shape: TTR is MAP-ONLY (distinct
      // inside the row); the only shuffles are the lang rollup and the
      // vocab-bounded (lang, trigram) groupBy; emission ≤ langs rows.
      // Numeric policy: ratios floor-snapped at 1e-6 (the davg tie
      // rationale), snapped TTRs summed as exact decimals.
      val arr = split(col("text"), " ")
      val snap: Column => Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val ttr = snap(size(array_distinct(arr)).cast(DoubleType) / size(arr))
      val docsS = spread(documents(s, d).select(col("lang"), col("text")))
      val tl = docsS.select(col("lang"), ttr.as("ttr"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          snap(sum(dec(col("ttr"))).cast(DoubleType) / count(lit(1)))
            .as("avg_ttr"))
      val tris = when(size(arr) >= 3,
        transform(sequence(lit(0), size(arr) - 3),
          i => array_join(slice(arr, i + 1, lit(3)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))
      val hp = docsS.select(col("lang"), explode(tris).as("tri"))
        .groupBy("lang", "tri").agg(count(lit(1)).as("freq"))
        .groupBy("lang").agg(count(lit(1)).as("tri_vocab"),
          sum(when(col("freq") === 1, 1L).otherwise(0L)).as("tri_hapax"))
      tl.join(hp, "lang")
        .select(col("lang"), col("n_docs"), col("avg_ttr"),
          col("tri_vocab"), col("tri_hapax"),
          snap(col("tri_hapax").cast(DoubleType) / col("tri_vocab"))
            .as("hapax_share"))
        .orderBy("lang")
    },

    "text_source_overlap" -> { (s, d) =>
      // Source×source 5-gram-shingle Jaccard — WHICH sources duplicate
      // each other (two crawls of the same site, a mirrored dump): the
      // corpus-curation readout that decides source-level dedup before
      // any doc-level pass runs. Shape: per-source DISTINCT shingle
      // sets (one shuffle), then a shingle equi-join for pair
      // intersections — the per-shingle fan-out is bounded by
      // C(#sources, 2) (≤ 190 here) at ANY corpus size, so the join
      // output is O(shingles·#source-pairs), never quadratic in rows;
      // set sizes attach by auto-broadcast joins. Pairs sharing zero
      // shingles are absent by construction (sparse emission,
      // documented). Jaccard = i/(a+b−i) on exact longs, one IEEE
      // division, rounded at 1e-6.
      val arr = split(col("text"), " ")
      val shing = when(size(arr) >= 5,
        transform(sequence(lit(0), size(arr) - 5),
          i => array_join(slice(arr, i + 1, lit(5)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))
      val ss = spread(documents(s, d).select(col("source"), col("text")))
        .select(col("source"), explode(shing).as("sh")).distinct()
      val sizes = ss.groupBy("source").agg(count(lit(1)).as("sz"))
      val inter = ss.as("a").join(ss.as("b"),
          col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
        .agg(count(lit(1)).as("n_shared"))
      inter
        .join(sizes.select(col("source").as("s1"), col("sz").as("za")), "s1")
        .join(sizes.select(col("source").as("s2"), col("sz").as("zb")), "s2")
        .select(col("s1"), col("s2"), col("n_shared"),
          round(col("n_shared").cast(DoubleType) /
            (col("za") + col("zb") - col("n_shared")), 6).as("jaccard"))
        .orderBy("s1", "s2")
    },

    "text_token_entropy" -> { (s, d) =>
      // Per-doc token-distribution entropy rolled up per source — the
      // Gopher-rule-family repetition screen (a doc whose tokens
      // concentrate on few types has low entropy = boilerplate or
      // gibberish; the corpus card reports the per-source profile and
      // the count below the 2.0-nat floor). Shape: token total rides
      // the row BEFORE the explode (no second doc shuffle), the
      // (doc, term) groupBy is the one data-sized shuffle, per-doc
      // entropy and the source rollup are reductions. Determinism:
      // p = c/n is exact-integer division (identical IEEE), each
      // −p·ln p term is rounded at 1e-6 then decimal-summed
      // (the text_js_divergence ln recipe), the per-source mean uses
      // the davg floor-snap; the low-entropy flag compares the
      // decimal-exact per-doc sum.
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"),
        size(split(col("text"), " ")).cast(DoubleType).as("n"))
      val g = docs.select(col("doc_id"), col("source"), col("n"),
          explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "source", "n", "term")
        .agg(count(lit(1)).as("c"))
      val contrib = round((col("c") / col("n")) * log(col("c") / col("n")), 6)
      val ent = g.groupBy("doc_id", "source")
        .agg((-sum(dec(contrib)).cast(DoubleType)).as("ent"))
      ent.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (floor(sum(dec(col("ent"))).cast(DoubleType) / count(lit(1))
            * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
            .as("avg_entropy"),
          sum(when(col("ent") < 2.0, 1L).otherwise(0L)).as("n_low_entropy"))
        .orderBy("source")
    },

    "text_rake_keyphrases" -> { (s, d) =>
      // RAKE keyphrase extraction (Rose et al.) — the unsupervised
      // keyword/topic surface a corpus card ships (what IS this data
      // about): candidate phrases are maximal stopword-free word runs
      // (≤ 4 words), each word scores deg/freq over the candidate set
      // (deg = Σ phrase-length over its phrases — words living in
      // longer phrases rank up), a phrase scores the sum of its
      // words' scores; top 20 corpus-wide. Shape: one posexplode +
      // gaps-and-islands window per doc (the win_streak machinery)
      // finds phrase runs WITHOUT re-exploding — phrase length rides
      // a (doc, run) window; word stats are a vocab-bounded groupBy
      // broadcast back; the emission is a TakeOrdered. Determinism:
      // deg/freq snaps to 1e-9 and the per-phrase score decimal-sums
      // (order-free); ties break on (phrase, doc_id, grp).
      val stop = Seq("a", "the", "of", "and", "to")
      val words = documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(!col("w").isin(stop: _*) && length(col("w")) > 0)
      val wIsl = Window.partitionBy("doc_id").orderBy("pos")
      val wRun = Window.partitionBy("doc_id", "grp")
      val isl = words
        .withColumn("grp", col("pos") - row_number().over(wIsl))
        .withColumn("plen", count(lit(1)).over(wRun))
        .filter(col("plen") <= 4)
        .persist() // 2 consumers: word stats + phrase rollup
      val wstats = isl.groupBy("w").agg(
        count(lit(1)).as("freq"),
        sum(col("plen")).as("deg"))
        .select(col("w"),
          round(col("deg").cast(DoubleType) / col("freq"), 9)
            .cast(DecimalType(28, 9)).as("score9"))
      val scored = isl.join(wstats, "w")
        .groupBy("doc_id", "grp")
        .agg(
          concat_ws(" ", transform(
            sort_array(collect_list(struct(col("pos"), col("w")))),
            x => x.getField("w"))).as("phrase"),
          max(col("plen")).as("n_words"),
          sum(col("score9")).as("sc9"))
      scored
        .orderBy(col("sc9").desc, col("phrase").asc, col("doc_id").asc,
          col("grp").asc)
        .limit(20)
        .select(col("doc_id"), col("phrase"), col("n_words"),
          col("sc9").cast(DoubleType).as("score"))
    },

    "text_winnowing" -> { (s, d) =>
      // Winnowing fingerprint matching (the MOSS algorithm, Schleimer
      // et al.) — the GUARANTEED-detection member of the dedup family:
      // k-gram hashes (k=20 chars) at every position, per-window (w=8)
      // minimum selected, so any verbatim match of length ≥ k+w−1 = 27
      // chars is PROVABLY caught by a shared fingerprint (sketch
      // dedup is probabilistic; dedup_substring_spans is exact but
      // fixed-stride — winnowing is the position-robust middle).
      // k=20 ≈ 3 words, not MOSS's textbook 5: this synthetic corpus
      // draws from a small vocabulary, so 5-char-grams collapse to 588
      // distinct prints with df up to 398 (measured — every print is
      // "boilerplate" and the df band empties the result); at k=20 the
      // print space is 28k distinct with ZERO df>10 prints and the
      // near-dup pairs surface (974 candidates, 25 at the ≥5 gate).
      // Shape: k-gram hashing and window-min selection run in the
      // codegen'd WinnowedPrints kernel — O(len) rolling hash + a
      // monotonic-deque window minimum per doc, map-side; only the
      // ~2/(w+1)-density SELECTED prints leave the row. (The
      // higher-order-function form — transform+aggregate over
      // positions — is interpreted, O(len·k), and measured 36 s at
      // sf0.1; the kernel is the documented custom-Expression
      // escalation, and DeterminismSpec's NO_CODEGEN double-run pins
      // eval ≡ codegen.) The posting-list self-join is an equi-join
      // on fingerprint with a df ∈ [2,10] band (df>10 = boilerplate,
      // dropped corpus-wide — the CCNet line-dedup rationale; the
      // band bounds any posting list's pair fan-out at 45), and the
      // pair rollup emits doc pairs sharing ≥ 5 prints. Determinism:
      // the polynomial hash is exact BIGINT arithmetic ((a·31+ord)%p
      // — text_fingerprint's fold), window minima are integer order
      // statistics, counts are longs.
      val K = 20; val W = 8
      // spread was MEASURED here and reverted (round 14): repartitioning
      // the full text rows costs more than the kernel pass it would
      // parallelize — the posting-list self-join below, not the kernel,
      // dominates this query.
      val fps = documents(s, d)
        .filter(length(col("text")) >= K + W - 1)
        .select(col("doc_id"),
          explode(call_function("graft_winnow", col("text"), lit(K), lit(W)))
            .as("fp"))
        .persist() // 3 consumers: df table + both pair sides
      val dfT = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      val sel = fps.join(dfT.filter(col("df").between(2, 10)).select("fp"), "fp")
      sel.as("a").join(sel.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy("doc_a", "doc_b")
    },

    "pipeline_token_histogram" -> { (s, d) =>
      // Per-source doc-length histogram in power-of-2 token buckets —
      // the distribution pack_sequences' bin size and the trainer's
      // max_seq_len are actually chosen FROM (mean length says
      // nothing when the tail holds the tokens; this shows where the
      // token MASS sits). Pure map-side: bucket = floor(log2) via the
      // BINARY-STRING length (length(bin(n)) − 1 — integer-exact in
      // any engine; an IEEE log2 would coin-flip floor() at exact
      // powers of two), then one (source, bucket)-keyed rollup
      // bounded at sources × ~20 buckets at any corpus size. Emits
      // doc counts AND token mass per bucket so the "P99 docs hold
      // half the tokens" read is immediate.
      val nTok = size(split(col("text"), " ")).cast(LongType)
      documents(s, d)
        .select(col("source"), nTok.as("n_tok"))
        .withColumn("bucket",
          (length(conv(col("n_tok"), 10, 2)) - 1).cast(LongType))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .orderBy("source", "bucket")
    },

    "text_zipf_fit" -> { (s, d) =>
      // Zipf-law fit over the corpus vocabulary — the sanity check
      // every corpus-stats report carries: natural text follows
      // freq ∝ rank^slope with slope ≈ −1, and a corpus that doesn't
      // (slope ≈ 0: dedup failure / boilerplate flood; slope ≪ −1.5:
      // template collapse) is broken upstream. Least squares of
      // ln(freq) on ln(rank) over the top-500 terms. Shape: one
      // explode+groupBy corpus pass (the only data-sized work), then
      // the rank window and the fit ride the Zipf-bounded vocab table
      // (text_vocab_build's argument). Determinism: ln values snap to
      // the 1e-9 grid (the agg_mutual_information libm recipe), the
      // per-term products round at 1e-9 before an exact decimal sum,
      // and the closed-form slope runs on identical doubles; emission
      // floors at 1e-6.
      val cnt = documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
      // Top-k via orderBy().limit(k) — TakeOrderedAndProject: per-
      // partition top-500 + driver merge — then re-rank the 500
      // survivors (round 15, VERDICT r14 item 3). The old global
      // row_number window pushed the ENTIRE term table through ONE
      // partition to keep 500 rows — the classic top-k anti-pattern at
      // a web-scale vocabulary (10⁷-10⁸ distinct terms). (freq DESC,
      // term ASC) is a total order (term unique), so the limit is
      // deterministic and the post-limit window ranks the identical
      // rows 1..500 over a 500-row input (the sim_pq_adc precedent).
      val ranked = cnt
        .orderBy(col("freq").desc, col("term").asc).limit(500)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("freq").desc, col("term").asc)))
        .select(round(log(col("rank")), 9).as("x"),
          round(log(col("freq")), 9).as("y"))
      val d9 = DecimalType(28, 9)
      val sums = ranked.agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x").cast(d9)).cast(DoubleType).as("sx"),
        sum(col("y").cast(d9)).cast(DoubleType).as("sy"),
        sum(round(col("x") * col("x"), 9).cast(d9)).cast(DoubleType).as("sxx"),
        sum(round(col("x") * col("y"), 9).cast(d9)).cast(DoubleType).as("sxy"))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      sums
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))
        .select(col("n").cast(LongType).as("n_terms"),
          r6(col("slope")).as("slope"),
          r6((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"))
    },

    "feat_count_min_sketch" -> { (s, d) =>
      // Count-min sketch over corpus term frequencies — the bounded-
      // memory frequency sketch that completes the re-aggregatable
      // sketch family (HLL = distinct, bitmap = exact distinct, top-k
      // = heavy hitters, CMS = point frequency): d=4 hash rows × w=64
      // buckets, every cell an exact BIGINT sum, so the sketch itself
      // is hash-oracle-able (no float estimator). Built PER SOURCE
      // first, then MERGED by plain cell addition — the algebra that
      // lets 1000 executors sketch 100 TB locally and combine 256-cell
      // tables instead of term tables. Probes: the top-15 exact terms;
      // estimate = min over the 4 row cells (the CMS point query);
      // emission carries exact vs estimate and the non-negative
      // overcount the hash gate pins (CMS NEVER undercounts — a
      // negative overcount is a broken hash, and the oracle's
      // replicated arithmetic would catch it as a mismatch). Hashes
      // are the md5-prefix bigint idiom (split_train_test), portable
      // to DuckDB verbatim.
      val D = 4
      val W = 64
      def buckets(term: Column) = array((0 until D).map(i =>
        conv(substring(md5(concat(lit(s"graft-cms$i:"), term)), 1, 8), 16, 10)
          .cast(LongType) % W): _*)
      val termCnt = documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        .persist() // 2 consumers: sketch build + exact probe counts
      val perSource = termCnt
        .select(col("source"), col("cnt"),
          posexplode(buckets(col("term"))).as(Seq("i", "bucket")))
        .groupBy("source", "i", "bucket").agg(sum(col("cnt")).as("cell"))
      val merged = perSource.groupBy("i", "bucket").agg(sum(col("cell")).as("cell"))
      val exact = termCnt.groupBy("term").agg(sum(col("cnt")).as("exact_cnt"))
      val probes = exact
        .orderBy(desc("exact_cnt"), asc("term")).limit(15)
      probes
        .select(col("term"), col("exact_cnt"),
          posexplode(buckets(col("term"))).as(Seq("i", "bucket")))
        .join(merged, Seq("i", "bucket"))
        .groupBy("term", "exact_cnt")
        .agg(min(col("cell")).as("cms_est"))
        .select(col("term"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"))
        .orderBy("term")
    },

    "pipeline_quality_gate" -> { (s, d) =>
      // The composed pretraining-filter GATE: every doc gets a keep
      // decision plus the FIRST failing rule as its reason code — the
      // operational form of text_quality (a training pipeline doesn't
      // want per-feature columns downstream, it wants keep/drop with
      // an auditable reason histogram per source; the reason ordering
      // is part of the contract so drop counts are attributable).
      // Rules in order: too_short / too_long (char bounds), low_tok
      // (< 20 tokens), stopword_low (ratio < 0.05 — gibberish /
      // non-prose signal), tok_len_high (mean token length > 12 —
      // code/URL soup). Emission is the per-(source, reason)
      // histogram with keep rate — map-only per doc + one tiny
      // rollup; all rule arithmetic is integer or single-division
      // IEEE on exact ints, so the flags are engine-exact.
      val flags = documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_stop", size(filter(split(col("text"), " "),
          x => x.isin("a", "the", "of", "and", "to"))))
        .withColumn("reason",
          when(col("n_chars") < 100, "too_short")
            .when(col("n_chars") > 400, "too_long")
            .when(col("n_tok") < 20, "low_tok")
            .when(col("n_stop").cast(DoubleType) / col("n_tok") < 0.05, "stopword_low")
            .when(col("n_chars").cast(DoubleType) / col("n_tok") > 12.0, "tok_len_high")
            .otherwise("keep"))
      flags.groupBy("source", "reason")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("source", "reason")
    },

    "text_vocab_build" -> { (s, d) =>
      // Tokenizer-vocabulary training: dense integer ids for the top-500
      // corpus tokens by frequency (freq desc, token asc — the
      // deterministic tie-break every tokenizer trainer uses). Shape:
      // the data-sized work is ONE explode+groupBy corpus pass with
      // map-side combine; selection over the vocab-sized count table is
      // distributed top-k (below), and the top-500 limit keeps the
      // emitted vocab O(1).
      val cnt = documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      // Top-k via orderBy().limit(k) + post-limit re-rank — the
      // text_zipf_fit rationale (round 15): TakeOrderedAndProject keeps
      // per-partition top-500s and merges on the driver; the global
      // row_number then runs over 500 rows, never the vocabulary. The
      // (cnt DESC, term ASC) total order makes both steps deterministic
      // and the emitted ids identical to the old single-partition rank.
      cnt
        .orderBy(col("cnt").desc, col("term").asc).limit(500)
        .withColumn("token_id", row_number().over(
          Window.orderBy(col("cnt").desc, col("term").asc)))
        // row_number is INT in Spark but BIGINT in DuckDB — emit long.
        .select(col("token_id").cast(LongType).as("token_id"),
          col("term"), col("cnt"))
        .orderBy("token_id")
    },

    "text_bigram_lm" -> { (s, d) =>
      // Bigram language model (the n-gram LM / next-token-statistics
      // primitive): P(w2 | w1) with the corpus as training data, emitted
      // for the 200 most frequent bigrams. Shape: bigram construction is
      // a map-side transform over the already-split token array (no
      // per-token explode of unigrams — w1 totals are recomposed from
      // the bigram counts themselves via a groupBy over the REDUCED
      // table), so the only data-sized shuffle is the bigram groupBy
      // with map-side combine. logp divides exact integer counts on
      // identical IEEE doubles, rounded at 1e-6.
      val bg = documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        // Guard: a 1-token doc makes sequence(0, -1) DESCEND ([0,-1]) and
        // ws[-1] then trips ANSI INVALID_ARRAY_INDEX — mirror the oracle's
        // WHERE len(ws) >= 2 so both engines skip bigram-free docs.
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
        .persist() // 2 consumers (top-k + w1 totals) — uncached, each
                   // re-runs the full bigram corpus pass
      // Top-k via orderBy().limit(k) + w1 totals as a groupBy aggregate
      // (round 15, VERDICT r14 item 3): the old form pushed the ENTIRE
      // bigram-type table through ONE partition (global row_number) and
      // windowed per-w1 sums over it; TakeOrderedAndProject + a
      // map-side-combined groupBy compute the identical 200 rows and
      // totals with no single-partition stage. (cnt DESC, w1, w2) is a
      // total order — the limit is deterministic; the rank itself was
      // never emitted, only used to cut at 200.
      val top = bg.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
        .limit(200)
      val w1tot = bg.groupBy("w1").agg(sum(col("cnt")).as("w1_cnt"))
      top.join(w1tot, "w1")
        .select(col("w1"), col("w2"), col("cnt"), col("w1_cnt"),
          round(log(col("cnt").cast(DoubleType) / col("w1_cnt")), 6).as("logp"))
        .orderBy("w1", "w2")
    },

    "text_kneser_ney" -> { (s, d) =>
      // Interpolated Kneser–Ney bigram probabilities (absolute discount
      // D = 0.75) — the classic n-gram smoother: P(w2|w1) =
      // max(c(w1,w2) - D, 0)/c(w1) + D·n1f(w1)/c(w1) · ncont(w2)/T,
      // where n1f(w1) = distinct continuations of w1, ncont(w2) =
      // distinct contexts preceding w2 (the "how novel is this word"
      // continuation count that distinguishes KN from Katz backoff),
      // and T = total bigram types. Shape: ONE bigram groupBy corpus
      // pass (map-side combined); the per-w1 totals/fanouts and per-w2
      // continuation fanouts are windows over the REDUCED bigram-TYPE
      // table (vocab²-bounded, Zipf-sparse in practice); the single
      // scalar T is a 1-row aggregate broadcast back via crossJoin —
      // never an unpartitioned window over the type table. Selection is
      // top-200 by count via TakeOrdered, not a global row_number.
      // Every input to the double expression is an exact integer count
      // and both engines evaluate the identical operation tree (left-
      // associated), rounded at 1e-6.
      val bg = documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        // 1-token docs: sequence(0, -1) DESCENDS ([0,-1]) and ws[-1]
        // trips ANSI INVALID_ARRAY_INDEX — mirror the oracle's
        // WHERE len(ws) >= 2 (same guard as text_bigram_lm).
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      val tot = bg.agg(count(lit(1)).as("t_types"))
      bg
        .withColumn("c1", sum(col("cnt")).over(Window.partitionBy("w1")))
        .withColumn("n1f", count(lit(1)).over(Window.partitionBy("w1")))
        .withColumn("ncont", count(lit(1)).over(Window.partitionBy("w2")))
        .orderBy(col("cnt").desc, col("w1"), col("w2"))
        .limit(200)
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("cnt"), col("c1"),
          col("n1f"), col("ncont"),
          round(
            greatest(col("cnt").cast(DoubleType) - lit(0.75), lit(0.0))
              / col("c1").cast(DoubleType)
              + lit(0.75) * col("n1f").cast(DoubleType)
                / col("c1").cast(DoubleType)
                * (col("ncont").cast(DoubleType) / col("t_types").cast(DoubleType)),
            6).as("p_kn"))
        .orderBy("w1", "w2")
    },

    "pipeline_mixture_weights" -> { (s, d) =>
      // Source-mixture rebalancing weights — the data-mixing primitive
      // that decides how hard to up/down-sample each source so every
      // source contributes an equal token share to the training mix
      // (uniform target; any target vector is the same arithmetic).
      // Shape: ONE map-side-combined corpus pass reduces to a
      // #sources-row table; the total and source count are recomposed
      // from that tiny table by an unpartitioned window, never a second
      // scan. weight = (total/k)/source_tokens on identical IEEE
      // doubles, floored at 1e-6.
      val wAll = Window.partitionBy()
      documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(wAll))
        .withColumn("k", count(lit(1)).over(wAll))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (floor(col("tot").cast(DoubleType) / col("k") / col("n_tokens")
              * 1000000 + 0.5).cast(DoubleType) / 1000000.0).as("weight"))
        .orderBy("source")
    },

    "pipeline_epoch_plan" -> { (s, d) =>
      // Epoch planning for a fixed training-token budget — the step
      // after pipeline_mixture_weights decides the TARGET mix: given a
      // total budget T (3× corpus tokens here; any T is the same
      // arithmetic) split uniformly across k sources, each source must
      // be repeated epochs = (T/k)/available times, and a source whose
      // plan exceeds 4 epochs gets the published repeated-data
      // diminishing-returns flag (the "repeat small sources how many
      // times?" readout a mixture designer acts on). Shape: ONE
      // map-side-combined corpus pass to a #sources-row table, the
      // total/count recomposed by an unpartitioned window over that
      // tiny table (the mixture_weights rationale) — input-size-free
      // after the scan. epochs snapped at 1e-6; the flag compares the
      // UNROUNDED quotient (identical IEEE in both engines).
      val wAll = Window.partitionBy()
      val ep = col("tot").cast(DoubleType) * 3 / col("k") / col("n_tokens")
      documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(wAll))
        .withColumn("k", count(lit(1)).over(wAll))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("tot") * 3).as("budget_tokens"),
          (floor(ep * 1000000 + 0.5).cast(DoubleType) / 1000000.0)
            .as("epochs"),
          (ep > 4.0).as("over_repetition_risk"))
        .orderBy("source")
    },

    "feat_hashing_vectorize" -> { (s, d) =>
      // Hashing-trick bag-of-words vectorizer — the unbounded-vocab
      // featurizer: each token hashes to one of D=64 buckets (salted
      // md5, engine-portable — no vocabulary table, no OOV problem,
      // which is the whole point at web scale). Shape: one explode +
      // (doc, bucket) groupBy with map-side combine, then a doc-keyed
      // rollup riding the same doc_id partitioning. The vector is
      // emitted as a sorted sparse "bucket:count" string — the
      // comparator-safe form (raw array cells crash the driver's hash
      // comparator; SURVEY §7).
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      toks
        .withColumn("bucket",
          conv(substring(md5(col("term")), 1, 8), 16, 10).cast(LongType) % 64)
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sum(col("c")).as("n_tok"),
          array_join(transform(
            array_sort(collect_list(struct(col("bucket"), col("c")))),
            x => concat(x.getField("bucket").cast(StringType), lit(":"),
              x.getField("c").cast(StringType))), ",").as("vec"))
        .orderBy("doc_id")
    },

    "sample_mixture_resample" -> { (s, d) =>
      // Realize the mixture weights as a deterministic doc-level
      // resample: each doc is emitted floor(w) times plus one more iff
      // its salted-md5 uniform draw falls under frac(w) — the standard
      // integer+Bernoulli upsampling that hits the target share in
      // expectation with zero RNG state (md5 is engine-portable, unlike
      // seeded rand). Shape: the #sources weight table BROADCASTS onto
      // the corpus, copy counts are map-side arithmetic, and the only
      // data-sized shuffle is the final per-source rollup — the corpus
      // is never materialized n_copies-fold (downstream packing
      // consumes (doc, n_copies) pairs directly).
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      val wAll = Window.partitionBy()
      val weights = docs.groupBy("source")
        .agg(sum(col("n_tok")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(wAll))
        .withColumn("k", count(lit(1)).over(wAll))
        .select(col("source"),
          (col("tot").cast(DoubleType) / col("k") / col("n_tokens")).as("w"))
      val frac = conv(substring(md5(concat(lit("graft-resample:"),
        col("doc_id").cast(StringType))), 1, 8), 16, 10)
        .cast(LongType).cast(DoubleType) / 4294967296.0
      docs.join(broadcast(weights), "source")
        .withColumn("n_copies", floor(col("w")).cast(LongType) +
          when(frac < col("w") - floor(col("w")), 1L).otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("docs_in"),
          sum(col("n_copies")).as("copies_out"),
          sum(col("n_copies") * col("n_tok")).as("tokens_out"))
        .orderBy("source")
    },

    "text_chao1_vocab" -> { (s, d) =>
      // Chao1 unseen-vocabulary estimate per lang — "how much MORE
      // vocabulary would another crawl surface": the corpus-growth
      // question a data-acquisition plan prices before buying the next
      // dump (a coverage near 1 says new data repeats what's seen;
      // a chao1_est far above the observed vocab says the tail is
      // unexhausted). Runs over each lang's TRIGRAM vocabulary — the
      // text_lexical_diversity rationale: the synthetic ~30-word
      // unigram vocabulary has no rare tail, while trigram types keep
      // real hapax (f1) / doubleton (f2) censuses. Estimators: the
      // bias-corrected Chao1 lower bound t + f1·(f1−1)/(2·(f2+1))
      // (defined even at f2 = 0, unlike the classical f1²/2f2 form)
      // and Good–Turing coverage 1 − f1/n. Shape: one vocab-bounded
      // (lang, trigram) groupBy, then a per-lang count-of-counts
      // reduction; emission ≤ langs rows. Every estimator input is an
      // exact BIGINT; each emitted double is ONE identical-IEEE
      // expression over them, floor-snapped at 1e-6.
      val arr = split(col("text"), " ")
      val snap: Column => Column =
        x => floor(x * 1000000 + 0.5).cast(DoubleType) / 1000000.0
      val tris = when(size(arr) >= 3,
        transform(sequence(lit(0), size(arr) - 3),
          i => array_join(slice(arr, i + 1, lit(3)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))
      spread(documents(s, d).select(col("lang"), col("text")))
        .select(col("lang"), explode(tris).as("tri"))
        .groupBy("lang", "tri").agg(count(lit(1)).as("freq"))
        .groupBy("lang").agg(
          sum(col("freq")).as("n_instances"),
          count(lit(1)).as("tri_vocab"),
          sum(when(col("freq") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("freq") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("lang"), col("n_instances"), col("tri_vocab"),
          col("f1"), col("f2"),
          snap(col("tri_vocab")
            + (col("f1") * (col("f1") - 1)).cast(DoubleType)
              / (lit(2L) * (col("f2") + 1))).as("chao1_est"),
          snap(lit(1.0) - col("f1").cast(DoubleType) / col("n_instances"))
            .as("coverage"))
        .orderBy("lang")
    },

    "text_bm25_score" -> { (s, d) =>
      // BM25 ranking of the corpus against a fixed query — THE lexical
      // retrieval primitive (text_tfidf weights terms; BM25 is what a
      // search/RAG stack actually ranks with: tf saturation via k1 and
      // doc-length normalization via b). Query includes the corpus's
      // one rare term (`dup`, df≈5%) so idf genuinely separates.
      // Shape: the explode is FILTERED to the ≤|q| query terms before
      // the (doc, term) groupBy, so the one data-sized shuffle carries
      // at most |q| rows per doc; the df table is ≤|q| rows and the
      // (N, Σlen) globals are ONE row — both broadcast; the final
      // top-20 is a TakeOrdered, no global sort. Determinism: idf
      // snaps to the 1e-9 grid (the ln-recipe treatment — Spark/DuckDB
      // libm may differ an ulp); every other input to the term score
      // is an exact BIGINT, so the score expression is identical IEEE
      // in both engines; terms round at 1e-6 and decimal-sum per doc;
      // the top-20 cut orders by (rounded score, doc_id) so rank ties
      // cannot straddle engines.
      val snap9: Column => Column =
        x => floor(x * 1e9 + 0.5).cast(DoubleType) / 1e9
      val docs = documents(s, d).select(col("doc_id"),
        split(col("text"), " ").as("arr"))
        .select(col("doc_id"), col("arr"),
          size(col("arr")).cast(LongType).as("dl"))
      val glob = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sumdl"))
      val tf = docs
        .select(col("doc_id"), col("dl"), explode(col("arr")).as("w"))
        .filter(col("w").isin("dup", "vector", "scan"))
        .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("f"))
      val dft = tf.groupBy("w").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dft), "w").crossJoin(broadcast(glob))
        .withColumn("idf", snap9(log(
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)))
        .withColumn("ts", round(col("idf") * col("f") * lit(2.2)
          / (col("f") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast(DoubleType)
            / (col("sumdl").cast(DoubleType) / col("n_docs")))), 6))
        .groupBy("doc_id")
        .agg(max(col("dl")).as("doc_len"),
          sum(dec(col("ts"))).cast(DoubleType).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    }
  )

  /** Brute-force word-Jaccard ≥ 0.8 blocked pair truth — shared by the
    * pair query's oracle and, as the edge set, by dedup_clusters'
    * recursive-CTE connected-components oracle.
    */
  private val jaccardPairsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |sz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |  FROM tok a JOIN tok b ON a.w = b.w AND a.lang = b.lang
      |    AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM (
      |  SELECT id_a, id_b,
      |    CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) AS jac
      |  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) t
      |WHERE jac >= 0.8 ORDER BY id_a, id_b""".stripMargin

  /** The BPE training loop unrolled `k` rounds as oracle CTEs over
    * w0, the (w, c) table of the words of length ≥ 2 (the
    * louvainFineLadderCtes precedent: one builder, so the four BPE
    * oracles cannot drift). Round r is its weighted pair counts p_r,
    * the rank-1 winner t_r (n DESC, pair ASC; sum(c) CAST AS BIGINT,
    * since DuckDB sums BIGINT into HUGEINT) and w_r, the words with the
    * winner replace()d by chr(r + 1), the placeholder bpeTrainMerges
    * assigns. With `decode`, also the expansion tables e_0..e_k and
    * d_r = (rank, merge, n, pair), the winner decoded to its text.
    */
  private def bpeTrainCtes(k: Int, decode: Boolean): String = {
    val train = (1 to k).map { r =>
      s"""p$r AS (
         |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, c
         |  FROM w${r - 1}, unnest(range(1, length(w))) AS tt(i)),
         |t$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM p$r
         |  GROUP BY pair ORDER BY sum(c) DESC, pair ASC LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT w, c FROM (
         |    SELECT replace(x.w, t.pair, chr(${r + 1})) AS w, x.c
         |    FROM w${r - 1} x CROSS JOIN t$r t) m
         |  WHERE length(w) >= 2)""".stripMargin
    }
    val decoded = if (!decode) Nil else "e0 AS (SELECT '' AS sym, '' AS e WHERE 1 = 0)" +:
      (1 to k).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT $r AS rank,
           |    coalesce(el.e, substring(t.pair, 1, 1)) ||
           |    coalesce(er.e, substring(t.pair, 2, 1)) AS merge,
           |    t.n, t.pair
           |  FROM t$r t
           |  LEFT JOIN e${r - 1} el ON el.sym = substring(t.pair, 1, 1)
           |  LEFT JOIN e${r - 1} er ON er.sym = substring(t.pair, 2, 1)),
           |e$r AS (
           |  SELECT sym, e FROM e${r - 1}
           |  UNION ALL SELECT chr(${r + 1}) AS sym, merge AS e FROM d$r)""".stripMargin
      }
    (train ++ decoded).mkString(",\n")
  }

  /** The full (w, c) word table wfull and its length ≥ 2 training part
    * w0, the encode oracles' input over `words`.
    */
  private val bpeWordTables: String =
    """wfull AS MATERIALIZED (
      |  SELECT w, count(*) AS c FROM words WHERE length(w) >= 1 GROUP BY w),
      |w0 AS MATERIALIZED (SELECT w, c FROM wfull WHERE length(w) >= 2)""".stripMargin

  /** Column w encoded by the first `k` winners t_1..t_k of
    * [[bpeTrainCtes]] as chained replace()s in rank order, the oracle
    * twin of [[bpeEncode]].
    */
  private def bpeEncSql(k: Int): String = (1 to k).foldLeft("w") { (acc, r) =>
    s"replace($acc, (SELECT pair FROM t$r), chr(${r + 1}))"
  }

  val oracleSql: Map[String, String] = keyed(
    // Both sketch pipelines end in the exact-verify tail, so both must
    // reproduce the same brute-force truth set (see shingleVerify).
    "dedup_minhash" -> shingleTruthSql,
    "dedup_simhash" -> shingleTruthSql,

    "text_vocab_build" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |rk AS (SELECT term, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, term ASC) AS token_id FROM cnt)
        |SELECT token_id, term, cnt FROM rk WHERE token_id <= 500
        |ORDER BY token_id""".stripMargin,

    "text_bigram_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bg0 AS (SELECT unnest(list_transform(range(len(ws) - 1),
        |  i -> [ws[i + 1], ws[i + 2]])) AS b FROM w WHERE len(ws) >= 2),
        |cnt AS (SELECT b[1] AS w1, b[2] AS w2, count(*) AS cnt FROM bg0 GROUP BY 1, 2),
        |wc AS (SELECT w1, w2, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS w1_cnt,
        |  row_number() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rk FROM cnt)
        |SELECT w1, w2, cnt, w1_cnt,
        |  round(ln(CAST(cnt AS DOUBLE) / CAST(w1_cnt AS DOUBLE)), 6) AS logp
        |FROM wc WHERE rk <= 200 ORDER BY w1, w2""".stripMargin,

    // The double expression left-associates identically to the Spark
    // Column tree: max(c-D,0)/c1 + ((D*n1f)/c1) * (ncont/T).
    "text_kneser_ney" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |bg0 AS (SELECT unnest(list_transform(range(len(ws) - 1),
        |  i -> [ws[i + 1], ws[i + 2]])) AS b FROM w WHERE len(ws) >= 2),
        |cnt AS (SELECT b[1] AS w1, b[2] AS w2, count(*) AS cnt FROM bg0 GROUP BY 1, 2),
        |t AS (SELECT count(*) AS t_types FROM cnt),
        |wc AS (SELECT w1, w2, cnt,
        |  CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS c1,
        |  count(*) OVER (PARTITION BY w1) AS n1f,
        |  count(*) OVER (PARTITION BY w2) AS ncont
        |  FROM cnt),
        |sel AS (SELECT * FROM wc ORDER BY cnt DESC, w1, w2 LIMIT 200)
        |SELECT w1, w2, cnt, c1, n1f, ncont,
        |  round(greatest(CAST(cnt AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
        |    + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
        |      * (CAST(ncont AS DOUBLE) / CAST(t_types AS DOUBLE)), 6) AS p_kn
        |FROM sel CROSS JOIN t ORDER BY w1, w2""".stripMargin,

    "pipeline_mixture_weights" ->
      """WITH bs AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT source, n_docs, n_tokens,
        |  CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
        |  count(*) OVER () AS k FROM bs)
        |SELECT source, n_docs, n_tokens,
        |  floor(CAST(tot AS DOUBLE) / k / n_tokens * 1000000 + 0.5) / 1000000.0 AS weight
        |FROM t ORDER BY source""".stripMargin,

    "pipeline_epoch_plan" ->
      """WITH bs AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT source, n_docs, n_tokens,
        |  CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
        |  count(*) OVER () AS k FROM bs)
        |SELECT source, n_docs, n_tokens,
        |  CAST(tot * 3 AS BIGINT) AS budget_tokens,
        |  floor(CAST(tot AS DOUBLE) * 3 / k / n_tokens * 1000000 + 0.5)
        |    / 1000000.0 AS epochs,
        |  CAST(tot AS DOUBLE) * 3 / k / n_tokens > 4.0
        |    AS over_repetition_risk
        |FROM t ORDER BY source""".stripMargin,

    "feat_hashing_vectorize" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |bk AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5(term), 1, 8)) AS BIGINT) % 64 AS bucket
        |  FROM toks),
        |bc AS (SELECT doc_id, bucket, count(*) AS c FROM bk GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS nnz, CAST(sum(c) AS BIGINT) AS n_tok,
        |  string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(c AS VARCHAR),
        |    ',' ORDER BY bucket) AS vec
        |FROM bc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "sample_mixture_resample" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |bs AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM docs GROUP BY source),
        |wt AS (SELECT source,
        |  CAST(CAST(sum(n_tokens) OVER () AS BIGINT) AS DOUBLE)
        |    / (count(*) OVER ()) / n_tokens AS w FROM bs),
        |c AS (
        |  SELECT d.source, n_tok,
        |    CAST(floor(w) AS BIGINT) + CASE WHEN
        |      CAST(('0x' || substring(md5('graft-resample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        / 4294967296.0 < w - floor(w)
        |      THEN 1 ELSE 0 END AS n_copies
        |  FROM docs d JOIN wt USING (source))
        |SELECT source, count(*) AS docs_in,
        |  CAST(sum(n_copies) AS BIGINT) AS copies_out,
        |  CAST(sum(n_copies * n_tok) AS BIGINT) AS tokens_out
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "dedup_incremental" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0),
        |batch AS (
        |  SELECT fp, min(doc_id) AS doc_id FROM fp
        |  WHERE doc_id % 10 = 0 GROUP BY fp)
        |SELECT doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,

    // The oracle IS the exact (bloom-free) incremental dedup: a hash
    // match proves the bloom prefilter split is a pure reduction.
    "dedup_bloom_incremental" ->
      """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |hist AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0),
        |batch AS (
        |  SELECT fp, min(doc_id) AS doc_id FROM fp
        |  WHERE doc_id % 10 = 0 GROUP BY fp)
        |SELECT doc_id FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,

    "feat_negative_sampling" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5('graft-neg:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS bucket,
        |    md5('graft-ord:' || CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |prefix AS (
        |  SELECT cand_id, cand_lang, bucket, rk FROM (
        |    SELECT doc_id AS cand_id, lang AS cand_lang, bucket, rk,
        |      row_number() OVER (PARTITION BY bucket, lang ORDER BY rk, doc_id) AS pn
        |    FROM docs) t WHERE pn <= 4),
        |probes AS (
        |  SELECT d.doc_id AS anchor_id, d.lang AS anchor_lang,
        |    (d.bucket + t.t) % 64 AS bucket
        |  FROM docs d CROSS JOIN (VALUES (1),(2),(3),(4)) AS t(t)
        |  WHERE d.doc_id % 97 = 0),
        |ranked AS (
        |  SELECT anchor_id, cand_id, rk,
        |    row_number() OVER (PARTITION BY anchor_id ORDER BY rk, cand_id) AS rn
        |  FROM probes p JOIN prefix c USING (bucket)
        |  WHERE c.cand_lang <> p.anchor_lang)
        |SELECT anchor_id, CAST(rn AS INTEGER) AS neg_rank, cand_id AS neg_id
        |FROM ranked WHERE rn <= 4 ORDER BY anchor_id, neg_rank""".stripMargin,

    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.Example.COM'
        |          ELSE 'http://www.example.com' END)
        |    || '/' || lang || '/doc-' || CAST(doc_id // 4 AS VARCHAR)
        |    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref='
        |             ELSE '?ref=' END)
        |    || source
        |    || (CASE WHEN doc_id % 3 = 1 THEN '&utm_campaign=x' ELSE '' END)
        |    || '&page=' || CAST(doc_id % 2 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '#sec-3' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    lower(split_part(regexp_replace(url, '#.*$', ''), '?', 1)) || '?' ||
        |    array_to_string(list_sort(list_filter(
        |      string_split(split_part(regexp_replace(url, '#.*$', ''), '?', 2),
        |        '&'),
        |      p -> NOT starts_with(p, 'utm'))), '&') AS canon
        |  FROM u)
        |SELECT canon, count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,

    "dedup_exact" ->
      """WITH dup AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id, text, lang FROM documents),
        |keep AS (
        |  SELECT min(doc_id) AS keep_id FROM dup GROUP BY md5(text))
        |SELECT lang, count(*) AS n_unique_docs
        |FROM documents JOIN keep ON doc_id = keep_id
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "dedup_weighted" ->
      """WITH tripled AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, text, n_chars FROM documents WHERE doc_id % 9 = 0)
        |SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
        |  round(sqrt(count(*)), 4) AS weight, min(n_chars) AS n_chars
        |FROM tripled GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "pipeline_interleave_sources" ->
      """WITH srcs AS (
        |  SELECT source,
        |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx,
        |    CAST(count(*) OVER () AS BIGINT) AS n_src
        |  FROM (SELECT DISTINCT source FROM documents) u),
        |r AS (
        |  SELECT doc_id, d.source, src_idx, n_src,
        |    CAST(row_number() OVER (PARTITION BY d.source
        |      ORDER BY md5('graft-ilv:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rk
        |  FROM documents d JOIN srcs ON d.source = srcs.source)
        |SELECT (rk - 1) * n_src + src_idx - 1 AS pos, doc_id, source
        |FROM r ORDER BY pos""".stripMargin,

    "dedup_jaccard_pairs" -> jaccardPairsSql,

    "dedup_containment" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS w
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM tok a JOIN tok b ON a.w = b.w AND a.lang = b.lang
        |    AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, round(cont, 6) AS containment FROM (
        |  SELECT id_a, id_b,
        |    CAST(n_inter AS DOUBLE) / least(sa.n_tok, sb.n_tok) AS cont
        |  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) t
        |WHERE cont >= 0.85 ORDER BY id_a, id_b""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($jaccardPairsSql),
        |edges AS (
        |  SELECT id_a, id_b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT id_a AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.id_b, reach.r FROM reach JOIN edges e ON reach.id = e.id_a),
        |lab AS (SELECT id, min(r) AS survivor_id FROM reach GROUP BY id)
        |SELECT survivor_id, count(*) AS n_members,
        |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        |FROM lab GROUP BY survivor_id ORDER BY survivor_id""".stripMargin,

    // Same recursive-CTE fixpoint as dedup_clusters, re-proven through
    // the per-document keep decision.
    "pipeline_dedup_corpus" ->
      s"""WITH RECURSIVE pairs AS ($jaccardPairsSql),
        |edges AS (
        |  SELECT id_a, id_b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT id_a AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.id_b, reach.r FROM reach JOIN edges e ON reach.id = e.id_a),
        |lab AS (SELECT id, min(r) AS survivor_id FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |  coalesce(lab.survivor_id, d.doc_id) AS survivor_id,
        |  coalesce(lab.survivor_id, d.doc_id) = d.doc_id AS kept
        |FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
        |ORDER BY d.doc_id""".stripMargin,

    // Brute-force within-block trigram Jaccard — no prefix filter: the
    // hash compare against the Spark side proves the filter is lossless.
    "dedup_ngram_jaccard" ->
      """WITH tris AS (
        |  SELECT doc_id, lang, source, unnest(list_distinct(list_transform(
        |    range(length(text) - 2), i -> substring(text, CAST(i + 1 AS INTEGER), 3)))) AS tri
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM tris GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i
        |  FROM tris a JOIN tris b ON a.tri = b.tri AND a.lang = b.lang
        |    AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM (
        |  SELECT id_a, id_b,
        |    CAST(n_i AS DOUBLE) / (sa.n + sb.n - n_i) AS jac
        |  FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id) t
        |WHERE jac >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    "text_stats" ->
      s"""WITH by_lang AS (
        |  SELECT lang, count(*) AS n_docs, ${oAvg("n_chars")} AS avg_chars,
        |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |  FROM documents GROUP BY lang),
        |tf AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |freqs AS (
        |  SELECT lang, term, count(*) AS freq FROM tf GROUP BY lang, term),
        |top AS (
        |  SELECT lang, term, freq, row_number()
        |    OVER (PARTITION BY lang ORDER BY freq DESC, term ASC) AS rank
        |  FROM freqs)
        |SELECT t.lang, CAST(rank AS INTEGER) AS rank, term, freq, n_docs, avg_chars, min_chars, max_chars
        |FROM top t JOIN by_lang b ON t.lang = b.lang
        |WHERE rank <= 3 ORDER BY t.lang, rank""".stripMargin,

    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) x
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.term,
        |    round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score, row_number()
        |    OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, term, score FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
        |  CAST(length(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS INTEGER) AS n_alnum_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_chunk" ->
      """WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        |st AS (
        |  SELECT doc_id, arr, unnest(range(0, len(arr), 16)) AS start FROM a),
        |keep AS (
        |  SELECT doc_id, start // 16 AS chunk_idx,
        |    list_slice(arr, CAST(start + 1 AS INTEGER), CAST(start + 32 AS INTEGER)) AS chunk
        |  FROM st WHERE start = 0 OR len(arr) - start > 16)
        |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM keep ORDER BY doc_id, chunk_idx""".stripMargin,

    "bpe_pair_counts" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |w2 AS (SELECT w FROM words WHERE length(w) >= 2),
        |pairs AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
        |  FROM w2, unnest(range(1, length(w))) AS t(i))
        |SELECT pair, count(*) AS n FROM pairs
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,

    // 12-round unroll of the training loop (bpeTrainCtes): per round,
    // rank-1 winner under the same (n DESC, pair ASC) total order over
    // the SAME (distinct word, count)-weighted statistics (weighted sums
    // equal the flat per-occurrence counts exactly), placeholder
    // replace() merge with no re-grouping (replace is injective on the
    // vocab — see the Spark-side scaladoc), and an expansion-table UNION
    // that decodes the emitted merge list — identical chr(k+1)
    // placeholder assignment.
    "bpe_train_loop" -> {
      val ds = (1 to 12).map(k => s"SELECT rank, merge, n FROM d$k")
        .mkString("\n  UNION ALL ")
      s"""WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |w0 AS MATERIALIZED (
        |  SELECT w, count(*) AS c FROM words WHERE length(w) >= 2 GROUP BY w),
        |${bpeTrainCtes(12, decode = true)}
        |SELECT rank, merge, n FROM (
        |  $ds) u
        |ORDER BY rank""".stripMargin
    },

    // 6-round train unroll (bpe_train_loop's CTEs at the shorter gate
    // round count) + the encode pass: the 6 winners applied to the
    // FULL word table as chained replace()s in rank order, per-char
    // token histogram, placeholder decode via the expansion table.
    "bpe_encode" ->
      s"""WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |$bpeWordTables,
        |${bpeTrainCtes(6, decode = true)},
        |enc AS (SELECT ${bpeEncSql(6)} AS w, c FROM wfull),
        |toks AS (
        |  SELECT substring(w, CAST(i AS INTEGER) + 1, 1) AS sym, c
        |  FROM enc, unnest(range(length(w))) AS tt(i)),
        |hist AS (SELECT sym, CAST(sum(c) AS BIGINT) AS n FROM toks GROUP BY sym)
        |SELECT coalesce(e.e, h.sym) AS token, n
        |FROM hist h LEFT JOIN e6 e ON e.sym = h.sym
        |ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    // The bpe_encode oracle's 6 training rounds + the per-language
    // fertility rollup over the encoded per-(lang, word) collapse.
    "text_tokenizer_fertility" ->
      s"""WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |$bpeWordTables,
        |${bpeTrainCtes(6, decode = false)},
        |byl AS (
        |  SELECT lang, w, count(*) AS c FROM (
        |    SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 1 GROUP BY lang, w),
        |encl AS (
        |  SELECT lang, c, length(w) AS chars, length(${bpeEncSql(6)}) AS toks
        |  FROM byl)
        |SELECT lang, CAST(sum(c) AS BIGINT) AS n_words,
        |  CAST(sum(toks * c) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(toks * c) AS DOUBLE) / sum(c), 6) AS fertility,
        |  round(CAST(sum(chars * c) AS DOUBLE) / sum(toks * c), 6)
        |    AS chars_per_token
        |FROM encl GROUP BY lang ORDER BY lang""".stripMargin,

    // The bpe_encode oracle's 6 training rounds + the per-document
    // rollup over the encoded per-(doc, word) collapse — the
    // text_tokenizer_fertility oracle re-keyed by doc.
    "bpe_tokenize_corpus" ->
      s"""WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |$bpeWordTables,
        |${bpeTrainCtes(6, decode = false)},
        |byd AS (
        |  SELECT doc_id, w, count(*) AS c FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 1 GROUP BY doc_id, w),
        |encd AS (
        |  SELECT doc_id, c, length(w) AS chars, length(${bpeEncSql(6)}) AS toks
        |  FROM byd)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |  CAST(sum(toks * c) AS BIGINT) AS n_tokens,
        |  CAST(sum(chars * c) AS BIGINT) AS n_chars
        |FROM encd GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Full replication of one BPE train iteration: rank-1 winner (same
    // n DESC, pair ASC total order), placeholder replace() merge,
    // adjacent-symbol recount on the merged segmentation.
    "bpe_merge_apply" ->
      """WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |  FROM documents),
        |w2 AS (SELECT w FROM words WHERE length(w) >= 2),
        |pairs0 AS (
        |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
        |  FROM w2, unnest(range(1, length(w))) AS t(i)),
        |top AS (
        |  SELECT pair AS merged_pair FROM pairs0
        |  GROUP BY pair ORDER BY count(*) DESC, pair ASC LIMIT 1),
        |merged AS (
        |  SELECT merged_pair, replace(w, merged_pair, chr(1)) AS r
        |  FROM w2 CROSS JOIN top),
        |m2 AS (SELECT merged_pair, r FROM merged WHERE length(r) >= 2),
        |pairs1 AS (
        |  SELECT merged_pair,
        |    (CASE WHEN substring(r, CAST(i AS INTEGER), 1) = chr(1)
        |      THEN merged_pair ELSE substring(r, CAST(i AS INTEGER), 1) END) ||
        |    (CASE WHEN substring(r, CAST(i AS INTEGER) + 1, 1) = chr(1)
        |      THEN merged_pair ELSE substring(r, CAST(i AS INTEGER) + 1, 1) END)
        |      AS pair
        |  FROM m2, unnest(range(1, length(r))) AS t(i))
        |SELECT merged_pair, pair, count(*) AS n FROM pairs1
        |GROUP BY merged_pair, pair ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,

    // Full replication of the span diagnostic: identical 8-token window
    // fingerprints (md5 over the space-joined slice), global occurrence
    // counts, per-doc rollup.
    "dedup_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t2 AS (SELECT doc_id, ws FROM toks WHERE len(ws) >= 8),
        |wins AS (
        |  SELECT doc_id, md5(array_to_string(
        |    list_slice(ws, CAST(i AS INTEGER), CAST(i AS INTEGER) + 7), ' ')) AS h
        |  FROM t2, unnest(range(1, len(ws) - 6)) AS t(i)),
        |c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt FROM wins)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Full replication of the manifest: the text_fingerprint ord-fold
    // rolling hash, both independent doc_id mixes, bit_xor digests.
    "pipeline_manifest" ->
      """WITH fp AS (
        |  SELECT source, doc_id, n_chars,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(text, ''),
        |        c -> CAST(ord(c) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1000000007) AS fp
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |  bit_xor(fp * 2654435761 + doc_id) AS content_digest,
        |  bit_xor(fp * 4294967291 + doc_id) AS content_digest_b
        |FROM fp GROUP BY source ORDER BY source""".stripMargin,

    // Full replication of the drift audit: per-source and corpus
    // unigram distributions, the same m=(p+q)/2 contribution shape
    // (1e-9-snapped, decimal-summed), the same absent-term closed form.
    "text_js_divergence" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |st AS (SELECT source, term, count(*) AS c_st FROM toks GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        |ct0 AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |ct AS (SELECT term, c_t, CAST(sum(c_t) OVER () AS BIGINT) AS n FROM ct0),
        |j AS (
        |  SELECT st.source, ns.n_s,
        |    CAST(c_st AS DOUBLE) / n_s AS p, CAST(c_t AS DOUBLE) / n AS q
        |  FROM st JOIN ns USING (source) JOIN ct USING (term)),
        |j2 AS (
        |  SELECT source, n_s,
        |    round(p * ln(p / ((p + q) / 2.0)) + q * ln(q / ((p + q) / 2.0)), 9)
        |      AS contrib,
        |    round(q, 9) AS q9
        |  FROM j)
        |SELECT source, max(n_s) AS n_tokens,
        |  round(0.5 * CAST(sum(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE)
        |    + 0.5 * ln(2.0) *
        |      (1.0 - CAST(sum(CAST(q9 AS DECIMAL(28,9))) AS DOUBLE)), 6) AS js_div
        |FROM j2 GROUP BY source ORDER BY source""".stripMargin,

    "text_unigram_logprob" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |cnt AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT sum(cnt) AS tot FROM cnt),
        |lp AS (SELECT term, round(ln(cnt / tot), 6) AS logp FROM cnt, tot)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  floor(CAST(sum(CAST(logp AS $oD)) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |    / 1000000.0 AS avg_logprob
        |FROM toks t JOIN lp USING (term)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "text_perplexity_filter" ->
      s"""WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |cnt AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT sum(cnt) AS tot FROM cnt),
        |lp AS (SELECT term, round(ln(cnt / tot), 6) AS logp FROM cnt, tot),
        |scores AS (
        |  SELECT t.doc_id, t.lang, count(*) AS n_tokens,
        |    floor(CAST(sum(CAST(logp AS $oD)) AS DOUBLE) / count(*) * 1000000 + 0.5)
        |      / 1000000.0 AS avg_logprob
        |  FROM toks t JOIN lp USING (term)
        |  GROUP BY t.doc_id, t.lang),
        |cuts AS (
        |  SELECT round(quantile_cont(avg_logprob, 0.3333333333333333), 9) AS c33,
        |    round(quantile_cont(avg_logprob, 0.6666666666666666), 9) AS c67
        |  FROM scores),
        |b AS (
        |  SELECT lang,
        |    CASE WHEN avg_logprob >= c67 THEN 'head'
        |         WHEN avg_logprob >= c33 THEN 'middle'
        |         ELSE 'tail' END AS bucket,
        |    n_tokens, avg_logprob
        |  FROM scores, cuts)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  floor(CAST(sum(CAST(avg_logprob AS $oD)) AS DOUBLE) / count(*)
        |    * 1000000 + 0.5) / 1000000.0 AS mean_logprob
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    "text_langid" ->
      """WITH tris AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |    range(length(text) - 2), i -> substring(text, CAST(i + 1 AS INTEGER), 3)))) AS tri
        |  FROM documents),
        |profile AS (
        |  SELECT lang AS p_lang, tri FROM (
        |    SELECT lang, tri, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, tri ASC) AS rk
        |    FROM tris WHERE doc_id % 5 = 0 GROUP BY lang, tri) t
        |  WHERE rk <= 20),
        |scored AS (
        |  SELECT doc_id, lang, p_lang, count(*) AS matches
        |  FROM tris JOIN profile USING (tri)
        |  GROUP BY doc_id, lang, p_lang),
        |best AS (
        |  SELECT doc_id, lang, p_lang FROM (
        |    SELECT doc_id, lang, p_lang, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY matches DESC, p_lang ASC) AS rk
        |    FROM scored) t
        |  WHERE rk = 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN p_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM best GROUP BY lang ORDER BY lang""".stripMargin,

    "pipeline_clean_corpus" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, source, trim(regexp_replace(
        |    regexp_replace(text, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM documents),
        |surv AS (
        |  SELECT doc_id, lang, source, clean FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY md5(clean)) AS keep_id FROM norm) t
        |  WHERE doc_id = keep_id),
        |tok AS (
        |  SELECT doc_id, lang, source, unnest(list_distinct(string_split(clean, ' '))) AS w
        |  FROM surv),
        |sz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_i
        |  FROM tok a JOIN tok b ON a.w = b.w AND a.lang = b.lang
        |    AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |drop_ids AS (
        |  SELECT DISTINCT id_b
        |  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |  WHERE CAST(n_i AS DOUBLE) / (sa.n_tok + sb.n_tok - n_i) >= 0.8),
        |kept AS (
        |  SELECT *, len(string_split(clean, ' ')) AS n_words,
        |    CAST(('0x' || substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM surv
        |  WHERE doc_id NOT IN (SELECT id_b FROM drop_ids)
        |    AND len(string_split(clean, ' ')) >= 5)
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |    ELSE 'test' END AS split, lang,
        |  count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_words
        |FROM kept GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "pipeline_token_histogram" ->
      """SELECT source,
        |  CAST(length(bin(n_tok)) - 1 AS BIGINT) AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents) t
        |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    "text_zipf_fit" ->
      """WITH cnt AS (
        |  SELECT term, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
        |  GROUP BY term),
        |ranked AS (
        |  SELECT round(ln(rank), 9) AS x, round(ln(freq), 9) AS y FROM (
        |    SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
        |    FROM cnt) r
        |  WHERE rank <= 500),
        |sums AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy
        |  FROM ranked),
        |fit AS (
        |  SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope, sx, sy
        |  FROM sums)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  floor(slope * 1000000 + 0.5) / 1000000.0 AS slope,
        |  floor((sy - slope * sx) / n * 1000000 + 0.5) / 1000000.0 AS intercept
        |FROM fit""".stripMargin,

    "feat_count_min_sketch" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tc AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |hashed AS (
        |  SELECT tc.source, tc.cnt, i.i,
        |    CAST(('0x' || substring(md5('graft-cms' || CAST(i.i AS VARCHAR)
        |      || ':' || tc.term), 1, 8)) AS BIGINT) % 64 AS bucket
        |  FROM tc CROSS JOIN (SELECT unnest(range(4)) AS i) i),
        |per_source AS (
        |  SELECT source, i, bucket, CAST(sum(cnt) AS BIGINT) AS cell
        |  FROM hashed GROUP BY 1, 2, 3),
        |merged AS (
        |  SELECT i, bucket, CAST(sum(cell) AS BIGINT) AS cell
        |  FROM per_source GROUP BY 1, 2),
        |exact AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS exact_cnt
        |  FROM tc GROUP BY term),
        |probes AS (
        |  SELECT term, exact_cnt FROM exact
        |  ORDER BY exact_cnt DESC, term ASC LIMIT 15),
        |est AS (
        |  SELECT p.term, p.exact_cnt, min(m.cell) AS cms_est
        |  FROM probes p
        |  CROSS JOIN (SELECT unnest(range(4)) AS i) i
        |  JOIN merged m ON m.i = i.i AND m.bucket =
        |    CAST(('0x' || substring(md5('graft-cms' || CAST(i.i AS VARCHAR)
        |      || ':' || p.term), 1, 8)) AS BIGINT) % 64
        |  GROUP BY p.term, p.exact_cnt)
        |SELECT term, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
        |FROM est ORDER BY term""".stripMargin,

    "pipeline_quality_gate" ->
      """WITH flags AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE
        |      WHEN n_chars < 100 THEN 'too_short'
        |      WHEN n_chars > 400 THEN 'too_long'
        |      WHEN n_tok < 20 THEN 'low_tok'
        |      WHEN CAST(n_stop AS DOUBLE) / n_tok < 0.05 THEN 'stopword_low'
        |      WHEN CAST(n_chars AS DOUBLE) / n_tok > 12.0 THEN 'tok_len_high'
        |      ELSE 'keep' END AS reason
        |  FROM (
        |    SELECT doc_id, source, n_chars,
        |      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |      len(list_filter(string_split(text, ' '),
        |        x -> x IN ('a', 'the', 'of', 'and', 'to'))) AS n_stop
        |    FROM documents) t)
        |SELECT source, reason, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc
        |FROM flags GROUP BY source, reason ORDER BY source, reason""".stripMargin,

    "split_train_test" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "sample_kfold" ->
      """SELECT fold, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  count(DISTINCT lang) AS n_langs,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(('0x' || substring(md5('graft-kfold:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
        |  FROM documents) t
        |GROUP BY fold ORDER BY fold""".stripMargin,

    "sample_curriculum" ->
      """WITH scored AS (
        |  SELECT doc_id, round(
        |    CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) -
        |    5.0 * len(list_filter(string_split(text, ' '),
        |      x -> x IN ('a', 'the', 'of', 'and', 'to'))) / len(string_split(text, ' ')),
        |    6) AS score
        |  FROM documents),
        |cuts AS (
        |  SELECT round(quantile_cont(score, 0.25), 9) AS c1,
        |    round(quantile_cont(score, 0.5), 9) AS c2,
        |    round(quantile_cont(score, 0.75), 9) AS c3
        |  FROM scored)
        |SELECT doc_id, score,
        |  CAST(CASE WHEN score <= c1 THEN 0 WHEN score <= c2 THEN 1
        |    WHEN score <= c3 THEN 2 ELSE 3 END AS BIGINT) AS stage,
        |  substring(md5('graft-curriculum:' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
        |FROM scored CROSS JOIN cuts
        |ORDER BY doc_id""".stripMargin,

    "pipeline_dataset_card" ->
      s"""SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  ${oAvg("n_chars")} AS mean_chars,
        |  round(CAST(sum(passes) AS DOUBLE) / count(*), 6) AS quality_pass_rate
        |FROM (
        |  SELECT source, lang, n_chars,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CASE WHEN n_chars BETWEEN 100 AND 400
        |      AND len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END AS passes
        |  FROM documents) t
        |GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "decontaminate_ngram" ->
      """WITH b AS (
        |  SELECT doc_id, lang, text,
        |    CAST(('0x' || substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |w AS (SELECT doc_id, lang, bucket, string_split(text, ' ') AS ws FROM b),
        |sh AS (
        |  SELECT doc_id, bucket, unnest(list_distinct(list_transform(
        |    range(len(ws) - 4), i -> array_to_string(ws[i + 1:i + 5], ' ')))) AS s
        |  FROM w WHERE len(ws) >= 5),
        |ev AS (SELECT DISTINCT s FROM sh WHERE bucket >= 80),
        |cont AS (
        |  SELECT DISTINCT sh.doc_id FROM sh JOIN ev ON sh.s = ev.s
        |  WHERE sh.bucket < 80)
        |SELECT lang, count(*) AS n_train, count(cont.doc_id) AS n_contaminated,
        |  count(*) - count(cont.doc_id) AS n_clean
        |FROM b LEFT JOIN cont ON b.doc_id = cont.doc_id
        |WHERE b.bucket < 80
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Brute-force truth for the fuzzy variant: ALL train×eval pairs'
    // exact distinct-shingle intersections, the integer threshold
    // 3·|A∩B| ≥ |A|+|B| (⇔ Jaccard ≥ 0.5, no float divide), then the
    // same per-lang rollup. The Spark side emits candidates ∩ truth;
    // equality = banding recall complete at 0.5 on this corpus (the
    // dedup_minhash gate's own evidence, superset pair space).
    "decontaminate_minhash" ->
      """WITH b AS (
        |  SELECT doc_id, lang, text,
        |    CAST(('0x' || substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |w AS (SELECT doc_id, bucket, string_split(text, ' ') AS ws FROM b),
        |sh AS (
        |  SELECT doc_id, bucket, list_distinct(list_transform(
        |    range(len(ws) - 4), i -> array_to_string(ws[i + 1:i + 5], ' '))) AS shs
        |  FROM w WHERE len(ws) >= 5),
        |tok AS (SELECT doc_id, bucket, unnest(shs) AS s FROM sh),
        |sz AS (SELECT doc_id, bucket, len(shs) AS n FROM sh),
        |inter AS (
        |  SELECT t.doc_id, e.doc_id AS eval_id, count(*) AS n_i
        |  FROM tok t JOIN tok e ON t.s = e.s
        |  WHERE t.bucket < 80 AND e.bucket >= 80
        |  GROUP BY 1, 2),
        |cont AS (
        |  SELECT DISTINCT inter.doc_id
        |  FROM inter
        |  JOIN sz st ON st.doc_id = inter.doc_id
        |  JOIN sz se ON se.doc_id = inter.eval_id
        |  WHERE 3 * n_i >= st.n + se.n)
        |SELECT lang, count(*) AS n_train, count(cont.doc_id) AS n_contaminated,
        |  count(*) - count(cont.doc_id) AS n_clean
        |FROM b LEFT JOIN cont ON b.doc_id = cont.doc_id
        |WHERE b.bucket < 80
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "sample_reservoir" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('graft-rsv:' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
        |  FROM documents) t
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5('graft-sample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
        |    CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS rate
        |  FROM documents) t
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,

    // The lang-sorted left-fold normalization (list_reduce over
    // list(... ORDER BY lang)) mirrors Spark's sorted collect_list +
    // aggregate fold exactly, so the double accumulation order — and
    // therefore every rate — is bit-identical across engines.
    "sample_temperature" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |st AS (SELECT lang, sum(n_tok) AS n_lang FROM toks GROUP BY lang),
        |tw AS (
        |  SELECT
        |    list_reduce(list_prepend(0.0,
        |      list(sqrt(CAST(n_lang AS DOUBLE)) ORDER BY lang)),
        |      (a, b) -> a + b) AS total_w,
        |    CAST(sum(n_lang) AS BIGINT) AS total_tok
        |  FROM st),
        |rates AS (
        |  SELECT lang,
        |    least(1.0, CAST(total_tok AS DOUBLE) * 0.3
        |      * sqrt(CAST(n_lang AS DOUBLE)) / total_w
        |      / CAST(n_lang AS DOUBLE)) AS rate
        |  FROM st, tw)
        |SELECT doc_id, t.lang, n_tok, round(rate, 6) AS rate
        |FROM toks t JOIN rates r ON t.lang = r.lang
        |WHERE CAST(CAST(('0x' || substring(md5('graft-temp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS DOUBLE) < rate * 10000.0
        |ORDER BY doc_id""".stripMargin,

    // -ln(u)/w vs Spark's -(ln(u))/w: negation is EXACT in IEEE, so
    // -(a/b) == (-a)/b bit-for-bit and the parse difference is moot.
    "sample_ppswor" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substring(md5('graft-ppswor:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang, n_tok,
        |    -ln((CAST(bucket AS DOUBLE) + 0.5) / 10000.0)
        |      / CAST(n_tok AS DOUBLE) AS wkey
        |  FROM t),
        |sel AS (SELECT * FROM k ORDER BY wkey, doc_id LIMIT 100)
        |SELECT doc_id, lang, n_tok, round(wkey, 6) AS wkey
        |FROM sel ORDER BY doc_id""".stripMargin,

    "text_dedup_lines" ->
      """WITH base AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents),
        |lns AS (
        |  SELECT doc_id, lang,
        |    list_transform(range(CAST(ceil(len(arr) / 8.0) AS INTEGER)),
        |      i -> array_to_string(arr[i*8+1 : i*8+8], ' '))
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ['click here to subscribe to our newsletter today']
        |         ELSE [] END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ['all rights reserved copyright and terms of use']
        |         ELSE [] END AS lines
        |  FROM base),
        |ex AS (
        |  SELECT doc_id, unnest(range(len(lines))) AS pos,
        |    unnest(lines) AS line
        |  FROM lns),
        |boiler AS (
        |  SELECT line FROM ex GROUP BY line
        |  HAVING count(DISTINCT doc_id) >= 10),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(line, ' ' ORDER BY pos)) AS clean_md5
        |  FROM ex WHERE line NOT IN (SELECT line FROM boiler)
        |  GROUP BY doc_id)
        |SELECT l.doc_id, lang, CAST(len(lines) AS INTEGER) AS n_lines,
        |  coalesce(n_kept, 0) AS n_kept,
        |  coalesce(clean_md5, md5('')) AS clean_md5
        |FROM lns l LEFT JOIN kept k ON l.doc_id = k.doc_id
        |ORDER BY l.doc_id""".stripMargin,

    "pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, doc_id // 1000 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |offs AS (
        |  SELECT lang, shard, n_tok, coalesce(sum(n_tok) OVER (
        |    PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM toks)
        |SELECT lang, shard, CAST(start_off AS BIGINT) // 2048 AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM offs GROUP BY lang, shard, bin
        |ORDER BY lang, shard, bin""".stripMargin,

    // The two-level Spark shape (Tables.sumBefore) equals one flat
    // global window because the bucket is a prefix of the md5 order
    // key — so the oracle can use the simple form.
    "shuffle_global" ->
      """SELECT CAST(row_number() OVER (
        |    ORDER BY md5('graft-shuffle:' || CAST(doc_id AS VARCHAR)), doc_id)
        |  - 1 AS BIGINT) AS pos, doc_id
        |FROM documents ORDER BY pos""".stripMargin,

    "sample_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5('graft-mix:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok, coalesce(sum(n_tok) OVER (
        |    PARTITION BY lang ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS consumed_before
        |  FROM t)
        |SELECT doc_id, lang, n_tok, CAST(consumed_before AS BIGINT) AS consumed_before
        |FROM c WHERE consumed_before < 2000 ORDER BY doc_id""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  CAST(length(clean) AS INTEGER) AS n_clean_chars,
        |  md5(clean) AS clean_md5
        |FROM (
        |  SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(text, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      """WITH arrs AS (
        |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
        |uni AS (
        |  SELECT doc_id, max(c) AS top_uni, CAST(sum(c) AS BIGINT) AS n_tok,
        |    count(*) AS n_distinct
        |  FROM (SELECT doc_id, w, count(*) AS c
        |        FROM (SELECT doc_id, unnest(arr) AS w FROM arrs) t
        |        GROUP BY doc_id, w) u
        |  GROUP BY doc_id),
        |bi AS (
        |  SELECT doc_id, max(c) AS top_bi, CAST(sum(c) AS BIGINT) AS n_bi
        |  FROM (SELECT doc_id, b, count(*) AS c
        |        FROM (SELECT doc_id, unnest(list_transform(
        |            list_zip(arr[1:len(arr)-1], arr[2:]),
        |            p -> p[1] || ' ' || p[2])) AS b
        |          FROM arrs) t
        |        GROUP BY doc_id, b) u
        |  GROUP BY doc_id)
        |SELECT uni.doc_id,
        |  round(CAST(top_uni AS DOUBLE) / n_tok, 6) AS top_unigram_ratio,
        |  round(CAST(n_distinct AS DOUBLE) / n_tok, 6) AS distinct_ratio,
        |  round(CAST(top_bi AS DOUBLE) / n_bi, 6) AS top_bigram_ratio
        |FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
        |ORDER BY uni.doc_id""".stripMargin,

    "text_pii_redact" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 20 = 0
        |      THEN text || ' contact user' || doc_id ||
        |           '@example.com or call 555-0142-' || doc_id
        |      ELSE text END AS text2
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text2, '555-[0-9]{4}-[0-9]+')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}-[0-9]+', '<PHONE>', 'g')) AS clean_md5
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(text, ''), c -> CAST(ord(c) AS BIGINT))),
        |  (a, x) -> (a * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_rake_keyphrases" ->
      """WITH w0 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(list_transform(range(len(ws)),
        |    i -> {'pos': i, 'w': ws[CAST(i + 1 AS INTEGER)]})) AS u
        |  FROM w0),
        |flat AS (
        |  SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.w AS w FROM words
        |  WHERE u.w NOT IN ('a', 'the', 'of', 'and', 'to')
        |    AND length(u.w) > 0),
        |isl AS (
        |  SELECT *, pos - row_number()
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM flat),
        |runs AS (
        |  SELECT *, count(*) OVER (PARTITION BY doc_id, grp) AS plen
        |  FROM isl),
        |r4 AS (SELECT * FROM runs WHERE plen <= 4),
        |wstats AS (
        |  SELECT w, CAST(round(CAST(sum(plen) AS DOUBLE) / count(*), 9)
        |    AS DECIMAL(28,9)) AS score9
        |  FROM r4 GROUP BY w),
        |ph AS (
        |  SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
        |    CAST(max(plen) AS BIGINT) AS n_words, sum(score9) AS sc9
        |  FROM r4 JOIN wstats USING (w) GROUP BY doc_id, grp)
        |SELECT doc_id, phrase, n_words, CAST(sc9 AS DOUBLE) AS score
        |FROM ph ORDER BY sc9 DESC, phrase, doc_id, grp LIMIT 20""".stripMargin,

    // Full replication: polynomial k-gram hashes (the text_fingerprint
    // fold per position), window minima, distinct selection, df band,
    // pair rollup. DuckDB range() is end-EXCLUSIVE where Spark
    // sequence() is inclusive; list_slice is end-INCLUSIVE where Spark
    // slice takes a length — bounds adjusted accordingly.
    "text_winnowing" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 27),
        |hs AS (
        |  SELECT doc_id, list_transform(range(1, length(text) - 18),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(i, i + 20),
        |        j -> CAST(ord(text[CAST(j AS INTEGER)]) AS BIGINT))),
        |      (a, x) -> (a * 31 + x) % 1000000007)) AS hs
        |  FROM d),
        |f AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(hs) - 6),
        |      j -> list_min(list_slice(hs, CAST(j AS INTEGER),
        |        CAST(j + 7 AS INTEGER)))))) AS fp
        |  FROM hs),
        |dft AS (SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 10)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM f a JOIN dft USING (fp) JOIN f b
        |  ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "text_quality" ->
      """SELECT doc_id, n_tok,
        |  round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stopword_ratio,
        |  round(CAST(n_chars AS DOUBLE) / n_tok, 6) AS mean_tok_len,
        |  (n_chars BETWEEN 100 AND 400) AND n_tok >= 20 AS passes_filter
        |FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |      x -> x IN ('a', 'the', 'of', 'and', 'to'))) AS n_stop
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,

    "text_source_overlap" ->
      """WITH docs AS (
        |  SELECT source, string_split(text, ' ') AS arr FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |    unnest(list_transform(range(greatest(len(arr) - 4, 0)),
        |      i -> array_to_string(arr[i+1:i+5], ' '))) AS sh
        |  FROM docs),
        |sz AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / (za.sz + zb.sz - n_shared), 6)
        |    AS jaccard
        |FROM inter
        |JOIN sz za ON za.source = inter.s1
        |JOIN sz zb ON zb.source = inter.s2
        |ORDER BY s1, s2""".stripMargin,

    "sample_stratified_k" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('graft-ksample:' || CAST(doc_id AS VARCHAR)),
        |      doc_id) AS INTEGER) AS rn
        |  FROM documents) t
        |WHERE rn <= 30 ORDER BY lang, rn""".stripMargin,

    "text_token_entropy" ->
      """WITH docs AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS arr
        |  FROM documents),
        |tc AS (
        |  SELECT doc_id, source, CAST(len(arr) AS DOUBLE) AS n,
        |    unnest(arr) AS term
        |  FROM docs),
        |g AS (
        |  SELECT doc_id, source, n, term, count(*) AS c
        |  FROM tc GROUP BY 1, 2, 3, 4),
        |e AS (
        |  SELECT doc_id, source,
        |    -CAST(sum(CAST(round(c / n * ln(c / n), 6) AS DECIMAL(28,6)))
        |      AS DOUBLE) AS ent
        |  FROM g GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  floor(CAST(sum(CAST(ent AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*) * 1000000 + 0.5) / 1000000.0 AS avg_entropy,
        |  CAST(sum(CASE WHEN ent < 2.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_entropy
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    "text_lexical_diversity" ->
      """WITH base AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents),
        |tt AS (
        |  SELECT lang, floor(CAST(len(list_distinct(arr)) AS DOUBLE)
        |    / len(arr) * 1000000 + 0.5) / 1000000.0 AS ttr
        |  FROM base),
        |tl AS (
        |  SELECT lang, count(*) AS n_docs,
        |    floor(CAST(sum(CAST(ttr AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(*) * 1000000 + 0.5) / 1000000.0 AS avg_ttr
        |  FROM tt GROUP BY lang),
        |tr AS (
        |  SELECT lang, unnest(list_transform(range(greatest(len(arr) - 2, 0)),
        |    i -> array_to_string(arr[i+1:i+3], ' '))) AS tri
        |  FROM base),
        |tf AS (SELECT lang, tri, count(*) AS freq FROM tr GROUP BY lang, tri),
        |hp AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS tri_vocab,
        |    CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tri_hapax
        |  FROM tf GROUP BY lang)
        |SELECT lang, n_docs, avg_ttr, tri_vocab, tri_hapax,
        |  floor(CAST(tri_hapax AS DOUBLE) / tri_vocab * 1000000 + 0.5)
        |    / 1000000.0 AS hapax_share
        |FROM tl JOIN hp USING (lang) ORDER BY lang""".stripMargin,

    "text_chao1_vocab" ->
      """WITH base AS (
        |  SELECT lang, string_split(text, ' ') AS arr FROM documents),
        |tr AS (
        |  SELECT lang, unnest(list_transform(range(greatest(len(arr) - 2, 0)),
        |    i -> array_to_string(arr[i+1:i+3], ' '))) AS tri
        |  FROM base),
        |tf AS (SELECT lang, tri, count(*) AS freq FROM tr GROUP BY lang, tri),
        |cc AS (
        |  SELECT lang, CAST(sum(freq) AS BIGINT) AS n_instances,
        |    CAST(count(*) AS BIGINT) AS tri_vocab,
        |    CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tf GROUP BY lang)
        |SELECT lang, n_instances, tri_vocab, f1, f2,
        |  floor((tri_vocab + CAST(f1 * (f1 - 1) AS DOUBLE)
        |      / (2 * (f2 + 1))) * 1000000 + 0.5) / 1000000.0 AS chao1_est,
        |  floor((1.0 - CAST(f1 AS DOUBLE) / n_instances) * 1000000 + 0.5)
        |    / 1000000.0 AS coverage
        |FROM cc ORDER BY lang""".stripMargin,

    "text_bm25_score" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS arr,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS sumdl FROM docs),
        |tf AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT doc_id, dl, unnest(arr) AS w FROM docs)
        |  WHERE w IN ('dup', 'vector', 'scan')
        |  GROUP BY doc_id, dl, w),
        |dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |sc AS (
        |  SELECT doc_id, dl,
        |    round(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |        * 1e9 + 0.5) / 1e9
        |      * f * 2.2
        |      / (f + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |        / (CAST(sumdl AS DOUBLE) / n_docs))), 6) AS ts
        |  FROM tf JOIN dft USING (w) CROSS JOIN g)
        |SELECT doc_id, CAST(max(dl) AS BIGINT) AS doc_len,
        |  CAST(sum(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
  )
}

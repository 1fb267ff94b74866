package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cache-hygiene gate (VERDICT r10 item 2): an operator library must
  * not leak the cache across a long-lived session. Two layers can leak:
  *
  *  - SQL CacheManager entries from `df.persist()` — released by
  *    `spark.catalog.clearCache()`;
  *  - RDD-level blocks from `localCheckpoint` (the fixpoint loops'
  *    per-round state, eager or `.persist()`ed) — INVISIBLE to the
  *    catalog call; only `sparkContext.getPersistentRDDs` sees them.
  *
  * The contract under test: after `CacheDrain.drain` (what Bench,
  * Verify, and Prof run between queries), BOTH layers are empty — so a
  * full Bench pass holds at most one query's scratch blocks at a time
  * (bounded), never an accumulating pool. The query set below is the
  * persist-heavy tier: every fixpoint loop (checkpoint residue), the
  * documented lazy-return cachers (tfidf, minhash, clusters), and the
  * BPE loops the r10 ADVICE flagged for a leaked `prevWords`.
  *
  * A second assert pins the WITHIN-query discipline: loop operators
  * unpersist every superseded round, so even BEFORE the drain the live
  * block-set stays small, not O(rounds). The asserted bound is 16 RDDs:
  * the structural budget is ~8 (final state + the static tables the
  * emission still references), doubled because unpersist(blocking =
  * false) lets a few just-released stragglers linger in
  * getPersistentRDDs for a beat — the gate bounds the pool, it does
  * not time the async eviction.
  */
class CacheHygieneSpec extends AnyFunSuite with GraftSuite {
  private val sf = "/root/testdata/sf0.001"

  private val heavyCachers = Seq(
    "graph_pagerank_converged", "graph_hits_converged",
    "sim_kmeans_converged", "feat_pca_power_converged",
    "bpe_train_loop", "bpe_encode",
    "dedup_clusters", "pipeline_dedup_corpus", "pipeline_mm_dedup",
    "graph_connected_components", "dedup_minhash", "text_tfidf",
    "graph_label_prop", "graph_k_core",
    "graph_louvain_converged", "sim_pq_train_converged", "sim_pq_adc")

  test("drain leaves zero persisted blocks after every persist-heavy query") {
    for (name <- heavyCachers) {
      SparkEntry.queries(name)(spark, sf).count()
      // Within-query discipline: superseded rounds were unpersisted as
      // the loop ran; only the final state + emission-referenced
      // statics may remain (plus async-unpersist stragglers).
      // DataFrame.unpersist is non-blocking: frames a loop released in
      // its last rounds may still be REGISTERED here. The bound only
      // needs to separate "final state + statics (+ async-release
      // stragglers)" from O(rounds) stacking (a stacking loop would
      // show 30+).
      val live = spark.sparkContext.getPersistentRDDs.size
      assert(live <= 16,
        s"$name left $live persisted RDDs before the drain — a loop is " +
          "stacking per-round state instead of unpersisting it")
      CacheDrain.drain(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name: blocks survive CacheDrain.drain — the Bench/Verify " +
          "per-query drain would accumulate them across a full pass")
    }
  }

  test("artifact scratch parquet stays bounded across repeated consumption") {
    // VERDICT r12 item 3: the block-manager drain above says nothing
    // about the DISK layer — ArtifactMemo.cachedTable and the Louvain
    // label tables write app-scoped Tables.scratch parquet dirs. The
    // single-flight memo must mint each artifact's dir ONCE:
    // re-running every artifact consumer may not grow the scratch-dir
    // count (a regression to per-invocation writes would double it
    // here). The count is restricted to THIS test's expected artifact
    // tags, computed from the same key formulas the production code
    // uses, so dirs other suites mint do not enter it.
    val liKey = Tables.artifactKey(sf, "lineitem")
    val tags = Seq(
      "art" + Tables.md5hex(liKey + "#pagerank").take(12),
      "art" + Tables.md5hex(liKey + "#hits").take(12),
      "artlouv10" + Tables.md5hex(liKey + "#p10").take(12),
      "artlouv" + Tables.md5hex(liKey).take(12))
    // Tag-prefix match, no appId suffix: the md5-of-key tag is unique
    // to these artifacts, so the stability assertion below is exact
    // whichever application minted a dir.
    def artDirs: Int =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty)
        .count(f => tags.exists(t => f.getName.startsWith(s"graft_${t}_")))
    val consumers = Seq("graph_pagerank_converged", "graph_hits_converged",
      "graph_louvain_converged", "graph_community_conductance",
      "feat_pca_project", "graph_louvain_full")
    consumers.foreach(n => { SparkEntry.queries(n)(spark, sf).count(): Unit
      CacheDrain.drain(spark) })
    val after1 = artDirs
    assert(after1 > 0, "expected at least one scratch artifact dir")
    consumers.foreach(n => { SparkEntry.queries(n)(spark, sf).count(): Unit
      CacheDrain.drain(spark) })
    assert(artDirs === after1,
      s"re-consumption minted new scratch dirs ($after1 -> $artDirs) — " +
        "the single-flight memo is not being hit")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Unpersist

/** Per-query scratch-cache drain (VERDICT r10 item 2).
  *
  * Many operators persist() intermediates that the LAZY DataFrame they
  * return still references (self-join sides, LSH band tables) — those
  * queries cannot unpersist at emission without forfeiting the cache,
  * so the library contract is: the CALLER drains after materializing a
  * query's result. `spark.catalog.clearCache()` alone is NOT a full
  * drain: the iterative fixpoint operators stage per-round state via
  * `localCheckpoint(eager = false).persist()`, and a localCheckpoint's
  * blocks live at the RDD level outside the SQL CacheManager — the
  * catalog call never sees them. A long-lived session running the full
  * 304-query map would accumulate one orphaned checkpoint block-set per
  * fixpoint query (loops unpersist every PRIOR round, but the FINAL
  * round's state backs the emitted DataFrame and must survive until the
  * caller's action). Draining both layers is what keeps
  * `sparkContext.getPersistentRDDs` bounded across a full Bench pass —
  * CacheHygieneSpec asserts exactly that.
  */
object CacheDrain {
  /** Release every cached Dataset AND every RDD-level persisted block
    * (localCheckpoint residue). Non-blocking: eviction proceeds async.
    *
    * CONTRACT — session-exclusive drain point: localCheckpoint TRUNCATES
    * lineage and writes no files, so its persisted blocks are the ONLY
    * copy of that data — dropping them is unrecoverable, not a cache
    * miss. drain() therefore requires that no still-referenced lazy
    * plan (a held query result, or a concurrent query sharing this
    * SparkSession) will be re-executed after the call: the caller must
    * have fully materialized everything it intends to read. Bench/
    * Verify/Prof satisfy this by draining only BETWEEN queries, after
    * the count()/write that consumed the emission; the round-11
    * Bench-concurrent-with-Verify stress stays safe because the two
    * drivers run in SEPARATE JVMs with separate SparkContexts — two
    * queries sharing ONE session across a drain() would not be.
    * (plain .persist() state, by contrast, is rebuildable from lineage;
    * only the checkpoint layer carries this sharp edge.)
    */
  def drain(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(Unpersist(_))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates for the once-per-dataset trained-artifact machinery
  * (ArtifactMemo + Tables.artifactKey) that the whole convergence
  * family now rides (r11 PQ finding lineage: a memo without content
  * keying silently re-seeds from stale artifacts).
  */
class ArtifactMemoSpec extends AnyFunSuite with GraftSuite {
  test("cached() trains exactly once per key and re-emits identical rows") {
    var trains = 0
    val key = s"spec#${System.nanoTime()}"
    def train = { trains += 1; spark.range(5).toDF("x") }
    val a = ArtifactMemo.cached(spark, key)(train).collect()
    val b = ArtifactMemo.cached(spark, key)(train).collect()
    assert(trains === 1, "second invocation must re-emit, not retrain")
    assert(a.map(_.getLong(0)).toSeq === b.map(_.getLong(0)).toSeq)
  }

  test("artifactKey changes when the backing parquet is regenerated in-place") {
    val dir = tempDir("graft_memo_spec")
      .toFile.getAbsolutePath
    spark.range(3).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val k1 = Tables.artifactKey(dir, "t")
    // In-place regeneration (the r11 ADVICE scenario: refreshed
    // fixtures under the SAME path). Spark part-file names carry a
    // fresh UUID per write, so the content fingerprint must move even
    // if sizes coincided.
    spark.range(4).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val k2 = Tables.artifactKey(dir, "t")
    assert(k1 !== k2, "regenerated parquet must miss the memo (retrain)")
  }

  test("the structural-bound require trips loudly on oversized emissions") {
    val e = intercept[IllegalArgumentException] {
      ArtifactMemo.cached(spark, s"spec-big#${System.nanoTime()}")(
        spark.range(10001).toDF("x"))
    }
    assert(e.getMessage.contains("structurally-bounded"))
  }

  test("training is single-flight: concurrent same-key callers train once") {
    // ADVICE r12 (medium): getOrElseUpdate could evaluate the by-name
    // train block in several threads, each racing a mode(overwrite)
    // write to the same scratch path. The Holder/lazy-val design must
    // run the block exactly once with losers blocking on the winner.
    val trains = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"specflight#${System.nanoTime()}#sf"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            ArtifactMemo.cachedTable(spark, key) {
              trains.incrementAndGet()
              Thread.sleep(200) // widen the race window
              spark.range(50).toDF("x")
            }.count()
        })
      }
      futs.foreach(f => assert(f.get() === 50L))
      assert(trains.get() === 1,
        s"train block ran ${trains.get()} times under 8-way contention")
    } finally pool.shutdown()
  }

  private def storeDir(key: String) = new java.io.File(
    s"${System.getProperty("java.io.tmpdir")}/graft_artstore/" +
      s"art${Tables.md5hex(key)}")

  test("a superseded fingerprint is evicted with a DEFERRED delete; " +
      "re-registering it consumes the still-published artifact") {
    // ADVICE r13 (low): the r13 eager delete could (a) yank a dir out
    // from under a consumer's lazily-built reader and (b) thrash
    // retrain+delete under alternating keys. Round 14: eviction only
    // SCHEDULES the delete for JVM exit, and a re-registered key finds
    // its published artifact still on disk and consumes it — zero
    // retrains in the alternating pattern.
    val tag = System.nanoTime()
    val k1 = s"/specds$tag#fp1#gc"
    val k2 = s"/specds$tag#fp2#gc"
    var trains = 0
    def train = { trains += 1; spark.range(10).toDF("x") }
    ArtifactMemo.cachedTable(spark, k1)(train).count()
    assert(storeDir(k1).isDirectory, "first artifact dir must exist")
    ArtifactMemo.cachedTable(spark, k2)(train).count()
    assert(storeDir(k1).isDirectory,
      "superseded dir must SURVIVE until JVM exit (deferred delete)")
    assert(storeDir(k2).isDirectory, "successor artifact dir must exist")
    assert(trains === 2)
    // Alternating back: the evicted key's entry is gone from the memo,
    // but its published artifact is not — the fresh holder consumes it.
    val n = ArtifactMemo.cachedTable(spark, k1)(train).count()
    assert(n === 10L)
    assert(trains === 2, "re-registered evicted key must consume, not retrain")
  }

  test("cross-JVM consume: a fresh memo (JVM-2 stand-in) reads JVM-1's " +
      "published artifact without training") {
    // VERDICT r13 item 6: store paths are content-addressed with NO
    // applicationId, so a second driver finds the first's publish.
    // Simulated in one JVM by dropping all in-memory memo state.
    val key = s"spec-xjvm#${System.nanoTime()}"
    ArtifactMemo.cachedTable(spark, key)(spark.range(77).toDF("x")).count()
    ArtifactMemo.resetForTest()
    val n = ArtifactMemo.cachedTable(spark, key) {
      fail("JVM-2 must consume the published artifact, not retrain")
    }.count()
    assert(n === 77L)
    // Same for the driver-held form…
    val key2 = s"spec-xjvm2#${System.nanoTime()}"
    ArtifactMemo.cached(spark, key2)(spark.range(9).toDF("x")).count()
    ArtifactMemo.resetForTest()
    val m = ArtifactMemo.cached(spark, key2) {
      fail("cached() must consume the published artifact, not retrain")
    }.count()
    assert(m === 9L)
    // …and the typed form (the PQ codebook's shape).
    val key3 = s"spec-xjvm3#${System.nanoTime()}"
    val sp = spark
    import sp.implicits._
    def codec(v: Seq[(Int, String)]) = v.toDF("a", "b")
    val v1 = ArtifactMemo.cachedValue(spark, key3)(
      Seq((1, "x"), (2, "y")))(codec)(df =>
      df.collect().toSeq.map(r => (r.getInt(0), r.getString(1))).sorted)
    ArtifactMemo.resetForTest()
    val v2 = ArtifactMemo.cachedValue[Seq[(Int, String)]](spark, key3)(
      fail("cachedValue must consume the published artifact"))(codec)(df =>
      df.collect().toSeq.map(r => (r.getInt(0), r.getString(1))).sorted)
    assert(v1 === v2 && v2 === Seq((1, "x"), (2, "y")))
  }

  test("a THROWING training run does not poison the key: later calls retry") {
    // VERDICT r13 item 8 contract sentence, gated: the lazy-val holder
    // stays uninitialized when the thunk throws, so a later invocation
    // re-runs the training instead of replaying the exception forever.
    val key = s"spec-retry#${System.nanoTime()}"
    var attempts = 0
    def flaky = {
      attempts += 1
      if (attempts == 1) sys.error("transient trainer failure")
      spark.range(5).toDF("x")
    }
    val e = intercept[RuntimeException](
      ArtifactMemo.cachedTable(spark, key)(flaky).count())
    assert(e.getMessage.contains("transient"))
    val n = ArtifactMemo.cachedTable(spark, key)(flaky).count()
    assert(n === 5L && attempts === 2,
      "second call must retry the training after a throwing first run")
  }

  test("cachedTable persists once and re-reads the parquet artifact") {
    var trains = 0
    val key = s"spec-table#${System.nanoTime()}"
    def train = { trains += 1; spark.range(100).toDF("x") }
    val a = ArtifactMemo.cachedTable(spark, key)(train)
      .agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0)
    val b = ArtifactMemo.cachedTable(spark, key)(train)
      .agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0)
    assert(trains === 1, "second consumption must re-read, not retrain")
    assert(a === b && a === 4950L)
  }
}

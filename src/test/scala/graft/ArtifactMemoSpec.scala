package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the once-per-dataset trained-artifact machinery
  * (ArtifactMemo + Tables.artifactKey) that the whole convergence
  * family now rides (r11 PQ finding lineage: a memo without content
  * keying silently re-seeds from stale artifacts).
  */
class ArtifactMemoSpec extends AnyFunSuite with GraftSuite {
  /** A trainer's result as the driver-held form takes it. */
  private def table(df: DataFrame) = (df.schema, ArtifactMemo.collectBounded(df, "spec").toSeq)

  test("cached() trains exactly once per key and re-emits identical rows") {
    var trains = 0
    val key = s"spec#${System.nanoTime()}"
    def train = { trains += 1; table(spark.range(5).toDF("x")) }
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
    // Every training round of a driver-held artifact is read through
    // collectBounded, so the bound holds on each round's table, not
    // only on the emission; 10,000 rows still pass.
    assert(ArtifactMemo.collectBounded(spark.range(10000).toDF("x"), "spec").length === 10000)
    val e = intercept[IllegalArgumentException] {
      ArtifactMemo.collectBounded(spark.range(10001).toDF("x"), "spec-big")
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

  test("after resetForTest the next once, cached and cachedTable call " +
      "each trains again") {
    // JobBudgetSpec, PipelineSpec and ShuffleSpec reset the memo to
    // measure or check a training run rather than a re-read.
    val tag = System.nanoTime()
    val trains = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    def train(form: String): Int = { trains(form) += 1; trains(form) }
    def callAll(): (Int, Long, Long) = (
      ArtifactMemo.once(s"spec-reset-once#$tag")(train("once")),
      ArtifactMemo.cached(spark, s"spec-reset-cached#$tag")(
        table(spark.range(10L + train("cached")).toDF("x"))).count(),
      ArtifactMemo.cachedTable(spark, s"spec-reset-table#$tag")(
        spark.range(70L + train("table")).toDF("x")).count())
    assert(callAll() === ((1, 11L, 71L)))
    assert(callAll() === ((1, 11L, 71L)), "repeats must re-emit, not retrain")
    ArtifactMemo.resetForTest()
    assert(callAll() === ((2, 12L, 72L)),
      "each form must train again after the reset, and emit the new run")
    assert(trains.toMap === Map("once" -> 2, "cached" -> 2, "table" -> 2))
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

  test("written() writes each scratch dir once, retries a throwing " +
      "write, and keeps tags apart") {
    // The write-once path of every Relational layout and FsQueries
    // fixture: eight concurrent callers of one tag run `write` once and
    // get the same path; a `write` that throws leaves the dir unwritten
    // for the next call; a second tag is written on its own.
    val d = s"spec-written#${System.nanoTime()}"
    val writes = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def write(p: String): Unit = {
      writes.merge(p, 1, _ + _)
      Thread.sleep(200) // widen the race window
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val paths = try {
      (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = ArtifactMemo.written(spark, "spec_a", d)(write)
        })
      }.map(_.get())
    } finally pool.shutdown()
    val pathA = Tables.scratch(spark, "spec_a", d)
    assert(paths.toSet === Set(pathA))
    assert(writes.get(pathA) === 1,
      s"write ran ${writes.get(pathA)} times under 8-way contention")
    var attempts = 0
    def flaky(p: String): Unit = {
      attempts += 1
      if (attempts == 1) sys.error("transient write failure")
      write(p)
    }
    val e = intercept[RuntimeException](
      ArtifactMemo.written(spark, "spec_b", d)(flaky))
    assert(e.getMessage.contains("transient"))
    val pathB = ArtifactMemo.written(spark, "spec_b", d)(flaky)
    assert(pathB === Tables.scratch(spark, "spec_b", d))
    assert(pathB !== pathA)
    assert(attempts === 2 && writes.get(pathB) === 1,
      "the call after a throwing write must write again")
    assert(ArtifactMemo.written(spark, "spec_b", d)(flaky) === pathB)
    assert(attempts === 2, "a written dir is not written again")
    assert(writes.get(pathA) === 1, "tag spec_b must not rewrite spec_a")
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

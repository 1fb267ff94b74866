package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Once-per-dataset memo for trained artifacts (converged PageRank/HITS
  * scores, k-means centroids, the PCA basis, the PQ codebook, the BPE
  * merge list and the Louvain partitions) and for the write-once
  * scratch dirs (Relational's layouts, FsQueries' fixtures). Each is a
  * deterministic pure function of the parquet under its dataset dir,
  * so within a JVM the first call trains or writes and later calls
  * re-emit the artifact or return the dir.
  *
  * Contract:
  *  - Training is single-flight: one holder per key wins `putIfAbsent`,
  *    its `lazy val` runs the training block at most once, and
  *    concurrent callers of the same key block on the winner.
  *  - A throwing training run is retried by the next call: the lazy val
  *    stays uninitialized, so the failure reaches every caller of that
  *    attempt and does not poison the key.
  *  - The driver-held form ([[cached]]) holds a trained table's
  *    collected rows, never a plan to re-run: its trainer reads every
  *    round through [[collectBounded]], whose `require` keeps the
  *    driver to structurally small tables; node-sized emissions use
  *    [[cachedTable]].
  *  - Keys are content-addressed: callers build them with
  *    `Tables.artifactKey`, which fingerprints the backing parquet, so a
  *    dataset regenerated in place is a new key and retrains.
  *  - Nothing outlives the JVM: [[cachedTable]]'s parquet and every
  *    [[written]] dir live in application-scoped `Tables.scratch` dirs,
  *    deleted at exit, and no process reads what another one trained
  *    or wrote. So "written before" is asked of this memo, never of the
  *    file system: a write that throws half way leaves its key empty,
  *    and the next call writes the dir again from the start.
  */
object ArtifactMemo {
  /** Single-flight lazy holder: the `lazy val` runs the thunk at most
    * once; a throwing run leaves it uninitialized for the next caller.
    */
  private final class Holder[T](thunk: () => T) {
    lazy val value: T = thunk()
  }

  private val entries =
    scala.collection.concurrent.TrieMap.empty[String, Holder[_]]

  /** Generic single-flight keyed memo. */
  def once[T](key: String)(train: => T): T = {
    val holder = new Holder[T](() => train)
    entries.putIfAbsent(key, holder).getOrElse(holder)
      .asInstanceOf[Holder[T]].value
  }

  /** Driver-held form, for trained tables whose size the algorithm
    * bounds (≤k×dim centroids, a codebook, a basis), never the corpus:
    * the first call runs `train`, which returns the table's schema and
    * its rows, read with [[collectBounded]]; every call re-emits the
    * held rows as a local DataFrame of the caller's session. It is
    * [[once]] plus that emission, so a consumer that needs the rows
    * themselves reads them with `once` under the same key.
    */
  def cached(s: SparkSession, key: String)
      (train: => (StructType, Seq[Row])): DataFrame = {
    val (schema, rows) = once(key)(train)
    s.createDataFrame(rows.asJava, schema)
  }

  /** The driver bound of every small-state training round: collect a
    * table whose size the algorithm bounds, reading at most 10,001 rows
    * and refusing more than 10,000, so a corpus-proportional misuse
    * fails loudly here instead of in driver memory.
    */
  def collectBounded(df: DataFrame, what: String): Array[Row] = {
    val rows = df.limit(10001).collect()
    require(rows.length <= 10000,
      s"$what: more than 10000 rows — the driver holds only " +
        "structurally-bounded trained tables; corpus-proportional " +
        "(node-sized) emissions must use cachedTable, which persists " +
        "a parquet artifact instead")
    rows
  }

  /** Parquet-backed form for node-sized artifacts (converged score
    * vectors, one row per graph node): the first call writes the
    * emission once into an application-scoped scratch dir, and every
    * call re-reads that parquet, so driver memory never holds the rows.
    */
  def cachedTable(s: SparkSession, key: String)
      (train: => DataFrame): DataFrame = {
    val path = once(key) {
      val p = Tables.scratch(s, "art" + Tables.md5hex(key).take(12), key)
      train.write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Write-once scratch dir: [[once]] keyed by the path
    * `Tables.scratch(s, tag, d)` returns. The first call runs
    * `write(path)`; every call returns the path. Concurrent callers of
    * one path wait for its writer, distinct paths never wait on each
    * other, and a `write` that throws is run again by the next call, so
    * `write` must start from whatever a failed attempt left there
    * (Spark's `mode("overwrite")`, or a delete first).
    */
  def written(s: SparkSession, tag: String, d: String)
      (write: String => Unit): String = {
    val path = Tables.scratch(s, tag, d)
    once(path) { write(path); path }
  }

  /** Test hook: forget every trained artifact and written dir, so the
    * next call of each key trains or writes again.
    */
  private[graft] def resetForTest(): Unit = entries.clear()
}

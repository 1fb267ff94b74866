package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + shared determinism helpers.
  *
  * Contract (SURVEY.md §7.8): every query reads only
  * `s"$sfDir/<table>.parquet"` — the driver points the same closures at
  * sf0.01 (correctness) and sf0.1 (bench).
  */
object Tables {
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scratch dir for queries that write before they read (sink
    * roundtrips, compaction). Keyed by the data dir AND the Spark
    * applicationId: the driver runs Verify and Bench concurrently on the
    * same tier, and two sessions sharing a hashCode-only path race on
    * overwrite (wrong file counts, torn reads). App-unique paths never
    * get reused across JVMs, so each is registered for recursive delete
    * at JVM exit — otherwise every run leaks its table copies into /tmp.
    */
  def scratch(s: SparkSession, tag: String, d: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${d.hashCode.toHexString}_${s.sparkContext.applicationId}"
    registerCleanup(p)
    p
  }

  private val cleanupRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanup(path: String): Unit =
    if (cleanupRegistered.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped under two physical types across testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 rejects outright
    * (PARQUET_TYPE_ILLEGAL) unless read as raw int64 nanos, which
    * GraftSession's `nanosAsLong` does — and, since
    * the 2026-08-13 regeneration, plain timestamp[us] (surfacing as
    * TIMESTAMP_NTZ). Every downstream query was written against the
    * int64-nanos shape, so normalize HERE to `ts` = epoch nanos long
    * regardless of what's on disk: exact in both directions (µs→ns is a
    * lossless ×1000), and integer ns→µs/ms derivations then match
    * DuckDB's epoch_us/epoch_ms bit-for-bit (SURVEY.md §7.4) — DuckDB
    * reads either physical type as a native timestamp, so the oracle SQL
    * (`epoch_us(ts)`) is generation-independent. Queries needing a real
    * timestamp use [[eventsTs]], which adds `ts_t` = µs-precision
    * TimestampType plus `us` = epoch micros.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw // TIMESTAMP(NANOS) generation, read as nanos
      case TimestampNTZType =>
        // NTZ carries no zone; all sessions here pin UTC, so the µs
        // field count IS epoch micros. unix_micros needs TimestampType;
        // the UTC-session cast is a zero-shift reinterpretation.
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** Events with `us` (epoch µs, exact long) and `ts_t` (µs timestamp). */
  def eventsTs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("us", expr("ts DIV 1000"))
      .withColumn("ts_t", timestamp_micros(expr("ts DIV 1000")))
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Money/measure determinism policy (SURVEY.md §7.1): Spark's parallel
    * double-sum order differs from DuckDB's sequential order, so sums go
    * through DECIMAL(18,4) — decimal addition is exact and order-free.
    * The same cast appears verbatim in every oracle SQL.
    */
  /** The money columns carry exactly 2 decimals and discount/tax factors
    * 2 more each, so every money expression in §2 is EXACT at scale 6.
    * Capturing each row at scale 6 is tie-free (the double sits within
    * ~1e-11 of the true 6-dp value, never near a 5e-7 boundary), the
    * decimal sum is then exact and order-free, and we EMIT at scale 6 —
    * never rounding a decimal down, because the true sums sit exactly on
    * coarser grids and a final cast to scale 4 becomes a coin-flip tie
    * between Spark (HALF_UP) and DuckDB rounding. Verified empirically:
    * scale-4 and scale-10 capture both hash-mismatch; this matches.
    */
  val D: DecimalType = DecimalType(28, 6)
  def dec(c: Column): Column = c.cast(D)
  /** Exact decimal sum of a money expression. The ACCUMULATION is decimal
    * (order-free); the EMISSION is DOUBLE: the scale-6 sum is exact, and
    * decimal→double is the same correctly-rounded conversion in Spark and
    * DuckDB, so the emitted doubles are bit-identical — whereas the
    * driver's hash-comparator disagreed on DECIMAL(28,6) *representation*
    * between the two engines (round-1 finding: 16 hash mismatches, every
    * one a decimal output column; every double output matched).
    */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)
  /** Exact INTEGER-capture sum for a 10^-scale-quantized double column —
    * bit-identical to sum(cast(· as decimal)).cast(double) and measured
    * ~2× faster in the fixpoint loops' per-round aggregates (long
    * hash-agg lanes vs per-row Decimal allocation; see the round-11
    * kmeans probe: 620 → 345 ms/round, identical fingerprint). Why it
    * is exact: each input is round(x, scale) = m/10^s with integer m;
    * round(c·10^s) recovers m EXACTLY (the double product sits within
    * |m|·2⁻⁵² ≪ 0.5 of m); the long sum S = Σm is exact; and
    * S.cast(double)/10^s rounds the exact rational S/10^s ONCE —
    * precisely what decimal(·,s)→double does. Holds while |S| < 2⁵³,
    * i.e. per-group Σ|x| < ~9·10^(15−s) — each call site documents its
    * bound. Emission stays DOUBLE, as dsum.
    *
    * The bound is documented per callsite but otherwise UNCHECKED (a
    * non-ANSI sum(Long) wraps silently) — every current callsite is a
    * fixpoint-loop round aggregate whose per-group cardinality is
    * structurally bounded (≤|V| quantized O(1) scores, ≤512-key
    * codebook slices), not corpus-proportional. SPARK_GRAFT_LSUM_CHECK=1
    * arms a debug guard: the aggregate also computes the conservative
    * envelope max|m|·n and raise_error()s when it reaches 2⁵³, turning
    * a would-be silent wrap into a loud failure (conservative: it can
    * trip when the true |Σm| is still safe — a debug gate, not a
    * production branch; verified non-tripping over the full Verify
    * drive at sf0.01, round 12). A callsite whose group size grows with
    * the corpus should use dsum (~29 integer digits of headroom).
    */
  private val lsumCheck = sys.env.contains("SPARK_GRAFT_LSUM_CHECK")
  def lsum(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale) // exact in double for scale ≤ 15
    val m = round(c * f)
    val base = sum(m.cast(LongType)).cast(DoubleType) / f
    if (!lsumCheck) base
    else when(max(abs(m)) * count(lit(1)) >= lit(9.007199254740992e15),
      raise_error(concat(
        lit(s"lsum(scale=$scale) overflow-envelope trip: max|m|*n = "),
        (max(abs(m)) * count(lit(1))).cast(StringType)))).otherwise(base)
  }
  /** Order-free average: exact decimal sum divided as double, then
    * rounded via floor(x·10⁴ + 0.5)/10⁴ — NOT round(x, 4): the decimal
    * sums are exact, so quotients frequently land exactly on .xxxx5 ties
    * where Spark (HALF_UP on shortest-repr) and DuckDB disagree; the
    * floor formula is pure IEEE arithmetic and computes identically on
    * identical doubles in any engine (observed fixing a real mismatch).
    */
  def davg(c: Column): Column =
    floor(sum(dec(c)).cast(DoubleType) / count(lit(1)) * 10000 + 0.5)
      .cast(DoubleType) / 10000.0
  /** Scale-adaptive input-parallelism floor for CPU-bound per-row work
    * (optimization guide §2: make partitioning scale-adaptive — derive
    * it from the cluster and the input, never a constant tuned for one
    * deployment). The gate tiers are single small parquet files with
    * ONE row group, so Spark's split math (maxPartitionBytes /
    * openCostInBytes) yields a ONE-TASK scan — and a per-row codec or
    * tokenize pass then runs on 1 of N cores while the rest idle
    * (guide §2.6, idle capacity). At production scale a large table
    * arrives in thousands of splits, `getNumPartitions >=
    * defaultParallelism` holds, and this helper is a NO-OP — no
    * exchange is inserted, so it can never add a payload shuffle to a
    * job that is already parallel. Round-robin repartition (no key:
    * the downstream work is per-row) pays the sortBeforeRepartition
    * local sort on the tiny under-parallel input — negligible against
    * the CPU it spreads. Results are unchanged: every consumer is a
    * per-row map or a commutative aggregate, and emissions carry their
    * own ORDER BY.
    */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want)
  }

  /** CPU-density-aware post-shuffle width (round 15, VERDICT r14 item 1;
    * optimization guide §2.5-2.6). Byte-based AQE coalescing is right for
    * byte-bound stages, but it legitimately squeezes a KB-sized shuffle
    * to 1-6 tasks even when the CONSUMING stage is CPU-dense (candidate
    * self-joins, per-row hashing/verification over small keys) — the one
    * place byte-only partition sizing is wrong in kind, and it reproduces
    * at 100 TB wherever a shuffle carries small keys into heavy per-row
    * compute. This pins the stage width to `defaultParallelism` —
    * cluster-derived, never a constant — via an explicit repartition on
    * the downstream join/grouping KEY, so at any scale it REPLACES the
    * exchange EnsureRequirements would insert for that key (same shuffle,
    * pinned width) rather than adding one. Trade-off, documented: a
    * user-specified repartition opts the one exchange out of AQE
    * coalescing AND skew-split — use only where the key is known
    * skew-bounded and the consumer is measured CPU-dense. The keyless
    * form round-robins (for CPU-dense stages with no downstream key).
    */
  def wide(df: DataFrame, cols: Column*): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (cols.isEmpty) df.repartition(want) else df.repartition(want, cols: _*)
  }

  /** Two-level running sum, the blocked scan of Blelloch's "Prefix Sums
    * and Their Applications": for each `(name, v)` adds column `name`,
    * the exact long sum of the integral `v` over the rows before this
    * one in `order` within `by` (0 for the first), with no window whose
    * partition is a whole `by` group (one task for all of it at 100 TB).
    * A row's sum is its bucket's start plus a running sum inside the
    * bucket: the start is an exclusive prefix over the (by, bucket)
    * totals, windowed per `by` over one row a bucket, and the running
    * sum is windowed per (by, bucket). The one contract is that
    * `bucket` never decreases along `order` within `by` (a prefix of
    * the order key, or a monotone band of it); any such bucket gives
    * the same sums, and `order` must be unique within `by` for them to
    * be deterministic. The start join is an inner equi-join, so a row
    * whose `by` or bucket is null is dropped. It takes no hint:
    * Catalyst broadcasts the totals table by its estimate, and where it
    * does not, the join reuses the in-bucket window's (by, bucket)
    * exchange, so `df` is still shuffled once.
    */
  def sumBefore(df: DataFrame, by: Seq[String], bucket: Column,
      order: Seq[Column], sums: (String, Column)*): DataFrame = {
    val keys = by :+ "__sb_bucket"
    def start(n: String) = s"__sb_start_$n"
    val keyed = df.withColumn("__sb_bucket", bucket)
    val wStart = Window.partitionBy(by.map(col): _*).orderBy("__sb_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = sums.map { case (n, v) => sum(v).as(n) }
    val starts = keyed.groupBy(keys.map(col): _*)
      .agg(totals.head, totals.tail: _*)
      .select(keys.map(col) ++ sums.map { case (n, _) =>
        coalesce(sum(col(n)).over(wStart), lit(0L)).as(start(n)) }: _*)
    val wIn = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    sums.foldLeft(keyed.join(starts, keys)) { case (f, (n, v)) =>
      f.withColumn(n, col(start(n)) + coalesce(sum(v).over(wIn), lit(0L)))
    }.select((df.columns.toSeq ++ sums.map(_._1)).map(c => col(s"`$c`")): _*)
  }

  /** Memo key for a once-per-dataset trained artifact (the PQ-codebook /
    * Louvain-label pattern): absolute path PLUS a cheap content
    * fingerprint of the backing parquet (file names, lengths, mtimes) —
    * so a dataset REGENERATED in-place under the same path (refreshed
    * fixtures, re-seeded testdata) misses the memo and retrains instead
    * of silently re-seeding from a stale artifact (r11 ADVICE). Listing
    * a directory of part-files is O(files) driver-side metadata, paid
    * once per memo probe.
    */
  def artifactKey(d: String, table: String): String = {
    val root = new java.io.File(d, table + ".parquet")
    val files: Array[java.io.File] =
      if (root.isDirectory)
        Option(root.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      else Array(root)
    val fp = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    // 128-bit digest, not String.hashCode: a 32-bit fingerprint is
    // birthday-prone across many regeneration cycles, and a collision
    // here silently re-seeds every consumer from a stale artifact —
    // the exact failure the key exists to prevent (r12 review).
    s"${root.getAbsolutePath}#${md5hex(fp)}"
  }

  private[graft] def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Oracle-side fragments mirroring dec/dsum/davg verbatim. */
  val oD = "DECIMAL(28,6)"
  def oSum(e: String): String = s"CAST(sum(CAST($e AS $oD)) AS DOUBLE)"
  def oAvg(e: String): String =
    s"floor(CAST(sum(CAST($e AS $oD)) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000.0"
}

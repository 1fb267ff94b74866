package graft

import org.apache.spark.sql.SparkSession

/** The shipped engine profile: the one SparkSession builder, used by
  * Bench, Verify, Prof, ScaleGen and every spec, so the gates check the
  * configuration that runs.
  *
  *  - GraftExtensions: the as-of join planner and rule, and every
  *    `graft_*` function, so no query registers anything itself.
  *  - `maxPartitionBytes=8m`: one ~20 MB parquet file per table would
  *    otherwise scan on a couple of cores.
  *  - AQE coalescing with `parallelismFirst=false` (Spark's documented
  *    production setting): the default pins post-shuffle reads at
  *    cluster width, which at the gate tiers schedules `cores` tasks
  *    for KB-sized shuffles. The advisory size is a deployment setting:
  *    2m fits the gate tiers (tables of 0.3-11 MB); a 100 TB deployment
  *    sets 64-256m through SPARK_GRAFT_ADVISORY_BYTES.
  *  - `canChangeCachedPlanOutputPartitioning` lets AQE coalesce the
  *    materialization of persisted plans too.
  *  - UTC, and µs-int64 output timestamps (not int96), so the DuckDB
  *    oracle compare reads plain timestamps.
  *  - `parquet.nanosAsLong`: a TIMESTAMP(NANOS) column, which Spark 4
  *    otherwise rejects, reads as int64 nanos (the older `events.ts`
  *    generation; see `Tables.events`). Spark has no per-read option
  *    for this, so it is set here once, not by the queries.
  */
object GraftSession {
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .withExtensions(new GraftExtensions)
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_BYTES", "2m"))
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Core count of the mains: SPARK_GRAFT_CPUS, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * `queries` keys realize the SURVEY.md §2 operator inventory one-to-one;
  * `oracleSql` carries the DuckDB-equivalent SQL for the hash-compare
  * (column names, order-by, and numeric policy must match exactly —
  * SURVEY.md §7).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * All 6 (returnflag, linestatus) combos exist at sf0.001 (FIXTURES.md),
    * so rows>0 is guaranteed.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q1(spark, "/root/testdata/sf0.001")

  /** A map from keys that must be unique: a duplicate key throws when
    * the map is built, where a Map literal or `++` would keep the last
    * entry and silently shadow the other.
    */
  def keyed[T](pairs: (String, T)*): Map[String, T] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate keys: ${dups.toList.sorted.mkString(", ")}")
    pairs.toMap
  }

  private def modules = {
    import graft.queries._
    Seq(Relational.queries -> Relational.oracleSql, Joins.queries -> Joins.oracleSql,
      Windows.queries -> Windows.oracleSql, Scalars.queries -> Scalars.oracleSql,
      FsQueries.queries -> FsQueries.oracleSql, TextPipeline.queries -> TextPipeline.oracleSql,
      Vectors.queries -> Vectors.oracleSql, Multimodal.queries -> Multimodal.oracleSql,
      StreamingBatch.queries -> StreamingBatch.oracleSql, Graph.queries -> Graph.oracleSql)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    keyed(modules.flatMap(_._1.toSeq): _*)

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  lazy val oracleSql: Map[String, String] = keyed(modules.flatMap(_._2.toSeq): _*)
}

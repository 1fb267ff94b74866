package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.sumBefore` against the flat window it replaces: on random
  * frames with several `by` groups and repeated order values broken by
  * a unique id, the two-level running sum must equal the exclusive
  * running sum of one window per group, for a coarse bucket and for
  * one row per bucket (both rise along the order, the helper's one
  * contract).
  */
class TablesSpec extends AnyFunSuite with GraftSuite with PropSupport {

  private val genRows = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.choose(0, 5), Gen.choose(-50L, 50L)))
  } yield rows.zipWithIndex.map { case ((g, k, v), id) => (g, k, id.toLong, v) }

  test("sumBefore equals the flat exclusive running sum per group") {
    val sp = spark
    import sp.implicits._
    val buckets = Seq(
      "coarse" -> expr("k DIV 3"),
      "one row each" -> (col("k") * 1000000L + col("id")))
    forAllN(genRows, 12) { rows =>
      val df = rows.toDF("g", "k", "id", "v")
      val before = Window.partitionBy("g").orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
      // The sum over no rows is 0, where the flat window gives null.
      val want = df.select(col("id"),
          coalesce(sum(col("v")).over(before), lit(0L)).as("s"),
          count(lit(1)).over(before).as("n"))
        .as[(Long, Long, Long)].collect().sorted.toSeq
      for ((name, bucket) <- buckets) {
        val got = Tables.sumBefore(df, Seq("g"), bucket,
            Seq(col("k"), col("id")), "s" -> col("v"), "n" -> lit(1L))
        assert(got.columns.toSeq === Seq("g", "k", "id", "v", "s", "n"))
        assert(got.select("id", "s", "n").as[(Long, Long, Long)]
          .collect().sorted.toSeq === want, s"bucket $name on $rows")
      }
    }
  }
}

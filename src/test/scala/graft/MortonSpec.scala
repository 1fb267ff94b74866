package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Morton bit-spread column kernel behind scan_zorder_skipping
  * against a bit-by-bit Scala reference: a silent bit error there would
  * not fail any oracle (predicates stay on the original columns) — it
  * would just quietly destroy the clustering the witness claims.
  */
class MortonSpec extends AnyFunSuite with GraftSuite {
  private def refSpread(v: Long): Long =
    (0 until 16).map(i => ((v >> i) & 1L) << (2 * i)).reduce(_ | _)

  test("spread16 column kernel == bit-by-bit reference on random 16-bit values") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    val samples = (Seq(0L, 1L, 0xFFFFL, 0x5555L, 0xAAAAL, 0x8000L) ++
      Seq.fill(1000)(rnd.nextLong().abs)).toDF("v")
    val got = samples
      .select(col("v"),
        graft.queries.Relational.spread16(col("v")).as("z"))
      .collect()
    got.foreach { r =>
      val v = r.getLong(0); val z = r.getLong(1)
      assert(z === refSpread(v & 0xFFFFL),
        s"spread16($v) = $z, reference = ${refSpread(v & 0xFFFFL)}")
    }
    // Interleave property: merging two spreads offset by one bit is a
    // bijection on 16-bit pairs — no two distinct pairs may collide.
    val pairs = Seq.fill(2000)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)).distinct
    val zs = pairs.map { case (a, b) => refSpread(a) | (refSpread(b) << 1) }
    assert(zs.distinct.size === pairs.size, "Morton code collided on distinct pairs")
  }
}

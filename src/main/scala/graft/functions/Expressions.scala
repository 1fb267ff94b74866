package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen'd Catalyst expressions (SURVEY.md §4b: promote to
  * `Expression` only when bench demands it — it did: Spark's
  * `aggregate`/`zip_with` higher-order functions are CodegenFallback,
  * i.e. interpreted per row, and the vector-similarity queries spent
  * seconds in them; this whole-stage-codegen dot product is ~10× faster
  * and keeps the surrounding plan in one codegen span).
  */

/** Dot product of two float-array columns as double, accumulated in
  * index order — bit-identical to the left-fold the DuckDB oracles use.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float> args, got ${l.sql} / ${r.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF =
    copy(left = l, right = r)
}

/** Polynomial rolling-hash document fingerprint over the UTF-8 bytes:
  * h = fold(31·h + byte) mod 1e9+7. For ASCII text this equals the
  * codepoint fold the DuckDB oracle computes with list_reduce/ord.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_fingerprint expects string, got ${t.sql}")
  }

  private val Mod = 1000000007L

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc = (acc * 31 + (bytes(i) & 0xFF)) % Mod; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * 31 + ($bytes[$i] & 0xFF)) % ${Mod}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): RollingHash = copy(child = c)
}

/** Sign-bit LSH bucket over the deterministic pseudo-hyperplane family
  * (component i of plane p = (((p·1315423911 + i·2654435761) mod 1000003)
  * / 1000003 − 0.5) cast to float; no RNG): bit p of the result is
  * [dot(emb, plane_p) > 0], accumulated in index order. One codegen'd
  * double loop replaces numPlanes separate 64-literal dot expressions —
  * the 32-plane banding otherwise put ~2048 float literals into the
  * plan, and planning+codegen dominated the query's wall time. The
  * plane component is recomputed arithmetically inside the loop,
  * bit-identical to the literal-array form and the DuckDB oracles.
  */
case class LshBucket(child: Expression, numPlanes: Int, dim: Int,
    planeOffset: Int = 0)
    extends UnaryExpression {
  // planeOffset selects an INDEPENDENT hyperplane family (global plane
  // index = planeOffset + local bit index) — the OR-amplification lever:
  // L tables with offsets 0, numPlanes, 2*numPlanes... share nothing,
  // while bucket BIT positions stay local so probe masks are unchanged.
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bucket expects array<float>, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      // toLong BEFORE the add: codegen computes `(long) offset + p`, so
      // an offset near Int.MaxValue must widen here too or the two
      // evaluation modes diverge on overflow.
      val gp = planeOffset.toLong + p
      var acc = 0.0
      var i = 0
      while (i < n) {
        val comp = (((gp * 1315423911L + i * 2654435761L) % 1000003L).toDouble / 1000003.0 - 0.5).toFloat
        acc += a.getFloat(i).toDouble * comp.toDouble
        i += 1
      }
      if (acc > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val comp = ctx.freshName("comp")
      val bucket = ctx.freshName("bucket")
      val gp = ctx.freshName("gp")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dim);
         |long $bucket = 0L;
         |for (int $p = 0; $p < $numPlanes; $p++) {
         |  long $gp = (long) $planeOffset + $p;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    float $comp = (float) (((double) (($gp * 1315423911L + $i * 2654435761L) % 1000003L)) / 1000003.0 - 0.5);
         |    $acc += (double) $a.getFloat($i) * (double) $comp;
         |  }
         |  if ($acc > 0) $bucket |= 1L << $p;
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LshBucket = copy(child = c)
}

/** The engine's function surface, defined once: GraftExtensions
  * injects it into every session GraftSession builds, so queries reach
  * the expressions through `call_function` with no registration.
  */
object GraftFunctions {
  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Int]

  /** (name, implementing expression class, builder) per function. */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProductF], e => DotProductF(e(0), e(1))),
    ("graft_fingerprint", classOf[RollingHash], e => RollingHash(e.head)),
    ("graft_lsh_bucket", classOf[LshBucket], e => LshBucket(e(0),
      intArg(e(1)), intArg(e(2)), if (e.length > 3) intArg(e(3)) else 0)),
    ("graft_minhash16", classOf[MinHashAgg], e => MinHashAgg(e.head, 16)),
    ("graft_simhash", classOf[SimHashAgg], e => SimHashAgg(e.head)),
    ("graft_trigrams", classOf[CharNGrams], e => CharNGrams(e.head, 3)),
    ("graft_shingles", classOf[WordShingles], e => WordShingles(e.head, 5)),
    ("graft_winnow", classOf[WinnowedPrints],
      e => WinnowedPrints(e(0), intArg(e(1)), intArg(e(2)))),
    ("graft_intersect_size", classOf[SortedIntersectSize],
      e => SortedIntersectSize(e(0), e(1))),
    // Spark's OWN bloom expressions (the pair InjectRuntimeFilter
    // plants automatically), surfaced as callable functions so a query
    // can build an APPLICATION-level bloom — e.g. over a historical
    // fingerprint set — rather than relying on the optimizer to decide.
    // No custom sketch code: same Catalyst implementation, codegen'd.
    ("graft_bloom_agg", classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))
}

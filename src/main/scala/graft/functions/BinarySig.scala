package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Sign-bit binary signature of a float/double vector column: bit
  * `i mod 64` of word `i div 64` is set iff element `i >= 0` — the
  * random-hyperplane (SimHash) sketch specialised to the identity basis,
  * which for L2-normalized embeddings estimates angle via
  * `cos(pi * hamming / dim)`. 32x smaller than the f32 vector
  * (1024 dims: 4 KB -> 128 B), which is the coarse-scan storage lever at
  * corpus scale; exact float vectors stay the rerank source of truth
  * (same labeled-contract posture as the int8 codec,
  * [[graft.operators.MatrixStore.Codec.Int8]]; the block store's sign-bit
  * codec, [[graft.operators.MatrixStore.Codec.Sign]], packs this scheme).
  *
  * The reference scans raw f32 only (/root/reference/src/lib.rs:321-344);
  * this is north-star scope. Codegen for the same reason as [[VectorDot]]:
  * the HOF formulation is CodegenFallback and allocates per row. Null
  * elements count as 0.0 (bit set, since 0 >= 0) — consistent with the
  * other kernels' null-as-zero convention.
  */
case class SignPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_pack expects ARRAY<FLOAT|DOUBLE>, got $other")
  }

  private def isDouble = child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long]((n + 63) >> 6)
    var i = 0
    while (i < n) {
      val x = if (arr.isNullAt(i)) 0.0 else if (isDouble) arr.getDouble(i) else arr.getFloat(i).toDouble
      if (x >= 0.0) out(i >> 6) |= (1L << (i & 63))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isDouble) "getDouble" else "getFloat"
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val x = ctx.freshName("x")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[($n + 63) >> 6];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $c.isNullAt($i) ? 0.0 : (double) $c.$get($i);
         |  if ($x >= 0.0) $out[$i >> 6] |= (1L << ($i & 63));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sign_pack"
}

/** Hamming distance between two [[SignPack]] signatures (ARRAY<BIGINT>):
  * sum of `Long.bitCount(a[w] ^ b[w])` over min-length zip. The hot
  * kernel of the binary coarse scan — one XOR + POPCNT per 64 dims, so a
  * 1024-dim comparison is 16 word ops vs 1024 multiply-adds for the f32
  * dot. Codegen keeps it inside the whole-stage-generated scan loop.
  * Null words count as 0. */
case class HammingDist(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_dist expects ARRAY<BIGINT> inputs, got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var h = 0
    var i = 0
    while (i < n) {
      val xi = if (x.isNullAt(i)) 0L else x.getLong(i)
      val yi = if (y.isNullAt(i)) 0L else y.getLong(i)
      h += java.lang.Long.bitCount(xi ^ yi)
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $h = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xv = $a.isNullAt($i) ? 0L : $a.getLong($i);
         |  long $yv = $b.isNullAt($i) ? 0L : $b.getLong($i);
         |  $h += java.lang.Long.bitCount($xv ^ $yv);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "hamming_dist"
}

object BinarySig {
  /** Column wrapper for [[SignPack]]. */
  def signPack(v: Column): Column =
    ColumnBridge.column(SignPack(ColumnBridge.expression(v)))

  /** Column wrapper for [[HammingDist]]. */
  def hammingDist(a: Column, b: Column): Column =
    ColumnBridge.column(HammingDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Oracle-expressible twin of sign-Hamming: count of positions where
    * the two vectors' signs disagree, computed WITHOUT packing — pure
    * `zip_with` + `aggregate` Column math that DuckDB reproduces with
    * `list_transform`/`list_sum`. Spec-pinned equal to
    * `hammingDist(signPack(a), signPack(b))`. */
  def signHammingUnpacked(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    aggregate(
      zip_with(a, b, (x, y) =>
        when((x >= 0) === (y >= 0), lit(0)).otherwise(lit(1))),
      lit(0), (acc, e) => acc + e)
  }
}

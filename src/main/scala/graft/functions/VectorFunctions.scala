package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd vector primitives.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * CodegenFallback: every element round-trips through boxed lambda
  * evaluation, which dominates runtime for dense-vector math (the
  * similarity/dedup operators spend ~90% of their time there). This
  * custom Catalyst expression generates a tight primitive loop inside
  * whole-stage codegen instead — same sequential double accumulation,
  * so oracle results are bit-identical, ~20× faster per pair.
  *
  * Accumulation is always double; float inputs are widened per
  * element (matches DuckDB's `list_dot_product(x::DOUBLE[], …)`).
  * Null elements are treated as 0 (dense embeddings don't carry
  * nulls).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<double|float> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd nearest-codeword distances: `out[c] = bias[c] − 2.0 ·
  * (v · book[c])` for every codeword `c` of `book` — the squared
  * euclidean distance less the per-row constant `v·v`, the one
  * comparator of Lloyd's assignment, PQ/RQ encode, IVF probing and
  * the ADC tables.
  *
  * The codebook arrives as ONE array literal and the bias as an
  * `array<double>` column (a literal, or a per-row pick from a
  * literal table), so the model is data: Spark hands array literals
  * to generated code as reference objects, and two models of the
  * same geometry compile to the same code. Each dot product is
  * [[DotProduct]]'s sequential left fold, so every distance is
  * bit-identical to `lit(bias) − lit(2.0) * dot(v, typedlit(c))`.
  * A bias whose length differs from the codebook's throws. */
case class CodeDists(v: Expression, book: Expression, bias: Expression)
    extends TernaryExpression {

  override def first: Expression = v
  override def second: Expression = book
  override def third: Expression = bias

  override def checkInputDataTypes(): TypeCheckResult =
    (v.dataType, book.dataType, bias.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"code_dists needs (array<double>, array<array<double>>, " +
          s"array<double>), got ${a.catalogString} / ${b.catalogString} / " +
          s"${c.catalogString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val words = b.asInstanceOf[ArrayData]
    val bs = c.asInstanceOf[ArrayData]
    val k = words.numElements()
    if (bs.numElements() != k) throw new IllegalArgumentException(
      s"code_dists: ${bs.numElements()} biases for $k codewords")
    val out = new Array[Double](k)
    var w = 0
    while (w < k) {
      val y = words.getArray(w)
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
      out(w) = bs.getDouble(w) - 2.0 * s
      w += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (x, words, bs) => {
      val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      val w = ctx.freshName("w")
      val y = ctx.freshName("y")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $k = $words.numElements();
         |if ($bs.numElements() != $k) {
         |  throw new IllegalArgumentException("code_dists: " +
         |    $bs.numElements() + " biases for " + $k + " codewords");
         |}
         |double[] $out = new double[$k];
         |for (int $w = 0; $w < $k; $w++) {
         |  ArrayData $y = $words.getArray($w);
         |  int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  $out[$w] = $bs.getDouble($w) - 2.0 * $s;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(v = newFirst, book = newSecond, bias = newThird)
}

object VectorFunctions {
  /** Dot product of two dense vectors (array<double> or array<float>),
    * accumulated in double inside whole-stage codegen. */
  def dot(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** `bias[c] − 2·(v·book[c])` per codeword of `book` (one
    * `array<array<double>>` literal); `bias` is `array<double>`. */
  def codeDists(v: Column, book: Column, bias: Column): Column =
    GraftSqlBridge.column(CodeDists(GraftSqlBridge.expression(v),
      GraftSqlBridge.expression(book), GraftSqlBridge.expression(bias)))

  /** Euclidean norm via the same codegen'd loop. */
  def norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot(a, a))
}

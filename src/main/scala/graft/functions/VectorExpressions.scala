package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native (whole-stage-codegen) dot product over two `array<double>` columns.
  *
  * The built-in way to express this — `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * — evaluates interpreted lambda functions per element and dominated the
  * all-pairs similarity benchmark (74 s for 4M pairs x 64 dims at sf0.1).
  * This expression compiles to a tight Java loop inside whole-stage codegen.
  * Summation order is left-to-right, identical to the HOF formulation and to
  * DuckDB's `list_reduce`, so oracle results are bit-identical.
  *
  * Null handling: a null array yields null (BinaryExpression default); null
  * *elements* are treated as 0 contribution (training embeddings are
  * non-null; documented divergence from the HOF version which would NPE).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Fresh names: two vec_dot calls can land in one generated projection
      // (norm + dot in the same stage); fixed names would collide in Janino.
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $sum += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact integer squared-L2 distance between two `array<bigint>` columns
  * (quantized vectors) — the inner loop of every k-means assignment, IVF
  * probe, PQ lookup build, and ANN refine. The declarative
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0, +)` evaluates
  * INTERPRETED (higher-order functions are CodegenFallback — see
  * [[ShingleHashes]]); this is the codegen'd twin, bit-identical since
  * long arithmetic has one semantics. Null elements are not expected
  * (quantized components are non-null) and are skipped like
  * [[DotProduct]]. */
case class VecL2SqLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2sq_l requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "vec_l2sq_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getLong(i) - y.getLong(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $sum += $d * $d;
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2SqLong =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two `array<bigint>` columns — the
  * quantized projection/similarity inner loop (JL projection, quantized
  * cosine re-rank). Codegen'd twin of the interpreted
  * `aggregate(zip_with(a, b, _*_), 0, +)` fold; same null stance as
  * [[VecL2SqLong]]. */
case class VecDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot_l requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "vec_dot_l"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $sum += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotLong =
    copy(left = newLeft, right = newRight)
}

/** Deterministic-hyperplane LSH projection of one `array<double>` vector:
  * sum over d of v[d] * plane(p, d), where
  * plane(p, d) = ((1103515245*p + 12345*d + 42) mod 1001) - 500 — the
  * EXACT integer coefficient family [[graft.operators.Similarity]]'s
  * lshSignBits (and its SQL mirrors) define, generated INSIDE the codegen
  * loop instead of materialized anywhere (r14: the interpreted
  * aggregate(zip_with(sequence...)) fold this replaces evaluated
  * per-element lambdas; an intermediate attempt that shipped the plane as
  * a 512-wide literal array measured +39% from planning/literal overhead —
  * the negative result is recorded in OPTIMIZATION_r14.md).
  * Summation is the same left-to-right double fold, so for NULL-FREE
  * element arrays (embeddings always are here) projections — and
  * therefore sign bits and bucket ids — are bit-identical to both the old
  * fold and DuckDB's list_reduce mirror. Null stance as [[DotProduct]]
  * (ADVICE r14: on an array CONTAINING null elements the old
  * aggregate(zip_with(...)) fold returns null — sign bit 0 — while this
  * expression, like DotProduct, skips null elements and returns the
  * partial sum; the divergence is deliberate and scoped exactly as
  * DotProduct documents). */
case class VecPlaneProj(child: Expression, plane: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"vec_plane_proj requires an array<double> input, got ${dt.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_plane_proj"

  private def coeff(d: Long): Double =
    (((1103515245L * plane + 12345L * d + 42L) % 1001L) - 500L).toDouble

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) s += x.getDouble(i) * coeff(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = $a.numElements();
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $c = (double) (((1103515245L * ${plane}L + 12345L * (long) $i + 42L) % 1001L) - 500L);
         |    $sum += $a.getDouble($i) * $c;
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): VecPlaneProj = copy(child = newChild)
}

/** Column-level API for the vector expressions. */
object VectorFunctions {

  /** Dot product Column. */
  def vecDot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  /** Integer squared-L2 Column. */
  def vecL2SqLong(a: Column, b: Column): Column =
    column(VecL2SqLong(expression(a), expression(b)))

  /** Integer dot Column. */
  def vecDotLong(a: Column, b: Column): Column =
    column(VecDotLong(expression(a), expression(b)))

  /** Deterministic-hyperplane projection Column. */
  def vecPlaneProj(v: Column, plane: Int): Column =
    column(VecPlaneProj(expression(v), plane))
}

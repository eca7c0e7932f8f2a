package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Shared analysis-time checks for the native kernels: misuse must fail in
  * the analyzer with a readable message, not at runtime with a CCE inside
  * generated code. (`AbstractDataType`/`ImplicitCastInputTypes` are
  * private[sql], so the checks are spelled out via checkInputDataTypes.) */
private[functions] object VecTypeChecks {
  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  def requireFloatArrays(name: String, dts: Seq[DataType]): TypeCheckResult =
    dts.find(!isFloatArray(_)) match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<float> arguments, got ${bad.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
}

/** Foldable-int SQL argument: accepts any integral literal (an INT or
  * BIGINT in SQL text), not just a Scala Int — `vec_lsh_bucket(v, 4L)`
  * must not throw a ClassCastException. */
private[graft] object IntArg {
  def of(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) => v.intValue()
    case other => other.eval() match {
      case n: Number => n.intValue()
      case bad => throw new IllegalArgumentException(
        s"expected an integer literal argument, got $bad")
    }
  }
}

/**
 * Native Catalyst expressions for embedding math — preference (b) of the
 * build contract: a codegen'd `Expression` beats a Scala UDF (no
 * ser/deser, stays inside whole-stage codegen) and beats higher-order
 * `aggregate`/`zip_with` chains (no per-element lambda dispatch).
 * Both generate a single static call into [[VecOps]]' tight loops.
 */
abstract class FloatVecBinary extends BinaryExpression with Serializable {
  override def dataType: DataType = FloatType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeChecks.requireFloatArrays(prettyName, Seq(left.dataType, right.dataType))

  /** fully-qualified static kernel, e.g. "graft.functions.VecOps.dotF" */
  protected def kernel: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernel($a, $b);")
}

/** Float32 dot product of two array<float> columns. */
case class FloatVecDot(left: Expression, right: Expression) extends FloatVecBinary {
  override protected def kernel: String = "graft.functions.VecOps.dotF"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Float32 cosine similarity of two array<float> columns. */
case class FloatVecCosine(left: Expression, right: Expression) extends FloatVecBinary {
  override protected def kernel: String = "graft.functions.VecOps.cosineF"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosineF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Max absolute component of an array<float> column — the int8
  * quantization scale (see [[VecOps.maxAbsF]]). */
case class FloatVecMaxAbs(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with Serializable {
  override def dataType: DataType = FloatType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeChecks.requireFloatArrays(prettyName, Seq(child.dataType))
  override protected def nullSafeEval(a: Any): Any =
    VecOps.maxAbsF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecOps.maxAbsF($a)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Symmetric int8 quantization of an array<float> column → array<tinyint>
  * (see [[VecOps.quant8F]] for the exact, oracle-mirrored formula). */
case class FloatVecQuant8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.ByteType, false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeChecks.requireFloatArrays(prettyName, Seq(child.dataType))
  override protected def nullSafeEval(a: Any): Any =
    VecOps.quant8F(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecOps.quant8F($a)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact integer dot product of two array<tinyint> (quantized) columns. */
case class ByteVecDot(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left.dataType, right.dataType).find {
      case ArrayType(org.apache.spark.sql.types.ByteType, _) => false
      case _ => true
    } match {
      case Some(bad) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<tinyint> arguments, got ${bad.catalogString}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotQ8(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.VecOps.dotQ8($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** h-bit sign-random-projection LSH bucket of an array<float> column —
  * one codegen'd kernel pass (see [[VecOps.lshBucketF]]). */
case class FloatVecLshBucket(child: Expression, h: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with Serializable {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    VecTypeChecks.requireFloatArrays(prettyName, Seq(child.dataType))
  override protected def nullSafeEval(a: Any): Any =
    VecOps.lshBucketF(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], h)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecOps.lshBucketF($a, $h)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API entry points for the vector kernels (SQL registration is
  * [[graft.GraftExtensions]]). */
object VectorFunctions {
  import org.apache.spark.sql.GraftInternals.{column, expression}

  def vec_dot(a: Column, b: Column): Column = column(FloatVecDot(expression(a), expression(b)))
  def vec_cosine(a: Column, b: Column): Column = column(FloatVecCosine(expression(a), expression(b)))
  def vec_lsh_bucket(a: Column, h: Int): Column = column(FloatVecLshBucket(expression(a), h))
  def vec_maxabs(a: Column): Column = column(FloatVecMaxAbs(expression(a)))
  def vec_quant8(a: Column): Column = column(FloatVecQuant8(expression(a)))
  def vec_qdot(a: Column, b: Column): Column = column(ByteVecDot(expression(a), expression(b)))
}

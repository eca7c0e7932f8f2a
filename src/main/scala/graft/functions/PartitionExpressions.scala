package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Running sum of a bigint `child` over the rows of ONE partition, in
  * the order the partition delivers them; a null adds 0. Stateful like
  * Spark's `MonotonicallyIncreasingID`: the accumulator is reset per
  * task in `initializeInternal` (interpreted) and in the partition
  * initializer (generated code), so every task attempt starts from 0. */
case class PartitionRunningSum(child: Expression) extends UnaryExpression with Nondeterministic {
  @transient private[this] var acc: Long = _
  override def stateful: Boolean = true
  override def dataType: DataType = LongType
  override protected def initializeInternal(partitionIndex: Int): Unit = acc = 0L
  override protected def evalInternal(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null) acc += v.asInstanceOf[Long]
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val accTerm = ctx.addMutableState("long", "runningSum")
    ctx.addPartitionInitializationStatement(s"$accTerm = 0L;")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      if (!${c.isNull}) $accTerm += ${c.value};
      final long ${ev.value} = $accTerm;""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API entry point for the partition-local kernels. */
object PartitionFunctions {
  import org.apache.spark.sql.GraftInternals.{column, expression}

  def partition_running_sum(value: Column): Column = column(PartitionRunningSum(expression(value.cast(LongType))))
}

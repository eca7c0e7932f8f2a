package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash64 over an array<string> of tokens → long signature.
  * `portable = true` hashes tokens with md5 (reproducible in the DuckDB
  * oracle); `false` uses xxhash64 (faster, rows-only checkable). */
case class SimHash64(child: Expression, portable: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.catalogString}")
  }
  private def kernel: String =
    if (portable) "simHash64Md5" else "simHash64"
  override protected def nullSafeEval(v: Any): Any =
    if (portable) TextOps.simHash64Md5(v.asInstanceOf[ArrayData])
    else TextOps.simHash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.$kernel($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Min sliding-window xxHash64 fingerprint of a string column (byte
  * windows — fast path, rows-only checkable). */
case class MinWindowHash(child: Expression, window: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_window_hash requires string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextOps.minWindowHash(v.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.minWindowHash($c, $window)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Min sliding CHARACTER-window md5-60-bit fingerprint — the
  * oracle-portable variant ([[TextOps.minWindowMd5]]). */
case class MinWindowMd5(child: Expression, window: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_window_md5 requires string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextOps.minWindowMd5(v.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.minWindowMd5($c, $window)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** k md5+splitmix64 MinHash slot hashes of a shingle → array<long>
  * ([[TextOps.md5Slots]]): one digest per shingle instead of k. */
case class Md5Slots(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_slots requires string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextOps.md5Slots(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.md5Slots($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hamming distance between two long signatures (bit_count(a XOR b)). */
case class HammingDistance64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left.dataType, right.dataType).forall {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming64 requires integral arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  // eval widens via Number, codegen casts to long explicitly
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextOps.hamming64(a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount((long)$a ^ (long)$b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Consistent-hash ring successor of a 60-bit key hash → shard id
  * ([[TextOps.ringSuccessor]]): binary search over the sorted vnode hash
  * array embedded as codegen reference objects — O(log V) per key, so
  * the ring keeps its advertised cost at thousand-shard fleets where the
  * higher-order-function filter scan was O(N·V) per row and bloated the
  * plan with an N·V-element literal. `hashes` ascending; `shards(i)`
  * owns vnode i. The ring is held as `Seq[Long]` (value equals /
  * hashCode), NOT arrays: case-class equality over Array fields is
  * reference-based, which would make two identical ring_pick
  * expressions never `semanticEquals` — defeating canonicalization,
  * subexpression elimination, and plan caching. Eval/codegen convert
  * once to primitive arrays. */
case class RingPick(child: Expression, hashes: Seq[Long], shards: Seq[Long])
    extends UnaryExpression {
  require(hashes.nonEmpty && hashes.length == shards.length,
    s"ring needs matched non-empty vnode arrays: ${hashes.length}, ${shards.length}")
  require((1 until hashes.length).forall(i => hashes(i - 1) <= hashes(i)),
    "ring vnode hashes must be ascending")
  @transient private lazy val hashesArr: Array[Long] = hashes.toArray
  @transient private lazy val shardsArr: Array[Long] = shards.toArray
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ring_pick requires a bigint key hash, got ${other.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextOps.ringSuccessor(v.asInstanceOf[Long], hashesArr, shardsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hRef = ctx.addReferenceObj("ringHashes", hashesArr, "long[]")
    val sRef = ctx.addReferenceObj("ringShards", shardsArr, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.ringSuccessor($c, $hRef, $sRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Word n-gram shingles of an array<string> of tokens → array<string>
  * ([[TextOps.wordShingles]]): tokens i..i+n−1 space-joined, empty below
  * `n` tokens. Codegen'd — shingling stays inside whole-stage codegen
  * instead of running as an interpreted higher-order-function lambda
  * (the re-split hazard the old `transform(sequence(...))` form needed
  * repartition barriers to contain). Token elements must be non-null
  * (our tokenizers guarantee it — `split` never yields null elements). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1: $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires array<string>, got ${other.catalogString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextOps.wordShingles(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextOps.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API entry points for the text signature kernels. */
object TextFunctions {
  import org.apache.spark.sql.GraftInternals.{column, expression}

  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def simhash64_md5(tokens: Column): Column =
    column(SimHash64(expression(tokens), portable = true))
  def md5_slots(shingle: Column, k: Int): Column =
    column(Md5Slots(expression(shingle), k))
  def min_window_hash(text: Column, window: Int): Column =
    column(MinWindowHash(expression(text), window))
  def min_window_md5(text: Column, window: Int): Column =
    column(MinWindowMd5(expression(text), window))
  def hamming64(a: Column, b: Column): Column =
    column(HammingDistance64(expression(a), expression(b)))
  def word_shingles(tokens: Column, n: Int): Column =
    column(WordShingles(expression(tokens), n))
  def ring_pick(keyHash: Column, hashes: Array[Long], shards: Array[Long]): Column =
    column(RingPick(expression(keyHash), hashes.toSeq, shards.toSeq))
}

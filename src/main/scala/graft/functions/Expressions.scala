package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DateType, DoubleType, LongType,
  NullType, NumericType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions (with `doGenCode`) for hot-path scalar
 * functions the built-ins can't express — they stay inside
 * whole-stage codegen instead of breaking it the way a Scala UDF
 * would.
 */

/**
 * Polynomial rolling hash of a string: h ← (h·base + byte) mod m over
 * the UTF-8 bytes (codepoint-identical to byte-wise for ASCII corpora,
 * mirroring DuckDB's `list_reduce` formulation in the t04 oracle).
 * Used for document fingerprinting (SURVEY §2 t04).
 */
case class RollingHash(child: Expression, base: Long = 31L, mod: Long = 1000000007L)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * base + (bytes(i) & 0xff)) % mod
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * ${base}L + ($bytes[$i] & 0xff)) % ${mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

/**
 * Standard normal quantile (inverse CDF) as a codegen'd expression —
 * the hot path of the rank-based inverse-normal transform (p08), one
 * call per row. Delegates to the from-scratch Acklam+Halley
 * implementation in [[Numerics]].
 */
case class QNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == DoubleType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"qnorm requires a double argument, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Numerics.qnorm(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Numerics$$.MODULE$$.qnorm($c)")

  override protected def withNewChildInternal(newChild: Expression): QNorm =
    copy(child = newChild)
}

/**
 * The distinct non-null values of a scalar column, at most `cap` + 1
 * of them: a partial buffer and a merge stop adding once they hold
 * `cap` + 1, so a longer result than `cap` says "more than `cap`" and
 * no more. Values count as `distinct` counts them: -0.0 as 0.0, every
 * NaN as one value. The order of the result is unspecified.
 */
case class BoundedDistinct(child: Expression, cap: Int, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashSet[Any]] with UnaryLike[Expression] {
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType | _: StringType | BooleanType | DateType | TimestampType | TimestampNTZType |
        NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"bounded_distinct takes a scalar column, got $t")
  }

  override def createAggregationBuffer(): java.util.HashSet[Any] = new java.util.HashSet[Any]()

  /** A value as the buffer keeps it: a copy, -0.0 as 0.0 (Java equality
    * already equates every NaN). */
  private def key(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else d
    case f: Float => if (f == 0.0f) 0.0f else f
    case other => InternalRow.copyValue(other)
  }

  override def update(buf: java.util.HashSet[Any], input: InternalRow): java.util.HashSet[Any] = {
    if (buf.size <= cap) {
      val v = child.eval(input)
      if (v != null) buf.add(key(v))
    }
    buf
  }

  override def merge(buf: java.util.HashSet[Any], other: java.util.HashSet[Any]): java.util.HashSet[Any] = {
    val it = other.iterator()
    while (buf.size <= cap && it.hasNext) buf.add(it.next())
    buf
  }

  override def eval(buf: java.util.HashSet[Any]): Any = new GenericArrayData(buf.toArray)

  private lazy val toBytes = UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: java.util.HashSet[Any]): Array[Byte] =
    toBytes(InternalRow(eval(buf))).getBytes

  override def deserialize(bytes: Array[Byte]): java.util.HashSet[Any] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val buf = createAggregationBuffer()
    row.getArray(0).foreach(child.dataType, (_, v) => buf.add(InternalRow.copyValue(v)))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedDistinct = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedDistinct = copy(inputAggBufferOffset = o)
  override def prettyName: String = "bounded_distinct"
  override protected def withNewChildInternal(newChild: Expression): BoundedDistinct =
    copy(child = newChild)
}

/** Column-level entry points for the custom expressions. */
object GraftFunctions {
  def rollingHash(c: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c)))
  def rollingHash(c: Column, base: Long, mod: Long): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c), base, mod))
  def qnorm(c: Column): Column =
    ColumnBridge.column(QNorm(ColumnBridge.expression(c)))
  def boundedDistinct(c: Column, cap: Int): Column =
    ColumnBridge.column(BoundedDistinct(ColumnBridge.expression(c), cap).toAggregateExpression())
}

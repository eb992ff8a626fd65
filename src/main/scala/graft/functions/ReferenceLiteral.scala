package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** A constant that generated code reads through a reference object
  * instead of spelling it in the Java source.
  *
  * Spark's `Literal` writes long and timestamp values straight into the
  * generated source (`value_0 = 1792250381000000L;`), and the codegen
  * cache is keyed by that source text. A value that changes per request
  * — the collect clock — would therefore make every request's plan a
  * new class for Janino to compile. This leaf is deliberately not
  * foldable, so constant folding leaves it alone, and its code reads
  * the value from `references[]`: two plans that differ only in the
  * value share one compiled class. Only the long and timestamp
  * (microseconds) types the mappers need are supported.
  */
final case class ReferenceLiteral(value: Long, dataType: DataType)
    extends LeafExpression {

  require(dataType == LongType || dataType == TimestampType,
    s"ReferenceLiteral supports bigint and timestamp, got $dataType")

  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("refLiteral", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
      isNull = FalseLiteral)
  }
}

/** A constant string array passed to generated code by reference, as
  * [[ReferenceLiteral]] passes a number, that prints as its size: a
  * rule table's decode array holds hundreds of strings, and a `Literal`
  * would spell every one of them into each explain string, which Spark
  * builds on every SQL execution. */
final case class ReferenceStrings(values: Vector[String]) extends LeafExpression {

  @transient private lazy val array: ArrayData =
    new GenericArrayData(values.map(UTF8String.fromString).toArray[Any])

  // a val: Catalyst asks for the type on every tree walk
  override val dataType: DataType =
    ArrayType(StringType, containsNull = values.contains(null))
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = array

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ArrayData].getName
    val ref = ctx.addReferenceObj("strings", array, cls)
    ev.copy(code = code"final $cls ${ev.value} = $ref;", isNull = FalseLiteral)
  }

  override def toString: String = s"strings[${values.length}]"
}

object ReferenceLiteral {
  /** A bigint constant, passed to generated code by reference. */
  def long(value: Long): Column = column(ReferenceLiteral(value, LongType))

  /** The timestamp at `millis` since the epoch, passed to generated code
    * by reference. */
  def timestampMillis(millis: Long): Column =
    column(ReferenceLiteral(Math.multiplyExact(millis, 1000L), TimestampType))

  /** A constant string array, passed to generated code by reference. */
  def strings(values: Seq[String]): Column = column(ReferenceStrings(values.toVector))
}

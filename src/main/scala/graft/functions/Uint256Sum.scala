package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Exact unsigned-256-bit sum over a BinaryType column (big-endian bytes,
  * e.g. wei values).
  *
  * Why custom: the reference stores `value`/`difficulty`/`gas_price` as
  * Cassandra `varint` — arbitrary precision (ref: scripts/schema.cql:17-18,
  * 38,40). Spark's widest exact numeric is Decimal(38), which covers every
  * *realistic* wei value (SURVEY §1.2) but not the full uint256 domain; a
  * sum over billions of rows can also exceed 38 digits. This
  * `TypedImperativeAggregate` (the standard Spark pattern for
  * arbitrary-state aggregates, cf. HyperLogLogPlusPlus/percentile) keeps a
  * `BigInteger` accumulator: partial aggregation still happens map-side,
  * buffers serialize to the two's-complement byte form, and the result is
  * the exact decimal string.
  *
  * SQL name: `graft_uint256_sum` (register via [[GraftFunctions.register]]
  * or the `GraftExtensions` SparkSessionExtensions entry point).
  */
case class Uint256Sum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BigInteger] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_uint256_sum requires BinaryType input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): BigInteger = BigInteger.ZERO

  override def update(buffer: BigInteger, input: InternalRow): BigInteger = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val bytes = v.asInstanceOf[Array[Byte]]
      require(bytes.length <= 32, s"uint256 input wider than 32 bytes: ${bytes.length}")
      buffer.add(new BigInteger(1, bytes)) // 1 = treat as unsigned magnitude
    }
  }

  override def merge(buffer: BigInteger, other: BigInteger): BigInteger =
    buffer.add(other)

  override def eval(buffer: BigInteger): Any =
    UTF8String.fromString(buffer.toString)

  override def serialize(buffer: BigInteger): Array[Byte] = buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): BigInteger = new BigInteger(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): Uint256Sum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): Uint256Sum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Uint256Sum =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_uint256_sum"
}

/** Runtime registration of graft SQL functions (usable without session
  * restart; `GraftExtensions` does the same through the
  * SparkSessionExtensions config path). */
object GraftFunctions {
  val uint256SumInfo = new ExpressionInfo(
    classOf[Uint256Sum].getName, "graft_uint256_sum")

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_uint256_sum",
      (children: Seq[Expression]) => Uint256Sum(children.head).toAggregateExpression(),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      (children: Seq[Expression]) => DotProductExpr(children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_md5_long",
      (children: Seq[Expression]) => Md5LongExpr(children.head),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine",
      (children: Seq[Expression]) => CosineSimExpr(children(0), children(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfc",
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nfkc",
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head, compat = true),
      "built-in")
  }
}

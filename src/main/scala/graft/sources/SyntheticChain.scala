package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 source `graft-chain`: a deterministic synthetic Ethereum
  * chain, the engine's stand-in for the reference's batched JSON-RPC export
  * jobs (ref: scripts/eth_cassandra_streaming.py:107-180 — ExportBlocksJob /
  * ExportReceiptsJob / ExportTracesJob). Zero-egress: rows are generated,
  * not fetched, but the *planning* is the real thing ([[BlockRangeSource]]:
  * one input partition per `batchSize` block slice, batch or micro-batch).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-chain")
  *     .option("stream", "transaction")   // block|transaction|receipt|log|trace
  *     .option("start", 0).option("end", 999)
  *     .option("batchSize", 50)
  *     .load()
  * }}}
  *
  * Who renders what: the companion object holds the chain's formulas, once;
  * [[ChainReader]] turns them into rows here, and
  * [[graft.sources.rpc.SyntheticRpcServer]] renders the same values as
  * JSON-RPC responses for `graft-rpc` to decode. */
class SyntheticChain extends BlockRangeSource {
  override def shortName(): String = "graft-chain"
  override protected def node(options: CaseInsensitiveStringMap): ChainNode =
    ChainReader
}

/** The synthetic chain: its stream schemas and its formulas. Every value is
  * a pure function of (block, index) via md5, so any range re-read is
  * byte-identical — the property the reference's resume logic (T2) relies
  * on. Edge cases from FIXTURES.md §2 are woven in deterministically:
  * contract creations (every 7th tx), legacy txs (every 5th), pre-Byzantium
  * receipts (every 11th), empty to four-topic logs, failed traces (every
  * 13th) and one reward trace per block. Nullable values are `null` exactly
  * where the stream's column is. The DuckDB twins in RefQueries
  * (`chainTxCte` and the others) re-derive these formulas independently. */
object SyntheticChain {
  val Streams: Seq[String] = Seq("block", "transaction", "receipt", "log", "trace")

  /** The chain's height: what a read without `end` reaches. */
  val Tip = 999L

  /** Raw-extract schemas (pre-rename, hex-string flavor — FIXTURES.md §1). */
  def schemaFor(stream: String): StructType = stream match {
    case "block" => StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("number", IntegerType, nullable = false),
      StructField("hash", StringType, nullable = false),
      StructField("parent_hash", StringType, nullable = false),
      StructField("miner", StringType, nullable = false),
      StructField("difficulty", DecimalType(38, 0), nullable = false),
      StructField("gas_used", IntegerType, nullable = false),
      StructField("timestamp", IntegerType, nullable = false),
      StructField("transaction_count", ShortType, nullable = false)))
    case "transaction" => StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("hash", StringType, nullable = false),
      StructField("block_number", IntegerType, nullable = false),
      StructField("transaction_index", ShortType, nullable = false),
      StructField("from_address", StringType, nullable = false),
      StructField("to_address", StringType, nullable = true), // null = contract creation
      StructField("value", DecimalType(38, 0), nullable = false),
      StructField("gas", IntegerType, nullable = false),
      StructField("max_fee_per_gas", LongType, nullable = true))) // null = legacy tx
    case "receipt" => StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("transaction_hash", StringType, nullable = false),
      StructField("cumulative_gas_used", LongType, nullable = false),
      StructField("gas_used", LongType, nullable = false),
      StructField("contract_address", StringType, nullable = true),
      StructField("status", LongType, nullable = true))) // null pre-Byzantium
    case "log" => StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("block_number", IntegerType, nullable = false),
      StructField("log_index", IntegerType, nullable = false),
      StructField("transaction_hash", StringType, nullable = false),
      StructField("address", StringType, nullable = false),
      StructField("topics", ArrayType(StringType), nullable = true),
      StructField("data", StringType, nullable = true)))
    case "trace" => StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("block_number", IntegerType, nullable = false),
      StructField("trace_index", IntegerType, nullable = false),
      StructField("transaction_hash", StringType, nullable = true), // null = reward trace
      StructField("trace_type", StringType, nullable = false),
      StructField("trace_address", ArrayType(IntegerType), nullable = true),
      StructField("error", StringType, nullable = true)))
    case other => throw new IllegalArgumentException(
      s"unknown stream '$other' (expected one of ${Streams.mkString(", ")})")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def hash(kind: String, b: Long, i: Int): String =
    "0x" + md5Hex(s"$kind-$b-$i") + md5Hex(s"$kind-$b-$i-b")
  private def address(seed: String): String = "0x" + md5Hex(seed).take(40)
  private val TwoPow18 = BigInt(2).pow(18)
  private val TenPow20 = BigInt(10).pow(20)

  /** Transactions per block: 1..3. */
  def txCount(b: Long): Int = (b % 3).toInt + 1
  /** Logs per transaction: log `li` belongs to transaction `li / LogsPerTx`. */
  val LogsPerTx = 2

  /** Records of `stream` in block `b`: one trace per transaction plus the
    * block reward. */
  def records(stream: String, b: Long): Int = stream match {
    case "block" => 1
    case "transaction" | "receipt" => txCount(b)
    case "log" => txCount(b) * LogsPerTx
    case "trace" => txCount(b) + 1
  }

  // block b
  def blockHash(b: Long): String = hash("blk", b, 0)
  def miner(b: Long): String = address(s"miner-${b % 5}")
  def difficulty(b: Long): BigInt = TwoPow18 + b
  def blockGasUsed(b: Long): Long = b % 30000000
  def timestamp(b: Long): Long = 1438269988L + b * 13

  // transaction and receipt i of block b
  private def creation(b: Long, i: Int): Boolean = (b + i) % 7 == 0
  def txHash(b: Long, i: Int): String = hash("tx", b, i)
  def from(b: Long, i: Int): String = address(s"from-$b-$i")
  /** null = contract creation. */
  def to(b: Long, i: Int): String = if (creation(b, i)) null else address(s"to-$b-$i")
  def value(b: Long, i: Int): BigInt = TenPow20 + b * 1000 + i
  def gas(b: Long, i: Int): Int = 21000 + i
  /** null = legacy transaction. */
  def maxFeePerGas(b: Long, i: Int): java.lang.Long =
    if ((b + i) % 5 == 0) null else java.lang.Long.valueOf(30000000000L + b)
  def cumulativeGasUsed(b: Long, i: Int): Long = 21000L * (i + 1)
  def gasUsed(b: Long, i: Int): Long = 21000L + i
  /** Set on a contract creation only. */
  def contractAddress(b: Long, i: Int): String =
    if (creation(b, i)) address(s"ca-$b-$i") else null
  /** null = pre-Byzantium receipt, which carries [[root]] instead. */
  def status(b: Long, i: Int): java.lang.Long =
    if ((b + i) % 11 == 0) null else java.lang.Long.valueOf((b + i) % 2)
  def root(b: Long, i: Int): String = hash("rt", b, i)

  // log li of block b
  def logTxHash(b: Long, li: Int): String = txHash(b, li / LogsPerTx)
  def logAddress(b: Long, li: Int): String = address(s"addr-${(b + li) % 11}")
  /** 0..4 topics. */
  def topicCount(b: Long, li: Int): Int = ((b + li) % 5).toInt
  def topic(b: Long, li: Int, t: Int): String = "0x" + md5Hex(s"topic-$t-${(b + li) % 3}")
  def logData(b: Long, li: Int): String = "0x" + md5Hex(s"data-$b-$li")

  // trace i of block b: one per transaction, then the block reward
  private def reward(b: Long, i: Int): Boolean = i == txCount(b)
  /** null = the reward trace. */
  def traceTxHash(b: Long, i: Int): String = if (reward(b, i)) null else txHash(b, i)
  def traceType(b: Long, i: Int): String = if (reward(b, i)) "reward" else "call"
  /** null for the reward trace and each block's first trace. */
  def traceAddress(b: Long, i: Int): Array[Int] =
    if (reward(b, i) || i == 0) null else Array.tabulate(i % 3 + 1)(x => (x * 2) % 3)
  /** null = the trace succeeded. */
  def traceError(b: Long, i: Int): String =
    if (!reward(b, i) && (b + i) % 13 == 0) "out of gas" else null
}

/** `graft-chain`'s node: the tip is the chain's height, and a slice is
  * generated where it is read, one `InternalRow` per record from the
  * chain's formulas. */
private[sources] object ChainReader extends ChainNode {
  import SyntheticChain._

  override def tip(): Long = Tip
  override def slice(stream: String, lo: Long, hi: Long): Iterator[InternalRow] =
    (lo to hi).iterator.flatMap(b => Iterator.tabulate(records(stream, b))(i => row(stream, b, i)))

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def row(stream: String, b: Long, i: Int): InternalRow = stream match {
    case "block" =>
      InternalRow(utf8("block"), b.toInt, utf8(blockHash(b)), utf8(blockHash(b - 1)),
        utf8(miner(b)), Decimal(BigDecimal(difficulty(b)), 38, 0),
        blockGasUsed(b).toInt, timestamp(b).toInt, txCount(b).toShort)
    case "transaction" =>
      InternalRow(utf8("transaction"), utf8(txHash(b, i)), b.toInt, i.toShort,
        utf8(from(b, i)), utf8(to(b, i)), Decimal(BigDecimal(value(b, i)), 38, 0),
        gas(b, i), maxFeePerGas(b, i))
    case "receipt" =>
      InternalRow(utf8("receipt"), utf8(txHash(b, i)), cumulativeGasUsed(b, i),
        gasUsed(b, i), utf8(contractAddress(b, i)), status(b, i))
    case "log" =>
      InternalRow(utf8("log"), b.toInt, i, utf8(logTxHash(b, i)), utf8(logAddress(b, i)),
        new GenericArrayData(Array.tabulate[Any](topicCount(b, i))(t => utf8(topic(b, i, t)))),
        utf8(logData(b, i)))
    case "trace" =>
      val addr = traceAddress(b, i)
      InternalRow(utf8("trace"), b.toInt, i, utf8(traceTxHash(b, i)), utf8(traceType(b, i)),
        if (addr == null) null else new GenericArrayData(addr), utf8(traceError(b, i)))
  }
}

package graft.sources.rpc

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{BlockRangeSource, ChainNode, SyntheticChain}

/** DataSourceV2 source `graft-rpc`: the live-node JSON-RPC connector —
  * the reference's batched extraction jobs
  * (ref: scripts/eth_cassandra_streaming.py:107-180, batched providers at
  * :97-105) re-expressed as a Spark source. It shares `graft-chain`'s
  * table, scan and stream schemas ([[BlockRangeSource]]), so everything
  * downstream (formats, enrichment, sinks, resume) is source-agnostic;
  * what it adds is the transport (`url`, or `transport=synthetic` with its
  * `tip`, and `retries`) and the wire decode ([[RpcNode]]).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-rpc")
  *     .option("stream", "transaction")    // block|transaction|receipt|log|trace
  *     .option("start", 0).option("end", 999)
  *     .option("batchSize", 50)            // blocks per JSON-RPC batch POST
  *     .option("url", "http://node:8545")  // or transport=synthetic (tests)
  *     .option("retries", 3)
  *     .load()
  * }}}
  *
  * Without `end`, a batch read plans up to one `eth_blockNumber` poll and
  * a stream polls once per micro-batch. Each slice posts ONE batched
  * JSON-RPC request from its executor, so fetch parallelism is
  * cluster-wide (the reference caps at `max_workers=5` driver threads).
  * Retries ride [[RetryingTransport]] under Spark's own task retry.
  * Per-stream RPC choice mirrors ethereum-etl: blocks/transactions from
  * `eth_getBlockByNumber` (tx objects inline — no per-tx round trip),
  * receipts AND logs from `eth_getBlockReceipts` (one call per block, not
  * per tx), traces from `trace_block`.
  *
  * Who renders what: [[SyntheticRpcServer]] renders the synthetic chain's
  * formulas as JSON; this source only decodes the wire. The HTTP path
  * ([[HttpRpcTransport]]) is exercised in RpcSourceSpec against a loopback
  * JDK HttpServer running that node; `transport=synthetic` serves it
  * in-process. Equivalence with `graft-chain` is CI-asserted stream by
  * stream, which puts the whole wire codec under the existing DuckDB
  * stream oracles.
  */
class RpcChain extends BlockRangeSource {
  override def shortName(): String = "graft-rpc"
  override protected def node(options: CaseInsensitiveStringMap): ChainNode = {
    val transport: RpcTransport = options.getOrDefault("transport", "http") match {
      case "synthetic" => SyntheticRpcTransport(options.getLong("tip", SyntheticChain.Tip))
      case "http" =>
        val url = options.get("url")
        require(url != null, "graft-rpc requires option url (or transport=synthetic)")
        HttpRpcTransport(url)
      case other => throw new IllegalArgumentException(
        s"unknown transport '$other' (expected http or synthetic)")
    }
    RpcNode(RetryingTransport(transport, attempts = options.getInt("retries", 3)))
  }
}

/** A JSON-RPC node: the tip is one `eth_blockNumber` poll, and a slice is
  * ONE batched POST from the executor, decoded into rows in ascending
  * block, then intra-block record order, whatever order the node answered
  * the batch in. */
private final case class RpcNode(transport: RpcTransport) extends ChainNode {
  import RpcCodec._

  override def tip(): Long = parseBlockNumber(transport.post(blockNumberRequest()))

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def nullableUtf8(n: JsonNode, field: String): UTF8String =
    optText(n, field).map(utf8).orNull
  private def nullableLong(n: JsonNode, field: String): java.lang.Long =
    optQty(n, field).map(v => java.lang.Long.valueOf(v.toLong)).orNull
  private def elements(n: JsonNode): Iterator[JsonNode] = (0 until n.size()).iterator.map(n.get)

  override def slice(stream: String, lo: Long, hi: Long): Iterator[InternalRow] = {
    def fetch(body: String): Iterator[JsonNode] =
      parseBatchResponse(transport.post(body), 0 until (hi - lo + 1).toInt).iterator
    def receipts = fetch(receiptsRequest(lo, hi)).flatMap(elements)
    stream match {
      case "block" =>
        fetch(blocksRequest(lo, hi, fullTxs = false)).map { blk =>
          InternalRow(utf8("block"), qty(blk, "number").toInt,
            utf8(text(blk, "hash")), utf8(text(blk, "parentHash")), utf8(text(blk, "miner")),
            Decimal(BigDecimal(qty(blk, "difficulty")), 38, 0), qty(blk, "gasUsed").toInt,
            qty(blk, "timestamp").toInt, arr(blk, "transactions").size.toShort)
        }
      case "transaction" =>
        fetch(blocksRequest(lo, hi, fullTxs = true)).flatMap(arr(_, "transactions")).map { tx =>
          InternalRow(utf8("transaction"), utf8(text(tx, "hash")),
            qty(tx, "blockNumber").toInt, qty(tx, "transactionIndex").toShort,
            utf8(text(tx, "from")), nullableUtf8(tx, "to"),
            Decimal(BigDecimal(qty(tx, "value")), 38, 0), qty(tx, "gas").toInt,
            nullableLong(tx, "maxFeePerGas"))
        }
      case "receipt" =>
        receipts.map { r =>
          InternalRow(utf8("receipt"), utf8(text(r, "transactionHash")),
            qty(r, "cumulativeGasUsed").toLong, qty(r, "gasUsed").toLong,
            nullableUtf8(r, "contractAddress"),
            nullableLong(r, "status")) // pre-Byzantium receipts carry `root` instead
        }
      case "log" =>
        receipts.flatMap(arr(_, "logs")).map { lg =>
          InternalRow(utf8("log"), qty(lg, "blockNumber").toInt, qty(lg, "logIndex").toInt,
            utf8(text(lg, "transactionHash")), utf8(text(lg, "address")),
            new GenericArrayData(arr(lg, "topics").map(t => utf8(t.asText()): Any).toArray),
            utf8(text(lg, "data")))
        }
      case "trace" =>
        fetch(tracesRequest(lo, hi)).flatMap(elements(_).zipWithIndex).map { case (t, i) =>
          val addr = t.get("traceAddress")
          InternalRow(utf8("trace"), qty(t, "blockNumber").toInt, i,
            nullableUtf8(t, "transactionHash"), utf8(text(t, "type")),
            if (addr == null || addr.isNull) null
            else new GenericArrayData(elements(addr).map(_.asInt(): Any).toArray),
            nullableUtf8(t, "error"))
        }
      case other => throw new IllegalArgumentException(s"unknown stream '$other'")
    }
  }
}

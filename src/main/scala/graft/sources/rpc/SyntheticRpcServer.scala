package graft.sources.rpc

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.sources.SyntheticChain._

/** Deterministic JSON-RPC "node": serves `eth_blockNumber`,
  * `eth_getBlockByNumber`, `eth_getBlockReceipts` and `trace_block` for
  * the synthetic chain. It renders only: every value comes from
  * [[graft.sources.SyntheticChain]]'s formulas, the same ones `graft-chain`
  * turns into rows, so `graft-rpc` (wire decode) ≡ `graft-chain` (direct
  * generation) is an assertable equivalence (RpcSourceSpec) and the
  * existing DuckDB stream oracles cover the RPC path too.
  *
  * Wire fidelity notes (public Ethereum JSON-RPC conventions):
  *   - quantities are minimal 0x-hex;
  *   - a legacy tx carries NO `maxFeePerGas` member (absent, not null);
  *   - a pre-Byzantium receipt carries `root` instead of `status`;
  *   - a contract creation has `to: null` and a receipt `contractAddress`;
  *   - `trace_block` traces carry `type`/`traceAddress`/`error` with the
  *     block reward as a final `type: "reward"` trace without
  *     `transactionHash` (the OpenEthereum dialect ethereum-etl speaks).
  *
  * Batch responses are deliberately returned in REVERSE id order:
  * JSON-RPC servers may answer a batch in any order, and the shuffled
  * fixture proves the client really re-keys by id.
  */
object SyntheticRpcServer {

  private def q(n: BigInt): String = RpcCodec.hexQty(n)
  private def q(n: Long): String = RpcCodec.hexQty(BigInt(n))

  private def txObject(b: Long, i: Int): ObjectNode = {
    val o = RpcCodec.newObject()
    o.put("hash", txHash(b, i))
    o.put("blockNumber", q(b))
    o.put("transactionIndex", q(i.toLong))
    o.put("from", from(b, i))
    o.put("to", to(b, i)) // JSON null on a contract creation
    o.put("value", q(value(b, i)))
    o.put("gas", q(gas(b, i).toLong))
    val fee = maxFeePerGas(b, i)
    if (fee != null) o.put("maxFeePerGas", q(fee.longValue))
    o
  }

  private def block(b: Long, fullTxs: Boolean): ObjectNode = {
    val o = RpcCodec.newObject()
    o.put("number", q(b))
    o.put("hash", blockHash(b))
    o.put("parentHash", blockHash(b - 1))
    o.put("miner", miner(b))
    o.put("difficulty", q(difficulty(b)))
    o.put("gasUsed", q(blockGasUsed(b)))
    o.put("timestamp", q(timestamp(b)))
    val txs = o.putArray("transactions")
    (0 until txCount(b)).foreach { i =>
      if (fullTxs) txs.add(txObject(b, i)) else txs.add(txHash(b, i))
    }
    o
  }

  private def logObject(b: Long, li: Int): ObjectNode = {
    val o = RpcCodec.newObject()
    o.put("blockNumber", q(b))
    o.put("logIndex", q(li.toLong))
    o.put("transactionHash", logTxHash(b, li))
    o.put("address", logAddress(b, li))
    val topics = o.putArray("topics")
    (0 until topicCount(b, li)).foreach(t => topics.add(topic(b, li, t)))
    o.put("data", logData(b, li))
    o
  }

  private def receipts(b: Long): JsonNode = {
    val arr = RpcCodec.newArray()
    (0 until txCount(b)).foreach { i =>
      val o = RpcCodec.newObject()
      o.put("transactionHash", txHash(b, i))
      o.put("cumulativeGasUsed", q(cumulativeGasUsed(b, i)))
      o.put("gasUsed", q(gasUsed(b, i)))
      o.put("contractAddress", contractAddress(b, i)) // JSON null unless a creation
      val st = status(b, i)
      if (st == null) o.put("root", root(b, i)) else o.put("status", q(st.longValue))
      val logs = o.putArray("logs")
      (i * LogsPerTx until (i + 1) * LogsPerTx).foreach(li => logs.add(logObject(b, li)))
      arr.add(o)
    }
    arr
  }

  private def traces(b: Long): JsonNode = {
    val arr = RpcCodec.newArray()
    (0 until records("trace", b)).foreach { i =>
      val o = RpcCodec.newObject()
      o.put("blockNumber", q(b))
      o.put("type", traceType(b, i))
      val tx = traceTxHash(b, i)
      if (tx != null) o.put("transactionHash", tx)
      val addr = traceAddress(b, i)
      if (addr == null) o.putNull("traceAddress")
      else {
        val ta = o.putArray("traceAddress")
        addr.foreach(x => ta.add(x))
      }
      val err = traceError(b, i)
      if (err != null) o.put("error", err)
      arr.add(o)
    }
    arr
  }

  /** Handle one batch request body, returning the batch response body.
    * `tip` is the chain height `eth_blockNumber` reports — the streaming
    * tests' stand-in for a growing chain. */
  def handle(requestBody: String, tip: Long = Tip): String = {
    val req = RpcCodec.read(requestBody)
    require(req.isArray, "synthetic node only accepts batch requests")
    val out = RpcCodec.newArray()
    // reverse order: clients must re-key by id, not trust arrival order
    (req.size - 1) to 0 by -1 foreach { k =>
      val r = req.get(k)
      val id = r.path("id").asLong
      val method = r.path("method").asText
      val params = r.get("params")
      val el = RpcCodec.newObject()
      el.put("jsonrpc", "2.0")
      el.put("id", id)
      method match {
        case "eth_blockNumber" =>
          el.put("result", q(tip))
        case "eth_getBlockByNumber" =>
          el.set("result",
            block(RpcCodec.parseQty(params.get(0)).toLong, params.get(1).asBoolean))
        case "eth_getBlockReceipts" =>
          el.set("result", receipts(RpcCodec.parseQty(params.get(0)).toLong))
        case "trace_block" =>
          el.set("result", traces(RpcCodec.parseQty(params.get(0)).toLong))
        case other =>
          val err = el.putObject("error")
          err.put("code", -32601L)
          err.put("message", s"method not found: $other")
      }
      out.add(el)
    }
    RpcCodec.write(out)
  }
}

package graft.sources.rpc

/** Transport abstraction under the JSON-RPC source: one POST of a batch
  * body, one response body. Implementations must be Serializable — the
  * DSv2 reader factory ships them to executors, which is the point: fetch
  * parallelism is cluster-wide (one in-flight batch per input partition)
  * instead of the reference's `max_workers=5` driver-side thread pool
  * (ref: scripts/eth_cassandra_streaming.py:97-105). */
trait RpcTransport extends Serializable {
  def post(body: String): String
}

/** HTTP transport over `java.net.HttpURLConnection` (JDK-only, so nothing
  * non-serializable is held between calls — the connection is built per
  * POST). This is the production path; the zero-egress sandbox exercises
  * it end-to-end against a loopback `com.sun.net.httpserver` fixture in
  * RpcSourceSpec rather than a live node. */
final case class HttpRpcTransport(url: String,
                                  connectTimeoutMs: Int = 10000,
                                  readTimeoutMs: Int = 120000) extends RpcTransport {
  override def post(body: String): String = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      conn.setFixedLengthStreamingMode(bytes.length)
      val out = conn.getOutputStream
      try out.write(bytes) finally out.close()
      val code = conn.getResponseCode
      if (code != 200)
        throw new java.io.IOException(s"JSON-RPC HTTP $code from $url")
      val in = conn.getInputStream
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    } finally conn.disconnect()
  }
}

/** In-process transport serving the deterministic synthetic chain — the
  * zero-egress stand-in for a node (see [[SyntheticRpcServer]]). `tip` is
  * the height its `eth_blockNumber` reports. */
final case class SyntheticRpcTransport(tip: Long = graft.sources.SyntheticChain.Tip)
  extends RpcTransport {
  override def post(body: String): String = SyntheticRpcServer.handle(body, tip)
}

/** Bounded-retry decorator with exponential backoff — the reference
  * retries each batch on transient node errors
  * (ref: scripts/eth_cassandra_streaming.py `retry` decorator usage).
  * Deterministic: fixed backoff schedule, rethrows the LAST failure after
  * `attempts` tries so the task (and Spark's own task retry above it)
  * sees the real error. */
final case class RetryingTransport(inner: RpcTransport,
                                   attempts: Int = 3,
                                   backoffMs: Long = 100L) extends RpcTransport {
  require(attempts >= 1, s"attempts must be >= 1, got $attempts")
  override def post(body: String): String = {
    var k = 0
    var last: Throwable = null
    while (k < attempts) {
      try return inner.post(body)
      catch {
        // NonFatal only: a task-kill interrupt or a fatal JVM error must
        // propagate immediately — retrying through them would keep a
        // cancelled Spark task alive re-POSTing against the node
        case e: InterruptedException => throw e
        case scala.util.control.NonFatal(e) =>
          // an interrupt surfacing as InterruptedIOException (or any IO
          // error with the interrupt flag set) is a cancellation, not a
          // transient node failure — honor it
          if (Thread.currentThread().isInterrupted
            || e.isInstanceOf[java.io.InterruptedIOException]) throw e
          last = e
          k += 1
          if (k < attempts) Thread.sleep(backoffMs << (k - 1))
      }
    }
    throw last
  }
}

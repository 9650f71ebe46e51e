package graft.eth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.eth.EthTransforms.{BinaryDialect, CsvDialect, Dialect}

/** End-to-end ingest orchestration — the engine form of the reference's
  * `main()` (ref: scripts/eth_cassandra_streaming.py:562-658):
  *
  *   plan range (resume + watermark) -> export five streams -> enrich
  *   transactions with receipts (J1) -> per-stream format -> bucketed
  *   partitioned sink -> configuration row.
  *
  * Differences from the reference are Spark-native by design: the
  * micro-batch *loop* becomes partition-parallel slices of one job (the
  * source plans one input partition per RPC-batch window), retries are Spark
  * task retries, and idempotence comes from deterministic output +
  * partition overwrite instead of Cassandra upserts.
  */
object EthPipeline {

  /** Where a stream's rows come from: format name + options. Default is
    * the synthetic chain source; the JSON-RPC connector slots in with the
    * same contract — e.g.
    * `SourceConf("graft-rpc", 50, Map("url" -> "http://node:8545"))`
    * (or `transport -> synthetic` for the in-process node). Extra options
    * are passed through verbatim so connector-specific knobs (transport,
    * url, retries) need no pipeline changes. */
  final case class SourceConf(format: String = "graft-chain",
                              batchSize: Long = 50L,
                              options: Map[String, String] = Map.empty)

  final case class IngestReport(startBlock: Long, endBlock: Long,
                                rowCounts: Map[String, Long])

  /** One chain stream over blocks [lo, hi], read in batch from `conf`'s
    * source. Every batch chain read under `eth/` and `queries/` goes
    * through here (PipelineSpec's source lock). */
  private[graft] def readStream(spark: SparkSession, conf: SourceConf,
                                stream: String, lo: Long, hi: Long): DataFrame =
    chainRead(spark, conf, stream, lo, hi, streaming = false)

  /** The one builder of a chain read, batch or streaming: the stream, the
    * block range and the slice size, then `conf`'s own options verbatim
    * (they win on a clash). PipelineSpec's source lock keeps every other
    * chain `read`/`readStream` out of `eth/` and `queries/`. */
  private def chainRead(spark: SparkSession, conf: SourceConf, stream: String,
                        lo: Long, hi: Long, streaming: Boolean): DataFrame = {
    val options = Map("stream" -> stream, "start" -> lo.toString, "end" -> hi.toString,
      "batchSize" -> conf.batchSize.toString) ++ conf.options
    if (streaming) spark.readStream.format(conf.format).options(options).load()
    else spark.read.format(conf.format).options(options).load()
  }

  /** Receipt columns landed on transactions under `receipt_*` names
    * (ref: scripts/schema.cql:46-51). */
  private def receiptSide(receipts: DataFrame): DataFrame =
    receipts.select(
      col("transaction_hash"),
      col("cumulative_gas_used").as("receipt_cumulative_gas_used"),
      col("gas_used").as("receipt_gas_used"),
      col("contract_address").as("receipt_contract_address"),
      col("status").as("receipt_status"))

  private def bucketsOf(lo: Long, hi: Long): IndexedSeq[Long] =
    ((lo / 1000L) to (hi / 1000L)).toIndexedSeq

  /** The rows of one bucketed sink table in `[lo, hi]`, read from the
    * range's bucket directories only and with the table's known schema:
    * no listing of the whole table and no schema-inference job. None when
    * none of those buckets exists. */
  private[graft] def readRange(spark: SparkSession, path: String,
                               schema: StructType,
                               lo: Long, hi: Long): Option[DataFrame] =
    Sinks.readBuckets(spark, path, "block_id_group", bucketsOf(lo, hi), Some(schema))
      .map(_.filter(col("block_id").between(lo, hi)))

  /** The four sink tables of `[lo, hi]` read from `source`, formatted in
    * `dialect` and bucketed on `block_id_group`, with the J1 observation
    * that the first evaluation of `transaction` fills. */
  private def formattedBatch(spark: SparkSession, source: SourceConf,
                             lo: Long, hi: Long, dialect: Dialect)
      : (Map[String, DataFrame], org.apache.spark.sql.Observation) = {
    def stream(name: String) = readStream(spark, source, name, lo, hi)
    val blocks = stream("block")
    // J1 on the RAW hex hashes (both sides string — encoding to binary
    // happens in the formatter afterwards, so the join key never mixes
    // representations), single-pass contract validation via Observation.
    // J2 denorm, then format (rename/derive/encode) the enriched frame.
    val j1Obs = new org.apache.spark.sql.Observation()
    // receipts are deduped by PK upfront (replay-safe, T4) instead of the
    // eager duplicate scan inside enrichTransactions
    val enriched = EthTransforms.formatTransactions(
      Enrich.withBlockTimestamp(
        Enrich.enrichTransactions(stream("transaction"),
          receiptSide(stream("receipt").drop("type")).dropDuplicates("transaction_hash"),
          txHashCol = "hash", requireReceipt = false, missingObs = Some(j1Obs),
          checkDuplicates = false),
        blocks.select(col("number").as("block_number"), col("timestamp")),
        blockIdCol = "block_number"),
      dialect)
    (Map(
      "block" -> EthTransforms.formatBlocks(blocks, dialect),
      "transaction" -> enriched.withColumn("block_id_group",
        graft.functions.ColumnFns.blockIdGroup(col("block_id"))),
      "log" -> EthTransforms.formatLogs(stream("log"), dialect),
      "trace" -> EthTransforms.formatTraces(stream("trace"), dialect)), j1Obs)
  }

  /** Ingest `[startBlock, endBlock]` into `sinkDir/<table>` as
    * bucket-partitioned parquet. Idempotent: re-running a range overwrites
    * its partitions with identical bytes. */
  def ingestRange(spark: SparkSession, sinkDir: String,
                  startBlock: Long, endBlock: Long,
                  source: SourceConf = SourceConf(),
                  dialect: Dialect = CsvDialect): IngestReport = {
    require(endBlock >= startBlock, s"empty range [$startBlock, $endBlock]")
    val (formatted, j1Obs) = formattedBatch(spark, source, startBlock, endBlock, dialect)

    val sortKeys = Map(
      "block" -> Seq("block_id"),
      "transaction" -> Seq("block_id", "transaction_index"),
      "log" -> Seq("block_id", "topic0", "log_index"), // ref: schema.cql:101-102
      "trace" -> Seq("block_id", "trace_index"))

    // touched buckets are pure range arithmetic — no plan evaluation needed
    val buckets = bucketsOf(startBlock, endBlock)

    // Write order matters for resume correctness: `transaction` first, then
    // validate J1 from the observation that write already paid for. On a
    // contract violation nothing else (in particular `block`, the table
    // resume reads its max from) has been written, so the next
    // resumeAndIngest re-processes this range instead of skipping past the
    // bad rows.
    //
    // INVARIANT (J1 observation completeness): the Observation node sits
    // below everything the sink does with the batch, and CollectMetrics is
    // a pushdown barrier — Catalyst does not push predicates through it.
    // A mid-bucket upsert evaluates the batch exactly once, inside its
    // single write (the batch ∪ the stored overlap buckets through one PK
    // merge), so the metrics cover EVERY joined row, in the overlap buckets
    // and outside them. Locked by PipelineSpec "J1 observation covers
    // non-overlap rows in a mid-bucket upsert re-ingest": a missing receipt
    // planted in a non-overlap bucket must still raise.
    val writeOrder = Seq("transaction", "block", "log", "trace")
    def writeAndCount(table: String): (String, Long) = {
      val df = formatted(table)
      // upsert: a range that starts/ends mid-bucket must merge with rows
      // already in that bucket (dynamic overwrite replaces whole bucket dirs)
      Sinks.upsertBucketedParquet(df, s"$sinkDir/$table",
        pkCols = sortKeys(table), sortCols = sortKeys(table),
        newBuckets = Some(buckets))
      if (table == "transaction") Enrich.assertNoMissingReceipts(j1Obs)
      table -> readRange(spark, s"$sinkDir/$table", df.schema, startBlock, endBlock)
        .fold(0L)(_.count())
    }
    // `transaction` ALWAYS writes (and J1-validates) first — resume
    // correctness (comment above). The three remaining tables are
    // independent and COMMUTE (distinct sink dirs, per-write options, no
    // session conf mutation), so they are submitted from a small pool:
    // each write's straggler tail back-fills with the next write's tasks
    // and the three read-back counts overlap too (guide §2.6). Measured in
    // r16 against running them one after another (interleaved medians,
    // OPTIMIZATION_r16.md §7): 3.53 -> 2.06 s on local[32], 2.62 -> 1.76 s
    // on local[8], 3.92 -> 2.84 s on local-cluster[2,8].
    // Failure ordering among the tail does not matter for resume: it
    // reads `block`'s max, and a tail write failing after `block` landed
    // forces the same manual re-ingest whether the others ran before it
    // or beside it.
    val counts = (writeAndCount(writeOrder.head) +: {
      val tail = writeOrder.tail
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tail.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val fs = tail.map(t => scala.concurrent.Future(writeAndCount(t)))
        val inf = scala.concurrent.duration.Duration.Inf
        // ready ALL before any rethrow: a failing write must not leave
        // siblings running detached against the same sink
        val rs = fs.map(f => scala.concurrent.Await.ready(f, inf).value.get)
        rs.map(_.get)
      } finally pool.shutdown()
    }).toMap

    // K3: persist the partitioning contract next to the data.
    Ingest.configuration(spark).write.mode("overwrite")
      .parquet(s"$sinkDir/configuration")

    IngestReport(startBlock, endBlock, counts)
  }

  /** The reference's SECOND main program: ranged gzip-CSV export
    * (ref: scripts/eth_csv_export.py:400-598) — export the five streams,
    * enrich transactions (J1 + J2), format in the CSV dialect, project each
    * table to the reference's exact header order
    * (ref: scripts/eth_csv_export.py:33-114; [[EthSchemas.csvBlockColumns]]
    * et al., null-filling columns this source does not supply, because the
    * reference's DictWriter writes every header field), and write the
    * reference's exact file tree: `<prefix>_%08d-%08d.csv.gz` files per
    * `fileBatchSize` blocks inside `%08d-%08d` dirs per `partitionBatchSize`
    * blocks (ref: scripts/eth_csv_export.py:563-598), with the reference's
    * range rounding to full file windows (:501-511).
    * Returns per-table exported row counts (read back from the files, so a
    * short write can't go unnoticed). */
  def exportCsvRange(spark: SparkSession, outDir: String,
                     startBlock: Long, endBlock: Long,
                     source: SourceConf = SourceConf(),
                     fileBatchSize: Long = 1000L,
                     partitionBatchSize: Long = 1000000L): Map[String, Long] = {
    require(endBlock >= startBlock, s"empty range [$startBlock, $endBlock]")
    // the reference rounds to FULL file windows and exits when none fit
    // ("No blocks to export", ref: eth_csv_export.py:506-511) — mirror that
    // here, also avoiding a J1 observation that no action would ever evaluate
    val window = Ingest.roundToBuckets(startBlock, endBlock, fileBatchSize)
    if (window.isEmpty)
      return Map("transaction" -> 0L, "block" -> 0L, "log" -> 0L, "trace" -> 0L)
    val (roundedStart, roundedEnd) = window.get
    // the reference exports from rounded_start_block (eth_csv_export.py:505,
    // 538), so its first window file is always COMPLETE — read the streams
    // over the rounded range, not the caller's possibly-unaligned start,
    // or blocks [roundedStart, startBlock) would be missing from a window
    // file that a later resume (last covered block + 1) never revisits.
    val (formatted, j1Obs) = formattedBatch(spark, source, roundedStart,
      roundedEnd, EthTransforms.CsvDialect)
    val columnOrders = Map(
      "block" -> EthSchemas.csvBlockColumns,
      "transaction" -> EthSchemas.csvTransactionColumns,
      "log" -> EthSchemas.csvLogColumns,
      "trace" -> EthSchemas.csvTraceColumns)

    val sortKeys = Map(
      "block" -> Seq("block_id"),
      "transaction" -> Seq("block_id", "transaction_index"),
      "log" -> Seq("block_id", "log_index"),
      "trace" -> Seq("block_id", "trace_index"))

    val counts = Seq("transaction", "block", "log", "trace").map { table =>
      val df = formatted(table)
      // the FULL reference header, null-filling what this source doesn't
      // supply (a real JSON-RPC adapter fills every column)
      val full = columnOrders(table).map(c =>
        if (df.columns.contains(c)) col(c) else lit(null).cast("string").as(c))
      Sinks.writeReferenceCsvLayout(df.select(full.toIndexedSeq: _*), outDir,
        table, startBlock, endBlock, fileBatchSize, partitionBatchSize,
        sortCols = sortKeys(table))
      if (table == "transaction") Enrich.assertNoMissingReceipts(j1Obs)
      // count ONLY this export's window files (computed paths, no glob):
      // a resumed/incremental export into the same outDir must not fold
      // prior ranges into this range's short-write check
      val windows = Sinks.csvWindowPaths(outDir, table,
        roundedStart, roundedEnd, fileBatchSize, partitionBatchSize)
      table -> spark.read.option("header", "true")
        .option("delimiter", Sinks.csvDelimiter(table))
        .csv(windows: _*).count()
    }.toMap
    counts
  }

  /** Streaming ingest of the block stream (the reference's primary mode):
    * a streaming read of `source` built by the same option fold as
    * [[readStream]] (so a `graft-rpc` source keeps its transport and url),
    * per-micro-batch format + bucketed sink through
    * [[graft.streaming.MicroBatch]], offsets checkpointed. Who renders
    * what: the source's scan plans the micro-batches' block slices, this
    * method only formats and writes them.
    * With `Trigger.AvailableNow` this drains the backlog and stops —
    * restart with the same checkpoint resumes exactly where it left off
    * (the streaming-native T2, complementing the data-derived resume
    * below).
    *
    * Test-only: backs COVERAGE.md's "micro-batch range loop" (T1) row. */
  def streamBlocks(spark: SparkSession, sinkDir: String, checkpoint: String,
                   chainTip: Long, source: SourceConf = SourceConf(),
                   dialect: Dialect = CsvDialect):
      org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(
      chainRead(spark, source, "block", 0, chainTip, streaming = true),
      checkpoint, org.apache.spark.sql.streaming.Trigger.AvailableNow()) { (batch, _) =>
      if (!batch.isEmpty)
        // upsert, not overwrite: a micro-batch boundary can fall mid-bucket
        Sinks.upsertBucketedParquet(
          EthTransforms.formatBlocks(batch, dialect), s"$sinkDir/block",
          pkCols = Seq("block_id"))
    }

  /** Incremental run: resume from the sink's own max block (T2 — "the data
    * is the checkpoint"; [[Ingest.maxStoredBlock]]'s top-bucket probe), cap at `chainTip` or the completeness watermark.
    * Returns None if there is nothing to do. */
  def resumeAndIngest(spark: SparkSession, sinkDir: String, chainTip: Long,
                      source: SourceConf = SourceConf(),
                      dialect: Dialect = CsvDialect,
                      watermark: Option[Long] = None): Option[IngestReport] = {
    val start = Ingest.maxStoredBlock(spark, s"$sinkDir/block").map(_ + 1).getOrElse(0L)
    val end = watermark.fold(chainTip)(math.min(chainTip, _))
    if (end < start) None
    else Some(ingestRange(spark, sinkDir, start, end, source, dialect))
  }
}

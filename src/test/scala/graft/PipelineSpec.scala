package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.eth.{EthPipeline, Ingest, Sinks}
import graft.sources.SyntheticChain

/** End-to-end ingest: synthetic chain source -> enrich -> format -> bucketed
  * sink -> resume. The engine form of the reference's full `main()` run. */
class PipelineSpec extends SparkSpec {

  private def expectedTxs(lo: Long, hi: Long): Long =
    (lo to hi).map(SyntheticChain.txCount(_).toLong).sum

  test("source lock: queries and eth read a chain stream only through EthPipeline.readStream") {
    val roots = Seq("src/main/scala/graft/queries", "src/main/scala/graft/eth").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"run from the project root (no ${r.getAbsolutePath})"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    // a chain format by name, any streaming read, or a batch read whose
    // format is not a literal (a chain source held in a variable)
    val chainRead = """format\("graft-(chain|rpc)"\)|\.readStream\s*\.|\.read\s*\.format\((?!")""".r
    val builder = "src/main/scala/graft/eth/EthPipeline.scala"
    val offenders = roots.flatMap(files).filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toIndexedSeq finally src.close()
        // the builder's own lines: from its `def` to the method's closing brace
        val allowed = if (f.getPath != builder) Range(0, 0) else {
          val from = lines.indexWhere(_.contains("def chainRead("))
          assert(from >= 0, s"no chainRead builder in $builder")
          from until lines.indexWhere(_ == "  }", from)
        }
        lines.zipWithIndex.collect {
          case (line, i) if chainRead.findFirstIn(line).isDefined && !allowed.contains(i) =>
            s"${f.getPath}:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"read through EthPipeline.readStream instead: ${offenders.mkString(", ")}")
  }

  test("DSv2 source plans one partition per RPC-batch slice, deterministic re-read") {
    val df = spark.read.format("graft-chain")
      .option("stream", "block").option("start", 0).option("end", 999)
      .option("batchSize", 50).load()
    assert(df.rdd.getNumPartitions == 20) // 1000 blocks / 50
    assert(df.count() == 1000)
    val a = df.agg(sum(col("gas_used"))).collect()(0).getLong(0)
    val b = df.agg(sum(col("gas_used"))).collect()(0).getLong(0)
    assert(a == b) // pure function of block id
  }

  test("source streams carry the FIXTURES.md edge cases") {
    val txs = spark.read.format("graft-chain")
      .option("stream", "transaction").option("start", 0).option("end", 99).load()
    assert(txs.filter(col("to_address").isNull).count() > 0) // contract creation
    assert(txs.filter(col("max_fee_per_gas").isNull).count() > 0) // legacy tx
    val logs = spark.read.format("graft-chain")
      .option("stream", "log").option("start", 0).option("end", 99).load()
    assert(logs.filter(size(col("topics")) === 0).count() > 0) // empty topics
    assert(logs.filter(size(col("topics")) === 4).count() > 0) // max topics
    val traces = spark.read.format("graft-chain")
      .option("stream", "trace").option("start", 0).option("end", 99).load()
    assert(traces.filter(col("transaction_hash").isNull).count() > 0) // reward
    assert(traces.filter(col("error").isNotNull).count() > 0) // failed trace
  }

  test("full ingest: counts, enrichment, bucket layout, config row") {
    val sink = Files.createTempDirectory("pipeline").toString
    val report = EthPipeline.ingestRange(spark, sink, 0, 2049)
    assert(report.rowCounts("block") == 2050)
    assert(report.rowCounts("transaction") == expectedTxs(0, 2049))
    assert(report.rowCounts("log") == 2 * expectedTxs(0, 2049))

    // every transaction got its receipt columns (J1) and timestamp (J2)
    val tx = spark.read.parquet(s"$sink/transaction")
    assert(tx.filter(col("receipt_gas_used").isNull).count() == 0)
    assert(tx.filter(col("block_timestamp").isNull).count() == 0)
    // bucket layout: 3 partition dirs (0..2)
    assert(tx.select("block_id_group").distinct().count() == 3)

    // pruned range read touches one bucket
    val slice = Sinks.readBlockRange(spark, s"$sink/transaction", 1000, 1999)
    assert(slice.count() == expectedTxs(1000, 1999))

    // configuration row persisted (K3)
    val conf = spark.read.parquet(s"$sink/configuration").collect()(0)
    assert(conf.getAs[Int]("block_bucket_size") == 1000)
  }

  test("full ingest program runs off the JSON-RPC connector, byte-equal to the chain source") {
    // the "user could switch" assertion: the identical pipeline (enrich,
    // format, bucketed sink) fed by graft-rpc (wire encode -> synthetic
    // node -> wire decode) lands the same rows as the direct source
    val viaRpc = Files.createTempDirectory("pipeline_rpc").toString
    val viaChain = Files.createTempDirectory("pipeline_chain").toString
    val report = EthPipeline.ingestRange(spark, viaRpc, 0, 299,
      source = EthPipeline.SourceConf("graft-rpc", 50,
        Map("transport" -> "synthetic")))
    EthPipeline.ingestRange(spark, viaChain, 0, 299)
    assert(report.rowCounts("transaction") == expectedTxs(0, 299))
    Seq("block", "transaction", "log", "trace").foreach { t =>
      val a = spark.read.parquet(s"$viaRpc/$t")
      val b = spark.read.parquet(s"$viaChain/$t")
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"table $t diverges between rpc and chain ingest")
    }
  }

  test("streaming ingest drains the backlog; checkpoint restart resumes, no dupes") {
    val base = Files.createTempDirectory("pipeline_stream").toString
    val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    // run 1: tip at 999
    EthPipeline.streamBlocks(spark, sink, ckpt, chainTip = 399)
      .awaitTermination(120000)
    val afterFirst = spark.read.parquet(s"$sink/block")
    assert(afterFirst.count() == 400)
    // run 2: chain advanced to 899 — same checkpoint resumes at 400
    EthPipeline.streamBlocks(spark, sink, ckpt, chainTip = 899)
      .awaitTermination(120000)
    val afterSecond = spark.read.parquet(s"$sink/block")
    assert(afterSecond.count() == 900)
    assert(afterSecond.select("block_id").distinct().count() == 900) // no dupes
    assert(Ingest.maxIngestedBlock(afterSecond).contains(899L))
  }

  test("streamBlocks keeps the source's options: graft-rpc streams graft-chain's block sink") {
    val base = Files.createTempDirectory("pipeline_stream_rpc").toString
    EthPipeline.streamBlocks(spark, s"$base/rpc", s"$base/rpc_ckpt", chainTip = 299,
      source = EthPipeline.SourceConf("graft-rpc", 50, Map("transport" -> "synthetic")))
      .awaitTermination(120000)
    EthPipeline.streamBlocks(spark, s"$base/chain", s"$base/chain_ckpt", chainTip = 299)
      .awaitTermination(120000)
    val viaRpc = spark.read.parquet(s"$base/rpc/block")
    val viaChain = spark.read.parquet(s"$base/chain/block")
    assert(viaRpc.count() == 300)
    assert(viaRpc.exceptAll(viaChain).count() == 0 && viaChain.exceptAll(viaRpc).count() == 0,
      "the block sink diverges between rpc and chain streaming")
  }

  test("mid-bucket incremental ranges lose nothing (bucket-level upsert)") {
    val sink = Files.createTempDirectory("pipeline_midbucket").toString
    // tip 1499 ends mid-bucket-1; the next run starts mid-bucket-1
    assert(EthPipeline.resumeAndIngest(spark, sink, chainTip = 499).isDefined)
    assert(EthPipeline.resumeAndIngest(spark, sink, chainTip = 1250)
      .exists(r => r.startBlock == 500 && r.endBlock == 1250))
    val blocks = spark.read.parquet(s"$sink/block")
    assert(blocks.count() == 1251)
    assert(blocks.select("block_id").distinct().count() == 1251)
  }

  test("streaming restart at a mid-bucket offset loses nothing") {
    val base = Files.createTempDirectory("pipeline_stream_mid").toString
    val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    EthPipeline.streamBlocks(spark, sink, ckpt, chainTip = 499)
      .awaitTermination(120000)
    EthPipeline.streamBlocks(spark, sink, ckpt, chainTip = 1250)
      .awaitTermination(120000)
    val blocks = spark.read.parquet(s"$sink/block")
    assert(blocks.count() == 1251)
    assert(blocks.select("block_id").distinct().count() == 1251)
  }

  test("binary dialect ingest: J1 joins on raw hex before blob encoding") {
    val sink = Files.createTempDirectory("pipeline_bin").toString
    val report = EthPipeline.ingestRange(spark, sink, 0, 199,
      dialect = graft.eth.EthTransforms.BinaryDialect)
    assert(report.rowCounts("transaction") == expectedTxs(0, 199))
    val tx = spark.read.parquet(s"$sink/transaction")
    assert(tx.schema("tx_hash").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(tx.filter(col("receipt_gas_used").isNull).count() == 0)
  }

  test("CSV export: reference file tree, exact header order, full counts") {
    val out = Files.createTempDirectory("pipeline_csv").toString
    val counts = EthPipeline.exportCsvRange(spark, out, 0, 199, fileBatchSize = 100)
    assert(counts("block") == 200)
    assert(counts("transaction") == expectedTxs(0, 199))
    assert(counts("log") == 2 * expectedTxs(0, 199))
    assert(counts("trace") == expectedTxs(0, 199) + 200) // +1 reward/block

    // the reference's tree: one %08d-%08d dir per 1M-block partition window,
    // per-100-block <prefix>_%08d-%08d.csv.gz files inside it
    // (ref: eth_csv_export.py:563-598; tx_/logs_ prefixes :520-523)
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs == Set("00000000-00999999"), dirs)
    val files = new java.io.File(s"$out/00000000-00999999")
      .listFiles().map(_.getName).toSet
    val expected = for {
      p <- Set("block", "tx", "trace", "logs")
      w <- Set("00000000-00000099", "00000100-00000199")
    } yield s"${p}_$w.csv.gz"
    assert(files == expected, files)

    // header order == the FULL reference header, exactly (missing source
    // columns are written empty, like the reference's DictWriter)
    val header = spark.read.option("header", "true")
      .csv(s"$out/00000000-00999999/block_*.csv.gz").columns.toSeq
    assert(header == graft.eth.EthSchemas.csvBlockColumns)
    // the log table uses the '|' dialect: raw lines contain the delimiter
    val logHeader = spark.read.option("header", "true").option("delimiter", "|")
      .csv(s"$out/00000000-00999999/logs_*.csv.gz").columns.toSeq
    assert(logHeader == graft.eth.EthSchemas.csvLogColumns)

    // the reference rounds to full file windows — a range smaller than one
    // window exports nothing ("No blocks to export", eth_csv_export.py:506-511)
    val out2 = Files.createTempDirectory("pipeline_csv2").toString
    val none = EthPipeline.exportCsvRange(spark, out2, 0, 199)
    assert(none.values.forall(_ == 0L))
    assert(new java.io.File(out2).listFiles().isEmpty)

    // continue_export resume: the recursive block* walk over the subdir
    // tree recovers "last exported block + 1" (eth_csv_export.py:474-479)
    assert(graft.eth.Ingest.resumeCsvExport(spark, out) == Some(200L))
    assert(graft.eth.Ingest.resumeCsvExport(spark, out2).isEmpty)
    assert(graft.eth.Ingest.resumeCsvExport(spark, s"$out2/absent").isEmpty)
    // and a follow-up export from the resume point extends the same tree —
    // its read-back counts cover ONLY the new range's window files, not the
    // cumulative tree (a whole-tree glob would report 300 here and mask a
    // short write of the new range)
    val more = EthPipeline.exportCsvRange(spark, out, 200, 299, fileBatchSize = 100)
    assert(more("block") == 100, more)
    assert(more("transaction") == expectedTxs(200, 299))
    assert(graft.eth.Ingest.resumeCsvExport(spark, out) == Some(300L))
  }

  test("CSV export from an unaligned start rounds DOWN and writes complete windows") {
    // the reference re-exports from rounded_start_block (eth_csv_export.py:
    // 505,538): asking for [250, 499] must produce a COMPLETE 200-299
    // window file, not one missing blocks 200-249 — a later resume
    // (last covered block + 1 = 500) would never revisit them
    val out = Files.createTempDirectory("pipeline_csv_unaligned").toString
    val counts = EthPipeline.exportCsvRange(spark, out, 250, 499, fileBatchSize = 100)
    assert(counts("block") == 300, counts) // 200..499: rounded-down start
    val firstWindow = spark.read.option("header", "true")
      .csv(s"$out/00000000-00999999/block_00000200-00000299.csv.gz")
    assert(firstWindow.count() == 100)
    assert(graft.eth.Ingest.resumeCsvExport(spark, out) == Some(500L))
  }

  test("J1 observation covers non-overlap rows in a mid-bucket upsert re-ingest") {
    // Locks the invariant EthPipeline.ingestRange relies on: the Observation
    // attached by enrichTransactions must see EVERY joined row when the
    // batch only partly overlaps stored buckets, where upsertBucketedParquet
    // merges the batch with the stored overlap inside its one write. If the
    // sink ever evaluated only part of the batch below CollectMetrics (or
    // Catalyst pushed a bucket filter through it), the missing receipt
    // planted in the NON-overlap bucket would go unobserved and this test
    // would fail.
    import spark.implicits._
    import graft.functions.ColumnFns
    val sink = Files.createTempDirectory("pipeline_j1obs").toString + "/tx"
    // pre-existing sink: bucket 1 partially filled (blocks 1000..1499)
    val pre = (1000L to 1499L).toDF("block_id")
      .withColumn("gas_used", lit(0L))
      .withColumn("block_id_group", ColumnFns.blockIdGroup(col("block_id")))
    Sinks.writeBucketedParquet(pre, sink, "block_id_group", Seq("block_id"))

    // re-ingest 1200..2500: bucket 1 overlaps the sink, bucket 2 is new.
    // The ONLY missing receipt is block 2400 — squarely in non-overlap.
    val txs = (1200L to 2500L).toDF("block_id")
      .withColumn("hash", concat(lit("0x"), md5(col("block_id").cast("string"))))
    val receipts = txs.filter(col("block_id") =!= 2400L)
      .select(col("hash").as("transaction_hash"), lit(21000L).as("gas_used"))
    val obs = new org.apache.spark.sql.Observation()
    val enriched = graft.eth.Enrich.enrichTransactions(txs, receipts,
        txHashCol = "hash", requireReceipt = false, missingObs = Some(obs),
        checkDuplicates = false)
      .withColumn("block_id_group", ColumnFns.blockIdGroup(col("block_id")))
      .select("block_id", "gas_used", "block_id_group")
    Sinks.upsertBucketedParquet(enriched, sink, pkCols = Seq("block_id"))
    val ex = intercept[graft.eth.Enrich.MissingReceiptException] {
      graft.eth.Enrich.assertNoMissingReceipts(obs)
    }
    assert(ex.missing == 1)
  }

  test("resume continues from the sink's max block; idempotent re-run") {
    val sink = Files.createTempDirectory("pipeline_resume").toString
    assert(EthPipeline.resumeAndIngest(spark, sink, chainTip = 299).isDefined)
    val r2 = EthPipeline.resumeAndIngest(spark, sink, chainTip = 599)
    assert(r2.exists(r => r.startBlock == 300 && r.endBlock == 599))
    // fully caught up -> nothing to do
    assert(EthPipeline.resumeAndIngest(spark, sink, chainTip = 599).isEmpty)
    // watermark caps the end block (T3)
    assert(EthPipeline.resumeAndIngest(spark, sink, chainTip = 2000,
      watermark = Some(750L)).exists(_.endBlock == 750))
    // total rows = one copy of every block 0..750
    assert(spark.read.parquet(s"$sink/block").count() == 751)
    assert(Ingest.maxIngestedBlock(
      spark.read.parquet(s"$sink/block")).contains(750L))
  }

  test("ingest read-back counts scan only the range's bucket dirs") {
    val sink = Files.createTempDirectory("pipeline_readback").toString
    val rep = EthPipeline.ingestRange(spark, sink, 0, 2099)
    val path = s"$sink/block"
    val schema = spark.read.parquet(path).schema
    // the read-back of a later range [1500, 2099] touches buckets 1 and 2
    // only — never the sink root, whose listing grows with the sink
    val df = EthPipeline.readRange(spark, path, schema, 1500, 2099).get
    val roots = df.queryExecution.analyzed.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelationWithTable(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _) =>
        fs.location.rootPaths.map(_.getName)
    }.flatten
    assert(roots.toSet == Set("block_id_group=1", "block_id_group=2"),
      s"read-back roots must be the touched bucket dirs, got $roots")
    assert(df.count() == 600)
    // the report's counts are exactly the rows of the range on disk
    assert(rep.rowCounts("block") == 2100)
    assert(rep.rowCounts("transaction") == expectedTxs(0, 2099))
    assert(EthPipeline.readRange(spark, path, schema, 5000, 5999).isEmpty)
  }

  test("resume position from the top bucket equals the whole-sink max + 1") {
    import spark.implicits._
    import graft.functions.ColumnFns
    val sink = Files.createTempDirectory("pipeline_resume_top").toString
    // four buckets, the top one (3) partially filled up to block 3456
    val blocks = (0 to 3456).toDF("block_id")
      .withColumn("block_id_group", ColumnFns.blockIdGroup(col("block_id")))
    Sinks.writeBucketedParquet(blocks, s"$sink/block")
    val wholeMax = Ingest.maxIngestedBlock(spark.read.parquet(s"$sink/block")).get
    assert(wholeMax == 3456L)
    val r = EthPipeline.resumeAndIngest(spark, sink, chainTip = wholeMax + 3)
    assert(r.exists(rep => rep.startBlock == wholeMax + 1 && rep.endBlock == wholeMax + 3))
    // a higher bucket directory that holds no rows is skipped: the probe
    // falls back to the next bucket down
    assert(new java.io.File(s"$sink/block/block_id_group=9").mkdirs())
    val r2 = EthPipeline.resumeAndIngest(spark, sink, chainTip = wholeMax + 5)
    assert(r2.exists(_.startBlock == wholeMax + 4))
  }

  test("a failing tail write rethrows only after its sibling writes finished") {
    val sink = Files.createTempDirectory("pipeline_tail_fail").toString
    // a regular file where the `block` table's directory belongs: that
    // write fails as soon as it starts, while `log` and `trace` beside it
    // are still running
    Files.writeString(java.nio.file.Paths.get(sink, "block"), "not a directory")
    intercept[org.apache.hadoop.fs.ParentNotDirectoryException](
      EthPipeline.ingestRange(spark, sink, 0, 1999))
    // job-end events reach the status store through the async listener
    // bus: flush it, so a job still listed as running really is running
    flushListenerBus()
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling tail write is still running against the sink")
    // `transaction` writes (and J1-validates) before the pooled tail starts
    assert(spark.read.parquet(s"$sink/transaction").count() == expectedTxs(0, 1999))
  }
}

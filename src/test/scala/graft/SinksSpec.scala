package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.eth.Sinks
import graft.functions.ColumnFns._

class SinksSpec extends SparkSpec {

  test("upsert OVERLAP path survives schema evolution in the batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("sink_evo_ov").toString + "/t"
    // sink: blocks 0..1499 (bucket 1 partial), pre-evolution schema
    val v1 = (0L until 1500L).toDF("block_id")
      .withColumn("block_id_group", graft.functions.ColumnFns.blockIdGroup(col("block_id")))
    Sinks.writeBucketedParquet(v1, path, "block_id_group", Seq("block_id"))
    // re-ingest 1200..2500 WITH a new column — bucket 1 overlaps, so the
    // merge path must read the old bucket and null-fill the new column
    val v2 = (1200L until 2501L).toDF("block_id")
      .withColumn("base_fee", col("block_id") * 7)
      .withColumn("block_id_group", graft.functions.ColumnFns.blockIdGroup(col("block_id")))
    Sinks.upsertBucketedParquet(v2, path, pkCols = Seq("block_id"))
    val out = spark.read.option("mergeSchema", "true").parquet(path)
    assert(out.count() == 2501)
    assert(out.select("block_id").distinct().count() == 2501)
    assert(out.filter(col("block_id") >= 1200 && col("base_fee").isNull).count() == 0)
    assert(out.filter(col("block_id") < 1200 && col("base_fee").isNotNull).count() == 0)
  }

  test("upsertBucketedParquetReturning: written frame + observed buckets match disk; empty write hits the fallback") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("sink_ret").toString + "/t"
    // seed buckets 0 and 1
    val v1 = Seq((1L, 0L, "a"), (2L, 0L, "b"), (10L, 1L, "c"))
      .toDF("id", "kb", "v")
    Sinks.writeBucketedParquet(v1, path, "kb", Seq("id"))
    // upsert rows into bucket 1 while dropOldKeys erases bucket 0's only
    // ids: the write must produce rows for bucket 1 ONLY — the returned
    // bucket list is {1}, and bucket 0 (merged empty) is NOT in it
    val batch = Seq((11L, 1L, "d")).toDF("id", "kb", "v")
    val (written, kbs) = Sinks.upsertBucketedParquetReturning(batch, path,
      pkCols = Seq("id"), bucketCol = "kb", sortCols = Seq("id"),
      newBuckets = Some(Seq(0L, 1L)),
      dropOldKeys = Some(Seq(1L, 2L).toDF("id")))
    assert(kbs.toSet == Set(1L), s"observed written buckets: $kbs")
    // the returned frame is exactly what landed in the written buckets
    val disk = spark.read.parquet(s"$path/kb=1")
      .select(col("id"), col("v")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val mem = written.filter(col("kb") === 1L)
      .select(col("id"), col("v")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(mem == disk && disk == Set((10L, "c"), (11L, "d")))
    // bucket 0 merged empty: the upsert deleted its directory, and its
    // stored rows were all dropOldKeys-erased from the MERGE frame
    assert(!new java.io.File(s"$path/kb=0").exists())
    assert(written.filter(col("kb") === 0L).count() == 0)
    // EMPTY write: a batch with zero rows whose dropOldKeys erases the
    // remaining bucket-1 ids -> the write has no rows and no observed
    // bucket, and bucket 1, read and emptied, is deleted too
    val empty = batch.limit(0)
    val (w2, kbs2) = Sinks.upsertBucketedParquetReturning(empty, path,
      pkCols = Seq("id"), bucketCol = "kb", sortCols = Seq("id"),
      newBuckets = Some(Seq(1L)),
      dropOldKeys = Some(Seq(10L, 11L).toDF("id")))
    assert(kbs2.isEmpty && w2.count() == 0)
    assert(!new java.io.File(s"$path/kb=1").exists())
  }

  test("an eraser that empties a stored bucket deletes it (dropOldWhere, dropOldKeys)") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    // each eraser matches all of bucket 0 and no incoming row lands there
    val erasers: Seq[(String, Option[Column], Option[org.apache.spark.sql.DataFrame])] = Seq(
      ("dropOldWhere", Some(col("kb") === 0L), None),
      ("dropOldKeys", None, Some(Seq(1L, 2L).toDF("id"))))
    erasers.foreach { case (name, where, keys) =>
      val path = Files.createTempDirectory("sink_erase").toString + "/t"
      Sinks.writeBucketedParquet(Seq((1L, 0L, "a"), (2L, 0L, "b"), (10L, 1L, "c"))
        .toDF("id", "kb", "v"), path, "kb", Seq("id"))
      Sinks.upsertBucketedParquet(Seq((11L, 1L, "d")).toDF("id", "kb", "v"), path,
        pkCols = Seq("id"), bucketCol = "kb", sortCols = Seq("id"),
        newBuckets = Some(Seq(0L, 1L)), dropOldWhere = where, dropOldKeys = keys)
      assert(!new java.io.File(s"$path/kb=0").exists(), s"$name: emptied bucket left on disk")
      val back = spark.read.parquet(path).select("id", "kb").as[(Long, Long)].collect().toSet
      assert(back == Set((10L, 1L), (11L, 1L)), s"$name: $back")
    }
  }

  test("readBuckets: scoped listing reads named buckets only, skips absent ones, None on empty sink") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("sink_scoped").toString + "/t"
    // nothing on disk: None, never a schema-inference failure
    assert(Sinks.readBuckets(spark, path, "kb", Seq(0L, 1L)).isEmpty)
    val df = (0L until 300L).map(i => (i, i % 3, s"v$i")).toDF("id", "kb", "v")
    Sinks.writeBucketedParquet(df, path, "kb", Seq("id"))
    // scoped read returns exactly the named buckets' rows, with the
    // partition column present (basePath) — absent bucket 9 is skipped
    val got = Sinks.readBuckets(spark, path, "kb", Seq(0L, 2L, 9L)).get
    assert(got.columns.contains("kb"), "basePath must keep the partition column")
    assert(got.count() == 200L)
    assert(got.select(col("kb").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(0L, 2L))
    // and the listing really is scoped: only the requested dirs appear
    // in the scan's root paths (never the sink root, whose listing is
    // what costs O(total buckets) at corpus-scaled bucket counts)
    val roots = got.queryExecution.analyzed.collect {
      case org.apache.spark.sql.execution.datasources.LogicalRelationWithTable(
          fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _) =>
        fs.location.rootPaths.map(_.getName)
    }.flatten
    assert(roots.toSet == Set("kb=0", "kb=2"),
      s"scan roots must be the named bucket dirs, got $roots")
    // all-absent request: None (replay may name buckets a crash deleted)
    assert(Sinks.readBuckets(spark, path, "kb", Seq(7L, 9L)).isEmpty)
  }

  test("mid-bucket upsert is one SQL execution: one exchange, one sort, no pin") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.{LogicalRDD, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val path = Files.createTempDirectory("sink_onepass").toString + "/t"
    val v1 = (0L until 1500L).map(i => (i, (i / 1000).toInt, s"a$i"))
      .toDF("block_id", "block_id_group", "v")
    Sinks.writeBucketedParquet(v1, path)
    // 1200..2499: bucket 1 overlaps the stored rows, bucket 2 is new
    val batch = (1200L until 2500L).map(i => (i, (i / 1000).toInt, s"b$i"))
      .toDF("block_id", "block_id_group", "v")
    val execs = executionsOf {
      Sinks.upsertBucketedParquet(batch, path, pkCols = Seq("block_id"),
        newBuckets = Some(Seq(1L, 2L)))
    }
    assert(execs.size == 1, s"expected one SQL execution, got ${execs.size}")
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val plan: SparkPlan = execs.head.executedPlan
    assert(helper.find(plan)(_.isInstanceOf[DataWritingCommandExec]).isDefined,
      s"not the write:\n$plan")
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    val sorts = helper.collect(plan) { case s: SortExec => s }
    assert(exchanges.size == 1 && sorts.size == 1,
      s"expected one exchange and one sort:\n$plan")
    val pinned = execs.head.optimizedPlan.collect { case r: LogicalRDD => r }
    assert(pinned.isEmpty && !plan.toString.contains("localCheckpoint"),
      s"the write must not read a pin:\n$plan")
    // and the merge is right: stored rows below 1200 kept, 1200.. replaced
    val back = spark.read.parquet(path).select("block_id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.size == 2500)
    assert((0L until 1200L).forall(i => back(i) == s"a$i"))
    assert((1200L until 2500L).forall(i => back(i) == s"b$i"))
  }

  test("self-read upsert: a batch derived from the overlap bucket it overwrites") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val path = Files.createTempDirectory("sink_selfread").toString + "/t"
    val v1 = (0L until 1500L).map(i => (i, (i / 1000).toInt, s"a$i"))
      .toDF("block_id", "block_id_group", "v")
    Sinks.writeBucketedParquet(v1, path)
    // read bucket 1 back, change every other row, upsert it into bucket 1:
    // the batch and the stored overlap are the same files, all replaced at
    // the write's commit — a missing file would fail the read
    val changed = Sinks.readBuckets(spark, path, "block_id_group", Seq(1L)).get
      .filter(col("block_id") % 2 === 0)
      .withColumn("v", concat(col("v"), lit("!")))
    Sinks.upsertBucketedParquet(changed, path, pkCols = Seq("block_id"),
      newBuckets = Some(Seq(1L)))
    val back = spark.read.parquet(path).select("block_id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back.size == 1500)
    assert((0L until 1500L).forall { i =>
      back(i) == (if (i >= 1000 && i % 2 == 0) s"a$i!" else s"a$i")
    })
  }

  test("replaying a mid-bucket upsert leaves identical bucket contents") {
    import spark.implicits._
    val path = Files.createTempDirectory("sink_replay").toString + "/t"
    val v1 = (0L until 1500L).map(i => (i, (i / 1000).toInt, s"a$i"))
      .toDF("block_id", "block_id_group", "v")
    Sinks.writeBucketedParquet(v1, path)
    val batch = (1250L until 2250L).map(i => (i, (i / 1000).toInt, s"b$i"))
      .toDF("block_id", "block_id_group", "v")
    def contents(): Map[String, Seq[(Long, String)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("block_id_group="))
        .map(d => d.getName -> spark.read.parquet(d.getPath)
          .select("block_id", "v").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted)
        .toMap
    Sinks.upsertBucketedParquet(batch, path, pkCols = Seq("block_id"),
      newBuckets = Some(Seq(1L, 2L)))
    val once = contents()
    Sinks.upsertBucketedParquet(batch, path, pkCols = Seq("block_id"),
      newBuckets = Some(Seq(1L, 2L)))
    assert(contents() == once)
    assert(once.keySet == Set("block_id_group=0", "block_id_group=1", "block_id_group=2"))
    assert(once.values.map(_.size).sum == 2250)
  }

  test("upsert rejects a batch carrying null buckets (fallback bucket discovery)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when}
    val path = java.nio.file.Files.createTempDirectory("sink_nullb").toString + "/t"
    val df = (0L until 10L).toDF("block_id")
      .withColumn("block_id_group",
        when(col("block_id") < 5, graft.functions.ColumnFns.blockIdGroup(col("block_id"))))
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertBucketedParquet(df, path, pkCols = Seq("block_id"))
    }
    assert(e.getMessage.contains("null"))
  }

  test("schema evolution: later buckets may add columns; mergeSchema reads both") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("sink_evo").toString + "/t"
    // epoch 1: no base_fee (pre-London blocks); epoch 2 adds the column
    val v1 = (0L until 1000L).toDF("block_id")
      .withColumn("block_id_group", graft.functions.ColumnFns.blockIdGroup(org.apache.spark.sql.functions.col("block_id")))
    Sinks.writeBucketedParquet(v1, path, "block_id_group", Seq("block_id"))
    val v2 = (1000L until 2000L).toDF("block_id")
      .withColumn("base_fee", org.apache.spark.sql.functions.col("block_id") * 7)
      .withColumn("block_id_group", graft.functions.ColumnFns.blockIdGroup(org.apache.spark.sql.functions.col("block_id")))
    Sinks.upsertBucketedParquet(v2, path, pkCols = Seq("block_id"))
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.contains("base_fee"))
    assert(merged.count() == 2000)
    // old buckets read the new column as null; new buckets carry values
    assert(merged.filter(org.apache.spark.sql.functions.col("block_id") < 1000
      && org.apache.spark.sql.functions.col("base_fee").isNotNull).count() == 0)
    assert(merged.filter(org.apache.spark.sql.functions.col("base_fee").isNotNull).count() == 1000)
  }
  import spark.implicits._

  test("bucketed parquet sink: range read-back is correct AND partition-pruned") {
    val path = Files.createTempDirectory("sinks_spec").toString + "/t"
    val df = (0L until 5000L).toDF("block_id")
      .withColumn("block_id_group", blockIdGroup($"block_id"))
    Sinks.writeBucketedParquet(df, path)

    val back = Sinks.readBlockRange(spark, path, 1500, 2499)
    assert(back.count() == 1000)
    assert(back.agg(min($"block_id"), max($"block_id")).collect()(0).toSeq == Seq(1500L, 2499L))

    // the bucket filter must prune partitions (directories), not rows
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("block_id_group"),
      s"expected partition pruning in plan:\n$plan")
    // and only 2 of 5 partition dirs contribute
    val scanned = back.select(col("block_id_group")).distinct().count()
    assert(scanned == 2)
  }

  test("one output file per bucket (small-files control)") {
    val path = Files.createTempDirectory("sinks_spec2").toString + "/t"
    val df = (0L until 3000L).toDF("block_id")
      .withColumn("block_id_group", blockIdGroup($"block_id"))
    Sinks.writeBucketedParquet(df, path)
    val files = new java.io.File(path).listFiles().filter(_.getName.startsWith("block_id_group="))
    assert(files.length == 3)
    files.foreach { dir =>
      assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"expected exactly one parquet file in ${dir.getName}")
    }
  }

  test("upsert: incoming rows win over stored rows on PK collision (last-write-wins)") {
    val path = Files.createTempDirectory("sinks_upsert").toString + "/t"
    val v1 = Seq((100L, 0, "old"), (101L, 0, "keep")).toDF("block_id", "block_id_group", "v")
    Sinks.writeBucketedParquet(v1, path)
    // re-ingest block 100 with changed content (reorg scenario), same bucket
    val v2 = Seq((100L, 0, "new"), (102L, 0, "added")).toDF("block_id", "block_id_group", "v")
    Sinks.upsertBucketedParquet(v2, path, pkCols = Seq("block_id"),
      newBuckets = Some(Seq(0L)))
    val back = spark.read.parquet(path).orderBy("block_id").collect()
      .map(r => r.getAs[Long]("block_id") -> r.getAs[String]("v"))
    assert(back.toSeq == Seq(100L -> "new", 101L -> "keep", 102L -> "added"))
  }

  test("upsert into an empty sink is a plain bucketed write") {
    val path = Files.createTempDirectory("sinks_upsert2").toString + "/t"
    val df = Seq((1L, 0)).toDF("block_id", "block_id_group")
    Sinks.upsertBucketedParquet(df, path, pkCols = Seq("block_id"))
    assert(spark.read.parquet(path).count() == 1)
  }

  test("CSV dialect roundtrip: log table uses '|', preserves commas in topics, empty-string nulls") {
    val path = Files.createTempDirectory("sinks_csv").toString + "/log"
    val schema = StructType(Seq(
      StructField("block_id", IntegerType),
      StructField("topics", StringType),
      StructField("error", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1, """["0xaa","0xbb"]""", null),
        org.apache.spark.sql.Row(2, "[]", "out of gas")),
      schema)
    Sinks.writeCsv(df, path, "log")
    // raw file uses the | delimiter
    val gz = new java.io.File(path).listFiles().filter(_.getName.endsWith(".csv.gz"))
    assert(gz.nonEmpty, "expected gzip csv output")
    val back = Sinks.readCsv(spark, path, "log", schema).orderBy("block_id").collect()
    assert(back(0).getString(1) == """["0xaa","0xbb"]""")
    assert(back(0).isNullAt(2))
    assert(back(1).getString(2) == "out of gas")
  }

  test("csvDelimiter matches the reference per-table dialect") {
    assert(Sinks.csvDelimiter("log") == "|")
    assert(Sinks.csvDelimiter("transaction") == ",")
  }

  test("reference CSV layout: partition dirs, file windows, header-only gaps") {
    import spark.implicits._
    val out = Files.createTempDirectory("sinks_ref").toString
    // rows in windows 0-999 and 2000-2999; window 1000-1999 is EMPTY —
    // the reference still writes a (header-only) file for it
    val df = ((0L until 1000L) ++ (2000L until 3000L))
      .toDF("block_id").withColumn("v", col("block_id") * 2)
    Sinks.writeReferenceCsvLayout(df, out, "transaction", 0, 2999,
      fileBatchSize = 1000, partitionBatchSize = 2000)

    // two partition windows of 2000 blocks -> two %08d-%08d dirs
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs == Set("00000000-00001999", "00002000-00003999"), dirs)
    // transaction files use the reference's tx_ prefix
    assert(new java.io.File(s"$out/00000000-00001999").listFiles()
      .map(_.getName).toSet ==
      Set("tx_00000000-00000999.csv.gz", "tx_00001000-00001999.csv.gz"))
    assert(new java.io.File(s"$out/00002000-00003999").listFiles()
      .map(_.getName).toSet == Set("tx_00002000-00002999.csv.gz"))

    // the empty window's file carries the header and zero rows
    val empty = spark.read.option("header", "true")
      .csv(s"$out/00000000-00001999/tx_00001000-00001999.csv.gz")
    assert(empty.columns.toSeq == Seq("block_id", "v") && empty.count() == 0)

    // rows land in their window, sorted by block_id within the file
    val w0 = spark.read.option("header", "true")
      .csv(s"$out/00000000-00001999/tx_00000000-00000999.csv.gz")
      .select(col("block_id").cast("long")).as[Long].collect()
    assert(w0.toSeq == (0L until 1000L))

    // re-export is idempotent: same tree, no duplicate files
    Sinks.writeReferenceCsvLayout(df, out, "transaction", 0, 2999,
      fileBatchSize = 1000, partitionBatchSize = 2000)
    assert(new java.io.File(s"$out/00000000-00001999").listFiles().length == 2)

    // pruned ranged read-back: touched file paths are computed from the
    // range (no tree listing); row filter trims the window edges
    val sch = StructType(Seq(
      StructField("block_id", LongType), StructField("v", LongType)))
    val mid = Sinks.readReferenceCsvRange(spark, out, "transaction",
      500, 2499, sch, fileBatchSize = 1000, partitionBatchSize = 2000)
    // windows 0-999 (trimmed to 500+), 1000-1999 (header-only, 0 rows),
    // 2000-2999 (trimmed to <=2499)
    assert(mid.count() == 500 + 0 + 500)
    assert(mid.agg(min(col("block_id")), max(col("block_id"))).collect()(0)
      .toSeq == Seq(500L, 2499L))
    // a range entirely outside the exported span reads as empty
    assert(Sinks.readReferenceCsvRange(spark, out, "transaction",
      9000, 9999, sch, 1000, 2000).count() == 0)
  }

  test("compaction: only oversized buckets rewritten, one file after, idempotent") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val df = (0L until 4000L).map(i => (i, i % 7))
      .toDF("block_id", "v")
      .withColumn("block_id_group", expr("block_id div 1000"))
    // fragmented write: 8 tasks x 4 buckets = 8 files per bucket
    df.repartition(8).write.mode("overwrite")
      .partitionBy("block_id_group").parquet(out)
    def filesPerBucket: Map[String, Int] = {
      val root = new java.io.File(out)
      root.listFiles.filter(_.getName.startsWith("block_id_group="))
        .map(d => d.getName ->
          d.listFiles.count(_.getName.endsWith(".parquet"))).toMap
    }
    assert(filesPerBucket.values.forall(_ > 1))
    val before = spark.read.parquet(out).collect().toSet
    var compacted = Seq.empty[Long]
    // the rewrite reads the buckets it replaces in its own write: one SQL
    // execution, no pin
    val execs = executionsOf { compacted = Sinks.compactBuckets(spark, out) }
    assert(execs.size == 1 && pinsIn(execs).isEmpty,
      s"${execs.size} executions, pins ${pinsIn(execs)}")
    assert(compacted.toSet == Set(0L, 1L, 2L, 3L))
    assert(filesPerBucket.values.forall(_ == 1), s"$filesPerBucket")
    // same rows, clustered order inside each file, and a re-run is a no-op
    assert(spark.read.parquet(out).collect().toSet == before)
    assert(Sinks.compactBuckets(spark, out).isEmpty)
    // untouched-bucket guarantee: fragment ONE bucket again; only it rewrites
    df.filter($"block_id_group" === 2).drop("block_id_group")
      .repartition(4).write.mode("append").parquet(s"$out/block_id_group=2")
    assert(Sinks.compactBuckets(spark, out) == Seq(2L))
  }

  test("z-order compaction: a 2-predicate probe skips more row groups than the linear sort") {
    import spark.implicits._
    // 448x448 grid, one bucket; small row groups so each file holds many.
    // Under a linear sort on x, every row group spans ALL y values — the y
    // predicate skips nothing. Under the Morton order, row groups cover
    // small (x, y) tiles and the probe rectangle touches only a few.
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try {
      val n = 448L
      val grid = spark.range(0, n * n).select(
          (col("id") % n).as("x"), expr(s"id div $n").as("y"))
        .withColumn("block_id_group", lit(0L))
      def build(zorder: Option[(String, String)]): String = {
        val out = java.nio.file.Files.createTempDirectory("graft_zc").toString
        grid.repartition(4).write.mode("overwrite")
          .partitionBy("block_id_group").parquet(out) // fragmented
        assert(Sinks.compactBuckets(spark, out, sortCols = Seq("x"),
          zorderCols = zorder) == Seq(0L))
        out
      }
      // the z-order regime: BOTH predicates moderately selective. A narrow
      // x probe lets the linear x-sort prune almost as well; a wide-x ×
      // narrow-y rectangle is where tiles beat stripes.
      def probeScanRows(path: String): (Long, Long) = {
        val q = spark.read.parquet(path)
          .filter(col("x").between(64, 191) && col("y").between(64, 95))
        val rows = q.collect().length.toLong
        val scan = q.queryExecution.executedPlan.collectLeaves().head
        (rows, scan.metrics("numOutputRows").value)
      }
      val (linRows, linScanned) = probeScanRows(build(None))
      val (zRows, zScanned) = probeScanRows(build(Some(("x", "y"))))
      assert(linRows == 128L * 32L && zRows == linRows) // same answer
      // row-group skipping must measurably improve: the z layout scans
      // fewer than half the rows the linear layout does
      assert(zScanned * 2 < linScanned,
        s"z-order scanned $zScanned rows vs linear $linScanned")
    } finally {
      if (prevBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", prevBlock)
    }
  }

  test("manifest skipping: narrow probe opens a strict file subset, answers stay exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sink_manifest").toString + "/t"
    spark.range(0, 1000)
      .select($"id".as("k"), ($"id" * 7).as("v"))
      .repartitionByRange(8, $"k")
      .write.mode("overwrite").parquet(dir)
    Sinks.writeManifest(spark, dir, Seq("k"))
    // narrow probe: range-partitioned files have tight [min,max] — the
    // manifest must keep strictly fewer than all 8
    val (keep, total) = Sinks.manifestPrunedFiles(spark, dir, "k", 100, 199)
    assert(total == 8 && keep.nonEmpty && keep.length < 8,
      s"kept ${keep.length} of $total")
    val got = Sinks.readRangeViaManifest(spark, dir, "k", 100, 199)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (100L to 199L).map(k => (k, k * 7))
    assert(got.toSeq == want)
    // empty range beyond the data: zero files opened, schema intact
    val (none, _) = Sinks.manifestPrunedFiles(spark, dir, "k", 5000, 6000)
    assert(none.isEmpty)
    val empty = Sinks.readRangeViaManifest(spark, dir, "k", 5000, 6000)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "v"))
    // full range: superset manifest never drops rows
    assert(Sinks.readRangeViaManifest(spark, dir, "k", 0, 999).count() == 1000)
  }

  test("bloom manifest: point probe opens a file subset; absent keys prune everything") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sink_bloom").toString + "/t"
    // hash-spread string keys: every file's [min,max] covers every probe,
    // so min/max skipping is useless here — exactly the bloom case
    spark.range(0, 2000)
      .select(md5($"id".cast("string")).as("h"), $"id".as("v"))
      .repartition(8, $"h")
      .write.mode("overwrite").parquet(dir)
    Sinks.writeBloomManifest(spark, dir, "h")
    val probe = spark.range(777, 778)
      .select(md5($"id".cast("string"))).collect()(0).getString(0)
    val (keep, total) = Sinks.bloomPrunedFiles(spark, dir, probe)
    assert(total == 8 && keep.nonEmpty && keep.length < 8,
      s"kept ${keep.length} of $total")
    val got = Sinks.pointLookupViaBloom(spark, dir, "h", probe).collect()
    assert(got.length == 1 && got(0).getLong(1) == 777L)
    // a key that was never written: whole-table prune (no false negatives
    // needed for this — absence of ALL probe bits in every file)
    val (none, _) = Sinks.bloomPrunedFiles(spark, dir, "not-a-hash")
    val miss = Sinks.pointLookupViaBloom(spark, dir, "h", "not-a-hash")
    assert(miss.count() == 0 && miss.columns.toSeq == Seq("h", "v"))
    // bloom may keep a false-positive file for the absent key, but the
    // row filter guarantees emptiness either way
    assert(none.length <= total)
  }

  test("versioned table: time travel, untouched-bucket file sharing, pk upsert") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_ver").toString + "/t"
    // v1: ids 0..29 over 3 buckets, value = id
    val v1df = (0L until 30L).map(i => (i, i / 10, i * 10))
      .toDF("id", "bkt", "v")
    assert(Versioned.commit(v1df, dir, Seq("id"), "bkt") == 1L)
    // v2: touch ONLY bucket 1 — update ids 10..14, add id 100
    val v2df = ((10L until 15L).map(i => (i, 1L, 999L)) :+ ((100L, 1L, 7L)))
      .toDF("id", "bkt", "v")
    assert(Versioned.commit(v2df, dir, Seq("id"), "bkt") == 2L)

    val at1 = Versioned.readAt(spark, dir, 1L)
    assert(at1.count() == 30)
    assert(at1.filter(col("id") === 12L).select("v").as[Long].head() == 120L)
    val at2 = Versioned.readAt(spark, dir) // latest
    assert(at2.count() == 31) // 30 + the new id 100
    assert(at2.filter(col("id") === 12L).select("v").as[Long].head() == 999L)
    assert(at2.filter(col("id") === 17L).select("v").as[Long].head() == 170L)
    // untouched buckets 0 and 2 are the SAME physical files in both versions
    val f1 = Versioned.activeFiles(dir, 1L).filter(_._2 != 1L).toSet
    val f2 = Versioned.activeFiles(dir, 2L).filter(_._2 != 1L).toSet
    assert(f1 == f2 && f1.nonEmpty, "untouched buckets must share files")
    // bucket 1's v1 file was removed from v2's active set
    assert(!Versioned.activeFiles(dir, 2L).exists(f =>
      f._2 == 1L && f._1.contains("/v1/")))
  }

  test("versioned vacuum: retained versions survive, horizon is enforced") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vac").toString + "/t"
    val v1df = (0L until 30L).map(i => (i, i / 10, i)).toDF("id", "bkt", "v")
    Versioned.commit(v1df, dir, Seq("id"), "bkt")
    Versioned.commit(Seq((10L, 1L, 111L)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    Versioned.commit(Seq((20L, 2L, 222L)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    val deleted = Versioned.vacuum(dir, minVersion = 2L)
    // only bucket 1's v1 file is unreferenced by versions 2..3 (bucket 2's
    // v1 file is still what version 2 reads)
    assert(deleted == 1, s"expected exactly the replaced v1 bucket file, got $deleted")
    val at2 = Versioned.readAt(spark, dir, 2L)
    assert(at2.count() == 30)
    assert(at2.filter(col("id") === 10L).select("v").as[Long].head() == 111L)
    assert(at2.filter(col("id") === 20L).select("v").as[Long].head() == 20L)
    val at3 = Versioned.readAt(spark, dir, 3L)
    assert(at3.filter(col("id") === 20L).select("v").as[Long].head() == 222L)
    // below the retention horizon: replay must fail, not silently misread
    intercept[Exception] { Versioned.activeFiles(dir, 1L) }
  }

  test("versioned: commit and vacuum AFTER a vacuum (checkpoint files must not poison version discovery)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_vac2").toString + "/t"
    Versioned.commit((0L until 20L).map(i => (i, i / 10, i)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    Versioned.commit(Seq((5L, 0L, 555L)).toDF("id", "bkt", "v"), dir, Seq("id"), "bkt")
    Versioned.vacuum(dir, minVersion = 2L) // writes 2.checkpoint.json
    // regression (r8 ADVICE): latestVersion used to match ANY *.json and
    // throw NumberFormatException on "2.checkpoint".toLong — every commit,
    // default readAt and second vacuum after the first vacuum crashed
    assert(Versioned.latestVersion(dir) == 2L)
    val v3 = Versioned.commit(Seq((6L, 0L, 666L)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    assert(v3 == 3L)
    val latest = Versioned.readAt(spark, dir) // default asOf resolves latest
    assert(latest.count() == 20)
    assert(latest.filter(col("id") === 6L).select("v").as[Long].head() == 666L)
    assert(Versioned.vacuum(dir, minVersion = 3L) >= 0) // second vacuum survives too
    assert(Versioned.readAt(spark, dir, 3L).count() == 20)
  }

  test("versioned: empty-table readAt returns the documented empty frame; dir normalization holds across spellings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val base = java.nio.file.Files.createTempDirectory("graft_norm").toString
    // nonexistent table: readAt must return empty, not trip activeFiles' require
    assert(Versioned.readAt(spark, base + "/nope").isEmpty)
    // commit via one spelling, read/vacuum via differently-normalized ones:
    // the keep-set compare is on canonical paths, so vacuum must NOT delete
    // files still referenced by retained versions
    val dir = base + "/t"
    Versioned.commit((0L until 20L).map(i => (i, i / 10, i)).toDF("id", "bkt", "v"),
      dir + "/", Seq("id"), "bkt") // trailing slash
    Versioned.commit(Seq((5L, 0L, 555L)).toDF("id", "bkt", "v"),
      base + "/./t", Seq("id"), "bkt") // dot segment
    assert(Versioned.latestVersion(dir) == 2L)
    Versioned.vacuum(base + "/x/../t", minVersion = 1L) // parent hop
    val at1 = Versioned.readAt(spark, dir, 1L)
    assert(at1.count() == 20, "vacuum under a different dir spelling deleted live files")
    assert(at1.filter(col("id") === 5L).select("v").as[Long].head() == 5L)
    assert(Versioned.readAt(spark, dir, 2L)
      .filter(col("id") === 5L).select("v").as[Long].head() == 555L)
  }

  test("versioned schema evolution: add-column commit; time travel yields the OLD schema, latest merges with nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString + "/t"
    // v1: (id, bkt, v) over buckets 0..2
    Versioned.commit((0L until 30L).map(i => (i, i / 10, i)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    // v2 EVOLVES the schema: adds column w, touches ONLY bucket 1
    Versioned.commit(Seq((10L, 1L, 111L, 77L), (101L, 1L, 1L, 88L))
      .toDF("id", "bkt", "v", "w"), dir, Seq("id"), "bkt")
    // time travel to v1: pre-evolution active set -> exactly the old schema
    val at1 = Versioned.readAt(spark, dir, 1L)
    assert(at1.columns.toSet == Set("id", "bkt", "v"), s"v1 schema leaked: ${at1.columns.mkString(",")}")
    assert(at1.count() == 30)
    // latest: union schema; untouched buckets' rows carry null w, the
    // evolved bucket carries real values (carried-forward rows of the
    // touched bucket were rewritten with typed-null w)
    val at2 = Versioned.readAt(spark, dir)
    assert(at2.columns.toSet == Set("id", "bkt", "v", "w"))
    assert(at2.count() == 31)
    assert(at2.filter(col("id") === 10L).select("w").as[Long].head() == 77L)
    val r5 = at2.filter(col("id") === 5L).select("w").head()
    assert(r5.isNullAt(0)) // pre-evolution row in an untouched bucket: null w
    val r11 = at2.filter(col("id") === 11L).select("w").head()
    assert(r11.isNullAt(0)) // carried-forward row in the touched bucket
    // a later commit in the evolved schema still round-trips
    Versioned.commit(Seq((11L, 1L, 112L, 99L)).toDF("id", "bkt", "v", "w"),
      dir, Seq("id"), "bkt")
    assert(Versioned.readAt(spark, dir).filter(col("id") === 11L)
      .select("w").as[Long].head() == 99L)
  }

  test("merge cdc: update/insert/delete in one pass; emptied bucket dropped; replay idempotent; untouched buckets untouched") {
    import graft.eth.Sinks
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_mcdc").toString + "/t"
    // buckets 0..2, 10 rows each
    val base = (0L until 30L).map(i => (i, i / 10, i * 100)).toDF("id", "bkt", "v")
    Sinks.writeBucketedParquet(base, dir, "bkt", Seq("id"))
    val f1Before = new java.io.File(s"$dir/bkt=1").listFiles().map(_.getName).toSet
    val changes = Seq(
      (5L, 0L, 999L, "U", 1L),    // matched update
      (100L, 0L, 111L, "U", 1L),  // not-matched insert (existing bucket)
      (40L, 4L, 444L, "U", 1L),   // insert into a brand-new bucket
      (7L, 0L, 0L, "D", 1L),      // matched delete
      (888L, 0L, 0L, "D", 1L),    // delete of absent PK: no-op
      (8L, 0L, 0L, "D", 1L),      // delete then...
      (8L, 0L, 808L, "U", 2L)     // ...reinsert at a later CDC offset
    ) ++ (20L until 30L).map(i => (i, 2L, 0L, "D", 1L)) // empty out bucket 2
    val ch = changes.toDF("id", "bkt", "v", "op", "seq")
    // the touched-bucket collect, then the merge inside the write: no pin
    val execs = executionsOf {
      Sinks.mergeCdcBucketedParquet(ch, dir, Seq("id"), bucketCol = "bkt",
        sortCols = Seq("id"))
    }
    assert(execs.size == 2 && pinsIn(execs).isEmpty,
      s"${execs.size} executions, pins ${pinsIn(execs)}")
    // the write's bucket exchange is the merge's only shuffle: the CDC
    // window is partitioned by (bucket, PK) and reuses it
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val write = execs.map(_.executedPlan).find(p => helper.find(p)(
      _.isInstanceOf[org.apache.spark.sql.execution.command.DataWritingCommandExec]).isDefined)
    assert(write.isDefined, "no write among the merge's executions")
    val exchanges = helper.collect(write.get) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, s"expected one exchange:\n${write.get}")
    def state() = spark.read.parquet(dir)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = state()
    assert(got(5L) == 999L)            // updated
    assert(got(100L) == 111L)          // inserted
    assert(got(40L) == 444L)           // new bucket materialized
    assert(!got.contains(7L))          // deleted
    assert(got(8L) == 808L)            // delete-then-reinsert: last offset wins
    assert((20L until 30L).forall(!got.contains(_))) // bucket 2 fully gone
    assert(!new java.io.File(s"$dir/bkt=2").exists(),
      "fully-deleted bucket directory must be dropped, not left stale")
    assert(got.size == 30 - 1 - 10 + 2) // 30 base - del 7 - bucket2 + ins 100,40
    // bucket 1 was never touched: same physical files byte-for-byte
    val f1After = new java.io.File(s"$dir/bkt=1").listFiles().map(_.getName).toSet
    assert(f1After == f1Before, "untouched bucket rewritten")
    // CDC replay (at-least-once delivery): same changeset, same state
    Sinks.mergeCdcBucketedParquet(ch, dir, Seq("id"), bucketCol = "bkt",
      sortCols = Seq("id"))
    assert(state() == got, "replay must be idempotent")
    // unknown op fails loudly inside the pass
    intercept[Exception] {
      Sinks.mergeCdcBucketedParquet(
        Seq((1L, 0L, 1L, "X", 1L)).toDF("id", "bkt", "v", "op", "seq"),
        dir, Seq("id"), bucketCol = "bkt", sortCols = Seq("id"))
    }
  }

  test("applyCdc enforces distinct (pk, seq): duplicate offsets raise instead of picking an arbitrary winner") {
    import graft.eth.Sinks
    val base = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    // the dangerous case: a U and a D at the SAME (pk, seq) — whether the
    // PK survives would be whatever row_number happened to order first
    val dupUD = Seq((1L, 99L, "U", 5L), (1L, 0L, "D", 5L))
      .toDF("id", "v", "op", "seq")
    val e = intercept[Exception] {
      Sinks.applyCdc(base, dupUD, Seq("id")).collect()
    }
    assert(e.getMessage.contains("duplicate (pk, seq)"), e.getMessage)
    // a duplicate at a NON-winning offset is still a contract violation
    val dupLow = Seq((1L, 7L, "U", 1L), (1L, 8L, "U", 1L), (1L, 9L, "U", 2L))
      .toDF("id", "v", "op", "seq")
    val e2 = intercept[Exception] {
      Sinks.applyCdc(base, dupLow, Seq("id")).collect()
    }
    assert(e2.getMessage.contains("duplicate (pk, seq)"), e2.getMessage)
    // distinct offsets (and equal seqs on DIFFERENT pks) stay legal
    val ok = Seq((1L, 99L, "U", 5L), (2L, 0L, "D", 5L), (1L, 100L, "U", 6L))
      .toDF("id", "v", "op", "seq")
    val got = Sinks.applyCdc(base, ok, Seq("id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 100L))
  }

  test("upsert crash injection: in-flight task files stay invisible; retried batch heals to the clean state") {
    import graft.eth.Sinks
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_crashup").toString + "/t"
    val b1 = (0L until 30L).map(i => (i, i / 10, i)).toDF("id", "bkt", "v")
    Sinks.upsertBucketedParquet(b1, dir, Seq("id"), "bkt", Seq("id"))
    val clean = spark.read.parquet(dir).count()
    // simulate the crash window of a second batch: the task wrote its
    // file under the committer's _temporary staging area and the process
    // died BEFORE job commit. The leftover is a fully valid parquet file
    // (copied from a committed one) so a reader that failed to filter
    // staging dirs would double-count.
    val committed = new java.io.File(s"$dir/bkt=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val staging = new java.io.File(
      s"$dir/_temporary/0/_temporary/attempt_0001/bkt=0")
    assert(staging.mkdirs())
    java.nio.file.Files.copy(committed.toPath,
      new java.io.File(staging, "part-crashed.parquet").toPath)
    assert(spark.read.parquet(dir).count() == clean,
      "uncommitted staging files leaked into the read")
    assert(spark.read.parquet(dir).filter(col("bkt") === 0).count() == 10)
    // restart path: the writer retries the SAME logical batch; the final
    // state must equal one clean application (PK merge idempotence), and
    // the retry's own successful commit clears nothing it shouldn't
    val b2 = Seq((5L, 0L, 555L), (35L, 3L, 350L)).toDF("id", "bkt", "v")
    Sinks.upsertBucketedParquet(b2, dir, Seq("id"), "bkt", Seq("id"))
    Sinks.upsertBucketedParquet(b2, dir, Seq("id"), "bkt", Seq("id")) // replay
    val sta = spark.read.parquet(dir).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sta.size == 31 && sta(5L) == 555L && sta(35L) == 350L)
    assert(sta(6L) == 6L, "untouched row lost in the retry")
  }

  test("versioned crash injection: data written but manifest missing -> invisible; retried commit heals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/t"
    Versioned.commit((0L until 20L).map(i => (i, i / 10, i)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    val v2 = Versioned.commit(Seq((5L, 0L, 555L)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    // simulate the crash window: the data job finished but the process died
    // BEFORE the manifest rename-into-place (the commit point). The on-disk
    // state is exactly that: orphan data files under data/v2, no 2.json.
    val manifest = java.nio.file.Paths.get(dir, "_versions", s"$v2.json")
    java.nio.file.Files.delete(manifest)
    assert(Versioned.latestVersion(dir) == 1L, "uncommitted data became visible")
    val at = Versioned.readAt(spark, dir)
    assert(at.count() == 20)
    assert(at.filter(col("id") === 5L).select("v").as[Long].head() == 5L,
      "reader saw a half-committed update")
    // restart path: the writer retries the same logical batch; the retry
    // allocates the same version number and clobbers the orphan dir
    val v2b = Versioned.commit(Seq((5L, 0L, 555L)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    assert(v2b == 2L)
    val healed = Versioned.readAt(spark, dir)
    assert(healed.count() == 20)
    assert(healed.filter(col("id") === 5L).select("v").as[Long].head() == 555L)
    // and the orphan files are not double-counted (exactly one active file
    // per (version, bucket) for bucket 0)
    val b0 = Versioned.activeFiles(dir, 2L).filter(_._2 == 0L)
    assert(b0.size == 1, s"orphan data file leaked into the active set: $b0")
  }

  test("versioned commitTxn: replay is a no-op; uncommitted data is invisible and recoverable") {
    import spark.implicits._
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_txn").toString + "/t"
    val b1 = Seq((1L, 0L, 10L), (2L, 0L, 20L)).toDF("id", "bkt", "v")
    assert(Versioned.commitTxn(b1, dir, Seq("id"), "bkt", "q1-b0") == 1L)
    // replay of the same batch id: no new version, same return value
    assert(Versioned.commitTxn(b1, dir, Seq("id"), "bkt", "q1-b0") == 1L)
    assert(Versioned.latestVersion(dir) == 1L)
    assert(Versioned.readAt(spark, dir).count() == 2)
    // crash injection: data files land for v2 but the manifest rename
    // never happens -> the write is invisible; the restart replays the
    // batch under the same txn id and commits cleanly
    val crashDir = new java.io.File(s"$dir/data/v2/__pv=0")
    crashDir.mkdirs()
    java.nio.file.Files.writeString(
      crashDir.toPath.resolve("part-orphan.parquet"), "not really parquet")
    assert(Versioned.latestVersion(dir) == 1L) // still invisible
    val b2 = Seq((3L, 0L, 30L)).toDF("id", "bkt", "v")
    assert(Versioned.commitTxn(b2, dir, Seq("id"), "bkt", "q1-b1") == 2L)
    assert(Versioned.readAt(spark, dir).count() == 3)
    assert(Versioned.txnVersion(dir, "q1-b0").contains(1L))
    assert(Versioned.txnVersion(dir, "q1-b1").contains(2L))
    assert(Versioned.txnVersion(dir, "q1-b99").isEmpty)
  }

  test("versioned diff: insert/update/delete classified; untouched buckets pruned without a scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_diff").toString + "/t"
    // v1: 3 buckets of 10
    val v1df = (0L until 30L).map(i => (i, i / 10, i * 2)).toDF("id", "bkt", "v")
    Versioned.commit(v1df, dir, Seq("id"), "bkt")
    // v2 touches ONLY bucket 0: update id 1, insert id 100 (same bucket),
    // delete id 2 (merge-delete arm), and rewrite id 3 with IDENTICAL
    // content (must NOT appear in the diff)
    val batch = Seq((1L, 0L, 999L), (100L, 0L, 5L), (2L, 0L, 4L), (3L, 0L, 6L))
      .toDF("id", "bkt", "v")
    Versioned.commit(batch, dir, Seq("id"), "bkt",
      deleteWhere = Some(col("id") === 2L))
    val d = Versioned.diff(spark, dir, 1L, 2L, Seq("id"))
      .orderBy("change_type", "id").collect()
    assert(d.map(r => (r.getAs[String]("change_type"), r.getAs[Long]("id"),
      r.getAs[Long]("v"))).toSeq == Seq(
      ("delete", 2L, 4L),    // old image
      ("insert", 100L, 5L),
      ("update", 1L, 999L))) // new image
    // pruning contract: buckets 1 and 2 carried forward by reference, so
    // their file lists are identical across versions — diff never lists
    // (hence never scans) their files
    val f1 = Versioned.activeFiles(dir, 1L).toMap
    val f2 = Versioned.activeFiles(dir, 2L).toMap
    val shared = f1.keySet intersect f2.keySet
    assert(shared.exists(f => f1(f) == 1L) && shared.exists(f => f1(f) == 2L))
    // a bucket whose rows all die becomes empty (old file removed, none
    // added) and reads back empty at the new version
    val wipe = Seq((25L, 2L, 0L)).toDF("id", "bkt", "v")
    Versioned.commit(wipe, dir, Seq("id"), "bkt",
      deleteWhere = Some(col("bkt") === 2L))
    assert(Versioned.readAt(spark, dir, 3L).filter(col("bkt") === 2L).count() == 0)
    val d23 = Versioned.diff(spark, dir, 2L, 3L, Seq("id")).collect()
    assert(d23.forall(_.getAs[String]("change_type") == "delete") && d23.length == 10)
    // no-change diff: a TYPED empty frame (change_type + table columns),
    // so callers can orderBy / select without an AnalysisException
    Versioned.commit(Seq((1L, 0L, 999L)).toDF("id", "bkt", "v"), dir, Seq("id"), "bkt")
    val v = Versioned.latestVersion(dir)
    Versioned.commit(Seq((1L, 0L, 999L)).toDF("id", "bkt", "v"), dir, Seq("id"), "bkt")
    // the idempotent re-commit rewrites bucket 0's file list, so diff sees
    // a changed bucket with identical rows → zero classified changes but
    // the documented (change_type-first) shape; the metadata-only
    // no-bucket-changed arm gets the same typed-empty contract (covered
    // by the rename-commit diff test below)
    val same = Versioned.diff(spark, dir, v, v + 1, Seq("id"))
      .orderBy("change_type")
    assert(same.columns.take(1).toSeq == Seq("change_type"))
    assert(same.count() == 0L)
  }

  test("versioned rename/drop: metadata-only logical mapping, time travel sees each era, vacuum keeps it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString + "/t"
    // v1: 2 buckets of 5, columns (id, bkt, v)
    Versioned.commit((0L until 10L).map(i => (i, i / 5, i * 2)).toDF("id", "bkt", "v"),
      dir, Seq("id"), "bkt")
    // v2: RENAME v -> val2 — metadata only, zero data files written
    val v2 = Versioned.renameColumn(dir, "v", "val2")
    assert(v2 == 2L)
    assert(!new java.io.File(s"$dir/data/v2").exists(), "rename must not write data")
    assert(Versioned.readAt(spark, dir).columns.toSeq == Seq("id", "bkt", "val2"))
    assert(Versioned.readAt(spark, dir, 1L).columns.toSeq == Seq("id", "bkt", "v"),
      "time travel below the rename must see the old name")
    // the pure metadata-only diff arm: typed empty in toV's shape
    val d12 = Versioned.diff(spark, dir, 1L, 2L, Seq("id")).orderBy("change_type")
    assert(d12.columns.toSeq == Seq("change_type", "id", "bkt", "val2"))
    assert(d12.count() == 0L)
    // v3: commit THROUGH the rename (caller speaks logical names);
    // physical files keep the original name, values land correctly
    Versioned.commit(Seq((3L, 0L, 999L)).toDF("id", "bkt", "val2"),
      dir, Seq("id"), "bkt")
    val at3 = Versioned.readAt(spark, dir, 3L)
    assert(at3.filter(col("id") === 3L).select("val2").as[Long].head() == 999L)
    assert(at3.count() == 10L)
    assert(Versioned.readAt(spark, dir, 1L)
      .filter(col("id") === 3L).select("v").as[Long].head() == 6L,
      "old version must keep the old value under the old name")
    // deleteWhere speaks logical names through the mapping too
    Versioned.commit(Seq((4L, 0L, 0L)).toDF("id", "bkt", "val2"),
      dir, Seq("id"), "bkt", deleteWhere = Some(col("val2") === 0L))
    assert(Versioned.readAt(spark, dir).filter(col("id") === 4L).count() == 0L)
    // diff across the rename surfaces toV's logical name
    val d23 = Versioned.diff(spark, dir, 2L, 3L, Seq("id")).collect()
    assert(d23.map(r => (r.getAs[String]("change_type"), r.getAs[Long]("id"),
      r.getAs[Long]("val2"))).toSeq == Seq(("update", 3L, 999L)))
    // v5: DROP val2 — column gone at the head, visible in the past
    val v5 = Versioned.dropColumn(dir, "val2")
    assert(Versioned.readAt(spark, dir).columns.toSeq == Seq("id", "bkt"))
    assert(Versioned.readAt(spark, dir, v5 - 1).columns.contains("val2"))
    // re-using the RETIRED PHYSICAL name ("v" — val2's storage name) is
    // rejected: old files still carry those bytes and a physical-name
    // collision would resurrect them. Re-adding the logical name "val2"
    // would be fine (fresh physical column, no collision).
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((9L, 1L, 1L)).toDF("id", "bkt", "v"),
        dir, Seq("id"), "bkt")
    }
    assert(e.getMessage.contains("dropped"), e.getMessage)
    // ...but adding a FRESH column name works (add-column evolution)
    Versioned.commit(Seq((9L, 1L, 123L)).toDF("id", "bkt", "w"),
      dir, Seq("id"), "bkt")
    assert(Versioned.readAt(spark, dir).columns.toSeq == Seq("id", "bkt", "w"))
    // vacuum to the drop version: the checkpoint must carry the
    // cumulative mapping so truncated manifests lose no schema action
    Versioned.vacuum(dir, v5)
    assert(Versioned.readAt(spark, dir).columns.toSeq == Seq("id", "bkt", "w"))
    assert(Versioned.readAt(spark, dir, v5).columns.toSeq == Seq("id", "bkt"))
    // rename chains fold: w -> w2 after the vacuum still reads cleanly
    Versioned.renameColumn(dir, "w", "w2")
    assert(Versioned.readAt(spark, dir).columns.toSeq == Seq("id", "bkt", "w2"))
    assert(Versioned.readAt(spark, dir)
      .filter(col("id") === 9L).select("w2").as[Long].head() == 123L)
  }

  test("versioned checkpoint: physical-keyed snapshot actions survive refold (rename-chain + rename-onto-dropped)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.eth.Versioned
    // Both sequences are legal API use; the checkpoint (written by every
    // vacuum) snapshots the folded state keyed by PHYSICAL names. Reading
    // it back through the user-level fold would chain the resolutions and
    // silently mislabel / resurrect columns — the reader must apply
    // checkpoint actions literally.
    // (a) rename-chain across columns: b→c then a→b gives {a→b, b→c};
    //     the broken refold collapsed it to {a→c} (a surfaces as c,
    //     physical b resurfaces under its own name — values swapped).
    val dirA = java.nio.file.Files.createTempDirectory("graft_cp_chain").toString + "/t"
    Versioned.commit((0L until 6L).map(i => (i, i % 2, i * 10, i * 100))
      .toDF("id", "bkt", "a", "b"), dirA, Seq("id"), "bkt")
    Versioned.renameColumn(dirA, "b", "c")
    val vA = Versioned.renameColumn(dirA, "a", "b")
    def checkA(): Unit = {
      val head = Versioned.readAt(spark, dirA)
      assert(head.columns.toSeq == Seq("id", "bkt", "b", "c"))
      val r = head.filter(col("id") === 3L)
        .select("b", "c").as[(Long, Long)].head()
      assert(r == ((30L, 300L)),
        s"physical a must surface as b (30) and physical b as c (300), got $r")
    }
    checkA()
    Versioned.vacuum(dirA, vA) // writes the checkpoint; refold must be a fixpoint
    checkA()
    // a second vacuum re-checkpoints FROM the checkpointed state — the
    // double-refold is where a non-fixpoint compounds
    Versioned.vacuum(dirA, vA)
    checkA()

    // (b) drop-then-rename-onto-the-dropped-name: drop x, rename p→x gives
    //     {renames {p→x}, dropped {x}}; the broken refold gave
    //     {dropped {p}} — dropped bytes resurrect, the live column vanishes.
    val dirB = java.nio.file.Files.createTempDirectory("graft_cp_drop").toString + "/t"
    Versioned.commit((0L until 6L).map(i => (i, i % 2, i + 1000, i + 2000))
      .toDF("id", "bkt", "p", "x"), dirB, Seq("id"), "bkt")
    Versioned.dropColumn(dirB, "x")
    val vB = Versioned.renameColumn(dirB, "p", "x")
    def checkB(): Unit = {
      val head = Versioned.readAt(spark, dirB)
      assert(head.columns.toSeq == Seq("id", "bkt", "x"))
      assert(head.filter(col("id") === 3L).select("x").as[Long].head() == 1003L,
        "x must carry physical p's values; 2003 means the dropped bytes resurrected")
    }
    checkB()
    Versioned.vacuum(dirB, vB)
    checkB()
    Versioned.vacuum(dirB, vB)
    checkB()
  }
}

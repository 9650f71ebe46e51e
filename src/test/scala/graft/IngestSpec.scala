package graft

import graft.eth.Ingest

/** Range-planner / resume / watermark properties (SURVEY §5.3): coverage,
  * disjointness, batch-size invariance, resume(write(range)) == range end.
  * Property checks use a seeded Random (scalatestplus bridge is not in the
  * offline cache; plain ScalaCheck properties live in PropertySpecs). */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("planRanges covers [start, end] exactly once, in order (100 random cases)") {
    val rnd = new scala.util.Random(42)
    (1 to 100).foreach { _ =>
      val start = rnd.nextLong(5000L)
      val end = start + rnd.nextLong(3000L)
      val batch = 1L + rnd.nextLong(997L)
      val ranges = Ingest.planRanges(start, end, batch)
      assert(ranges.head._1 == start && ranges.last._2 == end)
      // contiguous, disjoint
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(lo2 == hi + 1)
        case _ =>
      }
      // every slice within batch size
      assert(ranges.forall { case (lo, hi) => hi - lo + 1 <= batch })
      // batch-size invariance: total covered blocks constant
      assert(ranges.map { case (lo, hi) => hi - lo + 1 }.sum == end - start + 1)
    }
  }

  test("planRanges of an empty range is empty") {
    assert(Ingest.planRanges(10, 9, 5).isEmpty)
  }

  test("roundToBuckets mirrors the CSV export rounding") {
    assert(Ingest.roundToBuckets(1500, 4999, 1000).contains((1000L, 4999L)))
    assert(Ingest.roundToBuckets(0, 999, 1000).contains((0L, 999L)))
    assert(Ingest.roundToBuckets(1200, 1400, 1000).isEmpty) // no whole bucket
  }

  test("resume: maxIngestedBlock over written data == range end; empty sink -> None") {
    val sink = (100L to 250L).toDF("block_id")
    assert(Ingest.maxIngestedBlock(sink).contains(250L))
    assert(Ingest.maxIngestedBlock(sink.filter($"block_id" < 0)).isEmpty)
  }

  test("pruned two-phase max equals plain max") {
    val df = (0L to 3210L).toDF("block_id")
      .withColumn("block_id_group", graft.functions.ColumnFns.blockIdGroup(
        org.apache.spark.sql.functions.col("block_id")))
    assert(Ingest.maxIngestedBlockPruned(df) == Ingest.maxIngestedBlock(df))
  }

  test("resumeFromFileNames extracts the max block from export file names") {
    val names = Seq("block-00001000.csv.gz", "block-00002999.csv.gz", "junk.txt")
    assert(Ingest.resumeFromFileNames(spark, names).contains(2999L))
    assert(Ingest.resumeFromFileNames(spark, Seq("no-digits")).isEmpty)
    assert(Ingest.resumeFromFileNames(spark, Seq.empty).isEmpty)
  }

  test("lastBlockBefore: previous-day completeness watermark") {
    val blocks = Seq((1, 100), (2, 200), (3, 300)).toDF("block_id", "timestamp")
    assert(Ingest.lastBlockBefore(blocks, 250).contains(2L))
    assert(Ingest.lastBlockBefore(blocks, 100).isEmpty) // strictly before
  }

  test("dedupeByPk collapses replayed rows") {
    val df = Seq((1, "a"), (1, "a"), (2, "b")).toDF("pk", "v")
    assert(Ingest.dedupeByPk(df, Seq("pk")).count() == 2)
  }

  test("configuration frame carries the partitioning contract") {
    val row = Ingest.configuration(spark).collect()(0)
    assert(row.getString(0) == "graft")
    assert(row.getInt(1) == 1000 && row.getInt(2) == 5)
  }

  private def chain(lo: Long, hi: Long, orphanFrom: Long = Long.MaxValue) = {
    import org.apache.spark.sql.functions._
    spark.range(lo, hi + 1).select(col("id").as("block_id"),
        when(col("id") < orphanFrom, concat(lit("h"), col("id")))
          .otherwise(concat(lit("orphan"), col("id"))).as("block_hash"))
      .withColumn("block_id_group",
        graft.functions.ColumnFns.blockIdGroup(col("block_id")))
  }

  test("reorg check: clean tail resumes at tip+1 and never rewrites") {
    val path = java.nio.file.Files.createTempDirectory("reorg_clean").toString + "/b"
    graft.eth.Sinks.writeBucketedParquet(chain(0, 2499), path)
    val before = spark.read.parquet(path).inputFiles.toSet
    val (resume, fork) = Ingest.resumeWithReorgCheck(spark, path, chain(0, 3000),
      checkDepth = 500)
    assert(resume == 2500L && fork.isEmpty)
    assert(spark.read.parquet(path).inputFiles.toSet == before) // untouched
  }

  test("reorg check: mid-bucket fork keeps pre-fork rows, replaces orphans, ingests new tail") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("reorg_fork").toString + "/b"
    // stored 0..2499 with 2300+ orphaned; canonical source extends to 2799
    graft.eth.Sinks.writeBucketedParquet(chain(0, 2499, orphanFrom = 2300), path)
    var (resume, fork) = (0L, Option.empty[Long])
    // tip probe, fork search, the rewrite, tip probe: no pin
    val execs = executionsOf {
      val r = Ingest.resumeWithReorgCheck(spark, path, chain(0, 2799), checkDepth = 400)
      resume = r._1; fork = r._2
    }
    assert(execs.size == 4 && pinsIn(execs).isEmpty,
      s"${execs.size} executions, pins ${pinsIn(execs)}")
    assert(fork.contains(2300L) && resume == 2800L)
    val out = spark.read.parquet(path)
    assert(out.count() == 2800L)
    assert(out.filter(col("block_hash").startsWith("orphan")).count() == 0L)
    // bucket 2's pre-fork rows (2000..2299) survived the bucket rewrite
    assert(out.filter(col("block_id").between(2000, 2299)).count() == 300L)
    // untouched bucket 0 kept its original file
    assert(out.filter(col("block_id") < 1000).count() == 1000L)
  }

  test("reorg check: shorter canonical chain deletes orphaned whole buckets") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("reorg_short").toString + "/b"
    // stored through 3499 (buckets 0..3), all of 2600+ orphaned; the
    // canonical chain ends at 2799 -> bucket 3 has no successor rows
    graft.eth.Sinks.writeBucketedParquet(chain(0, 3499, orphanFrom = 2600), path)
    val (resume, fork) = Ingest.resumeWithReorgCheck(spark, path, chain(0, 2799),
      checkDepth = 1200)
    assert(fork.contains(2600L) && resume == 2800L)
    val out = spark.read.parquet(path)
    assert(out.count() == 2800L)
    assert(out.agg(max(col("block_id"))).collect()(0).getLong(0) == 2799L)
    assert(out.filter(col("block_hash").startsWith("orphan")).count() == 0L)
  }

  test("reorg check composes with the RPC source as the chain authority") {
    import org.apache.spark.sql.functions._
    // the production wiring: the authoritative frame IS the node
    val src = spark.read.format("graft-rpc")
      .option("stream", "block").option("transport", "synthetic")
      .option("start", 0).option("end", 2499).option("batchSize", 100).load()
      .select(col("number").cast("long").as("block_id"),
        col("hash").as("block_hash"))
    // stored sink: written from the same chain, but shorter and with the
    // tail from 2300 orphaned (hashes perturbed)
    val path = java.nio.file.Files.createTempDirectory("reorg_rpc").toString + "/b"
    val stored = src.filter(col("block_id") < 2450)
      .withColumn("block_hash",
        when(col("block_id") >= 2300, concat(col("block_hash"), lit("x")))
          .otherwise(col("block_hash")))
      .withColumn("block_id_group",
        graft.functions.ColumnFns.blockIdGroup(col("block_id")))
    graft.eth.Sinks.writeBucketedParquet(stored, path)
    val (resume, fork) = Ingest.resumeWithReorgCheck(spark, path, src,
      checkDepth = 300)
    assert(fork.contains(2300L) && resume == 2500L)
    val out = spark.read.parquet(path)
    assert(out.count() == 2500L)
    // every stored hash now matches the node's
    assert(out.select(col("block_id"), col("block_hash"))
      .exceptAll(src.select(col("block_id"), col("block_hash"))).count() == 0L)
  }

  test("reorg check: absent or empty sink resumes from genesis") {
    val path = java.nio.file.Files.createTempDirectory("reorg_empty").toString + "/nope"
    assert(Ingest.resumeWithReorgCheck(spark, path, chain(0, 10)) == (0L, None))
  }

  test("incremental relations: cross-batch merge-on-read; replay overwrites, never double-counts") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("rel_inc").toString
    // two batches whose partials SHARE the pair (a, b) — the read-side
    // merge must sum counts/wei and span the blocks
    def partial(batchLo: Long, rows: Seq[(String, String, Long, String, Int, Int)]) =
      rows.toDF("from_address", "to_address", "n_txs", "w", "first_block", "last_block")
        .withColumn("wei_total", col("w").cast("decimal(38,0)")).drop("w")
        .withColumn("batch_lo", lit(batchLo))
        .withColumn("block_id_group", lit(batchLo / 1000L))
    def upsert(df: org.apache.spark.sql.DataFrame): Unit =
      graft.eth.Sinks.upsertBucketedParquet(df, path,
        pkCols = Seq("from_address", "to_address", "batch_lo"),
        bucketCol = "block_id_group",
        sortCols = Seq("from_address", "to_address"))
    val b0 = partial(0L, Seq(("a", "b", 2L, "100", 0, 400), ("a", "c", 1L, "7", 3, 3)))
    val b1 = partial(500L, Seq(("a", "b", 3L, "50", 500, 900)))
    upsert(b0); upsert(b1)
    def read() = graft.eth.Relations.readRelations(spark, path)
      .orderBy("from_address", "to_address").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_txs"),
        r.getDecimal(3).toPlainString, r.getAs[Int]("first_block"),
        r.getAs[Int]("last_block")))
    val expected = Seq(("a", "b", 5L, "150", 0, 900), ("a", "c", 1L, "7", 3, 3))
    assert(read().toSeq == expected)
    // replay batch 0 (crash recovery): identical table, no double counting
    upsert(b0)
    assert(read().toSeq == expected)
  }

  test("ingestGaps equals the naive lag answer and is bucket-size invariant") {
    import spark.implicits._
    // scattered holes + a long wholly-missing span crossing bucket edges
    val present = (0L until 1000L)
      .filter(b => b % 7 != 3 && !(b >= 151 && b <= 402))
    val expected = present.zip(present.tail)
      .collect { case (a, b) if b > a + 1 => (a + 1, b - 1, b - a - 1) }
    def gaps(bucket: Long) = graft.eth.Ingest
      .ingestGaps(present.toDF("block_id"), "block_id", bucket)
      .select($"gap_start".as[Long], $"gap_end".as[Long], $"n_missing".as[Long])
      .collect().sorted.toSeq
    assert(gaps(100) == expected)
    // any bucketing gives the same ranges (stitch covers all boundaries)
    assert(gaps(10) == expected && gaps(1000) == expected && gaps(3) == expected)
    // duplicates in the input (replayed rows) change nothing
    assert(graft.eth.Ingest.ingestGaps(
      (present ++ present).toDF("block_id"), "block_id", 100)
      .count() == expected.size)
  }

  test("ingestGaps: contiguous, single-block, and empty stores have no gaps") {
    import spark.implicits._
    assert(graft.eth.Ingest.ingestGaps(
      (0L until 100L).toDF("block_id"), "block_id", 10).count() == 0)
    assert(graft.eth.Ingest.ingestGaps(
      Seq(42L).toDF("block_id"), "block_id", 10).count() == 0)
    assert(graft.eth.Ingest.ingestGaps(
      Seq.empty[Long].toDF("block_id"), "block_id", 10).count() == 0)
  }
}

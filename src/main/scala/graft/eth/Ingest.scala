package graft.eth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Incremental-ingest semantics (SURVEY §2.6): range planning, resume
  * ("the data is the checkpoint"), and the previous-day completeness
  * watermark. All driver-side logic here is bounded metadata (a handful of
  * longs) — every per-row computation stays in DataFrames.
  */
object Ingest {

  /** T1: split `[startBlock, endBlock]` (inclusive) into `batchSize` slices —
    * the micro-batch loop of the reference
    * (ref: scripts/eth_cassandra_streaming.py:619-636). */
  def planRanges(startBlock: Long, endBlock: Long, batchSize: Long): Seq[(Long, Long)] = {
    require(batchSize > 0, "batchSize must be positive")
    if (endBlock < startBlock) Seq.empty
    else (startBlock to endBlock by batchSize)
      .map(lo => (lo, math.min(lo + batchSize - 1, endBlock)))
  }

  /** Round a range outward/inward to whole buckets — the CSV export's
    * window rounding (ref: scripts/eth_csv_export.py:501-511), used by
    * `EthPipeline.exportCsvRange` and `Sinks.writeReferenceCsvLayout`:
    * start is rounded *down* to a bucket boundary, end is rounded so the
    * range covers whole buckets ending at `bucketSize*k - 1`. Returns None
    * if no whole bucket fits. */
  def roundToBuckets(startBlock: Long, endBlock: Long, bucketSize: Long): Option[(Long, Long)] = {
    val lo = (startBlock / bucketSize) * bucketSize
    val hi = ((endBlock + 1) / bucketSize) * bucketSize - 1
    if (hi < lo) None else Some((lo, hi))
  }

  /** A1/T2: resume position from the sink itself — `max(block_id)` over the
    * already-written data (ref: scripts/eth_cassandra_streaming.py:225-245,
    * used for resume at :588-593). Catalyst runs this as partial max per
    * partition + final merge, the distributed form of the reference's
    * hand-rolled two-phase max. Returns None on an empty sink. */
  def maxIngestedBlock(sink: DataFrame, blockIdCol: String = "block_id"): Option[Long] =
    sink.agg(max(col(blockIdCol)).cast("long")).collect()(0) match {
      case row if row.isNullAt(0) => None
      case row => Some(row.getLong(0))
    }

  /** A1, partition-pruned variant: read only the max bucket's partition, then
    * max within it — the literal shape of the reference's two-phase max
    * (PER PARTITION LIMIT 1 + MAX within max group,
    * ref: scripts/eth_cassandra_streaming.py:228-241). On a
    * `partitionBy(bucketCol)` parquet sink the first agg prunes to partition
    * values and the second scans one partition. */
  def maxIngestedBlockPruned(sink: DataFrame,
                             blockIdCol: String = "block_id",
                             bucketCol: String = "block_id_group"): Option[Long] = {
    val maxGroup = sink.agg(max(col(bucketCol))).collect()(0)
    if (maxGroup.isNullAt(0)) None
    else maxIngestedBlock(
      sink.filter(col(bucketCol) === maxGroup.get(0)), blockIdCol)
  }

  /** A1 against a bucketed sink on disk: the highest stored block, or None
    * for an absent or empty sink. "Absent" is decided by the bucket
    * listing (an absent sink lists no buckets), NOT by swallowing read
    * errors: a transient/permission/corrupt-footer failure must propagate
    * — treating it as "empty sink" would silently restart ingest from
    * block 0 (a full re-ingest at 100 TB scale). Buckets are block ranges,
    * so the max block lives in the highest bucket: the probe reads that
    * one directory (one job), and only a bucket holding no rows sends it
    * on to the next one down. */
  private[eth] def maxStoredBlock(spark: SparkSession, path: String,
                                  blockIdCol: String = "block_id",
                                  bucketCol: String = "block_id_group"): Option[Long] = {
    val probeSchema = StructType(Seq(StructField(blockIdCol, LongType)))
    Sinks.existingBuckets(spark, path, bucketCol).toSeq
      .sorted(Ordering[Long].reverse).iterator
      .flatMap(b => Sinks.readBuckets(spark, path, bucketCol, Seq(b), Some(probeSchema))
        .flatMap(maxIngestedBlock(_, blockIdCol)))
      .nextOption()
  }

  /** S7: resume position recovered from sink *file names* — the CSV path's
    * `rglob("block*")` + `.*-(\d+)` regex + max
    * (ref: scripts/eth_csv_export.py:474-479). */
  def resumeFromFileNames(spark: SparkSession, fileNames: Seq[String]): Option[Long] = {
    import spark.implicits._
    if (fileNames.isEmpty) None
    else fileNames.toDF("fname")
      .select(regexp_extract(col("fname"), ".*-(\\d+)", 1).as("blk"))
      .filter(col("blk") =!= "")
      .agg(max(col("blk").cast("long")))
      .collect()(0) match {
        case row if row.isNullAt(0) => None
        case row => Some(row.getLong(0))
      }
  }

  /** S7 against a real export tree: recursively list `block*` files under
    * `dir` — the reference's `pathlib.rglob("block*")` over its
    * 1M-block-subdir layout (ref: scripts/eth_csv_export.py:474-479) — and
    * return the NEXT block to export (last covered block + 1), or None for
    * an absent/empty tree. Driver-side metadata listing only, the same
    * O(files) walk the reference performs.
    * Test-only: backs COVERAGE.md's "resume scan from file names" (S7) row. */
  def resumeCsvExport(spark: SparkSession, dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val names = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (name.startsWith("block")) names += name
    }
    resumeFromFileNames(spark, names.toSeq).map(_ + 1)
  }

  /** S5/T3: completeness watermark — the last block strictly before `cutoff`
    * (unix seconds), the engine form of `--previous_day`
    * (ref: scripts/eth_cassandra_streaming.py:199-216: "exchange rates might
    * not be available for the current day").
    * Test-only: backs COVERAGE.md's "timestamp→block as-of lookup" (S5) row. */
  def lastBlockBefore(blocks: DataFrame, cutoffUnixSeconds: Long,
                      blockIdCol: String = "block_id",
                      tsCol: String = "timestamp"): Option[Long] =
    maxIngestedBlock(blocks.filter(col(tsCol) < cutoffUnixSeconds), blockIdCol)

  /** K3: the one-row `configuration` metadata frame persisted next to the
    * sink (ref: scripts/eth_cassandra_streaming.py:306-320). */
  def configuration(spark: SparkSession, id: String = "graft",
                    blockBucketSize: Int = 1000,
                    txPrefixLength: Int = 5): DataFrame = {
    import spark.implicits._
    Seq((id, blockBucketSize, txPrefixLength))
      .toDF("id", "block_bucket_size", "tx_prefix_length")
  }

  /** T4: idempotent re-ingest — collapse replayed rows to one per primary
    * key. Rows replayed by at-least-once delivery are byte-identical, so any
    * survivor is correct (the Cassandra-upsert equivalence,
    * ref: scripts/eth_cassandra_streaming.py:263-303). */
  def dedupeByPk(df: DataFrame, pkCols: Seq[String]): DataFrame =
    df.dropDuplicates(pkCols)

  /** T6 (engine-beyond-reference; the reference resumes blindly from
    * max(block_id) and would keep an orphaned tail forever —
    * ref: scripts/eth_cassandra_streaming.py:588-593): reorg-tolerant
    * resume.
    *
    * Compares the stored tail's block hashes against the authoritative
    * `source` frame and, when they diverge, invalidates-and-rewrites the
    * sink from the fork point:
    *
    *   1. tail check — the last `checkDepth` stored blocks (a scoped
    *      read of the tail bucket directories only) are equi-joined
    *      to the source on block id; the FORK POINT is the smallest checked
    *      block whose hash differs (or that the source no longer has).
    *      `checkDepth` must exceed the maximum credible reorg depth — the
    *      same finality assumption every chain ingester makes.
    *   2. rewrite — the replacement (source rows from the fork on) is
    *      upserted by block id into the stored buckets from the fork
    *      bucket to the tip's, with the eraser `block_id >= fork`
    *      ([[Sinks.upsertBucketedParquet]]'s `dropOldWhere`): the fork
    *      bucket keeps its pre-fork rows, untouched buckets are never
    *      rewritten, and a stored bucket ABOVE the last replacement bucket
    *      (a reorg to a shorter chain) ends the merge empty and is deleted
    *      by the same write.
    *
    * The tip before and after the rewrite comes from [[maxStoredBlock]].
    * Everything driver-side is bounded metadata (tip, fork scalar, bucket
    * lists); hash comparison and the rewrite are DataFrame plans. Returns
    * `(resumeFrom, forkPoint)`: the next block to ingest and the fork
    * block if a reorg was repaired (`None` on a clean tail; resume is then
    * tip+1, the reference's behavior). An absent or empty sink resumes
    * from 0 — genesis. */
  def resumeWithReorgCheck(spark: SparkSession, path: String, source: DataFrame,
                           blockIdCol: String = "block_id",
                           hashCol: String = "block_hash",
                           bucketCol: String = "block_id_group",
                           sortCols: Seq[String] = Seq("block_id"),
                           checkDepth: Long = 64,
                           bucketSize: Long = 1000): (Long, Option[Long]) = {
    require(checkDepth > 0, "checkDepth must be positive")
    val tip = maxStoredBlock(spark, path, blockIdCol, bucketCol)
      .getOrElse(return (0L, None))
    val lo = math.max(0L, tip - checkDepth + 1)
    // the tip's bucket exists, so the scoped read of the checked buckets
    // is never empty; it takes the source's types, as the rewrite does
    val tail = Sinks.readBuckets(spark, path, bucketCol, lo / bucketSize to tip / bucketSize,
        Some(StructType(Seq(source.schema(blockIdCol), source.schema(hashCol))))).get
      .filter(col(blockIdCol) >= lo)
      .select(col(blockIdCol), col(hashCol).as("__stored_hash"))
    val srcTail = source.filter(col(blockIdCol).between(lo, tip))
      .select(col(blockIdCol), col(hashCol).as("__src_hash"))
    val forkRow = tail.join(srcTail, Seq(blockIdCol), "left")
      .filter(col("__src_hash").isNull
        || col("__src_hash") =!= col("__stored_hash"))
      .agg(min(col(blockIdCol)).cast("long")).collect()(0)
    if (forkRow.isNullAt(0)) return (tip + 1, None)
    val fork = forkRow.getLong(0)
    // replacement = authoritative rows from the fork point on (the caller
    // bounds `source`; anything it carries beyond the old tip is ingested
    // in the same pass), bucket derived if the source does not carry it
    val replacement0 = source.filter(col(blockIdCol) >= fork)
    val replacement =
      if (source.columns.contains(bucketCol)) replacement0
      else replacement0.withColumn(bucketCol, floor(col(blockIdCol) / bucketSize))
    Sinks.upsertBucketedParquet(replacement, path, pkCols = Seq(blockIdCol),
      bucketCol = bucketCol, sortCols = sortCols,
      newBuckets = Some(fork / bucketSize to tip / bucketSize),
      dropOldWhere = Some(col(blockIdCol) >= fork))
    (maxStoredBlock(spark, path, blockIdCol, bucketCol).getOrElse(-1L) + 1, Some(fork))
  }

  /** Ingest-completeness audit: the MISSING block ranges of a partially
    * ingested store — the check the reference's transformation stage
    * runs before trusting a block range (a silent hole in the middle of
    * an ingested span corrupts every downstream aggregate; `maxIngested`
    * alone cannot see it). Returns one row per maximal contiguous gap:
    * (gap_start, gap_end, n_missing).
    *
    * Scale shape — gaps BETWEEN consecutive present blocks without a
    * global sort: blocks land in `bucketSize` buckets; in-bucket gaps
    * come from a lag window PARTITIONED BY BUCKET (parallel, each
    * partition bounded by the bucket width); cross-bucket gaps come from
    * a lead window over the per-bucket (min, max) SUMMARY — n/bucketSize
    * rows, bounded metadata at any corpus size (20M blocks / 1000 = 20k
    * rows through the one single-partition window), covering both
    * boundary gaps and wholly-missing buckets. The union is exactly the
    * lag-over-everything answer, proven by the DuckDB oracle computing
    * it the naive way. */
  def ingestGaps(blocks: DataFrame, blockIdCol: String = "block_id",
                 bucketSize: Long = 1000): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val b = blocks.select(col(blockIdCol).cast("long").as("__b"))
      .distinct()
      .withColumn("__bkt", expr(s"__b div $bucketSize"))
    val inBucket = b
      .withColumn("__prev",
        lag(col("__b"), 1).over(W.partitionBy(col("__bkt")).orderBy(col("__b"))))
      .filter(col("__prev").isNotNull && col("__b") > col("__prev") + 1)
      .select((col("__prev") + 1).as("gap_start"), (col("__b") - 1).as("gap_end"))
    val summary = b.groupBy(col("__bkt"))
      .agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
    val crossBucket = summary
      .withColumn("__next_lo", lead(col("__lo"), 1).over(W.orderBy(col("__bkt"))))
      .filter(col("__next_lo").isNotNull && col("__next_lo") > col("__hi") + 1)
      .select((col("__hi") + 1).as("gap_start"), (col("__next_lo") - 1).as("gap_end"))
    inBucket.unionByName(crossBucket)
      .withColumn("n_missing", col("gap_end") - col("gap_start") + 1)
  }

  /** T6 companion: parent-hash continuity audit — the DETECTION half of
    * reorg handling ([[resumeWithReorgCheck]] is the repair half). Every
    * block carries its parent's hash; an append-only ingester that
    * followed a chain switch mid-stream (the source reorganized under
    * it) stores a block whose `parent_hash` does not equal the stored
    * hash of block−1 — the on-ingest signal that an orphaned span sits
    * in the store and the rewrite path must run. The reference resumes
    * blindly and never checks this (SURVEY T6).
    *
    * Returns one row per discontinuity: (block_id, parent_hash,
    * prev_hash) where the predecessor block id−1 is PRESENT but its
    * stored hash differs from the block's parent pointer. Holes are
    * deliberately NOT reported (id−1 absent is [[ingestGaps]]' finding,
    * not a reorg); a null parent (genesis) never fires.
    *
    * Scale shape — same as [[ingestGaps]]: in-bucket predecessors from a
    * lag window PARTITIONED BY BUCKET; bucket-boundary predecessors from
    * a lag over the per-bucket (last id, last hash) SUMMARY —
    * n/bucketSize rows of bounded metadata through the one
    * single-partition window — landed back by a broadcast join. The
    * summary is n/bucketSize rows (~20k for the 20M-block Ethereum
    * chain — trivially broadcastable); for a hypothetical 1e10-block
    * store raise `bucketSize` so the summary stays metadata-sized, the
    * same knob [[ingestGaps]] documents. */
  def detectReorgs(blocks: DataFrame, blockIdCol: String = "block_id",
                   hashCol: String = "block_hash",
                   parentCol: String = "parent_hash",
                   bucketSize: Long = 1000): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val b = blocks.select(col(blockIdCol).cast("long").as("__b"),
        col(hashCol).as("__h"), col(parentCol).as("__p"))
      .withColumn("__bkt", expr(s"__b div $bucketSize"))
    val byBucket = W.partitionBy(col("__bkt")).orderBy(col("__b"))
    val inBucket = b
      .withColumn("__prev_b", lag(col("__b"), 1).over(byBucket))
      .withColumn("__prev_h", lag(col("__h"), 1).over(byBucket))
    val summary = b.groupBy(col("__bkt"))
      .agg(max(col("__b")).as("__last_b"), max_by(col("__h"), col("__b")).as("__last_h"))
      .withColumn("__pb_b", lag(col("__last_b"), 1).over(W.orderBy(col("__bkt"))))
      .withColumn("__pb_h", lag(col("__last_h"), 1).over(W.orderBy(col("__bkt"))))
      .select(col("__bkt"), col("__pb_b"), col("__pb_h"))
    inBucket.join(broadcast(summary), Seq("__bkt"))
      .withColumn("__pred_b", coalesce(col("__prev_b"), col("__pb_b")))
      .withColumn("__pred_h", coalesce(col("__prev_h"), col("__pb_h")))
      .filter(col("__pred_b") === col("__b") - 1
        && col("__pred_h") =!= col("__p"))
      .select(col("__b").as(blockIdCol), col("__p").as(parentCol),
        col("__pred_h").as("prev_hash"))
  }
}

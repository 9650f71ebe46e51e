package graft.eth

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Pin

/** Sinks (SURVEY §2.7): bucket-partitioned parquet (the engine's primary
  * layout, mirroring the reference's 1,000-block files / Cassandra
  * partitions) and the gzipped-CSV dialect with per-table delimiters.
  */
object Sinks {

  /** T5/K1: bucket-aligned partitioned parquet write.
    *
    * `partitionBy(bucketCol)` makes the bucket a *directory* key — block-range
    * readers prune partitions exactly like the reference's
    * `block_id_group`-keyed Cassandra partitions / `%08d-%08d` export dirs
    * (ref: scripts/eth_csv_export.py:563-598). `repartition(bucketCol)`
    * first co-locates each bucket in one task so each partition directory
    * gets one file instead of one-per-task (small-files control at scale);
    * `sortWithinPartitions` reproduces the clustering order
    * (ref: scripts/schema.cql:101-102).
    */
  def writeBucketedParquet(df: DataFrame, path: String,
                           bucketCol: String = "block_id_group",
                           sortCols: Seq[String] = Seq("block_id")): Unit =
    writeBucketedParquetSorted(df, path, bucketCol, sortCols.map(col))

  /** [[writeBucketedParquet]] generalized to arbitrary sort EXPRESSIONS
    * (the clustering key need not be a stored column — e.g. the Morton
    * interleave of two probe dimensions in Z-order compaction; a sort-only
    * expression is never written). This is the single write recipe every
    * bucketed-sink path shares — mode/overwrite/partitioning changes land
    * here once. */
  def writeBucketedParquetSorted(df: DataFrame, path: String,
                                 bucketCol: String,
                                 sortExprs: Seq[org.apache.spark.sql.Column]): Unit =
    writeClustered(df.repartition(col(bucketCol)), path, bucketCol, sortExprs)

  /** The write recipe after its exchange: `clustered` is already
    * hash-partitioned on `bucketCol` (one task per bucket), so only the
    * clustering sort and the write remain. The upsert merge enters here
    * with its window planted between the exchange and the sort. */
  private def writeClustered(clustered: DataFrame, path: String,
                             bucketCol: String,
                             sortExprs: Seq[org.apache.spark.sql.Column]): Unit =
    clustered
      .sortWithinPartitions((col(bucketCol) +: sortExprs).toIndexedSeq: _*)
      .write
      .mode("overwrite")
      // dynamic: replace only the buckets present in this write — the
      // partition-level upsert that makes incremental re-ingest idempotent
      // (T4) without wiping previously ingested ranges (static overwrite
      // would truncate the whole table)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(bucketCol)
      .parquet(path)

  /** Partition (bucket) values already present in a bucketed-parquet sink —
    * read from the directory listing, not the data (bounded metadata). */
  private[eth] def existingBuckets(spark: SparkSession, path: String,
                                   bucketCol: String): Set[Long] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) Set.empty
    else fs.listStatus(hPath).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$bucketCol=") => n.stripPrefix(s"$bucketCol=") }
      // non-numeric partition dirs (e.g. __HIVE_DEFAULT_PARTITION__ from a
      // null bucket) are not upsert-addressable — skip, don't throw
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .toSet
  }

  /** Read ONLY the named buckets of a bucketed-parquet sink: each named
    * `<bucketCol>=<b>` directory is probed for existence and the present
    * ones are handed to the reader, so both the probe and the file-index
    * listing cost O(|buckets|) — the sink root is never listed. A
    * whole-sink `read.parquet(path).filter(bucket isin ...)` prunes the
    * DATA but still lists every partition dir up front; at the 100 TB
    * posture (bucket count scales with the corpus so bucket SIZE stays
    * bounded) that listing dominates small-batch maintenance — measured
    * at 6,400 buckets it owned the mutable-index maintainers' per-batch
    * wall (SCALE_r14 §2). `basePath` keeps the partition column in the
    * schema (it reads back as INT; callers cast, as with the whole-sink
    * read). Buckets absent on disk are skipped (a replay may name a
    * bucket the crashed run never wrote); None when nothing exists.
    *
    * @param schema read with this schema instead of inferring one from a
    *   footer (inference is a Spark job of its own). Columns the files
    *   lack read back as null — the upsert reads a bucket written before
    *   a schema evolution this way — and a given partition column takes
    *   the schema's type instead of the inferred INT. */
  def readBuckets(spark: SparkSession, path: String, bucketCol: String,
                  buckets: Seq[Long],
                  schema: Option[StructType] = None): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = buckets.distinct.map(b => s"$path/$bucketCol=$b")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (dirs.isEmpty) None
    else Some(schema.foldLeft(spark.read)(_.schema(_))
      .option("basePath", path).parquet(dirs: _*))
  }

  /** Bucket-level upsert: merge the incoming rows with whatever already
    * lives in the *overlapping* buckets, giving incoming rows precedence per
    * primary key (last-write-wins — the actual Cassandra-upsert semantics,
    * correct under replay AND under re-ingest of changed content, e.g. a
    * chain reorg), then rewrite only the touched buckets (dynamic partition
    * overwrite). This is what makes *mid-bucket* incremental ranges safe:
    * plain overwrite replaces whole bucket directories, so a range starting
    * at block 1500 would silently drop blocks 1000-1499.
    *
    * Cost model: `newBuckets` is pure arithmetic on the caller's range
    * (pass it to avoid an extra evaluation of `df`'s plan); only those
    * bucket directories are listed and read. A batch that overlaps nothing
    * is the plain bucketed write. Otherwise the write is ONE SQL execution
    * that evaluates the batch once: batch ∪ the stored overlap buckets
    * (steady state: one boundary bucket) go through the writer's own
    * bucket exchange, the PK merge ([[mergeOverlap]]) rides the clustering
    * sort, and the write follows. No pin is needed to break lineage from
    * the files being overwritten: a dynamic overwrite stages its task
    * output and swaps the bucket directories in at job commit, after every
    * task has finished reading the old files.
    *
    * With an eraser (either parameter below) a stored overlap bucket can
    * end the merge with no row at all; the write then goes through
    * [[rewriteBuckets]], which deletes every such bucket, so no row the
    * eraser matched can be read afterwards. Without one every stored row
    * is kept or replaced, no bucket can empty, and the write carries no
    * observation.
    *
    * @param dropOldWhere optional predicate over STORED rows: matching
    *   rows in the overlap bucket(s) are dropped before the PK merge even
    *   if the incoming batch carries no colliding PK. The replay-scope
    *   eraser for writers whose row KEYS are state-dependent (a replayed
    *   mini-batch may key partials differently than its original run —
    *   see StreamingOps.maintainCentroids): pass the batch-scope
    *   predicate (e.g. batch_id === current) so the replay REPLACES the
    *   original batch's rows wholesale instead of merging beside them.
    *   The reorg repair passes `block_id >= fork` ([[Ingest.resumeWithReorgCheck]]).
    * @param dropOldKeys the DISTRIBUTED form of the same eraser: stored
    *   overlap rows whose values on this frame's columns MATCH ANY of its
    *   rows are dropped before the merge (left-anti join — the PLANNER
    *   broadcasts a small key frame and falls back to a shuffled
    *   anti-join for a huge one, so the key set never needs to fit the
    *   driver the way an `isin` literal or a forced broadcast would).
    *   Used by the
    *   mutable-corpus index maintainers: pass the batch's id set so a
    *   re-ingested id's rows are replaced WHOLESALE — correct even when
    *   the new batch carries FEWER (or zero) rows for that id. Composes
    *   with dropOldWhere (either match drops). */
  def upsertBucketedParquet(df: DataFrame, path: String, pkCols: Seq[String],
                            bucketCol: String = "block_id_group",
                            sortCols: Seq[String] = Seq("block_id"),
                            newBuckets: Option[Seq[Long]] = None,
                            dropOldWhere: Option[Column] = None,
                            dropOldKeys: Option[DataFrame] = None): Unit = {
    val sortExprs = sortCols.map(col)
    mergeOverlap(df, path, pkCols, bucketCol, newBuckets, dropOldWhere, dropOldKeys) match {
      case None => writeClustered(df.repartition(col(bucketCol)), path, bucketCol, sortExprs)
      case Some((merged, _)) if dropOldWhere.isEmpty && dropOldKeys.isEmpty =>
        writeClustered(merged, path, bucketCol, sortExprs)
      case Some((merged, read)) => rewriteBuckets(merged, path, bucketCol, sortExprs, read)
    }
  }

  /** [[upsertBucketedParquet]] that also RETURNS what it wrote:
    * (writtenFrame, writtenBuckets). The frame is exactly the write's
    * input — checkpoint-backed on both sides (the caller's pinned batch,
    * or a [[graft.Pin]] of the one merge expression when the batch
    * overlaps stored buckets), so reading it AFTER the overwrite never
    * touches the replaced files. The merge pin is never released here:
    * called inside a [[graft.Pin.scope]] (as the mutable-index
    * maintainers do), it is freed when the scope closes. The bucket list is the distinct bucket
    * values that actually received rows, observed on the write itself
    * ([[rewriteBuckets]], which also deletes the stored buckets the
    * erasers emptied) — zero extra jobs. Consumers (the mutable-index
    * maintainers, r15): the flag pass joins against the returned frame
    * instead of re-listing + re-reading the buckets it just wrote. */
  def upsertBucketedParquetReturning(df: DataFrame, path: String,
                                     pkCols: Seq[String],
                                     bucketCol: String = "block_id_group",
                                     sortCols: Seq[String] = Seq("block_id"),
                                     newBuckets: Option[Seq[Long]] = None,
                                     dropOldWhere: Option[Column] = None,
                                     dropOldKeys: Option[DataFrame] = None)
      : (DataFrame, IndexedSeq[Long]) =
    mergeOverlap(df, path, pkCols, bucketCol, newBuckets, dropOldWhere, dropOldKeys) match {
      case None =>
        (df, rewriteBuckets(df.repartition(col(bucketCol)), path, bucketCol,
          sortCols.map(col), read = Nil))
      case Some((merged, read)) =>
        // the pinned merge is already clustered by its own exchange
        val out = Pin(merged)
        (out, rewriteBuckets(out, path, bucketCol, sortCols.map(col), read))
    }

  /** The one bucket rewrite that can leave a stored bucket empty. Writes
    * `clustered` (already hash-partitioned on `bucketCol`) through
    * [[writeClustered]], observing on that same write which buckets
    * receive rows, then deletes every bucket of `read` — the buckets whose
    * stored rows the rewrite read — that received none: a dynamic
    * overwrite replaces only the buckets present in its output, so an
    * emptied bucket would otherwise keep serving its old files. A name in
    * `read` with no directory is a no-op. The deletes follow the commit,
    * so a crash between the two leaves the stale bucket for the replay,
    * which reads it, empties it and deletes it again. Returns the written
    * buckets. */
  private def rewriteBuckets(clustered: DataFrame, path: String,
                             bucketCol: String, sortExprs: Seq[Column],
                             read: Seq[Long]): IndexedSeq[Long] = {
    val obs = org.apache.spark.sql.Observation()
    writeClustered(
      clustered.observe(obs, collect_set(col(bucketCol).cast("long")).as("__kbs")),
      path, bucketCol, sortExprs)
    // a write with no rows still reports the metric, as an empty set
    val written = obs.get("__kbs").asInstanceOf[scala.collection.Seq[Long]].toIndexedSeq
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(clustered.sparkSession.sparkContext.hadoopConfiguration)
    read.filterNot(written.toSet).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"$bucketCol=$b"), true)
    }
    written
  }

  /** The upsert's merge, defined once for both entry points: incoming rows
    * (`__pri` 1) ∪ the stored rows of the overlap buckets that survive the
    * erasers (`__pri` 0), hash-clustered on `bucketCol` — the write
    * recipe's own exchange — then one row per (bucket, PK), incoming first.
    * Partitioning the window by the bucket as well as the PK lets it reuse
    * that exchange, and with `sortCols` = `pkCols` its sort is the
    * clustering sort too. Returns the merge with the batch's buckets (the
    * ones read), or None when the batch overlaps no stored bucket.
    *
    * The stored buckets are read with the batch's schema: a bucket written
    * before a schema evolution reads the columns it lacks as null, with no
    * schema-merge job. */
  private def mergeOverlap(df: DataFrame, path: String, pkCols: Seq[String],
                           bucketCol: String, newBuckets: Option[Seq[Long]],
                           dropOldWhere: Option[Column],
                           dropOldKeys: Option[DataFrame])
      : Option[(DataFrame, Seq[Long])] = {
    val incoming = newBuckets.getOrElse {
      // fallback: derive from the batch (one extra evaluation of df's plan).
      // A null bucket is NOT upsert-addressable (dynamic overwrite would
      // replace the whole __HIVE_DEFAULT_PARTITION__ dir, silently dropping
      // previously stored null-bucket rows) — fail loudly instead. The
      // engine contract derives the bucket from a non-null block_id, so a
      // null here is a caller bug, not data.
      val vals = df.select(col(bucketCol).cast("long")).distinct().collect()
      require(!vals.exists(_.isNullAt(0)),
        s"upsertBucketedParquet: null $bucketCol in batch — null buckets are" +
          " not upsert-addressable (see scaladoc)")
      vals.map(_.getLong(0)).toIndexedSeq
    }
    // scoped read: only the batch's bucket dirs are listed; None exactly
    // when the batch overlaps no stored bucket
    readBuckets(df.sparkSession, path, bucketCol, incoming, Some(df.schema)).map { stored =>
      // null-safe negation: a null predicate value must KEEP the row
      val afterPred = dropOldWhere
        .map(p => stored.filter(!coalesce(p, lit(false))))
        .getOrElse(stored)
      val old = dropOldKeys
        .map(keys => afterPred.join(keys, keys.columns.toSeq, "left_anti"))
        .getOrElse(afterPred)
      // precedence: incoming rows win over stored rows on PK collision
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy((bucketCol +: pkCols).map(col).toIndexedSeq: _*)
        .orderBy(col("__pri").desc)
      (df.withColumn("__pri", lit(1))
        .unionByName(old.withColumn("__pri", lit(0)))
        .repartition(col(bucketCol))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__pri", "__rn"), incoming)
    }
  }

  /** General MERGE semantics over a keyed frame — matched-update /
    * not-matched-insert / matched-delete in ONE window pass (the K10
    * generalization of the PK upsert; [[graft.eth.Relations]]'s
    * incremental replay is the additive special case). `changes` carries
    * full row payloads plus an op column (`"U"` = upsert: update when the
    * PK exists, insert when it doesn't; `"D"` = delete when it exists —
    * deleting an absent PK is a no-op, the CDC-replay contract) and a
    * sequence column ordering multiple changes to the SAME PK within one
    * batch (the CDC log offset): the highest sequence wins, and what it
    * says — payload or tombstone — is the PK's final state.
    *
    * One shuffle on the PK (the exchange any merge needs), one window
    * (partitioned by PK — never a global sort), zero joins: base and
    * changes union, priority (change > stored, then seq) picks the
    * survivor, tombstones drop. Deterministic for distinct (pk, seq)
    * pairs. Scale shape: |base ∪ changes| rows through one hash exchange;
    * with base already bucketed, pair with [[mergeCdcBucketedParquet]]
    * which prunes the read to touched buckets first. */
  def applyCdc(base: DataFrame, changes: DataFrame, pkCols: Seq[String],
               opCol: String = "op", seqCol: String = "seq"): DataFrame =
    cdcMerge(base, changes, pkCols, opCol, seqCol, bucketCol = None)

  /** [[applyCdc]]'s one window pass. Given `bucketCol`, the base ∪ changes
    * union is hash-clustered on the bucket first and the window is
    * partitioned by (bucket, PK), so it reuses that exchange — the bucketed
    * write's own — instead of adding a PK one, as [[mergeOverlap]]'s does. */
  private def cdcMerge(base: DataFrame, changes: DataFrame, pkCols: Seq[String],
                       opCol: String, seqCol: String,
                       bucketCol: Option[String]): DataFrame = {
    val dataCols = base.columns.toIndexedSeq
    require(!dataCols.contains(opCol) && !dataCols.contains(seqCol),
      s"base must not carry the CDC bookkeeping columns ($opCol, $seqCol)")
    // (bucket, PK) groups exactly the rows PK alone would only because the
    // PK→bucket map is stable (mergeCdcBucketedParquet's contract): a PK's
    // stored row and all its changes carry the same bucket
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((bucketCol.toSeq ++ pkCols).map(col).toIndexedSeq: _*)
      .orderBy(col("__pri").desc, col("__seq").desc)
    // op validation rides the merge itself (raise_error inside the one
    // pass — no eager extra job over the changeset; the Enrich lesson)
    val opChecked = when(col(opCol).isin("U", "D"), col(opCol))
      .otherwise(raise_error(concat(
        lit("applyCdc: unknown op '"), col(opCol),
        lit("' — expected U (upsert) / D (delete)"))))
    val union = changes.select(dataCols.map(col) :+ opChecked.as("__op") :+
        col(seqCol).cast("long").as("__seq"): _*)
      .withColumn("__pri", lit(1))
      .unionByName(base.select(dataCols.map(col): _*)
        .withColumn("__op", lit("U")).withColumn("__seq", lit(Long.MinValue))
        .withColumn("__pri", lit(0)))
    bucketCol.fold(union)(b => union.repartition(col(b)))
      .withColumn("__rn", row_number().over(w))
      // (pk, seq) uniqueness is ENFORCED, not assumed: duplicate-seq change
      // rows would make the row_number winner arbitrary (worst case a U and
      // a D at the same offset — the PK's survival would be nondeterministic).
      // The window order (__pri desc, __seq desc) makes equal (pk, seq)
      // change rows ADJACENT, so one lead() over the window already in hand
      // detects every duplicate with zero extra exchange. The raise rides
      // inside ONE CaseWhen filter predicate — `when` semantics gate the
      // raising branch on the dup condition alone, so no Catalyst conjunct
      // reordering (which is NOT guaranteed stable across versions) can
      // evaluate the keep-condition first and drop the raising row before
      // the check runs — CdcSpec locks the raise.
      .withColumn("__dup",
        col("__pri") === 1 && lead(col("__pri"), 1).over(w) === 1 &&
          lead(col("__seq"), 1).over(w) === col("__seq"))
      .filter(when(col("__dup"),
          raise_error(concat(lit("applyCdc: duplicate (pk, seq) in changeset"),
            lit(" at seq="), col("__seq").cast("string"))).cast("boolean"))
        .otherwise(col("__rn") === 1 && col("__op") =!= "D"))
      .select(dataCols.map(col): _*)
  }

  /** K10: [[applyCdc]] against a bucketed-parquet sink — the bucket-
    * granular CDC apply. Touched buckets = the changeset's buckets (the
    * PK→bucket map must be stable, same contract as the upsert); only
    * those bucket directories are read back (with the changeset's data
    * schema), merged through the one-window CDC pass — partitioned by
    * (bucket, PK), so the write's bucket exchange is the merge's only
    * shuffle — and rewritten by
    * [[rewriteBuckets]]'s dynamic partition overwrite — untouched buckets
    * keep their files byte-for-byte, and a bucket whose merge result is
    * EMPTY (everything deleted) is deleted after the write instead of
    * left stale. Replaying the same changeset is idempotent. */
  def mergeCdcBucketedParquet(changes: DataFrame, path: String,
                              pkCols: Seq[String],
                              opCol: String = "op", seqCol: String = "seq",
                              bucketCol: String = "block_id_group",
                              sortCols: Seq[String] = Seq("block_id")): Unit = {
    val touchedRows = changes.select(col(bucketCol).cast("long")).distinct().collect()
    require(!touchedRows.exists(_.isNullAt(0)),
      s"mergeCdcBucketedParquet: null $bucketCol in changeset — null buckets" +
        " are not merge-addressable")
    val touched = touchedRows.map(_.getLong(0)).toIndexedSeq
    val data = changes.drop(opCol, seqCol)
    val base = readBuckets(changes.sparkSession, path, bucketCol, touched, Some(data.schema))
      .getOrElse(data.limit(0))
    rewriteBuckets(cdcMerge(base, changes, pkCols, opCol, seqCol, Some(bucketCol)),
      path, bucketCol, sortCols.map(col), touched)
  }

  /** Small-files compaction for a bucketed sink — the table maintenance a
    * 100 TB layout needs continuously: append/upsert cycles leave buckets
    * holding one file per former write task, and thousands of tiny files
    * per partition degrade every later scan (file-open and footer cost,
    * undersized row groups). Rewrites ONLY the buckets whose file count
    * exceeds `maxFilesPerBucket`, coalescing each to a single clustered
    * file in the sink's sort order via the same dynamic-partition-
    * overwrite discipline as the upsert path (untouched buckets keep
    * their files byte-for-byte; the oversized buckets are read and
    * replaced in one write, no pin). Idempotent: a second run finds
    * nothing oversized and rewrites nothing. The directory listing is
    * bounded driver-side metadata (#buckets, not #rows); the rewrite
    * itself is one scoped scan + one partitioned write. Returns the
    * compacted bucket values. */
  def compactBuckets(spark: SparkSession, path: String,
                     bucketCol: String = "block_id_group",
                     sortCols: Seq[String] = Seq("block_id"),
                     maxFilesPerBucket: Int = 1,
                     zorderCols: Option[(String, String)] = None): Seq[Long] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return Seq.empty
    val oversized = fs.listStatus(hPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$bucketCol="))
      .flatMap { d =>
        val nFiles = fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        val v = d.getPath.getName.stripPrefix(s"$bucketCol=")
        if (nFiles > maxFilesPerBucket) scala.util.Try(v.toLong).toOption
        else None
      }
    readBuckets(spark, path, bucketCol, oversized).foreach { rows =>
      zorderCols match {
        case None => writeBucketedParquet(rows, path, bucketCol, sortCols)
        case Some((cx, cy)) =>
          // Z-order-on-compact: cluster each bucket by the Morton
          // interleave of the two probe dimensions instead of the linear
          // sort order. Row groups then cover small (cx, cy) TILES, so a
          // two-predicate probe skips every row group outside its tile
          // rectangle via parquet min/max stats — a linear sort clusters
          // only its leading column and leaves the second dimension spread
          // across all row groups. Compaction is the natural place to pay
          // the re-sort: the rows are being rewritten anyway. The Morton
          // key rides the shared write recipe as a sort-only EXPRESSION —
          // never a written column.
          writeBucketedParquetSorted(rows, path, bucketCol,
            Seq(graft.functions.ColumnFns.mortonInterleave(col(cx), col(cy))))
      }
    }
    oversized
  }

  /** Read back a bucket range with partition pruning: the bucket filter
    * prunes directories (visible as PartitionFilters in explain), the id
    * filter prunes row groups via parquet min/max stats. */
  def readBlockRange(spark: SparkSession, path: String, lo: Long, hi: Long,
                     bucketCol: String = "block_id_group",
                     blockIdCol: String = "block_id",
                     bucketSize: Long = 1000L): DataFrame =
    spark.read.parquet(path)
      .filter(col(bucketCol).between(lo / bucketSize, hi / bucketSize)
        && col(blockIdCol).between(lo, hi))

  /** Manifest sidecar location for [[writeManifest]] — OUTSIDE the data
    * directory so `spark.read.parquet(dataDir)` never sees it. */
  def manifestPath(path: String): String = path.stripSuffix("/") + "_manifest"

  /** File-level data-skipping manifest — the min/max-per-file statistics
    * table at the core of every lakehouse format (Delta/Iceberg data
    * skipping), for plain parquet sinks: one row per data file with the
    * min/max of each `statsCols` column and its row count. Partition
    * pruning skips DIRECTORIES and parquet footers skip ROW GROUPS, but
    * between them every file of a surviving partition is still OPENED
    * (list + footer read per file) — at 100 TB with millions of files
    * that open storm dominates selective scans, and a manifest turns it
    * into one tiny pre-read. Build cost is a single column-pruned scan
    * (only `statsCols` are read) with a map-side-combined per-file
    * aggregate; the output is #files rows — metadata-sized by
    * construction. Rebuild after compaction/upsert (the write paths
    * already funnel through few entry points; a production deployment
    * would hook them). */
  def writeManifest(spark: SparkSession, path: String,
                    statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "need at least one stats column")
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1) // #files rows: metadata-sized
      .write.mode("overwrite").parquet(manifestPath(path))
  }

  /** Data files whose `[min_c, max_c]` interval INTERSECTS `[lo, hi]`,
    * per the manifest — plus the total file count. The kept list is
    * bounded driver-side metadata (file paths, same class as the
    * touched-bucket lists elsewhere in this file); files with a null min
    * (all-null column) are conservatively kept. */
  def manifestPrunedFiles(spark: SparkSession, path: String, statsCol: String,
                          lo: Long, hi: Long): (Seq[String], Long) = {
    val m = spark.read.parquet(manifestPath(path))
    val total = m.count()
    val keep = m.filter(col(s"min_$statsCol").isNull ||
        !(col(s"max_$statsCol") < lo || col(s"min_$statsCol") > hi))
      .select(col("file")).collect().map(_.getString(0)).toIndexedSeq
    (keep, total)
  }

  /** Range read THROUGH the manifest: open only intersecting files, then
    * apply the exact predicate (the manifest is a superset filter — the
    * row-level filter still runs, so a stale-but-superset manifest can
    * only cost extra IO, never wrong answers; a manifest missing new
    * files WOULD drop rows, which is why writers must rebuild it — the
    * same freshness contract every lakehouse manifest carries). */
  def readRangeViaManifest(spark: SparkSession, path: String, statsCol: String,
                           lo: Long, hi: Long): DataFrame = {
    val (keep, _) = manifestPrunedFiles(spark, path, statsCol, lo, hi)
    if (keep.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(keep: _*)
      .filter(col(statsCol).between(lo, hi))
  }

  def bloomManifestPath(path: String): String =
    path.stripSuffix("/") + "_manifest_bloom"

  /** Per-file BLOOM side-manifest — point-lookup file skipping where
    * min/max intervals can't help (high-cardinality hash keys spread
    * uniformly, so every file's [min,max] covers every probe; Delta and
    * Iceberg grow bloom/dictionary file stats for exactly this case).
    * One row per (file, 64-bit word index) with the OR'd bit mask, built
    * from the SAME Kirsch-Mitzenmacher double-hash derivation as the
    * corpus Bloom ([[graft.llm.TextAnalysis.bloomPositions]]) — so build
    * and probe can never drift. Build cost: one column-pruned scan with a
    * map-side-combined aggregate; output ≤ #files × bits/64 rows,
    * metadata-sized. Same freshness contract as [[writeManifest]]. */
  def writeBloomManifest(spark: SparkSession, path: String, keyCol: String,
                         bits: Int = 1 << 12, numHashes: Int = 3): Unit = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64, got $bits")
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val pos = explode(array(
      graft.llm.TextAnalysis.bloomPositions(col(keyCol), bits, numHashes): _*))
    spark.read.parquet(path)
      .select(input_file_name().as("file"), pos.as("__p"))
      .select(col("file"), shiftright(col("__p"), 6).as("word_idx"),
        call_function("shiftleft", lit(1L),
          col("__p").bitwiseAND(lit(63L)).cast("int")).as("__m"))
      .groupBy(col("file"), col("word_idx")).agg(bit_or(col("__m")).as("bits"))
      .coalesce(1)
      .write.mode("overwrite").parquet(bloomManifestPath(path))
  }

  /** Data files that MAY contain `probe` per the bloom manifest, plus the
    * total file count. A file is kept iff every one of the probe's bit
    * positions is set in its filter — a file with no row for a needed
    * word index set no bits there and is pruned (no false negatives by
    * construction; false positives only cost IO, the row filter still
    * runs). The kept list is bounded driver-side metadata. */
  def bloomPrunedFiles(spark: SparkSession, path: String, probe: String,
                       bits: Int = 1 << 12, numHashes: Int = 3)
      : (Seq[String], Long) = {
    // the probe's (word, mask) needs, derived DRIVER-SIDE through the JVM
    // twin of the column hash (same Kirsch-Mitzenmacher formula as the
    // build: pos_j = (h1 + j·h2) mod bits on the md5-long family) — no
    // Spark job for three constants
    val h1 = graft.llm.Similarity.md5LongJvm(probe) % bits
    val h2 = graft.llm.Similarity.md5LongJvm("1|" + probe) % bits
    val need = (0 until numHashes).map { j =>
      val p = (h1 + j.toLong * h2) % bits
      (p >> 6, 1L << (p & 63L).toInt)
    }.distinct
    // one independent `when` per needed (word, mask): a (file, word) row
    // contributes the count of needs it satisfies; all needs satisfied
    // ⟺ the per-file sum reaches |needs| (one row per word by build).
    // ONE job: the per-file hit counts double as the total file count.
    val hits = need.map { case (w, mk) =>
      when(col("word_idx") === w
        && col("bits").bitwiseAND(lit(mk)) =!= 0L, 1).otherwise(0)
    }.reduce(_ + _)
    val perFile = spark.read.parquet(bloomManifestPath(path))
      .select(col("file"), hits.as("__h"))
      .groupBy(col("file")).agg(sum(col("__h")).as("__hits"))
      .collect() // metadata-sized: #files rows
    val keep = perFile.filter(_.getLong(1) == need.size.toLong)
      .map(_.getString(0)).toIndexedSeq
    (keep, perFile.length.toLong)
  }

  /** Point lookup THROUGH the bloom manifest: open only may-contain
    * files, then apply the exact key predicate (the manifest is a
    * superset filter — false positives cost IO, never wrong answers). */
  def pointLookupViaBloom(spark: SparkSession, path: String, keyCol: String,
                          probe: String, bits: Int = 1 << 12,
                          numHashes: Int = 3): DataFrame = {
    val (keep, _) = bloomPrunedFiles(spark, path, probe, bits, numHashes)
    if (keep.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(keep: _*).filter(col(keyCol) === probe)
  }

  def ndvManifestPath(path: String): String =
    path.stripSuffix("/") + "_manifest_ndv"

  /** Per-file NDV (distinct-count) side-manifest: each data file's KMV
    * value set — its k smallest distinct md5-long hashes of `keyCol` —
    * stored as (file, __h) rows. The statistic every join planner wants
    * (broadcast vs shuffle, dedup sizing) and no min/max manifest can
    * give. Two properties make the KMV form the right per-file stat:
    * the manifest is bounded (<= #files × k rows, metadata-sized), and it
    * MERGES LOSSLESSLY — the bottom k of a union of per-file bottom-k
    * sets IS the bottom k of the union, so a whole-table (or any
    * file-subset: a partition, a day, a snapshot) estimate needs only the
    * manifest, never the data ([[graft.operators.Sketches.kmvFromHashes]]
    * algebra, asserted in SinksSpec). Build cost: one column-pruned scan
    * + a per-file distinct + per-file top-k window over file-local rows.
    * Same freshness contract as [[writeManifest]]. */
  def writeNdvManifest(spark: SparkSession, path: String, keyCol: String,
                       k: Int = 256): Unit = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file")).orderBy(col("__h"))
    spark.read.parquet(path)
      .select(input_file_name().as("file"),
        graft.functions.ColumnFns.md5Long(col(keyCol)).as("__h"))
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("file"), col("__h"))
      .coalesce(1)
      .write.mode("overwrite").parquet(ndvManifestPath(path))
  }

  /** Whole-table distinct-count estimate from the NDV manifest ALONE (no
    * data read): merge every file's KMV value set and re-estimate. Exact
    * merge algebra — equals [[graft.operators.Sketches.kmvDistinct]] run
    * directly on the table, bit for bit. */
  def ndvFromManifest(spark: SparkSession, path: String,
                      k: Int = 256): DataFrame =
    graft.operators.Sketches.kmvFromHashes(
      spark.read.parquet(ndvManifestPath(path)).select(col("__h")), k)

  /** Per-table CSV dialect (ref: scripts/csv_import.sh:12-39): logs use `|`
    * because `topics` is rendered as a JSON-ish string containing commas
    * (ref: scripts/eth_csv_export.py:574-580); all other tables use `,`. */
  def csvDelimiter(table: String): String = if (table == "log") "|" else ","

  /** The CSV dialect's writer, shared by both exports: gzip, header, the
    * table's delimiter, a null written as an empty field. */
  private def csvWriter(df: DataFrame, table: String) =
    df.write
      .mode("overwrite")
      .option("compression", "gzip")
      .option("header", "true")
      .option("delimiter", csvDelimiter(table))
      .option("emptyValue", "")

  /** The CSV dialect's reader, shared by both read-backs: explicit schema
    * (CSV carries no types), header, the table's delimiter, an empty field
    * read as null. */
  private def csvReader(spark: SparkSession, table: String, schema: StructType) =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("delimiter", csvDelimiter(table))
      .option("nullValue", "")

  /** K2: gzipped CSV with header and the table's delimiter
    * (ref: scripts/eth_csv_export.py:352-370). */
  def writeCsv(df: DataFrame, path: String, table: String): Unit =
    csvWriter(df, table).csv(path)

  /** Reference file-name prefix per table: the reference names transaction
    * files `tx_*` and log files `logs_*` (ref: scripts/eth_csv_export.py:
    * 520-523 `block_file`/`tx_file`/`trace_file`/`logs_file`). */
  def csvFilePrefix(table: String): String = table match {
    case "transaction" => "tx"
    case "log" => "logs"
    case other => other
  }

  /** K2, byte-compatible layout: write one gzip CSV file per
    * `fileBatchSize`-block window, named `<prefix>_%08d-%08d.csv.gz`, inside
    * a `%08d-%08d` subdirectory per `partitionBatchSize`-block window —
    * exactly the reference's export tree (ref: scripts/eth_csv_export.py:
    * 563-598: 1k-block files inside 1M-block dirs). Only FULL file windows
    * are written, reproducing the reference's rounding (`rounded_start_block`
    * / `rounded_end_block`, :501-511) and its flush-on-bucket-boundary loop;
    * a window with no rows still gets a header-only file (DictWriter always
    * writes the header, :368).
    *
    * Distributed shape: one shuffle that co-locates each file window in one
    * task (`repartition` on the derived window key) with rows sorted by
    * `sortCols`, then a Spark partitioned CSV write — so the data path is
    * fully parallel at any scale. The only driver-side work is one metadata
    * `rename` per 1k-block file (plus `mkdirs` per 1M-block dir): O(windows)
    * filesystem calls moving zero bytes, the same per-file cost the
    * single-threaded reference pays to create each file.
    *
    * Known divergence from the reference bytes: rows end in `\n`, not the
    * Python csv module's `\r\n`, and quoting is Spark's minimal quoting
    * (identical on this data, which contains no delimiter/quote bytes
    * outside the `topics` JSON that the `|` dialect exists to avoid).
    */
  def writeReferenceCsvLayout(df: DataFrame, outDir: String, table: String,
                              startBlock: Long, endBlock: Long,
                              fileBatchSize: Long = 1000L,
                              partitionBatchSize: Long = 1000000L,
                              blockIdCol: String = "block_id",
                              sortCols: Seq[String] = Seq("block_id")): Unit = {
    require(fileBatchSize > 0 && partitionBatchSize % fileBatchSize == 0,
      s"partitionBatchSize ($partitionBatchSize) must be a multiple of" +
        s" fileBatchSize ($fileBatchSize)") // ref: eth_csv_export.py:497-501
    val window = Ingest.roundToBuckets(startBlock, endBlock, fileBatchSize)
    if (window.isEmpty) return // no full window: nothing to export
    val (roundedStart, roundedEnd) = window.get
    val spark = df.sparkSession
    val prefix = csvFilePrefix(table)
    val tmp = s"$outDir/_tmp_$prefix"
    val header = df.columns.mkString(csvDelimiter(table))

    val id = col(blockIdCol).cast("long")
    csvWriter(df.filter(id.between(roundedStart, roundedEnd))
        .withColumn("__file_lo", (id - pmod(id, lit(fileBatchSize))))
        .repartition(col("__file_lo"))
        .sortWithinPartitions(("__file_lo" +: sortCols).map(col).toIndexedSeq: _*),
        table)
      .partitionBy("__file_lo")
      .csv(tmp)

    // the raw FS: on local disk the default ChecksumFileSystem would drag
    // `.crc` sidecars into the tree (renames move them, creates add them) —
    // files the reference layout doesn't have. Cluster FSs are unaffected.
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    (roundedStart to roundedEnd by fileBatchSize).foreach { flo =>
      val fhi = flo + fileBatchSize - 1
      val pStart = flo / partitionBatchSize * partitionBatchSize
      val pEnd = pStart + partitionBatchSize - 1
      val destDir = new org.apache.hadoop.fs.Path(
        outDir, f"$pStart%08d-$pEnd%08d")
      fs.mkdirs(destDir)
      val dest = new org.apache.hadoop.fs.Path(
        destDir, f"${prefix}_$flo%08d-$fhi%08d.csv.gz")
      if (fs.exists(dest)) fs.delete(dest, false) // idempotent re-export
      val parts = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$tmp/__file_lo=$flo/part-*.csv.gz"))
      if (parts != null && parts.nonEmpty) {
        require(parts.length == 1, // repartition pins one task per window
          s"expected one part file for window $flo, got ${parts.length}")
        fs.rename(parts.head.getPath, dest)
      } else {
        // empty window: header-only file, as the reference's DictWriter writes
        val out = new java.util.zip.GZIPOutputStream(fs.create(dest, true))
        try out.write((header + "\n").getBytes("UTF-8")) finally out.close()
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** The computed per-window file paths of a block range in the reference
    * tree — pure arithmetic over the `%08d-%08d` naming, no listing. Shared
    * by [[readReferenceCsvRange]] and the export read-back count (which must
    * count exactly the windows of ONE export, not everything a resumed
    * export accumulated in the same tree). */
  def csvWindowPaths(dir: String, table: String, lo: Long, hi: Long,
                     fileBatchSize: Long = 1000L,
                     partitionBatchSize: Long = 1000000L): Seq[String] = {
    val prefix = csvFilePrefix(table)
    (lo / fileBatchSize * fileBatchSize to hi by fileBatchSize).map { flo =>
      val pStart = flo / partitionBatchSize * partitionBatchSize
      val pEnd = pStart + partitionBatchSize - 1
      f"$dir/$pStart%08d-$pEnd%08d/${prefix}_$flo%08d-${flo + fileBatchSize - 1}%08d.csv.gz"
    }
  }

  /** K4 over the reference tree, partition-pruned: read only the file
    * windows a block range can touch. The tree's layout is pure arithmetic
    * (`%08d-%08d` dirs, `<prefix>_%08d-%08d.csv.gz` files), so the touched
    * paths are COMPUTED, never discovered — a point read from a
    * 100k-file tree lists nothing and opens one file, the CSV-tree analog
    * of parquet partition pruning. Windows absent on disk (sparse exports)
    * are skipped via one existence probe per candidate window — bounded by
    * the range, not the tree. The row-level `between` filter then trims the
    * window edges. */
  def readReferenceCsvRange(spark: SparkSession, dir: String, table: String,
                            lo: Long, hi: Long,
                            schema: StructType,
                            fileBatchSize: Long = 1000L,
                            partitionBatchSize: Long = 1000000L,
                            blockIdCol: String = "block_id"): DataFrame = {
    require(hi >= lo, s"empty range [$lo, $hi]")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = csvWindowPaths(dir, table, lo, hi,
        fileBatchSize, partitionBatchSize)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (paths.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else csvReader(spark, table, schema)
      .csv(paths: _*)
      .filter(col(blockIdCol).between(lo, hi))
  }

  /** K4: the CSV read-back contract — gzip, header, per-table delimiter,
    * empty-string nulls, explicit schema (CSV carries no types). */
  def readCsv(spark: SparkSession, path: String, table: String,
              schema: StructType): DataFrame =
    csvReader(spark, table, schema).csv(path)
}

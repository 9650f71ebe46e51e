package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin

/** Long-horizon + scale evidence for the mutable-corpus index
  * maintainers (VERDICT r13 tasks 2 and 5): the soaks, the index seeds and
  * the rebuild-equivalence checks behind `graft.Bench`'s `soak`,
  * `mediaSoak`, `scale` and `mediaScale` modes. The text engine under test
  * is `StreamingOps.maintainWinnowIndexAndFlag`, the heaviest consumer of
  * `upsertMutableIndex` (set-shrink erase, wholesale replace,
  * emptied-bucket deletion all reachable from text edits).
  *
  * A soak starts from an empty index and runs a deterministic schedule of
  * ingests, edits, shrink-below-window erasures, restores, new docs, and
  * byte-identical replays; at the end the maintained index and pk side map
  * are compared row-exactly against a from-scratch rebuild of the final
  * expected corpus state, and the report carries per-batch walls +
  * data-file counts so creep (file-count growth or per-batch slowdown) is
  * visible. The StreamingSpec mini-soaks run the same methods.
  */
object IndexSoak {

  /** Content-bucket derivation — MUST match maintainWinnowIndexAndFlag. */
  private def kbCol(keyBuckets: Int) =
    pmod(graft.functions.ColumnFns.md5Long(col("fp_hash").cast("string")),
      lit(keyBuckets.toLong))

  /** Id-bucket derivation — MUST match upsertMutableIndex's side map. */
  private def pkbCol(idCol: String, keyBuckets: Int) =
    pmod(graft.functions.ColumnFns.md5Long(col(idCol).cast("string")),
      lit(keyBuckets.toLong))

  /** Expected (id, fp_hash, kb) index rows for a corpus state. */
  def expectedIndex(docs: DataFrame, idCol: String, textCol: String,
                    keyBuckets: Int): DataFrame =
    graft.llm.TextAnalysis.winnowFingerprints(docs, idCol, textCol)
      .select(col(idCol), col("fp_hash")).distinct()
      .withColumn("kb", kbCol(keyBuckets))

  /** Seed the winnow index + pk map in ONE batch write, layout-identical
    * to what the streaming maintainer produces (same pkCols / bucket /
    * sort / sink), so subsequent micro-batches upsert into a
    * corpus-scale index without paying a corpus-length stream replay. */
  def seedWinnowIndex(docs: DataFrame, indexDir: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      keyBuckets: Int = 64): Unit = {
    val fps = Pin(expectedIndex(docs, idCol, textCol, keyBuckets))
    graft.eth.Sinks.upsertBucketedParquet(fps, indexDir,
      pkCols = Seq(idCol, "fp_hash"), bucketCol = "kb",
      sortCols = Seq("fp_hash", idCol))
    val mapRows = fps.select(col(idCol), col("kb")).distinct()
      .withColumn("pkb", pkbCol(idCol, keyBuckets))
    graft.eth.Sinks.upsertBucketedParquet(mapRows, s"${indexDir}_pk",
      pkCols = Seq(idCol, "kb"), bucketCol = "pkb", sortCols = Seq(idCol))
  }

  /** Row-exact equivalence of the maintained index + side map against a
    * from-scratch rebuild of `finalDocs` — the soak's closing assert.
    * Returns (indexDiff, mapDiff): both must be 0. */
  def rebuildDiff(spark: SparkSession, indexDir: String, finalDocs: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text",
                  keyBuckets: Int = 64): (Long, Long) = {
    val want = Pin(expectedIndex(finalDocs, idCol, textCol, keyBuckets))
    val got = spark.read.parquet(indexDir)
      .select(col(idCol), col("fp_hash"), col("kb").cast("long").as("kb"))
    val idxDiff = got.exceptAll(want).count() + want.exceptAll(got).count()
    val wantMap = want.select(col(idCol), col("kb")).distinct()
      .withColumn("pkb", pkbCol(idCol, keyBuckets))
    val gotMap = spark.read.parquet(s"${indexDir}_pk")
      .select(col(idCol), col("kb").cast("long").as("kb"),
        col("pkb").cast("long").as("pkb"))
    val mapDiff = gotMap.exceptAll(wantMap).count() + wantMap.exceptAll(gotMap).count()
    (idxDiff, mapDiff)
  }

  /** Parquet data-file count under a bucketed dir (creep detector). */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
  }

  /** `persistentRdds`/`storageBytes`: the RDDs the session still holds
    * persisted after the last batch, and their block bytes (memory +
    * disk) — what a long-running maintainer would keep. */
  case class SoakReport(walls: Seq[Double], idxDiff: Long, mapDiff: Long,
                        filesMid: Int, filesEnd: Int, finalDocsN: Long,
                        finalIndexRows: Long, persistentRdds: Int,
                        storageBytes: Long)

  private def heldBlocks(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  /** Deterministic soak: `nBatches` micro-batches against one live
    * maintainer. Schedule (k docs per op, ids arithmetic — no RNG):
    * first `seedBatches` batches ingest the base corpus in slices; then
    * cycle edit / shrink-to-below-window / restore+grow / add-new /
    * byte-identical-replay. Tracks the expected corpus in a driver map
    * (the soak's oracle) and closes with [[rebuildDiff]]. */
  def runSoak(spark: SparkSession, workDir: String, nBatches: Int,
              baseDocs: Int = 300, opDocs: Int = 20,
              keyBuckets: Int = 64): SoakReport = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def baseText(id: Long) =
      (0 until (12 + (id % 9)).toInt).map(j => s"w${(id * 7 + j * 13) % 97}")
        .mkString(s"doc $id opens with ", " ", s" and closes at ${id % 31}")
    val state = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val originals = scala.collection.mutable.Map.empty[Long, String]
    var nextNewId = 1000000L

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.maintainWinnowIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$workDir/index", s"$workDir/flags", s"$workDir/ckpt",
      minShared = 2, keyBuckets = keyBuckets)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var filesMid = 0
    var lastBatch: Seq[(Long, String)] = Seq.empty
    val seedBatches = math.max(1, math.min(nBatches / 5, baseDocs / opDocs / 2))
    val seedSlice = (baseDocs + seedBatches - 1) / seedBatches
    try {
      for (b <- 0 until nBatches) {
        val batch: Seq[(Long, String)] =
          if (b < seedBatches) {
            val ids = (b * seedSlice) until math.min((b + 1) * seedSlice, baseDocs)
            ids.map { i => val id = i.toLong; (id, baseText(id)) }
          } else (b - seedBatches) % 5 match {
            case 0 => // edit: rewrite k docs with batch-stamped tails
              pick(state.keys, b, opDocs).map(id =>
                (id, state(id) + s" edited in batch $b tail ${id % 13}"))
            case 1 => // shrink below the winnow window: full erase
              pick(state.keys, b, opDocs).map(id => (id, "tiny"))
            case 2 => // restore + grow from the original
              pick(state.keys, b, opDocs).map(id =>
                (id, originals.getOrElse(id, baseText(id)) + s" regrown at $b"))
            case 3 => // brand-new docs
              (0 until opDocs).map { j =>
                val id = nextNewId; nextNewId += 1
                (id, baseText(id) + s" born in batch $b slot $j")
              }
            case 4 => // byte-identical replay of the previous batch
              lastBatch
          }
        if (batch.nonEmpty) {
          batch.foreach { case (id, text) =>
            state(id) = text
            if (!originals.contains(id)) originals(id) = text
          }
          lastBatch = batch
          val t0 = System.nanoTime()
          input.addData(batch: _*)
          q.processAllAvailable()
          walls += (System.nanoTime() - t0) / 1e9
        }
        if (b == nBatches / 2) filesMid = dataFileCount(spark, s"$workDir/index")
      }
    } finally q.stop()
    val (persistentRdds, storageBytes) = heldBlocks(spark)
    val filesEnd = dataFileCount(spark, s"$workDir/index")
    val finalDocs = state.toSeq.toDF("doc_id", "text")
    val (idxDiff, mapDiff) = rebuildDiff(spark, s"$workDir/index", finalDocs,
      keyBuckets = keyBuckets)
    SoakReport(walls.toSeq, idxDiff, mapDiff, filesMid, filesEnd,
      state.size.toLong,
      spark.read.parquet(s"$workDir/index").count(), persistentRdds, storageBytes)
  }

  /** Deterministic doc pick: k ids from the live set, rotated by batch. */
  private def pick(ids: Iterable[Long], b: Int, k: Int): Seq[Long] = {
    val live = ids.toIndexedSeq
    if (live.isEmpty) Seq.empty
    else (0 until math.min(k, live.size)).map(j => live((b * 31 + j * 7) % live.size)).distinct
  }

  // ------------------------------------------------------------------
  // MEDIA maintainers (VERDICT r14 Next #2): the image and video-frame
  // indexes pay REAL JPEG/AVI decodes in the batch path — same scale
  // gate (per-batch cost must be O(batch decode + touched buckets),
  // never O(corpus)) and the same soak (edits, re-encodes, shorter-video
  // re-ingests, undecodables, replays → rebuild-equivalence on BOTH the
  // index and the pk side map).
  // ------------------------------------------------------------------

  import graft.llm.Multimodal
  import graft.llm.Multimodal.MediaRecord

  /** Deterministic media payloads: block-quantized gray pixels keyed by
    * (id, version) so an "edit" is a re-encode with CHANGED content and
    * a "restore" is byte-identical to the original. version < 0 =
    * undecodable junk (the erase case); video payloads carry nFrames so
    * a SHORTER re-ingest erases the tail frame rows. */
  def mediaPayload(id: Long, ver: Int, video: Boolean,
                   nFrames: Int = 6): Array[Byte] =
    if (ver < 0) s"not decodable media $id v$ver".getBytes("US-ASCII")
    else if (video)
      Multimodal.encodeAviMjpeg(64, 48, nFrames, f => (x, y) => {
        val v = (((x / 8) * 5 + (y / 8) * 9 + f * 13 + id * 7 + ver * 131) % 256).toInt
        (v, v, v)
      })
    else
      // per-PIXEL gradient with id-dependent slopes: aHash's default
      // window is the top-left 8x6 pixels at stride 1, so a
      // block-constant image would hash DEGENERATE (every image, one
      // hash, six giant buckets — a flood fixture, not a corpus)
      Multimodal.encodeJpeg(64, 48, (x, y) => {
        val v = ((x * (3 + id % 5) + y * (2 + id % 7) + id * 7 +
          ver * 131) % 256).toInt
        (v, v, v)
      })

  def mediaMime(video: Boolean): String =
    if (video) "video/x-msvideo" else "image/jpeg"

  /** The image or video-frame maintainer over a `(media_id, payload, mime)`
    * stream, writing under `workDir`. */
  def mediaMaintainer(stream: DataFrame, workDir: String, keyBuckets: Int,
                      video: Boolean): org.apache.spark.sql.streaming.StreamingQuery =
    if (video) StreamingOps.maintainVideoFrameIndexAndFlag(stream,
      s"$workDir/index", s"$workDir/flags", s"$workDir/ckpt",
      keyBuckets = keyBuckets)
    else StreamingOps.maintainImageIndexAndFlag(stream,
      s"$workDir/index", s"$workDir/flags", s"$workDir/ckpt",
      keyBuckets = keyBuckets)

  /** Expected index rows for a corpus state — MUST replicate the
    * maintainers' derivations (aHash / videoFrameHashes with the
    * maintainer defaults, 6 byte-bands, and the r15 ID-SHARDED bucket
    * key kb = md5(band | band_key | md5(id) % idShards) % keyBuckets). */
  def expectedMediaIndex(media: org.apache.spark.sql.Dataset[MediaRecord],
                         keyBuckets: Int, video: Boolean,
                         idShards: Int = 16): DataFrame = {
    val hashes =
      if (video)
        Multimodal.videoFrameHashes(media, every = 1, strideX = 8,
            strideY = 8, fallbackStride1 = true).toDF()
          .select(col("media_id"), col("frame_idx"), col("ahash"))
      else Multimodal.aHash(media).toDF().select(col("media_id"), col("ahash"))
    hashes
      .withColumn("band", explode(sequence(lit(0), lit(5))))
      .withColumn("band_key",
        expr("shiftrightunsigned(ahash, band * 8) & 255"))
      .withColumn("kb", pmod(graft.functions.ColumnFns.md5Long(
        concat_ws("|", col("band"), col("band_key"),
          pmod(graft.functions.ColumnFns.md5Long(
            col("media_id").cast("string")), lit(idShards.toLong)))),
        lit(keyBuckets.toLong)))
  }

  private def mediaPk(video: Boolean): Seq[String] =
    if (video) Seq("media_id", "frame_idx", "band") else Seq("media_id", "band")

  /** Batch-seed the media index + pk map, layout-identical to the
    * streaming maintainer's writes (the media twin of
    * [[seedWinnowIndex]]). */
  def seedMediaIndex(media: org.apache.spark.sql.Dataset[MediaRecord],
                     indexDir: String, keyBuckets: Int,
                     video: Boolean): Unit = {
    val rows = Pin(expectedMediaIndex(media, keyBuckets, video))
    graft.eth.Sinks.upsertBucketedParquet(rows, indexDir,
      pkCols = mediaPk(video), bucketCol = "kb",
      sortCols = if (video) Seq("band_key", "media_id", "frame_idx")
                 else Seq("band_key", "media_id"))
    val mapRows = rows.select(col("media_id"), col("kb")).distinct()
      .withColumn("pkb", pkbCol("media_id", keyBuckets))
    graft.eth.Sinks.upsertBucketedParquet(mapRows, s"${indexDir}_pk",
      pkCols = Seq("media_id", "kb"), bucketCol = "pkb",
      sortCols = Seq("media_id"))
  }

  /** Rebuild-equivalence for a media index: maintained index + side map
    * vs a from-scratch hash of the final corpus state. (0, 0) = exact. */
  def mediaRebuildDiff(spark: SparkSession, indexDir: String,
                       finalMedia: org.apache.spark.sql.Dataset[MediaRecord],
                       keyBuckets: Int, video: Boolean): (Long, Long) = {
    val want = Pin(expectedMediaIndex(finalMedia, keyBuckets, video))
    val cols = (mediaPk(video) :+ "band_key" :+ "ahash").map(col) :+
      col("kb").cast("long").as("kb")
    val got = spark.read.parquet(indexDir).select(cols: _*)
    val wantSel = want.select(cols: _*)
    val idxDiff = got.exceptAll(wantSel).count() + wantSel.exceptAll(got).count()
    val wantMap = want.select(col("media_id"), col("kb")).distinct()
      .withColumn("pkb", pkbCol("media_id", keyBuckets))
    val gotMap = spark.read.parquet(s"${indexDir}_pk")
      .select(col("media_id"), col("kb").cast("long").as("kb"),
        col("pkb").cast("long").as("pkb"))
    val mapDiff = gotMap.exceptAll(wantMap).count() +
      wantMap.exceptAll(gotMap).count()
    (idxDiff, mapDiff)
  }

  /** Media soak — the [[runSoak]] schedule lifted to payload mutations:
    * seed slices, then cycle re-encode (changed pixels) / erase
    * (undecodable for images; alternating SHORTER re-ingest and
    * undecodable for videos — the frame-tail erase case) / restore
    * (byte-identical original) / new media / byte-identical replay.
    * Closes with [[mediaRebuildDiff]] on BOTH the index and the map. */
  def runMediaSoak(spark: SparkSession, workDir: String, nBatches: Int,
                   video: Boolean, baseMedia: Int = 120, opMedia: Int = 10,
                   keyBuckets: Int = 64): SoakReport = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // state: id -> (version, nFrames); version < 0 = undecodable
    val state = scala.collection.mutable.LinkedHashMap.empty[Long, (Int, Int)]
    var nextNewId = 1000000L
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte], String)]
    val q = mediaMaintainer(input.toDF().toDF("media_id", "payload", "mime"),
      workDir, keyBuckets, video)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var filesMid = 0
    var lastBatch: Seq[(Long, (Int, Int))] = Seq.empty
    val seedBatches = math.max(1, math.min(nBatches / 5, baseMedia / opMedia / 2))
    val seedSlice = (baseMedia + seedBatches - 1) / seedBatches
    try {
      for (b <- 0 until nBatches) {
        val batch: Seq[(Long, (Int, Int))] =
          if (b < seedBatches) {
            val ids = (b * seedSlice) until math.min((b + 1) * seedSlice, baseMedia)
            ids.map(i => (i.toLong, (0, 6)))
          } else (b - seedBatches) % 5 match {
            case 0 => // re-encode with changed pixels
              pick(state.keys, b, opMedia).map(id => (id, (b, 6)))
            case 1 => // erase: undecodable; for video alternate with a
              // SHORTER re-ingest (tail frame rows must vanish)
              pick(state.keys, b, opMedia).map(id =>
                if (video && id % 2 == 0) (id, (b, 3)) else (id, (-b, 6)))
            case 2 => // restore the original encoding
              pick(state.keys, b, opMedia).map(id => (id, (0, 6)))
            case 3 => // brand-new media
              (0 until opMedia).map { _ =>
                val id = nextNewId; nextNewId += 1
                (id, (0, 6))
              }
            case 4 => // byte-identical replay of the previous batch
              lastBatch
          }
        if (batch.nonEmpty) {
          batch.foreach { case (id, v) => state(id) = v }
          lastBatch = batch
          val rows = batch.map { case (id, (ver, nf)) =>
            (id, mediaPayload(id, ver, video, nf), mediaMime(video))
          }
          val t0 = System.nanoTime()
          input.addData(rows: _*)
          q.processAllAvailable()
          walls += (System.nanoTime() - t0) / 1e9
        }
        if (b == nBatches / 2) filesMid = dataFileCount(spark, s"$workDir/index")
      }
    } finally q.stop()
    val (persistentRdds, storageBytes) = heldBlocks(spark)
    val filesEnd = dataFileCount(spark, s"$workDir/index")
    val finalMedia = state.toSeq.map { case (id, (ver, nf)) =>
      MediaRecord(id, mediaPayload(id, ver, video, nf), mediaMime(video))
    }.toDS()
    val (idxDiff, mapDiff) = mediaRebuildDiff(spark, s"$workDir/index",
      finalMedia, keyBuckets, video)
    SoakReport(walls.toSeq, idxDiff, mapDiff, filesMid, filesEnd,
      state.size.toLong, spark.read.parquet(s"$workDir/index").count(),
      persistentRdds, storageBytes)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

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

  import StreamingOps.{IndexLayout, mediaBands, mediaLayout, pkb, winnowLayout}

  /** Expected (id, fp_hash, kb) index rows for a corpus state. */
  private def expectedIndex(docs: DataFrame, idCol: String, textCol: String,
                            keyBuckets: Int): DataFrame =
    graft.llm.TextAnalysis.winnowFingerprints(docs, idCol, textCol)
      .select(col(idCol), col("fp_hash")).distinct()
      .withColumn("kb", winnowLayout(idCol, keyBuckets).kb)

  /** The pk side map of index rows: one (id, kb, pkb) row per bucket an
    * id's rows live in. */
  private def pkMap(rows: DataFrame, idCol: String, keyBuckets: Int): DataFrame =
    rows.select(col(idCol), col("kb")).distinct()
      .withColumn("pkb", pkb(idCol, keyBuckets))

  /** Seed an index + pk map from its expected rows in ONE batch write
    * each, layout-identical to what the streaming maintainer produces
    * (same pkCols / bucket / sort / sink), so subsequent micro-batches
    * upsert into a corpus-scale index without paying a corpus-length
    * stream replay. */
  private def seedIndex(expected: DataFrame, indexDir: String, idCol: String,
                        layout: IndexLayout, keyBuckets: Int): Unit = {
    val rows = Pin(expected)
    graft.eth.Sinks.upsertBucketedParquet(rows, indexDir,
      pkCols = layout.pkCols, bucketCol = "kb", sortCols = layout.sortCols)
    graft.eth.Sinks.upsertBucketedParquet(pkMap(rows, idCol, keyBuckets),
      s"${indexDir}_pk", pkCols = Seq(idCol, "kb"), bucketCol = "pkb",
      sortCols = Seq(idCol))
  }

  /** Row-exact equivalence of the maintained index (its `cols` and `kb`)
    * and pk side map against a from-scratch rebuild `expected` of the
    * final corpus — the soak's closing assert. Returns (indexDiff,
    * mapDiff): both must be 0. */
  private def rebuildDiff(spark: SparkSession, indexDir: String,
                          expected: DataFrame, idCol: String, cols: Seq[String],
                          keyBuckets: Int): (Long, Long) = {
    def diff(a: DataFrame, b: DataFrame) = a.exceptAll(b).count() + b.exceptAll(a).count()
    val want = Pin(expected)
    val sel = cols.map(col) :+ col("kb").cast("long").as("kb")
    val gotMap = spark.read.parquet(s"${indexDir}_pk")
      .select(col(idCol), col("kb").cast("long").as("kb"),
        col("pkb").cast("long").as("pkb"))
    (diff(spark.read.parquet(indexDir).select(sel: _*), want.select(sel: _*)),
      diff(gotMap, pkMap(want, idCol, keyBuckets)))
  }

  /** Seed the winnow index + pk map from a corpus in one batch write. */
  def seedWinnowIndex(docs: DataFrame, indexDir: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      keyBuckets: Int = 64): Unit =
    seedIndex(expectedIndex(docs, idCol, textCol, keyBuckets), indexDir, idCol,
      winnowLayout(idCol, keyBuckets), keyBuckets)

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

  /** The loop both soaks run (ids arithmetic, no RNG): `nBatches`
    * micro-batches against the live maintainer `start` runs on a
    * MemoryStream of `T` named `columns`. The first batches ingest the
    * base corpus `0 until base` in `seed` slices; then the schedule
    * cycles `op(b, 0..3)` — edit / erase / restore / add new — and a
    * byte-identical replay of the previous batch. `record` folds each
    * batch into the caller's expected corpus (the soak's oracle) and
    * returns its stream rows; after the last batch `close` returns the
    * rebuild diffs (index, map) and the final corpus size. */
  private def soak[B, T: Encoder](spark: SparkSession, workDir: String,
                                  nBatches: Int, base: Int, opSize: Int,
                                  columns: Seq[String],
                                  start: DataFrame => StreamingQuery)(
      seed: Range => Seq[B], op: (Int, Int) => Seq[B], record: Seq[B] => Seq[T])(
      close: => (Long, Long, Long)): SoakReport = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val q = start(input.toDF().toDF(columns: _*))
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var filesMid = 0
    var lastBatch: Seq[B] = Seq.empty
    val seedBatches = math.max(1, math.min(nBatches / 5, base / opSize / 2))
    val seedSlice = (base + seedBatches - 1) / seedBatches
    try {
      for (b <- 0 until nBatches) {
        val batch =
          if (b < seedBatches) seed((b * seedSlice) until math.min((b + 1) * seedSlice, base))
          else (b - seedBatches) % 5 match {
            case 4 => lastBatch
            case k => op(b, k)
          }
        if (batch.nonEmpty) {
          lastBatch = batch
          val rows = record(batch)
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
    val (idxDiff, mapDiff, finalN) = close
    SoakReport(walls.toSeq, idxDiff, mapDiff, filesMid, filesEnd, finalN,
      spark.read.parquet(s"$workDir/index").count(), persistentRdds, storageBytes)
  }

  /** Deterministic text soak of the winnow maintainer, `opDocs` docs per
    * op: edit (batch-stamped tails) / shrink below the winnow window
    * (full erase) / restore + grow from the original / new docs / replay.
    * Closes with [[rebuildDiff]]. */
  def runSoak(spark: SparkSession, workDir: String, nBatches: Int,
              baseDocs: Int = 300, opDocs: Int = 20,
              keyBuckets: Int = 64): SoakReport = {
    import spark.implicits._
    def baseText(id: Long) =
      (0 until (12 + (id % 9)).toInt).map(j => s"w${(id * 7 + j * 13) % 97}")
        .mkString(s"doc $id opens with ", " ", s" and closes at ${id % 31}")
    val state = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val originals = scala.collection.mutable.Map.empty[Long, String]
    var nextNewId = 1000000L
    soak[(Long, String), (Long, String)](spark, workDir, nBatches, baseDocs, opDocs,
      Seq("doc_id", "text"),
      StreamingOps.maintainWinnowIndexAndFlag(_, s"$workDir/index",
        s"$workDir/flags", s"$workDir/ckpt", minShared = 2, keyBuckets = keyBuckets))(
      _.map { i => val id = i.toLong; (id, baseText(id)) },
      {
        case (b, 0) => pick(state.keys, b, opDocs).map(id =>
          (id, state(id) + s" edited in batch $b tail ${id % 13}"))
        case (b, 1) => pick(state.keys, b, opDocs).map(id => (id, "tiny"))
        case (b, 2) => pick(state.keys, b, opDocs).map(id =>
          (id, originals.getOrElse(id, baseText(id)) + s" regrown at $b"))
        case (b, _) => (0 until opDocs).map { j =>
          val id = nextNewId; nextNewId += 1
          (id, baseText(id) + s" born in batch $b slot $j")
        }
      },
      batch => {
        batch.foreach { case (id, text) =>
          state(id) = text
          if (!originals.contains(id)) originals(id) = text
        }
        batch
      }) {
      val (idxDiff, mapDiff) = rebuildDiff(spark, s"$workDir/index",
        expectedIndex(state.toSeq.toDF("doc_id", "text"), "doc_id", "text", keyBuckets),
        "doc_id", Seq("doc_id", "fp_hash"), keyBuckets)
      (idxDiff, mapDiff, state.size.toLong)
    }
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
                      video: Boolean): StreamingQuery =
    if (video) StreamingOps.maintainVideoFrameIndexAndFlag(stream,
      s"$workDir/index", s"$workDir/flags", s"$workDir/ckpt",
      keyBuckets = keyBuckets)
    else StreamingOps.maintainImageIndexAndFlag(stream,
      s"$workDir/index", s"$workDir/flags", s"$workDir/ckpt",
      keyBuckets = keyBuckets)

  /** Expected index rows for a corpus state: a from-scratch decode with
    * the maintainer defaults (aHash / videoFrameHashes), laid out by the
    * maintainers' own band split and media layout. */
  private def expectedMediaIndex(media: org.apache.spark.sql.Dataset[MediaRecord],
                                 keyBuckets: Int, video: Boolean): DataFrame = {
    val hashes =
      if (video)
        Multimodal.videoFrameHashes(media, every = 1, strideX = 8,
            strideY = 8, fallbackStride1 = true).toDF()
          .select(col("media_id"), col("frame_idx"), col("ahash"))
      else Multimodal.aHash(media).toDF().select(col("media_id"), col("ahash"))
    mediaBands(hashes).withColumn("kb", mediaLayout(video, keyBuckets).kb)
  }

  /** Batch-seed the media index + pk map, layout-identical to the
    * streaming maintainer's writes (the media twin of
    * [[seedWinnowIndex]]). */
  def seedMediaIndex(media: org.apache.spark.sql.Dataset[MediaRecord],
                     indexDir: String, keyBuckets: Int, video: Boolean): Unit =
    seedIndex(expectedMediaIndex(media, keyBuckets, video), indexDir, "media_id",
      mediaLayout(video, keyBuckets), keyBuckets)

  /** Media soak — the [[runSoak]] schedule lifted to payload mutations:
    * re-encode (changed pixels) / erase (undecodable for images;
    * alternating SHORTER re-ingest and undecodable for videos — the
    * frame-tail erase case) / restore (byte-identical original) / new
    * media / replay. Closes with [[rebuildDiff]] on BOTH the index and
    * the map. */
  def runMediaSoak(spark: SparkSession, workDir: String, nBatches: Int,
                   video: Boolean, baseMedia: Int = 120, opMedia: Int = 10,
                   keyBuckets: Int = 64): SoakReport = {
    import spark.implicits._
    // state: id -> (version, nFrames); version < 0 = undecodable
    val state = scala.collection.mutable.LinkedHashMap.empty[Long, (Int, Int)]
    var nextNewId = 1000000L
    soak[(Long, (Int, Int)), (Long, Array[Byte], String)](spark, workDir, nBatches,
      baseMedia, opMedia, Seq("media_id", "payload", "mime"),
      mediaMaintainer(_, workDir, keyBuckets, video))(
      _.map(i => (i.toLong, (0, 6))),
      {
        case (b, 0) => pick(state.keys, b, opMedia).map(id => (id, (b, 6)))
        case (b, 1) => pick(state.keys, b, opMedia).map(id =>
          if (video && id % 2 == 0) (id, (b, 3)) else (id, (-b, 6)))
        case (b, 2) => pick(state.keys, b, opMedia).map(id => (id, (0, 6)))
        case _ => (0 until opMedia).map { _ =>
          val id = nextNewId; nextNewId += 1
          (id, (0, 6))
        }
      },
      batch => {
        batch.foreach { case (id, v) => state(id) = v }
        batch.map { case (id, (ver, nf)) =>
          (id, mediaPayload(id, ver, video, nf), mediaMime(video))
        }
      }) {
      val finalMedia = state.toSeq.map { case (id, (ver, nf)) =>
        MediaRecord(id, mediaPayload(id, ver, video, nf), mediaMime(video))
      }.toDS()
      val (idxDiff, mapDiff) = rebuildDiff(spark, s"$workDir/index",
        expectedMediaIndex(finalMedia, keyBuckets, video), "media_id",
        mediaLayout(video, keyBuckets).pkCols :+ "band_key" :+ "ahash", keyBuckets)
      (idxDiff, mapDiff, state.size.toLong)
    }
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import java.sql.Timestamp

import graft.Pin

/** Streaming / incremental operators (SURVEY §2.6) in Structured-Streaming
  * form. Each transform is written against a plain DataFrame so the *same
  * function* runs in batch (oracle-checkable) and on `readStream` inputs —
  * the Spark-idiomatic unification of the reference's micro-batch loop.
  * Every maintainer below runs its batches through [[MicroBatch]].
  */
object StreamingOps {

  /** Tumbling-window counts/sums per key. In streaming mode add
    * [[withLateDataWatermark]] first; in batch mode it is the oracle-checkable
    * `date_trunc`-style aggregation. */
  def windowedEventStats(events: DataFrame, windowLength: String = "1 hour",
                         tsCol: String = "ts",
                         keyCol: String = "event_type"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowLength).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("ws"), col(keyCol), col("n"), col("value_cents"))

  /** Sliding-window counts/sums per key: overlapping windows of
    * `windowLength` every `slide` (each event lands in
    * windowLength/slide windows — Spark's `window(ts, len, slide)` expands
    * the membership set per row, grid-aligned to the epoch, which is what
    * the SQL oracle reproduces arithmetically). Streaming-ready the same
    * way as [[windowedEventStats]]. */
  def slidingEventStats(events: DataFrame, windowLength: String = "1 hour",
                        slide: String = "30 minutes",
                        tsCol: String = "ts",
                        keyCol: String = "event_type"): DataFrame =
    events
      .groupBy(window(col(tsCol), windowLength, slide).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("ws"), col(keyCol), col("n"), col("value_cents"))

  /** T3's event-time watermark analogue for live streams: tolerate
    * `delay` of out-of-order data, drop later. */
  def withLateDataWatermark(events: DataFrame, tsCol: String = "ts",
                            delay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, delay)

  /** Batch sessionization (gaps-and-islands): a session breaks after
    * `gapMinutes` of inactivity. Window functions only — runs identically in
    * DuckDB for the oracle. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 10,
                      userCol: String = "user_id", tsCol: String = "ts",
                      idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val prevTs = lag(col(tsCol), 1).over(byUser)
    // native timestamp + interval comparison (no epoch truncation)
    val isBreak = when(
      prevTs.isNull || col(tsCol) > prevTs + expr(s"INTERVAL $gapMinutes MINUTES"),
      1L).otherwise(0L)
    events
      .withColumn("__brk", isBreak)
      .withColumn("session_seq", sum(col("__brk")).over(byUser))
      .groupBy(col(userCol), col("session_seq"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Interval (stream-stream) join: each left event matched to right events
    * of the same key whose timestamp falls in `[left.ts - lookback,
    * left.ts]`. The SAME function serves both modes: in batch it is an
    * oracle-checkable band join; with two `readStream` inputs (both sides
    * watermarked via [[withLateDataWatermark]]) Spark executes it as a
    * stream-stream join whose state is bounded by the watermark + interval
    * (state eviction is exactly why the time bound must be part of the join
    * condition). The equi-key keeps the physical plan a hash/sort-merge
    * join on `keyCol` — the band is a post-filter, never a cross join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyCol: String = "user_id", leftTs: String = "ts",
                   rightTs: String = "rts",
                   lookback: String = "30 minutes"): DataFrame = {
    // disambiguate the shared key internally — callers pass natural frames
    // (a right side already carrying the prefixed name passes through)
    val r = right.withColumnRenamed(keyCol, s"__r_$keyCol")
    left.join(r,
      left(keyCol) === r(s"__r_$keyCol")
        && r(rightTs) >= left(leftTs) - expr(s"INTERVAL $lookback")
        && r(rightTs) <= left(leftTs))
      .drop(s"__r_$keyCol")
  }

  /** Left-outer stream-stream interval join: like [[intervalJoin]] but a
    * left row with NO right match within the lookback still emits (right
    * columns null) — once the right-side watermark passes the end of the
    * row's join window, the engine can PROVE no future match exists and
    * releases the row with nulls while evicting its state. This is the
    * attribution-completeness contract the inner join can't give
    * ("purchases with no preceding click must still be counted"), and
    * the watermark is what bounds state at 100 TB-stream scale: without
    * it a left-outer stream join would hold every row forever. Both
    * inputs must carry event-time watermarks.
    *
    * Test-only: backs COVERAGE.md's "Left-outer stream-stream interval join" row. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            keyCol: String = "user_id", leftTs: String = "ts",
                            rightTs: String = "rts",
                            lookback: String = "30 minutes"): DataFrame = {
    val r = right.withColumnRenamed(keyCol, s"__r_$keyCol")
    left.join(r,
      left(keyCol) === r(s"__r_$keyCol")
        && r(rightTs) >= left(leftTs) - expr(s"INTERVAL $lookback")
        && r(rightTs) <= left(leftTs),
      "leftOuter")
      .drop(s"__r_$keyCol")
  }

  /** Stream-static enrichment: a live stream joined to a slowly-changing
    * dimension (the "events × lookup table" deployment shape). Structured
    * Streaming re-evaluates the static side per micro-batch — dimension
    * updates between batches are picked up without restarting the query —
    * and the broadcast hint keeps the dimension off the shuffle path, so
    * the stream side never exchanges. Left join: events with no dimension
    * row pass through with nulls (an inner join would silently drop
    * them). The same function is the batch enrichment operator.
    *
    * Test-only: backs COVERAGE.md's "Stream-static dimension enrichment" row. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       keyCol: String): DataFrame =
    stream.join(broadcast(dim), Seq(keyCol), "left")

  /** Streaming idempotent replay (T4's streaming-native form): drop rows
    * whose PK was already seen, with state bounded by the event-time
    * watermark — `dropDuplicatesWithinWatermark`, so a replayed micro-batch
    * (at-least-once source) cannot double-insert, and state does not grow
    * with the full history.
    *
    * Test-only: backs COVERAGE.md's "Streaming: watermark-bounded dedup" row. */
  def dedupeStreamByPk(events: DataFrame, pkCols: Seq[String],
                       tsCol: String = "ts",
                       delay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(pkCols)

  /** Ingest-time near-duplicate flagging: band the INCOMING document
    * stream with the same MinHash-LSH derivation as the batch dedup
    * ([[graft.llm.Dedup.minhashBands]] — pure column expressions, so it
    * runs unchanged on a streaming frame) and equi-join each micro-batch
    * against the STATIC band index maintained by the incremental dedup
    * sink (`dedup_incremental_bands`). Emits one match edge per
    * (new doc, band, indexed doc) — stateless append mode, so state never
    * grows with the stream; the sink dedups edges (a doc sharing several
    * bands with the same match is still one near-dup pair).
    *
    * Scale shape: the stream side is per-row column work; the join is a
    * stream-static equi-join on (band, band_key) — Catalyst broadcasts
    * the index when it fits, and falls back to a per-batch shuffle join
    * against the bucketed band sink when it doesn't. The reference's
    * "check before insert" read-modify-write, in stream form.
    */
  def flagNearDupsAgainstIndex(docs: DataFrame, bandIndex: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               shingleLen: Int = 3, bands: Int = 4,
                               rowsPerBand: Int = 2): DataFrame = {
    val streamBands = graft.llm.Dedup.minhashBands(
      docs, idCol, textCol, shingleLen, bands, rowsPerBand)
    val idx = bandIndex.select(col("band"), col("band_key"),
      col(idCol).as("matched_id"))
    streamBands.join(idx, Seq("band", "band_key"))
      .filter(col(idCol) =!= col("matched_id"))
      .select(col(idCol), col("band"), col("matched_id"))
  }

  // ---- the mutable-corpus indexes (winnow, band, exact, image, video
  // frame): one layout per kind, one micro-batch core for all five ----

  /** Where one kind of mutable index keeps its rows: primary key, sort
    * order and the content-derived bucket `kb` of a row. Defined once per
    * kind below and read by its maintainer and by
    * [[IndexSoak]]'s seeds and rebuild references. */
  private[streaming] case class IndexLayout(pkCols: Seq[String],
                                            sortCols: Seq[String], kb: Column)

  private def hashBucket(c: Column, n: Int): Column =
    pmod(graft.functions.ColumnFns.md5Long(c), lit(n.toLong))

  /** Winnow postings (id, fp_hash), bucketed by the fingerprint. */
  private[streaming] def winnowLayout(idCol: String, keyBuckets: Int) =
    IndexLayout(Seq(idCol, "fp_hash"), Seq("fp_hash", idCol),
      hashBucket(col("fp_hash").cast("string"), keyBuckets))

  /** MinHash bands (id, band, band_key), bucketed by (band, band_key). */
  private def bandLayout(idCol: String, keyBuckets: Int) =
    IndexLayout(Seq(idCol, "band"), Seq("band_key", idCol),
      hashBucket(concat_ws("|", col("band"), col("band_key")), keyBuckets))

  /** Exact-dup postings (id, content_key), bucketed by the content key. */
  private def exactLayout(idCol: String, keyBuckets: Int) =
    IndexLayout(Seq(idCol), Seq("content_key", idCol),
      pmod(col("content_key"), lit(keyBuckets.toLong)))

  /** The six byte-bands of an image's or a video frame's aHash, bucketed
    * by (band, band_key) and the media id's shard (see
    * [[maintainImageIndexAndFlag]] for why the id shard). */
  private[streaming] def mediaLayout(perFrame: Boolean, keyBuckets: Int,
                                     idShards: Int = mediaIdShards) = {
    val frame = if (perFrame) Seq("frame_idx") else Nil
    IndexLayout(("media_id" +: frame) :+ "band", "band_key" +: "media_id" +: frame,
      mediaKb(keyBuckets, hashBucket(col("media_id").cast("string"), idShards)))
  }

  /** The media maintainers' default id-shard count. */
  private[streaming] val mediaIdShards = 16

  /** The media bucket key for id shard `sb`: md5(band | band_key | sb) %
    * keyBuckets. */
  private def mediaKb(keyBuckets: Int, sb: Column): Column =
    hashBucket(concat_ws("|", col("band"), col("band_key"), sb), keyBuckets)

  /** Split each row's 48-bit `ahash` into its six byte-bands. */
  private[streaming] def mediaBands(hashes: DataFrame): DataFrame =
    hashes.withColumn("band", explode(sequence(lit(0), lit(5))))
      .withColumn("band_key", expr("shiftrightunsigned(ahash, band * 8) & 255"))

  /** The pk side map's bucket of an id (see [[upsertMutableIndex]]). */
  private[streaming] def pkb(idCol: String, keyBuckets: Int): Column =
    hashBucket(col(idCol).cast("string"), keyBuckets)

  /** One micro-batch of MUTABLE-CORPUS index maintenance — the shared
    * engine of all five index maintainers (r13). Inputs:
    * `rows` = the batch's CURRENT index rows, already carrying the
    * content-derived partition bucket `kb`; `batchIds` = the distinct
    * re-ingested ids from the RAW batch — passed separately because an
    * id whose new row set is EMPTY (a doc shrunk below the winnow
    * window, an image re-ingested as an undecodable payload) must still
    * erase its old rows.
    *
    * Why a side map: the index is bucketed by CONTENT-derived keys so
    * the flag read can prune to the batch's buckets (cost ∝ batch,
    * never corpus) — but then a re-ingest with changed content lands in
    * different buckets and a purely content-pruned upsert would never
    * see the stale rows. The map (`<indexDir>_pk`, one (id, kb) row per
    * bucket an id's rows live in, bucketed by an ID hash so one doc =
    * one partition) supplies the old buckets; the index upsert then
    * runs over new ∪ old buckets with `dropOldWhere(id ∈ batch)`, which
    * replaces every old row of a batch id WHOLESALE — correct whatever
    * the new row shape (changed keys, fewer rows, none). A bucket whose
    * merge ends EMPTY is deleted by the upsert itself
    * ([[graft.eth.Sinks.upsertBucketedParquet]]'s eraser contract); the
    * map is maintained the same way. Crash-replay safe in every gap: the
    * index is updated BEFORE the map, so a replay re-widens `touched`
    * from the not-yet-updated map and re-applies an idempotent replace;
    * bucket-dir deletes are idempotent.
    *
    * Driver-side metadata per batch: the bucket lists only (≤
    * keyBuckets longs each) — the batch id set stays a DataFrame
    * end-to-end (`dropOldKeys` anti-joins; the PLANNER picks broadcast
    * when the pinned id set is small and a shuffled anti-join when it
    * is not, so a multi-million-row catch-up batch never materializes
    * as a driver-side literal or a forced broadcast). Returns
    * (content buckets for the flag read, the PINNED batch rows, the
    * post-upsert rows of those buckets) — the caller's flag join reads
    * the returned frames instead of re-running the derivation
    * (shingling / MinHash / image decode) or re-reading the buckets just
    * written. The returned frames are pins (the upsert's included) that
    * live for one micro-batch: the [[MicroBatch]] driver's
    * [[graft.Pin.scope]] frees them once the flags are written. */
  private def upsertMutableIndex(rows: DataFrame, batchIds: DataFrame,
                                 idCol: String, layout: IndexLayout,
                                 indexDir: String, keyBuckets: Int)
      : (IndexedSeq[Long], DataFrame, DataFrame) = {
    val spark = rows.sparkSession
    val pkMapDir = s"${indexDir}_pk"
    val pinned = Pin(rows.withColumn("pkb", pkb(idCol, keyBuckets))) // ≤ batch-rows; read 4x below
    val ids = Pin(batchIds.select(col(idCol)).distinct()
      .withColumn("pkb", pkb(idCol, keyBuckets)))
    // bounded metadata (≤ keyBuckets longs each), ONE job for both
    // bucket sets (r15: was two collect jobs — the fixed per-batch
    // constant is scheduler overhead × job count, so fold)
    val meta = pinned.select(col("kb").cast("long").as("b"), lit(0).as("s"))
      .unionByName(ids.select(col("pkb").cast("long").as("b"), lit(1).as("s")))
      .distinct().collect()
    val newTouched = meta.filter(_.getInt(1) == 0)
      .map(_.getLong(0)).toIndexedSeq
    val touchedPk = meta.filter(_.getInt(1) == 1)
      .map(_.getLong(0)).toIndexedSeq
    // Every index/map read below is SCOPED to its named bucket dirs
    // ([[graft.eth.Sinks.readBuckets]]) — the whole-sink read listed
    // every partition dir per call, which at corpus-scaled bucket counts
    // (thousands; bucket SIZE stays bounded) dominated small-batch wall
    // (SCALE_r14 §2: 47 s → sub-10 s per 5-doc batch at 6,400 buckets).
    // readBuckets also subsumes the empty-sink guard: None = no buckets.
    // ALL old buckets of batch ids (changed or not — a replay rewrites
    // its own rows identically; map read prunes to the batch's pk buckets)
    val oldBuckets: IndexedSeq[Long] =
      graft.eth.Sinks.readBuckets(spark, pkMapDir, "pkb", touchedPk)
        .map(_.join(ids.select(col(idCol)), Seq(idCol), "left_semi")
          // partition columns read back from disk infer as INT — cast
          .select(col("kb").cast("long")).distinct()
          .collect().map(_.getLong(0)).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
    val touched = (newTouched ++ oldBuckets).distinct
    // the upsert returns the frame it wrote (checkpoint-backed): the flag
    // pass reads it instead of re-listing + re-reading the buckets just
    // written. Old buckets whose every stored row belongs to a batch id
    // end the merge empty and are deleted by the upsert. r15: this
    // replaced three scoped disk reads + two collects per batch with zero.
    val (writtenIdx, _) =
      graft.eth.Sinks.upsertBucketedParquetReturning(pinned.drop("pkb"),
        indexDir, pkCols = layout.pkCols, bucketCol = "kb",
        sortCols = layout.sortCols,
        newBuckets = Some(touched), dropOldKeys = Some(ids.select(col(idCol))))
    // side map AFTER the index (the crash-replay ordering above): one
    // (id, kb) row per bucket the id now lives in, replaced wholesale
    graft.eth.Sinks.upsertBucketedParquet(
      pinned.select(col(idCol), col("kb"), col("pkb")).distinct(), pkMapDir,
      pkCols = Seq(idCol, "kb"), bucketCol = "pkb",
      sortCols = Seq(idCol), newBuckets = Some(touchedPk),
      dropOldKeys = Some(ids.select(col(idCol))))
    // post-upsert content of the batch's content buckets — the callers'
    // flag read, served from memory
    val flagIdx =
      if (newTouched.isEmpty) writtenIdx.limit(0)
      else writtenIdx.filter(col("kb").isin(newTouched: _*))
    (newTouched, pinned.drop("pkb"), flagIdx)
  }

  /** The five index maintainers' one loop. Per micro-batch: derive the
    * batch's index rows (`rowsOf`; `layout.kb` adds their bucket), fold
    * them in with [[upsertMutableIndex]] — upsert BEFORE flag, so two
    * near-duplicates arriving in the SAME batch still flag each other —
    * then write `flag(batch rows, candidate index rows)` to
    * `flagsDir/batch=<id>` (overwrite: a replayed batch rewrites its own
    * dir). The candidates are the post-upsert rows of the batch's own
    * content buckets unless `candidates` reads them elsewhere. A batch
    * that indexes nothing (every doc below the winnow window, every
    * payload undecodable) still erased its ids' stale rows; it flags
    * against an empty index, so its flags are empty but typed and
    * replay stays shape-consistent. */
  private def maintainIndex(stream: DataFrame, indexDir: String,
                            flagsDir: String, checkpointDir: String,
                            idCol: String, layout: IndexLayout,
                            keyBuckets: Int)(
      rowsOf: DataFrame => DataFrame,
      flag: (DataFrame, DataFrame) => DataFrame,
      candidates: (DataFrame, DataFrame) => DataFrame = (_, own) => own)
      : StreamingQuery =
    MicroBatch.start(stream, checkpointDir) { (batch, batchId) =>
      val (touched, pinned, own) = upsertMutableIndex(
        rowsOf(batch).withColumn("kb", layout.kb), batch, idCol, layout,
        indexDir, keyBuckets)
      flag(pinned, if (touched.isEmpty) own else candidates(pinned, own))
        .write.mode("overwrite").parquet(s"$flagsDir/batch=$batchId")
    }

  /** Streaming PARTIAL-OVERLAP ingest — [[maintainBandIndexAndFlag]]'s
    * loop over winnowing fingerprints instead of MinHash bands: per
    * micro-batch, winnow the batch ([[graft.llm.TextAnalysis
    * .winnowFingerprints]] — shared token runs ≥ w+k−1 share a
    * fingerprint), fold the (id, fp_hash) postings into a hash-bucketed
    * index (idempotent pk upsert, replay rewrites the same rows), then
    * flag batch docs sharing ≥ `minShared` fingerprints with ANY indexed
    * doc. Upsert-before-flag keeps same-batch overlaps visible both
    * ways. The MOSS boilerplate rule rides the flag read: fingerprints
    * whose pruned-index posting exceeds `maxDf` are dropped before
    * pairing, so a license-header fingerprint every doc carries can
    * never pay df² pair work at flag time. Index IO prunes to the
    * batch's touched key buckets on both the upsert and the flag read.
    * MUTABLE-CORPUS SAFE (r13): a changed text can DROP fingerprints, and
    * a doc that shrinks below the winnow window erases its rows entirely
    * — the wholesale id-replace of [[upsertMutableIndex]]. */
  def maintainWinnowIndexAndFlag(docs: DataFrame, indexDir: String,
                                 flagsDir: String, checkpointDir: String,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 minShared: Int = 2, maxDf: Int = 50,
                                 keyBuckets: Int = 64): StreamingQuery =
    maintainIndex(docs, indexDir, flagsDir, checkpointDir, idCol,
        winnowLayout(idCol, keyBuckets), keyBuckets)(
      batch => graft.llm.TextAnalysis.winnowFingerprints(batch, idCol, textCol)
        .select(col(idCol), col("fp_hash")).distinct(),
      (fps, idx) => fps
        .join(idx.withColumn("__df", count(lit(1)).over(Window.partitionBy(col("fp_hash"))))
          .filter(col("__df") <= maxDf) // MOSS boilerplate rule
          .select(col("fp_hash"), col(idCol).as("matched_id")), "fp_hash")
        .filter(col(idCol) =!= col("matched_id"))
        .groupBy(col(idCol), col("matched_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared))

  /** The full incremental-dedup ingest loop in streaming form: per
    * micro-batch, (1) fold the batch's bands into the index via the
    * idempotent bucketed upsert (`pk = (id, band)` — an at-least-once
    * replay rewrites the same rows), then (2) flag the batch against the
    * updated index, writing match edges to a per-batch overwrite dir
    * (replay-idempotent). Upsert-BEFORE-flag means two near-duplicates
    * arriving in the SAME micro-batch still flag each other (the
    * self-match filter only drops `id == id`); flag-first would leave a
    * permanent recall hole for same-batch pairs.
    *
    * The index is laid out in `keyBuckets` hash buckets of the band key
    * (not the 4 raw band ids): per-batch index IO — the upsert's
    * read-merge-write AND the flag join's read — is proportional to the
    * touched fraction, not the whole corpus, and write parallelism is not
    * capped at the band count. kb is a pure function of (band, band_key),
    * so pruning the flag read to the batch's kb values loses no candidate
    * match. A re-ingested doc's band rows are replaced wholesale via the
    * pk→bucket side map, whatever the new band keys (r13). */
  def maintainBandIndexAndFlag(docs: DataFrame, indexDir: String,
                               flagsDir: String, checkpointDir: String,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               keyBuckets: Int = 64): StreamingQuery =
    maintainIndex(docs, indexDir, flagsDir, checkpointDir, idCol,
        bandLayout(idCol, keyBuckets), keyBuckets)(
      batch => graft.llm.Dedup.minhashBands(batch, idCol, textCol),
      (bands, idx) => bands
        .join(idx.select(col("band"), col("band_key"), col(idCol).as("matched_id")),
          Seq("band", "band_key"))
        .filter(col(idCol) =!= col("matched_id"))
        .select(col(idCol), col("band"), col("matched_id")))

  /** Streaming EXACT-dup ingest — the [[maintainBandIndexAndFlag]] loop
    * with the content-hash identity in place of MinHash bands: per
    * micro-batch, hash each doc's text to a 64-bit content key, fold the
    * (id, content_key) postings into a hash-bucketed index (idempotent pk
    * upsert — an at-least-once replay rewrites the same rows), then flag
    * batch docs whose content key is already carried by ANY OTHER indexed
    * doc, writing match edges to a per-batch overwrite dir
    * (replay-idempotent). Upsert-before-flag keeps same-batch copies
    * visible to each other. Index IO prunes to the batch's touched key
    * buckets on both the upsert and the flag read — per-batch cost ∝
    * batch, never corpus.
    *
    * MUTABLE-CORPUS SAFE (r13, like all five index maintainers — exact,
    * band, winnow, image, video frame — via [[upsertMutableIndex]]): the
    * index is bucketed by `content_key` — derived from the TEXT — so
    * re-ingesting an existing `doc_id` with CHANGED text lands in a
    * different bucket, and a purely content-bucket-pruned upsert would
    * never see the stale (doc_id, old content_key) row; the shared
    * pk→bucket side map supplies the old buckets and the wholesale
    * id-replace erases them (full mechanics + crash-replay analysis on
    * the helper).
    *
    * Test-only: backs COVERAGE.md's "Streaming EXACT-dup index maintenance" row. */
  def maintainExactDupIndexAndFlag(docs: DataFrame, indexDir: String,
                                   flagsDir: String, checkpointDir: String,
                                   idCol: String = "doc_id",
                                   textCol: String = "text",
                                   keyBuckets: Int = 64): StreamingQuery =
    maintainIndex(docs, indexDir, flagsDir, checkpointDir, idCol,
        exactLayout(idCol, keyBuckets), keyBuckets)(
      batch => batch.select(col(idCol),
        graft.functions.ColumnFns.md5Long(col(textCol)).as("content_key")),
      (keyed, idx) => keyed
        .join(idx.select(col("content_key"), col(idCol).as("matched_id")), "content_key")
        .filter(col(idCol) =!= col("matched_id"))
        .select(col(idCol), col("content_key"), col("matched_id")))

  /** Streaming image-dedup ingest — [[maintainBandIndexAndFlag]]'s loop
    * with the REAL image path: per micro-batch, decode the BMP payloads
    * to 48-bit aHash fingerprints ([[graft.llm.Multimodal.aHash]]), fold
    * their 6 byte-bands into a hash-bucketed index (idempotent pk
    * upsert, replay rewrites the same rows), then flag the batch against
    * the updated index at Hamming ≤ `maxHamming` — exact recall for
    * maxHamming < 6 by pigeonhole, the streaming twin of
    * [[graft.llm.Dedup.sigBandPairs]]. Upsert-before-flag keeps
    * same-batch twins visible to each other; undecodable payloads drop
    * at the codec boundary, and one re-ingested as an UNDECODABLE payload
    * (no aHash rows at all) erases its id's bands (r13). Index IO prunes
    * to the batch's touched key buckets on both the upsert and the flag
    * read.
    *
    * ID-SHARDED bucket key (r15 — the media scale gate's finding): the
    * raw (band, band_key) domain is only 6 × 256 = 1,536 values, so a
    * bucket key derived from it alone CAPS the bucket count — bucket
    * size then grows with the corpus and every small batch merge
    * rewrites a constant fraction of the whole index (measured: a
    * 5-video batch merged ~80% of a 20k-video index). The key therefore
    * folds in an id-hash shard `sb = md5(media_id) % idShards`:
    * kb = md5(band | band_key | sb) % keyBuckets. The upsert now
    * touches only the batch ids' OWN shards (O(batch) rewrite at any
    * corpus — scale idShards ∝ corpus like keyBuckets to keep bucket
    * size bounded); the flag pass enumerates the batch combos × all
    * shards (bounded by keyBuckets after the modulus) and reads those
    * buckets — the inherent Hamming-candidate fetch, now decoupled from
    * the rewrite path. */
  def maintainImageIndexAndFlag(media: DataFrame, indexDir: String,
                                flagsDir: String, checkpointDir: String,
                                maxHamming: Int = 5, keyBuckets: Int = 64,
                                idShards: Int = mediaIdShards): StreamingQuery =
    maintainMediaIndex(media, indexDir, flagsDir, checkpointDir,
      perFrame = false, maxHamming, keyBuckets, idShards)(
      graft.llm.Multimodal.aHash(_).toDF())

  /** The image and video-frame maintainers' shared loop over a
    * `(media_id, payload, mime)` stream: `hashes` decodes a batch's
    * records to aHash rows (per frame when `perFrame`), whose six
    * byte-bands go into the id-sharded media layout; flags are the
    * Hamming ≤ `maxHamming` matches against OTHER media ids among the
    * candidates [[mediaCandidates]] fetches. */
  private def maintainMediaIndex(media: DataFrame, indexDir: String,
                                 flagsDir: String, checkpointDir: String,
                                 perFrame: Boolean, maxHamming: Int,
                                 keyBuckets: Int, idShards: Int)(
      hashes: Dataset[graft.llm.Multimodal.MediaRecord] => DataFrame)
      : StreamingQuery = {
    val frame = if (perFrame) Seq("frame_idx") else Nil
    val matchedFrame = if (perFrame) Seq("matched_frame") else Nil
    maintainIndex(
      media.select(col("media_id").cast("long").as("media_id"),
        col("payload"), col("mime").cast("string").as("mime")),
      indexDir, flagsDir, checkpointDir, "media_id",
      mediaLayout(perFrame, keyBuckets, idShards), keyBuckets)(
      batch => mediaBands(hashes(batch.as(
          org.apache.spark.sql.Encoders.product[graft.llm.Multimodal.MediaRecord]))
        .select(("media_id" +: frame :+ "ahash").map(col): _*)),
      (banded, idx) => banded
        .join(idx.select(Seq(col("band"), col("band_key"), col("media_id").as("matched_id")) ++
            frame.map(col(_).as("matched_frame")) :+ col("ahash").as("matched_hash"): _*),
          Seq("band", "band_key"))
        .filter(col("media_id") =!= col("matched_id")) // cross-media only
        .withColumn("hamming", bit_count(col("ahash").bitwiseXOR(col("matched_hash"))))
        .filter(col("hamming") <= maxHamming)
        .select((("media_id" +: frame :+ "matched_id") ++ matchedFrame :+ "hamming").map(col): _*)
        .distinct(),
      (banded, _) => mediaCandidates(indexDir, banded, keyBuckets, idShards))
  }

  /** Read the full Hamming-candidate posting for a batch: the batch's
    * distinct (band, band_key) combos × every id shard, collapsed
    * through the kb modulus (≤ keyBuckets values — one bounded collect),
    * then a scoped bucket read. Same-batch twins are visible because
    * the upsert ran first. */
  private def mediaCandidates(indexDir: String, pinnedBanded: DataFrame,
                              keyBuckets: Int, idShards: Int): DataFrame = {
    val candKb = pinnedBanded
      .select(col("band"), col("band_key")).distinct()
      .withColumn("__sb", explode(sequence(lit(0), lit(idShards - 1))))
      .select(mediaKb(keyBuckets, col("__sb")).as("kb"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    graft.eth.Sinks.readBuckets(pinnedBanded.sparkSession, indexDir, "kb", candKb)
      .getOrElse(pinnedBanded.limit(0))
  }

  /** Streaming VIDEO-FRAME dedup ingest — [[maintainImageIndexAndFlag]]'s
    * loop lifted to per-frame granularity: each micro-batch's video
    * payloads (Y4M or MJPEG-AVI — [[graft.llm.Multimodal.videoFrameHashes]]
    * is container-sniffed) decode to every-`every`-th-frame aHashes,
    * whose 6 byte-bands fold into a hash-bucketed index keyed
    * (media_id, frame_idx, band) with the same id-sharded bucket key; the
    * batch then flags its frames against OTHER videos' frames at Hamming
    * ≤ `maxHamming` (within-video matches are expected — a static scene
    * — and excluded). The stride pair samples the hash window across the
    * frame exactly like the still path (stride 8 = one sample per JPEG
    * block, the MJPEG-correct setting). Videos whose frames are smaller
    * than the strided window (≤56×40 px at the defaults) fall back to a
    * dense stride-1 hash instead of silently dropping from the index
    * (`fallbackStride1` on the decode call) — the fallback is per-video
    * deterministic, so the maintained index stays rebuild-equivalent.
    *
    * MUTABLE-CORPUS SAFE via [[upsertMutableIndex]], and per-frame
    * granularity adds a replace case the still index never sees: a
    * video re-ingested SHORTER (or re-encoded with different content,
    * or as an undecodable payload) must erase the frame rows past its
    * new length — `batchIds` comes from the RAW batch, so the wholesale
    * id-replace drops every old (media_id, *) row regardless of the new
    * frame count. */
  def maintainVideoFrameIndexAndFlag(media: DataFrame, indexDir: String,
                                     flagsDir: String, checkpointDir: String,
                                     every: Int = 1, maxHamming: Int = 5,
                                     keyBuckets: Int = 64,
                                     strideX: Int = 8, strideY: Int = 8,
                                     idShards: Int = mediaIdShards): StreamingQuery =
    maintainMediaIndex(media, indexDir, flagsDir, checkpointDir,
      perFrame = true, maxHamming, keyBuckets, idShards)(
      graft.llm.Multimodal.videoFrameHashes(_, every = every,
        strideX = strideX, strideY = strideY, fallbackStride1 = true).toDF())

  // ---- batch-keyed partials: relations, CMS, KMV, centroids ----

  /** Upsert one micro-batch's `partials` into bucket `batchId %
    * keyBuckets`, stamped `batchCol = batchId` (part of `pkCols`).
    * `foreachBatch` batch ids are STABLE across retries (the documented
    * Structured Streaming exactly-once recipe), so a replayed batch
    * overwrites its own partials — no double counting, no external dedup
    * state — and the queryable table is a merge-on-read over batches. */
  private def upsertBatchPartials(partials: DataFrame, tableDir: String,
                                  batchId: Long, keyBuckets: Int,
                                  pkCols: Seq[String], sortCols: Seq[String],
                                  batchCol: String = "batch_id",
                                  bucketCol: String = "bk",
                                  dropOldWhere: Option[Column] = None): Unit = {
    val bucket = batchId % keyBuckets.toLong
    graft.eth.Sinks.upsertBucketedParquet(
      partials.withColumn(batchCol, lit(batchId)).withColumn(bucketCol, lit(bucket)),
      tableDir, pkCols = pkCols, bucketCol = bucketCol, sortCols = sortCols,
      newBuckets = Some(Seq(bucket)), dropOldWhere = dropOldWhere)
  }

  /** Streaming maintenance of the address-relations table
    * ([[graft.eth.Relations]]'s contract driven by a stream): each
    * micro-batch of transfer rows (from_address, to_address, value,
    * block_number, ok) collapses to a per-batch partial aggregate keyed
    * by the micro-batch id and lands through the idempotent PK upsert
    * ([[upsertBatchPartials]]). Read the queryable table with
    * [[graft.eth.Relations.readRelations]]. */
  def maintainRelations(transfers: DataFrame, tableDir: String,
                        checkpointDir: String, keyBuckets: Int = 16): StreamingQuery =
    MicroBatch.start(transfers, checkpointDir) { (batch, batchId) =>
      val delta = batch
        .filter(col("to_address").isNotNull)
        .groupBy(col("from_address"), col("to_address"))
        .agg(count(lit(1)).as("n_txs"),
          sum(when(col("ok"), col("value").cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("wei_total"),
          min(col("block_number")).as("first_block"),
          max(col("block_number")).as("last_block"))
      upsertBatchPartials(delta, tableDir, batchId, keyBuckets,
        pkCols = Seq("from_address", "to_address", "batch_lo"),
        sortCols = Seq("from_address", "to_address"),
        batchCol = "batch_lo", bucketCol = "block_id_group")
    }

  /** Exactly-once streaming maintenance of a [[graft.eth.Versioned]]
    * table — the foreachBatch contract done right: each micro-batch
    * commits under txn id `<queryName>-<batchId>`, so a RESTARTED stream
    * replaying a batch whose commit already landed is a provable no-op
    * ([[graft.eth.Versioned.commitTxn]] returns the original version
    * instead of double-applying). The upsert itself is bucket-granular;
    * data written by a crash BEFORE the manifest rename is invisible and
    * rewritten by the replay. This is the missing half of checkpoint
    * recovery: Spark's checkpoint guarantees a batch is not SKIPPED, the
    * txn marker guarantees it is not APPLIED TWICE.
    *
    * Test-only: backs COVERAGE.md's "Exactly-once streaming table maintenance" row. */
  def maintainVersioned(stream: DataFrame, tableDir: String,
                        checkpointDir: String, queryName: String,
                        pkCols: Seq[String], bucketCol: String): StreamingQuery =
    MicroBatch.start(stream, checkpointDir) { (batch, batchId) =>
      graft.eth.Versioned.commitTxn(batch, tableDir, pkCols,
        bucketCol, s"$queryName-$batchId")
    }

  /** Streaming SCD2 dimension maintenance: keep a versioned
    * valid_from/valid_to dimension ([[graft.operators.Scd2]]) current
    * against a change stream, rebuilding intervals ONLY for the keys a
    * micro-batch touches. Per batch:
    *
    *   1. the raw change rows land in a key-hash-bucketed change LOG via
    *      the idempotent PK upsert (PK = key, ts, ord — a replayed batch
    *      overwrites itself, the exactly-once recipe);
    *   2. the full stored history of the TOUCHED keys (partition-pruned
    *      to their buckets, semi-joined to the touched key set) replays
    *      through [[graft.operators.Scd2.buildIntervals]];
    *   3. the rebuilt rows land in the dimension table via the same PK
    *      upsert (PK = key, version).
    *
    * Version rows never go stale: inserting a change row (even late,
    * mid-history) can only preserve or INCREASE a key's run count —
    * adjacent-difference boundaries never decrease under insertion — so
    * upserting by (key, version) always overwrites every previously
    * stored version of a touched key. Per-batch IO is proportional to
    * the touched buckets, not the dimension.
    *
    * Test-only: backs COVERAGE.md's "Streaming SCD2 dimension maintenance" row. */
  def maintainScd2(changes: DataFrame, logDir: String, dimDir: String,
                   checkpointDir: String,
                   keyCol: String = "user_id", attrCol: String = "event_type",
                   tsCol: String = "ts", ordCol: String = "event_id",
                   keyBuckets: Int = 16): StreamingQuery =
    MicroBatch.start(changes, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val kb = hashBucket(col(keyCol).cast("string"), keyBuckets)
      val rows = batch
        .select(col(keyCol), col(attrCol), col(tsCol), col(ordCol))
        .withColumn("kb", kb)
      // bounded metadata: ≤ keyBuckets longs + the touched key frame
      val touched = rows.select(col("kb")).distinct()
        .collect().map(_.getLong(0)).toIndexedSeq
      graft.eth.Sinks.upsertBucketedParquet(rows, logDir,
        pkCols = Seq(keyCol, tsCol, ordCol), bucketCol = "kb",
        sortCols = Seq(keyCol, tsCol), newBuckets = Some(touched))
      val touchedKeys = rows.select(col(keyCol)).distinct()
      val history = spark.read.parquet(logDir)
        .filter(col("kb").isin(touched: _*)) // partition-pruned read
        .join(touchedKeys, Seq(keyCol), "left_semi")
      val dim = graft.operators.Scd2
        .buildIntervals(history, keyCol, attrCol, tsCol, ordCol)
        .withColumn("kb", kb)
      graft.eth.Sinks.upsertBucketedParquet(dim, dimDir,
        pkCols = Seq(keyCol, "version"), bucketCol = "kb",
        sortCols = Seq(keyCol, "version"), newBuckets = Some(touched))
    }

  /** Streaming count-min sketch maintenance — bounded-state heavy-hitter
    * tracking over an unbounded stream: per micro-batch, build the batch's
    * d×w cell counts ([[graft.operators.Sketches.cmsBuild]] — pure column
    * work, shuffle cardinality d×w) and land them keyed by batchId via
    * [[upsertBatchPartials]]: a replayed batch overwrites ITS OWN partial
    * cells, and the queryable sketch is the cell-wise SUM over batches
    * ([[readCmsSketch]]) — CMS merge is exactly addition, so the
    * merge-on-read view equals the sketch of the whole history. Total
    * state: d×w rows per batch, independent of key cardinality — the
    * reason to sketch a stream instead of counting it. */
  def maintainCms(stream: DataFrame, tableDir: String, checkpointDir: String,
                  keyCol: String, d: Int = 3, w: Int = 64,
                  keyBuckets: Int = 16): StreamingQuery =
    MicroBatch.start(stream, checkpointDir) { (batch, batchId) =>
      upsertBatchPartials(graft.operators.Sketches.cmsBuild(batch, keyCol, d, w),
        tableDir, batchId, keyBuckets,
        pkCols = Seq("row_id", "cell_id", "batch_id"), sortCols = Seq("row_id", "cell_id"))
    }

  /** Streaming KMV (bottom-k / theta) distinct-count maintenance — the
    * cardinality companion to [[maintainCms]]'s frequency tracking: per
    * micro-batch, the batch's bottom-k md5 value set
    * ([[graft.operators.Sketches.kmvValues]] — ≤ k rows) lands keyed by
    * batchId through [[upsertBatchPartials]] (a replayed batch rewrites
    * ITS OWN values — kmvValues is deterministic in the batch content,
    * so replay is exact), and the queryable sketch is the re-merged
    * bottom-k over all batches ([[readKmvSketch]]): bottom-k of a union
    * of per-batch bottom-k sets IS the bottom-k of the union (min is
    * associative), so the merge-on-read estimate equals the sketch of
    * the whole history. Total state: ≤ k rows per batch, independent of
    * key cardinality. */
  def maintainKmv(stream: DataFrame, tableDir: String, checkpointDir: String,
                  keyCol: String, k: Int = 256, keyBuckets: Int = 16): StreamingQuery =
    MicroBatch.start(stream, checkpointDir) { (batch, batchId) =>
      val vals = graft.operators.Sketches.kmvValues(batch, keyCol, k)
      if (!vals.isEmpty)
        upsertBatchPartials(vals, tableDir, batchId, keyBuckets,
          pkCols = Seq("batch_id", "__h"), sortCols = Seq("__h"))
    }

  /** Merge-on-read of [[maintainKmv]]'s per-batch value sets: re-take the
    * bottom k of the union → the 1-row KMV estimate of every key ingested
    * so far (exact when total distinct < k). */
  def readKmvSketch(spark: org.apache.spark.sql.SparkSession,
                    tableDir: String, k: Int = 256): DataFrame =
    graft.operators.Sketches.kmvFromHashes(
      spark.read.parquet(tableDir).select(col("__h")), k)

  /** Merge-on-read of [[maintainCms]]'s per-batch partials: cell-wise sum
    * -> the d×w sketch of everything ingested so far, ready for
    * [[graft.operators.Sketches.cmsEstimate]]. */
  def readCmsSketch(spark: org.apache.spark.sql.SparkSession,
                    tableDir: String): DataFrame =
    spark.read.parquet(tableDir)
      .groupBy(col("row_id"), col("cell_id"))
      .agg(sum(col("cell_count")).as("cell_count"))

  /** Streaming MINI-BATCH k-means (Bottou–Bengio / Sculley web-scale
    * variant): each micro-batch is assigned against the centroids AS OF
    * that batch (first batch: `initCentroids`), and lands as per-batch
    * per-dimension partial SUMS keyed by batchId — so the maintained
    * state is exact running sums, and the merged centroid is the exact
    * assignment-weighted mean of every vector ingested so far, not a
    * decaying approximation. Sharing [[graft.llm.Similarity.kmeansTrain]]'s
    * quantized-integer assignment kernel makes each batch's assignment
    * bit-deterministic.
    *
    * Replay semantics (at-least-once sources): a replayed batch
    * REPLACES its own rows wholesale — the upsert carries a
    * `dropOldWhere(batch_id = current)` scope eraser, not just PK
    * precedence. PK collision alone would NOT suffice here: if later
    * batches advanced the centroids in between, the replayed assignment
    * may route a vector to a different cid, and the original run's
    * (batch_id, old_cid, pos) partials would survive beside the new
    * (batch_id, new_cid, pos) ones — double-counting the vector. With
    * the batch-scope erase the table stays internally consistent:
    * every vector counted exactly once (under whichever assignment ran
    * last — state-dependent, the standard mini-batch caveat).
    *
    * Scale shape per batch: one bounded centroid-state read (k×dim
    * rows), the per-row argmax fold (no batch shuffle), one k×dim
    * partial aggregate, one single-bucket upsert ([[upsertBatchPartials]]). */
  def maintainCentroids(vectors: DataFrame, tableDir: String,
                        checkpointDir: String, initCentroids: DataFrame,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding", keyBuckets: Int = 16): StreamingQuery =
    MicroBatch.start(vectors, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val hPath = new org.apache.hadoop.fs.Path(tableDir)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cents =
        if (fs.exists(hPath)) readCentroidVectors(spark, tableDir)
        else initCentroids.select(col(idCol).cast("long").as("cid"),
          graft.llm.Similarity.microVec(vecCol).as("__cm"))
      val corpus = batch.select(col(idCol),
        graft.llm.Similarity.milliVec(vecCol).as("__vm"))
      val partials = graft.llm.Similarity.quantizedAssign(corpus, cents)
        .select(col("cid"), posexplode(col("__vm")).as(Seq("__p0", "__v")))
        .select(col("cid"), (col("__p0") + 1).as("pos"), col("__v"))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("__v")).as("sum_milli"), count(lit(1)).as("n_members"))
      upsertBatchPartials(partials, tableDir, batchId, keyBuckets,
        pkCols = Seq("batch_id", "cid", "pos"), sortCols = Seq("cid", "pos"),
        dropOldWhere = Some(col("batch_id") === batchId))
    }

  /** Live-chain reorg DETECTION on ingest (the watch half of T6;
    * [[graft.eth.Ingest.resumeWithReorgCheck]] is the repair half, and
    * the reference checks neither — it resumes blindly from max id):
    * per micro-batch of (block_id, block_hash, parent_hash) rows,
    * parent-hash continuity is audited BOTH within the batch and across
    * the batch boundary against the stored predecessor (one
    * partition-pruned single-block read), via
    * [[graft.eth.Ingest.detectReorgs]]. Detected discontinuities land in
    * `signalDir` keyed by block_id — the idempotent PK upsert, so an
    * at-least-once replay re-emits the same signal rows, never
    * duplicates — and the blocks themselves accrete into `logDir`
    * through the same upsert. A consumer that sees a signal row runs
    * `resumeWithReorgCheck` with `checkDepth` covering the signalled
    * block to repair the store.
    *
    * Scale shape per batch: one 1-row pruned predecessor read, the
    * bucket-partitioned continuity windows over the BATCH (not the
    * store), two bounded upserts.
    *
    * Test-only: backs COVERAGE.md's "parent-hash reorg DETECTION on ingest" (T6) row. */
  def watchParentHash(blocks: DataFrame, logDir: String, signalDir: String,
                      checkpointDir: String, bucketSize: Long = 1000): StreamingQuery =
    MicroBatch.start(blocks, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val hPath = new org.apache.hadoop.fs.Path(logDir)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // consumed three times below; bounded (one batch)
      val bdf = Pin(batch
        .select(col("block_id").cast("long").as("block_id"),
          col("block_hash"), col("parent_hash"))
        .withColumn("block_id_group", expr(s"block_id div $bucketSize")))
      val loRow = bdf.agg(min(col("block_id"))).collect()(0)
      if (!loRow.isNullAt(0)) {
        val lo = loRow.getLong(0)
        val pred = if (fs.exists(hPath))
          spark.read.parquet(logDir) // pruned to ONE bucket, ONE block
            .filter(col("block_id_group") === (lo - 1) / bucketSize
              && col("block_id") === lo - 1)
            .select(col("block_id"), col("block_hash"), col("parent_hash"),
              col("block_id_group"))
          else bdf.limit(0)
        val signals = graft.eth.Ingest
          .detectReorgs(pred.unionByName(bdf), bucketSize = bucketSize)
          .withColumn("block_id_group", expr(s"block_id div $bucketSize"))
        // clean batches are the common case — don't leave an empty
        // signal table behind (consumers poll for the dir's existence)
        if (!signals.isEmpty)
          graft.eth.Sinks.upsertBucketedParquet(signals, signalDir,
            pkCols = Seq("block_id"), bucketCol = "block_id_group",
            sortCols = Seq("block_id"))
        graft.eth.Sinks.upsertBucketedParquet(bdf, logDir,
          pkCols = Seq("block_id"), bucketCol = "block_id_group",
          sortCols = Seq("block_id"))
      }
    }

  /** Merge-on-read of [[maintainCentroids]]'s partials: exact running
    * means per (cid, pos) — same schema as
    * [[graft.llm.Similarity.kmeansTrain]]'s output, so audits compose. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
                    tableDir: String): DataFrame =
    spark.read.parquet(tableDir)
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("sum_milli")).as("__s"), sum(col("n_members")).as("n_members"))
      .select(col("cid").as("centroid_id"), col("pos"),
        graft.llm.Similarity.meanMicro("__s", "n_members").as("mean_micro"),
        col("n_members"))

  /** [[readCentroids]] rebuilt as micro-quantized centroid VECTORS —
    * what the next batch's assignment consumes. */
  def readCentroidVectors(spark: org.apache.spark.sql.SparkSession,
                          tableDir: String): DataFrame =
    readCentroids(spark, tableDir)
      .groupBy(col("centroid_id").as("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean_micro)))," +
        " s -> s.mean_micro)").as("__cm"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long)
  case class Session(user_id: Long, session_start: Timestamp, n_events: Long)

  /** One key's running EWMA state: the milli-grid estimate and the
    * count of observations folded in. */
  case class EwmaState(ewma_milli: Long, n: Long)

  /** Per-batch EWMA read-out row. */
  case class EwmaReadout(key: String, batch_n: Long, total_n: Long,
                         ewma_milli: Long)

  /** Stateful streaming EWMA per key (α = 1/2) — the continuous twin of
    * the batch `event_ewma` smoother, as the canonical
    * `mapGroupsWithState` shape: per micro-batch each key folds its new
    * observations IN EVENT ORDER into one integer state cell
    * (`e' = (e + x·1000) div 2`, exact milli grid — a replayed batch in
    * order reproduces the same state, and state size is exactly one
    * (long, long) per ACTIVE key), then emits one read-out row. Update
    * output mode; ordering inside a batch is pinned by (ts, event_id) so
    * retries are deterministic.
    *
    * Test-only: backs COVERAGE.md's "Stateful streaming EWMA per key" row. */
  def ewmaStreaming(events: Dataset[Event]): Dataset[EwmaReadout] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[EwmaState, EwmaReadout](
        GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[Event], state: GroupState[EwmaState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(EwmaState(Long.MinValue, 0L))
          sorted.foreach { e =>
            val xMilli = math.round(e.value * 1000)
            st =
              if (st.n == 0L) EwmaState(xMilli, 1L)
              else EwmaState(Math.floorDiv(st.ewma_milli + xMilli, 2L), st.n + 1L)
          }
          state.update(st)
          EwmaReadout(key, sorted.size.toLong, st.n, st.ewma_milli)
      }
  }

  /** Streaming sessionization with custom state (T1/T4's stateful analogue):
    * `flatMapGroupsWithState` emits a session when a later event arrives
    * past the inactivity gap, OR when the *event-time* timeout fires for an
    * idle user — the timeout is keyed to the watermark, so slow/lagging
    * sources never split a session that event time says is contiguous (a
    * processing-time timer would). The timeout path both flushes the user's
    * final session and removes the state entry, so state-store size tracks
    * *active* users, not all users ever seen. The streaming-native form of
    * [[sessionizeBatch]].
    *
    * @param watermarkDelay how much event-time disorder to tolerate before
    *                       the watermark (and therefore session finalization)
    *                       advances.
    *
    * Test-only: backs COVERAGE.md's "Streaming: custom state" row. */
  def sessionizeStreaming(events: Dataset[Event],
                          gapSeconds: Long = 600L,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle past the gap: close and evict the final session
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), s.n))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var sessions = List.empty[Session]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              // full millisecond precision: a truncated-seconds comparison
              // diverges from sessionizeBatch's interval math at the gap
              // boundary (600.9 s apart would wrongly stay one session)
              val t = e.ts.getTime
              st match {
                case null => st = SessionState(t, t, 1)
                case s if t - s.last > gapSeconds * 1000L =>
                  sessions ::= Session(userId, new Timestamp(s.start), s.n)
                  st = SessionState(t, t, 1)
                case s =>
                  // a late (pre-watermark-valid) event must never move the
                  // session boundary BACKWARDS — that would split on the
                  // next event and fire the idle timeout early
                  st = SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              // fires when the watermark passes last-event-time + gap
              state.setTimeoutTimestamp(st.last + gapSeconds * 1000L)
            }
            sessions.reverseIterator
          }
      }
  }
}

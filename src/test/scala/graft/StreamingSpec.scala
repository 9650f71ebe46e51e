package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private val events = Seq(
    Event(1L, ts(0), 1L, "click", 1.0),
    Event(2L, ts(5), 1L, "click", 2.0),
    Event(3L, ts(30), 1L, "view", 3.0), // 25-min gap -> new session
    Event(4L, ts(2), 2L, "click", 4.0))

  test("batch sessionization: gap splits sessions per user") {
    val out = StreamingOps.sessionizeBatch(events.toDF(), gapMinutes = 10)
      .orderBy("user_id", "session_seq").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 2) // user 1 session 1: events 1,2
    assert(out(1).getAs[Long]("n_events") == 1) // user 1 session 2: event 3
    assert(out(2).getAs[Long]("n_events") == 1) // user 2
    assert(out(0).getAs[Timestamp]("session_start") == ts(0))
    assert(out(1).getAs[Timestamp]("session_start") == ts(30))
  }

  test("windowed event stats equal the date_trunc aggregation") {
    val out = StreamingOps.windowedEventStats(events.toDF(), "1 hour")
      .orderBy("ws", "event_type").collect()
    assert(out.length == 2) // (10:00, click), (10:00, view)
    assert(out(0).getAs[Long]("n") == 3)
    assert(out(0).getAs[Long]("value_cents") == 700L)
  }

  test("streaming sessionization via flatMapGroupsWithState emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = StreamingOps.sessionizeStreaming(input.toDS(), gapSeconds = 600)
    val query = sessions.writeStream
      .format("memory").queryName("sessions_out").outputMode("append").start()
    // processAllAvailable never quiesces once processing-time timers force
    // continuous no-data batches — poll the sink instead
    def waitForRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("sessions_out").count() < n
        && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(spark.table("sessions_out").count() >= n,
        s"timed out waiting for $n emitted session(s)")
    }
    try {
      // batch 1: two events 5 min apart (one open session), then a 25-min gap
      // event -> the first session closes
      input.addData(events.filter(_.user_id == 1L): _*)
      waitForRows(1)
      val closed = spark.table("sessions_out").as[StreamingOps.Session].collect()
      assert(closed(0).user_id == 1L && closed(0).n_events == 2)
      assert(closed(0).session_start == ts(0))
      // batch 2: an event far after event 3 closes the second session
      input.addData(Event(9L, ts(59), 1L, "click", 0.0))
      waitForRows(2)
      val closed2 = spark.table("sessions_out").as[StreamingOps.Session].collect()
      assert(closed2.map(_.n_events).toSet == Set(2L, 1L))
    } finally query.stop()
  }

  test("stream-stream interval join: clicks land on purchases within lookback") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val joined = StreamingOps.intervalJoin(
      StreamingOps.withLateDataWatermark(
        purchases.toDF().select(col("event_id"), col("user_id"), col("ts"))),
      StreamingOps.withLateDataWatermark(
        clicks.toDF().select(col("user_id"),
          col("ts").as("rts"), col("event_id").as("click_id")), "rts"),
      lookback = "30 minutes")
    val query = joined.writeStream
      .format("memory").queryName("ij_out").outputMode("append").start()
    try {
      clicks.addData(Event(101L, ts(0), 1L, "click", 1.0),   // within 30m
        Event(102L, ts(40), 1L, "click", 1.0),               // after purchase
        Event(103L, ts(1), 2L, "click", 1.0))                // other user
      purchases.addData(Event(1L, ts(20), 1L, "purchase", 5.0))
      query.processAllAvailable()
      val rows = spark.table("ij_out").collect()
      assert(rows.map(_.getAs[Long]("click_id")).toSet == Set(101L))
    } finally query.stop()
  }

  test("left-outer interval join: unmatched purchases emit with nulls after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val joined = StreamingOps.intervalJoinLeftOuter(
      StreamingOps.withLateDataWatermark(
        purchases.toDF().select(col("event_id"), col("user_id"), col("ts"))),
      StreamingOps.withLateDataWatermark(
        clicks.toDF().select(col("user_id"),
          col("ts").as("rts"), col("event_id").as("click_id")), "rts"),
      lookback = "30 minutes")
    val query = joined.writeStream
      .format("memory").queryName("loj_out").outputMode("append").start()
    try {
      clicks.addData(Event(101L, ts(0), 1L, "click", 1.0))
      purchases.addData(
        Event(1L, ts(20), 1L, "purchase", 5.0),  // matched by click 101
        Event(2L, ts(21), 2L, "purchase", 7.0))  // user 2: NO click
      query.processAllAvailable()
      // the matched row emits immediately; the unmatched one is held
      // until the watermark proves no click can still arrive
      clicks.addData(Event(199L, ts(600), 9L, "click", 1.0)) // advance wm
      purchases.addData(Event(9L, ts(600), 9L, "purchase", 1.0))
      query.processAllAvailable()
      query.processAllAvailable()
      val rows = spark.table("loj_out").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[java.lang.Long]("click_id")))
        .toMap
      assert(rows(1L).contains(101L), s"matched row wrong: $rows")
      assert(rows.contains(2L) && rows(2L).isEmpty,
        s"unmatched purchase must emit with null click after watermark: $rows")
    } finally query.stop()
  }

  test("stream-static enrichment broadcasts the dimension; unmatched rows survive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val dim = Seq(("click", 1L), ("view", 2L)).toDF("event_type", "weight")
    val enriched = StreamingOps.enrichWithStatic(input.toDF(), dim, "event_type")
    val query = enriched.writeStream
      .format("memory").queryName("es_out").outputMode("append").start()
    try {
      input.addData(Event(1L, ts(0), 1L, "click", 1.0),
        Event(2L, ts(1), 1L, "purchase", 2.0)) // no dim row
      query.processAllAvailable()
      val rows = spark.table("es_out").collect()
        .map(r => r.getAs[String]("event_type") ->
          Option(r.getAs[java.lang.Long]("weight"))).toMap
      assert(rows("click").contains(1L))
      assert(rows("purchase").isEmpty) // left join: passed through with null
    } finally query.stop()
  }

  test("streaming dedupe by PK drops replayed rows across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val deduped = StreamingOps.dedupeStreamByPk(
      input.toDF(), Seq("event_id"), "ts", "10 minutes")
    val query = deduped.writeStream
      .format("memory").queryName("dd_out").outputMode("append").start()
    try {
      input.addData(events(0), events(1))
      query.processAllAvailable()
      input.addData(events(1), events(3)) // events(1) replayed in a later batch
      query.processAllAvailable()
      val ids = spark.table("dd_out").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L))
    } finally query.stop()
  }

  test("ingest-time near-dup flagging matches new docs against the static band index") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different words appear in this one here"))
      .toDF("doc_id", "text")
    val index = graft.llm.Dedup.minhashBands(corpus, "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val flags = StreamingOps.flagNearDupsAgainstIndex(
      input.toDF().toDF("doc_id", "text"), index)
    val query = flags.writeStream
      .format("memory").queryName("nd_out").outputMode("append").start()
    try {
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog"), // dup of 0
        (11L, "nothing like anything indexed so far at all ok"))
      query.processAllAvailable()
      val matches = spark.table("nd_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("matched_id"))
      assert(matches.nonEmpty && matches.forall(_ == (10L, 0L)))
      // identical text -> identical signature -> all 4 bands match
      assert(matches.length == 4)
    } finally query.stop()
  }

  test("streaming band-index maintenance: batch 2 flags dups of batch 1, index accretes") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ndix").toString
    val input = MemoryStream[(Long, String)]
    val query = StreamingOps.maintainBandIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$dir/index", s"$dir/flags", s"$dir/ckpt")
    try {
      input.addData(
        (0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "completely different words appear in this one here"))
      query.processAllAvailable()
      input.addData(
        (10L, "the quick brown fox jumps over the lazy dog"), // dup of 0
        (11L, "nothing like anything indexed so far at all ok"),
        (20L, "twin documents arriving together in one batch yes"),
        (21L, "twin documents arriving together in one batch yes"))
      query.processAllAvailable()
      val flags = spark.read.parquet(s"$dir/flags").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("matched_id"))
        .distinct.sorted
      // cross-batch dup AND the same-batch twin pair (both directions);
      // upsert-before-flag is what makes the twins visible to each other
      assert(flags.toSeq == Seq(10L -> 0L, 20L -> 21L, 21L -> 20L))
      // the index holds all six docs' bands (4 bands each)
      val idx = spark.read.parquet(s"$dir/index")
      assert(idx.count() == 24)
      assert(idx.select("doc_id").distinct().count() == 6)
    } finally query.stop()
  }

  test("stateful streaming EWMA: integer state folds across batches in event order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val out = StreamingOps.ewmaStreaming(input.toDS())
    val query = out.writeStream
      .format("memory").queryName("ewma_out").outputMode("update").start()
    try {
      // batch 1, key "a": values 4.0 then 8.0 (order pinned by ts) ->
      // e = 4000, then (4000 + 8000) div 2 = 6000
      input.addData(
        Event(1L, ts(0), 1L, "a", 4.0), Event(2L, ts(1), 1L, "a", 8.0),
        Event(3L, ts(0), 2L, "b", 10.0))
      query.processAllAvailable()
      val r1 = spark.table("ewma_out").as[StreamingOps.EwmaReadout].collect()
        .map(r => r.key -> r).toMap
      assert(r1("a").ewma_milli == 6000L && r1("a").total_n == 2L)
      assert(r1("b").ewma_milli == 10000L)
      // batch 2 folds into the carried state: (6000 + 1000) div 2 = 3500
      input.addData(Event(4L, ts(2), 1L, "a", 1.0))
      query.processAllAvailable()
      val r2 = spark.table("ewma_out").as[StreamingOps.EwmaReadout].collect()
        .filter(r => r.key == "a" && r.total_n == 3L)
      assert(r2.nonEmpty && r2.head.ewma_milli == 3500L)
    } finally query.stop()
  }

  test("streaming image-hash index: cross-batch and same-batch near-dups flag") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("graft_imix").toString
    def img(seed: Int) = Multimodal.encodeBmp(8, 6, (x, y) =>
      ((x * 11 + seed) % 200, (y * 17 + seed * 3) % 200, (x + y) * 7 % 200))
    val input = MemoryStream[(Long, Array[Byte], String)]
    val query = StreamingOps.maintainImageIndexAndFlag(
      input.toDF().toDF("media_id", "payload", "mime"),
      s"$dir/index", s"$dir/flags", s"$dir/ckpt")
    try {
      input.addData((0L, img(1), "image/bmp"), (1L, img(90), "image/bmp"))
      query.processAllAvailable()
      // JPEG payloads ride the SAME maintainer (format-agnostic decode
      // dispatch): two identical grayscale JPEGs must flag as twins, and
      // a JPEG-magic-but-garbage payload must drop like the BMP junk
      def jpegImg(seed: Int) = Multimodal.encodeJpegGray(9, 7,
        (x, y) => (x * 13 + y * 7 + seed) % 256)
      input.addData(
        (10L, img(1), "image/bmp"),  // identical content to 0 (hamming 0)
        (20L, img(55), "image/bmp"), (21L, img(55), "image/bmp"), // twins
        (30L, Array[Byte](9, 9), "image/bmp"), // undecodable -> dropped
        (40L, jpegImg(7), "image/jpeg"), (41L, jpegImg(7), "image/jpeg"),
        (42L, Array[Byte](0xff.toByte, 0xd8.toByte, 0, 1), "image/jpeg"))
      query.processAllAvailable()
      val flags = spark.read.parquet(s"$dir/flags").collect()
        .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("matched_id"),
          r.getAs[Int]("hamming")))
      assert(flags.map(f => (f._1, f._2)).toSet
        .contains((10L, 0L)), s"cross-batch dup must flag: ${flags.toSeq}")
      assert(flags.contains((20L, 21L, 0)) && flags.contains((21L, 20L, 0)),
        s"same-batch twins must flag both ways: ${flags.toSeq}")
      assert(flags.contains((40L, 41L, 0)) && flags.contains((41L, 40L, 0)),
        s"JPEG twins must flag both ways: ${flags.toSeq}")
      // index holds 6 bands for each decodable image, none for the junk
      val idx = spark.read.parquet(s"$dir/index")
      assert(idx.select("media_id").distinct().count() == 7)
      assert(idx.count() == 42)
    } finally query.stop()
  }

  test("streaming relations maintenance: partials accrete across batches, merge on read") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_srel").toString
    val input = MemoryStream[(String, String, Long, Int, Boolean)]
    val query = StreamingOps.maintainRelations(
      input.toDF().toDF("from_address", "to_address", "value", "block_number", "ok"),
      s"$dir/table", s"$dir/ckpt")
    try {
      input.addData(("a", "b", 100L, 5, true), ("a", "b", 30L, 7, false),
        ("a", "c", 9L, 6, true))
      query.processAllAvailable()
      input.addData(("a", "b", 50L, 12, true)) // same pair, later batch
      query.processAllAvailable()
      val rows = graft.eth.Relations.readRelations(spark, s"$dir/table")
        .orderBy("from_address", "to_address").collect()
        .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_txs"),
          r.getDecimal(3).toPlainString, r.getAs[Int]("first_block"),
          r.getAs[Int]("last_block")))
      // failed tx counts toward n_txs/span but moves no wei (same gate as
      // the batch oracle); the cross-batch pair merges on read
      assert(rows.toSeq == Seq(("a", "b", 3L, "150", 5, 12), ("a", "c", 1L, "9", 6, 6)))
    } finally query.stop()
  }

  test("streaming CMS maintenance: merged sketch equals the batch-built sketch of all data") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_scms").toString
    val input = MemoryStream[String]
    val query = StreamingOps.maintainCms(
      input.toDF().toDF("k"), s"$dir/cms", s"$dir/ckpt", keyCol = "k")
    try {
      val b1 = (1 to 50).map(_ => "whale") ++ (1 to 20).map(i => s"m$i")
      val b2 = (1 to 30).map(_ => "whale") ++ (21 to 40).map(i => s"m$i")
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val merged = StreamingOps.readCmsSketch(spark, s"$dir/cms")
      val direct = graft.operators.Sketches.cmsBuild(
        (b1 ++ b2).toDF("k"), "k")
      // CMS merge is cell-wise addition: streamed-and-merged == one-shot
      val diff = merged.union(direct).groupBy("row_id", "cell_id")
        .agg(countDistinct(col("cell_count")).as("nv"), count(lit(1)).as("n"))
        .filter(col("nv") =!= 1 || col("n") =!= 2).count()
      assert(diff == 0L, "merged stream sketch diverges from batch sketch")
      val est = graft.operators.Sketches.cmsEstimate(
        merged, Seq("whale").toDF("k"), "k").collect().head
      assert(est.getAs[Long]("est_count") >= 80L) // exact 80, CMS never under
    } finally query.stop()
  }

  test("streaming KMV maintenance: merged estimate equals the one-shot sketch of all data") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_skmv").toString
    val input = MemoryStream[String]
    val query = StreamingOps.maintainKmv(
      input.toDF().toDF("k"), s"$dir/kmv", s"$dir/ckpt", keyCol = "k", k = 64)
    try {
      val b1 = (1 to 600).map(i => s"u$i")
      val b2 = (400 to 1000).map(i => s"u$i") // overlap: union algebra must dedup
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val merged = StreamingOps.readKmvSketch(spark, s"$dir/kmv", k = 64)
        .collect().head
      val direct = graft.operators.Sketches.kmvDistinct(
        (b1 ++ b2).toDF("k"), "k", k = 64).collect().head
      // bottom-k of the per-batch bottom-k union IS the bottom-k of the
      // union: the streamed sketch read-out matches one-shot bit-for-bit
      assert(merged.getAs[Long]("kth_min_hash") == direct.getAs[Long]("kth_min_hash"))
      assert(merged.getAs[Long]("est_distinct") == direct.getAs[Long]("est_distinct"))
    } finally query.stop()
  }

  test("streaming centroid maintenance: running means stay exact across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_scent").toString
    val input = MemoryStream[(Long, Array[Float])]
    val init = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val query = StreamingOps.maintainCentroids(
      input.toDF().toDF("vec_id", "embedding"),
      s"$dir/cent", s"$dir/ckpt", init)
    try {
      input.addData((10L, Array(1.0f, 0.0f)), (11L, Array(0.8f, 0.0f)),
        (12L, Array(0.0f, 1.0f)))
      query.processAllAvailable()
      input.addData((13L, Array(0.6f, 0.0f)), (14L, Array(0.0f, 0.8f)))
      query.processAllAvailable()
      val m = StreamingOps.readCentroids(spark, s"$dir/cent").collect()
        .map(r => (r.getAs[Long]("centroid_id"), r.getAs[Int]("pos")) ->
          (r.getAs[Long]("mean_micro"), r.getAs[Long]("n_members"))).toMap
      // cluster 0 = {10, 11, 13}: x mean (1000+800+600)/3 -> 800000 micro;
      // batch 2's assignment ran against the UPDATED (post-batch-1) state
      assert(m((0L, 1)) == (800000L, 3L) && m((0L, 2)) == (0L, 3L))
      // cluster 1 = {12, 14}: y mean (1000+800)/2 -> 900000 micro
      assert(m((1L, 1)) == (0L, 2L) && m((1L, 2)) == (900000L, 2L))
    } finally query.stop()
  }

  test("parent-hash watcher signals a chain switch across micro-batches, clean batches stay silent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_watch").toString
    def h(c: String, i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${c}_$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val input = MemoryStream[(Long, String, String)]
    val query = StreamingOps.watchParentHash(
      input.toDF().toDF("block_id", "block_hash", "parent_hash"),
      s"$dir/log", s"$dir/sig", s"$dir/ckpt", bucketSize = 10)
    try {
      // batch 1: canonical 0..14 — contiguous, includes a bucket boundary
      input.addData((0L until 15L).map(i =>
        (i, h("canon", i), if (i == 0) null else h("canon", i - 1))): _*)
      query.processAllAvailable()
      assert(!new java.io.File(s"$dir/sig").exists(),
        "clean batch must not create a signal table")
      // batch 2: the source reorganized — fork chain delivers 15..17 whose
      // parent pointer is fork_14, not the stored canon_14
      input.addData((15L to 17L).map(i => (i, h("fork", i), h("fork", i - 1))): _*)
      query.processAllAvailable()
      val sig = spark.read.parquet(s"$dir/sig")
        .select("block_id", "parent_hash", "prev_hash").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(sig.toSeq == Seq((15L, h("fork", 14), h("canon", 14))),
        s"expected one signal at the switch block: ${sig.toSeq}")
      // the log accreted both batches regardless
      assert(spark.read.parquet(s"$dir/log").count() == 18L)
    } finally query.stop()
  }

  test("centroid replay with a changed assignment replaces the batch's rows, never double-counts") {
    // the maintainCentroids replay hazard, exercised at the sink level:
    // batch 0 originally assigned its vector to cid 0; the replay (state
    // advanced in between) assigns it to cid 1 — DIFFERENT PK, so plain
    // PK-precedence merge would keep both. dropOldWhere(batch_id = 0)
    // must erase the original run's rows wholesale.
    val dir = java.nio.file.Files.createTempDirectory("graft_creplay").toString
    def partials(cid: Long) = Seq(
      (0L, cid, 1, 1000L, 1L), (0L, cid, 2, 0L, 1L)
    ).toDF("batch_id", "cid", "pos", "sum_milli", "n_members")
      .withColumn("bk", lit(0L))
    graft.eth.Sinks.upsertBucketedParquet(partials(0L), s"$dir/cent",
      pkCols = Seq("batch_id", "cid", "pos"), bucketCol = "bk",
      sortCols = Seq("cid", "pos"), newBuckets = Some(Seq(0L)),
      dropOldWhere = Some(col("batch_id") === 0L))
    graft.eth.Sinks.upsertBucketedParquet(partials(1L), s"$dir/cent",
      pkCols = Seq("batch_id", "cid", "pos"), bucketCol = "bk",
      sortCols = Seq("cid", "pos"), newBuckets = Some(Seq(0L)),
      dropOldWhere = Some(col("batch_id") === 0L))
    val stored = spark.read.parquet(s"$dir/cent")
      .select("batch_id", "cid", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(stored == Set((0L, 1L, 1), (0L, 1L, 2)),
      s"replayed batch must replace, not accrete: $stored")
    // merge-on-read counts the vector exactly once
    val n = StreamingOps.readCentroids(spark, s"$dir/cent")
      .agg(sum(col("n_members"))).collect()(0).getLong(0)
    assert(n == 2L, s"2 (cid,pos) cells of one vector expected, got $n")
  }

  test("streaming SCD2 maintenance: touched-key rebuild matches the batch build, late rows renumber") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sscd2").toString
    val input = MemoryStream[(Long, String, Timestamp, Long)]
    val query = StreamingOps.maintainScd2(
      input.toDF().toDF("user_id", "event_type", "ts", "event_id"),
      s"$dir/log", s"$dir/dim", s"$dir/ckpt")
    def dimRows(): Set[String] = spark.read.parquet(s"$dir/dim")
      .select("user_id", "event_type", "valid_from", "valid_to",
        "version", "is_current")
      .collect().map(_.toString).toSet
    try {
      input.addData((1L, "a", ts(1), 1L), (1L, "a", ts(2), 2L),
        (1L, "b", ts(3), 3L), (2L, "x", ts(1), 4L))
      query.processAllAvailable()
      // batch 2: extends u1's open run, adds a NEW key, and lands a LATE
      // row BEFORE u1's history start — the rebuild renumbers u1's
      // versions (2 -> 3 runs) and overwrites every stored one
      input.addData((1L, "b", ts(4), 5L), (3L, "z", ts(1), 6L),
        (1L, "c", ts(0), 7L))
      query.processAllAvailable()
      val got = dimRows()
      val want = graft.operators.Scd2.buildIntervals(
          spark.read.parquet(s"$dir/log"),
          "user_id", "event_type", "ts", "event_id")
        .collect().map(_.toString).toSet
      assert(got == want)
      // u1: c@0 | a@1 | b@3.. -> exactly 3 versions, one current
      val u1 = spark.read.parquet(s"$dir/dim").filter(col("user_id") === 1L)
      assert(u1.count() == 3 &&
        u1.filter(col("is_current")).select("event_type").collect()
          .map(_.getString(0)).toSeq == Seq("b"))
      // replayed rows (at-least-once delivery) must not change the table
      input.addData((1L, "b", ts(4), 5L), (3L, "z", ts(1), 6L))
      query.processAllAvailable()
      assert(dimRows() == got)
    } finally query.stop()
  }

  test("RocksDB state store: sessionization and dedupe hold ~100k keys") {
    // The default HDFS-backed provider keeps every key's state on the JVM
    // heap — the one piece of the streaming stack whose 100×-scale behavior
    // differs by construction. RocksDB spills state off-heap/to disk, so
    // the same ops must produce the same answers under it at a key count
    // that is no longer toy-sized.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val nKeys = 100000
      // one open session per user, then a far-future event per user closes it
      val input = MemoryStream[Event]
      val sessions = StreamingOps.sessionizeStreaming(input.toDS(), gapSeconds = 600)
      val q = sessions.writeStream
        .format("memory").queryName("rocks_sessions").outputMode("append").start()
      try {
        input.addData((0 until nKeys).map(u =>
          Event(u.toLong, ts(0), u.toLong, "click", 1.0)))
        input.addData((0 until nKeys).map(u =>
          Event((nKeys + u).toLong, ts(59), u.toLong, "click", 1.0)))
        q.processAllAvailable()
        val out = spark.table("rocks_sessions")
        assert(out.count() == nKeys.toLong) // every user's first session closed
        assert(out.agg(sum(col("n_events"))).collect()(0).getLong(0) == nKeys.toLong)
        // the state operator really ran on RocksDB, not the default provider
        val metrics = q.lastProgress.stateOperators.apply(0).customMetrics
        assert(metrics.keySet.toArray.exists(_.toString.startsWith("rocksdb")),
          s"expected rocksdb state metrics, got: $metrics")
      } finally q.stop()

      // watermark-bounded streaming dedupe under RocksDB at the same scale:
      // 100k keys + full replay + 100 fresh keys -> exactly 100 new rows
      val input2 = MemoryStream[Event]
      val dd = StreamingOps.dedupeStreamByPk(input2.toDF(), Seq("event_id"))
      val q2 = dd.writeStream
        .format("memory").queryName("rocks_dd").outputMode("append").start()
      try {
        val batch1 = (0 until nKeys).map(i =>
          Event(i.toLong, ts(0), i.toLong, "click", 1.0))
        input2.addData(batch1)
        q2.processAllAvailable()
        input2.addData(batch1 ++ (0 until 100).map(i =>
          Event((nKeys + i).toLong, ts(1), i.toLong, "click", 1.0)))
        q2.processAllAvailable()
        assert(spark.table("rocks_dd").count() == (nKeys + 100).toLong)
      } finally q2.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("watermark wiring: streaming plan accepts withLateDataWatermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val agg = StreamingOps.windowedEventStats(
      StreamingOps.withLateDataWatermark(input.toDF(), "ts", "10 minutes"))
    val query = agg.writeStream
      .format("memory").queryName("win_out").outputMode("update").start()
    try {
      input.addData(events: _*)
      query.processAllAvailable()
      assert(spark.table("win_out").count() > 0)
    } finally query.stop()
  }

  test("bloom probe runs as a stateless streaming filter (ingest-time decontamination)") {
    implicit val sqlCtx = spark.sqlContext
    // the benchmark filter is built ONCE, batch-side, and rides every
    // micro-batch as a plan literal — no state store, no stream-static
    // join, so the stream stays append-mode stateless
    val bench = Seq("held out benchmark prompt", "another eval item")
      .toDF("g")
    val bloom = graft.llm.TextAnalysis.bloomBuild(bench, "g", bits = 1 << 10)
    val input = MemoryStream[(Long, String)]
    val flagged = input.toDF().toDF("doc_id", "text")
      .filter(graft.llm.TextAnalysis.bloomMightContain(
        bloom, 1 << 10, 4, col("text")))
    val query = flagged.writeStream
      .format("memory").queryName("bloom_out").outputMode("append").start()
    try {
      input.addData(
        (1L, "held out benchmark prompt"), // member: must flag
        (2L, "clean training document"),
        (3L, "another eval item")) // member: must flag
      query.processAllAvailable()
      val ids = spark.table("bloom_out").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      assert(ids.contains(1L) && ids.contains(3L), s"members must flag: ${ids.toSeq}")
      // doc 2 may only appear as a (vanishingly unlikely) false positive;
      // assert the filter is not pass-through
      assert(ids.length <= 3 && ids.length >= 2)
    } finally query.stop()
  }

  // shared by the crash-injection fixtures: nuke a sink directory the
  // way a crash between two foreachBatch writes leaves it (first write
  // landed, second never started)
  private def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  private def injectCheckpointCrash(cp: String, batch: Long = 0L): Unit = {
    // the SINK writes landed (or partially landed) but the CHECKPOINT
    // commit never did -> the restart re-runs the batch
    assert(new java.io.File(s"$cp/commits/$batch").delete(),
      "fixture rot: checkpoint commit file not where expected")
    new java.io.File(s"$cp/commits/.$batch.crc").delete()
  }

  test("maintainBandIndexAndFlag crash injection: died between index upsert and flags write; replay heals both") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val root = java.nio.file.Files.createTempDirectory("graft_bcrash").toString
    def start() = StreamingOps.maintainBandIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    val q1 = start()
    try {
      input.addData(
        (0L, "the quick brown fox jumps over the lazy dog"),
        (10L, "the quick brown fox jumps over the lazy dog"), // same-batch dup
        (1L, "completely different words appear in this one here"))
      q1.processAllAvailable()
    } finally q1.stop()
    def snap(dir: String) = spark.read.parquet(dir).collect().map(_.toString).toSet
    val idxClean = snap(s"$root/index"); val flagClean = snap(s"$root/flags")
    assert(flagClean.nonEmpty, "fixture rot: expected same-batch dup flags")
    // crash window: the INDEX upsert landed, the process died before the
    // FLAGS write and before the checkpoint commit
    rmTree(s"$root/flags")
    injectCheckpointCrash(s"$root/ckpt")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(s"$root/index") == idxClean,
      "replayed batch changed the index (upsert must be idempotent)")
    assert(snap(s"$root/flags") == flagClean, "flags not healed by replay")
    // pk uniqueness survived the double apply
    assert(spark.read.parquet(s"$root/index").groupBy("doc_id", "band")
      .count().filter(col("count") > 1).count() == 0L)
    // and the stream keeps moving after recovery
    val q3 = start()
    try {
      input.addData((20L, "twin documents arriving together in one batch yes"))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(spark.read.parquet(s"$root/index")
      .select("doc_id").distinct().count() == 4L)
  }

  test("maintainExactDupIndexAndFlag crash injection: index upserted, flags and checkpoint lost; replay heals, no partial-batch visibility") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val root = java.nio.file.Files.createTempDirectory("graft_ecrash").toString
    def start() = StreamingOps.maintainExactDupIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    val q1 = start()
    try {
      input.addData(
        (0L, "byte identical payload"),
        (10L, "byte identical payload"), // same-batch exact copy
        (1L, "something else entirely"))
      q1.processAllAvailable()
    } finally q1.stop()
    def snap(dir: String) = spark.read.parquet(dir).collect().map(_.toString).toSet
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"))).toSet
    val idxClean = snap(s"$root/index"); val flagClean = flagPairs()
    assert(flagClean == Set((0L, 10L), (10L, 0L)),
      s"same-batch exact copies must flag both ways: $flagClean")
    // crash window: the INDEX upsert landed, the process died before the
    // FLAGS write and before the checkpoint commit — the classic
    // kill-between-sink-and-checkpoint gap
    rmTree(s"$root/flags")
    injectCheckpointCrash(s"$root/ckpt")
    // no partial-batch visibility: the flags dir is simply absent — a
    // reader sees the PREVIOUS complete state, never half a batch
    assert(!new java.io.File(s"$root/flags").exists())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(s"$root/index") == idxClean,
      "replayed batch changed the index (pk upsert must be idempotent)")
    assert(flagPairs() == flagClean, "flags not healed by replay")
    assert(spark.read.parquet(s"$root/index").groupBy("doc_id")
      .count().filter(col("count") > 1).count() == 0L,
      "pk uniqueness must survive the double apply")
    // the stream keeps moving after recovery: a cross-batch exact copy
    // of doc 1 flags against the healed index
    val q3 = start()
    try {
      input.addData((20L, "something else entirely"))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(flagPairs().contains((20L, 1L)),
      s"cross-batch exact copy must flag after recovery: ${flagPairs()}")
  }

  test("maintainExactDupIndexAndFlag mutable corpus: re-ingest with changed text erases the stale key; no ghost flags") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val root = java.nio.file.Files.createTempDirectory("graft_emut").toString
    def start() = StreamingOps.maintainExactDupIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"))).toSet
    val q1 = start()
    try {
      input.addData((1L, "original text of document one"),
        (2L, "a second unrelated document"))
      q1.processAllAvailable()
      // doc 1 is EDITED: its content_key moves to a different bucket;
      // the pk side map must route the old bucket into the upsert so
      // the stale (1, old_key) row is erased
      input.addData((1L, "document one after an edit"))
      q1.processAllAvailable()
      // a new doc carrying doc 1's OLD content must NOT flag (the old
      // key is dead); one carrying its CURRENT content must flag
      input.addData((30L, "original text of document one"),
        (40L, "document one after an edit"))
      q1.processAllAvailable()
    } finally q1.stop()
    val idx = spark.read.parquet(s"$root/index")
    // pk uniqueness: ONE row per doc, the edited doc carries only its
    // current key (the stale row is the whole bug)
    assert(idx.groupBy("doc_id").count().filter(col("count") > 1).count() == 0L,
      "stale (doc_id, old content_key) row survived the re-ingest")
    val doc1Keys = idx.filter(col("doc_id") === 1L)
      .select("content_key").collect().map(_.getLong(0)).toSeq
    val editedKey = spark.range(1).select(graft.functions.ColumnFns
      .md5Long(lit("document one after an edit"))).collect()(0).getLong(0)
    assert(doc1Keys == Seq(editedKey), s"doc 1 must carry ONLY the edited key: $doc1Keys")
    assert(!flagPairs().contains((30L, 1L)),
      s"ghost flag against doc 1's DEAD content: ${flagPairs()}")
    assert(flagPairs().contains((40L, 1L)),
      s"current-content match must still flag: ${flagPairs()}")
    // side map tracks the doc's CURRENT bucket only
    assert(spark.read.parquet(s"$root/index_pk").filter(col("doc_id") === 1L)
      .select("kb").collect().map(_.getLong(0)).toSeq
      == Seq(((editedKey % 64) + 64) % 64))
    // replay idempotence still holds WITH the side map in the loop
    def snap(dir: String) = spark.read.parquet(dir).collect().map(_.toString).toSet
    val idxClean = snap(s"$root/index"); val mapClean = snap(s"$root/index_pk")
    injectCheckpointCrash(s"$root/ckpt")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(s"$root/index") == idxClean, "replay changed the index")
    assert(snap(s"$root/index_pk") == mapClean, "replay changed the side map")
  }

  test("maintainBandIndexAndFlag mutable corpus: re-ingest with changed text replaces all four band keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val root = java.nio.file.Files.createTempDirectory("graft_bmut").toString
    def start() = StreamingOps.maintainBandIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    val textA = "the quick brown fox jumps over the lazy dog"
    val textB = "completely rewritten content that shares no shingles at all"
    val q1 = start()
    try {
      input.addData((1L, textA), (2L, "some other unrelated document text here"))
      q1.processAllAvailable()
      input.addData((1L, textB)) // doc 1 edited: all 4 band keys move
      q1.processAllAvailable()
      // a new doc with doc 1's OLD text must not band-flag against doc 1
      input.addData((30L, textA), (40L, textB))
      q1.processAllAvailable()
    } finally q1.stop()
    val idx = spark.read.parquet(s"$root/index")
    assert(idx.groupBy("doc_id", "band").count().filter(col("count") > 1)
      .count() == 0L, "stale (doc_id, band) rows survived the re-ingest")
    assert(idx.filter(col("doc_id") === 1L).count() == 4L)
    // doc 1's stored band keys equal a fresh signature of the EDITED text
    val fresh = graft.llm.Dedup.minhashBands(
      Seq((1L, textB)).toDF("doc_id", "text"), "doc_id", "text")
      .select("band", "band_key").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val stored = idx.filter(col("doc_id") === 1L)
      .select("band", "band_key").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(stored == fresh, s"doc 1 must carry ONLY the edited keys: $stored vs $fresh")
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"))).toSet
    assert(!flagPairs().contains((30L, 1L)),
      s"ghost band flag against doc 1's DEAD text: ${flagPairs()}")
    assert(flagPairs().contains((40L, 1L)),
      s"current-text band match must still flag: ${flagPairs()}")
  }

  test("maintainRelations crash injection: partials upserted, checkpoint commit lost; replay overwrites its own batch, totals stay exact") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Long, Int, Boolean)]
    val root = java.nio.file.Files.createTempDirectory("graft_rcrash").toString
    def start() = StreamingOps.maintainRelations(
      input.toDF().toDF("from_address", "to_address", "value", "block_number", "ok"),
      s"$root/table", s"$root/ckpt")
    def readRel() = graft.eth.Relations.readRelations(spark, s"$root/table")
      .orderBy("from_address", "to_address").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_txs"),
        r.getDecimal(3).toPlainString)).toSeq
    val q1 = start()
    try {
      input.addData(("a", "b", 100L, 5, true), ("a", "c", 9L, 6, true))
      q1.processAllAvailable()
      input.addData(("a", "b", 50L, 12, true)) // batch 1: same pair accretes
      q1.processAllAvailable()
    } finally q1.stop()
    val clean = readRel()
    assert(clean == Seq(("a", "b", 2L, "150"), ("a", "c", 1L, "9")))
    // crash window: batch 1's partial row landed in the table but the
    // checkpoint commit never did — the restart re-runs batch 1; its
    // pk includes batch_lo, so the replay OVERWRITES its own partial
    // instead of double-counting (foreachBatch batchIds are stable)
    injectCheckpointCrash(s"$root/ckpt", batch = 1L)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(readRel() == clean,
      "replayed batch double-counted its partials (IVM replay must overwrite)")
    // the maintainer keeps accreting after recovery
    val q3 = start()
    try {
      input.addData(("a", "b", 7L, 20, false)) // failed tx: counts, no wei
      q3.processAllAvailable()
    } finally q3.stop()
    assert(readRel() == Seq(("a", "b", 3L, "150"), ("a", "c", 1L, "9")))
  }

  test("maintainWinnowIndexAndFlag mutable corpus: edits replace the fingerprint SET; shrink-below-window erases it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val root = java.nio.file.Files.createTempDirectory("graft_wmut").toString
    val runA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val runB = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    def start() = StreamingOps.maintainWinnowIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/flags", s"$root/ckpt", minShared = 1)
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"))).toSet
    val q1 = start()
    try {
      input.addData((1L, s"document one starts with $runA and more"),
        (2L, s"second doc carries $runB entirely different words"))
      q1.processAllAvailable()
      // doc 1 EDITED to unrelated content: its old fp rows must die —
      // this is the set-shrink case pk-collision alone cannot express
      input.addData((1L, "replaced with some completely new short words body"))
      q1.processAllAvailable()
      // a new doc with doc 1's OLD run must not flag against doc 1
      input.addData((30L, s"another doc reusing $runA in the middle"))
      q1.processAllAvailable()
      // doc 2 shrinks BELOW the winnow window: every fp row erased
      input.addData((2L, "tiny"))
      q1.processAllAvailable()
      input.addData((40L, s"reuses $runB which should now be unindexed"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!flagPairs().contains((30L, 1L)),
      s"ghost winnow flag via doc 1's DEAD fingerprints: ${flagPairs()}")
    assert(!flagPairs().contains((40L, 2L)),
      s"ghost winnow flag via doc 2's ERASED fingerprints: ${flagPairs()}")
    val idx = spark.read.parquet(s"$root/index")
    assert(idx.filter(col("doc_id") === 2L).count() == 0L,
      "doc 2 shrank below the window; its index rows must be gone")
    // doc 1's stored fps equal a fresh fingerprinting of the edited text
    val fresh = graft.llm.TextAnalysis.winnowFingerprints(
      Seq((1L, "replaced with some completely new short words body"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select("fp_hash").distinct().collect().map(_.getLong(0)).toSet
    val stored = idx.filter(col("doc_id") === 1L)
      .select("fp_hash").collect().map(_.getLong(0)).toSet
    assert(stored == fresh, s"doc 1 must carry ONLY the edited fps")
  }

  test("mutable-index mini-soak: mixed edit/erase/restore/add/replay batches end bit-identical to a from-scratch rebuild") {
    // the spec-sized twin of `graft.Bench soak` (the 100-
    // batch run is SCALE_r14 §3 evidence): 13 micro-batches cycle every
    // mutation class twice, then the maintained index AND the pk side
    // map must equal a fresh fingerprinting of the final corpus state
    // row-exactly, with data-file counts flat (no compaction debt).
    val root = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val r = graft.streaming.IndexSoak.runSoak(spark, root, nBatches = 13,
      baseDocs = 120, opDocs = 15)
    assert(r.idxDiff == 0L,
      s"maintained index diverged from the rebuild by ${r.idxDiff} rows")
    assert(r.mapDiff == 0L,
      s"pk side map diverged from the rebuild by ${r.mapDiff} rows")
    assert(r.filesEnd <= r.filesMid + 8,
      s"data-file creep: ${r.filesMid} files mid-soak -> ${r.filesEnd} at end")
    assert(r.finalIndexRows > 0 && r.finalDocsN >= 120,
      s"soak must end with a populated index: ${r.finalIndexRows} rows")
  }

  test("media mini-soak: image and video-frame maintainers end bit-identical to a from-scratch rebuild") {
    // the spec-sized twin of `graft.Bench mediaSoak` (the 100-batch runs
    // are SCALE_r15 evidence): both media maintainers pay REAL
    // JPEG/AVI decodes per batch through the full mutation schedule —
    // re-encode, undecodable erase, SHORTER video re-ingest (frame-tail
    // erase), restore, new media, byte-identical replay — and must end
    // row-exact vs a fresh hash of the final corpus on BOTH the index
    // and the pk side map.
    val imgRoot = java.nio.file.Files.createTempDirectory("graft_msoak_i").toString
    val ri = graft.streaming.IndexSoak.runMediaSoak(spark, imgRoot,
      nBatches = 12, video = false, baseMedia = 40, opMedia = 6)
    assert(ri.idxDiff == 0L && ri.mapDiff == 0L,
      s"image index diverged: idx ${ri.idxDiff}, map ${ri.mapDiff}")
    assert(ri.finalIndexRows > 0 && ri.filesEnd <= ri.filesMid + 8)
    val vidRoot = java.nio.file.Files.createTempDirectory("graft_msoak_v").toString
    val rv = graft.streaming.IndexSoak.runMediaSoak(spark, vidRoot,
      nBatches = 12, video = true, baseMedia = 30, opMedia = 5)
    assert(rv.idxDiff == 0L && rv.mapDiff == 0L,
      s"video-frame index diverged: idx ${rv.idxDiff}, map ${rv.mapDiff}")
    assert(rv.finalIndexRows > 0 && rv.filesEnd <= rv.filesMid + 8)
  }

  test("maintainImageIndexAndFlag mutable corpus: re-encoded pixels replace the bands; undecodable re-ingest erases them") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte], String)]
    val root = java.nio.file.Files.createTempDirectory("graft_imut").toString
    def bmp(seed: Int) = graft.llm.Multimodal.encodeBmp(16, 12, (x, y) =>
      (((x * 7 + y * 13 + seed) % 256), ((x * 3 + y * 5 + seed) % 256),
        ((x + y * 2 + seed * 11) % 256)))
    def start() = StreamingOps.maintainImageIndexAndFlag(
      input.toDF().toDF("media_id", "payload", "mime"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("matched_id"))).toSet
    val q1 = start()
    try {
      input.addData((1L, bmp(0), "image/bmp"), (2L, bmp(77), "image/bmp"))
      q1.processAllAvailable()
      // media 1 re-ingested with DIFFERENT pixels: its six band rows move
      input.addData((1L, bmp(200), "image/bmp"))
      q1.processAllAvailable()
      // a new image with media 1's OLD pixels must not flag against it
      input.addData((30L, bmp(0), "image/bmp"))
      q1.processAllAvailable()
      // media 2 re-ingested as an UNDECODABLE payload: rows erased
      input.addData((2L, "not an image at all".getBytes, "image/bmp"))
      q1.processAllAvailable()
      input.addData((40L, bmp(77), "image/bmp"))
      q1.processAllAvailable()
      // positive control: media 1's CURRENT pixels must still flag
      input.addData((50L, bmp(200), "image/bmp"))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(!flagPairs().contains((30L, 1L)),
      s"ghost image flag via media 1's DEAD bands: ${flagPairs()}")
    assert(!flagPairs().contains((40L, 2L)),
      s"ghost image flag via media 2's ERASED bands: ${flagPairs()}")
    assert(flagPairs().contains((50L, 1L)),
      s"current-pixels image match must still flag: ${flagPairs()}")
    val idx = spark.read.parquet(s"$root/index")
    assert(idx.filter(col("media_id") === 2L).count() == 0L,
      "media 2 became undecodable; its band rows must be gone")
    assert(idx.filter(col("media_id") === 1L).count() == 6L)
  }

  test("maintainWinnowIndexAndFlag: cross-batch and same-batch partial overlaps flag; short docs index nothing; crash replay heals") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val root = java.nio.file.Files.createTempDirectory("graft_winix").toString
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 shared tokens
    def start() = StreamingOps.maintainWinnowIndexAndFlag(
      input.toDF().toDF("doc_id", "text"),
      s"$root/index", s"$root/flags", s"$root/ckpt", minShared = 1)
    val q1 = start()
    try {
      input.addData(
        (1L, s"one two $run three four five six seven eight nine"),
        (2L, "totally unrelated content with none of those words here at all"))
      q1.processAllAvailable()
      input.addData(
        (10L, s"prefix words then $run and a different tail entirely"), // overlaps 1
        (20L, s"twin of the overlap $run right here in this batch"),   // overlaps 1 AND 10
        (30L, "tiny")) // sub-window: indexes nothing
      q1.processAllAvailable()
    } finally q1.stop()
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_id"))).toSet
    val pairs = flagPairs()
    assert(pairs.contains((10L, 1L)), s"cross-batch overlap must flag: $pairs")
    assert(pairs.contains((20L, 10L)) && pairs.contains((10L, 20L)) ||
      pairs.contains((20L, 1L)), s"same-batch overlap must flag: $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    assert(!pairs.exists(p => p._1 == 30L || p._2 == 30L))
    val idxSnap = spark.read.parquet(s"$root/index").collect().map(_.toString).toSet
    // crash injection: checkpoint commit of batch 1 lost; replay overwrites
    assert(new java.io.File(s"$root/ckpt/commits/1").delete())
    new java.io.File(s"$root/ckpt/commits/.1.crc").delete()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$root/index").collect().map(_.toString).toSet == idxSnap,
      "replay must be idempotent on the winnow index")
    assert(flagPairs() == pairs, "replay must rewrite the same flags")
  }

  test("maintainVideoFrameIndexAndFlag: cross-video frame matches flag; shorten/re-encode/undecodable erase frame rows wholesale") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    val input = MemoryStream[(Long, Array[Byte], String)]
    val root = java.nio.file.Files.createTempDirectory("graft_vmut").toString
    // 64x48 gray MJPEG frames, one aHash sample per 8x8 block (stride 8).
    // Per-scene block values come from a multiplicative mix so distinct
    // scenes give DECORRELATED hashes (Hamming ~24 of 48) — a plain
    // gradient family collides: aHash is brightness-invariant and small
    // coefficient classes repeat across scenes.
    def avi(scenes: Seq[Int]) = Multimodal.encodeAviMjpegPcm(64, 48, scenes.size,
      f => (x, y) => {
        val s = scenes(f)
        val mix = ((x / 8) * 7349L + (y / 8) * 51721L + 1L) * (s * 2654435761L + 97L)
        val v = ((mix >>> 13) & 0xffL).toInt
        (v, v, v)
      }, 8000, 40, f => i => 0)
    def start() = StreamingOps.maintainVideoFrameIndexAndFlag(
      input.toDF().toDF("media_id", "payload", "mime"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    def flagPairs() = spark.read.parquet(s"$root/flags").collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("frame_idx"),
        r.getAs[Long]("matched_id"), r.getAs[Int]("matched_frame"))).toSet
    def frameRows(id: Long) = spark.read.parquet(s"$root/index")
      .filter(col("media_id") === id)
      .select(col("frame_idx")).distinct().collect().map(_.getInt(0)).toSet
    val q1 = start()
    try {
      // A = scenes 1,2,3,4 ; B = disjoint scenes: no cross flags
      input.addData((1L, avi(Seq(1, 2, 3, 4)), "video/x-msvideo"),
        (2L, avi(Seq(11, 12, 13)), "video/x-msvideo"))
      q1.processAllAvailable()
      assert(frameRows(1L) == Set(0, 1, 2, 3) && frameRows(2L) == Set(0, 1, 2))
      assert(!flagPairs().exists(p => p._1 != p._3),
        s"disjoint videos must not cross-flag: ${flagPairs()}")
      // C shares A's scene 3 at ITS frame 1: exactly that cross pair flags
      input.addData((30L, avi(Seq(21, 3, 22)), "video/x-msvideo"))
      q1.processAllAvailable()
      assert(flagPairs().contains((30L, 1, 1L, 2)),
        s"shared scene must flag (C frame 1 = A frame 2): ${flagPairs()}")
      // A re-ingested SHORTER and re-encoded (scenes 5,6): frames 2,3 erased
      input.addData((1L, avi(Seq(5, 6)), "video/x-msvideo"))
      q1.processAllAvailable()
      assert(frameRows(1L) == Set(0, 1),
        s"shortened video must erase its tail frame rows: ${frameRows(1L)}")
      // a new video reusing A's OLD scene 3 must not flag against A
      input.addData((40L, avi(Seq(3, 31)), "video/x-msvideo"))
      q1.processAllAvailable()
      assert(!flagPairs().contains((40L, 0, 1L, 2)),
        s"ghost frame flag via A's DEAD scene: ${flagPairs()}")
      // but it DOES flag against C, which still carries scene 3
      assert(flagPairs().contains((40L, 0, 30L, 1)),
        s"live shared scene must still flag: ${flagPairs()}")
      // B re-ingested as an undecodable payload: every row erased
      input.addData((2L, "not a video".getBytes, "video/x-msvideo"))
      q1.processAllAvailable()
      assert(frameRows(2L).isEmpty, "undecodable re-ingest must erase all frames")
    } finally q1.stop()
  }

  test("maintainImageIndexAndFlag crash injection: flags written but checkpoint commit lost; replay is a clean overwrite") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal
    val input = MemoryStream[(Long, Array[Byte], String)]
    val root = java.nio.file.Files.createTempDirectory("graft_icrash").toString
    def img(seed: Int) = Multimodal.encodeBmp(8, 6, (x, y) =>
      ((x * 11 + seed) % 200, (y * 17 + seed * 3) % 200, (x + y) * 7 % 200))
    def start() = StreamingOps.maintainImageIndexAndFlag(
      input.toDF().toDF("media_id", "payload", "mime"),
      s"$root/index", s"$root/flags", s"$root/ckpt")
    val q1 = start()
    try {
      input.addData((0L, img(1), "image/bmp"), (10L, img(1), "image/bmp"),
        (1L, img(90), "image/bmp"))
      q1.processAllAvailable()
    } finally q1.stop()
    def snap(dir: String) = spark.read.parquet(dir).collect().map(_.toString).toSet
    val idxClean = snap(s"$root/index"); val flagClean = snap(s"$root/flags")
    assert(flagClean.exists(_.contains("10")), "fixture rot: twin pair expected")
    // crash window: BOTH sink writes landed, only the checkpoint commit
    // vanished — the batch replays over its own output
    injectCheckpointCrash(s"$root/ckpt")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(s"$root/index") == idxClean, "image index replay not idempotent")
    assert(snap(s"$root/flags") == flagClean, "flags replay not idempotent")
    assert(spark.read.parquet(s"$root/index").groupBy("media_id", "band")
      .count().filter(col("count") > 1).count() == 0L)
  }

  test("maintainScd2 crash injection: log upserted but dim rebuild lost; replay reconstructs the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp, Long)]
    val root = java.nio.file.Files.createTempDirectory("graft_scrash").toString
    def start() = StreamingOps.maintainScd2(
      input.toDF().toDF("user_id", "event_type", "ts", "event_id"),
      s"$root/log", s"$root/dim", s"$root/ckpt")
    val q1 = start()
    try {
      input.addData((1L, "a", ts(1), 1L), (1L, "b", ts(3), 2L), (2L, "x", ts(1), 3L))
      q1.processAllAvailable()
    } finally q1.stop()
    def snap(dir: String) = spark.read.parquet(dir).collect().map(_.toString).toSet
    val logClean = snap(s"$root/log"); val dimClean = snap(s"$root/dim")
    // crash window: the LOG upsert landed, the process died before the
    // DIM rebuild write and before the checkpoint commit
    rmTree(s"$root/dim")
    injectCheckpointCrash(s"$root/ckpt")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(snap(s"$root/log") == logClean, "log replay not idempotent")
    assert(snap(s"$root/dim") == dimClean, "dim not reconstructed by replay")
    // the healed dim equals a from-scratch batch build of the log
    val want = graft.operators.Scd2.buildIntervals(
        spark.read.parquet(s"$root/log"), "user_id", "event_type", "ts", "event_id")
      .collect().map(_.toString).toSet
    val got = spark.read.parquet(s"$root/dim")
      .select("user_id", "event_type", "valid_from", "valid_to",
        "version", "is_current")
      .collect().map(_.toString).toSet
    assert(got == want)
    // progress after recovery: a later batch extends the dimension
    val q3 = start()
    try { input.addData((3L, "z", ts(2), 4L)); q3.processAllAvailable() }
    finally q3.stop()
    assert(spark.read.parquet(s"$root/dim")
      .filter(col("user_id") === 3L).count() == 1L)
  }

  test("maintainVersioned: a restart replaying a committed batch is a no-op (txn marker)") {
    import graft.eth.Versioned
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val root = java.nio.file.Files.createTempDirectory("graft_svtx").toString
    val dir = s"$root/t"; val cp = s"$root/cp"
    def start() = StreamingOps.maintainVersioned(
      input.toDS().toDF("id", "bkt", "v"), dir, cp, "q7", Seq("id"), "bkt")
    val q1 = start()
    try { input.addData((1L, 0L, 10L), (2L, 0L, 20L)); q1.processAllAvailable() }
    finally q1.stop()
    assert(Versioned.latestVersion(dir) == 1L)
    assert(Versioned.txnVersion(dir, "q7-0").contains(1L))
    // crash injection: the SINK committed batch 0 but the CHECKPOINT
    // commit never landed (delete commits/0) -> the restart re-runs
    // batch 0; the txn marker must make the re-apply a no-op
    assert(new java.io.File(s"$cp/commits/0").delete(),
      "fixture rot: checkpoint commit file not where expected")
    // the Hadoop local FS keeps a .crc sidecar; a stale one fails the
    // replay's rename-into-place
    new java.io.File(s"$cp/commits/.0.crc").delete()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(Versioned.latestVersion(dir) == 1L, "replayed batch double-applied")
    val rows = Versioned.readAt(spark, dir)
    assert(rows.count() == 2 && rows.agg(sum("v")).collect()(0).getLong(0) == 30L)
    // and the stream keeps moving: a NEW batch commits version 2
    val q3 = start()
    try { input.addData((3L, 0L, 30L)); q3.processAllAvailable() }
    finally q3.stop()
    assert(Versioned.latestVersion(dir) == 2L)
    assert(Versioned.readAt(spark, dir).count() == 3)
  }

  test("source lock: only MicroBatch starts a stream sink") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val driver = new java.io.File("src/main/scala/graft/streaming/MicroBatch.scala")
    assert(driver.isFile)
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filter(_.getPath != driver.getPath)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if line.contains("writeStream") => s"${f.getPath}:${i + 1}"
        }.toList
        finally src.close()
      }
    assert(offenders.isEmpty,
      s"start micro-batches through graft.streaming.MicroBatch: ${offenders.mkString(", ")}")
  }

  /** Spark jobs each batch of `batches` starts through a maintainer over a
    * MemoryStream of `T`, named `columns`, in batch order. The two
    * jobs-per-batch tests below lock the counts: a change that adds a job
    * to every batch (an unfolded bucket collect, say) fails them. */
  private def jobsPerBatch[T: org.apache.spark.sql.Encoder](columns: String*)(
      batches: Seq[T]*)(
      start: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[Int] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = start(input.toDF().toDF(columns: _*))
    try batches.map { b =>
      jobsStartedBy { input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
  }

  test("jobs per batch: the winnow maintainer starts a fixed job count for each of two batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_winjobs").toString
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val jobs = jobsPerBatch[(Long, String)]("doc_id", "text")(
      Seq((1L, s"one two $run three four five six seven eight nine"),
        (2L, "totally unrelated content with none of those words here at all")),
      Seq((10L, s"prefix words then $run and a different tail entirely"),
        (1L, "one two three edited away from the shared run entirely now"),
        (30L, "tiny")))(
      StreamingOps.maintainWinnowIndexAndFlag(_,
        s"$root/index", s"$root/flags", s"$root/ckpt", minShared = 1))
    assert(jobs == Seq(16, 29))
  }

  test("jobs per batch: the image maintainer starts a fixed job count for each of two batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_imjobs").toString
    def bmp(seed: Int) = graft.llm.Multimodal.encodeBmp(16, 12, (x, y) =>
      (((x * 7 + y * 13 + seed) % 256), ((x * 3 + y * 5 + seed) % 256),
        ((x + y * 2 + seed * 11) % 256)))
    val jobs = jobsPerBatch[(Long, Array[Byte], String)]("media_id", "payload", "mime")(
      Seq((1L, bmp(0), "image/bmp"), (2L, bmp(77), "image/bmp")),
      Seq((1L, bmp(200), "image/bmp"), (3L, bmp(0), "image/bmp"),
        (4L, "not an image at all".getBytes, "image/bmp")))(
      StreamingOps.maintainImageIndexAndFlag(_,
        s"$root/index", s"$root/flags", s"$root/ckpt"))
    assert(jobs == Seq(17, 30))
  }
}

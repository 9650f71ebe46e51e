package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{IndexSoak, StreamingOps}

/** The one measurement program. Every mode runs on [[SparkEntry.session]]
  * with SPARK_GRAFT_CPUS cores (default 4).
  *
  * With no arguments it runs the board: every registered query on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout. Failures are recorded as
  * -1.0 with the error in an "errors" map — a broken query must never look
  * like a fast one.
  *
  * Optional scale-evidence output for the board (the driver never enables
  * it): SPARK_GRAFT_METRICS_OUT=<path> additionally writes one JSON object
  * of per-query physical metrics — shuffle write/read bytes, parquet input
  * bytes, spill, and the max single-task runtime — captured by a
  * SparkListener around pass 1 of each query. Wall time is noisy;
  * shuffle/input BYTES are deterministic properties of the plan at a given
  * SF, so the sf0.1→sf1 byte ratio is the noise-free linearity proof the
  * scale gate wants, and max-task-ms quantifies skew for the _hot twins.
  *
  * Other modes:
  *  - `plans <outDir> [suffix]`: `.explain("formatted")` of each query on
  *    SPARK_GRAFT_SF_DIR to `<outDir>/<name><suffix>.txt`, with run-dependent
  *    names renumbered ([[stablePlan]]), so two runs of the same code
  *    write identical files and `diff -r` compares two commits.
  *  - `soak <workDir> <nBatches> [base op]` and
  *    `mediaSoak <workDir> image|video <nBatches> [base op]`: the
  *    mutable-index soaks ([[IndexSoak.runSoak]],
  *    [[IndexSoak.runMediaSoak]]); exit 1 unless the maintained index and
  *    pk map equal a from-scratch rebuild. The line also reports the
  *    persisted RDDs (and their block bytes) left after the last batch.
  *  - `scale <sfDir> <workDir> <keyBuckets> <nBatches> <batchSize>` and
  *    `mediaScale <workDir> image|video <keyBuckets> <nBatches> <batchSize>
  *    <corpusMedia>`: the maintainer scale gates. Each seeds an index at
  *    corpus size, then drives constant-size edit batches through the live
  *    maintainer and reports per-batch wall and bytes read. Run with
  *    keyBuckets ∝ corpus (constant bucket size): per-batch cost must stay
  *    ~flat across decades, O(batch × bucket), never O(corpus).
  *
  * GRAFT_ONLY=q1,q2 restricts the board and `plans` to a subset. */
object Bench {
  /** Totals accumulated by the task listener since it attached; callers
    * snapshot deltas around each measured action. maxTaskMs is reset by the
    * caller before each query (CAS-max between resets). */
  private final class MetricTotals {
    import java.util.concurrent.atomic.AtomicLong
    val shufW = new AtomicLong; val shufR = new AtomicLong
    val inB = new AtomicLong; val spill = new AtomicLong
    val tasks = new AtomicLong
    val maxTaskMs = new AtomicLong
    def snap: (Long, Long, Long, Long, Long) =
      (shufW.get, shufR.get, inB.get, spill.get, tasks.get)

    def attach(sc: SparkContext): Unit = {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      try sc.addSparkListener(new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            inB.addAndGet(m.inputMetrics.bytesRead)
            spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            tasks.incrementAndGet()
            val rt = m.executorRunTime
            var cur = maxTaskMs.get
            while (rt > cur && !maxTaskMs.compareAndSet(cur, rt))
              cur = maxTaskMs.get
          }
        }
      })
      catch { case e: Throwable =>
        System.err.println(s"[bench] metrics listener failed to attach: $e")
      }
    }

    /** Listener events are delivered async; poll until the task counter is
      * stable so a snapshot taken right after an action includes its tasks.
      * Bounded (500 ms) — metrics are evidence, never a hang risk. */
    def drain(): Unit = {
      var last = -1L; var spins = 0
      while (spins < 10 && tasks.get != last) {
        last = tasks.get; Thread.sleep(50); spins += 1
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val isKind = Set("image", "video")
    // a mode returns the line to print on stdout and whether it passed
    val mode: SparkSession => (Option[String], Boolean) = args.toList match {
      case Nil => spark => (Some(board(spark, sfDir)), true)
      case "plans" :: outDir :: rest if rest.size <= 1 => spark =>
        writePlans(spark, sfDir, outDir, rest.headOption.getOrElse(""), onlyFromEnv)
        (None, true)
      case "soak" :: workDir :: nb :: rest if rest.size <= 2 => spark =>
        val r = IndexSoak.runSoak(spark, workDir, nb.toInt,
          baseDocs = rest.headOption.map(_.toInt).getOrElse(300),
          opDocs = rest.lift(1).map(_.toInt).getOrElse(20))
        (Some(soakLine("\"mode\":\"soak\"", "final_docs", r)),
          r.idxDiff == 0 && r.mapDiff == 0)
      case "mediaSoak" :: workDir :: kind :: nb :: rest
          if isKind(kind) && rest.size <= 2 => spark =>
        val r = IndexSoak.runMediaSoak(spark, workDir, nb.toInt, kind == "video",
          baseMedia = rest.headOption.map(_.toInt).getOrElse(120),
          opMedia = rest.lift(1).map(_.toInt).getOrElse(10))
        (Some(soakLine(s""""mode":"mediaSoak","kind":"$kind"""", "final_media", r)),
          r.idxDiff == 0 && r.mapDiff == 0)
      case "scale" :: sfD :: workDir :: kb :: nb :: bs :: Nil => spark =>
        (Some(textScale(spark, sfD, workDir, kb.toInt, nb.toInt, bs.toInt)), true)
      case "mediaScale" :: workDir :: kind :: kb :: nb :: bs :: cm :: Nil
          if isKind(kind) => spark =>
        (Some(mediaScale(spark, workDir, kind, kb.toInt, nb.toInt, bs.toInt,
          cm.toInt)), true)
      case other =>
        System.err.println("usage: [plans <outDir> [suffix]] | " +
          "scale <sfDir> <workDir> <keyBuckets> <nBatches> <batchSize> | " +
          "soak <workDir> <nBatches> [base op] | " +
          "mediaScale <workDir> image|video <keyBuckets> <nBatches> " +
          "<batchSize> <corpusMedia> | " +
          s"mediaSoak <workDir> image|video <nBatches> [base op]; got: $other")
        sys.exit(2)
    }
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val (line, ok) = try mode(spark) finally spark.stop()
    // printed AFTER spark.stop() so the JSON is the LAST stdout line of the
    // run (build.sbt suppresses sbt's trailing "[success]" line) — robust
    // whether the driver parses the last line or greps for {"metric".
    line.foreach { l => println(l); System.out.flush() }
    if (!ok) sys.exit(1)
  }

  // Local-iteration filter (same contract as Verify): GRAFT_ONLY=q1,q2
  // selects a subset. The driver never sets it, so official runs are full.
  private def onlyFromEnv: Option[Set[String]] =
    sys.env.get("GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  private def selected(only: Option[Set[String]]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** One timed pass of a query: build it and run its FULL physical plan
    * inside one pin scope (Verify's per-query shape), so the pins it makes,
    * an operator's prologue pins included, are freed when the pass ends.
    * The clock stops before the scope releases them, and the release is
    * blocking: no block removal runs into the next timed window. A plain
    * df.count() would wrap the plan in a count aggregate, letting Catalyst
    * prune every projected column and drop the deterministic global sort;
    * queryExecution.toRdd executes the optimized plan as written, and
    * counting its rows only adds a per-row iterator step. Left holds a
    * failed pass's message. */
  private[graft] def timedPass(spark: SparkSession, sfDir: String,
                               fn: (SparkSession, String) => DataFrame): Either[String, Double] =
    try {
      var t = 0.0
      Pin.blockingScope {
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        t = (System.nanoTime() - t0) / 1e9
      }
      Right(t)
    } catch { case e: Throwable =>
      Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
    }

  /** Times the selected queries and returns the board's JSON line, after
    * writing it to BENCH_LOCAL.json (and the metrics side file, if asked). */
  private def board(spark: SparkSession, sfDir: String): String = {
    val metricsOut = sys.env.get("SPARK_GRAFT_METRICS_OUT")
    val totals = new MetricTotals
    if (metricsOut.isDefined) totals.attach(spark.sparkContext)
    def drainListener(): Unit = if (metricsOut.isDefined) totals.drain()

    // untimed warm-up steps each swallow their failure LOUDLY: a warm-up
    // that stops working would otherwise silently shift its cold-IO/JIT
    // cost onto the first timed query
    def warmUp(step: String)(body: => Any): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $step failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    // JVM/codegen/parquet-reader startup must not be attributed to
    // whichever query happens to run first
    warmUp("lineitem aggregate") {
      graft.queries.Tables(spark, sfDir, "lineitem").groupBy("l_returnflag").count().count()
    }
    // touch every input table once (cold page-cache IO is a property of
    // the box, not of whichever query reads the table first) and exercise
    // the sort/exchange/window machinery so its JIT cost is not billed to
    // the first window query in alphabetical order
    // per-table step (not one blanket try: events needs Tables' nanos
    // legacy conf — a throw there must not abort the remaining touches)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach { t =>
      warmUp(s"of table '$t'") {
        graft.queries.Tables(spark, sfDir, t).queryExecution.toRdd.count()
      }
    }
    warmUp("region window") {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      graft.queries.Tables(spark, sfDir, "region")
        .withColumn("rn", row_number().over(Window.orderBy("r_regionkey")))
        .orderBy(col("rn").desc).queryExecution.toRdd.count()
    }
    // exercise the ObjectHashAggregate / percentile-digest machinery once
    // untimed — its class-loading + JIT otherwise bills to whichever
    // approx_percentile/median query runs first
    warmUp("percentile aggregate") {
      graft.queries.Tables(spark, sfDir, "region")
        .selectExpr("approx_percentile(r_regionkey, array(0.25, 0.5, 0.95))",
          "percentile(r_regionkey, 0.5)", "median(r_regionkey)")
        .queryExecution.toRdd.count()
    }
    // pre-create the bucketed tables so j_bucketed_colocated times the
    // zero-shuffle join, not the one-time DDL+write that backs it
    warmUp("bucketed tables") {
      graft.queries.RelationalQueries.ensureBucketedTables(spark, sfDir)
    }

    val names = selected(onlyFromEnv)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // name -> (shuffle_write_b, shuffle_read_b, input_b, spill_b, tasks, max_task_ms)
    val qMetrics = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long, Long, Long, Long)]()
    // Each query is timed as the MIN of two full passes ("timing":
    // "min_of_2" in the JSON). A single-pass harness records whatever the
    // box happened to be doing during that one window: one co-tenant burst
    // writes a 10-80x inflated number into the official artifact even
    // though the plan re-times fast seconds later. The minimum of two
    // independent passes is the standard noise-floor estimator for a
    // deterministic plan — interference can only ADD time, so min-of-k
    // converges on the true cost from above.
    val results = names.map { name =>
      // stderr breadcrumb (stdout carries only the JSON line): a run that
      // dies mid-suite (OOM, kill) must identify WHICH query was in flight
      System.err.println(s"[bench] running $name")
      val fn = SparkEntry.queries(name)
      def onePass(): Either[String, Double] = {
        val out = timedPass(spark, sfDir, fn)
        // untimed guard: the pass's scope has already removed what the
        // query pinned on this thread; a pin made off it would squeeze
        // execution memory under queries i+1..n, so it is named and removed
        // (BLOCKING, like the scope's own release)
        val strays = spark.sparkContext.getPersistentRDDs.values
        if (strays.nonEmpty) {
          System.err.println(s"[bench] $name left ${strays.size} persisted RDD(s) outside its pin scope")
          try strays.foreach(_.unpersist(true)) catch { case _: Throwable => }
        }
        out
      }
      // metrics snapshot brackets pass 1 (pass 2 would measure the same
      // deterministic plan; one bracket keeps the harness simple)
      drainListener()
      val pre = totals.snap
      totals.maxTaskMs.set(0L)
      val firstPass = onePass()
      if (metricsOut.isDefined) {
        drainListener()
        val post = totals.snap
        qMetrics(name) = (post._1 - pre._1, post._2 - pre._2,
          post._3 - pre._3, post._4 - pre._4, post._5 - pre._5,
          totals.maxTaskMs.get)
      }
      val res = firstPass match {
        // a failed FIRST pass is the query's verdict: a broken query must
        // never look like a fast one
        case Left(err) => errors(name) = err; name -> -1.0
        // a failed SECOND pass must not overwrite a valid measurement —
        // transient interference killing pass 2 is exactly the noise this
        // harness defends against, so keep the real time from pass 1
        case Right(t1) => name -> (onePass() match {
          case Right(t2) => math.min(t1, t2)
          case Left(_) => t1
        })
      }
      // absorb pass-2 task-end events BEFORE the next query's pre-snapshot:
      // without this drain, stragglers from this query's second timing pass
      // land inside the next query's (pre, post) window and inflate its
      // byte/task deltas (the metrics bracket only covers pass 1 by design,
      // so pass-2 events must be flushed out of band)
      drainListener()
      res
    }
    val line = benchLine(results, errors, sfDir)
    metricsOut.foreach { path =>
      val body = qMetrics.map { case (k, (sw, sr, in, sp, nt, mt)) =>
        "\"" + esc(k) + s"""":{"shuffle_write_b":$sw,"shuffle_read_b":$sr,"input_b":$in,"spill_b":$sp,"tasks":$nt,"max_task_ms":$mt}"""
      }.mkString("{", ",", "}")
      val json = s"""{"sf":${sfNumber(sfDir)},"sf_dir":"${esc(sfDir)}","per_query":$body}"""
      try Files.write(Paths.get(path),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] metrics write to $path failed: $e")
      }
    }
    // r15 verdict #9: ALSO persist the identical JSON line to a file
    // (BENCH_LOCAL.json, overridable) so round-over-round comparison never
    // again depends on a driver artifact keeping only a truncated stdout
    // tail (PERF_r15 had prev_bench_ok=false for exactly that reason).
    // Purely additive evidence: the stdout contract is unchanged.
    // The default resolves against the working directory of the (possibly
    // forked) JVM, so the absolute path goes to stderr: the line is always
    // findable, wherever it landed.
    val localOut = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")).toAbsolutePath
    try {
      Files.write(localOut,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] bench line written to $localOut")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] local bench write to $localOut failed: $e")
    }
    line
  }

  // numeric sf parsed from the dir name (…/sf0.1 -> 0.1), per the driver
  // contract {"metric":…,"value":N,"unit":"sec","queries":{…},"sf":N}.
  // Strict number shape (no trailing dots — would corrupt the JSON line),
  // last match wins so an sfN earlier in the path can't shadow the leaf.
  private def sfNumber(sfDir: String): String =
    "sf([0-9]+(?:\\.[0-9]+)?)".r.findAllMatchIn(sfDir)
      .map(_.group(1)).toSeq.lastOption.getOrElse("0")

  /** The board's stdout line (the driver contract), from the per-query
    * seconds in run order (-1.0 for a failed query) and the failed
    * queries' messages. */
  private[graft] def benchLine(results: Seq[(String, Double)],
                               errors: collection.Map[String, String],
                               sfDir: String): String = {
    val qs = results.map { case (k, v) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // total_s duplicates "value" AFTER the (large) per-query map: an
    // artifact store that keeps only the tail of the line still carries
    // the headline number
    s"""{"metric":"total","value":$total,"unit":"sec","timing":"min_of_2","queries":$qs,"errors":$errJson,"total_s":$total,"n_queries":${results.size},"n_failed":${errors.size},"sf":${sfNumber(sfDir)},"sf_dir":"${esc(sfDir)}"}"""
  }

  /** Writes `.explain("formatted")` of each selected query to
    * `<outDir>/<name><suffix>.txt` through [[stablePlan]]. A query that
    * throws while its plan is built is reported on stderr and skipped. */
  def writePlans(spark: SparkSession, sfDir: String, outDir: String,
                 suffix: String, only: Option[Set[String]]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    selected(only).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = stablePlan(
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
        System.err.println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
  }

  /** Run-dependent names in a plan, each with the token its values are
    * renumbered to: lambda instances of typed Dataset operators
    * (`$$Lambda$7617/0x...@54250da2`, class number, address and hash),
    * UUIDs (part files, `Observation` names, Spark temp dirs), the random
    * suffix of a temp dir made under java.io.tmpdir, the RDD ids of pinned
    * scans, `plan_id=` exchange ids and `#n` expression ids. Group 1 is
    * kept, group 2 is the varying part. */
  private val runDependent: Seq[(scala.util.matching.Regex, String)] = Seq(
    "(\\$\\$Lambda)(\\$?\\d*/0x[0-9a-f]+@[0-9a-f]+)".r -> "-",
    "()([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})".r -> "uuid-",
    ("(" + java.util.regex.Pattern.quote(
      Paths.get(System.getProperty("java.io.tmpdir")).toString) +
      "/[\\w.-]*?)(\\d{8,})(?![\\w.-])").r -> "tmp-",
    "(RDD\\[)(\\d+)".r -> "",
    "(plan_id=)(\\d+)".r -> "",
    "(#)(\\d+)".r -> "")

  /** `plan` with every run-dependent name renumbered in first-appearance
    * order, one count per kind: the text then depends only on the plan,
    * not on the session's counters, random names or what ran before. */
  private[graft] def stablePlan(plan: String): String =
    runDependent.foldLeft(plan) { case (txt, (re, token)) =>
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(txt, m => scala.util.matching.Regex.quoteReplacement(
        m.group(1) + token + seen.getOrElseUpdate(m.group(2), seen.size)))
    }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  private def soakLine(head: String, finalKey: String,
                       r: IndexSoak.SoakReport): String =
    s"""{$head,"batches":${r.walls.size},""" +
      s""""idx_diff":${r.idxDiff},"map_diff":${r.mapDiff},""" +
      s""""persistent_rdds":${r.persistentRdds},"storage_bytes":${r.storageBytes},""" +
      s""""files_mid":${r.filesMid},"files_end":${r.filesEnd},""" +
      s""""$finalKey":${r.finalDocsN},"final_index_rows":${r.finalIndexRows},""" +
      s""""wall_med_first10_s":${f"${median(r.walls.take(10))}%.2f"},""" +
      s""""wall_med_last10_s":${f"${median(r.walls.takeRight(10))}%.2f"},""" +
      s""""walls_s":[${r.walls.map(w => f"$w%.2f").mkString(",")}]}"""

  /** The batch loop of both scale gates. Seeds `workDir/index` unless it
    * exists — a seeded index is reused across runs with other batch sizes,
    * since edits replace rows wholesale and it stays corpus-shaped — then
    * drives `nBatches` batches through the maintainer started on the
    * stream's `columns`. Returns `head(seed seconds)` followed by the
    * per-batch walls and MB read. */
  private def scaleRun[T: Encoder](spark: SparkSession, workDir: String,
                                   seed: => Unit, columns: Seq[String],
                                   maintain: DataFrame => StreamingQuery,
                                   nBatches: Int, batch: Int => Seq[T],
                                   head: Double => String): String = {
    val totals = new MetricTotals
    totals.attach(spark.sparkContext)
    val t0 = System.nanoTime()
    val index = new Path(s"$workDir/index")
    val fs = index.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(index)) seed
    fs.delete(new Path(s"$workDir/ckpt"), true)
    val seedS = (System.nanoTime() - t0) / 1e9
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[T]
    val q = maintain(input.toDF().toDF(columns: _*))
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    totals.drain() // the seed's last task ends must not land in batch 0
    try {
      for (b <- 0 until nBatches) {
        val rows = batch(b)
        val b0 = totals.inB.get(); val t1 = System.nanoTime()
        input.addData(rows: _*)
        q.processAllAvailable()
        walls += (System.nanoTime() - t1) / 1e9
        totals.drain()
        bytes += totals.inB.get() - b0
      }
    } finally q.stop()
    head(seedS) +
      s""""batch_walls_s":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
      s""""batch_read_mb":[${bytes.map(x => (x / 1e6).round).mkString(",")}],""" +
      s""""median_wall_s":${f"${median(walls.toSeq)}%.2f"},""" +
      s""""median_read_mb":${(median(bytes.toSeq.map(_.toDouble)) / 1e6).round}}"""
  }

  /** Winnow-index scale gate over the corpus `documents` table. */
  private def textScale(spark: SparkSession, sfDir: String, workDir: String,
                        keyBuckets: Int, nBatches: Int, batchSize: Int): String = {
    import spark.implicits._
    val docs = graft.queries.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpusN = docs.count()
    // constant-size edit batches: doc ids stride the corpus so every
    // batch touches distinct docs; text edits re-derive fingerprints
    val baseIds = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(nBatches * batchSize).collect().map(_.getLong(0))
    val texts = docs.join(baseIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    scaleRun[(Long, String)](spark, workDir,
      IndexSoak.seedWinnowIndex(docs, s"$workDir/index", keyBuckets = keyBuckets),
      Seq("doc_id", "text"),
      StreamingOps.maintainWinnowIndexAndFlag(_, s"$workDir/index",
        s"$workDir/flags", s"$workDir/ckpt", minShared = 2, keyBuckets = keyBuckets),
      nBatches,
      b => baseIds.slice(b * batchSize, (b + 1) * batchSize).toIndexedSeq
        .map(id => (id, texts(id) + s" edited in pass $b")),
      seedS => s"""{"mode":"scale","sf_dir":"$sfDir","corpus_docs":$corpusN,""" +
        s""""key_buckets":$keyBuckets,"batch_size":$batchSize,"seed_s":$seedS,""")
  }

  /** Media scale gate: a synthetic JPEG/AVI corpus of `corpusMedia` records
    * seeds the image or video-frame index; each batch re-encodes distinct
    * media with changed pixels, so every batch pays real decodes. */
  private def mediaScale(spark: SparkSession, workDir: String, kind: String,
                         keyBuckets: Int, nBatches: Int, batchSize: Int,
                         corpusMedia: Int): String = {
    import spark.implicits._
    val video = kind == "video"
    // distributed synthesis: payloads are a pure function of id
    def corpus = spark.range(0, corpusMedia).mapPartitions(_.map(id =>
      graft.llm.Multimodal.MediaRecord(id, IndexSoak.mediaPayload(id, 0, video),
        IndexSoak.mediaMime(video))))
    scaleRun[(Long, Array[Byte], String)](spark, workDir,
      IndexSoak.seedMediaIndex(corpus, s"$workDir/index", keyBuckets, video),
      Seq("media_id", "payload", "mime"),
      IndexSoak.mediaMaintainer(_, workDir, keyBuckets, video),
      nBatches,
      // stride the corpus so every batch re-encodes DISTINCT media
      b => (0 until batchSize)
        .map(j => ((b.toLong * batchSize + j) * 37) % corpusMedia).distinct
        .map(id => (id, IndexSoak.mediaPayload(id, b + 1, video),
          IndexSoak.mediaMime(video))),
      seedS => s"""{"mode":"mediaScale","kind":"$kind","corpus_media":$corpusMedia,""" +
        s""""key_buckets":$keyBuckets,"batch_size":$batchSize,"seed_s":${f"$seedS%.1f"},""")
  }
}

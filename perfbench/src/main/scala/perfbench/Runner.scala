package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eth.{Enrich, EthPipeline, EthTransforms, Ingest}

/** Runs one benchmark workload in one process, one caller thread, closed
  * loop: each operation starts when the previous one has returned.
  *
  * Arguments are `key=value` pairs, passed by `perfbench/run.py`. Every
  * measurement is printed as one line `PB<TAB><json>` on stdout; `run.py`
  * checks the outputs and computes the metrics. An operation that throws is
  * recorded with its error and counted as failed. */
object Runner {
  // The workload sizes are fixed, so a base and a change always run the
  // same operations; `run.py --seconds` only limits how long they may take.

  /** Blocks of each timed catch-up. */
  val CatchupBlocks = 2000
  /** Blocks of the set-up's warm catch-up. It ends mid-bucket, so the
    * warm tail batch after it merges. */
  val WarmCatchupBlocks = 1500
  /** Timed catch-ups, each into a fresh sink over its own stretch of the
    * chain; the catch-up figure is their median. */
  val Catchups = 3
  /** Blocks per sink file bucket (`Sinks`' default `fileBatchSize`). */
  val Bucket = 1000L
  /** Tail-follow step. Not a multiple of the buckets, so three of every
    * four batches merge into a half-filled bucket. */
  val TailStep = 250
  /** Timed tail batches: one cycle of a fresh bucket and three merges. */
  val TailBatches: Int = (Bucket / TailStep).toInt
  /** Untimed tail batches of the set-up: the first, a merge, is the
    * slowest cold one. The first timed merge is still slow; the median of
    * the timed cycle's three merges passes over it. */
  val WarmTailBatches = 1
  /** Untimed passes over the mix after the result pass of the set-up. */
  val WarmPasses = 1
  val TimedPasses = 5

  private val arg = scala.collection.mutable.Map[String, String]()
  private def str(k: String): String =
    arg.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))
  private def int(k: String): Int = str(k).toInt

  def emit(kind: String, fields: (String, Any)*): Unit = {
    println("PB\t" + Json(Map("type" -> kind) ++ fields))
    System.out.flush()
  }

  private var spark: SparkSession = _
  private var meter: Meter = _
  private var trace: Tracer = _

  /** Same session settings as `graft.Bench`. */
  private def startSession(cpus: Int): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    meter = new Meter(spark.sparkContext)
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def errorOf(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Release what a query pinned, so its storage does not squeeze the next
    * one (blocking, and outside every timed window). */
  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  def main(args: Array[String]): Unit = {
    args.foreach { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      arg(a.take(i)) = a.drop(i + 1)
    }
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    trace = new Tracer(() => spark.sparkContext, str("trace") == "1")
    str("workload") match {
      case "ingest_sync" => ingestSync(jvmStartMs)
      case "query_mix" => queryMix(jvmStartMs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace.enabled) {
      val path = java.nio.file.Paths.get(str("work"), "spans.json")
      java.nio.file.Files.write(path, Json(trace.records).getBytes("UTF-8"))
    }
    meter.detach()
    spark.stop()
    emit("end")
  }

  // ------------------------------------------------------------------ ingest

  /** Set-up: the session, then the timed calls at full size on a
    * throwaway sink, so the source, enrich, format, sink and merge code
    * paths have run before anything is timed: a catch-up, then a tail
    * batch (a merge). */
  private def ingestSetup(work: String, jvmStartMs: Long): Unit = {
    startSession(int("cpus"))
    val sink = s"$work/warm"
    val (_, s) = seconds(EthPipeline.ingestRange(spark, sink, 0, WarmCatchupBlocks - 1))
    emit("warm", "kind" -> "catchup", "s" -> s)
    (1 to WarmTailBatches).foreach { i =>
      val (_, s) = seconds(EthPipeline.resumeAndIngest(spark, sink,
        WarmCatchupBlocks - 1 + i * TailStep))
      emit("warm", "kind" -> "tail", "i" -> i, "s" -> s)
    }
    unpersistAll()
    settle()
    emit("setup", "s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
  }

  private def ingestSync(jvmStartMs: Long): Unit = {
    val work = str("work")
    ingestSetup(work, jvmStartMs)
    val seed = str("seed").toLong
    // seed -> bucket-aligned chain offset: a different stretch of the
    // synthetic chain (different hashes and per-block tx counts) per seed
    val off = 1000L * (1000L + Math.floorMod(seed, 1000L))
    val ranges = (0 until Catchups).map { i =>
      val lo = off + 10000L * i
      (lo, lo + CatchupBlocks - 1)
    }
    if (trace.enabled) stagedReplay(ranges.head._1, ranges.head._2)
    for (((lo, hi), i) <- ranges.zipWithIndex) {
      val before = meter.snap()
      val (rep, s) = seconds(trace("EthPipeline.ingestRange") {
        scala.util.Try(EthPipeline.ingestRange(spark, s"$work/sink$i", lo, hi))
      })
      val moved = meter.snap() - before
      emit("op", Seq("kind" -> "catchup", "i" -> i, "lo" -> lo, "hi" -> hi,
        "s" -> s) ++ report(rep) ++ moved.fields ++ sinkFiles(s"$work/sink$i"): _*)
      if (trace.enabled) emitJobs(s"catchup$i")
    }
    // tail-follow on the last catch-up's sink
    val sink = s"$work/sink${Catchups - 1}"
    val lo = ranges.last._1
    var tip = ranges.last._2
    // traced runs add a traced cycle after the plain one, so the difference
    // of their medians is the tracing overhead
    val batches = if (trace.enabled) 2 * TailBatches else TailBatches
    for (k <- 0 until batches) {
      val merge = (tip + 1) % Bucket != 0
      tip += TailStep
      val traced = k >= TailBatches
      val probe: Seq[(String, Any)] = if (!traced) Nil else {
        val b = meter.snap()
        val (_, ps) = seconds(trace("Ingest.maxIngestedBlock") {
          Ingest.maxIngestedBlock(spark.read.parquet(s"$sink/block"))
        })
        Seq("resume_s" -> ps, "resume_input_bytes" -> (meter.snap() - b).input)
      }
      if (traced) meter.take()
      val b = meter.snap()
      val (r, s) = seconds(
        if (traced) trace("EthPipeline.resumeAndIngest") { tail(sink, tip) }
        else tail(sink, tip))
      val moved = meter.snap() - b
      emit("op", Seq("kind" -> "tail", "i" -> k, "traced" -> traced,
        "tip" -> tip, "merge" -> merge, "s" -> s) ++ report(r) ++ probe ++ moved.fields: _*)
      if (traced) emitJobs(s"tail$k")
    }
    emit("sink_totals", Seq("lo" -> lo, "hi" -> tip) ++
      Seq("block", "transaction", "log", "trace").map(t =>
        t -> scala.util.Try(spark.read.parquet(s"$sink/$t").count()).getOrElse(-1L)): _*)
  }

  /** Collect garbage left by the set-ups before timing starts, so its
    * collection is not billed to the first timed operation. */
  private def settle(): Unit = { System.gc(); Thread.sleep(500) }

  private def tail(sink: String, tip: Long) = scala.util.Try(
    EthPipeline.resumeAndIngest(spark, sink, tip)
      .getOrElse(throw new IllegalStateException(s"nothing to ingest up to $tip")))

  private def report(r: scala.util.Try[EthPipeline.IngestReport]): Seq[(String, Any)] =
    r.fold(e => Seq("error" -> errorOf(e)), rep => Seq(
      "start" -> rep.startBlock, "end" -> rep.endBlock, "counts" -> rep.rowCounts))

  /** Parquet files and bytes under a sink, from the file system. */
  private def sinkFiles(sink: String): Seq[(String, Any)] = {
    val files = {
      val p = java.nio.file.Paths.get(sink)
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val st = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).toList
        } finally st.close()
      }
    }
    Seq("files_written" -> files.size,
      "bytes_written" -> files.map(f => java.nio.file.Files.size(f)).sum)
  }

  private def emitJobs(scope: String): Unit = {
    val (jobs, execs) = meter.take()
    jobs.foreach(j => emit("job", "scope" -> scope, "id" -> j.id,
      "site" -> j.site, "exec" -> j.exec, "span" -> j.span,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.tasks.get,
      "input_bytes" -> j.input.get, "shuffle_read_bytes" -> j.shuffleRead.get))
    execs.foreach(x => emit("exec", "scope" -> scope, "id" -> x.id,
      "site" -> x.site, "start_ms" -> x.startMs, "end_ms" -> x.endMs))
  }

  /** Staged replay of the catch-up range through the public calls
    * `EthPipeline.ingestRange` makes, each stage drained with a row count:
    * source streams alone, then with the receipt/timestamp enrichment,
    * then formatted. The sink write is the timed catch-up that follows;
    * each layer's time is the increment over the stage before it. */
  private def stagedReplay(lo: Long, hi: Long): Unit = {
    def read(stream: String): DataFrame = spark.read.format("graft-chain")
      .option("stream", stream).option("start", lo).option("end", hi)
      .option("batchSize", 50L).load()
    def enriched(): DataFrame = {
      val receipts = read("receipt").drop("type").select(
        col("transaction_hash"),
        col("cumulative_gas_used").as("receipt_cumulative_gas_used"),
        col("gas_used").as("receipt_gas_used"),
        col("contract_address").as("receipt_contract_address"),
        col("status").as("receipt_status"))
      Enrich.withBlockTimestamp(
        Enrich.enrichTransactions(read("transaction"),
          receipts.dropDuplicates("transaction_hash"), txHashCol = "hash",
          requireReceipt = false, checkDuplicates = false),
        read("block").select(col("number").as("block_number"), col("timestamp")),
        blockIdCol = "block_number")
    }
    def stage(name: String, frames: => Seq[DataFrame]): Unit = {
      val b = meter.snap()
      val (rows, s) = seconds(trace(name) {
        frames.map(_.queryExecution.toRdd.count()).sum
      })
      emit("stage", Seq("name" -> name, "s" -> s, "rows" -> rows) ++
        (meter.snap() - b).fields: _*)
    }
    stage("sources", Seq("block", "transaction", "receipt", "log", "trace").map(read))
    stage("enrich", Seq(read("block"), enriched(), read("log"), read("trace")))
    stage("format", Seq(
      EthTransforms.formatBlocks(read("block")),
      EthTransforms.formatTransactions(enriched()).withColumn("block_id_group",
        graft.functions.ColumnFns.blockIdGroup(col("block_id"))),
      EthTransforms.formatLogs(read("log")),
      EthTransforms.formatTraces(read("trace"))))
    meter.take()
  }

  // ----------------------------------------------------------------- queries

  private def queryMix(jvmStartMs: Long): Unit = {
    val data = str("data"); val out = s"${str("work")}/out"
    // the mix, in order, from run.py
    val mix = str("queries").split(",").toSeq
    val missing = mix.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    startSession(int("cpus"))
    // set-up, first the result pass: each query once, its result written in
    // graft.Verify's layout (out/<query>/ parquet, oracle_sql.json,
    // spark_schemas.json) for the project's oracle gate, tools/check.py
    val schemas = mix.map { q =>
      val r = scala.util.Try {
        val df = graft.SparkEntry.queries(q)(spark, data)
        val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        (schema, spark.read.parquet(s"$out/$q").count())
      }
      unpersistAll()
      emit("result", Seq("name" -> q) ++ r.fold(e => Seq("error" -> errorOf(e)),
        { case (_, rows) => Seq("rows" -> rows) }): _*)
      q -> r.map(_._1).getOrElse("")
    }
    def writeJson(file: String, m: Map[String, String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(out, file), Json(m).getBytes("UTF-8"))
    writeJson("oracle_sql.json", mix.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
    writeJson("spark_schemas.json", schemas.toMap)
    // then untimed passes, so the timed ones start warm
    val order = new Random(str("seed").toLong).shuffle(mix)
    for (pass <- 0 until WarmPasses; q <- order) {
      val (_, s) = seconds(scala.util.Try(
        graft.SparkEntry.queries(q)(spark, data).queryExecution.toRdd.count()))
      unpersistAll()
      emit("warm", "name" -> q, "pass" -> pass, "s" -> s)
    }
    settle()
    emit("setup", "s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3)
    for (pass <- 0 until TimedPasses) {
      // traced runs alternate plain and traced passes (tracing overhead)
      val traced = trace.enabled && pass % 2 == 1
      order.foreach(q => if (traced) tracedQuery(q, pass, data) else plainQuery(q, pass, data))
    }
  }

  private def plainQuery(q: String, pass: Int, data: String): Unit = {
    val (r, s) = seconds(scala.util.Try(
      graft.SparkEntry.queries(q)(spark, data).queryExecution.toRdd.count()))
    unpersistAll()
    emit("op", Seq("kind" -> "query", "name" -> q, "pass" -> pass,
      "traced" -> false, "s" -> s) ++ r.fold(e => Seq("error" -> errorOf(e)),
      n => Seq("rows" -> n)): _*)
  }

  /** One query split at its phase boundaries: DataFrame construction (which
    * may run eager pins and collects), Catalyst (analysis already happened
    * during construction; optimization and physical planning happen when
    * the executed plan is forced), and execution. */
  private def tracedQuery(q: String, pass: Int, data: String): Unit = {
    val sc = spark.sparkContext
    val pinned0 = sc.getPersistentRDDs.keySet
    val c0 = meter.snap()
    val t0 = System.nanoTime()
    val out = scala.util.Try {
      trace(s"query:$q") {
        val (df, construct) = seconds(trace("construct") {
          graft.SparkEntry.queries(q)(spark, data)
        })
        val c1 = meter.snap()
        val qe = df.queryExecution
        val (_, plan) = seconds(trace("catalyst") { qe.executedPlan })
        val c2 = meter.snap()
        val (rows, execute) = seconds(trace("execute") { qe.toRdd.count() })
        val c3 = meter.snap()
        val phases = qe.tracker.phases.map { case (k, v) => s"${k}_ms" -> v.durationMs }
        val pins = sc.getPersistentRDDs.keySet -- pinned0
        val retained = sc.getRDDStorageInfo.filter(i => pins.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum
        Seq("rows" -> rows, "construct_s" -> construct, "plan_s" -> plan,
          "execute_s" -> execute, "pins_count" -> pins.size,
          "pins_retained_bytes" -> retained) ++ phases.toSeq ++
          (c1 - c0).fields.map { case (k, v) => s"construct_$k" -> v } ++
          (c2 - c1).fields.map { case (k, v) => s"catalyst_$k" -> v } ++
          (c3 - c2).fields.map { case (k, v) => s"execute_$k" -> v }
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    unpersistAll()
    meter.take()
    emit("op", Seq("kind" -> "query", "name" -> q, "pass" -> pass,
      "traced" -> true, "s" -> s) ++ out.fold(e => Seq("error" -> errorOf(e)),
      identity): _*)
  }
}

/** Minimal JSON encoder for the record lines. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

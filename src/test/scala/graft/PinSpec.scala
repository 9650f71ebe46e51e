package graft

import org.apache.spark.LocalBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.llm.Classifier
import graft.operators.{ConnectedComponents, Graph}
import graft.streaming.StreamingOps

/** The pin primitive: every pin in `src/main` goes through [[Pin]], and the
  * iterative operators and streaming maintainers release what they no
  * longer read. Pins are counted by the session's persisted RDD ids. */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs `body` leaves behind that were not there before it.
    * Driver GC also drops a pin once its frame is unreachable, so a
    * poller holds every RDD persisted meanwhile: only an explicit release
    * can then remove one, and the count does not depend on GC timing. A
    * pin is persisted for at least its own job, far longer than a poll. */
  private def pinsAdded(body: => Any): Int = {
    val sc = spark.sparkContext
    val before = persisted()
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() => while (running.get) {
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id)) held.putIfAbsent(id, rdd)
      }
      Thread.sleep(1)
    })
    poller.start()
    try body
    finally { running.set(false); poller.join() }
    (persisted() -- before).size
  }

  private def rddId(pin: DataFrame): Int =
    pin.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  test("source lock: localCheckpoint is called only inside Pin.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filter(_.getName != "Pin.scala")
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") => s"${f.getPath}:${i + 1}"
        }.toList
        finally src.close()
      }
    assert(offenders.isEmpty, s"pin through graft.Pin instead: ${offenders.mkString(", ")}")
  }

  test("Pin.rounds: pagerank over five rounds keeps its two prologue pins plus the last round") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    var ranks: DataFrame = null
    assert(pinsAdded { ranks = Graph.pagerank(edges, iters = 5) } == 3)
    // the surviving pin is the one the result reads
    assert(ranks.count() == 4L)
  }

  test("Pin.rounds: eigencentrality over five rounds frees each round's inner pin") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    var cm: DataFrame = null
    // the two prologue pins (edges, nodes) plus the last round; each
    // round's `sums` pin is freed once its round is materialized
    assert(pinsAdded { cm = Graph.eigencentrality(edges, rounds = 5) } == 3)
    assert(cm.count() == 4L)
  }

  test("Pin.rounds: logisticTrain over five rounds keeps its two prologue pins plus the last round") {
    val features = Seq((1L, 0L, 1L), (1L, 1L, 2L), (2L, 1L, 1L), (3L, 2L, 3L))
      .toDF("doc_id", "feature_idx", "x")
    val labels = Seq((1L, 1L), (2L, 0L), (3L, 1L)).toDF("doc_id", "y")
    var w: DataFrame = null
    // the feature and label projections plus the last round's weights;
    // the zero weights and every earlier round are freed
    assert(pinsAdded { w = Classifier.logisticTrain(features, labels, rounds = 5) } == 3)
    assert(w.count() == 3L)
  }

  test("ConnectedComponents.run on a long chain keeps two pins, whatever the round count") {
    // a 12-node path labels its far end only after 11 rounds (plus one to
    // see the fixpoint)
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    var labels: DataFrame = null
    assert(pinsAdded { labels = ConnectedComponents.run(chain, "src", "dst") } == 2)
    assert(labels.select("component").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("Pin.scope: a mutable-index maintainer frees every batch pin it makes") {
    val root = java.nio.file.Files.createTempDirectory("graft_pin_scope").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val added = pinsAdded {
      val q = StreamingOps.maintainExactDupIndexAndFlag(
        input.toDF().toDF("doc_id", "text"),
        s"$root/index", s"$root/flags", s"$root/ckpt", keyBuckets = 4)
      try {
        Seq(Seq((1L, "alpha"), (2L, "beta")), Seq((3L, "alpha"), (1L, "gamma")),
            Seq((4L, "beta"), (2L, "delta"))).foreach { batch =>
          input.addData(batch: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    assert(added == 0, s"$added pins outlived their micro-batch")
    // the batches did run: four docs, one content-key row each
    assert(spark.read.parquet(s"$root/index").count() == 4L)
  }

  test("Pin.scope: pagerank's frame, written inside a scope, leaves no persistent RDD") {
    // Verify's per-query shape: build and write inside one scope, which
    // also frees the operator's prologue pins (edges and nodes)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = java.nio.file.Files.createTempDirectory("graft_pin_write").toString
    assert(pinsAdded {
      Pin.scope(Graph.pagerank(edges, iters = 5).write.mode("overwrite").parquet(out))
    } == 0)
    assert(spark.read.parquet(out).count() == 4L)
  }

  test("Bench: one timed pass of a pin-heavy row leaves no persistent RDD and no pinned block before the guard runs") {
    val sc = spark.sparkContext
    val sf = "/root/testdata/sf0.001"
    val fn = SparkEntry.queries("graph_pagerank")
    // the row pins: built and run outside a scope, its pins and their
    // blocks stay
    val outside = sc.emptyRDD[Int].id
    val before = persisted()
    assert(pinsAdded(fn(spark, sf).queryExecution.toRdd.count()) > 0)
    assert(LocalBlocks.rddIdsAbove(outside).nonEmpty)
    (persisted() -- before).foreach(id => sc.getPersistentRDDs(id).unpersist(true))
    // Bench's pass frees them itself, and its blocks are out of the store
    // the moment it returns (an unpersist that is only issued leaves their
    // removal to run during the next timed pass); a timed Right comes back
    val mark = sc.emptyRDD[Int].id
    var pass: Either[String, Double] = Left("not run")
    var left = Set.empty[Int]
    assert(pinsAdded { pass = Bench.timedPass(spark, sf, fn); left = LocalBlocks.rddIdsAbove(mark) } == 0)
    assert(left.isEmpty, s"blocks of RDDs $left outlive the pass")
    assert(pass.exists(_ > 0.0), pass)
  }

  test("Pin.blockingScope: a pin's blocks are out of the store when the scope returns") {
    val mark = spark.sparkContext.emptyRDD[Int].id
    var pin: DataFrame = null
    // many partitions, many blocks: an unpersist that is only issued is
    // still removing them when the scope returns
    Pin.blockingScope { pin = Pin(spark.range(0, 20000, 1, 400).toDF()) }
    val left = LocalBlocks.rddIdsAbove(mark)
    assert(left.isEmpty, s"blocks of RDDs $left outlive the scope")
    assert(!persisted().contains(rddId(pin)))
  }

  test("Pin.scope frees pins made on its own thread only, also when its body throws") {
    var mine: DataFrame = null
    var other: DataFrame = null
    val err = intercept[IllegalStateException] {
      Pin.scope {
        mine = Pin(spark.range(5).toDF())
        val t = new Thread(() => other = Pin(spark.range(10).toDF()))
        t.start()
        t.join()
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(!persisted().contains(rddId(mine)), "the scope's own pin must be released")
    assert(persisted().contains(rddId(other)), "another thread's pin must survive the scope")
    assert(other.count() == 10L)
    Pin.release(other)
    assert(!persisted().contains(rddId(other)))
  }
}

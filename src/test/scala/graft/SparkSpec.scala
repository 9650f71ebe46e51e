package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM per `sbt test` run). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkEntry.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Waits until every listener event posted so far has been delivered
    * (the bus is asynchronous; its flush is package-private to Spark). */
  protected def flushListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Spark jobs started while `body` runs. */
  protected def jobsStartedBy(body: => Any): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    flushListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try { body; flushListenerBus() }
    finally spark.sparkContext.removeSparkListener(listener)
    started.get
  }

  /** The SQL executions `body` runs, in order. Listener events arrive
    * asynchronously but in posting order, so a marker action run before
    * and after `body` brackets exactly its executions. */
  protected def executionsOf(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    def until(marker: QueryExecution): Seq[QueryExecution] = {
      val out = Seq.newBuilder[QueryExecution]
      var qe = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (qe != null && (qe ne marker)) {
        out += qe
        qe = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(qe != null, "marker execution never reported")
      out.result()
    }
    def mark(): QueryExecution = {
      val m = spark.range(1); m.collect(); m.queryExecution
    }
    spark.listenerManager.register(listener)
    try {
      until(mark())
      body
      until(mark())
    } finally spark.listenerManager.unregister(listener)
  }

  /** The pins (`LogicalRDD` leaves: localCheckpoint or an RDD-backed
    * frame) the optimized plans of `execs` read. */
  protected def pinsIn(execs: Seq[org.apache.spark.sql.execution.QueryExecution])
      : Seq[org.apache.spark.sql.execution.LogicalRDD] =
    execs.flatMap(_.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    })
}

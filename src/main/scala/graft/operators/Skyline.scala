package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** Skyline (Pareto-frontier) query (Börzsönyi et al. 2001): the rows not
  * dominated by any other row — `s` dominates `r` iff `s.x <= r.x` and
  * `s.y <= r.y` with at least one strict. The multi-criteria "best
  * trade-offs" operator (cheapest-with-best-discount, shortest-with-
  * highest-quality) that no single ORDER BY can express.
  *
  * Phases, all relational:
  *   1. BROADCAST PRUNE: pick the row minimizing `x + y` (any point on
  *      the frontier's "knee"); every row it strictly dominates — the
  *      entire upper-right quadrant — dies in one codegen'd filter
  *      against a 1-row broadcast. On non-adversarial distributions this
  *      removes almost everything, leaving the thin L-band around the
  *      frontier.
  *   2. DISTRIBUTED SWEEP (the local-skyline-then-merge algebra,
  *      skyline(P₁ ∪ P₂) = skyline(skyline(P₁) ∪ skyline(P₂)),
  *      specialized to contiguous x-slices where the merge is a prefix
  *      min): range-shuffle survivors on `x` (ties colocate — the
  *      range partitioner assigns by key — so every row in an earlier
  *      partition has STRICTLY smaller x than every row in a later
  *      one; an eager localCheckpoint pins the slicing for both
  *      consumers). Per slice, ONE window (partitioned by
  *      `spark_partition_id`, so never a single task) evaluates two
  *      frames over the x order: the strict running min
  *      (RANGE … 1 PRECEDING) and the inclusive running min
  *      (RANGE … CURRENT). Cross-slice dominance folds into a
  *      per-slice min-y aggregate (≤ nParts rows) whose prefix min
  *      broadcasts back. A row is on the frontier iff
  *        y <  least(strict-local-min, prefix-min)   (no strictly-left
  *                                                    point at-or-below)
  *        y <= least(incl-local-min,  prefix-min)    (⟺ y is its own
  *                                                    x-group's min)
  *      Duplicate (x, y) points all survive (neither dominates the
  *      other), the standard value-skyline convention — exactly the
  *      single-sweep semantics, now with no unpartitioned corpus window
  *      even for adversarial anti-chain inputs.
  *
  * Both criteria are MINIMIZED; negate a column to maximize it. Integer
  * columns required (the RANGE frames and exact compares depend on it).
  */
object Skyline {

  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val p0 = df
      .orderBy(col(xCol) + col(yCol), col(xCol))
      .limit(1)
      .select(col(xCol).as("__px"), col(yCol).as("__py"))
    val pruned = df.crossJoin(broadcast(p0))
      .filter(!(col(xCol) >= col("__px") && col(yCol) >= col("__py")
        && (col(xCol) > col("__px") || col(yCol) > col("__py"))))
      .drop("__px", "__py")
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val sliced = Pin(pruned.repartitionByRange(nParts, col(xCol))
      .withColumn("__pid", spark_partition_id()))
    val bySlice = Window.partitionBy(col("__pid")).orderBy(col(xCol))
    val strictMin = bySlice.rangeBetween(Window.unboundedPreceding, -1)
    val inclMin = bySlice.rangeBetween(Window.unboundedPreceding, 0)
    // per-slice min y → prefix min of STRICTLY-EARLIER slices: the whole
    // cross-slice merge, dimension-sized by construction
    val prefix = sliced.groupBy(col("__pid")).agg(min(col(yCol)).as("__pm"))
      .withColumn("__pre", min(col("__pm")).over(
        Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__pid"), col("__pre"))
    sliced.join(broadcast(prefix), Seq("__pid"))
      .withColumn("__mp", least(min(col(yCol)).over(strictMin), col("__pre")))
      .withColumn("__mi", least(min(col(yCol)).over(inclMin), col("__pre")))
      .filter((col("__mp").isNull || col(yCol) < col("__mp"))
        && col(yCol) <= col("__mi"))
      .drop("__pid", "__pre", "__mp", "__mi")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Connected components over an edge list — the clustering step that turns
  * verified near-duplicate PAIRS into duplicate GROUPS (pick one survivor
  * per component). Spark has no built-in; this is iterative min-label
  * propagation:
  *
  *   label(v) := min(label(v), min over neighbors u of label(u))
  *
  * repeated until a fixpoint. Each iteration is one shuffle join (labels ⋈
  * edges) plus one aggregation; the driver loop carries only ONE long per
  * iteration (the label-sum convergence check — labels only ever decrease,
  * so an unchanged sum IS the fixpoint, no row-wise diff join needed).
  * Each round's labels are pinned ([[graft.Pin]]), which truncates the
  * growing lineage, and the previous round's pin is released.
  *
  * Converges in O(diameter) iterations. Near-dup components are tiny
  * (pairs/triples), so 2-3 rounds in practice; long-diameter graphs take
  * [[runStarContraction]] (large-star/small-star, Kiveris et al.): the same
  * join-aggregate shape with a different update rule, in O(log n) rounds.
  */
object ConnectedComponents {

  /** @return one row per node: (node, component) where component is the
    *         smallest node id reachable from it. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          maxIter: Int = 15): DataFrame = {
    // both directions from ONE evaluation of the (possibly expensive) edge
    // plan: a union of two selects would run it twice before the checkpoint
    val sym = Pin(edges
      .select(explode(array(
        struct(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b")),
        struct(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b"))))
        .as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))) // reused every iteration: pin it once

    // the seed IS round 1, one aggregate over sym: every node takes the
    // least of itself and its neighbours. Its Observation carries the
    // identity labels' sum (one group per node) for round 1's convergence
    // check, and the node count: 0 = an empty edge list, whose labeling
    // is empty
    val seed = new org.apache.spark.sql.Observation()
    var labels = Pin(sym.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("component"))
      .select(col("a").as("node"), col("component"))
      .observe(seed, count(lit(1)).as("n"), sum(col("node")).as("node_sum"),
        sum(col("component")).as("label_sum")))
    def long(o: org.apache.spark.sql.Observation, k: String): Long =
      o.get(k).asInstanceOf[Number].longValue()
    if (long(seed, "n") == 0L) return labels
    var prevSum = long(seed, "label_sum")

    var i = 1
    var converged = prevSum == long(seed, "node_sum")
    while (i < maxIter && !converged) {
      // labels flowing across edges: b's label arrives at a
      val incoming = sym.join(labels, sym("b") === labels("node"))
        .select(sym("a").as("node"), col("component"))
      // the convergence sum rides an Observation on the checkpoint's own
      // evaluation — one job per iteration, not a checkpoint job plus a
      // separate aggregate job over the checkpointed data
      val obs = new org.apache.spark.sql.Observation()
      val updated = Pin(labels.select(col("node"), col("component"))
        .union(incoming)
        .groupBy(col("node")).agg(min(col("component")).as("component"))
        .observe(obs, sum(col("component")).as("label_sum")))
      val newSum = long(obs, "label_sum")
      Pin.release(labels) // superseded by the materialized update
      labels = updated
      converged = newSum == prevSum // labels are monotone non-increasing
      prevSum = newSum
      i += 1
    }
    // a silent partial labeling would split components (and, downstream,
    // keep redundant near-duplicates) — refuse to return one
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter iterations — " +
        "graph diameter exceeds maxIter; raise it or use " +
        "runStarContraction for long-chain graphs")
    labels
  }

  /** Alternating large-star / small-star connected components (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond") — the
    * long-diameter upgrade over [[run]]: O(log n) rounds instead of
    * O(diameter), because each round HALVES chains by pointing every node
    * at its neighborhood minimum rather than propagating labels one hop.
    *
    * Each round is the same admissible plan shape as a [[run]] iteration —
    * a fixed-width groupBy(node) min-aggregate plus one equi-join back to
    * the (shrinking) edge list, a per-round pin truncating lineage — and
    * the driver carries only the convergence observations. Convergence is
    * detected by a cheap monotone signature (edge count + id sums) and
    * then PROVEN before returning: the final labeling must label every
    * node and be constant across every original edge — a partial or split
    * labeling cannot escape.
    */
  def runStarContraction(edges: DataFrame, srcCol: String, dstCol: String,
                         maxIter: Int = 30): DataFrame = {
    val symAll = Pin(edges
      .select(explode(array(
        struct(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b")),
        struct(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b"))))
        .as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b")))
    // the node set keeps self-loop-only nodes (they label themselves, as
    // in [[run]]); only the EDGE set drops the degenerate self-edges
    val nodes = Pin(symAll.select(col("a").as("node")).distinct())
    val sym0 = Pin(symAll.filter(col("a") =!= col("b")))
    Pin.release(symAll)
    if (nodes.isEmpty) return nodes.withColumn("component", col("node"))

    // large-star: every neighbor u > v points to m(v) = min(Γ(v) ∪ {v})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(explode(array(
          struct(col("a"), col("b")), struct(col("b").as("a"), col("a").as("b"))))
          .as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
      val m = sym.groupBy(col("a")).agg(min(col("b")).as("__mb"))
        .select(col("a"), least(col("a"), col("__mb")).as("__m"))
      sym.join(m, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("__m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    // small-star: v and its smaller neighbors all point to their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val canon = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val m = canon.groupBy(col("a")).agg(min(col("b")).as("__m"))
      canon.join(m, "a")
        .select(col("b").as("a"), col("__m").as("b"))
        .union(m.select(col("a"), col("__m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }

    def labelsOf(e: DataFrame): DataFrame = {
      // min-aggregate: exactly one row per node even if the edge set is
      // mid-contraction (a node briefly holds two parents)
      val parents = e.select(greatest(col("a"), col("b")).as("node"),
          least(col("a"), col("b")).as("component"))
        .groupBy(col("node")).agg(min(col("component")).as("component"))
      nodes.join(parents, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("component"))
    }
    // sound acceptance: total labeling, constant across every original edge
    def isValid(lab: DataFrame): Boolean = {
      val l = lab.select(col("node"), col("component"))
      val viol = sym0
        .join(l.withColumnRenamed("node", "a").withColumnRenamed("component", "ca"), "a")
        .join(l.withColumnRenamed("node", "b").withColumnRenamed("component", "cb"), "b")
        .filter(col("ca") =!= col("cb")).limit(1).count()
      viol == 0L
    }

    var e = Pin(sym0.filter(col("a") > col("b")).distinct())
    var prevSig: (Long, Long, Long) = null
    var i = 0
    while (i < maxIter) {
      val obs = new org.apache.spark.sql.Observation()
      val next = Pin(smallStar(largeStar(e))
        .observe(obs, count(lit(1)).as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb")))
      def num(k: String) = Option(obs.get(k).asInstanceOf[Number])
        .map(_.longValue()).getOrElse(0L)
      val sig = (num("n"), num("sa"), num("sb"))
      Pin.release(e)
      e = next
      if (sig == prevSig) { // stable signature -> prove, don't trust
        val lab = labelsOf(e)
        if (isValid(lab)) return lab
      }
      prevSig = sig
      i += 1
    }
    val lab = labelsOf(e)
    if (isValid(lab)) lab
    else throw new IllegalStateException(
      s"star contraction did not converge in $maxIter rounds")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Graph analytics over a weighted edge list — the graphsense-downstream
  * primitives the reference's exported tables feed (reference context:
  * `graphsense-ethereum-etl` produces the raw blocks/txs/traces that the
  * GraphSense platform turns into an ADDRESS GRAPH; the platform-side
  * operators are importance ranking and multi-hop flow over that graph).
  * Node ids are opaque longs — an address dictionary (address → long id,
  * the standard graphsense encoding) plugs in upstream without changing
  * the operators.
  *
  * Both operators are pure DataFrame programs in the same admissible
  * shapes as [[ConnectedComponents]]: per-iteration cost is one equi-join
  * shuffle on the node id plus one fixed-width aggregate with map-side
  * combine; driver state is zero (fixed iteration count); each round's
  * frame is pinned ([[graft.Pin.rounds]]), which truncates lineage, and
  * the previous round's pin is released. All rank arithmetic is
  * integer micro-units with truncating division of non-negative operands
  * (Spark `div` ≡ DuckDB `//` there), so results are bit-deterministic
  * across engines, retries, and partitionings.
  */
object Graph {

  /** Weighted PageRank with a FIXED iteration count — the address-
    * importance ranking of a money-flow graph. Multi-edges are collapsed
    * first (`groupBy(src, dst) → sum(weight)`); each node then splits its
    * rank across out-edges proportional to edge weight:
    *
    *   contrib(u→v) = (rank_micro(u) * w(u→v)) div out_w(u)
    *   rank'_micro(v) = (1000 - dampMilli)·1000 + (dampMilli · Σ contrib) div 1000
    *
    * Dangling-node mass evaporates (the classic simplification — total
    * mass shrinks, relative order is what the ranking serves). The fixed
    * iteration count is the production form at 100 TB: convergence-test
    * loops cost a driver round-trip per check, while k iterations of
    * power-method PageRank is the documented, budgetable contract
    * (3 iterations separates hubs from leaves; 10+ approaches the
    * stationary distribution).
    *
    * Scale shape: the edge list (with its out-weight denormalized on) is
    * pinned ONCE and re-joined each round — at 1000 executors both sides
    * hash-partition on the join key, and the per-round aggregate is
    * map-side-combined on dst with cardinality |V|, never |E|. Returns
    * one row per node: (node, rank_micro). */
  def pagerank(edges: DataFrame, iters: Int = 3, dampMilli: Long = 850,
               srcCol: String = "src", dstCol: String = "dst",
               weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampMilli >= 0 && dampMilli <= 1000,
      s"dampMilli must be in [0, 1000], got $dampMilli")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    // zero/negative collapsed weights are dropped: they carry no flow, and
    // keeping them would divide by a zero (or negative) out-weight sum —
    // silently nulling contributions instead of failing loudly
    val ew = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0)
    val outw = ew.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // reused every iteration: pin the joined edge+denominator table once
    val e = Pin(ew.join(outw, "src"))
    val nodes = Pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())

    val base = (1000L - dampMilli) * 1000L
    Pin.rounds(nodes.withColumn("rank_micro", lit(1000000L)), iters) { (ranks, _) =>
      val sums = ranks.join(e, ranks("node") === e("src"))
        .select(col("dst"), expr("(rank_micro * w) div ow").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__m"))
      nodes.join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(coalesce(__m, 0) * $dampMilli) div 1000"))
            .as("rank_micro"))
    }
  }

  /** Seeded (semi-supervised) label spreading — the classification twin
    * of LPA community detection: a small labeled seed set pushes labels
    * along weighted edges for a FIXED round count; every other node takes
    * the label with the maximum incoming labeled mass (ties to the
    * smaller label), seeds stay clamped. The entity-resolution /
    * address-tagging primitive: "these 50 addresses are exchanges — who
    * else behaves like one?".
    *
    * Determinism: the per-round vote is an integer weight sum and the
    * argmax is a min over the (−mass, label) struct semilattice — no
    * order dependence; fixed rounds, zero driver state.
    * Scale shape: per round ONE equi-join of the current label frontier
    * against the pinned edge list + one map-side-combined (dst, label)
    * aggregate — label cardinality bounds the combine width.
    * Returns (node, label, labeled_round). */
  def labelSpread(edges: DataFrame, seeds: DataFrame, rounds: Int = 2,
                  srcCol: String = "src", dstCol: String = "dst",
                  weightCol: Option[String] = None,
                  seedNodeCol: String = "node",
                  seedLabelCol: String = "label"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val wc = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val ew = Pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), wc.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0))
    val seed = seeds.select(col(seedNodeCol).cast("long").as("node"),
      col(seedLabelCol).cast("long").as("label"), lit(0L).as("labeled_round"))
    Pin.rounds(seed, rounds) { (labels, r) =>
      val votes = labels.join(ew, labels("node") === ew("src"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("__m"))
      val picked = votes
        .groupBy(col("dst"))
        .agg(min(struct((col("__m") * -1L).as("__neg"), col("label"))).as("__b"))
        .select(col("dst").as("node"), col("__b.label").as("label"),
          lit(r + 1L).as("labeled_round"))
      labels.unionAll(
        picked.join(labels.select(col("node")), Seq("node"), "left_anti"))
    }
  }

  /** Deterministic weighted random walks — the DeepWalk/node2vec corpus
    * generator (walk sequences ARE the training sentences for graph
    * embeddings): one walk starts at every node and takes `steps`
    * weighted picks. "Randomness" is a hash stream, not an RNG: step t of
    * walker v picks the out-edge whose cumulative-weight interval covers
    * `md5(walker:t) mod out_w + 1` — reproducible across engines,
    * retries, and partitionings (the same discipline as the hash split),
    * and replayable as plain SQL. Walks that reach a sink simply end
    * (their later steps emit nothing).
    *
    * Scale shape: the per-src cumulative weights ride a window PARTITIONED
    * by src (bounded by out-degree, never global); each step is ONE
    * equi-join of the walk frontier against the pinned cumulative edge
    * table plus a range filter that keeps exactly one edge per walk.
    * Returns (walker, step, node), step 0 = the start. */
  def randomWalks(edges: DataFrame, steps: Int = 3,
                  srcCol: String = "src", dstCol: String = "dst",
                  weightCol: Option[String] = None): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val wc = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val ew = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), wc.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0)
    val perSrc = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val ec = Pin(ew
      .withColumn("cw", sum(col("w")).over(perSrc.orderBy(col("dst"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("ow", sum(col("w")).over(perSrc)))
    val nodes = ec.select(col("src").as("node"))
      .union(ec.select(col("dst").as("node"))).distinct()
    var frontier = nodes.select(col("node").as("walker"), col("node").as("cur"))
    var acc = frontier.select(col("walker"), lit(0L).as("step"),
      col("cur").as("node"))
    var t = 1
    while (t <= steps) {
      val r = graft.functions.ColumnFns.md5Long(
        concat_ws(":", col("walker"), lit(t))) % col("ow") + 1
      frontier = frontier.join(ec, frontier("cur") === ec("src"))
        .filter(col("cw") - col("w") < r && r <= col("cw"))
        .select(col("walker"), col("dst").as("cur"))
      acc = acc.unionAll(frontier.select(col("walker"),
        lit(t.toLong).as("step"), col("cur").as("node")))
      t += 1
    }
    acc
  }

  /** Eigenvector centrality by FIXED-round power iteration — the
    * undamped sibling of [[pagerank]]: r'(v) = Σ_{u→v} w(u,v)·r(u), no
    * teleport, no out-degree normalization, renormalized onto the ±1e6
    * integer grid by the round's max in-flow (a 1-row broadcast — the
    * same discipline as the embedding-side power iteration, so every
    * round is bit-deterministic: DECIMAL(38,0) flow sums, one truncating
    * divide). Prestige flows to nodes fed by already-central nodes;
    * unlike PageRank a leaf feeding one hub contributes its full weight.
    * Nodes with no in-flow read 0.
    *
    * Scale shape: identical to [[pagerank]] — the collapsed edge list is
    * pinned once, each round is one hash join on src + one map-side-
    * combined aggregate on dst (cardinality |V|), plus a 1-row max.
    * Returns (node, centrality_micro). */
  def eigencentrality(edges: DataFrame, rounds: Int = 2,
                      srcCol: String = "src", dstCol: String = "dst",
                      weightCol: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val ew = Pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0))
    val nodes = Pin(ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node")))
      .distinct())
    Pin.rounds(nodes.withColumn("cm", lit(1000000L)), rounds) { (r, _) =>
      // pinned: both the 1-row max and the update join read `sums`; an
      // unpinned plan would run the round's dominant join+aggregate TWICE
      // (measured at the 10x scale gate before this checkpoint)
      val sums = Pin(r.join(ew, r("node") === ew("src"))
        .select(col("dst"),
          (col("cm").cast("decimal(38,0)") * col("w")).as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__m")))
      val mx = sums.agg(max(col("__m")).as("__mx"))
      nodes.join(sums, nodes("node") === sums("dst"), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"), expr(
          """CASE WHEN __mx IS NULL OR __mx = 0 THEN cast(0 as bigint)
            |     ELSE cast((coalesce(__m, 0) * 1000000) div __mx as bigint)
            |END""".stripMargin).as("cm"))
    }.select(col("node"), col("cm").as("centrality_micro"))
  }

  /** Personalized PageRank with a FIXED iteration count — [[pagerank]]'s
    * importance ranking RESTARTED at a seed set: the teleport mass lands
    * only on the seeds, so the stationary distribution concentrates on
    * the seeds' forward neighborhood. This is the value-tracing ranking
    * between [[khopReach]] (reachable at all, hop-labeled) and
    * [[haircutTaint]] (exact pro-rata dilution): "which addresses does
    * seed money KEEP flowing through", damping included.
    *
    *   rank0(v)    = 1,000,000 micro for seeds, absent otherwise
    *   rank'(v)    = base(v) + (dampMilli · Σ contrib(u→v)) div 1000
    *   base(v)     = (1000 − dampMilli)·1000 for seeds, 0 otherwise
    *
    * Same integer micro-unit discipline as [[pagerank]] (truncating
    * division of non-negative operands — bit-deterministic across
    * engines and retries); dangling mass evaporates identically.
    *
    * Scale shape: the rank vector stays SPARSE — per round the
    * contribution join carries only currently-ranked nodes (seed
    * neighborhood, not |V|), keyed on the node id against the pinned
    * edge+denominator table; the update is one map-side-combined
    * aggregate over (seed base ∪ pushed contributions). Returns
    * (node, rank_micro), rank_micro > 0 only. */
  def personalizedPagerank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 3, dampMilli: Long = 850,
                           srcCol: String = "src", dstCol: String = "dst",
                           weightCol: Option[String] = None,
                           seedCol: String = "node"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampMilli >= 0 && dampMilli <= 1000,
      s"dampMilli must be in [0, 1000], got $dampMilli")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val ew = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0) // zero/negative collapsed weights carry no flow
    val e = Pin(ew.join(ew.groupBy(col("src")).agg(sum(col("w")).as("ow")), "src"))
    val sd = Pin(seeds.select(col(seedCol).cast("long").as("node")).distinct())
    val base = (1000L - dampMilli) * 1000L

    Pin.rounds(sd.withColumn("rank_micro", lit(1000000L)), iters) { (ranks, _) =>
      val pushed = ranks.join(e, ranks("node") === e("src"))
        .select(col("dst"), expr("(rank_micro * w) div ow").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__m"))
        .select(col("dst").as("node"),
          expr(s"(__m * $dampMilli) div 1000").as("__part"))
      sd.select(col("node"), lit(base).as("__part"))
        .union(pushed)
        .groupBy(col("node")).agg(sum(col("__part")).as("rank_micro"))
    }.filter(col("rank_micro") > 0)
  }

  /** Two-hop in-neighborhood aggregate — "what reaches this address
    * through one intermediary" (the multi-hop flow question graphsense's
    * entity graph answers). Multi-edges are collapsed to weights; per
    * destination:
    *
    *   n_paths   = Σ w(s→mid)·w(mid→d)   (path multiplicity)
    *   n_sources = |distinct s|           (2-hop reach)
    *   n_mids    = |distinct mid|         (intermediary fan-in)
    *
    * Two of the three aggregates FACTORIZE out of the pair expansion —
    * n_paths = Σ_mid w(mid→d)·inflow(mid) and n_mids counts out-edges
    * from mids with inflow — so they cost one |E| equi-join + aggregate,
    * no pairs. Only n_sources is irreducibly pair-level (the same source
    * reaches d through different mids and must dedup across them); it
    * pays the self-equi-join on the mid node, projected immediately to
    * DISTINCT (s, d) — no weight column rides along, and no multi-
    * countDistinct expand multiplies the pair set (measured 1.7× on the
    * sf0.1 transition graph vs the naive all-in-one aggregate, which
    * paid a 3× expand over the full weighted pair set).
    *
    * Scale shape: the pair join keys on the mid node, so a hub's cost is
    * in-degree × out-degree — exactly the pair-expansion regime of the
    * LSH dedup buckets, and the same mitigations apply (AQE skew split
    * reactively; cap or sample hub neighborhoods explicitly when a
    * degree bound is known). No cartesian, no all-pairs: cost is
    * Σ_mid deg_in·deg_out, never |V|². */
  def twoHopPaths(edges: DataFrame, srcCol: String = "src",
                  dstCol: String = "dst",
                  weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    // reused: inflow agg + both join sides
    val ew = Pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0)) // non-positive collapsed weights carry no paths
    val inflow = ew.groupBy(col("dst")).agg(sum(col("w")).as("iw"))
      .select(col("dst").as("mid"), col("iw"))
    val pathAgg = ew.select(col("src").as("mid"), col("dst").as("node"), col("w"))
      .join(inflow, "mid")
      .groupBy(col("node"))
      .agg(sum(col("w") * col("iw")).as("n_paths"),
        count(lit(1)).as("n_mids")) // ew is collapsed: one row per (mid, node)
    // The distinct-source leg genuinely expands s0×node pairs through
    // each mid — no factorization computes an EXACT distinct count
    // without seeing every pair. Two scale guards make the expansion
    // affordable (both measured by the r10 sf10 gate):
    //   1. repartition(n, mid): the collapsed edge table feeding the
    //      join is byte-tiny, so bytes-based AQE would coalesce the
    //      mid exchange and serialize the fan-out (the assoc_rules
    //      lesson) — 286 s single task on 100× data without the pin.
    //   2. block-bitmap aggregation instead of distinct-then-count:
    //      a plain distinct on the pair stream buffers every (s0, node)
    //      key in the partial hash map — 54 GB of spill at sf10. Keying
    //      by (node, s0 >> 6) with a bit_or of single-bit words lets
    //      map-side combine actually COMBINE (OR is idempotent — the
    //      cross-mid duplicate pairs merge in place), and
    //      Σ bit_count(word) per node is the exact distinct count.
    val nPart = edges.sparkSession.sparkContext.defaultParallelism
    val srcAgg = ew.select(col("src").as("s0"), col("dst").as("mid"))
      .repartition(nPart, col("mid"))
      .join(ew.select(col("src").as("mid"), col("dst").as("node")), "mid")
      .groupBy(col("node"), expr("s0 >> 6").as("__blk"))
      .agg(expr("bit_or(shiftleft(1L, cast(s0 & 63 AS INT)))").as("__word"))
      .groupBy(col("node"))
      .agg(sum(expr("bit_count(__word)")).as("n_sources"))
    pathAgg.join(srcAgg, "node")
      .select(col("node"), col("n_paths"), col("n_sources"), col("n_mids"))
  }

  /** The distinct undirected edge set (u < v, self-loops dropped) of a
    * directed multigraph — the shared first step of the topology operators
    * below. One projection + one `distinct` shuffle on the canonical pair. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** Per-node undirected degree of [[undirected]]'s output — one explode
    * into endpoint rows + one map-side-combined aggregate. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("node")).union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Degree-ordered orientation of `und` given its degree table: each
    * edge points from the endpoint LOWER in the (degree, id) total order.
    * Pinned (eager localCheckpoint) because every caller reuses it at
    * least twice. */
  private def orient(und: DataFrame, deg: DataFrame): DataFrame =
    Pin(und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t")))

  /** Closed triangles of the oriented edge set, one row (s, x, y) per
    * triangle — s is the order-minimal apex, x < y its out-pair. */
  private def closedTriangles(oriented: DataFrame): DataFrame = {
    val candidates = oriented.select(col("s"), col("t").as("x"))
      .join(oriented.select(col("s"), col("t").as("y")), "s")
      .filter(col("x") < col("y")) // each unordered out-pair once
    val closing = oriented
      .select(least(col("s"), col("t")).as("x"),
        greatest(col("s"), col("t")).as("y"))
    candidates.join(closing, Seq("x", "y"))
  }

  /** Exact triangle + wedge count via DEGREE-ORDERED edge orientation
    * (the classic O(E^1.5) bound; Suri & Vassilvitskii 2011's MapReduce
    * formulation) — cohesion analytics over an address graph
    * (money-laundering rings are triangle-dense; broadcast trees are not).
    *
    * Each undirected edge is oriented from the endpoint that is LOWER in
    * the total order (degree, id); the result is a DAG in which every
    * node's out-degree is O(sqrt(E)), so generating 2-paths (wedges) by
    * self-joining on the wedge apex costs sum over apexes of out-deg^2 =
    * O(E^1.5) TOTAL regardless of hub sizes — the orientation is what
    * makes a 10M-degree exchange address safe: a hub's edges all point AT
    * it, so it is never a wedge apex. Every triangle has exactly one apex
    * in the orientation (its order-minimal node), so an inner join of
    * wedges against the closing edge counts each triangle exactly once.
    *
    * Returns one row: (n_wedges, n_triangles), where n_wedges is the TRUE
    * wedge census sum over v of C(deg(v), 2) — so the global clustering
    * coefficient is 3·triangles/wedges on the caller's side. The wedge
    * census costs one fixed-width aggregate over the degree table (it is
    * NOT materialized pairwise); only the triangle probe pays the
    * oriented pair expansion. Plan: three equi-join shuffles (degree
    * attach ×2, candidate close ×1) + two 1-row aggregates; the oriented
    * edge list is pinned once and reused for both candidate sides and
    * the closing probe. */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val und = Pin(undirected(edges, srcCol, dstCol)) // reused: degrees + orient
    val deg = Pin(degrees(und)) // reused: orient + census
    val tri = closedTriangles(orient(und, deg))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg
      .agg(coalesce(sum(expr("(deg * (deg - 1)) div 2")), lit(0L))
        .cast("long").as("n_wedges"))
    wedges.crossJoin(tri) // two 1-row sides
  }

  /** k-truss by fixed-round edge peeling (Cohen 2008): repeatedly drop
    * every edge sitting in fewer than k-2 triangles of the CURRENT
    * subgraph — the edge-level cohesion filter one notch stronger than
    * [[kcore]] (a k-truss edge needs k-2 common-neighbor witnesses, not
    * just well-connected endpoints), the standard "tight ring" extractor
    * over transfer graphs. Fixed synchronous rounds keep the output a
    * pure function of the graph (same contract as [[kcore]]); the oracle
    * unrolls the same rounds, so the engines agree even before the peel
    * converges. Returns the surviving canonical edges with their support
    * RECOMPUTED on the final subgraph (left-joined: a survivor whose
    * last witnesses were peeled in the final round reports 0).
    *
    * Scale shape per round: support is triangle enumeration on the
    * degree-ordered orientation ([[closedTriangles]], the O(E^1.5)
    * bound) + a 3-way edge explode + one map-side-combined (u, v)
    * aggregate; the peel is one semi-join on the edge key. Lineage is
    * truncated per round; no driver state beyond the loop counter. */
  def ktruss(edges: DataFrame, k: Int, rounds: Int = 2,
             srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k=2 is every edge), got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def supportOf(e: DataFrame): DataFrame =
      closedTriangles(orient(e, degrees(e)))
        .select(explode(array(
          struct(least(col("s"), col("x")).as("u"),
            greatest(col("s"), col("x")).as("v")),
          struct(least(col("s"), col("y")).as("u"),
            greatest(col("s"), col("y")).as("v")),
          struct(col("x").as("u"), col("y").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    val live = Pin.rounds(Pin(undirected(edges, srcCol, dstCol)), rounds) { (cur, _) =>
      cur.join(supportOf(cur).filter(col("support") >= k - 2), Seq("u", "v"), "left_semi")
    }
    live.join(supportOf(live), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Per-node triangle participation and LOCAL clustering coefficient —
    * the "is this address inside a ring?" score (c(v) = triangles at v /
    * C(deg(v), 2), in integer milli-units with truncating division).
    * Each closed triangle from [[closedTriangles]] credits all three
    * corners via one explode; nodes of degree < 2 have no defined
    * coefficient and are excluded. Same O(E^1.5) bound as
    * [[triangleCount]] plus one |V|-row left join. */
  def localClustering(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    val und = Pin(undirected(edges, srcCol, dstCol)) // reused: degrees + orient
    val deg = Pin(degrees(und)) // reused: orient + output
    val perNode = closedTriangles(orient(und, deg))
      .select(explode(array(col("s"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= 2)
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("(1000 * coalesce(n_tri, 0)) div ((deg * (deg - 1)) div 2)")
          .as("clustering_milli"))
  }

  /** Log2-bucketed degree distribution — the first question asked of any
    * address graph (is it scale-free? where do the hubs start?). Degree is
    * the DISTINCT-neighbor count (multi-edges collapse), bucketed by
    * floor(log2): bucket_log2 via the binary-representation length (exact
    * integer arithmetic — no floating log whose IEEE rounding could
    * misplace exact powers of two). One distinct + one aggregate over |V|
    * rows + one aggregate over ~60 buckets. */
  def degreeHistogram(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame =
    degrees(undirected(edges, srcCol, dstCol))
      .select(col("deg"), (length(bin(col("deg"))) - 1).as("bucket_log2"))
      .groupBy(col("bucket_log2"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))

  /** Single-source (seed-set) shortest paths by FIXED Bellman–Ford
    * relaxation rounds over non-negative integer edge weights — the
    * cheapest-route primitive [[khopReach]]'s hop counter cannot express
    * (a 2-hop path of cost 3 beats a 1-hop edge of cost 9). `rounds`
    * bounds the path LENGTH considered, exactly Bellman–Ford's
    * guarantee: after k rounds every distance using <= k edges is final;
    * k = graph diameter gives the exact answer. Fixed synchronous rounds
    * keep the output a pure function of the input ([[pagerank]]'s
    * contract); the oracle unrolls the same rounds.
    *
    * Scale shape per round: ONE equi-join of the current distance table
    * against the out-edge list (both hash-partitioned on the node id) +
    * one min-aggregate; lineage truncated per round; no driver state.
    * All-integer arithmetic — no float accumulation order to diverge. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int = 3,
           srcCol: String = "src", dstCol: String = "dst",
           weightCol: String = "w"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Pin(edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__w") >= 0)) // reused every round
    val dist0 = Pin(seeds.select(col("node").cast("long").as("node"),
        lit(0L).as("dist"))
      .distinct())
    Pin.rounds(dist0, rounds) { (dist, _) =>
      val relaxed = dist.join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), (col("dist") + col("__w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
  }

  /** Landmark distance sketch (Potamias et al., "Fast shortest path
    * distance estimation in large networks"): hop distances from every
    * one of L landmark nodes to every reachable node, computed as ONE
    * multi-source BFS whose state rows are (node, landmark, hops) — all
    * L searches share each round's single edge join instead of running
    * L separate traversals. After `rounds` hops the table answers
    * point-to-point distance queries as the triangle upper bound
    * `min_l d(u,l) + d(l,v)` ([[landmarkEstimate]]) — the standard
    * distance oracle for graphs where exact pairwise BFS is unpayable.
    *
    * Scale shape per round: one equi-join shuffle of the state table
    * (≤ |V|·L rows — L is small by design, e.g. 16) against the pinned
    * edge list, one map-side-combined min aggregate on (node, landmark).
    * Driver state: none. Directionality follows the edge list passed in
    * — symmetrize upstream for undirected distances. */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
                        rounds: Int = 3,
                        srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Pin(edges.select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull)
      .distinct())
    val dist0 = Pin(landmarks.select(col("node").cast("long").as("node"))
      .distinct()
      .select(col("node"), col("node").as("landmark"), lit(0).as("hops")))
    Pin.rounds(dist0, rounds) { (dist, _) =>
      val relaxed = dist.join(e, col("node") === col("__s"))
        .select(col("__d").as("node"), col("landmark"),
          (col("hops") + 1).as("hops"))
      dist.unionByName(relaxed)
        .groupBy(col("node"), col("landmark"))
        .agg(min(col("hops")).as("hops"))
    }
  }

  /** Distance estimation from a [[landmarkDistances]] sketch: for each
    * query pair the triangle upper bound `min_l d(u,l)+d(l,v)` over the
    * landmarks that reach BOTH endpoints (pairs no landmark covers
    * drop — the sketch has no evidence about them). Two
    * equi-joins on the landmark table + one min aggregate — the sketch
    * is consulted, the graph is never re-traversed. */
  def landmarkEstimate(landmarkDist: DataFrame, pairs: DataFrame,
                       uCol: String = "u", vCol: String = "v"): DataFrame = {
    val du = landmarkDist.select(col("node").as("__u"),
      col("landmark").as("__l"), col("hops").as("__hu"))
    val dv = landmarkDist.select(col("node").as("__v"),
      col("landmark").as("__l2"), col("hops").as("__hv"))
    pairs.select(col(uCol).cast("long").as("u"), col(vCol).cast("long").as("v"))
      .join(du, col("u") === col("__u"))
      .join(dv, col("v") === col("__v") && col("__l") === col("__l2"))
      .groupBy(col("u"), col("v"))
      .agg(min(col("__hu") + col("__hv")).as("est_hops"))
  }

  /** Bounded k-hop reach from a seed set — the taint-tracing primitive
    * ("which addresses received funds within N hops of these seeds").
    * Directed frontier expansion with a min-hop label: hop 0 is the seed
    * set; each round joins the PREVIOUS frontier (only — not the whole
    * reached set) against the out-edge list and keeps newly reached
    * nodes, so per-round cost is |frontier ⋈ edges|, and a node's hop
    * label is final the round it first appears (BFS invariant). The hop
    * count is a fixed budget, as in [[pagerank]]: N is the analyst's
    * question ("3 hops out"), not a convergence knob.
    *
    * Returns (node, hops) for every node within `maxHops` of a seed,
    * seeds included at hops 0. Scale shape: each round is one equi-join
    * shuffle on the node id plus one anti-join against the reached set
    * (both key on the id); each hop's newly reached frame is pinned once,
    * and the reached set is the lazy union of those pinned per-hop frames
    * (the returned frame re-reads that union on each action, never a
    * re-pin of the growing set); no driver state. Hub fan-out is bounded by the real
    * out-degree — the analyst caps it upstream (cap/sample hub edges) if
    * exchanges must not explode the frontier. */
  def khopReach(edges: DataFrame, seeds: DataFrame, maxHops: Int = 3,
                srcCol: String = "src", dstCol: String = "dst",
                seedCol: String = "node"): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = Pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    var reached = Pin(seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().withColumn("hops", lit(0)))
    var frontier = reached.select(col("node"))
    var h = 1
    while (h <= maxHops) {
      val next = Pin(frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(reached.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(h)))
      // lazy union of the pinned per-hop frames (r16): re-checkpointing
      // the growing reached set materialized |reached| rows per hop —
      // quadratic total bytes and one extra blocking job per round — for
      // an anti-join that reads the identical set off the pinned parts
      reached = reached.union(next)
      frontier = next.select(col("node"))
      h += 1
    }
    reached
  }

  /** Value-proportional ("haircut") taint propagation — the standard
    * dilution model for tracing tainted funds: each round, every tainted
    * node pushes its ENTIRE current taint along its out-edges pro-rata by
    * edge weight (the haircut: a recipient of 10% of the outflow carries
    * 10% of the taint), while nodes with no out-edges absorb what they
    * hold. [[khopReach]] answers "could funds have arrived here";
    * this answers "how MUCH of the seed value plausibly did".
    *
    * Taint is integer micro-units (seeds start at 1,000,000) with
    * truncating division of non-negative operands — bit-deterministic
    * across engines and retries, same discipline as [[pagerank]]; the
    * iteration count is a fixed budget (k rounds = taint carried up to k
    * hops; absorbed mass persists, in-flight mass keeps moving).
    *
    * Scale shape per round: one equi-join shuffle of the taint vector
    * (|tainted| rows, not |V|) against the pinned edge+denominator table,
    * one map-side-combined aggregate on dst, one anti-join for the
    * absorbing sinks; lineage truncated per round. Returns (node,
    * taint_micro) for nodes with taint_micro > 0 after `iters` rounds. */
  def haircutTaint(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
                   srcCol: String = "src", dstCol: String = "dst",
                   weightCol: Option[String] = None,
                   seedCol: String = "node"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    // as in [[pagerank]]: collapsed weights <= 0 are dropped BEFORE the
    // out-weight denominator forms — a node whose every out-edge is
    // zero-weight becomes a sink and absorbs (no outflow, no silent
    // NULL-division mass loss)
    val ew = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0)
    val outw = ew.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val e = Pin(ew.join(outw, "src"))
    val srcs = Pin(e.select(col("src")).distinct())

    val taint0 = Pin(seeds.select(col(seedCol).cast("long").as("node")).distinct()
      .withColumn("taint_micro", lit(1000000L)))
    Pin.rounds(taint0, iters) { (taint, _) =>
      val pushed = taint.join(e, taint("node") === e("src"))
        .select(col("dst"), expr("(taint_micro * w) div ow").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("taint_micro"))
        .select(col("dst").as("node"), col("taint_micro"))
      val absorbed = taint.join(srcs, taint("node") === srcs("src"), "left_anti")
      pushed.union(absorbed)
        .groupBy(col("node")).agg(sum(col("taint_micro")).as("taint_micro"))
    }.filter(col("taint_micro") > 0)
  }

  /** K-core membership via FIXED-ROUND peeling — the dense-subgraph
    * filter (an address in the 4-core of a transfer graph sits in a
    * tightly interconnected cluster; leaves and chains are shed). Each
    * round drops every node of undirected degree < k and keeps only edges
    * between survivors; like [[pagerank]], the iteration count is fixed
    * rather than convergence-tested — k rounds is a budgetable contract
    * (peeling converges in <= |V| rounds but in practice a handful; when a
    * round removes nothing the remaining rounds are no-op re-aggregations
    * of an already-stable edge set). Returns (node, deg) for nodes alive
    * after the last round, deg measured within the surviving subgraph —
    * equal to the exact k-core iff peeling converged within `rounds`.
    *
    * Scale shape: per round one aggregate over the live edge endpoints
    * (map-side combined, output |V| rows) + two semi-join filters on the
    * endpoint — all equi-shuffles on the node id; lineage truncated per
    * round; no driver state. */
  def kcore(edges: DataFrame, k: Int, rounds: Int = 4,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    degrees(Pin.rounds(Pin(undirected(edges, srcCol, dstCol)), rounds) { (live, _) =>
      val keep = degrees(live).filter(col("deg") >= k).select(col("node"))
      live
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
    })
  }

  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007) with a FIXED round count and a fully deterministic update: each
    * round, every node adopts the label carrying the largest total
    * incident edge weight among its neighbors, ties broken toward the
    * SMALLEST label. Labels start as the node's own id; after k rounds
    * nodes sharing a densely-connected region have converged onto the
    * region's minimum seed — the community view that sits between
    * [[ConnectedComponents]] (pure reachability, weight-blind) and
    * modularity methods (global objective, not shuffle-friendly).
    *
    * Synchronous + fixed-round is what makes the output a pure function
    * of the graph: the classic asynchronous LPA is order-dependent (and
    * can oscillate), while k synchronous rounds are reproducible across
    * engines, partitionings, and retries — the same contract as
    * [[pagerank]]'s fixed power iterations.
    *
    * Scale shape: per round one equi-join (labels ⋈ edges on the node id)
    * + one two-key aggregate (map-side combined, output ≤ |E| rows
    * collapsing to |V|) + one argmax aggregate via min-of-struct (no
    * window sort); lineage truncated per round; zero driver state. The
    * weighted-majority argmax rides `max(struct(weight, -label))` so the
    * tie-break needs no secondary pass. */
  def labelPropagation(edges: DataFrame, rounds: Int = 2,
                       srcCol: String = "src", dstCol: String = "dst",
                       weightCol: Option[String] = None): DataFrame =
    labelPropagationSym(
      symmetrizeWeighted(edges, srcCol, dstCol, weightCol), rounds)

  /** The shared symmetrize-with-summed-weights prologue of
    * [[labelPropagation]] and [[louvainMove]]: influence flows both ways;
    * zero or negative collapsed weights carry no votes (same guard as
    * pagerank). Pinned (eager localCheckpoint) because every caller
    * iterates over it. Exposed (package-private) so queries that run BOTH
    * community algorithms over the SAME edge table (the NMI agreement
    * metric) build it once instead of twice — the two engines' inputs
    * are identical by construction either way. */
  private[graft] def symmetrizeWeighted(edges: DataFrame, srcCol: String,
                                        dstCol: String,
                                        weightCol: Option[String]): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    Pin(edges
      .select(explode(array(
        struct(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"), w.as("__w")),
        struct(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b"), w.as("__w"))))
        .as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"), col("__e.__w").as("__w"))
      .groupBy(col("a"), col("b")).agg(sum(col("__w")).as("w"))
      .filter(col("w") > 0))
  }

  /** [[labelPropagation]] over a pre-built [[symmetrizeWeighted]] frame
    * (`sym(a, b, w)`, already pinned). */
  private[graft] def labelPropagationSym(sym: DataFrame,
                                         rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val nodes = Pin(sym.select(col("a").as("node")).distinct())
    Pin.rounds(nodes.withColumn("label", col("node")), rounds) { (labels, _) =>
      val votes = sym.join(labels, sym("b") === labels("node"))
        .groupBy(col("a"), col("label")).agg(sum(col("w")).as("__s"))
        .groupBy(col("a"))
        .agg(max(struct(col("__s"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("a").as("node"), (-col("__m.__nl")).as("label"))
      // every node in `nodes` has >= 1 neighbor by construction, but the
      // left join + coalesce keeps the contract total if callers pass a
      // pre-filtered label frame in a future variant
      nodes.join(votes, Seq("node"), "left")
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    }
  }

  /** Graph coarsening: contract a weighted digraph by a node→community
    * map into its super-graph — one row per (src community, dst
    * community) with the collapsed edge count and total weight, plus an
    * `intra` flag. This is the cluster-level EDGE table of an entity
    * model (graphsense's cluster relations over its address relations:
    * once addresses collapse to entities, flow tracing reads THIS table,
    * |C|² ≪ |V|² rows) and the standard coarsening step of multilevel
    * graph algorithms (Karypis–Kumar METIS): analyze the super-graph,
    * refine on the full graph.
    *
    * Scale shape: two equi-joins labels⋈edges on the node id (the label
    * frame is |V| rows — broadcast when small, shuffle-join on the node
    * id otherwise; Spark's planner picks by stats) + ONE aggregate on
    * the community pair, map-side combined, output |C|² bounded by |E|.
    * No windows, no driver state. Hub communities skew the pair key the
    * same way hub nodes skew joins — AQE skew split applies. */
  def coarsen(edges: DataFrame, labels: DataFrame,
              srcCol: String = "src", dstCol: String = "dst",
              weightCol: Option[String] = None,
              nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val lab = labels.select(col(nodeCol).cast("long").as("__n"),
      col(labelCol).cast("long").as("__c"))
    edges
      .select(col(srcCol).cast("long").as("__s"),
        col(dstCol).cast("long").as("__d"), w.as("__w"))
      .join(lab.withColumnRenamed("__c", "src_comm"), col("__s") === col("__n"))
      .drop("__n")
      .join(lab.withColumnRenamed("__c", "dst_comm"), col("__d") === col("__n"))
      .groupBy(col("src_comm"), col("dst_comm"))
      .agg(count(lit(1)).as("n_edges"), sum(col("__w")).as("w_total"))
      .select(col("src_comm"), col("dst_comm"), col("n_edges"), col("w_total"),
        (col("src_comm") === col("dst_comm")).as("intra"))
  }

  /** Exact strongly-connected components of a digraph — the MUTUAL-flow
    * entity view ("addresses between which value provably cycles"),
    * where [[ConnectedComponents]]'s weak components only ask for any
    * undirected link. Implemented as the MULTISTEP method (Slota,
    * Rajamanickam & Madduri 2014, "BFS and Coloring-based Parallel
    * Algorithms for Strongly Connected Components"), the shape production
    * graph systems actually run, per outer round:
    *
    *   1. TRIM: a live node with no in-edges or no out-edges cannot sit
    *      on a cycle — assign it its own singleton SCC. One round of
    *      trimming per outer round (the coloring handles what trimming
    *      misses; trimming just sheds the cheap mass first).
    *   2. LOCAL FINISH: once the live subgraph fits `localThreshold`
    *      rows (nodes + edges), collect it and run serial Tarjan — the
    *      Multistep handoff. An iterative algorithm pays O(diameter)
    *      sequential supersteps; paying them in scheduler round-trips
    *      for a remnant that fits in tens of MB is pure waste at ANY
    *      cluster size, which is why the published method switches. At
    *      100 TB the first rounds run distributed and only the shrunken
    *      tail collects.
    *   3. COLOR to fixpoint: color(v) = max id that reaches v (max-label
    *      propagation along edge direction — [[ConnectedComponents.run]]'s
    *      loop with max instead of min, directed instead of symmetrized).
    *      Monotone non-decreasing, so an unchanged color sum IS the
    *      fixpoint (one Observation long per iteration, no diff join).
    *   4. ROOTS + MEMBERSHIP: v with color(v) = v is a root; SCC(c) =
    *      {v : color(v) = c ∧ v reaches c}, collected by backward BFS
    *      from the roots along reversed edges, restricted to same-color
    *      nodes (frontier-only expansion; the frontier size rides the
    *      checkpoint's own Observation — one job per hop).
    *   5. Remove assigned nodes and incident edges; repeat.
    *
    * Every SCC containing its color class's maximum id resolves in the
    * round that elects it, so each outer round strictly shrinks the live
    * set; a partial labeling is REFUSED (throw), never returned — the
    * same no-silent-split contract as [[ConnectedComponents]].
    *
    * Scale shape: all joins key on the node id (frontier ⋈ edges,
    * labels ⋈ edges); aggregates are map-side-combined with |V|-bounded
    * output; per-iteration driver state is one scalar (color sum /
    * frontier count / live count) until the documented local-finish
    * collect, whose size is capped by `localThreshold`. Input nodes are
    * the edge endpoints (isolated nodes have no edges to be strongly
    * connected BY — same contract as the other operators here). Returns
    * one row per node: (node, scc), scc = the component's maximum member
    * id (identical label on both the distributed and the local path).
    * `localThreshold = 0` forces the pure distributed path (used by the
    * cross-validation specs). */
  def scc(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          maxRounds: Int = 10, maxPropIter: Int = 50,
          localThreshold: Long = 200000L): DataFrame = {
    val e0 = Pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull
        && col("src") =!= col("dst"))
      .distinct())
    var nodes = Pin(e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct())
    var live = e0
    val spark = edges.sparkSession
    import spark.implicits._
    var assigned = Seq.empty[(Long, Long)].toDF("node", "scc")
      .filter(lit(false)) // empty, schema-typed accumulator
    var remaining = nodes.count()
    var round = 0

    while (remaining > 0 && round < maxRounds) {
      // 1. trim: no in-edges or no out-edges -> singleton SCC
      val srcs = live.select(col("src").as("node")).distinct()
      val dsts = live.select(col("dst").as("node")).distinct()
      val trimmed = Pin(nodes.join(srcs, Seq("node"), "left_anti")
        .union(nodes.join(dsts, Seq("node"), "left_anti"))
        .distinct()
        .select(col("node"), col("node").as("scc")))
      // each state pin is released once its successor is materialized
      val trimSuperseded = Seq(assigned, nodes, trimmed)
      assigned = Pin(assigned.union(trimmed))
      nodes = Pin(nodes.join(trimmed, Seq("node"), "left_anti"))
      trimSuperseded.foreach(Pin.release)
      remaining = nodes.count()
      if (remaining > 0) {
        val live0 = live
        live = Pin(live
          .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi"))
        Pin.release(live0)

        // 2. Multistep local finish: the remnant fits — stop paying
        // scheduler round-trips per hop and solve it serially
        if (remaining + live.count() <= localThreshold) {
          val es = live.select(col("src"), col("dst")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val ns = nodes.select(col("node")).collect().map(_.getLong(0))
          val labeled = tarjanScc(ns, es)
          val assigned0 = assigned
          assigned = Pin(assigned
            .union(spark.createDataFrame(labeled).toDF("node", "scc")))
          Pin.release(assigned0)
          remaining = 0
          round += 1
        } else {

        // 3. color to fixpoint: color(v) = max id that reaches v
        var colors = Pin(nodes.withColumn("color", col("node")))
        var prevSum = colors.agg(sum(col("color"))).collect()(0).getLong(0)
        var converged = false
        var it = 0
        while (it < maxPropIter && !converged) {
          val incoming = live.join(colors, live("src") === colors("node"))
            .select(live("dst").as("node"), col("color"))
          val obs = new org.apache.spark.sql.Observation()
          val updated = Pin(colors.select(col("node"), col("color"))
            .union(incoming)
            .groupBy(col("node")).agg(max(col("color")).as("color"))
            .observe(obs, sum(col("color")).as("color_sum")))
          val newSum = obs.get("color_sum").asInstanceOf[Number].longValue()
          Pin.release(colors)
          colors = updated
          converged = newSum == prevSum // colors are monotone non-decreasing
          prevSum = newSum
          it += 1
        }
        if (!converged) throw new IllegalStateException(
          s"scc color propagation did not converge in $maxPropIter iterations")

        // 4. backward BFS from roots within the same color class — each
        // hop is ONE job: the frontier size rides the checkpoint's own
        // Observation, and the visited set is a union of already-
        // checkpointed frontiers (no per-hop re-checkpoint of it)
        var members = Pin(colors.filter(col("color") === col("node"))
          .select(col("node"), col("node").as("scc")))
        var frontier = members
        val memberPins = scala.collection.mutable.ArrayBuffer(members)
        var fc = 1L
        while (fc > 0) {
          val obs = new org.apache.spark.sql.Observation()
          val preds = Pin(live.join(frontier, live("dst") === frontier("node"))
            .select(live("src").as("node"), col("scc"))
            .distinct()
            .join(colors, Seq("node"))
            .filter(col("color") === col("scc"))
            .select(col("node"), col("scc"))
            .join(members, Seq("node"), "left_anti")
            .observe(obs, count(lit(1)).as("n")))
          fc = Option(obs.get("n").asInstanceOf[Number])
            .map(_.longValue()).getOrElse(0L)
          members = members.union(preds) // inputs both checkpointed
          memberPins += preds
          frontier = preds
        }

        // 5. retire the assigned SCCs from the live subgraph
        val superseded = Seq(assigned, nodes, live, colors) ++ memberPins
        assigned = Pin(assigned.union(members))
        nodes = Pin(nodes.join(members, Seq("node"), "left_anti"))
        live = Pin(live
          .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi"))
        superseded.foreach(Pin.release)
        remaining = nodes.count()
        }
      }
      round += 1
    }
    if (remaining > 0) throw new IllegalStateException(
      s"scc did not converge in $maxRounds rounds — $remaining nodes unassigned")
    assigned
  }

  /** Serial Tarjan SCC (iterative, explicit work stack) over a collected
    * remnant subgraph — the Multistep local-finish step of [[scc]].
    * Labels each node with its SCC's MAXIMUM member id, matching the
    * distributed coloring path's labeling exactly. */
  private def tarjanScc(nodes: Array[Long],
                        edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val idx = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStk = scala.collection.mutable.Set.empty[Long]
    val stk = scala.collection.mutable.Stack.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    final case class Frame(v: Long, var rest: List[Long])
    def strong(v0: Long): Unit = {
      val work = scala.collection.mutable.Stack(
        Frame(v0, adj.getOrElse(v0, Array.empty[Long]).toList))
      idx(v0) = counter; low(v0) = counter; counter += 1
      stk.push(v0); onStk += v0
      while (work.nonEmpty) {
        val f = work.top
        f.rest match {
          case w :: tl =>
            f.rest = tl
            if (!idx.contains(w)) {
              idx(w) = counter; low(w) = counter; counter += 1
              stk.push(w); onStk += w
              work.push(Frame(w, adj.getOrElse(w, Array.empty[Long]).toList))
            } else if (onStk(w)) low(f.v) = math.min(low(f.v), idx(w))
          case Nil =>
            work.pop()
            if (work.nonEmpty)
              low(work.top.v) = math.min(low(work.top.v), low(f.v))
            if (low(f.v) == idx(f.v)) {
              var grp = List.empty[Long]
              var w = stk.pop(); onStk -= w; grp ::= w
              while (w != f.v) { w = stk.pop(); onStk -= w; grp ::= w }
              val label = grp.max
              grp.foreach(comp(_) = label)
            }
        }
      }
    }
    nodes.sorted.foreach(v => if (!idx.contains(v)) strong(v))
    comp.toSeq
  }

  /** Time-respecting two-hop paths (temporal flow tracing): pairs of
    * timestamped edges A→B at t1, B→C at t2 with t1 ≤ t2 ≤ t1 + maxGap —
    * the "value leaves A and reaches C THROUGH B within the window"
    * motif of transaction forensics, where plain [[twoHopPaths]]
    * over-counts by pairing hops that happen in the wrong order. Per
    * terminal node: path count, distinct origins, distinct
    * intermediaries, and the earliest completion time.
    *
    * Scale shape: one self-equi-join on the mid node with the time
    * predicate applied AS the join residual (Catalyst keys the exchange
    * on `mid`; the range condition filters inside the join, before the
    * aggregate sees a row), then one map-side-combined aggregate with a
    * distinct-expand bounded by the surviving pair set. Hub cost is
    * deg_in × deg_out per mid BEFORE the time filter — at 100 TB,
    * bucket the edge table by time so the window predicate also prunes
    * partitions (the same layout [[graft.eth.Sinks]] gives block
    * ranges), turning the residual filter into a scan bound. */
  def temporalTwoHop(edges: DataFrame, maxGap: String,
                     srcCol: String = "src", dstCol: String = "dst",
                     tsCol: String = "ts"): DataFrame = {
    val a = edges.select(col(srcCol).cast("long").as("s0"),
      col(dstCol).cast("long").as("mid"), col(tsCol).as("t1"))
    val b = edges.select(col(srcCol).cast("long").as("mid"),
      col(dstCol).cast("long").as("node"), col(tsCol).as("t2"))
    a.join(b, Seq("mid"))
      .filter(col("t2") >= col("t1")
        && col("t2") <= col("t1") + expr(s"INTERVAL $maxGap"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("s0")).as("n_sources"),
        countDistinct(col("mid")).as("n_mids"),
        min(col("t2")).as("first_complete"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) with a FIXED round count and
    * UNNORMALIZED integer scores — the directed-graph complement to
    * [[pagerank]]: an *authority* is pointed at by good hubs (a deposit
    * address many distributors feed), a *hub* points at good authorities
    * (a distributor feeding many deposit addresses). Per round, the
    * weighted mutual recursion:
    *
    *   auth'(v) = Σ_{(u,v)∈E} w(u,v) · hub(u)
    *   hub'(u)  = Σ_{(u,v)∈E} w(u,v) · auth'(v)     (auth FIRST — standard)
    *
    * Classic HITS L2-normalizes each round, which only rescales — the
    * RANKING is what the operator serves, and skipping the normalization
    * keeps every score an exact integer (bit-deterministic across engines,
    * retries, and partitionings; no float reduction order). Magnitudes
    * grow ~(Σw·deg)^round, so scores ride DECIMAL(38,0): two rounds on a
    * graph with 1e9-weight hubs stays < 1e38 while a Long would wrap.
    *
    * Scale shape: identical to [[pagerank]]'s round — the collapsed edge
    * list is pinned once; each half-round is one equi-join shuffle of the
    * current score vector (|V| rows) against the edges plus one
    * map-side-combined aggregate; 2·rounds joins total, no driver state.
    * Returns (node, hub_score, auth_score), every node of the graph. */
  def hits(edges: DataFrame, rounds: Int = 2,
           srcCol: String = "src", dstCol: String = "dst",
           weightCol: Option[String] = None): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val ew = Pin(edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("__w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("__w")).cast("decimal(38,0)").as("w"))
      .filter(col("w") > 0))
    val nodes = Pin(ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node"))).distinct())
    val one = lit(1L).cast("decimal(38,0)")
    var hub = nodes.withColumn("hub_score", one)
    var auth = nodes.withColumn("auth_score", one)
    var r = 0
    while (r < rounds) {
      val a = hub.join(ew, hub("node") === ew("src"))
        .select(col("dst"), (col("w") * col("hub_score")).as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__s"))
      // each score frame is read only by the other's next update, so the
      // previous round's pin is dead once that update is materialized
      Pin.release(auth)
      auth = Pin(nodes.join(a, nodes("node") === a("dst"), "left")
        .select(col("node"),
          coalesce(col("__s"), lit(0)).cast("decimal(38,0)").as("auth_score")))
      val h = auth.join(ew, auth("node") === ew("dst"))
        .select(col("src"), (col("w") * col("auth_score")).as("__c"))
        .groupBy(col("src")).agg(sum(col("__c")).as("__s"))
      Pin.release(hub)
      hub = Pin(nodes.join(h, nodes("node") === h("src"), "left")
        .select(col("node"),
          coalesce(col("__s"), lit(0)).cast("decimal(38,0)").as("hub_score")))
      r += 1
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), col("hub_score"), col("auth_score"))
  }

  /** Link prediction by the Resource-Allocation index (Zhou, Lü & Zhang
    * 2009) — "which UNCONNECTED address pairs share suspicious common
    * neighbors": for each non-adjacent pair (x, y),
    *
    *   RA(x, y) = Σ_{z ∈ Γ(x)∩Γ(y)} 1 / deg(z)
    *
    * in integer MICRO-units (`1000000 div deg(z)` — truncating division
    * of positives, engine-exact). RA beats raw common-neighbor counts
    * because a 1M-degree exchange hub connecting two wallets is ~zero
    * evidence (1/1e6 each) while a 3-degree private intermediary is
    * strong evidence — exactly the right forensic weighting, and the same
    * weighting is what makes the operator SAFE at scale:
    *
    * Scale shape: candidate pairs are generated by expanding the
    * neighbor sets of CENTERS z with deg(z) <= maxCenterDeg only. The cut
    * is principled, not a shortcut — a center above the cap contributes
    * < 1e6/maxCenterDeg micro per pair (rounding to ~0) while generating
    * deg² candidates, so high-degree centers cost quadratically and
    * evidence-wise contribute nothing. Per center the expansion is the
    * collect_list → pair-explode shape the dedup family uses (bounded by
    * the cap, never a self-join of the corpus); existing edges drop via
    * one anti-join against the undirected edge set. Returns the top
    * `topK` pairs by (ra_micro, n_common) with a full total-order
    * tiebreak, so the cut is deterministic. */
  def linkPrediction(edges: DataFrame, maxCenterDeg: Int = 64,
                     topK: Int = 20, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame = {
    require(maxCenterDeg >= 2, s"maxCenterDeg must be >= 2, got $maxCenterDeg")
    val und = Pin(undirected(edges, srcCol, dstCol))
    val deg = degrees(und)
    // adjacency of eligible centers: (z, neighbor), deg(z) <= cap
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .union(und.select(col("v").as("z"), col("u").as("n")))
      .join(deg.filter(col("deg") <= maxCenterDeg)
        .select(col("node").as("z"), col("deg")), "z")
    val pairs = adj.groupBy(col("z"), col("deg"))
      .agg(sort_array(collect_list(col("n"))).as("__ns"))
      .select(col("z"), col("deg"), explode(expr(
        """flatten(transform(__ns, (x, i) ->
          |  transform(slice(__ns, i + 2, size(__ns)), y ->
          |    named_struct('x', x, 'y', y))))""".stripMargin)).as("__p"))
      .select(col("__p.x").as("x"), col("__p.y").as("y"),
        expr("1000000 div deg").as("__ra"))
    pairs
      .join(und.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_anti") // already-adjacent pairs are not predictions
      .groupBy(col("x"), col("y"))
      .agg(sum(col("__ra")).as("ra_micro"), count(lit(1)).as("n_common"))
      .orderBy(col("ra_micro").desc, col("n_common").desc, col("x"), col("y"))
      .limit(topK)
  }

  /** Degree-assortativity moments — does the graph wire hub-to-hub
    * (assortative: r > 0, typical of social graphs) or hub-to-leaf
    * (disassortative: r < 0, typical of money-flow star topologies)?
    * Computed over the 2|E| ordered endpoint pairs (deg(a), deg(b)) of the
    * undirected edge set — Newman (2002)'s r is the Pearson correlation of
    * those pairs. Rather than emit a float r (whose sqrt is
    * engine-dependent at ulp level), the operator returns the EXACT
    * integer moment vector and the exact correlation numerator/denominator
    * — r = num / den, den = n·Σx² − (Σx)² (x and y moments coincide by
    * endpoint symmetry) — plus r_milli by sign-split truncating division.
    * All sums ride DECIMAL(38,0): Σ deg·deg over 1e12 edges of 1e7-degree
    * hubs is ~1e26, far past Long.
    *
    * Scale shape: one degree aggregate, two broadcast-sized joins to
    * attach endpoint degrees, one fixed-width (single-row) aggregate —
    * map-side combined, no full-graph shuffle beyond the degree attach. */
  def assortativityMoments(edges: DataFrame, srcCol: String = "src",
                           dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und)
    val ends = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      // both orientations: the (x, y) sample set of Newman's r
      .select(col("du").as("x"), col("dv").as("y"))
      .union(
        und.join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
          .select(col("dv").as("x"), col("du").as("y")))
    val d = "cast(x as decimal(38,0))"
    val dy = "cast(y as decimal(38,0))"
    ends
      .agg(count(lit(1)).as("n_ends"),
        expr(s"sum($d)").as("sum_x"),
        expr(s"sum($d * $d)").as("sum_xx"),
        expr(s"sum($d * $dy)").as("sum_xy"))
      .withColumn("__rn", expr("n_ends * sum_xy - sum_x * sum_x"))
      .withColumn("__rd", expr("n_ends * sum_xx - sum_x * sum_x"))
      .withColumn("r_milli", expr(
        """CASE WHEN __rd = 0 THEN 0
          |     WHEN __rn < 0 THEN -CAST((-__rn) * 1000 div __rd AS BIGINT)
          |     ELSE CAST(__rn * 1000 div __rd AS BIGINT) END""".stripMargin))
      // unbounded-integer fraction emitted as decimal STRINGS at the
      // operator boundary: engines disagree on unbounded-decimal scale
      // canonicalization (DECIMAL(38,0) vs HUGEINT), and every caller
      // that re-derived its own cast re-entered that trap — the bounded
      // r_milli read-out is the numeric form
      .withColumn("r_num", col("__rn").cast("string"))
      .withColumn("r_den", col("__rd").cast("string"))
      .drop("__rn", "__rd")
  }

  /** Newman modularity of a community assignment over the SIMPLE
    * undirected graph (Newman & Girvan 2004) — the standard "is this
    * partition better than chance?" audit for [[labelPropagation]] (or
    * any node→label map): `Q = Σ_c [e_c/m − (d_c/2m)²]`, rewritten as the
    * exact integer fraction `q_num / q_den` with
    * `q_num = Σ_c (4·m·e_c − d_c²)`, `q_den = 4m²` — so two engines agree
    * bit-for-bit with no float summation order to worry about (same
    * discipline as [[assortativityMoments]]). `q_milli` is the sign-split
    * truncating milli read-out; Q ∈ [−1/2, 1) by construction, and > 0.3
    * conventionally reads as real community structure.
    *
    * Unweighted by design: e_c counts distinct intra-community edges of
    * the simple graph and d_c sums simple degrees, even when the LABELS
    * came from a weighted LPA — the audit asks whether the topology
    * supports the partition, and stays comparable across weighting
    * schemes.
    *
    * Scale shape: two |V|-row label equi-joins onto the edge endpoints
    * (broadcast when labels are small, shuffle on node id otherwise —
    * planner's call), two label-keyed map-side-combined aggregates
    * (output ≤ |C| rows each), then a 1-row reduce. No windows, no
    * driver state; the products ride DECIMAL(38,0) so billion-edge
    * graphs (4·m·e_c ~ 4e18) never wrap Long.
    *
    * Returns ONE row: (m, n_comm, sum_e_in, q_num, q_den, q_milli). */
  def modularity(edges: DataFrame, labels: DataFrame,
                 srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = Pin(undirected(edges, srcCol, dstCol))
    val deg = degrees(und)
    val l = labels.select(col("node"), col("label"))
    // intra-community edge count per label: both endpoints carry the label
    val eIn = und
      .join(l.select(col("node").as("u"), col("label").as("__lu")), "u")
      .join(l.select(col("node").as("v"), col("label").as("__lv")), "v")
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("label"))
      .agg(count(lit(1)).as("e_c"))
    // total simple degree per label (covers labels with zero intra edges)
    val dC = deg.join(l, "node")
      .groupBy(col("label")).agg(sum(col("deg")).as("d_c"))
    val m = und.agg(count(lit(1)).as("m"))
    dC.join(eIn, Seq("label"), "left")
      .select(col("label"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
      .crossJoin(broadcast(m))
      .agg(max(col("m")).as("m"), count(lit(1)).as("n_comm"),
        sum(col("e_c")).as("sum_e_in"),
        expr("""sum(4 * cast(m as decimal(38,0)) * e_c
               |    - cast(d_c as decimal(38,0)) * d_c)""".stripMargin).as("__qn"),
        expr("max(4 * cast(m as decimal(38,0)) * m)").as("__qd"))
      .withColumn("q_milli", expr(
        """CASE WHEN __qd IS NULL OR __qd = 0 THEN 0
          |     WHEN __qn < 0 THEN -CAST((-__qn) * 1000 div __qd AS BIGINT)
          |     ELSE CAST(__qn * 1000 div __qd AS BIGINT) END""".stripMargin))
      // string emission at the OPERATOR boundary (see
      // [[assortativityMoments]]): no caller can re-enter the
      // unbounded-decimal canonicalization family; q_milli is the
      // bounded numeric read-out
      .withColumn("q_num", col("__qn").cast("string"))
      .withColumn("q_den", col("__qd").cast("string"))
      .drop("__qn", "__qd")
  }

  /** Per-community conductance φ(C) = cut(C) / min(vol(C), vol_total −
    * vol(C)) over the simple undirected graph — the cut-quality audit
    * that complements [[modularity]]: modularity says a partition beats
    * chance, conductance says WHICH communities leak (low φ = tight).
    * Integer milli with truncating division. One labeled-edge join
    * (each cut edge charged to BOTH sides via a 2-element explode), one
    * degree aggregate per label, a 1-row total — all map-side-combined
    * equi-shuffles on node id / label. */
  def conductance(edges: DataFrame, labels: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = Pin(undirected(edges, srcCol, dstCol))
    val deg = degrees(und)
    val l = labels.select(col("node"), col("label"))
    val cut = und
      .join(l.select(col("node").as("u"), col("label").as("__lu")), "u")
      .join(l.select(col("node").as("v"), col("label").as("__lv")), "v")
      .filter(col("__lu") =!= col("__lv"))
      .select(explode(array(col("__lu"), col("__lv"))).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("cut_edges"))
    val vol = deg.join(l, "node")
      .groupBy(col("label")).agg(sum(col("deg")).as("vol"))
    val m2 = und.agg((count(lit(1)) * 2).as("vol_total"))
    vol.join(cut, Seq("label"), "left")
      .select(col("label"), col("vol"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"))
      .crossJoin(broadcast(m2))
      .withColumn("phi_milli", expr(
        """CASE WHEN least(vol, vol_total - vol) = 0 THEN 0L
          |     ELSE cut_edges * 1000 div least(vol, vol_total - vol)
          |END""".stripMargin))
  }

  /** Modularity-optimizing community moves — the synchronous, fixed-round
    * form of the Louvain local-move phase (Blondel et al. 2008; the
    * synchronous parallelization is the standard distributed variant, cf.
    * Que et al. 2015 "Scalable Community Detection with the Louvain
    * Algorithm"). Each round EVERY node evaluates, for each community c
    * found among its neighbors (plus staying put), the modularity gain of
    * joining c with itself removed from its current community first:
    *
    *   gain(i→c) ∝ 2m·k_{i,in}(c) − k_i·(Σtot(c) − [c = c_i]·k_i)
    *
    * (the classic ΔQ multiplied through by the positive constant 2m², so
    * the argmax is over EXACT integers — no float, no 1/2m² rounding),
    * and adopts the argmax, ties toward the SMALLEST community label.
    * Moves are gated by node-id PARITY alternating per round (round r
    * moves only nodes with node mod 2 = r mod 2) — the 2-coloring form
    * of the conflict-serialization every parallel Louvain needs (cf.
    * Halappanavar et al., Grappolo: simultaneous moves of adjacent nodes
    * swap-oscillate on symmetric structure; a two-triangle graph never
    * converges without it). Parity + fixed rounds makes the output a
    * pure function of the graph — reproducible across engines,
    * partitionings, and retries, the same contract as [[labelPropagation]]
    * (whose weight-majority vote this upgrades to a modularity objective).
    * The default rounds = 2 gives each color class exactly one move.
    * For the multilevel hierarchy, compose with [[coarsen]]: contract by
    * these labels, re-run on the super-graph (weights = collapsed edge
    * weights, self-loops = intra-community mass), refine.
    *
    * Scale shape, per round: one equi-join of the |V|-row label frame onto
    * the pinned symmetrized edge list (shuffle on the node id; broadcast
    * when labels fit) + one (node, community) map-side-combined aggregate
    * (output ≤ |E| collapsing toward |V|) + two |C|-bounded aggregates for
    * the community totals + one argmax via max-of-struct — never a window
    * sort. Gains ride DECIMAL(38,0): 2m ≤ ~1e14 at 100 TB and k_in ≤ 1e13
    * put the product at ~1e27, far past Long but well inside 38 digits.
    * Lineage truncated per round; driver state zero.
    *
    * Returns one row per node: (node, label). */
  def louvainMove(edges: DataFrame, rounds: Int = 2,
                  srcCol: String = "src", dstCol: String = "dst",
                  weightCol: Option[String] = None): DataFrame =
    louvainMoveSym(symmetrizeWeighted(edges, srcCol, dstCol, weightCol), rounds)

  /** [[louvainMove]] over a pre-built [[symmetrizeWeighted]] frame
    * (`sym(a, b, w)`, already pinned): k_i and Σtot read straight off
    * `sym`, and Σ_i k_i = 2m exactly. */
  private[graft] def louvainMoveSym(sym: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val deg = Pin(sym.groupBy(col("a")).agg(sum(col("w")).as("k")))
    // 2m as a 1-row broadcast — the only "global" the gain needs
    val m2 = deg.agg(sum(col("k")).as("__m2"))
    Pin.rounds(deg.select(col("a").as("node"), col("a").as("label")), rounds) { (labels, r) =>
      val par = r % 2
      // k_{i,in}(c): weight from MOVER node a into community c among its
      // neighbors; the union row (a, own, 0) keeps the STAY candidate
      // alive when a has no neighbor in its own community. The parity
      // filter lands BEFORE the aggregate — half the graph per round.
      val kin = sym.filter(pmod(col("a"), lit(2L)) === lit(par.toLong))
        .join(labels.select(col("node").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label")).agg(sum(col("w")).as("kin"))
        .unionByName(labels
          .filter(pmod(col("node"), lit(2L)) === lit(par.toLong))
          .select(col("node").as("a"), col("label"), lit(0L).as("kin")))
        .groupBy(col("a"), col("label")).agg(sum(col("kin")).as("kin"))
      // community state (totals, membership) reads ALL nodes
      val tot = labels.join(deg, labels("node") === deg("a"))
        .groupBy(col("label")).agg(sum(col("k")).as("tot"))
      val own = labels.select(col("node").as("a"), col("label").as("__own"))
      val moved = kin
        .join(tot, "label")
        .join(deg, "a")
        .join(own, "a")
        .crossJoin(broadcast(m2))
        .withColumn("__gain", expr(
          """cast(__m2 as decimal(38,0)) * kin
            |  - cast(k as decimal(38,0)) *
            |      (tot - CASE WHEN label = __own THEN k ELSE 0 END)""".stripMargin))
        // argmax by (gain, smallest label) — min-of-struct, no window
        .groupBy(col("a"))
        .agg(max(struct(col("__gain"), (-col("label")).as("__nl"))).as("__m"))
        .select(col("a").as("node"), (-col("__m.__nl")).as("label"))
      labels
        .filter(pmod(col("node"), lit(2L)) =!= lit(par.toLong))
        .unionByName(moved)
    }
  }

  /** Pivot-sampled harmonic centrality (Boldi & Vigna 2014, "Axioms for
    * Centrality": harmonic = Σ_u 1/d(u,v) is the closeness variant that
    * stays well-defined on disconnected graphs) — estimated from a SMALL
    * deterministic pivot set with a FIXED hop horizon, the standard
    * sampling estimator (Eppstein & Wang 2004) production graph systems
    * run when |V| makes all-pairs BFS impossible:
    *
    *   harmonic_micro(v) = Σ_{p ∈ pivots, 0 < d(p,v) ≤ hops} 1e6 div d(p,v)
    *
    * Exact integer read-out (1e6 div d — no float), so engines replaying
    * the same level-synchronous BFS agree bit-for-bit.
    *
    * Scale shape: the distance table is |pivots|·|V| bounded, keyed on
    * the node id; per hop ONE frontier⋈edges equi-join + one
    * (pivot, node) min-aggregate, map-side combined; fixed `hops` rounds
    * (the horizon is part of the contract, like [[pagerank]]'s fixed
    * iterations); lineage truncated per round, zero driver state. Pivot
    * choice is the caller's (degree-ordered works well); keep |pivots|
    * small — cost is |pivots| BFS frontiers sharing each round's join.
    *
    * Returns one row per node reached by ≥1 pivot in 1..hops hops:
    * (node, harmonic_micro, n_reached). */
  def harmonicCentrality(edges: DataFrame, pivots: DataFrame, hops: Int = 3,
                         srcCol: String = "src", dstCol: String = "dst",
                         pivotCol: String = "node"): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    // undirected hop adjacency (distances ignore direction and weight);
    // the distinct-pair projection runs ONCE, both directions union it
    val und0 = Pin(undirected(edges, srcCol, dstCol))
    val adj = Pin(und0.select(col("u").as("a"), col("v").as("b"))
      .unionByName(und0.select(col("v").as("a"), col("u").as("b"))))
    val dist0 = Pin(pivots.select(col(pivotCol).cast("long").as("p"))
      .distinct()
      .select(col("p"), col("p").as("v"), lit(0L).as("d")))
    Pin.rounds(dist0, hops) { (dist, _) =>
      dist
        .join(adj, dist("v") === adj("a"))
        .select(col("p"), col("b").as("v"), (col("d") + 1L).as("d"))
        .unionByName(dist)
        .groupBy(col("p"), col("v")).agg(min(col("d")).as("d"))
    }.filter(col("d") > 0)
      .groupBy(col("v").as("node"))
      .agg(sum(expr("1000000 div d")).as("harmonic_micro"),
        count(lit(1)).as("n_reached"))
  }

  /** Pivot-sampled betweenness centrality — Brandes' dependency
    * accumulation (Brandes 2001) from a small deterministic pivot set
    * with a FIXED hop horizon (the k-pivot estimator of Brandes & Pich
    * 2007). Forward: level-synchronous BFS from every pivot computing
    * d(p,v) and the shortest-path counts σ(p,v) (σ sums over
    * predecessors — exact integers). Backward, from the horizon down:
    *
    *   δ(p,v) = Σ_{w: d(w) = d(v)+1, v~w} (σ(v)/σ(w)) · (1 + δ(p,w))
    *
    * in micro fixed-point: (σ_v · (1e6 + δ_micro(w))) div σ_w — the only
    * division is a truncating div of non-negative integers, so both
    * engines replay the levels bit-for-bit. bc_micro(v) = Σ_p δ(p,v)
    * over non-pivot-endpoint pairs — the standard "how much shortest-path
    * flow crosses v" forensics ranking (the within-horizon estimate;
    * paths longer than `hops` contribute nothing, which is also the
    * production regime — influence beyond a few hops is noise at 100 TB).
    *
    * Scale shape: dist/σ/δ tables are |pivots|·|V| bounded; per level ONE
    * frontier⋈edges equi-join + one map-side-combined aggregate, forward
    * and backward both fixed at `hops` levels; lineage truncated per
    * level; no windows, no driver state.
    *
    * Returns (node, bc_micro) for every node with positive dependency. */
  def betweennessPivot(edges: DataFrame, pivots: DataFrame, hops: Int = 3,
                       srcCol: String = "src", dstCol: String = "dst",
                       pivotCol: String = "node"): DataFrame = {
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val und0 = undirected(edges, srcCol, dstCol)
    val adj = Pin(und0.select(col("u").as("a"), col("v").as("b"))
      .unionByName(und0.select(col("v").as("a"), col("u").as("b"))))
    // forward: levels[h] = (p, v, sigma) for nodes FIRST reached at hop h
    val l0 = Pin(pivots.select(col(pivotCol).cast("long").as("p")).distinct()
      .select(col("p"), col("p").as("v"), lit(1L).as("sigma")))
    // r16 (r15 verdict #8): the visited set is a LAZY union of the pinned
    // level frames — the r15 form re-checkpointed the growing union every
    // level, materializing |seen| rows per hop (quadratic total bytes) and
    // paying one extra blocking job per level; the anti-join reads the
    // identical set either way since every component is already pinned
    var seen = l0.select(col("p"), col("v"))
    var frontier = l0
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](l0)
    var h = 1
    while (h <= hops) {
      val cand = frontier.join(adj, frontier("v") === adj("a"))
        .groupBy(col("p"), col("b").as("w"))
        .agg(sum(col("sigma")).as("sigma"))
      val next = Pin(cand
        .join(seen.select(col("p"), col("v").as("w")),
          Seq("p", "w"), "left_anti")
        .select(col("p"), col("w").as("v"), col("sigma")))
      levels += next
      seen = seen.unionByName(next.select(col("p"), col("v")))
      frontier = next
      h += 1
    }
    // backward: δ at the horizon is 0; accumulate level h-1 from level h
    var delta = levels(hops)
      .select(col("p"), col("v"), lit(0L).as("delta_micro"))
    var acc: DataFrame = null
    h = hops - 1
    while (h >= 0) {
      val cur = levels(h)
      // (p, w, σw, δw) for the level-(h+1) nodes, then walk each edge
      // w→b back; only b at level h (the join against cur) carries
      // dependency — that join IS the d(b) = d(w) − 1 predecessor test
      val up = delta
        .join(levels(h + 1).select(col("p"), col("v"), col("sigma").as("__sw")),
          Seq("p", "v"))
        .select(col("p"), col("v").as("__w"), col("__sw"),
          col("delta_micro").as("__dw"))
      val contrib = up
        .join(adj, up("__w") === adj("a"))
        .select(col("p"), col("b").as("__vprev"), col("__sw"), col("__dw"))
        .join(cur.select(col("p"), col("v").as("__vprev"),
          col("sigma").as("__sv")), Seq("p", "__vprev"))
        .select(col("p"), col("__vprev").as("v"),
          expr("(__sv * (1000000 + __dw)) div __sw").as("__c"))
        .groupBy(col("p"), col("v")).agg(sum(col("__c")).as("delta_micro"))
      val curDelta = Pin(cur.select(col("p"), col("v"))
        .join(contrib, Seq("p", "v"), "left")
        .select(col("p"), col("v"),
          coalesce(col("delta_micro"), lit(0L)).as("delta_micro")))
      acc = if (acc == null) curDelta.filter(col("v") =!= col("p"))
        else acc.unionByName(curDelta.filter(col("v") =!= col("p")))
      delta = curDelta
      h -= 1
    }
    acc.groupBy(col("v").as("node"))
      .agg(sum(col("delta_micro")).as("bc_micro"))
      .filter(col("bc_micro") > 0)
  }
}

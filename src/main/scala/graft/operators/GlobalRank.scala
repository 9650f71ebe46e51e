package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** Scale-safe EXACT global ranking: the two-phase alternative to
  * `row_number().over(Window.orderBy(...))`, which Spark executes by
  * moving the ENTIRE input through one task (WindowExec warns exactly
  * this) — the classic 100-TB cliff hiding inside a correct small-scale
  * plan.
  *
  * Phase shape (all declarative, all codegen'd):
  *
  *   1. `repartitionByRange(orderCols)` — range-shuffle so partition i
  *      holds a contiguous slice of the total order (RangePartitioner
  *      boundaries from a deterministic-seed sample; slice boundaries
  *      don't affect the result, only balance). A [[graft.Pin]]
  *      pins the partitioning so the two consumers below can NEVER see
  *      different boundaries (cheaper and stricter than relying on
  *      exchange reuse).
  *   2. per-partition `row_number()` over a window PARTITIONED by
  *      `spark_partition_id()` — 32…N concurrent sorts of one slice
  *      each, never a single task.
  *   3. per-partition counts → cumulative offsets: an aggregate with ≤
  *      one row PER PARTITION, then an unpartitioned running-sum window
  *      over that dimension-sized frame (the one place a global window
  *      is legitimate: its input is already ≤ numShufflePartitions
  *      rows).
  *   4. broadcast the offsets back onto the slices:
  *      `global_rank = offset(pid) + local_rank`.
  *
  * The ranks are IDENTICAL to the single-task form for a total order
  * (callers pass a unique tiebreak column, so the order is total) —
  * same oracles keep passing — but the plan survives a 1000-executor
  * 100-TB input: two distributed shuffles of the narrow projection
  * instead of one all-to-one-task sort.
  */
object GlobalRank {

  /** Small-input dispatch bound shared by every two-phase helper here —
    * the same adaptive pattern (and the same 64 MB default) as
    * [[BandedRange.peersWithin]] (r15): below this Catalyst
    * optimized-plan size estimate the helper takes Spark's native window
    * — one exchange + one sort, the optimal plan while the whole input
    * fits a handful of tasks, and the exact semantic reference every
    * two-phase form is property-tested against. Above it the two-phase
    * forms below run — the plans that survive a low-cardinality group
    * key (or a global order) at 100 TB. Both branches return identical
    * rows; pass `smallInputBytes = 0` to pin the two-phase plan (the
    * scale gates and PropertiesSpec do). The check
    * costs no job: `optimizedPlan.stats` is pure Catalyst estimation,
    * and for an already-materialized localCheckpoint input the actual
    * block-manager footprint is read instead (driver-side metadata). */
  val SmallInputBytesDefault: Long = 64L << 20

  /** Expansion factor applied to a FILE-SCAN leaf estimate: Catalyst's
    * sizeInBytes for a file relation is the COMPRESSED on-disk byte count,
    * while the native window branch sorts DECODED in-memory rows —
    * typically 3-5x larger (parquet encodings + general compression). The
    * r15 decade gate caught exactly this under-estimate: a sub-bound sf1
    * scan estimate drove agg_approx_percentile through a ~5 s single-task
    * native window (6.3x wall per 10x data) one decade before the raw
    * estimate would have crossed the bound on its own. */
  private[graft] val ScanExpansionFactor = 4
  /** Expansion factor applied to a pinned input's block-manager footprint:
    * spilled blocks are serialized (and object-size accounting differs
    * from the window sort's working set), so the raw byte count can sit a
    * small factor below in-memory reality (r15 ADVICE). */
  private[graft] val PinnedExpansionFactor = 2

  /** Trustworthy UPPER bound on the in-memory bytes of `p`'s output, or
    * None when no such bound exists — join-derived (output can explode
    * past any product of the inputs the planner guesses), generator
    * fan-out, projections computing a variable-width (string, binary,
    * array, map) column, unknown operators. The
    * r15 dispatch trusted `optimizedPlan.stats.sizeInBytes` for every
    * non-pinned input; a single UNDER-estimate routes corpus-scale data
    * through the native partition-less window — the exact single-task
    * OOM cliff these helpers exist to prevent (r15 verdict #1). This walk
    * only ever propagates bounds that are provably size-non-increasing
    * (filter, pruning projection, aggregate, limit, semi/anti join's left
    * side) or scaled by a structural factor (Expand, fixed-width computed
    * columns), and FAILS TOWARD None — the caller then keeps the
    * two-phase branch, which is always correct, merely less optimal for
    * genuinely small inputs. */
  private def sizeUpperBound(df: DataFrame,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, MapType,
      StringType, StructType, UserDefinedType, VariantType}
    // a value with a static width bound: atomic types except the
    // variable-length string and binary, and structs of such types
    def fixedWidth(t: DataType): Boolean = t match {
      case _: StringType | BinaryType | _: ArrayType | _: MapType | _: VariantType => false
      case st: StructType => st.fields.forall(f => fixedWidth(f.dataType))
      case u: UserDefinedType[_] => fixedWidth(u.sqlType)
      case _ => true
    }
    def bound(p: LogicalPlan): Option[BigInt] = p match {
      // a pinned (localCheckpoint) input is already materialized: its
      // ACTUAL block-manager footprint is available driver-side at no job
      // cost and beats any estimate in BOTH directions (r15: the
      // perplexity gate's per-doc scores carried a corpus⋈LM-inflated
      // estimate and two-phased a 2 MB input; conversely a join-derived
      // frame with a deflated estimate must not ride the native window)
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id).filter(_.isCached)
          .map(i => BigInt(i.memSize + i.diskSize) * PinnedExpansionFactor)
      // driver-local literal data: stats are computed from the actual rows
      case _: LocalRelation => Some(p.stats.sizeInBytes)
      case _: Range => Some(p.stats.sizeInBytes)
      // file-relation leaves: compressed bytes -> in-memory expansion
      case leaf: LeafNode => Some(leaf.stats.sizeInBytes * ScanExpansionFactor)
      // size-non-increasing: rows can only shrink, columns unchanged.
      // NOTE: deliberately NOT taking Catalyst's filter/projection
      // REDUCTION (selectivity or width-ratio guesses under-estimate —
      // the retained column can hold 95% of the bytes); the child bound
      // passes through unreduced, erring toward two-phase.
      case f: Filter => bound(f.child)
      case s: Sort => bound(s.child)
      case l: GlobalLimit => bound(l.child)
      case l: LocalLimit => bound(l.child)
      case s: Sample => bound(s.child)
      case r: RepartitionOperation => bound(r.child)
      case r: RebalancePartitions => bound(r.child)
      case d: Deduplicate => bound(d.child)
      case a: SubqueryAlias => bound(a.child)
      case h: ResolvedHint => bound(h.child)
      // aggregation: output rows <= child rows; the group keys ride in at
      // most one child row-copy and each aggregate adds at most one more
      // (a fixed-width value, or a collect_* redistribution of child
      // bytes), so scale by (1 + number of aggregates)
      case a: Aggregate =>
        val aggregates =
          a.aggregateExpressions.count(_.exists(_.isInstanceOf[AggregateExpression]))
        bound(a.child).map(_ * (1 + aggregates))
      // projection: row count unchanged. Attribute passthroughs cannot
      // grow a row; each computed FIXED-WIDTH column adds at most one
      // row-copy's worth of bytes (8-16 B against a >= 8 B/field child
      // row), so scale by (1 + k). A computed string, binary, array or map
      // column (or a struct holding one) has no static width bound
      // (repeat/concat/sequence/split can dwarf the input row) — no bound,
      // fail toward two-phase.
      case pr: Project =>
        val computed = pr.projectList.filter {
          case _: Attribute => false
          case Alias(_: Attribute, _) => false
          case _ => true
        }
        if (!computed.forall(e => fixedWidth(e.dataType))) None
        else bound(pr.child).map(_ * (1 + computed.size))
      // window: like a computed projection — adds one column per window
      // expression over unchanged rows
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        if (!w.windowExpressions.forall(e => fixedWidth(e.dataType))) None
        else bound(w.child).map(_ * (1 + w.windowExpressions.size))
      case e: Expand => bound(e.child).map(_ * math.max(1, e.projections.size))
      case u: Union =>
        val bs = u.children.map(bound)
        if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
      // semi/anti join output is a subset of the LEFT side; every other
      // join type can explode past any static bound — EXCEPT a join whose
      // other side provably holds at most ONE row of fixed-width columns
      // (a keyless aggregate: the broadcast-a-scalar-threshold idiom),
      // where output rows equal the data side's and each row gains at most
      // a full row-copy's worth (x2)
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        bound(j.left)
      case j: Join =>
        def oneFixedRow(p: LogicalPlan): Boolean =
          p.maxRows.contains(1L) && p.output.forall(a => fixedWidth(a.dataType))
        if (oneFixedRow(j.right)) bound(j.left).map(_ * 2)
        else if (oneFixedRow(j.left)) bound(j.right).map(_ * 2)
        else None
      case _ => None
    }
    bound(p)
  }

  /** Dispatch predicate shared by every two-phase helper here and by
    * [[BandedRange.peersWithin]]: true only when a TRUSTWORTHY upper
    * bound on the input's in-memory size exists and sits under
    * `smallInputBytes` — join-derived or otherwise unboundable inputs
    * fail toward the two-phase branch (never the single-task native
    * window). Driver-side metadata only; costs no job. */
  private[operators] def isSmall(df: DataFrame, smallInputBytes: Long): Boolean = {
    if (smallInputBytes <= 0) return false
    sizeUpperBound(df, df.queryExecution.optimizedPlan)
      .exists(_ <= BigInt(smallInputBytes))
  }

  /** Append `rnCol` = the exact 1-based global row number of each row
    * under the total order `orderCols` (callers must include a unique
    * tiebreak column so the order is total — otherwise ties are broken
    * by partition placement). */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
                      rnCol: String,
                      smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(orderCols.nonEmpty, "globalRowNumber needs at least one order column")
    if (isSmall(df, smallInputBytes))
      return df.withColumn(rnCol,
        row_number().over(Window.orderBy(orderCols: _*)).cast("long"))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = Pin(df.repartitionByRange(nParts, orderCols: _*)
      .withColumn("__gr_pid", spark_partition_id()))
    val local = ranged.withColumn("__gr_lrn", row_number()
      .over(Window.partitionBy(col("__gr_pid")).orderBy(orderCols: _*))
      .cast("long"))
    // one row per shuffle partition — dimension-sized by construction,
    // so the running-sum window below is NOT a corpus-sized global sort
    val offsets = ranged.groupBy(col("__gr_pid"))
      .agg(count(lit(1)).as("__gr_cnt"))
      .withColumn("__gr_off", coalesce(
        sum(col("__gr_cnt")).over(Window.orderBy(col("__gr_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gr_pid"), col("__gr_off"))
    local.join(broadcast(offsets), Seq("__gr_pid"))
      .withColumn(rnCol, col("__gr_off") + col("__gr_lrn"))
      .drop("__gr_pid", "__gr_lrn", "__gr_off")
  }

  /** Grouped form of [[globalRowNumber]]: exact 1-based row number WITHIN
    * each group under the total order `orderCols` — the scale-safe
    * replacement for `row_number().over(Window.partitionBy(lowCardCol)
    * .orderBy(...))` when the partition key has FAR fewer distinct values
    * than the cluster has cores (e.g. 5 order priorities): Spark plans
    * that as one task per key, each sorting ~N/5 of the corpus — the same
    * 100-TB cliff as the global window, five times over.
    *
    * Same two-phase shape, group-aware: range-shuffle on (group, order)
    * so every partition holds a contiguous slice of ONE OR MORE groups'
    * total orders; per-(pid, group) local row numbers (balanced concurrent
    * sorts); per-(pid, group) counts → per-group running offsets over the
    * pid axis (the offsets table is ≤ nParts + Σ|groups| rows — each
    * partition spans a contiguous group range, so it meets at most
    * (its groups) keys); broadcast add-back on (pid, group).
    *
    * Contract: intended for group cardinality ≪ parallelism (the offsets
    * ride a broadcast). High-cardinality groups don't need this — the
    * plain partitioned window is already balanced there. */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String],
                       orderCols: Seq[Column], rnCol: String,
                       smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(groupCols.nonEmpty, "groupedRowNumber needs group columns" +
      " (use globalRowNumber for the ungrouped form)")
    require(orderCols.nonEmpty, "groupedRowNumber needs at least one order column")
    if (isSmall(df, smallInputBytes))
      return df.withColumn(rnCol, row_number()
        .over(Window.partitionBy(groupCols.map(col).toIndexedSeq: _*)
          .orderBy(orderCols: _*)).cast("long"))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gCols = groupCols.map(col)
    val ranged = Pin(df.repartitionByRange(nParts, gCols ++ orderCols: _*)
      .withColumn("__gg_pid", spark_partition_id()))
    val local = ranged.withColumn("__gg_lrn", row_number()
      .over(Window.partitionBy(col("__gg_pid") +: gCols: _*).orderBy(orderCols: _*))
      .cast("long"))
    // ≤ nParts + #groups rows (contiguous group ranges per partition);
    // the running sum below is per-GROUP over the pid axis — both
    // dimensions bounded, never a corpus-sized window
    val offsets = ranged.groupBy(col("__gg_pid") +: gCols: _*)
      .agg(count(lit(1)).as("__gg_cnt"))
      .withColumn("__gg_off", coalesce(
        sum(col("__gg_cnt")).over(Window.partitionBy(gCols: _*)
          .orderBy(col("__gg_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__gg_pid").as("__gg_pid2") +:
        groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__gg_g$i") } :+
        col("__gg_off"): _*)
    // NULL-SAFE add-back: a plain equi-join would silently DROP every row
    // whose group key is null (null ≠ null) — the ranks for the null
    // group are as real as any other's
    val cond = (col("__gg_pid") === col("__gg_pid2")) +:
      groupCols.zipWithIndex.map { case (c, i) => col(c) <=> col(s"__gg_g$i") }
    local.join(broadcast(offsets), cond.reduce(_ && _))
      .withColumn(rnCol, col("__gg_off") + col("__gg_lrn"))
      .drop("__gg_pid" +: "__gg_pid2" +: "__gg_lrn" +: "__gg_off" +:
        groupCols.indices.map(i => s"__gg_g$i"): _*)
  }

  /** Tie-aware `rank` / `dense_rank` within groups in ONE two-phase pass —
    * never a per-group single-task sort, and (since r12) never a second
    * ranged materialization either:
    *
    *   - `rank`  = min row number over the row's PEER set (rows equal on
    *     `peerCols` within the group) — exactly SQL rank's "1 + rows
    *     strictly before".
    *   - `dense_rank` = the peer set's 1-based index in peer-set order.
    *
    * `orderCols` must START with the peer sort (one entry per element of
    * `peerCols`, direction included) followed by a unique tiebreak, so the
    * order is total and consistent with the peer order.
    *
    * Shape: one range shuffle on (group ++ orderCols); per-(pid, group)
    * windows compute the local row number, local rank (rank() over the
    * peer-order prefix — equal peers tie) and local dense rank IN THE
    * SAME sort, pinned by a single [[graft.Pin]] AFTER the
    * windows (both consumers need the local ranks — pinning upstream
    * would run the window pass twice); a dimension-sized offsets table
    * (≤ nParts + Σ|groups| rows) carries per-slice row and distinct-peer
    * counts plus the boundary stitching for peer sets that SPAN slice
    * boundaries:
    *
    *   - `cont(p)`  — slice p's first peer equals slice p−1's last peer
    *     (null-safe struct compare): that peer set was already counted, so
    *     the dense offset subtracts one per continuation, and the rank of
    *     that set's rows is NOT off(p)+1 but the rank where the run began.
    *   - `cand(p)`  — off(p) + local start of p's LAST peer, valid only if
    *     that peer actually starts inside p (local start > 1, or p is not
    *     itself a continuation). The run-begin rank for a continued first
    *     peer is the latest valid candidate among earlier slices
    *     (`last(..., ignoreNulls)` over the pid axis — slices interior to
    *     a multi-slice peer run are single-peer continuations and emit no
    *     candidate, so the stitch is exact across any run length).
    *
    * Adds `rankCol`/`denseRankCol`; the only corpus-sized ops are the one
    * range exchange and the broadcast add-back on (pid, group). */
  /** The LOCAL phase of [[groupedRankDense]] as a pure (un-materialized)
    * plan: range shuffle + per-(pid, group) windows. Package-private so
    * PlanSpec can lock the pid-partitioned window shape — the operator
    * itself checkpoints this result, which hides the interior plan from
    * the final executedPlan. */
  private[graft] def groupedRankDenseLocal(df: DataFrame,
                                           groupCols: Seq[String],
                                           peerCols: Seq[String],
                                           orderCols: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "groupedRankDense needs group columns")
    require(peerCols.nonEmpty, "groupedRankDense needs peer columns")
    require(orderCols.size > peerCols.size,
      "orderCols must be the peer sort plus a unique tiebreak")
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gCols = groupCols.map(col)
    val peerOrder = orderCols.take(peerCols.size)
    val ranged = df.repartitionByRange(nParts, gCols ++ orderCols: _*)
      .withColumn("__gd_pid", spark_partition_id())
    val wFull = Window.partitionBy(col("__gd_pid") +: gCols: _*)
      .orderBy(orderCols: _*)
    // peer-order prefix of the same sort: rank() ties equal peers (= local
    // peer-set start), dense_rank() numbers local peer sets — both ride
    // the wFull exchange and sort (prefix-compatible ordering)
    val wPeer = Window.partitionBy(col("__gd_pid") +: gCols: _*)
      .orderBy(peerOrder: _*)
    ranged
      .withColumn("__gd_lrn", row_number().over(wFull).cast("long"))
      .withColumn("__gd_lrank", rank().over(wPeer).cast("long"))
      .withColumn("__gd_ldr", dense_rank().over(wPeer).cast("long"))
  }

  def groupedRankDense(df: DataFrame, groupCols: Seq[String],
                       peerCols: Seq[String], orderCols: Seq[Column],
                       rankCol: String, denseRankCol: String,
                       smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(groupCols.nonEmpty, "groupedRankDense needs group columns")
    require(peerCols.nonEmpty, "groupedRankDense needs peer columns")
    require(orderCols.size > peerCols.size,
      "orderCols must be the peer sort plus a unique tiebreak")
    if (isSmall(df, smallInputBytes)) {
      // rank/dense_rank order by the PEER sort only (ties ARE the peers)
      val wPeer = Window.partitionBy(groupCols.map(col).toIndexedSeq: _*)
        .orderBy(orderCols.take(peerCols.size): _*)
      return df.withColumn(rankCol, rank().over(wPeer).cast("long"))
        .withColumn(denseRankCol, dense_rank().over(wPeer).cast("long"))
    }
    val gCols = groupCols.map(col)
    val pCols = peerCols.map(col)
    // checkpoint AFTER the windows: both consumers (offsets aggregate and
    // the add-back join) need the local ranks, so pinning upstream would
    // run the window pass twice
    val local = Pin(groupedRankDenseLocal(df, groupCols, peerCols, orderCols))
    val peerStruct = struct(pCols: _*)
    val offsets0 = local.groupBy(col("__gd_pid") +: gCols: _*)
      .agg(count(lit(1)).as("__gd_cnt"),
        max(col("__gd_ldr")).as("__gd_dcnt"),
        min_by(peerStruct, col("__gd_lrn")).as("__gd_fp"),
        max_by(peerStruct, col("__gd_lrn")).as("__gd_lp"),
        max_by(col("__gd_lrank"), col("__gd_lrn")).as("__gd_lstart"))
    val wg = Window.partitionBy(gCols: _*).orderBy(col("__gd_pid"))
    val wgPrev = wg.rowsBetween(Window.unboundedPreceding, -1)
    val offsets = offsets0
      .withColumn("__gd_off", coalesce(sum(col("__gd_cnt")).over(wgPrev), lit(0L)))
      // first slice of a group: lag is null, <=> against a non-null
      // struct is false — exactly "no continuation"
      .withColumn("__gd_cont", col("__gd_fp") <=> lag(col("__gd_lp"), 1).over(wg))
      .withColumn("__gd_doff",
        coalesce(sum(col("__gd_dcnt")).over(wgPrev), lit(0L))
          - sum(col("__gd_cont").cast("long"))
            .over(wg.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__gd_cand",
        when(col("__gd_lstart") > 1 || !col("__gd_cont"),
          col("__gd_off") + col("__gd_lstart")))
      .withColumn("__gd_brank", last(col("__gd_cand"), ignoreNulls = true).over(wgPrev))
      .select(col("__gd_pid").as("__gd_pid2") +:
        groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__gd_g$i") } :+
        col("__gd_off") :+ col("__gd_cont") :+ col("__gd_doff") :+
        col("__gd_brank"): _*)
    // NULL-SAFE add-back (a plain equi-join would drop null group keys)
    val cond = (col("__gd_pid") === col("__gd_pid2")) +:
      groupCols.zipWithIndex.map { case (c, i) => col(c) <=> col(s"__gd_g$i") }
    local.join(broadcast(offsets), cond.reduce(_ && _))
      .withColumn(rankCol,
        when(col("__gd_lrank") === 1 && col("__gd_cont"), col("__gd_brank"))
          .otherwise(col("__gd_off") + col("__gd_lrank")))
      .withColumn(denseRankCol, col("__gd_doff") + col("__gd_ldr"))
      .drop("__gd_pid" +: "__gd_pid2" +: "__gd_lrn" +: "__gd_lrank" +:
        "__gd_ldr" +: "__gd_off" +: "__gd_cont" +: "__gd_doff" +:
        "__gd_brank" +: groupCols.indices.map(i => s"__gd_g$i"): _*)
  }

  /** Grouped form of [[globalPrefixSum]]: exact inclusive prefix sum of
    * `valueCol` WITHIN each group under the total order `orderCols` —
    * the scale-safe replacement for `sum().over(Window.partitionBy(
    * lowCardCol).orderBy(...))` when the partition key has far fewer
    * distinct values than the cluster has cores. Same two-phase shape as
    * [[groupedRowNumber]] with DECIMAL(38,0) sums in place of counts;
    * the add-back join is null-safe for the same reason. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       orderCols: Seq[Column], valueCol: String,
                       cumCol: String,
                       smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(groupCols.nonEmpty, "groupedPrefixSum needs group columns" +
      " (use globalPrefixSum for the ungrouped form)")
    require(orderCols.nonEmpty, "groupedPrefixSum needs at least one order column")
    if (isSmall(df, smallInputBytes))
      return df.withColumn(cumCol, sum(col(valueCol).cast("decimal(38,0)"))
        .over(Window.partitionBy(groupCols.map(col).toIndexedSeq: _*)
          .orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gCols = groupCols.map(col)
    val ranged = Pin(df.repartitionByRange(nParts, gCols ++ orderCols: _*)
      .withColumn("__gs_pid", spark_partition_id()))
    val local = ranged.withColumn("__gs_lcs",
      sum(col(valueCol).cast("decimal(38,0)"))
        .over(Window.partitionBy(col("__gs_pid") +: gCols: _*)
          .orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = ranged.groupBy(col("__gs_pid") +: gCols: _*)
      .agg(sum(col(valueCol).cast("decimal(38,0)")).as("__gs_tot"))
      .withColumn("__gs_off", coalesce(
        sum(col("__gs_tot")).over(Window.partitionBy(gCols: _*)
          .orderBy(col("__gs_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L).cast("decimal(38,0)")))
      .select(col("__gs_pid").as("__gs_pid2") +:
        groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__gs_g$i") } :+
        col("__gs_off"): _*)
    val cond = (col("__gs_pid") === col("__gs_pid2")) +:
      groupCols.zipWithIndex.map { case (c, i) => col(c) <=> col(s"__gs_g$i") }
    local.join(broadcast(offsets), cond.reduce(_ && _))
      .withColumn(cumCol, col("__gs_off") + col("__gs_lcs"))
      .drop("__gs_pid" +: "__gs_pid2" +: "__gs_lcs" +: "__gs_off" +:
        groupCols.indices.map(i => s"__gs_g$i"): _*)
  }

  /** Append `cumCol` = the exact inclusive prefix sum of `valueCol` under
    * the total order `orderCols` — [[globalRowNumber]]'s two-phase shape
    * with sums in place of counts: range-shuffle, per-slice running sums
    * (pid-partitioned window, never one task), per-slice totals →
    * dimension-sized offset window, broadcast add-back. Sums ride
    * DECIMAL(38,0) so corpus-scale weights can't wrap; the result is
    * identical to the single-task `sum().over(Window.orderBy(...))` form.
    * The primitive behind cumulative-share curves and systematic /
    * PPS sampling ([[graft.llm.Sampling.ppsSystematic]]). */
  def globalPrefixSum(df: DataFrame, orderCols: Seq[Column],
                      valueCol: String, cumCol: String,
                      smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(orderCols.nonEmpty, "globalPrefixSum needs at least one order column")
    if (isSmall(df, smallInputBytes))
      return df.withColumn(cumCol, sum(col(valueCol).cast("decimal(38,0)"))
        .over(Window.orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = Pin(df.repartitionByRange(nParts, orderCols: _*)
      .withColumn("__gp_pid", spark_partition_id()))
    val local = ranged.withColumn("__gp_lcs",
      sum(col(valueCol).cast("decimal(38,0)"))
        .over(Window.partitionBy(col("__gp_pid")).orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val offsets = ranged.groupBy(col("__gp_pid"))
      .agg(sum(col(valueCol).cast("decimal(38,0)")).as("__gp_tot"))
      .withColumn("__gp_off", coalesce(
        sum(col("__gp_tot")).over(Window.orderBy(col("__gp_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L).cast("decimal(38,0)")))
      .select(col("__gp_pid"), col("__gp_off"))
    local.join(broadcast(offsets), Seq("__gp_pid"))
      .withColumn(cumCol, col("__gp_off") + col("__gp_lcs"))
      .drop("__gp_pid", "__gp_lcs", "__gp_off")
  }

  /** [[globalRowNumber]] + [[globalPrefixSum]] + the grand totals in ONE
    * ranged materialization: callers that need the rank AND the running
    * sum under the same total order (Pareto/concentration curves, PPS
    * designs) previously paid two range shuffles and two checkpoints over
    * identical data, plus a third corpus aggregate for the totals. Here
    * one checkpoint feeds a single window pass (row_number and the
    * running sum share the sort), and the totals fall out of the
    * dimension-sized offsets table for free (an unbounded frame over
    * ≤ numShufflePartitions rows) — appended to every row as `nCol`
    * (BIGINT row count) and `totCol` (DECIMAL(38,0) value total). */
  def globalRowNumberAndPrefixSum(df: DataFrame, orderCols: Seq[Column],
                                  valueCol: String, rnCol: String,
                                  cumCol: String, nCol: String,
                                  totCol: String,
                                  smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(orderCols.nonEmpty,
      "globalRowNumberAndPrefixSum needs at least one order column")
    if (isSmall(df, smallInputBytes)) {
      // same column order as the two-phase form: nCol, totCol, rnCol, cumCol
      val w = Window.orderBy(orderCols: _*)
      // no orderBy -> default frame = the ENTIRE (single) partition
      val wAll = Window.partitionBy()
      return df
        .withColumn(nCol, count(lit(1)).over(wAll))
        .withColumn(totCol, sum(col(valueCol).cast("decimal(38,0)")).over(wAll))
        .withColumn(rnCol, row_number().over(w).cast("long"))
        .withColumn(cumCol, sum(col(valueCol).cast("decimal(38,0)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    }
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = Pin(df.repartitionByRange(nParts, orderCols: _*)
      .withColumn("__gb_pid", spark_partition_id()))
    val w = Window.partitionBy(col("__gb_pid")).orderBy(orderCols: _*)
    val local = ranged
      .withColumn("__gb_lrn", row_number().over(w).cast("long"))
      .withColumn("__gb_lcs", sum(col(valueCol).cast("decimal(38,0)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val wo = Window.orderBy(col("__gb_pid"))
    val woPrev = wo.rowsBetween(Window.unboundedPreceding, -1)
    val woAll = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = ranged.groupBy(col("__gb_pid"))
      .agg(count(lit(1)).as("__gb_cnt"),
        sum(col(valueCol).cast("decimal(38,0)")).as("__gb_tot"))
      .withColumn("__gb_offn", coalesce(sum(col("__gb_cnt")).over(woPrev), lit(0L)))
      .withColumn("__gb_offv", coalesce(sum(col("__gb_tot")).over(woPrev),
        lit(0L).cast("decimal(38,0)")))
      .withColumn(nCol, sum(col("__gb_cnt")).over(woAll))
      .withColumn(totCol, sum(col("__gb_tot")).over(woAll))
      .select(col("__gb_pid"), col("__gb_offn"), col("__gb_offv"),
        col(nCol), col(totCol))
    local.join(broadcast(offsets), Seq("__gb_pid"))
      .withColumn(rnCol, col("__gb_offn") + col("__gb_lrn"))
      .withColumn(cumCol, col("__gb_offv") + col("__gb_lcs"))
      .drop("__gb_pid", "__gb_lrn", "__gb_lcs", "__gb_offn", "__gb_offv")
  }

  /** Grouped two-phase lag(1) of `valueCol` under the ASCENDING total
    * order `orderCols` — the scale-safe replacement for
    * `lag(v).over(Window.partitionBy(lowCardCol).orderBy(...))` when the
    * partition key has far fewer distinct values than the cluster has
    * cores (the transition-edge builder partitions 150M+ events by FIVE
    * event types: five tasks each sorting corpus/5 rows, at any scale —
    * the r12 graph-family max-task was this window, measured 4.4 s at
    * sf10 even under the cheapest consumer).
    *
    * Shape: range-shuffle on (group, order) + pin; per-(pid, group)
    * local lag (balanced concurrent sorts); each slice's FIRST row per
    * group takes its predecessor from the previous slice's LAST value of
    * the same group — a dimension-sized (≤ nParts·|groups present|)
    * boundary table broadcast back. Rows are patched by local
    * row_number() == 1, not by null-coalescing, so genuinely-null stored
    * values never alias a missing predecessor. `orderCols` must be
    * ASCENDING and total (unique tiebreak column), because the boundary
    * table reads each slice's last row with max_by over the order
    * struct. */
  def groupedLag(df: DataFrame, groupCols: Seq[String],
                 orderCols: Seq[Column], valueCol: String,
                 lagCol: String,
                 smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(groupCols.nonEmpty, "groupedLag needs group columns")
    require(orderCols.nonEmpty, "groupedLag needs at least one order column")
    if (isSmall(df, smallInputBytes))
      return df.withColumn(lagCol, lag(col(valueCol), 1)
        .over(Window.partitionBy(groupCols.map(col).toIndexedSeq: _*)
          .orderBy(orderCols: _*)))
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gCols = groupCols.map(col)
    // eager pin, house style (see globalRowNumber): the local window and
    // the boundary aggregate must see the SAME slice boundaries, and the
    // pin also keeps the range sample pass from re-running the upstream
    // plan. Measured both ways at sf10 in r13, interleaved in one JVM:
    // the pinned form is faster (12.4 vs 14.0 s on graph_betweenness)
    // because the checkpoint read outruns a second parquet scan + dedup.
    // NOTE (r14 khop profile, SCALE_r14.md §1): the range sampler still
    // runs the UPSTREAM plan once more than strictly needed (sample pass
    // + exchange input both execute `df`). Pinning the input below the
    // exchange as well (the groupedWeightedMedianLower shape) was A/B'd
    // at sf10 and did NOT win locally — the page cache absorbs the
    // second scan, while the extra checkpoint pays real materialization
    // + executor storage. On a cluster whose upstream is cold
    // object-store IO, revisit: pin `df` ([[graft.Pin]]) before
    // the repartitionByRange (pids stay deterministic over the pinned
    // multiset, so correctness is unaffected).
    val ranged = Pin(df.repartitionByRange(nParts, gCols ++ orderCols: _*)
      .withColumn("__lg_pid", spark_partition_id()))
    val w = Window.partitionBy(col("__lg_pid") +: gCols: _*)
      .orderBy(orderCols: _*)
    val local = ranged
      .withColumn("__lg_rn", row_number().over(w))
      .withColumn(lagCol, lag(col(valueCol), 1).over(w))
    // dimension-sized: one row per (slice, group) present, then the
    // previous slice's last value per group along the pid axis
    val bounds = ranged.groupBy(col("__lg_pid") +: gCols: _*)
      .agg(max_by(col(valueCol), struct(orderCols: _*)).as("__lg_lastv"))
      .withColumn("__lg_prev", lag(col("__lg_lastv"), 1)
        .over(Window.partitionBy(gCols: _*).orderBy(col("__lg_pid"))))
      .select(col("__lg_pid").as("__lg_pid2") +:
        groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__lg_g$i") } :+
        col("__lg_prev"): _*)
    val cond = (col("__lg_pid") === col("__lg_pid2")) +:
      groupCols.zipWithIndex.map { case (c, i) => col(c) <=> col(s"__lg_g$i") }
    local.join(broadcast(bounds), cond.reduce(_ && _), "left")
      .withColumn(lagCol,
        when(col("__lg_rn") === 1, col("__lg_prev")).otherwise(col(lagCol)))
      .drop("__lg_pid" +: "__lg_pid2" +: "__lg_rn" +: "__lg_prev" +:
        groupCols.indices.map(i => s"__lg_g$i"): _*)
  }

  /** Exact LOWER weighted median per group — the smallest `orderCol`
    * value whose running weight reaches half the group total — WITHOUT
    * materializing a full prefix sum: per-(pid, group) weight totals
    * (dimension-sized) locate the single CROSSING SLICE per group, and
    * only that slice's rows pay a running-sum window (1/nParts of the
    * input, balanced). The full-prefix-sum form computes a window over
    * every row and joins the totals back onto all of them just to read
    * ONE row per group — this shape does the dimension-sized planning
    * first and touches the data once more only where the answer lives.
    * Returns one row per group: (groupCols*, medianCol = min crossing
    * `orderCol`, totalCol = the group's total weight as BIGINT).
    * Weights must be non-negative (the running weight must be
    * monotone for "first crossing" to be the median); an all-zero
    * group yields (min value, 0), matching the window form. */
  def groupedWeightedMedianLower(df: DataFrame, groupCols: Seq[String],
                                 orderCol: String, weightCol: String,
                                 medianCol: String,
                                 totalCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupedWeightedMedianLower needs group columns")
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gCols = groupCols.map(col)
    // checkpoint the INPUT, not the exchange output: repartitionByRange
    // SAMPLES its child to pick range bounds, so an un-pinned input plan
    // (typically a corpus-sized collapse) would execute twice — once for
    // the sample pass, once for the real exchange (paired medians at sf0.1:
    // 1.40 vs 2.51 s, PERF.md "Weighted median: input pinned before the
    // range exchange"). The two
    // downstream reads of `ranged` (offsets aggregate, crossing-slice
    // join) each re-run the exchange over the pinned rows (column
    // pruning pushes different projections below it, so ReuseExchange
    // cannot fire); their pids still agree because range-bound sampling
    // is DETERMINISTIC over the identical pinned key multiset — which is
    // exactly why the pin must sit BELOW the exchange (PlanSpec locks
    // that every range exchange here roots on the checkpoint scan).
    val ranged = Pin(df)
      .repartitionByRange(nParts, gCols :+ col(orderCol): _*)
      .withColumn("__wm_pid", spark_partition_id())
    val wg = Window.partitionBy(gCols: _*).orderBy(col("__wm_pid"))
    // dimension-sized planning: per-slice totals, running offsets, group
    // totals, then THE one slice per group where 2·cum first reaches tw
    val offsets = ranged.groupBy(col("__wm_pid") +: gCols: _*)
      .agg(sum(col(weightCol).cast("decimal(38,0)")).as("__wm_t"))
      .withColumn("__wm_off", coalesce(
        sum(col("__wm_t")).over(wg.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L).cast("decimal(38,0)")))
      .withColumn("__wm_tw", sum(col("__wm_t"))
        .over(wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // <= on the left edge: a group whose total weight is ZERO (legal
      // under the non-negative contract) has every slice at off = tw = 0
      // and must still surface (min value, 0) exactly like the window
      // form — a strict < would silently drop it. For tw > 0 the <=
      // admits at most one extra boundary slice whose rows all sit at or
      // past the crossing; min() still reads the true first crossing.
      .filter(col("__wm_off") * 2 <= col("__wm_tw")
        && (col("__wm_off") + col("__wm_t")) * 2 >= col("__wm_tw"))
      .select(col("__wm_pid").as("__wm_pid2") +:
        groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__wm_g$i") } :+
        col("__wm_off") :+ col("__wm_tw"): _*)
    // touch ONLY the crossing slices: local running sum, first crossing row
    val cond = (col("__wm_pid") === col("__wm_pid2")) +:
      groupCols.zipWithIndex.map { case (c, i) => col(c) <=> col(s"__wm_g$i") }
    ranged.join(broadcast(offsets), cond.reduce(_ && _))
      .withColumn("__wm_cum", col("__wm_off")
        + sum(col(weightCol).cast("decimal(38,0)"))
          .over(Window.partitionBy(col("__wm_pid") +: gCols: _*)
            .orderBy(col(orderCol))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__wm_cum") * 2 >= col("__wm_tw"))
      .groupBy(gCols: _*)
      .agg(min(col(orderCol)).as(medianCol),
        max(col("__wm_tw")).cast("long").as(totalCol))
  }

  /** [[groupedPrefixSum]] that ALSO appends each group's total as
    * `totCol` (DECIMAL(38,0)) — the per-group total is one more
    * unbounded-frame sum over the dimension-sized offsets table, so
    * callers that need "running sum vs group total" (weighted medians,
    * quantile read-outs) no longer re-aggregate the corpus (or the
    * collapsed spine) a second time. */
  def groupedPrefixSumWithTotal(df: DataFrame, groupCols: Seq[String],
                                orderCols: Seq[Column], valueCol: String,
                                cumCol: String, totCol: String,
                                smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(groupCols.nonEmpty, "groupedPrefixSumWithTotal needs group columns")
    require(orderCols.nonEmpty,
      "groupedPrefixSumWithTotal needs at least one order column")
    if (isSmall(df, smallInputBytes)) {
      // same column order as the two-phase form: totCol, then cumCol;
      // no orderBy -> default frame = the entire group
      val wg = Window.partitionBy(groupCols.map(col).toIndexedSeq: _*)
      return df
        .withColumn(totCol, sum(col(valueCol).cast("decimal(38,0)")).over(wg))
        .withColumn(cumCol, sum(col(valueCol).cast("decimal(38,0)"))
          .over(wg.orderBy(orderCols: _*)
            .rowsBetween(Window.unboundedPreceding, 0)))
    }
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val gCols = groupCols.map(col)
    val ranged = Pin(df.repartitionByRange(nParts, gCols ++ orderCols: _*)
      .withColumn("__gs_pid", spark_partition_id()))
    val local = ranged.withColumn("__gs_lcs",
      sum(col(valueCol).cast("decimal(38,0)"))
        .over(Window.partitionBy(col("__gs_pid") +: gCols: _*)
          .orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val wg = Window.partitionBy(gCols: _*).orderBy(col("__gs_pid"))
    val offsets = ranged.groupBy(col("__gs_pid") +: gCols: _*)
      .agg(sum(col(valueCol).cast("decimal(38,0)")).as("__gs_tot"))
      .withColumn("__gs_off", coalesce(
        sum(col("__gs_tot")).over(wg.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L).cast("decimal(38,0)")))
      .withColumn(totCol, sum(col("__gs_tot"))
        .over(wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__gs_pid").as("__gs_pid2") +:
        groupCols.zipWithIndex.map { case (c, i) => col(c).as(s"__gs_g$i") } :+
        col("__gs_off") :+ col(totCol): _*)
    val cond = (col("__gs_pid") === col("__gs_pid2")) +:
      groupCols.zipWithIndex.map { case (c, i) => col(c) <=> col(s"__gs_g$i") }
    local.join(broadcast(offsets), cond.reduce(_ && _))
      .withColumn(cumCol, col("__gs_off") + col("__gs_lcs"))
      .drop("__gs_pid" +: "__gs_pid2" +: "__gs_lcs" +: "__gs_off" +:
        groupCols.indices.map(i => s"__gs_g$i"): _*)
  }

  /** Exact interpolated percentile — the value Spark's `percentile(v, p)`
    * aggregate returns — computed by DISTRIBUTED RANK SELECTION instead
    * of that aggregate's collect-all-values buffer (which holds every
    * group value in ONE task's memory at merge time: the plan that OOMs
    * first at 100 TB, guide §5). Shape: one map-side-combined count per
    * group (tiny, broadcast), the exact per-group row number over
    * (value, tiebreak) via [[groupedRowNumber]] / [[globalRowNumber]]
    * (size-dispatched like every helper here — including the pinned-
    * input actual-size read, so a checkpointed per-doc score table takes
    * the native window no matter how inflated its pre-pin estimate was),
    * a filter to the ≤2 straddling order statistics per group, and a
    * group-sized aggregate.
    *
    * A distinct-value-compressed form (count per (group, value) +
    * prefix sum, the clean_impute_median trick) was measured and
    * REJECTED here: for continuous/high-cardinality values the distinct
    * table IS corpus-sized, so it pays an extra aggregate shuffle on top
    * of the same ranking volume (agg_median 1.53 s vs 0.88 s, sf0.1).
    * Use that form manually when the value domain is provably bounded.
    *
    * Bit-equality with the aggregate, proven against the DuckDB oracle
    * at three SFs: NULL values are excluded first (the aggregate's
    * semantics); pos = p·(n−1) with (n−1) integer-computed then widened
    * (the aggregate's `percentage * (count − 1)`); the read-out is
    * `(⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi`, v_lo alone when ⌈pos⌉=⌊pos⌋ —
    * Percentile.getPercentile's doubles, in its operation order. Value
    * ties make rank assignment among equals arbitrary but the SELECTED
    * value identical, so `tiebreakCols` only needs to make the order
    * total for the row-number contract.
    *
    * `groupCols` empty = global percentile (one row; NULL when no
    * non-null values, like the aggregate over an all-null input; an
    * empty GROUP cannot occur since groups come from the rows). Returns
    * groupCols :+ outCol (DOUBLE).
    *
    * CONTRACT divergence (deliberate, r15 ADVICE): a group whose values
    * are ALL NULL is DROPPED from the grouped output — the `percentile`
    * aggregate would emit that group with a NULL result. Every caller in
    * this repo feeds non-null value columns (the divergence is
    * unobservable there, and the oracle hash-equality proves it); a
    * future caller with nullable groups must left-join the group
    * universe back if it needs the aggregate's NULL rows.
    * PropertiesSpec pins this case. */
  def exactPercentile(df: DataFrame, groupCols: Seq[String],
                      valueCol: String, tiebreakCols: Seq[Column],
                      pct: Double, outCol: String,
                      smallInputBytes: Long = SmallInputBytesDefault): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0, 1), got $pct")
    require(tiebreakCols.nonEmpty,
      "exactPercentile needs tiebreak columns making the order total")
    val nn = df.filter(col(valueCol).isNotNull)
    val pos = (lit(pct) * (count(lit(1)) - 1L).cast("double")).as("__ep_pos")
    val counts =
      (if (groupCols.isEmpty) nn.agg(pos)
       else nn.groupBy(groupCols.map(col).toIndexedSeq: _*).agg(pos))
        .select(groupCols.zipWithIndex.map { case (c, i) =>
          col(c).as(s"__ep_g$i") } :+ col("__ep_pos"): _*)
    val rn =
      if (groupCols.isEmpty)
        globalRowNumber(nn, col(valueCol) +: tiebreakCols, "__ep_rn",
          smallInputBytes)
      else groupedRowNumber(nn, groupCols, col(valueCol) +: tiebreakCols,
        "__ep_rn", smallInputBytes)
    val joined =
      if (groupCols.isEmpty) rn.crossJoin(broadcast(counts))
      else rn.join(broadcast(counts),
        groupCols.zipWithIndex.map { case (c, i) =>
          col(c) <=> col(s"__ep_g$i") }.reduce(_ && _))
    val lo = floor(col("__ep_pos")) + 1L
    val hi = ceil(col("__ep_pos")) + 1L
    joined.filter(col("__ep_rn") === lo || col("__ep_rn") === hi)
      .groupBy(groupCols.map(col).toIndexedSeq: _*)
      .agg(max(col("__ep_pos")).as("__ep_p"),
        min(when(col("__ep_rn") === lo, col(valueCol))).as("__ep_lo"),
        min(when(col("__ep_rn") === hi, col(valueCol))).as("__ep_hi"))
      .select(groupCols.map(col) :+
        when(ceil(col("__ep_p")) === floor(col("__ep_p")),
          col("__ep_lo").cast("double"))
          .otherwise((ceil(col("__ep_p")) - col("__ep_p")) * col("__ep_lo") +
            (col("__ep_p") - floor(col("__ep_p"))) * col("__ep_hi"))
          .as(outCol): _*)
  }
}

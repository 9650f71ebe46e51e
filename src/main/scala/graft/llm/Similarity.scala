package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin
import graft.functions.ColumnFns._
import graft.functions.GraftFunctions

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers:
  *   - [[bruteForceTopK]]: exact scan — each candidate scored against a
  *     *small broadcast query set*. Linear in candidates, embarrassingly
  *     parallel; the correctness baseline.
  *   - [[lshBuckets]] + [[lshTopK]]: random-hyperplane LSH (Charikar 2002) —
  *     candidates are bucketed by sign-bit keys and only same-bucket pairs
  *     are scored. The 100 TB path: a `groupBy`/equi-join on the bucket key
  *     instead of an all-pairs comparison.
  *
  * All arithmetic is sequential double accumulation over array indices, so
  * scores are bit-deterministic and oracle-reproducible. Scoring runs on
  * the native codegen'd [[graft.functions.DotProductExpr]] (`graft_dot`) —
  * semantically identical to the HOF [[graft.functions.ColumnFns.dotProduct]]
  * but a primitive loop inside whole-stage codegen instead of interpreted
  * per-element closures; every DataFrame entry point registers it
  * (idempotent) before building its plan.
  */
object Similarity {

  /** Native dot product (see [[graft.functions.DotProductExpr]]). */
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Deterministic integer micro-units for a double score: `round(x·10⁶)`
    * as BIGINT. Both engines compute the double product x·10⁶
    * bit-identically BEFORE the scale-0 round, so the `round(double, 6)`
    * divergence class (Spark rounds the exact decimal view of the double,
    * DuckDB rounds the double product x·10⁶ — they split on .5-millionth
    * boundaries; the sf10 gate caught w6 disagreeing on 1,209 of 15 M
    * rows, SCALE_r11.md §1) cannot occur: a scale-0 round of the SAME
    * double is half-away-from-zero on both engines.
    *
    * NaN (a zero-norm vector's 0/0 cosine) is normalized to 0 EXPLICITLY
    * with `nanvl` BEFORE the cast, because the engines disagree on the
    * raw forms: Spark's cast(NaN AS LONG) silently yields 0 while
    * DuckDB's CAST(round(NaN*1e6) AS BIGINT) raises a hard Conversion
    * Error — and under the pre-micro `round(x, 6)` comparisons both
    * engines treated NaN as GREATER than any threshold (ordered-last
    * semantics), so degenerate vectors PASSED. The contract is now: NaN
    * score ≡ 0 micro-units on both engines — fails any positive
    * threshold, ranks at the bottom, never crashes the oracle. Oracles
    * over NaN-capable expressions (norm divisions) mirror this with
    * `CASE WHEN isnan(x) THEN 0 ELSE CAST(round(x*1e6) AS BIGINT) END`;
    * pinned by `ann_zero_vector_contract`. NOTE for DISTANCE callers
    * (pqAssign / ADC): 0 is the BEST distance, so a NaN distance would
    * rank first — but a finite-vector PQ distance (sums of squares)
    * cannot be NaN; only NaN ELEMENTS produce one, and those are
    * corrupt upstream data to filter at ingest, not a codepath to
    * bias. */
  private[llm] def microScore(x: Column): Column =
    round(nanvl(x, lit(0d)) * lit(1e6)).cast("long")

  /** Exact top-k: score every candidate against every query (queries side
    * must be small — it is broadcast), rank per query.
    * Plan shape: BroadcastNestedLoopJoin(candidates, broadcast(queries)) →
    * project(dot) → window top-k. One scan of the candidate side. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(candidates.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__q"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("score_micro"))
  }

  /** Hard-negative mining for contrastive training (the batch-mining
    * step behind SimCLR/DPR-style embedding training): for each query,
    * the k MOST SIMILAR candidates whose label DIFFERS — maximally
    * confusable negatives, which carry far more gradient signal than
    * random ones. Same plan shape as [[bruteForceTopK]] (one candidate
    * scan × broadcast queries → per-query top-k) with the label
    * exclusion fused into the scan filter, so rejected same-label rows
    * never reach the ranking window. For corpus-scale mining swap the
    * scoring stage for [[binaryRerankTopK]]'s coarse pass — the label
    * filter composes the same way. */
  def hardNegatives(candidates: DataFrame, queries: DataFrame, k: Int,
                    labelCol: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(candidates.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__q"),
      col(labelCol).as("__ql"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__c"),
      col(labelCol).as(s"neg_$labelCol"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col(s"neg_$labelCol") =!= col("__ql"))
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col(s"neg_$labelCol"),
        col("rnk"), col("score_micro"))
  }

  /** Sign-bit binary code: the leading min(dim, 63) components packed
    * into ONE non-negative long (bit i−1 set iff component i > 0) — a
    * ~256× compression of a 64-dim float vector that turns coarse
    * similarity into a single XOR + popcount per pair. Bit 63 stays
    * clear deliberately so the code is non-negative in every engine
    * (a set sign bit would overflow DuckDB's BIGINT re-sum). */
  private[graft] def binaryCode(vecCol: String): Column =
    // empty-vector guard: sequence(0, -1) generates a DESCENDING [0, -1]
    // and element_at(vec, 0) then throws under ANSI — a zero-length
    // embedding must code to 0L (all sign bits clear), not crash the scan
    expr(s"IF(size($vecCol) <= 0, 0L, " +
      s"aggregate(sequence(0, least(size($vecCol), 63) - 1), 0L, " +
      s"(acc, i) -> acc + IF(cast(element_at($vecCol, i + 1) as double) > 0D, " +
      "shiftleft(1L, cast(i as int)), 0L)))")

  /** Binary quantization + Hamming rerank — the memory-bound ANN scale
    * path (Indyk/Charikar sign hashing; the shape RaBitQ/binary-embedding
    * retrieval uses in production): corpus vectors compress 256× to
    * 63-bit sign codes, the coarse stage scans CODES ONLY (8 bytes/row
    * through the per-query top-`coarseK` window — XOR+popcount per pair,
    * no float math), and only the surviving `coarseK` candidates per
    * query are re-scored exactly against the full vectors joined back BY
    * ID. At 100 TB the float vectors are never shuffled: the coarse pass
    * moves 8-byte codes, the rerank moves `coarseK × |queries|` rows.
    * Queries broadcast (both stages) — corpus is scanned exactly once
    * for codes and probed once by id for the rerank. */
  def binaryRerankTopK(candidates: DataFrame, queries: DataFrame,
                       k: Int, coarseK: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    GraftFunctions.register(candidates.sparkSession)
    val qCodes = queries.select(col(idCol).as("query_id"), binaryCode(vecCol).as("__qc"))
    val cCodes = candidates.select(col(idCol).as("neighbor_id"), binaryCode(vecCol).as("__cc"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val pruned = cCodes.crossJoin(broadcast(qCodes))
      .withColumn("hamming", expr("cast(bit_count(__qc ^ __cc) as int)"))
      .withColumn("__cr", row_number().over(wH))
      .filter(col("__cr") <= coarseK)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__q"))
    val cv = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    pruned.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
      .withColumn("rnk", row_number().over(wS))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("rnk"), col("score_micro"))
  }

  /** JVM twin of [[graft.functions.ColumnFns.md5Long]]: first 15 hex chars of
    * md5 as a long — used to precompute LSH plane weights at plan-build time
    * (they are constants; deriving them per row would burn a md5 per
    * (row, plane, dim) for values that never change). */
  private[graft] def md5LongJvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** +-1 hyperplane components, `w(p)(i-1)` for 1-based dim index i —
    * exactly `md5Long(s"${p}_$i") % 2 == 1 ? 1 : -1`, the formula the SQL
    * oracle reproduces. */
  private[llm] def planeWeights(dim: Int, numPlanes: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim)((p, i) =>
      if (md5LongJvm(s"${p}_${i + 1}") % 2 == 1) 1.0 else -1.0)

  /** Sign-bit LSH bucket key: `numPlanes` pseudo-random hyperplanes with
    * +-1 components derived from a seeded hash (reproducible in SQL);
    * bucket = sum of (dot(v, plane_p) > 0) << p. Vectors in the same bucket
    * are likely neighbors (cosine-LSH collision probability 1 - theta/pi per
    * bit). Plane weights are plan-time literals; per row this is just
    * numPlanes dot products, all inside codegen. */
  def lshBucket(vecCol: Column, dim: Int, numPlanes: Int = 8): Column = {
    val w = planeWeights(dim, numPlanes)
    (0 until numPlanes).map { p =>
      val plane = array(w(p).map(lit).toIndexedSeq: _*)
      when(dot(vecCol, plane) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Assign every vector its LSH bucket. */
  def lshBuckets(df: DataFrame, dim: Int, numPlanes: Int = 8,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), dim, numPlanes).as("bucket"))
  }

  /** Cosine similarity of two vectors: the fused one-pass
    * [[graft.functions.CosineSimExpr]] (`graft_cosine`) — bit-identical
    * to `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))` (same adds, same
    * order; equivalence locked by DotProductSpec) at a third of the
    * array traversals. */
  def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** IVF assignment: each vector joins its nearest `nprobe` of the
    * centroids (by dot product, centroid id as tie-break). Centroids here
    * are the first `k` vectors — a deterministic stand-in for k-means
    * training; the plan shape (broadcast centroids -> one scan -> top-n)
    * is exactly real IVF. Returns (idCol, vecCol, centroid_id) — one row
    * per probed cell (`nprobe=1`, the default, is the classic argmax).
    *
    * Regime note: this FLAT assignment broadcasts the full centroid set —
    * right for caller-bounded codebooks (IVF indexes with k in the
    * thousands). For k ∝ n regimes (SemDeDup-style clustering at corpus
    * scale) use [[ivfAssignHier]], which caps the broadcast at √k and the
    * per-vector work at O(√k + k/√k). */
  def ivfAssign(df: DataFrame, centroids: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding", nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    GraftFunctions.register(df.sparkSession)
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("__cv"))
    val scored = df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(c))
      .withColumn("__score", dot(col(vecCol), col("__cv")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("centroid_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** Per-row argmax fold over an array of (i, v) structs: the element id
    * with the maximal dot(vec, v), ties to the SMALLER id — exactly the
    * `row_number() OVER (ORDER BY dot DESC, id)` = 1 winner, but computed
    * as one HOF chain per row instead of a window, so the corpus is never
    * shuffled for the argmax. Scores are materialized by a `transform`
    * FIRST (one dot per element — higher-order functions are interpreted
    * with no common-subexpression elimination, so referencing the score
    * inside the fold's `when` tree would recompute the dot up to 3× per
    * element), then the fold only compares. Comparisons are on raw
    * doubles; the dot is sequential-double, so the winner is
    * engine-independent. Returns null on an empty array. */
  private def argmaxFold(arr: Column, vec: Column,
                         idType: org.apache.spark.sql.types.DataType): Column = {
    val scored = transform(arr, x =>
      struct(dot(vec, x.getField("v")).as("s"), x.getField("i").as("i")))
    aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("s"), lit(null).cast(idType).as("i")),
      (acc, x) =>
        when(acc.getField("i").isNull
            || x.getField("s") > acc.getField("s")
            || (x.getField("s") === acc.getField("s")
                && x.getField("i") < acc.getField("i")),
          x).otherwise(acc),
      acc => acc.getField("i"))
  }

  /** Hierarchical (coarse-quantizer) IVF assignment — the k ∝ n scale path.
    *
    * [[ivfAssign]] broadcasts the full centroid set; SemDeDup-style regimes
    * train k ∝ n clusters, so at billion-document scale that broadcast is
    * millions of rows × dim and stops fitting. The classic fix (IVF's
    * two-level coarse quantizer, Jégou et al. 2011 §V): assign through a
    * small coarse level first —
    *
    *   1. coarse = the `numCoarse` smallest-id centroids (deterministic
    *      stand-in for a trained √k coarse codebook);
    *   2. each FINE centroid joins its nearest coarse cell (k rows of
    *      bounded work — never corpus-sized);
    *   3. each vector finds its nearest NON-EMPTY coarse cell via one
    *      single-row broadcast of the √k coarse set + a per-row
    *      [[argmaxFold]] (no window — the corpus is not shuffled);
    *   4. the fine centroids, grouped per cell, ride a broadcast hash join
    *      on `coarse_id`, and the winner within the cell is again a
    *      per-row [[argmaxFold]].
    *
    * Exactly two broadcasts, both bounded: √k coarse rows and the
    * cell-grouped fine table (k rows shipped once, but each vector now
    * pays O(√k + k/√k) dot products instead of O(k) — the compute ceiling
    * lift). When even the fine-side broadcast outgrows memory, the same
    * plan degrades gracefully: replace `broadcast(cells)` with a
    * shuffle-hash equi-join on `coarse_id` — ONE bounded corpus shuffle —
    * without touching the argmax semantics. Restricting step 3 to
    * non-empty cells guarantees every vector lands in a cell that has at
    * least one fine centroid (a fine centroid need not win its own cell
    * under dot-product similarity, so empty cells do occur).
    *
    * Returns (idCol, vecCol, coarse_id, centroid_id) — [[ivfAssign]]'s
    * contract plus the coarse cell. Assignment is approximate in the IVF
    * sense: the fine winner is the argmax WITHIN the vector's coarse cell,
    * not the global argmax.
    */
  def ivfAssignHier(df: DataFrame, centroids: DataFrame, numCoarse: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(numCoarse >= 1, s"numCoarse must be >= 1, got $numCoarse")
    GraftFunctions.register(df.sparkSession)
    val idType = centroids.schema(idCol).dataType
    val fine = centroids.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val coarse = fine.orderBy(col("__cid")).limit(numCoarse)
      .select(col("__cid").as("__gid"), col("__cv").as("__gv"))
    // fine -> coarse: k rows against the 1-row packed coarse array
    val packedCoarse = coarse
      .agg(collect_list(struct(col("__gid").as("i"), col("__gv").as("v"))).as("__g"))
    val fineCells = fine.crossJoin(broadcast(packedCoarse))
      .withColumn("coarse_id", argmaxFold(col("__g"), col("__cv"), idType))
      .select(col("coarse_id"), col("__cid"), col("__cv"))
    // one row per NON-EMPTY cell: (coarse_id, members, coarse vector)
    val cells = fineCells.groupBy(col("coarse_id"))
      .agg(collect_list(struct(col("__cid").as("i"), col("__cv").as("v"))).as("__cell"))
    val liveCoarse = cells.join(coarse, cells("coarse_id") === coarse("__gid"))
      .agg(collect_list(struct(col("__gid").as("i"), col("__gv").as("v"))).as("__g"))
    // vector -> coarse (broadcast 1: ≤ numCoarse structs in one row), then
    // vector -> fine within its cell (broadcast 2: hash join on coarse_id)
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(liveCoarse))
      .withColumn("coarse_id", argmaxFold(col("__g"), col(vecCol), idType))
      .drop("__g")
      .join(broadcast(cells), Seq("coarse_id"))
      .withColumn("centroid_id", argmaxFold(col("__cell"), col(vecCol), idType))
      .select(col(idCol), col(vecCol), col("coarse_id"), col("centroid_id"))
  }

  /** IVF top-k over the HIERARCHICAL assignment — [[ivfTopK]]'s search
    * with both sides assigned through [[ivfAssignHier]], so the whole
    * index path (assignment + search) stays inside the k ∝ n regime:
    * no full-centroid broadcast anywhere, queries ride one broadcast
    * into the candidates' cells. */
  def ivfTopKHier(candidates: DataFrame, queries: DataFrame,
                  centroids: DataFrame, numCoarse: Int, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val qa = ivfAssignHier(queries, centroids, numCoarse, idCol, vecCol)
      .select(col("centroid_id"), col(idCol).as("query_id"), col(vecCol).as("__q"))
    val ca = ivfAssignHier(candidates, centroids, numCoarse, idCol, vecCol)
      .select(col("centroid_id"), col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
    val scored = ca.join(broadcast(qa), Seq("centroid_id"))
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("centroid_id"),
        col("rnk"), col("score_micro"))
  }

  /** IVF top-k: queries probe their `nprobe` nearest centroid cells;
    * candidates live in exactly ONE cell each, so probed cells are
    * disjoint — no pair is scored twice and search cost scales linearly in
    * nprobe (the standard recall/cost knob: nprobe = number of centroids
    * degenerates to the exact brute-force scan). The search itself is an
    * equi-join on `centroid_id`, never a full scan. */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, idCol: String = "vec_id",
              vecCol: String = "embedding", nprobe: Int = 1): DataFrame = {
    val qa = ivfAssign(queries, centroids, idCol, vecCol, nprobe)
      .select(col("centroid_id"), col(idCol).as("query_id"), col(vecCol).as("__q"))
    val ca = ivfAssign(candidates, centroids, idCol, vecCol)
      .select(col("centroid_id"), col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
    val scored = ca.join(broadcast(qa), Seq("centroid_id"))
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("centroid_id"), col("rnk"), col("score_micro"))
  }

  /** Exact mean of milli-unit sums in integer MICRO-units:
    * `sign(s) * (|s| * 1000 div n)` — truncating division of non-negative
    * operands, where Spark's `div` and DuckDB's `//` agree (they differ on
    * negative operands: trunc vs floor — hence the explicit sign split).
    * A `round(s / (n*1000), 6)` double here hits engine-dependent behavior
    * whenever the quotient lands EXACTLY on a half-ulp of the 6th decimal
    * (Spark rounds via BigDecimal HALF_UP on the decimal string, DuckDB
    * via float multiply-and-rint) — a tie one cell of one sf actually
    * produced. Integer division has no ties. */
  private[graft] def meanMicro(s: String, n: String): Column =
    expr(s"CASE WHEN $s < 0 THEN -((-$s * 1000) div $n)" +
      s" ELSE ($s * 1000) div $n END")

  /** Per-row integer-dot argmax over a broadcast centroid pack — the
    * assignment kernel shared by [[kmeansTrain]] and the streaming
    * centroid maintenance ([[graft.streaming.StreamingOps.maintainCentroids]]).
    * `corpus` must carry `__vm` (milli-quantized long components); `cents`
    * is (cid, __cm) with micro-quantized long components. Scores are
    * materialized by one `transform` (interpreted HOFs have no CSE), the
    * fold only compares — max score, ties to the smaller cid, an
    * order-independent semilattice so `collect_list`'s nondeterministic
    * pack order cannot change the winner. Adds `cid`; no shuffle. */
  private[graft] def quantizedAssign(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.groupBy()
      .agg(collect_list(struct(col("cid"), col("__cm"))).as("__cands"))
    corpus.crossJoin(broadcast(packed))
      .withColumn("__scored", expr(
        """transform(__cands, c -> named_struct('cid', c.cid,
          |  'sc', aggregate(zip_with(__vm, c.__cm, (a, b) -> a * b),
          |                  cast(0 as bigint), (acc, x) -> acc + x)))""".stripMargin))
      .withColumn("__best", expr(
        """aggregate(__scored, __scored[0], (best, cur) ->
          |  CASE WHEN cur.sc > best.sc
          |         OR (cur.sc = best.sc AND cur.cid < best.cid)
          |       THEN cur ELSE best END)""".stripMargin))
      .withColumn("cid", col("__best.cid"))
      .drop("__cands", "__scored", "__best")
  }

  /** Milli-quantize a float/double vector column to long components —
    * the corpus-side grid of the quantized assignment. */
  private[graft] def milliVec(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 1000) as bigint))")

  /** Micro-quantize a vector column — the centroid-side grid. */
  private[graft] def microVec(vecCol: String): Column =
    expr(s"transform($vecCol, x -> cast(round(cast(x as double) * 1000000) as bigint))")

  /** One spherical k-means update step: assign each vector to its nearest
    * centroid ([[ivfAssign]]'s broadcast-argmax), then recompute each
    * centroid's per-dimension mean. The recompute uses the
    * transpose-aggregate shape — `posexplode(vector)` -> partial sums on
    * (centroid, dim) — so shuffle cardinality is k×dim (bounded), never
    * |vectors|, and map-side combine does the heavy lifting. Sums are
    * integer milli-units: components are DELIBERATELY quantized to 1e-3
    * (up to 5e-4 absolute error per component — acceptable for a centroid
    * update) so the step is bit-deterministic across engines and retries —
    * a float sum would depend on reduction order. Returns one row per
    * (centroid_id, pos): the new centroid coordinate as an integer
    * micro-unit mean ([[meanMicro]]) plus member count. */
  def kmeansStep(vectors: DataFrame, centroids: DataFrame,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    ivfAssign(vectors, centroids, idCol, vecCol)
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("__p0", "__v")))
      .select(col("centroid_id"), (col("__p0") + 1).as("pos"),
        round(col("__v").cast("double") * 1000).cast("long").as("__mv"))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(sum(col("__mv")).as("__s"), count(lit(1)).as("n_members"))
      .select(col("centroid_id"), col("pos"),
        meanMicro("__s", "n_members").as("mean_micro"),
        col("n_members"))

  /** The full fixed-round k-means TRAINING LOOP (Lloyd iterations):
    * `rounds` × (assign → per-dimension mean → rebuild centroids),
    * carrying the centroid VECTORS between rounds — [[kmeansStep]] is one
    * such round; this is the trainer that produces the codebooks the
    * IVF/PQ family consumes. Returns the final round's
    * (centroid_id, pos, mean_micro, n_members) — same schema as the
    * step, so audits compose. Centroids that lose all members drop out
    * (standard empty-cluster shrink), identically in both engines.
    *
    * Multi-round bit-determinism needs the ASSIGNMENT itself exact, not
    * just the means — a half-ulp argmax flip in round 1 cascades — so
    * the loop scores on QUANTIZED INTEGER dots: corpus components in
    * milli, centroid components in micro (products ≤ 1e9/term, 64-dim
    * sums ≤ 6.4e10 — exact in Long), ties to the smaller centroid id.
    * This is spherical k-means on the quantized grid: deliberately a
    * hair different from [[kmeansStep]]'s float-dot single step, and
    * reproducible across engines, rounds, and retries.
    *
    * Scale shape per round: centroids ride a k-row broadcast; the
    * assignment is a PER-ROW argmax fold over the broadcast array (no
    * corpus shuffle, same pattern as [[pqCodes]] — scores materialized
    * by one `transform`, the fold only compares); the update is the
    * transpose-aggregate (shuffle cardinality k×dim, map-side combined);
    * the rebuild is k bounded rows. Corpus milli-quantization is
    * computed ONCE and pinned; lineage truncated per round; no driver
    * state beyond the loop counter. */
  def kmeansTrain(vectors: DataFrame, centroids: DataFrame, rounds: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val corpus = Pin(vectors.select(col(idCol), milliVec(vecCol).as("__vm"))) // reused every round
    val seeds = centroids.select(col(idCol).cast("long").as("cid"),
      microVec(vecCol).as("__cm"))
    // a round's state is its per-(cid, pos) means; the first round reads
    // the seeds, every later one the previous round's means as centroids
    Pin.rounds(seeds, rounds) { (prev, r) =>
      val cents = if (r == 0) prev else prev.groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mean_micro)))," +
          " s -> s.mean_micro)").as("__cm"))
      quantizedAssign(corpus, cents)
        .select(col("cid"), posexplode(col("__vm")).as(Seq("__p0", "__v")))
        .select(col("cid"), (col("__p0") + 1).as("pos"), col("__v"))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("n_members"))
        .select(col("cid"), col("pos"),
          meanMicro("__s", "n_members").as("mean_micro"), col("n_members"))
    }.select(col("cid").as("centroid_id"), col("pos"),
      col("mean_micro"), col("n_members"))
  }

  /** Mean-pool vectors per group (chunk embeddings -> one document
    * embedding, the standard pooling step of embedding pipelines): the
    * same transpose-aggregate shape as [[kmeansStep]] — `posexplode` ->
    * partial sums on (group, dim) — so shuffle cardinality is
    * groups×dim and map-side combine carries the load; components are
    * quantized to integer milli-units before summation for bit-determinism
    * across engines and retries. Returns one row per (group, pos). */
  def meanPool(df: DataFrame, groupCol: String,
               vecCol: String = "embedding"): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__p0", "__v")))
      .select(col(groupCol), (col("__p0") + 1).as("pos"),
        round(col("__v").cast("double") * 1000).cast("long").as("__mv"))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum(col("__mv")).as("__s"), count(lit(1)).as("n_pooled"))
      .select(col(groupCol), col("pos"),
        meanMicro("__s", "n_pooled").as("mean_micro"),
        col("n_pooled"))

  /** Signed random projection (Johnson–Lindenstrauss / Achlioptas ±1
    * variant): project `dim`-dimensional embeddings onto `outDim`
    * md5-derived ±1 hyperplanes — the dimensionality-reduction step ahead
    * of clustering or coarse similarity, and exactly the pre-threshold
    * values of [[lshBucket]] (same [[planeWeights]] derivation, so SQL
    * oracles reproduce the planes).
    *
    * Scale shape: plane weights are plan-time literals, each component is
    * one codegen'd sequential dot product — one scan, zero shuffles, no
    * per-row hashing of constants. Components are quantized to integer
    * micro-units (one rounding per output value) so results are
    * bit-deterministic across engines. Returns one row per (id, p). */
  def randomProjection(df: DataFrame, dim: Int, outDim: Int = 8,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val w = planeWeights(dim, outDim)
    val comps = (0 until outDim).map { p =>
      val plane = array(w(p).map(lit).toIndexedSeq: _*)
      struct(lit(p.toLong).as("p"),
        round(dot(col(vecCol), plane) * 1000000d).cast("long").as("comp_micro"))
    }
    df.select(col(idCol), explode(array(comps.toIndexedSeq: _*)).as("__c"))
      .select(col(idCol), col("__c.p").as("p"), col("__c.comp_micro"))
  }

  /** Symmetric int8 quantization of an embedding column — the storage/
    * serving compression step (8× smaller vectors, dot products in integer
    * SIMD downstream): per-vector `scale = max(|v_i|)/127`, `q_i =
    * floor(v_i/scale + 0.5)` (half-away-from-zero for the positive
    * magnitudes that dominate; identical arithmetic in SQL), zero vectors
    * quantize to all-zero with scale 0.
    *
    * One scan, zero shuffles, all per-row array expressions. Emits the
    * quantized codes (comma-joined — top-level arrays are not
    * oracle-comparable), the scale, and the max absolute reconstruction
    * error, both in integer nano-units — the error column is the built-in
    * quality audit (err <= scale/2 by construction). */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val scale = array_max(transform(v, x => abs(x.cast("double")))) / 127d
    val qs = when(col("__scale") === 0d,
        transform(v, _ => lit(0L)))
      .otherwise(transform(v,
        x => floor(x.cast("double") / col("__scale") + 0.5d).cast("long")))
    val err = when(col("__scale") === 0d, lit(0d))
      .otherwise(array_max(zip_with(col("__q"), v,
        (q, x) => abs(q.cast("double") * col("__scale") - x.cast("double")))))
    df.select(col(idCol), v, scale.as("__scale"))
      .withColumn("__q", qs)
      .select(col(idCol),
        array_join(transform(col("__q"), _.cast("string")), ",").as("q"),
        round(col("__scale") * 1000000000d).cast("long").as("scale_nano"),
        round(err * 1000000000d).cast("long").as("err_nano"))
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) prefix truncation: keep the
    * first `dims` components of each embedding — MRL-trained models front-
    * load information, so the prefix IS a usable lower-dim embedding (the
    * 4-16× storage/serving compression knob next to [[quantizeInt8]]'s
    * 4×). Emits the truncated vector in integer micro-units (comma-joined
    * — top-level arrays are not oracle-comparable) plus the retained-
    * energy ratio ‖prefix‖²/‖full‖² in integer milli (the built-in audit:
    * how much of the vector's mass the prefix kept). Both energies are
    * rounded to micro BEFORE the integer ratio so the division is exact
    * long arithmetic (truncating, non-negative — engine-independent);
    * zero-energy vectors report 1000 (a zero prefix retains all of
    * nothing). One scan, zero shuffles, all inside codegen. */
  def matryoshkaTruncate(df: DataFrame, dims: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    GraftFunctions.register(df.sparkSession)
    val prefix = slice(col(vecCol), 1, dims)
    df.select(col(idCol), prefix.as("__p"),
        round(dot(prefix, prefix) * 1000000d).cast("long").as("__pe"),
        round(dot(col(vecCol), col(vecCol)) * 1000000d).cast("long").as("__fe"))
      .select(col(idCol),
        array_join(transform(col("__p"),
          v => round(v.cast("double") * 1000000d).cast("long")), ",")
          .as("prefix_micro"),
        when(col("__fe") === 0L, lit(1000L))
          .otherwise(expr("(__pe * 1000) div __fe")).as("retained_milli"))
  }

  /** Coarse-to-fine two-stage ANN over matryoshka prefixes: stage 1 ranks
    * every candidate by the `dims`-prefix dot product and keeps a
    * per-query shortlist; stage 2 re-scores ONLY the shortlist at full
    * dimension and returns the top `k`. This is the standard MRL serving
    * funnel — at scale the prefix lives in its own (4-16× smaller) column
    * so stage 1's scan reads a fraction of the bytes, and stage 2's
    * full-vector fetch touches `shortlist` rows per query instead of the
    * corpus. Here both columns ride the same scan (one pass, no second
    * shuffle — the local stand-in for that layout; the plan shape
    * (broadcast queries → scan → two windows over the same partition key)
    * is the real one. Ties break on neighbor id at both stages, so the
    * funnel is deterministic end to end. */
  def matryoshkaSearch(candidates: DataFrame, queries: DataFrame, dims: Int,
                       k: Int, shortlist: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1, got k=$k shortlist=$shortlist")
    GraftFunctions.register(candidates.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__q"),
      slice(col(vecCol), 1, dims).as("__qp"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("__c"),
      slice(col(vecCol), 1, dims).as("__cp"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_coarse_micro").desc, col("neighbor_id"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("score_coarse_micro", microScore(dot(col("__qp"), col("__cp"))))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= shortlist)
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("score_micro"), col("score_coarse_micro"))
  }

  /** Product-quantization code assignment (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each vector into
    * `m` contiguous subvectors of `dim/m` dims and assign each subvector
    * the id of its nearest codebook entry (L2) in that subspace.
    * Downstream ANN then scores candidates from `m` small integer codes
    * instead of the full float vector — the compressed storage layout
    * IVF-PQ serves at 100 TB scale (here 8 codes ≈ 8 bytes vs 256 bytes of
    * float32). The codebook is the caller's stand-in for a trained one,
    * as with [[ivfAssign]]'s centroids.
    *
    * Squared distances decompose as |x|² − 2·x·y + |y|², each dot a
    * sequential-double codegen'd `graft_dot`, rounded to 1e-6 BEFORE the
    * argmin so the winner is engine-independent; ties break on code id.
    * Scale shape: the codebook is grouped per subspace (m tiny rows, each
    * carrying the candidate array with |y|² precomputed) and rides a
    * broadcast hash join on `subspace`; the argmin is a per-row
    * `aggregate` fold over that array — the corpus is exploded m-way but
    * NEVER shuffled (no window, no exchange above the scan). Per row the
    * work is m × |codebook| dot products over (dim/m)-element slices.
    * Returns one row per (id, subspace): the code and the squared
    * distance in integer micro-units.
    */
  /** Explode a vector column into `m` (subspace, dim/m-element slice)
    * structs — the shared subvector layout of [[pqCodes]] and
    * [[pqSearch]] (codes and LUT must slice identically). */
  private def subspaceSlices(v: Column, out: String, m: Int, sub: Int): Column =
    explode(array((0 until m).map(s => struct(lit(s.toLong).as("subspace"),
      slice(v, s * sub + 1, sub).as(out))).toIndexedSeq: _*))

  def pqCodes(df: DataFrame, codebook: DataFrame, dim: Int, m: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m must divide dim, got dim=$dim m=$m")
    val sub = dim / m
    GraftFunctions.register(df.sparkSession)
    val idType = codebook.schema(idCol).dataType
    def slices(v: Column, out: String) = subspaceSlices(v, out, m, sub)
    val vecs = df.select(col(idCol), slices(col(vecCol), "sv").as("__x"))
      .select(col(idCol), col("__x.subspace").as("subspace"), col("__x.sv").as("__sv"))
    // m rows, each the full candidate list of one subspace with |y|²
    // precomputed on the (tiny) codebook side
    val cbBySub = codebook
      .select(col(idCol).as("__code"), slices(col(vecCol), "cs").as("__y"))
      .select(col("__y.subspace").as("subspace"),
        struct(col("__code").as("i"), col("__y.cs").as("v"),
          dot(col("__y.cs"), col("__y.cs")).as("vv")).as("__cand"))
      .groupBy(col("subspace"))
      .agg(collect_list(col("__cand")).as("__cands"))
    // per-row argmin fold: min rounded d², ties to the smaller code id —
    // exactly the row_number(ORDER BY d2, code) = 1 winner without
    // shuffling the exploded corpus through a window. Distances are
    // materialized by a transform first (one dot per candidate; HOFs are
    // interpreted with no CSE — see argmaxFold), the fold only compares.
    val svv = dot(col("__sv"), col("__sv"))
    val scored = transform(col("__cands"), x =>
      struct(x.getField("i").as("i"),
        microScore(col("__svv") - lit(2d) * dot(col("__sv"), x.getField("v"))
          + x.getField("vv")).as("d")))
    val best = aggregate(scored,
      struct(lit(null).cast(idType).as("i"), lit(Long.MaxValue).as("d")),
      (acc, x) =>
        when(acc.getField("i").isNull
            || x.getField("d") < acc.getField("d")
            || (x.getField("d") === acc.getField("d")
                && x.getField("i") < acc.getField("i")),
          x).otherwise(acc),
      acc => acc)
    vecs.join(broadcast(cbBySub), Seq("subspace"))
      .withColumn("__svv", svv)
      .withColumn("__best", best)
      .select(col(idCol), col("subspace"), col("__best.i").as("code"),
        col("__best.d").as("dist_micro"))
  }

  /** PQ asymmetric-distance search (the ADC of Jégou et al. 2011): score
    * candidates from their [[pqCodes]] codes alone — the query
    * precomputes one dot product per (subspace, codebook entry) into a
    * lookup table, and a candidate's score is the SUM of m table lookups.
    * The point at scale: the candidate side never rereads its float
    * vectors (m small codes instead of `dim` floats — the 8-32× I/O
    * compression that makes billion-vector search feasible); only the
    * tiny LUT (queries × m × |codebook|) is exact-dot work.
    *
    * Plan shape: codes come from [[pqCodes]] (broadcast codebook, no
    * shuffle); the LUT rides a broadcast join on (subspace, code); the
    * per-(query, candidate) sum is one aggregate with map-side partials.
    * LUT entries are integer micro-units, so scores are exact integer
    * sums; ties break on neighbor id. Returns top-k rows per query:
    * (query_id, neighbor_id, rnk, score_micro).
    */
  def pqSearch(candidates: DataFrame, queries: DataFrame, codebook: DataFrame,
               dim: Int, k: Int, m: Int = 8, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m must divide dim, got dim=$dim m=$m")
    val sub = dim / m
    GraftFunctions.register(candidates.sparkSession)
    val codes = pqCodes(candidates, codebook, dim, m, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("subspace"), col("code"))
    def slices(v: Column, out: String) = subspaceSlices(v, out, m, sub)
    val qSub = queries.select(col(idCol).as("query_id"), slices(col(vecCol), "qs").as("__x"))
      .select(col("query_id"), col("__x.subspace").as("subspace"), col("__x.qs").as("__qs"))
    val cbSub = codebook.select(col(idCol).as("code"), slices(col(vecCol), "cs").as("__y"))
      .select(col("code"), col("__y.subspace").as("subspace"), col("__y.cs").as("__cs"))
    val lut = qSub.join(cbSub, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        round(dot(col("__qs"), col("__cs")) * 1e6).cast("long").as("__lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__lut")).as("score_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("score_micro"))
  }

  /** IVF-PQ index build (Jégou et al. 2011 §V — the layout serving
    * billion-vector search): ONE scan of the corpus producing, per vector,
    * its IVF cell and its `m` PQ codes — the row a compressed index stores
    * (cell for routing, codes for scoring; the float vector is dropped).
    *
    * Scale shape: the cell assignment is a per-row [[argmaxFold]] against
    * the packed-broadcast centroid set (no window — the corpus is never
    * shuffled, unlike [[ivfAssign]]'s nprobe-general window form), and the
    * code assignment is [[pqCodes]]'s per-row argmin fold against the
    * broadcast per-subspace codebook. The corpus side therefore sees ZERO
    * shuffle exchanges: scan → m-way explode → two broadcast joins → folds,
    * all map-side. Only the (tiny) centroid/codebook sides aggregate.
    * Returns one row per (id, subspace): (idCol, centroid_id, subspace,
    * code). */
  def ivfPqIndex(df: DataFrame, centroids: DataFrame, codebook: DataFrame,
                 dim: Int, m: Int = 8, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m must divide dim, got dim=$dim m=$m")
    val sub = dim / m
    GraftFunctions.register(df.sparkSession)
    val centType = centroids.schema(idCol).dataType
    val codeType = codebook.schema(idCol).dataType
    val packedCent = centroids
      .select(struct(col(idCol).as("i"), col(vecCol).as("v")).as("__c"))
      .agg(collect_list(col("__c")).as("__cents"))
    def slices(v: Column, out: String) = subspaceSlices(v, out, m, sub)
    val cbBySub = codebook
      .select(col(idCol).as("__code"), slices(col(vecCol), "cs").as("__y"))
      .select(col("__y.subspace").as("subspace"),
        struct(col("__code").as("i"), col("__y.cs").as("v"),
          dot(col("__y.cs"), col("__y.cs")).as("vv")).as("__cand"))
      .groupBy(col("subspace"))
      .agg(collect_list(col("__cand")).as("__cands"))
    val scored = transform(col("__cands"), x =>
      struct(x.getField("i").as("i"),
        microScore(col("__svv") - lit(2d) * dot(col("__sv"), x.getField("v"))
          + x.getField("vv")).as("d")))
    val best = aggregate(scored,
      struct(lit(null).cast(codeType).as("i"), lit(Long.MaxValue).as("d")),
      (acc, x) =>
        when(acc.getField("i").isNull
            || x.getField("d") < acc.getField("d")
            || (x.getField("d") === acc.getField("d")
                && x.getField("i") < acc.getField("i")),
          x).otherwise(acc),
      acc => acc.getField("i"))
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(packedCent))
      .withColumn("centroid_id", argmaxFold(col("__cents"), col(vecCol), centType))
      .select(col(idCol), col("centroid_id"), slices(col(vecCol), "sv").as("__x"))
      .select(col(idCol), col("centroid_id"),
        col("__x.subspace").as("subspace"), col("__x.sv").as("__sv"))
      .join(broadcast(cbBySub), Seq("subspace"))
      .withColumn("__svv", dot(col("__sv"), col("__sv")))
      .withColumn("code", best)
      .select(col(idCol), col("centroid_id"), col("subspace"), col("code"))
  }

  /** IVF-PQ search — the full compressed-index path at 100 TB scale:
    * queries probe their `nprobe` nearest IVF cells and candidates in the
    * probed cells are scored by PQ asymmetric distance (ADC) from their
    * codes alone. IVF bounds WHICH candidates are touched (nprobe/k_cells
    * of the corpus); PQ bounds WHAT is read per candidate (m small codes,
    * not `dim` floats) — together the 10-100× I/O reduction that makes
    * billion-vector search feasible ([[ivfTopK]] restricts, [[pqSearch]]
    * compresses; this composes both).
    *
    * Plan shape: index rows from [[ivfPqIndex]] (zero corpus shuffles);
    * the query set rides TWO bounded broadcasts — probed cells
    * (query_id × nprobe rows) joined on `centroid_id`, then the ADC
    * lookup table joined on (query_id, subspace, code) — and the
    * per-(query, candidate) score is one integer sum with map-side
    * partials. Ties break on neighbor id. Returns top-k rows per query:
    * (query_id, neighbor_id, centroid_id, rnk, score_micro). */
  def ivfPqSearch(candidates: DataFrame, queries: DataFrame,
                  centroids: DataFrame, codebook: DataFrame, dim: Int, k: Int,
                  m: Int = 8, nprobe: Int = 1, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m must divide dim, got dim=$dim m=$m")
    val sub = dim / m
    GraftFunctions.register(candidates.sparkSession)
    val index = ivfPqIndex(candidates, centroids, codebook, dim, m, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        col("subspace"), col("code"))
    val qa = ivfAssign(queries, centroids, idCol, vecCol, nprobe)
      .select(col("centroid_id"), col(idCol).as("query_id"))
    def slices(v: Column, out: String) = subspaceSlices(v, out, m, sub)
    val qSub = queries
      .select(col(idCol).as("query_id"), slices(col(vecCol), "qs").as("__x"))
      .select(col("query_id"), col("__x.subspace").as("subspace"),
        col("__x.qs").as("__qs"))
    val cbSub = codebook
      .select(col(idCol).as("code"), slices(col(vecCol), "cs").as("__y"))
      .select(col("code"), col("__y.subspace").as("subspace"),
        col("__y.cs").as("__cs"))
    val lut = qSub.join(cbSub, Seq("subspace"))
      .select(col("query_id"), col("subspace"), col("code"),
        round(dot(col("__qs"), col("__cs")) * 1e6).cast("long").as("__lut"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    index.join(broadcast(qa), Seq("centroid_id"))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col("neighbor_id"), col("centroid_id"))
      .agg(sum(col("__lut")).as("score_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("centroid_id"),
        col("rnk"), col("score_micro"))
  }

  /** ANN top-k via LSH: score only same-bucket (query, candidate) pairs —
    * an equi-join on `bucket`, then exact scoring within buckets. Recall is
    * tunable via `numPlanes` (fewer planes -> bigger buckets -> higher
    * recall, more work). */
  def lshTopK(candidates: DataFrame, queries: DataFrame, dim: Int, k: Int,
              numPlanes: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val qb = lshBuckets(queries, dim, numPlanes)
      .select(col("bucket"), col(idCol).as("query_id"), col(vecCol).as("__q"))
    val cb = lshBuckets(candidates, dim, numPlanes)
      .select(col("bucket"), col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("rnk"), col("score_micro"))
  }

  /** Residual vectors for two-level quantization (the IVF+PQ coupling of
    * Jégou et al. 2011 as actually deployed: PQ encodes `v − c(v)`, not
    * `v`): assign each vector to its nearest coarse centroid, subtract
    * that centroid, return the residual. On clustered corpora residuals
    * live near the origin with far less inter-cell variance than raw
    * vectors, so the same codebook budget spends its codewords on the
    * fine structure. Whether a GIVEN corpus has enough coarse structure
    * to pay for the second level is exactly what the `ann_pq_residual`
    * audit measures (near-isotropic corpora come back negative — skip
    * residualization there). Assignment is [[ivfAssign]]'s max-dot rule,
    * which equals the quantization-correct min-L2 rule whenever vectors
    * and centroids are L2-normalized (the corpus convention here).
    *
    * Residuals are DOUBLE arrays: float→double widening is exact and the
    * subtraction of exact doubles is correctly rounded identically in
    * every IEEE engine, so downstream PQ distances stay oracle-exact.
    *
    * Plan: [[ivfAssign]]'s broadcast-argmax (corpus never shuffles) + one
    * broadcast join back to the centroid vectors + a codegen'd zip_with —
    * map-only end to end. */
  def residualVectors(df: DataFrame, centroids: DataFrame,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val c = centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("__cv"))
    ivfAssign(df, centroids, idCol, vecCol)
      .join(broadcast(c), "centroid_id")
      .select(col(idCol), col("centroid_id"),
        zip_with(col(vecCol), col("__cv"),
          (a, b) => a.cast("double") - b.cast("double")).as("residual"))
  }

  /** Multi-probe LSH top-k (Lv et al. 2007): each query probes its own
    * bucket PLUS the `nProbes - 1` neighboring buckets reached by flipping
    * the sign bits with the SMALLEST absolute hyperplane margin — the
    * planes the vector sits closest to, i.e. the flips most likely to hide
    * a true neighbor. Classic trade: multi-probe recovers the recall of a
    * coarser table (fewer planes) WITHOUT growing bucket sizes — probe
    * count scales the query side only, never the corpus index.
    *
    * Determinism: margins are quantized to micro units before ranking
    * (ties to the smaller plane index), so the probe sequence is a pure
    * function of the vector — same discipline as [[bruteForceTopK]]'s
    * rounded scores.
    *
    * Scale shape: the corpus is bucketed ONCE (same index as [[lshTopK]];
    * a probe is just another key into it). The query side fans out
    * ×nProbes and rides a broadcast; the corpus side is one equi-join on
    * the bucket key + the per-query top-k window. A corpus vector lives
    * in exactly one bucket and probe buckets are distinct, so no
    * (query, neighbor) pair is scored twice — no dedup pass needed. */
  def multiProbeLshTopK(candidates: DataFrame, queries: DataFrame, dim: Int,
                        k: Int, numPlanes: Int = 8, nProbes: Int = 3,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(nProbes >= 1 && nProbes <= numPlanes + 1,
      s"nProbes must be in [1, numPlanes + 1], got $nProbes")
    GraftFunctions.register(candidates.sparkSession)
    val w = planeWeights(dim, numPlanes)
    val margins = array((0 until numPlanes).map { p =>
      dot(col(vecCol), array(w(p).map(lit).toIndexedSeq: _*))
    }: _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__q"),
      margins.as("__m"),
      lshBucket(col(vecCol), dim, numPlanes).as("bucket"))
    // flip order: ascending quantized |margin|, plane index as tie-break
    val flips = q.select(col("query_id"), col("bucket"),
        posexplode(col("__m")).as(Seq("p", "__dp")))
      .withColumn("__am", round(abs(col("__dp")) * 1e6).cast("long"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("__am"), col("p"))))
      .filter(col("__rn") <= nProbes - 1)
      .select(col("query_id"),
        expr("bucket ^ shiftleft(1L, p)").as("bucket"))
    val probes = q.select(col("query_id"), col("bucket"))
      .unionByName(flips)
      .join(q.select(col("query_id"), col("__q")), "query_id")
    val cb = lshBuckets(candidates, dim, numPlanes)
      .select(col("bucket"), col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
    val scored = cb.join(broadcast(probes), Seq("bucket"))
      .withColumn("score_micro", microScore(dot(col("__q"), col("__c"))))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("neighbor_id"))
    scored
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bucket"), col("rnk"),
        col("score_micro"))
  }

  /** Radius (range) search: ALL corpus vectors within cosine >= `radius`
    * of each query — the "find everything this similar" primitive that
    * top-k cannot express (k is unknown; a hot query may have thousands
    * of in-radius neighbors, a cold one zero). Queries ride a broadcast;
    * the corpus takes ONE scan with the fused one-pass `graft_cosine`
    * per (row, query) and a codegen'd filter — no shuffle at all (unlike
    * top-k, which needs the per-query window). Cosine is rounded to 1e-6
    * BEFORE the threshold compare so the kept set is bit-deterministic
    * across engines (same discipline as [[bruteForceTopK]]).
    *
    * Scale shape: cost is |corpus| x |queries| dots, map-only — right for
    * bounded query sets (the audit/probe regime). For corpus-vs-corpus
    * radius search use the LSH-bucketed near-dup path
    * ([[graft.llm.Dedup.embeddingNearDupPairs]]), which is this operator
    * with candidate generation replacing the broadcast. */
  /** Top principal direction of the uncentered Gram matrix XᵀX by
    * distributed power iteration — the 1-D PCA/SVD primitive behind
    * embedding whitening, ABTT post-processing, and drift monitoring
    * (is one direction swallowing the space?).
    *
    * Each round is two passes, both map-side combined:
    *   1. per-row score `s_i = ⟨m_i, v⟩` against the broadcast direction
    *      (a codegen-friendly integer fold — no shuffle);
    *   2. the matrix-vector product `w = Σ m_i·s_i` via the
    *      transpose-aggregate shape (`posexplode` → partial sums on pos),
    *      so shuffle cardinality is `dim`, never |vectors|.
    * Between rounds the direction renormalizes onto the ±1e6 integer grid
    * by its max-|component| (a 1-row broadcast), so every round is
    * bit-deterministic: vectors ride the milli grid, per-dimension sums
    * ride DECIMAL(38,0) (Σ m·s reaches ~3e18 at sf0.1 and would wrap Long
    * at corpus scale), and the only divisions are sign-handled truncating
    * integer divides. `v₀` = all-ones (micro grid): deterministic, and
    * never orthogonal to the leading direction of real embedding clouds.
    * Returns one row per dimension: (pos, v_micro). */
  def powerIteration(df: DataFrame, rounds: Int = 2,
                     vecCol: String = "embedding"): DataFrame = {
    val m = df.select(milliVec(vecCol).as("__m"))
    var v: DataFrame = null // (pos, vm) — the current direction estimate
    for (_ <- 0 until rounds) {
      val scored =
        if (v == null)
          m.withColumn("__s", expr(
            "aggregate(__m, cast(0 as bigint), (acc, x) -> acc + x * 1000000)"))
        else {
          val packed = v.groupBy().agg(expr(
            "transform(array_sort(collect_list(struct(pos, vm))), s -> s.vm)")
            .as("__v"))
          m.crossJoin(broadcast(packed))
            .withColumn("__s", expr(
              """aggregate(zip_with(__m, __v, (a, b) -> a * b),
                |          cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin))
        }
      val w = scored
        .select(posexplode(col("__m")).as(Seq("__p0", "__md")), col("__s"))
        .select((col("__p0") + 1).cast("int").as("pos"),
          (col("__md").cast("decimal(38,0)") * col("__s")).as("__wc"))
        .groupBy(col("pos")).agg(sum(col("__wc")).as("__w"))
      val mx = w.agg(max(abs(col("__w"))).as("__mx"))
      v = w.crossJoin(broadcast(mx)).select(col("pos"), expr(
        """CASE WHEN __mx = 0 THEN cast(0 as bigint)
          |     WHEN __w < 0 THEN cast(-((-__w * 1000000) div __mx) as bigint)
          |     ELSE cast((__w * 1000000) div __mx as bigint) END""".stripMargin)
        .as("vm"))
    }
    v.select(col("pos"), col("vm").as("v_micro")).orderBy("pos")
  }

  /** Per-dimension standardization (z-scoring) of an embedding column —
    * the whitening step ahead of PCA/clustering, in its exact distributed
    * form: one stats pass (micro-grid moments per dimension, map-side
    * combined, shuffle cardinality = dim), then the transform joins each
    * row against the `dim`-row broadcast stats table. `probe` bounds the
    * *emitted* slice (the audit read-out); the stats always cover the full
    * input, and at 100 TB the same plan re-emits every row by widening
    * the probe.
    *
    * Exactness discipline: moments ride DECIMAL(38,0) (Σ mv² reaches
    * ~1e16 at sf0.1 and n·Q wraps Long well before corpus scale); the
    * z-score is `(n·x − S)·1e6 / floor(sqrt(n·Q − S²))` — numerator fully
    * integer, the single sqrt is IEEE-exact on both engines (the
    * bigint→double conversion and sqrt are each correctly rounded), and
    * floor + sign-handled truncating div leave no rounding-mode ties.
    * Returns (id, pos, z_micro, mean_micro, sigma_micro). */
  def standardize(df: DataFrame, probe: Column, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val e = df.select(col(idCol),
        posexplode(microVec(vecCol)).as(Seq("__p0", "__mv")))
      .select(col(idCol), (col("__p0") + 1).cast("int").as("pos"), col("__mv"))
    val stats = e.groupBy(col("pos")).agg(
        count(lit(1)).as("__n"),
        sum(col("__mv").cast("decimal(38,0)")).as("__sd"),
        sum(col("__mv").cast("decimal(38,0)") * col("__mv")).as("__qd"))
      .withColumn("__den",
        floor(sqrt((col("__n") * col("__qd") - col("__sd") * col("__sd"))
          .cast("double"))).cast("decimal(38,0)"))
    e.filter(probe)
      .join(broadcast(stats), "pos")
      .withColumn("z_micro", expr(
        """CASE WHEN __den = 0 THEN cast(0 as bigint)
          |     WHEN (cast(__n as decimal(38,0)) * __mv - __sd) < 0
          |       THEN cast(-((-(cast(__n as decimal(38,0)) * __mv - __sd) * 1000000)
          |                   div __den) as bigint)
          |     ELSE cast(((cast(__n as decimal(38,0)) * __mv - __sd) * 1000000)
          |               div __den as bigint)
          |END""".stripMargin))
      .withColumn("mean_micro", expr(
        """CASE WHEN __sd < 0 THEN cast(-((-__sd) div __n) as bigint)
          |     ELSE cast(__sd div __n as bigint) END""".stripMargin))
      .withColumn("sigma_micro", expr("cast(__den div __n as bigint)"))
      .select(col(idCol), col("pos"), col("z_micro"), col("mean_micro"),
        col("sigma_micro"))
  }

  /** Greedy k-center selection (Gonzalez 1985) — the classic 2-approx
    * diversity coreset: start from the min-id vector, then repeatedly take
    * the point FARTHEST from every center chosen so far. The
    * facility-location complement of per-cell quota sampling
    * ([[ivfAssign]] + cap): quota sampling balances, k-center *covers* —
    * the selected set's max-min distance bounds every point's distance to
    * its nearest representative within 2× of optimal.
    *
    * Scale shape: each of the k−1 rounds is ONE map pass — the chosen set
    * (≤ k rows) broadcasts as a packed array, per-row `dmin` is an
    * `array_min` over integer squared-L2 folds (milli grid: exact,
    * order-independent), and the global argmax is an `orderBy.limit(1)`
    * top-1 (per-partition heaps). No collect, no corpus shuffle; the loop
    * composes plans, k is small by construction (a coreset seed set).
    * Ties at equal distance break to the smaller id on both engines.
    * Returns (round, id, d2_at_pick) — d2 in squared milli units against
    * the centers chosen BEFORE that round. */
  def kcenterGreedy(df: DataFrame, k: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k-center needs k >= 1")
    // pinned (r15): every round's broadcast of `chosen` re-embeds the
    // prior rounds' full d² scans in one lazy plan — O(k²) corpus folds.
    // With the milli corpus pinned, each round is one fold + top-1 over
    // the checkpointed rows (same discipline as [[kmeansPpInit]]).
    val m = Pin(df.select(col(idCol).as("vid"), milliVec(vecCol).as("__m")))
    var chosen = m.orderBy(col("vid")).limit(1)
      .select(col("vid").as("cid"), col("__m").as("__cm"),
        lit(1L).as("round"), lit(0L).as("d2_at_pick"))
    for (r <- 2 to k) {
      val packed = chosen.groupBy()
        .agg(collect_list(struct(col("cid"), col("__cm"))).as("__cs"))
      val next = m.crossJoin(broadcast(packed))
        .withColumn("__dmin", expr(
          """array_min(transform(__cs, c ->
            |  aggregate(zip_with(__m, c.__cm, (a, b) -> (a - b) * (a - b)),
            |            cast(0 as bigint), (s, x) -> s + x)))""".stripMargin))
        .orderBy(col("__dmin").desc, col("vid"))
        .limit(1)
        .select(col("vid").as("cid"), col("__m").as("__cm"),
          lit(r.toLong).as("round"), col("__dmin").as("d2_at_pick"))
      // chosen stays lazy: the rounds' top-1 heaps remain visible in the
      // final plan (PlanSpec lock), and re-evaluating a prior pick is now
      // one cheap fold over the checkpointed corpus, not a re-scan
      chosen = chosen.union(next)
    }
    chosen.select(col("round"), col("cid").as(idCol), col("d2_at_pick"))
      .orderBy("round")
  }

  /** k-means++ initialization (Arthur & Vassilvitskii) in deterministic
    * distributed form — the principled seeding [[kmeansTrain]] should
    * start from: each new center is D²-SAMPLED (probability ∝ squared
    * distance to the nearest chosen center) instead of [[kcenterGreedy]]'s
    * max — outlier-robust where the max is outlier-seeking.
    *
    * The random draw is a HASH POINT on the cumulative D² line: round r
    * picks the row whose [cum−d², cum] interval covers
    * `md5("kmeanspp:r") mod ΣD² + 1` — the same replayable-stream
    * discipline as the PPS sampler, so engines, retries, and
    * partitionings agree. Per round: one broadcast-fold dmin² pass, one
    * exact distributed prefix sum
    * ([[graft.operators.GlobalRank.globalPrefixSum]] — never a one-task
    * window), one interval filter (exactly one row). D² sums ride Long
    * (≤ ~4e12 at sf0.1; the decimal move is the same one the scaladoc'd
    * prefix sum already makes internally). Returns (round, id,
    * d2_at_pick). */
  def kmeansPpInit(df: DataFrame, k: Int = 3, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k-means++ needs k >= 1")
    // r15 (guide §1.2 "the distributed algorithm"): pin the milli corpus
    // and each round's scored prefix sum. Un-pinned, the rounds compose
    // one lazy plan in which every broadcast of `chosen` re-embeds all
    // prior rounds' d² scans — the corpus fold ran O(k²) times in one
    // job. Pinned, each round is one d²+prefix-sum pass (ΣD² read off
    // the LAST prefix value: d² >= 0 makes __cum monotone, so
    // max(__cum) = sum(__d2) exactly — no second pass over `scored`).
    val m = Pin(df.select(col(idCol).as("vid"), milliVec(vecCol).as("__m")))
    var chosen = m.orderBy(col("vid")).limit(1)
      .select(col("vid").as("cid"), col("__m").as("__cm"),
        lit(1L).as("round"), lit(0L).as("d2_at_pick"))
    for (r <- 2 to k) {
      val packed = chosen.groupBy()
        .agg(collect_list(struct(col("cid"), col("__cm"))).as("__cs"))
      val scored = m.crossJoin(broadcast(packed))
        .withColumn("__d2", expr(
          """array_min(transform(__cs, c ->
            |  aggregate(zip_with(__m, c.__cm, (a, b) -> (a - b) * (a - b)),
            |            cast(0 as bigint), (s, x) -> s + x)))""".stripMargin))
        .select(col("vid"), col("__m"), col("__d2"))
      val cum = Pin(graft.operators.GlobalRank
        .globalPrefixSum(scored, Seq(col("vid")), "__d2", "__cum"))
      val tot = cum.agg(max(col("__cum")).as("__tw"))
      val next = cum.crossJoin(broadcast(tot))
        .withColumn("__p",
          graft.functions.ColumnFns.md5Long(lit(s"kmeanspp:$r")) % col("__tw") + 1L)
        .filter(col("__cum") - col("__d2") < col("__p") &&
          col("__p") <= col("__cum"))
        .select(col("vid").as("cid"), col("__m").as("__cm"),
          lit(r.toLong).as("round"), col("__d2").as("d2_at_pick"))
      chosen = chosen.union(next)
    }
    chosen.select(col("round"), col("cid").as(idCol), col("d2_at_pick"))
      .orderBy("round")
  }

  def rangeSearch(corpus: DataFrame, queries: DataFrame, radius: Double,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__q"))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__c"))
      .crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_micro", microScore(cosine(col("__q"), col("__c"))))
      .filter(col("cosine_micro") >= lit(math.round(radius * 1e6)))
      .select(col("query_id"), col("neighbor_id"), col("cosine_micro"))
  }
}

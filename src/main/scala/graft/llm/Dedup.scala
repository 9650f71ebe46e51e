package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin
import graft.functions.ColumnFns._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Every shape here is bucketed/banded by construction — at 100 TB the only
  * admissible plans are `groupBy(bucket)` + within-bucket work; there is no
  * all-pairs cross join anywhere. Hashes are md5-derived ([[graft.functions.ColumnFns.md5Long]])
  * so every stage is reproducible in any SQL engine for oracle verification.
  */
object Dedup {

  /** Exact dedup by content hash: one survivor (min id) per distinct content,
    * plus the duplicate count. A single hash-aggregate — the canonical
    * deterministic form of `dropDuplicates(contentCols)`, chosen because the
    * survivor is well-defined (dropDuplicates keeps an arbitrary row).
    */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Mersenne prime 2^31-1: modulus of the affine MinHash permutations. */
  val MinhashP = 2147483647L

  /** 30-bit base hash of one shingle — the ONE md5 each shingle pays;
    * all `numHashes` permutations derive from it affinely. */
  def minhashBase(s: Column): Column = md5Long(s) % 1073741824L

  /** Base-hash selector for the MinHash/SimHash kernels: md5 (default —
    * reproducible in any SQL engine, so every operator stays
    * oracle-verifiable) or the xxhash64 fast path (~3× hash throughput;
    * same width/positivity contract, not SQL-reproducible — for
    * production corpora where the oracle is not in the loop). */
  private def base30(s: Column, fastHash: Boolean): Column =
    if (fastHash) fastLong30(s) else minhashBase(s)
  private def base60(s: Column, fastHash: Boolean): Column =
    if (fastHash) fastLong60(s) else md5Long(s)

  /** Affine-permutation coefficients for hash `h` — md5-derived so the
    * permutations are pairwise UNRELATED. (A linear schedule like
    * a_h = (h+1)*K correlates the orderings of permutations h and 2h+1,
    * which measurably inflates false band collisions.) Fixed plan-time
    * Longs: the oracle SQL inlines the identical literals. (Delegates to
    * [[graft.functions.MinhashSigExpr]], the native signature kernel.) */
  def minhashA(h: Int): Long = graft.functions.MinhashSigExpr.coeffA(h)
  def minhashB(h: Int): Long = graft.functions.MinhashSigExpr.coeffB(h)

  /** MinHash signature from the per-shingle 30-bit base hashes: signature
    * element h = min over shingles of (a_h * base + b_h) mod p — the
    * classic "one hash + k affine permutations" family (Broder 1997), which
    * costs ONE md5 per shingle instead of `numHashes`. All products stay
    * below 2^61 (a_h < 2^31, base < 2^30), so the arithmetic is exact on
    * LongType and bit-reproducible in DuckDB. Callers should materialize
    * the base array behind a projection so it is computed once, not once
    * per hash function.
    *
    * Backed by the native one-pass [[graft.functions.MinhashSigExpr]];
    * bit-identical to the composable
    * `array(array_min(transform(bases, b -> (a_h*b + b_h) % p)), ...)`
    * chain it replaces (equivalence locked by LlmSpec). */
  def minhashSignatureFromBases(basesCol: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.MinhashSigExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(basesCol), numHashes))

  /** MinHash-LSH band assignment: split the signature into `bands` bands of
    * `rowsPerBand` rows; a band key is the concatenated minhash values.
    * Documents sharing any band key are near-dup candidates.
    *
    * Returns one row per (doc, band): (idCol, band, band_key). The band
    * explode multiplies rows by `bands` but each band's candidate search is a
    * plain `groupBy(band, band_key)` — a shuffle on a well-spread key, the
    * scale path.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 3, bands: Int = 4,
                   rowsPerBand: Int = 2, fastHash: Boolean = false): DataFrame = {
    // Materialize the per-shingle BASE hashes behind their own projection:
    // the `bands*rowsPerBand` permutations then scan a computed attribute,
    // so each shingle pays exactly one hash regardless of signature width.
    val withShingles = df
      .select(col(idCol), shingles(tokens(col(textCol)), shingleLen).as("__shj"))
      .select(col(idCol), transform(col("__shj"), base30(_, fastHash)).as("__sh"))
    val bandStructs = array((0 until bands).map { b =>
      val key = concat_ws(",",
        (0 until rowsPerBand).map(r =>
          element_at(col("__sig"), b * rowsPerBand + r + 1).cast("string")): _*)
      struct(lit(b).cast("int").as("band"), key.as("band_key"))
    }: _*)
    withShingles
      .select(col(idCol),
        minhashSignatureFromBases(col("__sh"), bands * rowsPerBand).as("__sig"))
      .select(col(idCol), explode(bandStructs).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.band_key").as("band_key"))
  }

  /** Ordered-pair expansion of a (sorted) collected array: every (x, y) with
    * x before y — the shared combinatorics of all within-bucket pair
    * generators. */
  private def orderedPairs(recs: Column): Column =
    flatten(transform(recs, (x, i) =>
      transform(slice(recs, i + 2, size(recs)), y =>
        struct(x.as("a"), y.as("b")))))

  /** Within-bucket ordered pairs of `idCol` values: groupBy the bucket keys,
    * collect the (sorted) ids, expand pairs with array combinatorics. ONE
    * scan of the input and one shuffle — strictly better than a self-join,
    * which would recompute the upstream lineage on both sides and shuffle
    * twice. Bucket sizes are bounded (band collision rate / LSH bucket
    * geometry), so the per-bucket expansion is small; a skewed bucket is
    * split by AQE at scale. */
  private[graft] def withinBucketPairs(df: DataFrame, bucketCols: Seq[String],
                                       idCol: String): DataFrame = {
    val ids = col("__ids")
    df.groupBy(bucketCols.map(col).toIndexedSeq: _*)
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(ids) > 1)
      .select(bucketCols.map(col) :+ explode(orderedPairs(ids)).as("__p"): _*)
      .select(bucketCols.map(col) :+ col("__p.a").as("id_a") :+ col("__p.b").as("id_b"): _*)
  }

  /** Exact-duplicate collapse for ALL-PAIRS operators. Partitions rows by
    * an operator-specific equivalence key — columns whose values fully
    * determine the operator's view of a row: the content hash for the
    * Jaccard families, block + compared prefix for the fuzzy join, the
    * vector for cosine — and picks the min-id representative per class.
    *
    * Why every pair-emitting operator needs this: m byte-identical copies
    * of one page (mirrors, boilerplate — the dominant adversarial shape of
    * a web corpus) share every candidate bucket, so candidate generation
    * over raw rows is inherently m² per flood no matter how well the
    * buckets spread. Collapsed, all candidate/verify work runs over
    * DISTINCT contents (u rows, not n) and the only quadratic-in-m stage
    * is the final output-sized expansion — the information-theoretic floor
    * for an all-pairs contract. Clean-corpus overhead: one extra
    * fixed-width shuffle (every row is its own representative).
    *
    * Returns (members, reps): members = (`__rep`, `__member`) one row per
    * input row (fixed-width, localCheckpointed — the window is computed
    * once, not once per downstream branch); reps = the input rows whose id
    * IS the representative. Rows with a NULL in any key column are
    * EXCLUDED — equi-join candidate generators never pair null keys, and
    * the collapse must not invent pairs the raw operator cannot emit. */
  private[graft] def collapseByKey(df: DataFrame, idCol: String,
                                   keyCols: Seq[Column]): (DataFrame, DataFrame) = {
    val nonNull = Pin(df.filter(keyCols.map(_.isNotNull).reduce(_ && _))
      .withColumn("__rep", min(col(idCol)).over(Window.partitionBy(keyCols: _*))))
    val members = nonNull.select(col("__rep"), col(idCol).as("__member"))
    val reps = nonNull.filter(col(idCol) === col("__rep")).drop("__rep")
    (members, reps)
  }

  /** Intra-class pairs of [[collapseByKey]]'s members — the hamming-0 /
    * Jaccard-1 pairs between byte-identical copies, streamed from an
    * equi-join on the representative (never a per-class collected array:
    * an all-identical corpus degrades to a large join OUTPUT, not a single
    * giant row). Returns (`__rep`, id_a, id_b), id_a < id_b; callers join
    * per-representative self-stats by `__rep`. */
  private[graft] def intraPairs(members: DataFrame): DataFrame =
    members.as("x").join(members.as("y"),
        col("x.__rep") === col("y.__rep")
          && col("x.__member") < col("y.__member"))
      .select(col("x.__rep").as("__rep"), col("x.__member").as("id_a"),
        col("y.__member").as("id_b"))

  /** Expand representative-level pairs (id_a, id_b, stats…) to
    * member-level pairs: every (copy of a) × (copy of b). Adds `__ma`,
    * `__mb` (the member ids) and `__swap` (true when emitting in id order
    * reverses the rep order — asymmetric stats like containment's
    * n_a/n_b must be swapped by the caller under `__swap`). Output-sized
    * by construction. */
  private[graft] def memberPairs(repPairs: DataFrame, members: DataFrame): DataFrame =
    repPairs
      .join(members.select(col("__rep").as("id_a"), col("__member").as("__ma")), "id_a")
      .join(members.select(col("__rep").as("id_b"), col("__member").as("__mb")), "id_b")
      .withColumn("__swap", col("__ma") > col("__mb"))

  /** Candidate near-dup pairs: docs sharing a (band, band_key) bucket.
    * PRECONDITION at corpus scale: run [[exact]] first — exact-duplicate
    * floods give identical signatures, so all copies share every band
    * bucket and ANY candidate generator expands them quadratically (the
    * band buckets here carry only ids, so the shuffle survives, but the
    * pair count is inherently n² in the flood size). The enforced form of
    * the precondition is [[collapseByKey]]; [[nearDupEdges]],
    * [[lshJaccardScoredPairs]], [[lshContainmentPairs]] and
    * [[simhashBandPairs]] apply it internally.
    * Bucketed by construction — never an all-pairs comparison. */
  def minhashCandidatePairs(bandsDf: DataFrame, idCol: String): DataFrame =
    withinBucketPairs(bandsDf, Seq("band", "band_key"), idCol)
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** Verified near-duplicate edges — the composed front half of the dedup
    * clustering pipeline: MinHash-LSH band candidates (distinct pairs from
    * id-only buckets), each scored ONCE by exact distinct-shingle Jaccard
    * against per-doc shingles joined back by id, kept at
    * `jaccard >= minJaccard`. Feeds [[graft.operators.ConnectedComponents]]
    * for clustering and survivor selection.
    *
    * Exact-duplicate floods are collapsed BEFORE banding (the enforced
    * form of [[minhashCandidatePairs]]'s precondition): m byte-identical
    * copies share every band bucket, so feeding them to any candidate
    * generator expands m·(m−1)/2 pairs per flood — an adversarial corpus
    * (mirrors, boilerplate pages) blows up quadratically however well the
    * buckets are spread. Instead, one content-hash window picks the min-id
    * representative per distinct content; only representatives enter the
    * band pipeline, and each non-representative contributes exactly ONE
    * star edge (rep → member, Jaccard 1 by construction). The components
    * downstream are IDENTICAL to the naive graph's: the naive edge set is
    * precisely the clique-expansion of this star + representative graph
    * (identical content ⇒ identical signature ⇒ identical bucket fate), so
    * the flood's quadratic pair set never exists anywhere in the plan.
    * Cost on a clean corpus: one extra content-hash shuffle; results there
    * are unchanged (every doc is its own representative). */
  def nearDupEdges(docs: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                   minJaccard: Double = 0.8, fastHash: Boolean = false): DataFrame = {
    val byContent = Window.partitionBy(col("__ch"))
    val withRep = docs
      .select(col(idCol), col(textCol), md5(col(textCol)).as("__ch"))
      .withColumn("__rep", min(col(idCol)).over(byContent))
    val starEdges = withRep.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    val reps = withRep.filter(col(idCol) === col("__rep"))
      .select(col(idCol), col(textCol))
    val sh = reps.select(col(idCol),
      array_distinct(shingles(tokens(col(textCol)), shingleLen)).as("__sh"))
    val cand = minhashCandidatePairs(
      minhashBands(reps, idCol, textCol, shingleLen, bands, rowsPerBand,
        fastHash), idCol)
    val inter = size(array_intersect(col("__sha"), col("__shb")))
    val repEdges = cand
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), "id_b")
      .withColumn("__jac", inter.cast("double")
        / (size(col("__sha")) + size(col("__shb")) - inter).cast("double"))
      .filter(col("__jac") >= minJaccard)
      .select(col("id_a"), col("id_b"))
    repEdges.union(starEdges)
  }

  /** SimHash signature (Charikar 2002) from per-token 60-bit base hashes:
    * bit j of the signature is the sign of the sum over tokens of the +-1
    * vote carried by BIT j of each token's base hash — one md5 per token
    * total, instead of one per (bit, token). Near-dups differ in few bits;
    * bucketing by signature (or signature chunks) finds them without
    * pairwise scans. Callers should materialize the base array behind a
    * projection (the `bits` bit-scans then reuse one computed attribute). */
  def simhashFromBases(basesCol: Column, bits: Int = 16): Column =
    // native one-pass kernel; bit-identical to the composable
    // `sum over j of when(aggregate-vote(j) > 0, 1 << j)` chain it
    // replaces (equivalence locked by LlmSpec)
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.SimhashExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(basesCol), bits))

  /** SimHash straight from tokens (convenience; prefer
    * [[simhashFromBases]] behind a projection in pipelines). */
  def simhash(toks: Column, bits: Int = 16, fastHash: Boolean = false): Column =
    simhashFromBases(transform(toks, base60(_, fastHash)), bits)

  /** SimHash near-duplicate pairs by Hamming distance: each signature is
    * split into `bands` contiguous chunks, docs sharing ANY chunk value
    * become candidates (pigeonhole: a pair within Hamming distance
    * `bands - 1` must agree on at least one chunk, so recall is exact for
    * `maxHamming < bands`), and only candidates pay the
    * `bit_count(sig ^ sig)` test. Same one-scan bucket shape as
    * [[withinBucketPairs]] — the signature frame is never self-joined; the
    * two id-keyed joins that fetch signatures back are on the (small)
    * candidate set.
    *
    * Scale sizing: expected bucket population is n / 2^(bits/bands), so
    * chunk width must grow with the corpus — 64-bit signatures with
    * 16-bit chunks (4 bands) hold ~n/65536 docs per bucket at corpus
    * scale. Narrow configs (e.g. 16/4 — 16 buckets per band, used by the
    * oracle query for SQL tractability) are only for small n; for a
    * corpus whose buckets might still blow up, pre-split with
    * [[ngramJaccardPairs]]-style capping or widen `bits`. */
  def simhashBandPairs(docs: DataFrame, idCol: String, textCol: String,
                       bits: Int = 16, bands: Int = 4,
                       maxHamming: Int = 3, fastHash: Boolean = false): DataFrame = {
    require(bands > 0 && bits % bands == 0,
      s"bits ($bits) must divide evenly into bands ($bands)")
    require(maxHamming < bands,
      s"recall is only exact for maxHamming < bands ($maxHamming >= $bands)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    // FLOOD-COLLAPSED shape: all banding, bucketing, and Hamming
    // verification runs over DISTINCT signatures; doc ids re-enter only in
    // the final output-sized expansion. A corpus where each page has m
    // byte-identical mirror copies (the shape a 10x-tiled corpus — or the
    // real web — produces) would otherwise pay m^2 inside every band
    // bucket: candidate work here tracks u = |distinct sigs|, never n,
    // and the only quadratic-in-m stage is the one that EMITS the
    // quadratic-in-m answer (the information-theoretic floor for an
    // all-pairs contract). The (id, sig) table is localCheckpointed: one
    // per-token md5 pass total, reused by the intra-join and both
    // expansion joins without recomputing the scan.
    val sigs = Pin(docs
      .select(col(idCol), transform(tokens(col(textCol)), base60(_, fastHash)).as("__tb"))
      .select(col(idCol), simhashFromBases(col("__tb"), bits).as("__sig")))
    // identical signature => hamming 0, no bucket pass needed: stream the
    // pairs from an equi-join on the sig (never a per-sig collected array
    // — an all-identical corpus degrades to a big join output, not a
    // single giant row)
    val intra = sigs.as("x").join(sigs.as("y"),
        col("x.__sig") === col("y.__sig")
          && col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        lit(0).cast("integer").as("hamming"))
    // band the DISTINCT sigs; in-bucket records are single longs and the
    // Hamming filter runs before the pair-dedup shuffle. Bucket population
    // is u/2^bandBits (see sizing note above).
    val bucketed = sigs.select(col("__sig")).distinct()
      .select(col("__sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_key",
        expr(s"shiftrightunsigned(__sig, band * $bandBits) & $mask"))
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("__sig"))).as("__ss"))
      .filter(size(col("__ss")) > 1)
      .select(explode(orderedPairs(col("__ss"))).as("__p"))
      .select(col("__p.a").as("__sa"), col("__p.b").as("__sb"),
        bit_count(col("__p.a").bitwiseXOR(col("__p.b"))).cast("integer").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a sig pair can surface in several bands: dedup the
                  // (small) sig pairs, not the expanded doc pairs
    // output-sized expansion: every (docA, docB) across a qualifying sig
    // pair. Distinct sigs make each doc pair reachable exactly once, and
    // cross-sig hamming >= 1 keeps the union disjoint from intra's 0s.
    val cross = bucketed
      .join(sigs.select(col(idCol).as("__ida"), col("__sig").as("__sa")), "__sa")
      .join(sigs.select(col(idCol).as("__idb"), col("__sig").as("__sb")), "__sb")
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("hamming"))
    intra.union(cross)
  }

  /** Near-dup pairs over a PRE-COMPUTED long signature (SimHash, image
    * aHash, any Hamming-space fingerprint): band the `bits`-wide sig into
    * `bands` chunks, bucket-join on (band, chunk), Hamming-filter the
    * in-bucket pairs. Recall is EXACT for `maxHamming < bands` — a pair
    * differing in ≤ maxHamming bits cannot touch every band (pigeonhole).
    * Same one-scan / two-shuffle shape as [[simhashBandPairs]] (which owns
    * the text→sig derivation); this is the composition point for
    * signatures computed elsewhere — e.g. [[Multimodal.aHash]] image
    * fingerprints, pre-collapsed to one representative per distinct sig so
    * exact-dup floods never reach the pair expansion. */
  def sigBandPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   bits: Int, bands: Int, maxHamming: Int): DataFrame = {
    require(bands > 0 && bits % bands == 0,
      s"bits ($bits) must divide evenly into bands ($bands)")
    require(maxHamming < bands,
      s"recall is only exact for maxHamming < bands ($maxHamming >= $bands)")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val recs = col("__recs")
    sigs
      .select(col(idCol), col(sigCol).as("__sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_key",
        expr(s"shiftrightunsigned(__sig, band * $bandBits) & $mask"))
      .select(col("band"), col("band_key"),
        struct(col(idCol).as("id"), col("__sig").as("sig")).as("__rec"))
      .groupBy(col("band"), col("band_key"))
      .agg(sort_array(collect_list(col("__rec"))).as("__recs"))
      .filter(size(recs) > 1)
      .select(explode(orderedPairs(recs)).as("__p"))
      .select(col("__p.a.id").as("id_a"), col("__p.b.id").as("id_b"),
        bit_count(col("__p.a.sig").bitwiseXOR(col("__p.b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact distinct-shingle Jaccard scores over MinHash-LSH candidates —
    * the exhaustive scale path (every candidate pair scored, no threshold,
    * no cap). Flood-collapsed ([[collapseByKey]]): banding, candidate
    * generation and the set-intersection verify run over DISTINCT
    * contents; identical-copy pairs (J = 1.0 by definition — n/n is exact
    * in IEEE754) and the cross-content expansion are emitted output-sized.
    * Identical contents have identical signatures, hence identical bucket
    * fate, so the collapsed result equals the raw one row-for-row.
    * Returns (id_a, id_b, n_intersect, n_union, jaccard). */
  def lshJaccardScoredPairs(docs: DataFrame, idCol: String, textCol: String,
                            shingleLen: Int = 3, bands: Int = 4,
                            rowsPerBand: Int = 2,
                            fastHash: Boolean = false): DataFrame = {
    val (members, reps) = collapseByKey(
      docs.select(col(idCol), col(textCol)), idCol, Seq(md5(col(textCol))))
    val cand = minhashCandidatePairs(
      minhashBands(reps, idCol, textCol, shingleLen, bands, rowsPerBand,
        fastHash), idCol)
    val sh = reps.select(col(idCol),
      array_distinct(shingles(tokens(col(textCol)), shingleLen)).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val uni = size(col("sa")) + size(col("sb")) - inter
    val repPairs = cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), inter.as("n_intersect"),
        uni.as("n_union"))
      // exact integer micro-units (truncating div of non-negative
      // BIGINTs, identical on both engines) — a round(double, 6) here
      // is the w6 cross-engine divergence class (SCALE_r11.md §1)
      .withColumn("jaccard_micro",
        expr("cast(n_intersect as bigint) * 1000000 div n_union"))
    val intra = intraPairs(members)
      .join(sh.select(col(idCol).as("__rep"), size(col("sh")).as("__n")), "__rep")
      .select(col("id_a"), col("id_b"), col("__n").as("n_intersect"),
        col("__n").as("n_union"), lit(1000000L).as("jaccard_micro"))
    val cross = memberPairs(repPairs, members)
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("n_intersect"), col("n_union"), col("jaccard_micro"))
    intra.union(cross)
  }

  /** Asymmetric containment over MinHash-LSH candidates: |A∩B|/|A| vs
    * |A∩B|/|B| in integer milli-units — catches a document CONTAINED in a
    * larger one (quotes, concatenations), which symmetric Jaccard dilutes.
    * Flood-collapsed like [[lshJaccardScoredPairs]]; containment stats are
    * ASYMMETRIC, so the id-order relabel of the expansion swaps
    * n_a/n_b and cont_a/cont_b when it reverses the representative order.
    * Returns (id_a, id_b, n_intersect, n_a, n_b, cont_a_milli,
    * cont_b_milli) for pairs with max(cont) >= `thresholdMilli`. */
  def lshContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int = 3, bands: Int = 4,
                          rowsPerBand: Int = 2, thresholdMilli: Int = 800,
                          fastHash: Boolean = false): DataFrame = {
    require(thresholdMilli >= 1 && thresholdMilli <= 1000,
      s"thresholdMilli must be in [1, 1000], got $thresholdMilli")
    val (members, reps) = collapseByKey(
      docs.select(col(idCol), col(textCol)), idCol, Seq(md5(col(textCol))))
    val cand = minhashCandidatePairs(
      minhashBands(reps, idCol, textCol, shingleLen, bands, rowsPerBand,
        fastHash), idCol)
    val sh = reps.select(col(idCol),
      array_distinct(shingles(tokens(col(textCol)), shingleLen)).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val repPairs = cand
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"), inter.as("n_intersect"),
        size(col("sa")).as("n_a"), size(col("sb")).as("n_b"))
      .withColumn("cont_a_milli",
        expr("CAST((n_intersect * 1000) div n_a AS BIGINT)"))
      .withColumn("cont_b_milli",
        expr("CAST((n_intersect * 1000) div n_b AS BIGINT)"))
      .filter(greatest(col("cont_a_milli"), col("cont_b_milli"))
        >= thresholdMilli)
    // identical copies: containment 1000 both ways (>= any valid threshold)
    val intra = intraPairs(members)
      .join(sh.select(col(idCol).as("__rep"), size(col("sh")).as("__n")), "__rep")
      .select(col("id_a"), col("id_b"), col("__n").as("n_intersect"),
        col("__n").as("n_a"), col("__n").as("n_b"),
        lit(1000L).as("cont_a_milli"), lit(1000L).as("cont_b_milli"))
    val cross = memberPairs(repPairs, members)
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("n_intersect"),
        when(col("__swap"), col("n_b")).otherwise(col("n_a")).as("n_a"),
        when(col("__swap"), col("n_a")).otherwise(col("n_b")).as("n_b"),
        when(col("__swap"), col("cont_b_milli")).otherwise(col("cont_a_milli")).as("cont_a_milli"),
        when(col("__swap"), col("cont_a_milli")).otherwise(col("cont_b_milli")).as("cont_b_milli"))
    intra.union(cross)
  }

  /** Embedding-cosine near-duplicate pairs: vectors are LSH-bucketed
    * ([[Similarity.lshBucket]]), per-bucket pairs expanded (one scan, one
    * shuffle — same shape as [[withinBucketPairs]]), and only same-bucket
    * pairs pay the cosine. Flood-collapsed ([[collapseByKey]] on the raw
    * vector — byte-identical embeddings, the shape a mirrored corpus's
    * re-embedded copies produce): bucketing and cosine verification run
    * over DISTINCT vectors; identical-copy pairs take their cosine from
    * the representative's self-cosine through the SAME kernel (bit-equal
    * to what the raw pair would compute — including the 0-vector NaN
    * case), and the expansion is output-sized.
    * Returns pairs with cosine >= `threshold`. */
  def embeddingNearDupPairs(df: DataFrame, dim: Int, threshold: Double,
                            numPlanes: Int = 8, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val (members, reps) = collapseByKey(
      df.select(col(idCol), col(vecCol)), idCol, Seq(col(vecCol)))
    val rec = struct(col(idCol).as("id"), col(vecCol).as("v"))
    val recs = col("__recs")
    val cos = Similarity.cosine(col("__p.a.v"), col("__p.b.v"))
    val repPairs = reps
      .select(Similarity.lshBucket(col(vecCol), dim, numPlanes).as("bucket"), rec.as("__rec"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("__rec"))).as("__recs"))
      .filter(size(recs) > 1)
      .select(col("bucket"), explode(orderedPairs(recs)).as("__p"))
      .select(col("__p.a.id").as("id_a"), col("__p.b.id").as("id_b"),
        Similarity.microScore(cos).as("cosine_micro"))
      .filter(col("cosine_micro") >= lit(math.round(threshold * 1e6)))
    // identical-copy pairs score the representative's self-cosine through
    // the SAME kernel — ~1.0 for real vectors, NaN for the 0-vector (which
    // then fails the threshold exactly as the raw pair would)
    val intra = intraPairs(members)
      .join(reps.select(col(idCol).as("__rep"),
        Similarity.microScore(Similarity.cosine(col(vecCol), col(vecCol)))
          .as("cosine_micro")), "__rep")
      .filter(col("cosine_micro") >= lit(math.round(threshold * 1e6)))
      .select(col("id_a"), col("id_b"), col("cosine_micro"))
    val cross = memberPairs(repPairs, members)
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("cosine_micro"))
    intra.union(cross)
  }

  /** N-gram Jaccard similarity of candidate pairs *within buckets* (never
    * all-pairs): docs are grouped by the bucket key(s), pairs expanded
    * per-bucket (one scan, one shuffle — shingles computed once), then
    * scored with distinct-shingle set intersection/union.
    *
    * Per-bucket expansion is BOUNDED: each bucket keeps at most
    * `maxBucketSize` records (the lowest ids — deterministic), so the pair
    * blow-up is ≤ maxBucketSize·(maxBucketSize−1)/2 per bucket no matter how
    * skewed the bucket key is. On a real corpus a coarse key like
    * `(source, lang)` has corpus-sized buckets — without the cap one
    * `collect_list` would OOM an executor. The truncation is SURFACED, not
    * silent: every emitted pair carries `n_bucket_dropped`, the number of
    * records its bucket discarded. For exhaustive pairing feed this operator
    * fine-grained buckets (MinHash LSH band keys — see
    * [[minhashCandidatePairs]]) instead of raising the cap. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        bucketCols: Seq[String], shingleLen: Int = 3,
                        minJaccard: Double = 0.0,
                        maxBucketSize: Int = 256): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    val rec = struct(col(idCol).as("id"),
      array_distinct(shingles(tokens(col(textCol)), shingleLen)).as("sh"))
    // ordered pairs of records from the sorted per-bucket list (id is the
    // struct's first field, so struct order == id order)
    val recs = col("__recs")
    val inter = size(array_intersect(col("__p.a.sh"), col("__p.b.sh")))
    val uni = size(col("__p.a.sh")) + size(col("__p.b.sh")) - inter
    df.select(bucketCols.map(col) :+ rec.as("__rec"): _*)
      .groupBy(bucketCols.map(col).toIndexedSeq: _*)
      .agg(sort_array(collect_list(col("__rec"))).as("__all"))
      .select(
        slice(col("__all"), 1, maxBucketSize).as("__recs"),
        greatest(size(col("__all")) - lit(maxBucketSize), lit(0))
          .as("n_bucket_dropped"))
      .filter(size(recs) > 1)
      .select(explode(orderedPairs(recs)).as("__p"), col("n_bucket_dropped"))
      .select(col("__p.a.id").as("id_a"), col("__p.b.id").as("id_b"),
        inter.as("n_intersect"), uni.as("n_union"),
        col("n_bucket_dropped"))
      .withColumn("jaccard_micro",
        expr("cast(n_intersect as bigint) * 1000000 div n_union"))
      .select(col("id_a"), col("id_b"), col("n_intersect"), col("n_union"),
        col("jaccard_micro"), col("n_bucket_dropped"))
      .filter(col("jaccard_micro") >= lit(math.round(minJaccard * 1e6)))
  }

  /** Blocked fuzzy self-join with edit-distance verification — the entity-
    * resolution primitive ("these two records are the same thing,
    * modulo typos"): candidate pairs share a cheap BLOCKING key, then each
    * candidate is verified with exact Levenshtein distance on a bounded
    * prefix of the string. Classic two-phase record linkage (Fellegi &
    * Sunter lineage); recall is the blocking key's property — same-block
    * true matches are never lost, cross-block ones need a second pass
    * with an orthogonal key (standard multi-pass blocking).
    *
    * Scale shape: one equi-join on the block key (pair volume is
    * Σ block² over DISTINCT (block, prefix) classes — the caller picks
    * keys that keep blocks O(100), exactly the bucket discipline of
    * [[ngramJaccardPairs]]), then the O(p·maxLen²) Levenshtein verify runs
    * ONLY on candidates, inside codegen (Spark's native `levenshtein`).
    * The prefix bound caps the verify cost per pair regardless of document
    * length. Rows whose compared prefix AND block are identical are
    * collapsed first ([[collapseByKey]] — a flood of m identical records
    * would otherwise pay m² Levenshtein calls for pairs that are dist 0 by
    * definition); the verify therefore runs once per distinct string pair.
    *
    * Returns (id_a, id_b, dist) for pairs with `dist <= maxDist`,
    * id_a < id_b, deduplicated across blocks. */
  def fuzzyJoinBlocked(df: DataFrame, idCol: String, strCol: String,
                       blockCols: Seq[String], maxDist: Int,
                       prefixLen: Int = 32): DataFrame = {
    require(maxDist >= 0 && prefixLen >= 1,
      s"need maxDist >= 0, prefixLen >= 1; got $maxDist/$prefixLen")
    require(blockCols.nonEmpty, "fuzzyJoinBlocked needs >= 1 blocking column")
    val rec = df.select(blockCols.map(col) :+ col(idCol).as("__id")
      :+ substring(col(strCol), 1, prefixLen).as("__s"): _*)
    // equivalence key = block + compared prefix: the operator's entire
    // view of a row (NULL keys are excluded by the collapse, matching the
    // raw equi-join/verify, which never emits null-key pairs)
    val (members, reps) = collapseByKey(rec, "__id",
      blockCols.map(col) :+ col("__s"))
    val a = reps.select(blockCols.map(col) :+ col("__id").as("id_a")
      :+ col("__s").as("__sa"): _*)
    val b = reps.select(blockCols.map(col) :+ col("__id").as("id_b")
      :+ col("__s").as("__sb"): _*)
    val repPairs = a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
    // identical (block, prefix) copies are dist 0 by definition; distinct
    // classes in one block have dist >= 1, so the union is disjoint
    val intra = intraPairs(members)
      .select(col("id_a"), col("id_b"), lit(0).as("dist"))
    val cross = memberPairs(repPairs, members)
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("dist"))
    intra.union(cross)
  }

  /** EXACT all-pairs Jaccard join by prefix filtering (Chaudhuri et al.
    * SSJoin 2006 / Bayardo et al. "Scaling Up All Pairs" 2007): every pair
    * with `J >= t` is found, with NO false negatives and subquadratic
    * candidate generation — the exact complement of the LSH families
    * (probabilistic recall) and the capped bucket variant (surfaced
    * drops).
    *
    * The theorem: order the shingle universe globally by ascending
    * document frequency (rarest first, shingle string as tie-break). If
    * two sets of sizes n_a, n_b have `J >= t`, their overlap is at least
    * `ceil(t·n_a)`, so set a cannot avoid sharing an element with b's
    * prefix — each set's first `n − ceil(t·n) + 1` shingles in global
    * order. Candidates = pairs sharing >= 1 PREFIX shingle; each is then
    * verified exactly.
    *
    * Scale shape: prefix shingles are the RAREST by construction, so
    * their posting lists are the corpus's shortest — candidate volume
    * tracks the true-near-dup density, not |docs|². One per-doc window
    * (partition = doc id, bounded by doc length) ranks shingles; one
    * equi-join on the prefix shingle generates candidates; verification
    * joins the two distinct-shingle arrays back by id (projection-only
    * scans, same shape as the LSH variant). Exact-duplicate floods are
    * collapsed internally ([[collapseByKey]]): ranking, candidates and
    * verification all run over DISTINCT contents; identical-copy pairs
    * (J = 1000 by definition, always over threshold) and the cross-content
    * pair expansion are emitted output-sized at the end.
    *
    * Returns (id_a, id_b, n_intersect, n_union, jacc_milli) for pairs
    * with `jacc_milli >= thresholdMilli` — integer milli-Jaccard via
    * truncating div, engine-exact. */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleLen: Int = 3,
                               thresholdMilli: Int = 800): DataFrame = {
    require(thresholdMilli >= 1 && thresholdMilli <= 1000,
      s"thresholdMilli must be in [1, 1000], got $thresholdMilli")
    val (members, reps) = collapseByKey(
      df.select(col(idCol), col(textCol)), idCol, Seq(md5(col(textCol))))
    // NOTE (r16, measured): `sets` re-evaluates ~4x through this lazy DAG
    // (both sides of the dfreq join + both verify sides) and the ranking
    // window twice (the candidate self-join) — pinning either stage with
    // localCheckpoint was A/B'd and LOST: both pins +32%, prefixes-only
    // +54% (medians, spreads <20%; OPTIMIZATION_r16.md "Tried, measured,
    // rejected").
    // The recomputations run concurrently inside one DAG while a pin
    // serializes a full materialization job before any consumer starts;
    // page cache absorbs the repeated scans. Kept lazy deliberately.
    val sets = reps.select(col(idCol).as("id"),
      array_distinct(shingles(tokens(col(textCol)), shingleLen)).as("sh"))
    val shRows = sets.select(col("id"), explode(col("sh")).as("shingle"))
    val dfreq = shRows.groupBy(col("shingle")).agg(count(lit(1)).as("df_count"))
    val ranked = shRows.join(dfreq, "shingle")
      .withColumn("__r", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("df_count"), col("shingle"))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("id"))))
    val prefixes = ranked.filter(
      col("__r") <= col("__n")
        - expr(s"($thresholdMilli * __n + 999) div 1000") + 1)
      .select(col("id"), col("shingle"))
    val cand = prefixes.select(col("shingle"), col("id").as("id_a"))
      .join(prefixes.select(col("shingle"), col("id").as("id_b")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val inter = size(array_intersect(col("sa"), col("sb")))
    val uni = size(col("sa")) + size(col("sb")) - inter
    val repPairs = cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sb")), "id_b")
      // PPJoin length filter — J >= t forces t·max(n_a,n_b) <= min(n_a,n_b)
      // (|∩| <= min and |∪| >= max), so size-mismatched candidates skip
      // the O(n) intersect entirely; a necessary condition, results
      // unchanged (the exhaustive oracle stays the ground truth)
      .filter(least(size(col("sa")), size(col("sb"))).cast("long") * 1000
        >= lit(thresholdMilli.toLong) * greatest(size(col("sa")), size(col("sb"))))
      .select(col("id_a"), col("id_b"), inter.as("n_intersect"),
        uni.as("n_union"))
      .withColumn("jacc_milli",
        expr("cast(n_intersect as bigint) * 1000 div n_union"))
      .filter(col("jacc_milli") >= thresholdMilli)
    // identical copies: J = n/n = 1000 exactly (>= any valid threshold);
    // stats come from the representative's own distinct-shingle count
    val intra = intraPairs(members)
      .join(sets.select(col("id").as("__rep"), size(col("sh")).as("__n")), "__rep")
      .select(col("id_a"), col("id_b"), col("__n").as("n_intersect"),
        col("__n").as("n_union"), lit(1000L).as("jacc_milli"))
    // cross-content pairs: stats are symmetric in the pair, so the
    // id-order relabel needs no swap
    val cross = memberPairs(repPairs, members)
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("n_intersect"), col("n_union"), col("jacc_milli"))
    intra.union(cross)
  }

  /** Boilerplate chunk removal — CCNet-style line dedup generalized to a
    * fixed `chunkWords`-word chunk (the unit newline-free corpora need):
    * any chunk string appearing in >= `minDf` distinct documents is dropped
    * from EVERY document, and each document is reassembled from its
    * surviving chunks in original order. Documents losing all chunks drop
    * out of the result.
    *
    * Scale shape: chunking is a pure column expression (one `transform`
    * over the word array — no explode until chunk rows are needed); the
    * document-frequency aggregate and the anti-join key on the 60-bit chunk
    * hash, so those shuffles carry fixed-width rows rather than chunk
    * strings. The only string-carrying shuffle is the final per-document
    * reassembly, which any survivor-producing dedup pays anyway.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkWords: Int = 8, minDf: Int = 2): DataFrame = {
    require(chunkWords > 0 && minDf > 1,
      s"chunkWords must be positive and minDf > 1, got $chunkWords / $minDf")
    val words = split(col(textCol), " ")
    val nChunks = ceil(size(words).cast("double") / chunkWords).cast("int")
    val chunksExpr = when(size(words) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(words, i * chunkWords + 1, lit(chunkWords)), " ")))
    val chunked = df
      .select(col(idCol), posexplode(chunksExpr).as(Seq("cpos", "ctext")))
      .withColumn("ch", md5Long(col("ctext")))
    val boilerplate = chunked.groupBy(col("ch"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf).select(col("ch"))
    chunked.join(boilerplate, Seq("ch"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("cpos"), col("ctext")))),
          x => x.getField("ctext")), " ").as("cleaned"))
  }

  /** Content-defined chunking — the FastCDC/rsync boundary rule at word
    * granularity: a chunk opens at word 0 and at every position i whose
    * rolling `window`-word shingle hash satisfies `hash % modulus == 0`
    * (expected chunk length ≈ `modulus` words). Unlike fixed-width
    * chunks ([[chunkDedup]]), an insertion early in a document shifts
    * ONLY the chunk containing it — later boundaries are decided by
    * local content and re-align immediately, which is what makes
    * chunk-level dedup and delta storage robust to edits.
    *
    * Returns one row per (doc, chunk): (id, chunk_id, n_words,
    * chunk_fp) with chunk_fp = md5-60bit of the chunk text — the join
    * key for cross-document shared-chunk detection.
    *
    * Scale shape: one posexplode (word rows carry fixed-width ints), the
    * boundary test is pure codegen column arithmetic on the carried
    * array, the cumulative boundary count is a window keyed on the
    * HIGH-CARDINALITY doc id, and the reassembly aggregate shuffles each
    * word exactly once. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                window: Int = 3, modulus: Int = 8): DataFrame = {
    require(window >= 1 && modulus >= 2,
      s"need window >= 1 and modulus >= 2, got $window / $modulus")
    val st = df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(col("__w")).as(Seq("__i", "__word")))
    val sh = md5Long(array_join(
      slice(col("__w"), col("__i") + 1, lit(window)), " "))
    val isBoundary = when(col("__i") === 0, 1)
      .when(col("__i") + window <= size(col("__w"))
        && pmod(sh, lit(modulus.toLong)) === 0, 1)
      .otherwise(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__i"))
    st.withColumn("__b", isBoundary)
      .withColumn("chunk_id", sum(col("__b")).over(w) - 1)
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_words"),
        md5Long(array_join(transform(
          array_sort(collect_list(struct(col("__i"), col("__word")))),
          x => x.getField("__word")), " ")).as("chunk_fp"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and pruning near-identical pairs WITHIN each
    * cluster — cross-cluster pairs are never scored, which is what turns
    * the quadratic all-pairs problem into bounded per-cluster work. A
    * vector is dropped when a smaller-id vector in the same cluster has
    * cosine similarity >= `threshold` (deterministic keep-lowest-id
    * survivor rule). Returns one row per vector: (idCol, centroid_id,
    * kept).
    *
    * Scale shape: assignment is [[Similarity.ivfAssignHier]]'s two-level
    * coarse-quantizer argmax — SemDeDup trains k ∝ n clusters (keeping
    * members/cluster roughly constant), so a flat broadcast of all k
    * centroids stops fitting at billion-document scale; the hierarchical
    * path broadcasts √k coarse centroids and the cell-grouped fine table
    * instead, and each vector pays O(√k + k/√k) dot products rather than
    * O(k). The within-cluster pair generation is an equi-join on
    * `centroid_id`, never a cross join; per-cluster pair cost stays
    * bounded by the same k ∝ n sizing knob. Cosines are rounded to 1e-6
    * before the threshold so the drop set is engine-independent. The
    * assignment subtree is materialized ONCE (localCheckpoint, as
    * [[graft.operators.ConnectedComponents]] does) — it feeds three
    * consumers (both pair-join sides and the output join), which would
    * otherwise each recompute it.
    *
    * Flood-collapsed ([[collapseByKey]] on the raw vector): assignment and
    * the within-cluster pair scan run over DISTINCT vectors — m identical
    * copies would otherwise pay m² cosines per flood. The drop rule
    * factorizes exactly: a member m is dropped iff SOME qualifying source
    * member is < m, and the smallest member of a vector class is its
    * representative (min-id), so per class Y it suffices to compare m
    * against M_Y = min(rep of any OTHER same-cluster class X with
    * cos(X, Y) >= t, and rep_Y itself when the class's self-cosine
    * qualifies — identical copies, ~1.0, NaN for the 0-vector). */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame, threshold: Double,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // an empty centroid set would assign nothing and silently DROP the
    // whole corpus from the output — refuse instead (centroids are small
    // by contract, so the eager count is one cheap job; it also sizes the
    // coarse level at the classic √k)
    val k = centroids.count()
    require(k > 0, "semanticDedup requires a non-empty centroid set")
    val numCoarse = math.ceil(math.sqrt(k.toDouble)).toInt
    val (members, reps) = collapseByKey(
      vectors.select(col(idCol), col(vecCol)), idCol, Seq(col(vecCol)))
    val assigned = Pin(Similarity
      .ivfAssignHier(reps, centroids, numCoarse, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id")))
    val a = assigned.select(col("centroid_id"), col(idCol).as("__ida"),
      col(vecCol).as("__va"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("__idb"),
      col(vecCol).as("__vb"))
    // qualifying rep pairs, both directions: per class, the smallest
    // qualifying OTHER-class representative
    val q = a.join(b, Seq("centroid_id"))
      .filter(col("__ida") < col("__idb"))
      .filter(Similarity.microScore(Similarity.cosine(col("__va"), col("__vb")))
        >= lit(math.round(threshold * 1e6)))
      .select(col("__ida"), col("__idb"))
    val otherMin = q.select(col("__ida").as("__src"), col("__idb").as("__rep"))
      .union(q.select(col("__idb").as("__src"), col("__ida").as("__rep")))
      .groupBy(col("__rep")).agg(min(col("__src")).as("__om"))
    // self-qualification: identical copies score the class's self-cosine
    // through the same kernel (NaN for the 0-vector fails the threshold
    // exactly as the raw identical pair would)
    val selfQ = when(
      Similarity.microScore(Similarity.cosine(col(vecCol), col(vecCol)))
        >= lit(math.round(threshold * 1e6)),
      col(idCol))
    val bound = assigned
      .select(col(idCol).as("__rep"), col("centroid_id"), selfQ.as("__sq"))
      .join(otherMin, Seq("__rep"), "left")
      // least() skips nulls: M is the smallest qualifying source member
      .select(col("__rep"), col("centroid_id"),
        least(col("__om"), col("__sq")).as("__m"))
    members.join(bound, Seq("__rep"))
      .select(col("__member").as(idCol), col("centroid_id"),
        (col("__m").isNull || col("__m") >= col("__member")).as("kept"))
  }

  /** Cross-document duplicated-span detection — the exact-substring dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") re-expressed relationally: every `k`-token window
    * whose hash occurs in >= 2 DISTINCT documents is a duplicated window,
    * and per document, runs of consecutive duplicated window positions
    * merge into maximal spans `[span_start, span_end]` (0-based inclusive
    * token indices). The paper's suffix array becomes a hash aggregate +
    * equi-join: identical detected spans at k-token granularity, with no
    * global sort or suffix structure.
    *
    * Scale shape: windows are one `posexplode` per document (linear in
    * tokens); the cross-doc test is a fixed-width groupBy on the 60-bit
    * window hash deciding via `min(doc) != max(doc)` (no count-distinct
    * state); the join back is an equi-join on that hash; the span merge is
    * a per-document window over DUPLICATED positions only (a tiny fraction
    * of the corpus). Documents shorter than `k` tokens have no k-window
    * and drop out by construction.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5): DataFrame = {
    require(k >= 2, s"window length must be >= 2 tokens, got $k")
    // the window explode + per-window md5 is the operator's dominant
    // scan and fans out ~|tokens| rows per input row — byte-based
    // planning under-partitions it when the input arrives from an
    // AQE-coalesced join (measured: a 15.6 s single task inside the
    // fused corpus pipeline at the 10x gate). Pin the input's
    // distribution on the doc id so the hash work spreads; the id key
    // also feeds the run-detection window downstream.
    val nPart = df.sparkSession.sparkContext.defaultParallelism
    val wins = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .repartition(nPart, col(idCol))
      .select(col(idCol),
        posexplode(shingles(col("__toks"), k)).as(Seq("pos", "__g")))
      .select(col(idCol), col("pos"), md5Long(col("__g")).as("__h"))
    val crossDoc = wins.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("__h"))
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val runs = wins.join(crossDoc, Seq("__h"))
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) > 1, 1).otherwise(0))
      .withColumn("__run", sum(col("__brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col(idCol), col("__run"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Remove the [[duplicateSpans]] regions from every document and
    * reassemble the surviving tokens in order — the removal half of the
    * exact-substring dedup pipeline. Policy: a cross-document duplicated
    * span is boilerplate and is dropped from EVERY document (the
    * [[chunkDedup]] contract at span granularity); a document whose text
    * is entirely duplicated keeps an empty `cleaned` string rather than
    * dropping out, so corpus accounting stays 1:1.
    *
    * Scale shape: on top of the span detection, the only additions are a
    * per-document `collect_list` of span bounds (bounded by spans per
    * document, never tokens) and one left broadcast-able join back to the
    * corpus; the token filtering is a pure per-row array expression —
    * no extra corpus-sized shuffle beyond [[duplicateSpans]] itself.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 5): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = tokens(col(textCol))
    val indexed = zip_with(toks, sequence(lit(0), size(toks) - 1),
      (t, i) => struct(t.as("t"), i.as("i")))
    val kept = filter(indexed, x => !exists(col("__spans"),
      s => x.getField("i") >= s.getField("span_start") &&
        x.getField("i") <= s.getField("span_end")))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(size(col("__spans")), lit(0)).as("n_spans"),
        when(col("__spans").isNull, col(textCol))
          .otherwise(array_join(transform(kept, _.getField("t")), " "))
          .as("cleaned"))
  }
}

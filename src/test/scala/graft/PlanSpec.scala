package graft

import graft.queries.Registry

/** Physical-plan audits: the properties that decide whether a query survives
  * a 100 TB scale-up — filter pushdown to the parquet scan, map-side partial
  * aggregation, broadcast joins for small dims, whole-stage codegen. Run
  * against the real registered queries on sf0.001.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("range scan pushes both filters into the parquet scan") {
    val p = plan("q2_block_range_scan")
    assert(p.contains("PushedFilters") && p.contains("l_orderkey"),
      s"expected pushed filters on l_orderkey:\n$p")
    // the scan must not read all columns (column pruning)
    assert(!p.contains("l_comment") && !p.contains("l_extendedprice"))
  }

  test("bucket aggregation does map-side partial aggregation") {
    val p = plan("p3_bucket_counts")
    assert(p.contains("partial_count") || p.split("HashAggregate").length > 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("enrichment join broadcasts the receipts side") {
    val p = plan("j1_enrich_receipts")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("queries run inside whole-stage codegen (no interpreted hot path)") {
    // AQE wraps the plan until execution; disable it to see codegen spans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("p3_bucket_counts", "q2_block_range_scan", "text_fingerprint",
      "dedup_simhash").foreach { name =>
      val p = plan(name)
      // codegen stages render as "*(n)" in the plan string
      assert(p.contains("*(1)"), s"$name not codegen'd:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("join hints select the intended big-big strategies") {
    assert(plan("j_sortmerge").contains("SortMergeJoin"))
    assert(plan("j_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("point lookup prunes columns down to the probe keys") {
    val p = plan("q1_point_lookup")
    assert(p.contains("ReadSchema") && p.contains("c_name"))
    assert(!p.contains("c_acctbal"), s"point lookup should not read c_acctbal:\n$p")
  }

  test("minhash candidate pairs plan has exactly one shuffle and no join") {
    val p = plan("dedup_minhash_pairs")
    assert(!p.contains("Join"), s"pair generation must not self-join:\n$p")
    // one exchange for the bucket groupBy, one for the final distinct
    val exchanges = p.split("Exchange").length - 1
    assert(exchanges <= 3, s"too many shuffles ($exchanges):\n$p")
  }

  test("ANN LSH plan contains no per-row hash of plane constants") {
    val p = plan("ann_lsh")
    assert(!p.contains("md5"), s"plane weights must be plan-time literals:\n$p")
  }

  test("as-of join is one key shuffle + window, not a range join") {
    val p = plan("j_asof_backward")
    // the operator itself must not plan a join (union + window instead);
    // BroadcastNestedLoopJoin here would mean a pair-exploding range join
    assert(!p.contains("NestedLoop"), s"as-of must not nested-loop:\n$p")
    assert(p.contains("Window"), s"expected window-based as-of:\n$p")
    assert(p.contains("Union"), s"expected union of tagged sides:\n$p")
  }

  test("salted join spreads the key: join is on (key, salt)") {
    val p = plan("j_salted_skew")
    assert(p.contains("__salt"), s"expected salt in the join key:\n$p")
    // right side replicated via explode(sequence), not a cross join
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  test("tf-idf lands the corpus size by broadcast, not a shuffle join") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast of the 1-row corpus count:\n$p")
  }

  test("k-means step does map-side partial aggregation on (centroid, dim)") {
    val p = plan("ann_kmeans_step")
    assert(p.contains("partial_sum") || p.split("HashAggregate").length > 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("stratified sampling broadcasts the rates; corpus is never shuffled before the filter") {
    val p = plan("sample_stratified")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast rate lookup:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"rate lookup must not shuffle the corpus:\n$p")
  }

  test("LSH Jaccard pipeline collects only IDS into band buckets, never shingle arrays") {
    val p = plan("dedup_ngram_jaccard_lsh")
    // candidate generation groups band buckets with collect_list(doc_id);
    // the old shape collected (id, shingles) structs — corpus-sized arrays
    // through a shuffle
    assert(p.contains("collect_list(doc_id"),
      s"expected id-only bucket collection:\n$p")
    assert(!p.contains("collect_list(__rec"),
      s"shingle structs must not pass through the bucket shuffle:\n$p")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("dynamic partition pruning fires on the bucketed sink") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fact partitioned by the engine's bucket layout, dim filterable on its
    // own column: the join must prune fact PARTITIONS at runtime from the
    // dim's surviving keys — at 100 TB this is the difference between
    // scanning 2 directories and scanning 100k
    val base = java.nio.file.Files.createTempDirectory("plan_dpp").toString
    val fact = spark.range(0, 100000).toDF("block_id")
      .withColumn("block_id_group",
        graft.functions.ColumnFns.blockIdGroup(col("block_id")))
    graft.eth.Sinks.writeBucketedParquet(fact, s"$base/fact",
      "block_id_group", Seq("block_id"))
    (0 until 100).map(g => (g, if (g == 3 || g == 7) "keep" else "drop"))
      .toDF("g", "tag").write.parquet(s"$base/dim")
    val q = spark.read.parquet(s"$base/fact")
      .join(spark.read.parquet(s"$base/dim").filter(col("tag") === "keep"),
        col("block_id_group") === col("g"))
    assert(q.count() == 2000)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning:\n$p")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("plan_bloom").toString
    import spark.implicits._
    spark.range(0, 100000).toDF("block_id").write.parquet(s"$base/t")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = spark.read.parquet(s"$base/t")
      val sel = spark.read.parquet(s"$base/t")
        .filter(col("block_id") % 97 === 0).select(col("block_id").as("bid"))
      val q = big.join(sel, col("block_id") === col("bid"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter") || p.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key (90% of the left side) + thresholds tuned down so the
    // local-scale skew is visible to AQE; the final plan marks the join
    // with the skew flag
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 200000)
        .select(when(col("id") % 10 < 9, 7L).otherwise(col("id")).as("k"),
          concat(lit("padpadpadpadpadpadpadpad-"), col("id")).as("payload"))
      val right = spark.range(0, 1000).select(col("id").as("k"), col("id").as("w"))
      val j = left.join(right, "k")
      // materialize THIS dataset's own queryExecution (count() would build
      // a separate plan and leave this one isFinalPlan=false)
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"expected AQE skew-split join:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("minhash bands plan pays exactly one md5 pass (base hashes)") {
    // the signature's 8 permutations must reference the materialized base
    // array, not re-derive md5 per hash function: the plan string contains
    // the md5 call chain once per shingle pipeline, not 8 times
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("dedup_minhash_bands")
      val md5Count = p.sliding(3).count(_ == "md5")
      assert(md5Count <= 2, s"expected <=2 md5 occurrences, got $md5Count:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("per-stratum cap is two hash aggregates, never a window sort") {
    val p = plan("sample_domain_cap")
    assert(!p.contains("Window"),
      s"cap must not run a per-stratum window sort:\n$p")
    assert(p.split("ObjectHashAggregate|HashAggregate").length > 2,
      s"expected partial/merge aggregate phases:\n$p")
  }

  test("token-transfer decode stays column-only: no join, no aggregate") {
    val p = plan("eth_token_transfers")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"decode must be scan->filter->project:\n$p")
  }

  test("address stats is one explode + one aggregation pass") {
    val p = plan("eth_address_stats")
    assert(!p.contains("Join"), s"no self-join allowed:\n$p")
    // generate (explode) feeds a single partial+final aggregate chain
    assert(p.contains("Generate"), s"expected explode:\n$p")
  }

  test("TPC-H Q7 broadcasts both pre-filtered dimension chains") {
    val p = plan("tpch_q7_volume")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 2,
      s"expected customer+supplier chains broadcast:\n$p")
  }

  test("chunking fans out with explode only — no join, no shuffle") {
    val p = plan("rag_chunks")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    val body = p.split("TakeOrderedAndProject|Sort \\[")(0)
    assert(!body.contains("Exchange"),
      s"no exchange before the final deterministic sort:\n$p")
  }

  test("chunk dedup anti-joins on the 60-bit hash, not the chunk string") {
    val p = plan("text_chunk_dedup")
    assert(p.contains("LeftAnti"), s"expected anti-join:\n$p")
    // every join key list mentioning the keys must use ch (the hash);
    // ctext may only flow through the reassembly aggregate
    val joinLines = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(joinLines.forall(l => l.contains("ch#") && !l.contains("ctext#")),
      s"anti-join must key on the hash:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("TPC-H Q2 keeps dimension chains broadcast; min-cost is a window, not a self-join") {
    val p = plan("tpch_q2_min_cost")
    assert(p.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 2,
      s"part and supplier chains must broadcast:\n$p")
    assert(p.contains("Window"), s"per-part min must be a window:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no big-big join expected:\n$p")
  }

  test("TPC-H Q20: brand filter is a broadcast semi-join; share threshold is a same-key window") {
    val p = plan("tpch_q20_excess")
    assert(p.contains("LeftSemi"), s"expected semi-joins:\n$p")
    assert(p.contains("Window"), s"per-part total must be a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no big-big or cross join expected:\n$p")
  }

  test("diversity sample: centroids ride a broadcast, never a cartesian shuffle") {
    val p = plan("emb_diversity_sample")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid scoring must broadcast the centroid set:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no shuffled product allowed:\n$p")
  }

  test("SemDeDup pairs within clusters via equi-join, never a cartesian product") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pairs must be an equi-join on centroid_id:\n$p")
    // the (hierarchical) assignment subtree is materialized exactly once —
    // three consumers read the checkpointed RDD instead of recomputing it
    assert(p.contains("ExistingRDD"),
      s"assignment must be materialized once (localCheckpoint):\n$p")
  }

  test("hierarchical IVF: two bounded broadcasts, corpus never shuffled for the argmax") {
    val p = plan("ann_ivf_hier")
    // broadcast 1: the single-row packed coarse set (nested-loop, 1 row);
    // broadcast 2: the cell-grouped fine table (hash join on coarse_id)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"coarse set must ride a single-row broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cell-grouped fine centroids must ride a broadcast hash join:\n$p")
    // the argmax is a per-row fold, not a window — so no corpus-side hash
    // exchange on the vector id and no shuffled join anywhere
    assert(!p.contains("Window"), s"argmax must not be a window:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus must not shuffle on vec_id:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join:\n$p")
  }

  test("duplicate spans: cross-doc test is a fixed-width hash agg on the window hash") {
    val p = plan("text_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("collect_list"),
      s"no products or list collection in the span pipeline:\n$p")
    // min/max doc aggregate (not count-distinct) decides cross-doc windows
    assert(!p.contains("distinct"), s"no count-distinct state:\n$p")
  }

  test("importance weights: the log-ratio table rides broadcasts, corpus shuffles once") {
    val p = plan("sample_importance")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket ratio lookup must be a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must never shuffle against the 256-row ratio table:\n$p")
  }

  test("hierarchical IVF top-k: search is an equi-join on the cell, no shuffled or cartesian join") {
    val p = plan("ann_ivf_hier_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"cell-grouped fine centroids and query assignments must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join in the hier search:\n$p")
  }

  test("IVF-PQ index build: fold-based cell+code assignment, corpus never shuffled") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.llm.Similarity.ivfPqIndex(
      e.filter(col("vec_id") >= 16), e.filter(col("vec_id") < 8),
      e.filter(col("vec_id") < 16), dim = 64)
      .queryExecution.executedPlan.toString
    // packed centroids ride a single-row broadcast; the per-subspace
    // codebook a broadcast hash join — the corpus side is scan -> explode
    // -> folds with no window and no shuffle on its id
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"packed centroid set must ride a single-row broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-subspace codebook must ride a broadcast hash join:\n$p")
    assert(!p.contains("Window"), s"cell/code argmax must be folds, not windows:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"),
      s"corpus must not shuffle on vec_id:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join in the index build:\n$p")
  }

  test("IVF-PQ search: probed cells and ADC LUT ride broadcasts; score sum has map-side partials") {
    val p = plan("ann_ivfpq_search")
    assert(p.contains("BroadcastHashJoin"),
      s"cell and LUT joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the index side must never shuffle against the query-bounded sides:\n$p")
    assert(p.contains("partial_sum") || p.split("HashAggregate").length > 2,
      s"ADC sum must have map-side partial aggregation:\n$p")
  }

  test("two-hop paths: one self-equi-join on the mid node, no cartesian, partial agg") {
    val p = plan("graph_two_hop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"2-paths must come from an equi-join on the mid node:\n$p")
    assert(p.contains("partial_sum") || p.split("HashAggregate").length > 2,
      s"path aggregate must have map-side partials:\n$p")
  }

  test("PQ codes: the sliced codebook is broadcast; assignment has no shuffle join") {
    val p = plan("ann_pq_codes")
    assert(p.contains("BroadcastHashJoin"),
      s"codebook must broadcast on subspace:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled join in PQ assignment:\n$p")
    // the per-(id, subspace) argmin is a per-row fold over the broadcast
    // candidate array — the exploded corpus must not shuffle into a window
    assert(!p.contains("Window"),
      s"PQ assignment must not window-shuffle the corpus:\n$p")
  }

  test("PQ search: codes meet the LUT by broadcast; candidate vectors joined nowhere else") {
    val p = plan("ann_pq_search")
    assert(p.contains("BroadcastHashJoin"),
      s"the LUT must ride a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled join in the ADC path:\n$p")
    // map-side partial aggregation feeds the per-(query, candidate) sum
    assert(p.contains("partial_sum") || p.split("HashAggregate").length > 2,
      s"expected partial+final aggregate for the LUT sum:\n$p")
  }

  test("pipeline v2: the percentile threshold rides a broadcast; no cartesian shuffle") {
    // the fused query checkpoints its stage boundaries, so the gate's
    // join is no longer visible in the FINAL plan string — assert the
    // property on the gate subplan itself (the same code path)
    val norm = graft.queries.Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        graft.llm.TextAnalysis.normalizeText(
          org.apache.spark.sql.functions.col("text")).as("t"))
    val gate = norm.join(
      graft.llm.TextAnalysis.globalQualityGate(norm, "doc_id", "t", pct = 0.5)
        .select(org.apache.spark.sql.functions.col("doc_id")), "doc_id")
    val pg = gate.queryExecution.executedPlan.toString
    assert(pg.contains("BroadcastNestedLoopJoin") || pg.contains("BroadcastHashJoin"),
      s"the 1-row threshold must broadcast:\n$pg")
    assert(!pg.contains("CartesianProduct"), s"no cartesian product:\n$pg")
    val p = plan("llm_corpus_pipeline_v2")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("triangle census: wedge close is an equi-join; only the 1-row combine nests") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    // the deliberate wedges×triangles combine (two 1-row sides) is the
    // only permissible nested-loop join; the pair-closing probe must be
    // an equi-join on (x, y)
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1,
      s"pair closing must be an equi-join, not a nested loop:\n$p")
  }

  test("balance deltas: one explode feeds a map-side-combined decimal aggregate") {
    val p = plan("eth_balance_deltas")
    assert(p.split("Generate").length == 2, s"expected exactly one explode:\n$p")
    assert(p.contains("partial_sum") || p.split("HashAggregate").length > 2,
      s"expected partial+final aggregation on the address:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("address ids: first-appearance argmin is an aggregate; numbering windows are partitioned or dimension-sized") {
    val p = plan("eth_address_ids")
    // two windows since the GlobalRank rewrite: the per-slice local
    // row_number (partitioned by pid) and the ≤ nParts-row offsets
    // running sum — never a window over the raw appearance rows (the
    // "one task" audit lives in the exact-global-ranks test below)
    assert(p.split("Window").length <= 3, s"expected at most two windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("bloom decontamination: probe is a pre-join Filter (shift/AND), verify join broadcast") {
    val p = plan("text_decontaminate_bloom")
    // the bloom probe must be plain column arithmetic in a Filter — never
    // a join against the filter words or an aggregate on the corpus side
    assert(p.contains("shiftright"), s"expected bit-test probe in the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast verify join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle into the verify join:\n$p")
    // exactly one join total: the verify; the prefilter adds none
    assert(p.split("Join").length == 2, s"expected exactly one join:\n$p")
  }

  test("contract creations: both filters push below the join's exchanges") {
    val p = plan("eth_contract_creations")
    // big-big equi-join on the tx hash: filters must run BEFORE the
    // exchanges so only creations (and their receipt columns) shuffle
    val beforeJoin = p.substring(p.indexOf("Join"))
    assert(beforeJoin.contains("isnull(to_address"),
      s"null-to filter must sit below the join:\n$p")
    assert(beforeJoin.contains("coalesce(NOT (status"),
      s"status gate must sit below the join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("scd2 intervals: both windows ride ONE exchange on the key, no joins") {
    val p = plan("scd2_user_state")
    // change-point lag/rn and interval lead/version all partition by
    // user_id with the same ordering — Spark must plan a single hash
    // exchange (plus the oracle-determinism output sort's range exchange)
    val hashExchanges = p.split("Exchange hashpartitioning").length - 1
    assert(hashExchanges == 1, s"expected one key exchange, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"scd2 is window-only, no joins:\n$p")
  }

  test("matryoshka funnel: both stages are windows over one broadcast join, no shuffle of candidates by score") {
    val p = plan("ann_matryoshka")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"queries must ride a broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join:\n$p")
    // both ranking stages key the same window partition (query_id): one
    // hash exchange feeds both sorts
    val hashExchanges = p.split("Exchange hashpartitioning").length - 1
    assert(hashExchanges == 1, s"expected one query_id exchange, got $hashExchanges:\n$p")
  }

  test("bm25: query terms and idf stats ride broadcasts; corpus postings never cartesian") {
    val p = plan("text_bm25_search")
    assert(p.contains("BroadcastHashJoin"),
      s"inverted-index pruning must broadcast the query terms:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
  }

  test("prefix-filter jaccard: candidates from an equi-join on the prefix shingle, no cartesian") {
    val p = plan("dedup_jaccard_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join:\n$p")
  }

  test("multi-probe LSH: probes ride a broadcast; plane weights are plan-time literals") {
    val p = plan("ann_multiprobe_lsh")
    assert(p.contains("BroadcastHashJoin"),
      s"probe keys must broadcast into the bucketed corpus:\n$p")
    assert(!p.contains("md5"), s"plane weights must be plan-time literals:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("snapshot diff: one full-outer equi-join on the key, content hashed before the join") {
    val p = plan("corpus_snapshot_diff")
    assert(p.contains("FullOuter"), s"expected a full outer join:\n$p")
    assert(p.split("SortMergeJoin").length - 1 <= 1,
      s"exactly one shuffled join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("pmi: pair stream comes from lead() windows, never a positions self-join") {
    val p = plan("text_pmi_pairs")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocabulary joins must broadcast; positions must not self-join:\n$p")
  }

  test("A-ES sample: top-k via TakeOrderedAndProject, never a global sort of the corpus") {
    val p = plan("sample_weighted_noreplace")
    assert(p.contains("TakeOrderedAndProject"), s"expected per-partition top-k:\n$p")
  }

  test("winsorize: thresholds land by broadcast; the clamp never shuffle-joins the corpus") {
    val p = plan("event_winsorize")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"2-value threshold frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled join of the corpus:\n$p")
  }

  test("skyline: sweep is per-slice (pid-partitioned window), cross-slice merge is a broadcast") {
    // the knee-point 1-row broadcast prune runs inside the eagerly
    // checkpointed slicing stage (it shows as the ExistingRDD scan here);
    // the post-checkpoint plan must show the DISTRIBUTED sweep: the
    // two-frame window partitioned by the slice id — never an
    // unpartitioned window over the survivors — and the prefix-min
    // merge landing by broadcast hash join
    val p = plan("skyline_price_discount")
    assert(p.contains("windowspecdefinition(__pid"),
      s"sweep window must be partitioned by the slice id:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"prefix-min merge must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("fuzzy blocked join: candidates come from an equi-join on the block key") {
    val p = plan("dedup_fuzzy_blocked")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must stay an equi-join:\n$p")
    assert(p.contains("levenshtein"), s"verify must run as the native expression:\n$p")
  }

  test("summary stats: four 1-row aggregates meet by broadcast nested loop, streams never row-join") {
    val p = plan("eth_summary_stats")
    // every cross join input is a 1-row aggregate — BroadcastNestedLoop on
    // 1-row sides is the cheapest possible stitch, CartesianProduct of raw
    // streams would be the bug
    assert(p.split("HashAggregate").length > 4, s"expected per-stream aggregates:\n$p")
    assert(!p.contains("CartesianProduct"), s"1-row joins must broadcast:\n$p")
  }

  test("reorg detection: boundary stitch rides a broadcast of the bucket summary, no cartesian") {
    val p = plan("t6_reorg_detect")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-summary stitch must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-shuffled or cartesian join in the continuity audit:\n$p")
  }

  test("two-hop sketch: native bottom-k aggregates (ObjectHashAggregate), no pair-level distinct") {
    val p = plan("graph_two_hop_sketch")
    assert(p.contains("ObjectHashAggregate"),
      s"bottom-k must run as the typed aggregate:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the exact form's pair-level expand/distinct must NOT appear: the
    // union algebra merges per-mid sketches instead
    assert(!p.contains("Expand"), s"no multi-distinct expand:\n$p")
  }

  test("exact global ranks never funnel the corpus through one window task") {
    // GlobalRank.globalRowNumber replaced the partition-less
    // row_number().over(Window.orderBy(...)) in these plans. r15: the
    // helper dispatches on the Catalyst size estimate — BELOW the bound a
    // partition-less window over a provably-small input is the intended
    // optimal branch, so the query-level lock only rejects a bare window
    // whose input is neither aggregated NOR small. The 100 TB shape is
    // locked on the pinned operator (smallInputBytes = 0) below. AQE off
    // so executedPlan is a concrete traversable tree.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq("event_winsorize", "sample_quantile_norm", "eth_address_ids",
        "skyline_price_discount", "sample_pps", "event_mad_outliers",
        "event_pareto_curve")
        .foreach { name =>
          val q = Registry.queries(name)(spark, dir)
          val p = q.queryExecution.executedPlan
          val bare = p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
          bare.foreach { w =>
            val overAggregate =
              w.collectFirst { case a: BaseAggregateExec => a }.nonEmpty
            // the dispatch bound: a bare window is also legal when its
            // input's optimized-plan size estimate is under the bound
            val small = w.child.logicalLink
              .forall(_.stats.sizeInBytes <=
                BigInt(graft.operators.GlobalRank.SmallInputBytesDefault))
            assert(overAggregate || small,
              s"$name: partition-less Window over non-aggregated, " +
                s"non-small (corpus-sized) input:\n$w")
          }
        }
      // the PINNED branch (smallInputBytes = 0) must keep the two-phase
      // shape: pid-partitioned local window, offsets over an aggregate
      import org.apache.spark.sql.functions.{col => c}
      val pinned = graft.operators.GlobalRank.globalRowNumber(
          graft.queries.Tables(spark, dir, "events")
            .select(c("event_id"), c("value")),
          Seq(c("value"), c("event_id")), "__rn", smallInputBytes = 0L)
        .queryExecution.executedPlan
      assert(pinned.collect { case w: WindowExec => w }.exists(
        _.partitionSpec.exists(_.references.exists(
          _.name.startsWith("__gr_pid")))),
        "pinned globalRowNumber: expected the two-phase pid-partitioned window")
      pinned.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          assert(w.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
            s"pinned globalRowNumber: bare window must sit over the " +
              s"dimension-sized offsets aggregate:\n$w")
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("low-cardinality window keys never sort corpus input in one task per key") {
    // These queries partition window work by a key with 3–20 distinct
    // values (o_orderpriority 5, l_returnflag 3, documents.source 20,
    // event_type ~5) — the window form is one task per key, each sorting
    // ~N/k of the corpus at 100 TB. After the de-skew rewrites, a window
    // whose partition spec touches the low-card key must either be
    // CO-PARTITIONED on a second column (the two-phase local ranking's
    // pid, or a corpus-cardinality value column) or sit over an
    // aggregate (the dimension-sized offsets / distinct-value tables);
    // w7 dispatches by input size (r15): native RANGE window below the
    // bound, the window-free banded range-count above it.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // r15: every GlobalRank two-phase helper dispatches on the Catalyst
      // size estimate (GlobalRank.SmallInputBytesDefault, same pattern and
      // bound as w7/BandedRange) — at spec scale these queries take the
      // NATIVE window (one exchange + one sort, the optimal small-input
      // plan), so the query-level lock asserts the dispatch FIRED (no
      // two-phase marker columns left in the plan). The 100 TB branch is
      // locked on the pinned operators (smallInputBytes = 0) below.
      val dispatchLocks = Seq(
        "w3_rank_dense", "w4_ntile_moving", "w6_percent_rank",
        // r13: the transition-edge lag moved to GlobalRank.groupedLag —
        // the 5-value event_type window was the graph family's sf10
        // max-task; degree_dist is the representative consumer
        "graph_degree_dist",
        "curriculum_tiers", "sample_quantile_norm")
      dispatchLocks.foreach { name =>
        val p = Registry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString
        assert(!p.contains("__gg_pid") && !p.contains("__lg_pid")
            && !p.contains("__gd_pid"),
          s"$name: below the size bound the grouped helpers must take the " +
            s"native window, not the two-phase machinery:\n$p")
      }
      // llm_corpus_pipeline_v3 (r16): the ranking now rides the PINNED
      // dedup frame (ranked before the allocation join — the per-source
      // row number is independent of n_alloc), so the dispatch reads the
      // checkpoint's ACTUAL bytes and takes the native window at spec
      // scale; the pinned frame shows as an ExistingRDD scan. Join-derived
      // inputs failing toward two-phase is locked generally in the
      // "join-derived inputs keep the two-phase plan" test.
      val v3 = Registry.queries("llm_corpus_pipeline_v3")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!v3.contains("__gg_pid"),
        s"llm_corpus_pipeline_v3: pinned ranking input must dispatch to " +
          s"the native window at spec scale:\n$v3")
      assert(v3.contains("ExistingRDD"),
        s"llm_corpus_pipeline_v3: the dedup frame must be pinned once " +
          s"(localCheckpoint) for both consumers:\n$v3")
      // aggregate-fronted shapes (no dispatch): a window partitioned by
      // the low-card key alone must sit over dimension-sized (aggregated)
      // input. A ReusedExchange counts when its ORIGIN exchange sits over
      // one (exchange reuse hides the aggregate subtree from this branch).
      val lowCardLocks = Seq(
        "clean_impute_median" -> "l_returnflag",
        "agg_weighted_median" -> "l_returnflag",
        "w10_dist_functions" -> "event_type")
      def aggBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collectFirst { case a: BaseAggregateExec => a }.nonEmpty ||
          p.collect {
            case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
          }.exists(r => aggBelow(r.child))
      lowCardLocks.foreach { case (name, key) =>
        val p = Registry.queries(name)(spark, dir).queryExecution.executedPlan
        p.collect { case w: WindowExec => w }.filter { w =>
          val names = w.partitionSpec.flatMap(_.references.map(_.name))
          // a second partition column (pid or a value column) makes the
          // window key corpus-cardinality — co-partitioned, balanced
          names.exists(_ == key) && names.toSet.size == 1
        }.foreach { w =>
          assert(aggBelow(w),
            s"$name: window partitioned by low-cardinality '$key' alone " +
              s"over non-aggregated (corpus-sized) input:\n$w")
        }
      }
      // the PINNED (smallInputBytes = 0) branch of each dispatched helper
      // must keep the two-phase shape — the plan that survives a
      // low-cardinality group key at 100 TB. Locked on the operators with
      // the queries' exact shape parameters (w7Banded pattern below).
      import org.apache.spark.sql.functions.{col => c}
      val ordersProj = graft.queries.Tables(spark, dir, "orders")
        .select(c("o_orderkey"), c("o_orderpriority"), c("o_totalprice"))
      val pinnedRn = graft.operators.GlobalRank.groupedRowNumber(ordersProj,
          Seq("o_orderpriority"), Seq(c("o_totalprice"), c("o_orderkey")),
          "__rn", smallInputBytes = 0L)
        .queryExecution.executedPlan
      assert(pinnedRn.collect { case w: WindowExec => w }.exists(
        _.partitionSpec.exists(_.references.exists(
          _.name.startsWith("__gg_pid")))),
        "pinned groupedRowNumber: expected the two-phase pid-partitioned window")
      val pinnedLag = graft.operators.GlobalRank.groupedLag(
          graft.queries.Tables(spark, dir, "events")
            .select(c("event_type"), c("ts"), c("event_id"), c("user_id")),
          Seq("event_type"), Seq(c("ts"), c("event_id")), "user_id", "src",
          smallInputBytes = 0L)
        .queryExecution.executedPlan
      assert(pinnedLag.toString.contains("__lg_pid"),
        "pinned groupedLag: expected the two-phase slice-stitched shape")
      // w3's single-pass groupedRankDense checkpoints AFTER the local
      // windows, so the pid-partitioned window is interior to the
      // materialized checkpoint — lock it on the operator's exposed local
      // phase, with w3's exact shape parameters.
      val w3Local = graft.operators.GlobalRank.groupedRankDenseLocal(
        graft.queries.Tables(spark, dir, "orders")
          .select(c("o_orderpriority"), c("o_orderkey"), c("o_totalprice")),
        Seq("o_orderpriority"), Seq("o_totalprice"),
        Seq(c("o_totalprice").desc, c("o_orderkey")))
        .queryExecution.executedPlan
      assert(w3Local.collect { case w: WindowExec => w }.exists(
        _.partitionSpec.exists(_.references.exists(
          _.name.startsWith("__gd_pid")))),
        "groupedRankDense local phase: expected the pid-partitioned window")
      // clean_impute_median: the 3-row medians meet the corpus by
      // BROADCAST — the un-hinted size estimate ran through the window
      // subtree and shuffled the whole corpus at sf1 (711x bytes)
      assert(Registry.queries("clean_impute_median")(spark, dir)
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "clean_impute_median: medians must broadcast onto the corpus")
      // text_ngram_freq: the per-language ranking must run the salted
      // local top-k first (the (lang, __salt) window) — the final k-row
      // ranking then sees only the bounded candidate set
      assert(Registry.queries("text_ngram_freq")(spark, dir)
        .queryExecution.executedPlan.collect { case w: WindowExec => w }
        .exists(_.partitionSpec.exists(_.references.exists(
          _.name.startsWith("__salt")))),
        "text_ngram_freq: expected the salt-local top-k pre-filter")
      // r12: weighted median is the crossing-slice form — the only
      // data-touching window is the local running sum over the ONE
      // crossing slice per group, partitioned by (__wm_pid, group)
      val wmPlan = Registry.queries("agg_weighted_median")(spark, dir)
        .queryExecution.executedPlan
      assert(wmPlan.collect { case w: WindowExec => w }
        .exists(_.partitionSpec.exists(_.references.exists(
          _.name.startsWith("__wm_pid")))),
        "agg_weighted_median: expected the crossing-slice weighted median")
      // r13: the helper pins its INPUT (not the exchange output); the
      // offsets aggregate and the crossing-slice join each re-run the
      // range exchange (column pruning pushes different projections
      // below it, so ReuseExchange cannot fire), and pid consistency
      // rests on BOTH exchanges reading the SAME pinned rows with
      // deterministic range-bound sampling. Lock the precondition: every
      // range exchange in the plan must sit over the checkpoint scan,
      // never over a live (re-evaluable) subplan.
      val rangeExchanges = wmPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
      }
      assert(rangeExchanges.nonEmpty, s"expected range exchanges:\n$wmPlan")
      rangeExchanges.foreach { e =>
        assert(e.child.collectFirst {
          case r: org.apache.spark.sql.execution.RDDScanExec => r
        }.nonEmpty,
          s"agg_weighted_median: a range exchange is not rooted on the " +
            s"pinned (checkpoint) scan — pid consistency would depend on " +
            s"a re-evaluable plan:\n$e")
        // ...and on the checkpoint ONLY: a live file scan anywhere under
        // the exchange would re-evaluate between the two executions
        assert(e.child.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }.isEmpty,
          s"agg_weighted_median: a range exchange mixes the checkpoint " +
            s"with a live file scan:\n$e")
      }
      // w7 dispatches on the Catalyst size estimate (r15): at spec
      // scale it must take the single-exchange native RANGE window —
      // the optimal small-input plan the banded form is property-tested
      // against — and the pinned banded branch (smallInputBytes = 0)
      // must keep its window-free equi-join shape for the 100 TB path.
      val w7Small = Registry.queries("w7_range_frame")(spark, dir)
        .queryExecution.executedPlan
      assert(w7Small.collect { case w: WindowExec => w }.nonEmpty &&
        !w7Small.toString.contains("__br_b"),
        s"w7 below the size bound must take the native RANGE window:\n$w7Small")
      val w7Banded = {
        import org.apache.spark.sql.functions.{col => c, expr => e}
        graft.operators.BandedRange.peersWithin(
          graft.queries.Tables(spark, dir, "orders")
            .select(c("o_orderkey"), c("o_orderpriority"),
              e("cast(round(o_totalprice * 100) as long)").as("price_c")),
          Seq("o_orderpriority"), "price_c", w = 500L, "peers_within_5",
          smallInputBytes = 0L)
          .queryExecution.executedPlan
      }
      assert(w7Banded.collect { case w: WindowExec => w }.isEmpty,
        s"the pinned banded branch must carry no window:\n$w7Banded")
      assert(w7Banded.toString.contains("__br_b"),
        "the pinned banded branch must probe the band buckets")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("size dispatch: join-derived inputs keep the two-phase plan even under the byte bound") {
    // r16 hardening (r15 verdict #1): Catalyst UNDER-estimates must never
    // route corpus-scale data onto the partition-less native window. An
    // inner equi-join's output has no trustworthy static size bound (the
    // fan-out can explode past any estimate), so even when the optimizer's
    // estimate sits under the bound the dispatch must fail toward the
    // two-phase branch. Pinning the same frame restores the native branch
    // through the actual-block-bytes read — the documented remedy.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val left = (1 to 100).map(i => (i.toLong, i * 2L)).toDF("id", "v")
    val right = (1 to 100).map(i => (i.toLong, i * 3L)).toDF("id", "w")
    val joined = left.join(right, "id")
    // precondition: the raw Catalyst estimate IS under the bound — the
    // r15 dispatch would have routed this onto the native window, so this
    // asserts the new behavior, not a big-estimate coincidence
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(graft.operators.GlobalRank.SmallInputBytesDefault),
      "test setup: the join's estimate must sit under the dispatch bound")
    val p = graft.operators.GlobalRank.globalRowNumber(
        joined, Seq(c("v"), c("id")), "__rn")
      .queryExecution.executedPlan.toString
    assert(p.contains("__gr_pid"),
      s"join-derived input must fail toward the two-phase plan:\n$p")
    val pinned = graft.operators.GlobalRank.globalRowNumber(
        joined.localCheckpoint(true), Seq(c("v"), c("id")), "__rn")
      .queryExecution.executedPlan.toString
    assert(!pinned.contains("__gr_pid"),
      s"pinned (actual-bytes) small input must take the native window:\n$pinned")
  }

  test("size dispatch: scan-derived estimates carry the in-memory expansion factor") {
    // r15 decade gate: a compressed parquet scan estimate sat under the
    // bound at sf1 while the decoded rows the native window must sort were
    // several times larger (agg_approx_percentile, 6.3x wall per decade,
    // 4.8 s max task). The dispatch bound now compares LEAF file bytes x
    // ScanExpansionFactor — a bound between raw and expanded bytes must
    // route two-phase, a bound above the expanded bytes native.
    import org.apache.spark.sql.functions.{col => c}
    val ev = graft.queries.Tables(spark, dir, "events")
      .select(c("event_id"), c("value"))
    val leafBytes = ev.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val expanded = leafBytes * graft.operators.GlobalRank.ScanExpansionFactor
    val below = graft.operators.GlobalRank.globalRowNumber(
        ev, Seq(c("value"), c("event_id")), "__rn",
        smallInputBytes = (expanded - 1).toLong)
      .queryExecution.executedPlan.toString
    assert(below.contains("__gr_pid"),
      s"bound under expanded scan bytes must keep two-phase:\n$below")
    val above = graft.operators.GlobalRank.globalRowNumber(
        ev, Seq(c("value"), c("event_id")), "__rn",
        smallInputBytes = (expanded + 1).toLong)
      .queryExecution.executedPlan.toString
    assert(!above.contains("__gr_pid"),
      s"bound above expanded scan bytes must take the native window:\n$above")
  }

  test("size dispatch: variable-width computed columns have no size bound") {
    // A computed string, binary or array-holding column can dwarf the row
    // it is computed from (repeat, concat, sequence), so a projection,
    // window or 1-row join side carrying one has no static size bound:
    // each frame below is tiny by estimate and must still fail toward the
    // two-phase plan. The same shape with a fixed-width column in its
    // place stays native.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def twoPhase(df: DataFrame): Boolean = graft.operators.GlobalRank
      .globalRowNumber(df, Seq(col("id")), "__rn")
      .queryExecution.executedPlan.toString.contains("__gr_pid")
    val ids = spark.range(100).toDF("id")
    val named = (0 until 100).map(i => (i.toLong, s"n$i")).toDF("id", "s")
    def byId = Window.partitionBy(col("id")).orderBy(col("id"))
    def oneRow(c: org.apache.spark.sql.Column) = spark.range(10).agg(max(c).as("m"))
    val unbounded = Seq(
      "project string" -> ids.withColumn("x", repeat(col("id").cast("string"), 1000)),
      "project binary" -> ids.withColumn("x", unhex(repeat(lit("ab"), 1000))),
      "project struct holding an array" ->
        ids.withColumn("x", struct(sequence(lit(0L), col("id")))),
      "window string" -> named.withColumn("x", lag(col("s"), 1).over(byId)),
      "1-row join side string" -> ids.crossJoin(oneRow(col("id").cast("string"))))
    unbounded.foreach { case (what, df) =>
      assert(twoPhase(df), s"$what: a variable-width column must fail toward two-phase")
    }
    val bounded = Seq(
      "project long" -> ids.withColumn("x", col("id") * 2),
      "window long" -> named.withColumn("x", lag(col("id"), 1).over(byId)),
      "1-row join side long" -> ids.crossJoin(oneRow(col("id"))))
    bounded.foreach { case (what, df) =>
      assert(!twoPhase(df), s"$what: a fixed-width column keeps the native window")
    }
  }

  test("size dispatch: an aggregate's bound scales by one plus its aggregate count") {
    // four aggregates over unique keys can exceed twice the child's bytes:
    // the bound is (1 + 4) x the child's, so a byte bound of 3x must keep
    // two-phase and 5x is the first to take the native window
    import org.apache.spark.sql.functions._
    val ids = spark.range(100).toDF("id")
    val child = ids.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val agg = ids.groupBy("id").agg(sum("id"), max("id"), min("id"), count("id"))
    def plan(bytes: Long) = graft.operators.GlobalRank
      .globalRowNumber(agg, Seq(col("id")), "__rn", smallInputBytes = bytes)
      .queryExecution.executedPlan.toString
    assert(plan(3 * child).contains("__gr_pid"),
      s"a 4-aggregate frame under a 3x byte bound must keep two-phase:\n${plan(3 * child)}")
    assert(!plan(5 * child).contains("__gr_pid"),
      s"a 4-aggregate frame under a 5x byte bound takes the native window:\n${plan(5 * child)}")
  }

  test("semantic decontamination broadcasts the benchmark side; RRF fuses bounded lists") {
    // the benchmark embeddings must ride a broadcast into the corpus scan
    // (rangeSearch's contract) — a shuffle join here would move the corpus
    val pd = plan("text_decontaminate_semantic")
    assert(pd.contains("BroadcastNestedLoopJoin") || pd.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n$pd")
    assert(!pd.contains("SortMergeJoin") && !pd.contains("CartesianProduct"))
    // hybrid RRF: the final per-query ranking window runs over the fused
    // candidate set, which is bounded by construction (<= 2k rows per
    // query — both legs are top-k'd BEFORE the fusion join), so the
    // low-cardinality query_id partition key is safe here; lock that both
    // legs' own rankings stay partitioned by query_id over top-k'd,
    // aggregated inputs (an aggregate below each window)
    val pr = plan("text_hybrid_rrf")
    assert(pr.contains("Window"), s"expected the fused-list ranking window:\n$pr")
    assert(!pr.contains("CartesianProduct"))
  }

  test("power iteration: direction rides broadcasts, corpus never shuffle-joins") {
    val p = plan("emb_pca_power")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the dim-row direction and 1-row max must broadcast:\n$p")
    // the transpose-aggregate must partial-aggregate map-side
    assert(p.contains("partial_") || p.split("HashAggregate").length > 2,
      s"expected partial+final aggregate for the pos sums:\n$p")
  }

  test("standardize: dim-row stats meet the corpus by broadcast hash join") {
    val p = plan("emb_standardize")
    assert(p.contains("BroadcastHashJoin"), s"stats must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle join:\n$p")
  }

  test("k-center: every round's argmax is a top-1 heap, chosen set broadcasts") {
    val p = plan("sample_kcenter")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-1 for the farthest-point pick:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"chosen-set pack must broadcast:\n$p")
  }

  test("zipf fit: the global top-k is a heap, not a full corpus sort") {
    val p = plan("text_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected top-k for the frequency head:\n$p")
  }

  test("random walks: per-step frontier joins stay equi-joins, no cartesian") {
    val p = plan("graph_walk_sample")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"walk steps must join on the node key:\n$p")
  }

  test("attribution: one range-framed window pass, never a purchase-by-touch join") {
    val p = plan("event_attribution")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"attribution must not join purchases against touches:\n$p")
    assert(p.contains("Window"), s"expected the range-framed window:\n$p")
  }

  test("image fingerprinting is map-only: decode + hash never shuffle") {
    // aHash: mapPartitions over the media rows; the only exchange allowed
    // is the final presentation sort of the query's orderBy.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.queries("multimodal_ahash")(spark, dir)
        .queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= 1,
        s"decode+hash must not shuffle (1 allowed for the output sort):\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("MJPEG video decode is map-only: container walk + JPEG never shuffle") {
    // videoFrameStats: same mapPartitions decode boundary as the still
    // path — each AVI's frames decode inside their row's task, so the
    // only exchange allowed is the final presentation sort.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.queries("multimodal_decode_video_mjpeg")(spark, dir)
        .queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= 1,
        s"video decode must not shuffle (1 allowed for the output sort):\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("AVI audio decode is map-only: container demux never shuffles") {
    // audioStats over interleaved A/V payloads: demux + PCM reduction
    // happen inside the decode task; only the presentation sort exchanges.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.queries("multimodal_decode_avi_audio")(spark, dir)
        .queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= 1,
        s"audio demux must not shuffle (1 allowed for the output sort):\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("channel-aware WAV decode is map-only: de-mux + per-channel stats never shuffle") {
    // audioChannelStats over stereo payloads: the interleave de-mux and
    // each channel's stats reduction happen inside the decode task — one
    // row per (media, channel) leaves it; only the presentation sort
    // exchanges. Same map-only contract as the mono battery.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Registry.queries("multimodal_wav_stereo_stats")(spark, dir)
        .queryExecution.executedPlan
      val shuffles = p.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= 1,
        s"channel de-mux must not shuffle (1 allowed for the output sort):\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("spatial radius join: equi-join on the cell key, no cartesian product") {
    val p = plan("j_spatial_cells")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"spatial join must meet in cells, not pairwise:\n$p")
  }

  test("triad census: closure probes are broadcast joins on the packed long key") {
    val p = plan("graph_triad_motifs")
    assert(p.contains("BroadcastHashJoin"),
      s"closure probes must broadcast the edge-key set:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
  }

  test("LIKE prefix pushes StringStartsWith into the parquet scan") {
    val p = plan("q7_like_prefix")
    assert(p.contains("StartsWith"), s"expected pushed StartsWith filter:\n$p")
    assert(!p.contains("p_retailprice")) // column pruning holds too
  }

  test("assoc-rules pair stage keeps the explicit repartition pin (AQE cannot coalesce it)") {
    // the r9 scale gate measured a 53x serialization when AQE coalesced
    // the byte-tiny baskets exchange under the pair fan-out; the plan
    // must carry REPARTITION_BY_NUM (a hard distribution requirement)
    val p = plan("event_assoc_rules")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"pair stage lost its pinned repartition:\n$p")
  }

  test("bloom-prefiltered join probes at the scan, below the join") {
    val p = plan("j_bloom_prefilter")
    // the probe is k shift/AND tests against the filter literal — it
    // must appear as a Filter containing shiftright, not a join
    val probeIdx = p.indexOf("shiftright")
    val joinIdx = math.max(p.indexOf("SortMergeJoin"), p.indexOf("HashJoin"))
    assert(probeIdx >= 0, s"bloom probe not found in plan:\n$p")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe must sit BELOW the join in the plan tree:\n$p")
  }

  test("q21: quantifiers are per-order aggregates, never fact-sized semi/anti self-joins") {
    // the r9 sf1 gate measured the semi/anti self-join form ballooning to
    // a 132x shuffle-byte ratio once the probe sides outgrew broadcast;
    // the decorrelated form (countDistinct per order + one orderkey
    // window) must never reintroduce a semi or anti join of lineitem
    // against itself
    val p = plan("tpch_q21_waiting")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"q21 regressed to quantifier self-joins:\n$p")
    assert(p.contains("partial_count") || p.split("HashAggregate").length > 2,
      s"per-order supplier counts must partial-aggregate map-side:\n$p")
  }

  test("winnow overlap: pairs meet on the fingerprint equi-key, never a cartesian; selection is a window min") {
    val p = plan("dedup_winnow_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow pairing must meet on fp_hash:\n$p")
    val pf = plan("text_winnow_fingerprints")
    assert(pf.contains("Window"), s"winnow selection must be a window min:\n$pf")
  }

  test("two-hop: fan-out exchange pinned and sources counted via block bitmaps, never a pair distinct") {
    // r10 sf10 gate: the unpinned form serialized (286 s single task)
    // and the pair-level distinct spilled 54 GB; the fix is the
    // repartition pin + (node, s0>>6) bit_or words with Σ bit_count
    val p = plan("graph_two_hop")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"two-hop lost its pinned fan-out repartition:\n$p")
    assert(p.contains("bit_or") && p.contains("bit_count"),
      s"two-hop n_sources regressed to a pair-buffering distinct:\n$p")
  }

  test("binary rerank: the coarse ranking window carries codes, not float vectors") {
    val p = Registry.queries("ann_binary_rerank")(spark, dir)
      .queryExecution.optimizedPlan
    val windows = p.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    // the FIRST (deepest) window is the Hamming coarse top-k: its child
    // must not carry any embedding array — 8-byte codes only
    val coarse = windows.last.child.output.map(_.name)
    assert(!coarse.exists(n => n == "__q" || n == "__c"),
      s"coarse window shuffles float vectors: $coarse")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.ColumnFns._
import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "b0"),
    (1L, "the quick brown fox jumps over the lazy dog", "b0"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat", "b0"), // near dup of 0
    (3L, "completely different words appear in this one here", "b0"),
    (4L, "unrelated content in another bucket entirely now ok", "b1"))
    .toDF("doc_id", "text", "bucket")

  test("llm operators tolerate an empty corpus (no crash, zero rows)") {
    val empty = docs.filter($"doc_id" < 0)
    assert(Dedup.exact(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashBands(empty, "doc_id", "text").count() == 0)
    assert(Dedup.nearDupEdges(empty, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text", Seq("bucket")).count() == 0)
    val rates = Seq(("b0", 0.5)).toDF("stratum", "rate")
    assert(Sampling.stratified(empty, "doc_id", "bucket", rates).count() == 0)
    assert(Sampling.packSequences(
      empty.select($"doc_id", lit(1L).as("n")), "doc_id", "n", 100).count() == 0)
    assert(TextAnalysis.tfIdf(empty, "doc_id", "text").count() == 0)
    assert(Dedup.chunkDedup(empty, "doc_id", "text").count() == 0)
    val noComp = empty.select($"doc_id".as("node"), $"doc_id".as("component"))
    assert(Sampling.groupAwareSplit(empty, "doc_id", noComp).count() == 0)
  }

  test("NFC/NFKC: canonical twins unify, NFKC folds compatibility forms, both idempotent") {
    import graft.functions.{ColumnFns, NfcNormalizeExpr}
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = "caf" + "e\u0301"  // e + COMBINING ACUTE
    val precomposed = "caf\u00E9"
    assert(decomposed != precomposed)    // different BYTES, same text
    val rows = Seq((1L, decomposed), (2L, precomposed)).toDF("id", "text")
      .select(col("id"), ColumnFns.nfc(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == rows(2L), "canonical twins must unify under NFC")
    assert(rows(1L) == precomposed)
    // NFC does NOT fold compatibility forms; NFKC does (ligature fi, fullwidth)
    def nfc(s: String) = NfcNormalizeExpr.nfc(UTF8String.fromString(s)).toString
    def nfkc(s: String) = NfcNormalizeExpr.nfkc(UTF8String.fromString(s)).toString
    assert(nfc("\uFB01le") == "\uFB01le") // ligature fi survives NFC
    assert(nfkc("\uFB01le") == "file")     // ...and folds under NFKC
    assert(nfkc("\uFF01") == "!")          // fullwidth exclamation
    // idempotence + already-normalized inputs return the SAME object
    val u = UTF8String.fromString("plain ascii")
    assert(NfcNormalizeExpr.nfc(u) eq u)
    assert(nfc(nfc(decomposed)) == nfc(decomposed))
    assert(nfkc(nfkc("\uFB01\uFF01")) == nfkc("\uFB01\uFF01"))
    // the dedup consequence: byte hashes differ pre-NFC, unify post-NFC
    val h1 = graft.llm.Dedup.exact(Seq((1L, decomposed), (2L, precomposed))
      .toDF("doc_id", "text"), "doc_id", "text")
    assert(h1.count() == 2, "un-normalized twins look distinct to exact dedup")
    val h2 = graft.llm.Dedup.exact(Seq((1L, decomposed), (2L, precomposed))
      .toDF("doc_id", "text")
      .select(col("doc_id"), ColumnFns.nfc(col("text")).as("text")),
      "doc_id", "text")
    assert(h2.count() == 1, "NFC must unify them before hashing")
  }

  test("winnowing: shared runs >= w+k-1 share a fingerprint; short docs yield none; density holds") {
    import graft.llm.TextAnalysis
    val sharedRun = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1
    val docs = Seq(
      (1L, s"one two $sharedRun three four five six seven"),
      (2L, s"nine ten eleven twelve $sharedRun thirteen"),
      (3L, "completely unrelated words everywhere in this document body"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("fp_hash"), r.getAs[Long]("fp_pos")))
    def hashesOf(id: Long) = fps.filter(_._1 == id).map(_._2).toSet
    // the guarantee: docs 1 and 2 share the 6-token run -> >= 1 shared hash
    assert((hashesOf(1L) intersect hashesOf(2L)).nonEmpty,
      "shared run of w+k-1 tokens must share a fingerprint")
    // doc 4 has 2 tokens -> 1 whole-doc shingle < window grams -> none
    assert(hashesOf(4L).isEmpty)
    // selection positions are in-range gram positions
    assert(fps.forall(f => f._3 >= 0))
    // density: selections <= gram count, >= gramCount/(window) lower bound-ish
    val g1 = 13 - 3 + 1 // doc 1 grams
    assert(hashesOf(1L).size <= g1)
    // overlap pairs: 1-2 qualify at minShared=1; unrelated doc 3 pairs with nobody
    val pairs = TextAnalysis.winnowOverlapPairs(docs, "doc_id", "text",
        minShared = 1, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"overlapping docs must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // the boilerplate df-cap: with maxDf = 1 every fingerprint shared by
    // two docs is dropped, so no pair survives
    assert(TextAnalysis.winnowOverlapPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 1).count() == 0L)
    // exact-dup copies collapse to the rep before pairing (flood-safe)
    val flood = docs.union(Seq((10L, s"one two $sharedRun three four five six seven"))
      .toDF("doc_id", "text"))
    val fp2 = TextAnalysis.winnowOverlapPairs(flood, "doc_id", "text",
        minShared = 1, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fp2 == pairs, "byte-identical copy must not add pairs (rep collapse)")
  }

  test("exact dedup: one survivor per distinct content, dup_count correct") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(out.length == 4)
    assert(out(0).getAs[Long]("doc_id") == 0L && out(0).getAs[Long]("dup_count") == 2L)
  }

  test("minhash bands: identical docs share every band; near-dups share at least one") {
    val bands = Dedup.minhashBands(docs, "doc_id", "text")
    val byDoc = bands.collect().groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(r => (r.getAs[Int]("band"), r.getAs[String]("band_key"))).toSet).toMap
    assert(byDoc(0L) == byDoc(1L)) // identical text -> identical signature
    assert(byDoc(0L).intersect(byDoc(2L)).nonEmpty) // near dup -> >=1 shared band
    assert(byDoc(0L).intersect(byDoc(3L)).isEmpty) // unrelated -> no shared band
  }

  test("native minhash signature is bit-identical to the composable HOF chain") {
    import graft.llm.Dedup.{minhashA, minhashB, MinhashP}
    val k = 8
    val bases = docs.select($"doc_id",
      transform(tokens($"text"), t => Dedup.minhashBase(t)).as("b"))
    val composable = array((0 until k).map { h =>
      array_min(transform(col("b"),
        b => (lit(minhashA(h)) * b + lit(minhashB(h))) % MinhashP))
    }: _*)
    val out = bases.select($"doc_id",
      Dedup.minhashSignatureFromBases(col("b"), k).as("native"),
      composable.as("viaHof")).collect()
    out.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
    // empty base array -> all-null signature, same as array_min of empty
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("b")
      .select(Dedup.minhashSignatureFromBases(col("b"), 3).as("s")).collect()(0)
    assert(empty.getSeq[Any](0) == Seq(null, null, null))
  }

  test("minhash candidate pairs: bucket join yields the dup/near-dup pairs, ordered, distinct") {
    val pairs = Dedup.minhashCandidatePairs(
      Dedup.minhashBands(docs, "doc_id", "text"), "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a >= b }) // no self/reversed pairs
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) && Set(a, b).contains(0L) })
  }

  test("simhash: equal docs equal signatures; near-dups within small hamming distance") {
    val sh = docs.select($"doc_id", Dedup.simhash(tokens($"text"), 16).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(2L)) <= 6) // 1-word edit: most bits agree
    assert(sh.values.forall(s => s >= 0 && s < (1L << 16)))
  }

  test("native simhash is bit-identical to the composable aggregate chain") {
    val bits = 16
    val bases = docs.select($"doc_id",
      transform(tokens($"text"), t => md5Long(t)).as("b"))
    val composable = (0 until bits).map { j =>
      val vote = aggregate(col("b"), lit(0L),
        (a, b) => a + when(shiftrightunsigned(b, j) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    val out = bases.select($"doc_id",
      Dedup.simhashFromBases(col("b"), bits).as("native"),
      composable.as("viaAgg")).collect()
    out.foreach(r => assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
    // empty array -> all votes tie at 0 -> signature 0, both forms; a NULL
    // base array also gives 0L (the aggregate chain's zero accumulator over
    // nothing), so null-text docs land with empty-text docs, not dropped
    val edge = (Seq(Some(Seq.empty[Long])) :+ None).map(Tuple1(_)).toDF("b")
      .select(Dedup.simhashFromBases(col("b"), bits)).collect()
    assert(edge.forall(r => !r.isNullAt(0) && r.getLong(0) == 0L))
  }

  test("minhash signature width beyond the coefficient cache (>256)") {
    // coefficients are computed on demand for any width — a 300-hash
    // signature must work and stay consistent with the per-h formula
    import graft.llm.Dedup.{minhashA, minhashB, MinhashP}
    val wide = Seq(Tuple1(Seq(7L, 99L, 12345L))).toDF("b")
      .select(Dedup.minhashSignatureFromBases(col("b"), 300).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(wide.length == 300)
    assert(wide(299) ==
      Seq(7L, 99L, 12345L).map(b => (minhashA(299) * b + minhashB(299)) % MinhashP).min)
  }

  test("ngram jaccard pairs: identity = 1.0, within-bucket only") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("bucket"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("jaccard_micro"))).toMap
    assert(out((0L, 1L)) == 1000000L)
    assert(out((0L, 2L)) > 500000L && out((0L, 2L)) < 1000000L)
    assert(!out.keySet.exists { case (a, b) => b == 4L || a == 4L }) // other bucket never pairs
  }

  test("ngram jaccard cap: per-bucket expansion bounded, drops surfaced, never silent") {
    // b0 holds 4 docs; cap at 2 -> only the 2 lowest ids pair, 2 dropped.
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("bucket"),
      maxBucketSize = 2).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
    assert(capped.forall(_.getAs[Int]("n_bucket_dropped") == 2))
    // uncapped default: full pairing, zero drops reported
    val full = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("bucket")).collect()
    assert(full.count(r => r.getLong(0) != 4L && r.getLong(1) != 4L) == 6) // C(4,2)
    assert(full.forall(_.getAs[Int]("n_bucket_dropped") == 0))
    // cap k bounds emitted pairs per bucket by k(k-1)/2 regardless of bucket
    // size. The output drops the bucket columns, but pairing is within-bucket
    // only, so each pair's bucket is derivable from either endpoint's id
    // (fixture: doc 4 is b1, all others b0) — bound PER BUCKET, not per
    // drop-count group (two buckets with equal drop counts would pool).
    val k = 3
    val bucketOf = (id: Long) => if (id == 4L) "b1" else "b0"
    val c3 = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq("bucket"),
      maxBucketSize = k, minJaccard = -1.0).collect()
      .groupBy(r => bucketOf(r.getLong(0)))
    assert(c3.values.forall(_.length <= k * (k - 1) / 2))
    assert(c3.keys.forall(_ == "b0")) // b1 has one doc: no pairs
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (10L, Array(1.0f, 0.0f, 0.0f)), // identical to query 0
    (11L, Array(0.9f, 0.1f, 0.0f)),
    (12L, Array(-1.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("IVF: full probe (nprobe = all cells) degenerates to exact brute force") {
    val cents = vecs.filter($"vec_id" < 11) // 2 centroid cells
    val cands = vecs.filter($"vec_id" >= 11)
    val queries = vecs.filter($"vec_id" === 0)
    val full = Similarity.ivfTopK(cands, queries, cents, k = 2, nprobe = 2)
      .select("query_id", "neighbor_id", "rnk", "score_micro")
      .orderBy("query_id", "rnk").collect().map(_.toSeq)
    val brute = Similarity.bruteForceTopK(cands, queries, k = 2)
      .select("query_id", "neighbor_id", "rnk", "score_micro")
      .orderBy("query_id", "rnk").collect().map(_.toSeq)
    assert(full.toSeq == brute.toSeq)
    // nprobe=1 searches a subset of cells: results are a subset of full-probe
    val one = Similarity.ivfTopK(cands, queries, cents, k = 2, nprobe = 1)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(one.subsetOf(full.map(_(1).asInstanceOf[Long]).toSet))
  }

  test("brute-force top-k ranks the identical vector first") {
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" >= 10), vecs.filter($"vec_id" === 0), k = 2)
      .orderBy("rnk").collect()
    assert(out(0).getAs[Long]("neighbor_id") == 10L && out(0).getAs[Int]("rnk") == 1)
    assert(out(1).getAs[Long]("neighbor_id") == 11L)
  }

  test("neyman allocation: seats sum to n; high-variance strata get more; zero-variance degenerates") {
    import graft.llm.Sampling
    // stratum A: spread values (high sigma); B: constant (sigma 0); C: mild
    val df = (Seq.tabulate(50)(i => ("A", (i * 97L) % 1000)) ++
      Seq.fill(50)(("B", 500L)) ++
      Seq.tabulate(50)(i => ("C", 500L + (i % 3)))).toDF("s", "cents")
    val a = Sampling.neymanAllocation(df, "s", "cents", n = 10)
      .orderBy("stratum").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_alloc")).toMap
    assert(a.values.sum == 10L, s"seats must sum to the budget: $a")
    assert(a("A") > a("C") && a("C") >= a("B"), s"variance ordering violated: $a")
    assert(a("B") == 0L) // sigma = 0 -> no seats while others have weight
    // all-zero-variance corpus: allocation falls back to population
    val flat = Seq.fill(30)(("X", 5L)).toDF("s", "cents")
      .unionByName(Seq.fill(10)(("Y", 7L)).toDF("s", "cents"))
    val f = Sampling.neymanAllocation(flat, "s", "cents", n = 4)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_alloc")).toMap
    assert(f.values.sum == 4L && f("X") >= f("Y"))
  }

  test("cdc chunks: boundaries re-align after an insertion (edit-robust, unlike a fixed grid)") {
    import graft.llm.Dedup
    val words = (0 until 120).map(i => s"w${(i * 37) % 53}")
    val a = words.mkString(" ")
    val b = (words.take(2) ++ Seq("INSERTED") ++ words.drop(2)).mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", window = 3, modulus = 8)
      .collect().groupBy(_.getLong(0))
    def fps(id: Long) = ch(id).map(_.getAs[Long]("chunk_fp")).toSeq
    val shared = fps(1L).intersect(fps(2L)).size
    // everything after the first boundary past the insertion point is
    // byte-identical and re-aligns; only the head chunk(s) differ
    assert(shared >= fps(1L).size - 3,
      s"CDC failed to re-align: ${fps(1L).size} chunks, only $shared shared")
    // determinism + coverage: chunk word counts sum back to the doc
    assert(ch(1L).map(_.getAs[Long]("n_words")).sum == 120L)
    assert(ch(2L).map(_.getAs[Long]("n_words")).sum == 121L)
  }

  test("binary quantize + Hamming rerank: codes pack signs; full coarseK equals brute force") {
    // sign pattern (+,0,-) -> only bit 0 set (strict > 0; zero stays clear)
    val codes = Seq((1L, Array(0.5f, 0.0f, -0.5f))).toDF("vec_id", "embedding")
      .select(graft.llm.Similarity.binaryCode("embedding").as("c"))
      .collect()
    assert(codes(0).getLong(0) == 1L)
    // with coarseK >= corpus size the coarse stage prunes nothing, so
    // the rerank output must equal exact brute force
    val cands = vecs.filter($"vec_id" >= 10)
    val queries = vecs.filter($"vec_id" === 0)
    val rr = Similarity.binaryRerankTopK(cands, queries, k = 2, coarseK = 10)
      .select("query_id", "neighbor_id", "rnk", "score_micro")
      .orderBy("rnk").collect().map(_.toSeq)
    val brute = Similarity.bruteForceTopK(cands, queries, k = 2)
      .select("query_id", "neighbor_id", "rnk", "score_micro")
      .orderBy("rnk").collect().map(_.toSeq)
    assert(rr.toSeq == brute.toSeq)
    // the identical twin is Hamming-0 from the query
    val h = Similarity.binaryRerankTopK(cands, queries, k = 1, coarseK = 10)
      .collect()(0)
    assert(h.getAs[Long]("neighbor_id") == 10L && h.getAs[Int]("hamming") == 0)
    // zero-length embedding: codes to 0L (all sign bits clear) instead of
    // tripping ANSI element_at on the descending sequence(0, -1)
    val empty = Seq((9L, Array.empty[Float])).toDF("vec_id", "embedding")
      .select(graft.llm.Similarity.binaryCode("embedding").as("c")).collect()
    assert(empty(0).getLong(0) == 0L)
    val mixed = cands.union(Seq((99L, Array.empty[Float])).toDF("vec_id", "embedding"))
    val rr2 = Similarity.binaryRerankTopK(mixed, queries, k = 2, coarseK = 10)
      .select("query_id", "neighbor_id", "rnk", "score_micro")
      .orderBy("rnk").collect().map(_.toSeq)
    assert(rr2.toSeq == brute.toSeq) // empty vector never crashes nor wins
  }

  test("LSH: identical vectors land in the same bucket; topK finds the twin") {
    val b = Similarity.lshBuckets(vecs, dim = 3).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b(0L) == b(10L))
    val out = Similarity.lshTopK(vecs.filter($"vec_id" >= 10),
      vecs.filter($"vec_id" === 0), dim = 3, k = 1)
    val top = out.collect()
    assert(top.nonEmpty && top(0).getAs[Long]("neighbor_id") == 10L)
  }

  test("winsorize: exact order-statistic thresholds clamp both tails; interior untouched") {
    import graft.llm.Sampling
    val df = (1L to 10L).map(i => (i, i)).toDF("id", "v")
    // loMilli=200 -> rank ceil(200·10/1000)=2 -> lo=2;
    // hiMilli=900 -> rank 9 -> hi=9
    val out = Sampling.winsorize(df, "id", "v", loMilli = 200, hiMilli = 900)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("winsorized")).toMap
    assert(out(1L) == 2L && out(10L) == 9L, s"tails must clamp: $out")
    assert((2L to 9L).forall(i => out(i) == i), s"interior untouched: $out")
  }

  test("fuzzy blocked join: typo pairs inside a block match; cross-block and far pairs don't") {
    import graft.llm.Dedup
    val df = Seq(
      (1L, "en", "the quick brown fox"),
      (2L, "en", "the quick brown fix"),   // 1 edit from doc 1, same block
      (3L, "en", "a completely different sentence"),
      (4L, "de", "the quick brown fox")    // identical text, other block
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.fuzzyJoinBlocked(df, "doc_id", "text", Seq("lang"),
      maxDist = 2, prefixLen = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSeq == Seq((1L, 2L, 1)), s"got ${out.toSeq}")
    // widening the block key recovers the cross-lang twin at distance 0
    val all = Dedup.fuzzyJoinBlocked(df.withColumn("one", lit(1)),
      "doc_id", "text", Seq("one"), maxDist = 2, prefixLen = 32).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("quantile normalize: per-stratum ranks map onto global order statistics; single stratum is identity") {
    import graft.llm.Sampling
    // strata A = {10, 20}, B = {100, 200, 300}; global sorted =
    // [10, 20, 100, 200, 300], N=5
    // A: r=1,ns=2 -> gr=ceil(5/2)=3 -> 100; r=2 -> gr=5 -> 300
    // B: r=1,ns=3 -> gr=ceil(5/3)=2 -> 20; r=2 -> gr=4 -> 200; r=3 -> 300
    val df = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "B", 100L),
      (4L, "B", 200L), (5L, "B", 300L)).toDF("id", "src", "v")
    val out = Sampling.quantileNormalize(df, "id", "v", "src").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("norm_value")).toMap
    assert(out == Map(1L -> 100L, 2L -> 300L, 3L -> 20L, 4L -> 200L, 5L -> 300L),
      s"got $out")
    // one stratum: the mapping is the identity
    val one = Sampling.quantileNormalize(df.withColumn("src", lit("x")),
      "id", "v", "src").collect()
      .map(r => r.getAs[Long]("value") -> r.getAs[Long]("norm_value"))
    assert(one.forall { case (v, nv) => v == nv })
  }

  test("kl drift: zero on identical samples; hand-computed contributions on a shifted pair") {
    import graft.llm.Sampling
    val a = Seq("A", "A", "B").toDF("k")
    val same = Sampling.klDrift(a, a, "k").collect()
    assert(same.forall(r => r.getAs[Long]("lr_micro") == 0L
      && r.getAs[Long]("contrib_micro") == 0L))
    // p = {A:2, B:1}, q = {A:1, B:2}, T=2, N=3 both:
    // lr(A) = ln(3·5/(2·5)) = ln 1.5 → 405465; contrib(A) = 3·405465 div 5
    val b = Seq("A", "B", "B").toDF("k")
    val out = Sampling.klDrift(a, b, "k").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("lr_micro") == 405465L)
    assert(out("A").getAs[Long]("contrib_micro") == 243279L)
    assert(out("B").getAs[Long]("lr_micro") == -405465L)
    assert(out("B").getAs[Long]("contrib_micro") == -162186L)
    // total KL is positive under drift
    assert(out.values.map(_.getAs[Long]("contrib_micro")).sum > 0L)
  }

  test("residual vectors: exact v - c(v) against the argmax-assigned centroid") {
    import graft.llm.Similarity
    val cents = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((10L, Array(0.9f, 0.1f, 0.5f)),   // nearest: centroid 0
                     (11L, Array(0.1f, 0.8f, -0.25f))) // nearest: centroid 1
      .toDF("vec_id", "embedding")
    val out = Similarity.residualVectors(corpus, cents).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("centroid_id"), r.getSeq[Double](2))).toMap
    assert(out(10L)._1 == 0L && out(11L)._1 == 1L)
    // float→double widening is exact, so the residual is bit-exact
    assert(out(10L)._2 == Seq(0.9f.toDouble - 1.0, 0.1f.toDouble, 0.5f.toDouble))
    assert(out(11L)._2 == Seq(0.1f.toDouble, 0.8f.toDouble - 1.0, -0.25f.toDouble))
  }

  test("prefix-filter jaccard: equals the exhaustive all-pairs result (no false negatives)") {
    import graft.llm.Dedup
    // 30 docs in 3 families of near-identical sentences + mutations, plus
    // unrelated docs — several true pairs above 0.8, many below
    val docs = (0 until 30).map { i =>
      val fam = i % 3
      val base = fam match {
        case 0 => "the quick brown fox jumps over the lazy dog again and again today"
        case 1 => "pack my box with five dozen liquor jugs before the long winter night"
        case _ => "sphinx of black quartz judge my vow under bright evening skies now"
      }
      val text = if (i < 6) base // exact family twins -> J = 1 pairs
      else if (i < 18) base + s" tail$i" // near dups of their family
      else s"unique document number $i with entirely different content words $i"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val got = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, thresholdMilli = 800)
      .select("id_a", "id_b", "jacc_milli").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exhaustive reference, computed the dumb way
    val sets = docs.select($"doc_id",
      array_distinct(graft.functions.ColumnFns.shingles(
        graft.functions.ColumnFns.tokens($"text"), 3)).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      union = sets(a).size + sets(b).size - inter
      jm = inter.toLong * 1000 / union if jm >= 800
    } yield (a, b, jm)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "fixture must produce true near-dup pairs")
  }

  test("pmi: hand-computed counts and quantized ln; window widens to skip-grams; minCount prunes") {
    import graft.llm.TextAnalysis
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    // T=6, P=3, c(a,b)=2, c(a,c)=1, c_a=3, c_b=2, c_c=1:
    // pmi(a,b) = ln(2·36/(3·3·2)) = ln 4; pmi(a,c) = ln(36/9) = ln 4
    val out = TextAnalysis.pmiPairs(docs, "doc_id", "text", window = 1, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("c_ab"), r.getAs[Long]("pmi_micro"))).toMap
    assert(out(("a", "b")) == (2L, 1386294L) && out(("a", "c")) == (1L, 1386294L))
    // minCount prunes the singleton pair
    assert(TextAnalysis.pmiPairs(docs, "doc_id", "text", window = 1, minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("a", "b")))
    // window=2 adds the skip-gram (a,c) inside "a b c"
    val sk = TextAnalysis.pmiPairs(Seq((1L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", window = 2, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(sk == Set(("a", "b"), ("b", "c"), ("a", "c")))
  }

  test("A-ES sample: fixed size, weight-proportional, partitioning-invariant, zero-weight excluded") {
    import graft.llm.Sampling
    // 5000 ids: even ids weight 10, odd ids weight 1 -> heavy class should
    // take roughly 10/11 of the sample (binomial(500, 10/11): 3+ sigma band)
    val df = spark.range(0, 5000).selectExpr("id", "IF(id % 2 = 0, 10L, 1L) AS wt")
    val out = Sampling.weightedSampleNoReplacement(df, "id", $"wt", k = 500)
    val rows = out.collect()
    assert(rows.length == 500)
    val heavy = rows.count(_.getAs[Long]("id") % 2 == 0)
    assert(heavy > 390 && heavy < 490, s"heavy share $heavy/500, expected ~455")
    // deterministic under repartition
    val rep = Sampling.weightedSampleNoReplacement(df.repartition(17), "id", $"wt", k = 500)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(rep == rows.map(_.getAs[Long]("id")).toSet)
    // zero/negative weights can never be sampled
    val z = Sampling.weightedSampleNoReplacement(
      spark.range(0, 10).selectExpr("id", "IF(id < 5, 0L, 1L) AS wt"), "id", $"wt", k = 10)
      .collect().map(_.getAs[Long]("id"))
    assert(z.length == 5 && z.forall(_ >= 5))
  }

  test("bm25: only matching docs return; shorter doc wins at equal tf; rare term outranks common") {
    import graft.llm.TextAnalysis
    val docs = Seq(
      (1L, "x y"),            // tf_x=1, dl=2
      (2L, "x y z w"),        // tf_x=1, dl=4 -> length-normalized below doc 1
      (3L, "z w z w"),        // no query terms -> absent
      (4L, "q y")             // rare term q
    ).toDF("doc_id", "text")
    val queries = Seq((1, "x"), (2, "q y")).toDF("query_id", "query_text")
    val out = TextAnalysis.bm25Search(docs, queries, k = 10).collect()
    val q1 = out.filter(_.getInt(0) == 1).sortBy(_.getAs[Int]("rnk"))
    assert(q1.map(_.getLong(1)).toSeq == Seq(1L, 2L), "x-docs only, shorter first")
    assert(q1.forall(_.getAs[Long]("score_micro") > 0))
    val q2 = out.filter(_.getInt(0) == 2).sortBy(_.getAs[Int]("rnk"))
    // doc 4 holds the rare 'q' (df=1) plus 'y': top hit with 2 terms
    assert(q2.head.getLong(1) == 4L && q2.head.getAs[Long]("n_hit_terms") == 2L)
    // docs 1 and 2 match only 'y' (df=3, low idf) and rank below
    assert(q2.map(_.getLong(1)).toSet == Set(4L, 1L, 2L))
  }

  test("multi-probe LSH: nProbes=1 equals single-probe; more probes only add candidates; full probe of a flipped twin recovers it") {
    val cands = vecs.filter($"vec_id" >= 10)
    val queries = vecs.filter($"vec_id" === 0)
    val single = Similarity.lshTopK(cands, queries, dim = 3, k = 3)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val mp1 = Similarity.multiProbeLshTopK(cands, queries, dim = 3, k = 3,
      nProbes = 1).select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(mp1 == single, s"nProbes=1 must reduce to lshTopK: $mp1 vs $single")
    val mp2 = Similarity.multiProbeLshTopK(cands, queries, dim = 3, k = 3,
      nProbes = 2).select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(mp2), "extra probes must never lose candidates")
    // candidate coverage is monotone in the probe count (each added probe
    // is one more bucket key into the same corpus index)
    val n2 = Similarity.multiProbeLshTopK(cands, queries, dim = 3, k = 10,
      nProbes = 2).count()
    val n4 = Similarity.multiProbeLshTopK(cands, queries, dim = 3, k = 10,
      nProbes = 4).count()
    assert(n4 >= n2 && n2 >= 1)
  }

  test("IVF: identical vector assigned to its own centroid cell; topK finds the twin") {
    // centroids = vecs 0..1; candidate 10 identical to centroid/query 0
    val centroids = vecs.filter($"vec_id" === 0)
      .union(Seq((1L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding"))
    val assign = Similarity.ivfAssign(vecs, centroids).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    assert(assign(10L) == 0L && assign(12L) == 1L) // -x vector is closer to y-axis plane
    val out = Similarity.ivfTopK(vecs.filter($"vec_id" >= 10),
      vecs.filter($"vec_id" === 0), centroids, k = 2).orderBy("rnk").collect()
    assert(out(0).getAs[Long]("neighbor_id") == 10L)
  }

  test("hierarchical IVF: within-cell argmax; vectors survive empty coarse cells") {
    // fine c0/c1/c2; coarse = two smallest ids {c0, c1}. c2's best coarse is
    // c1 (dot 0.9 vs 0), so cell c1 = {c1, c2}, cell c0 = {c0}.
    val fine = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f)),
      (2L, Array(0f, 0.9f, 0.5f))).toDF("vec_id", "embedding")
    val v = Seq(
      (10L, Array(0f, 0.6f, 0.8f)),  // coarse c1; in-cell: c2 (0.94) beats c1 (0.6)
      (11L, Array(1f, 0.05f, 0f))    // coarse c0; only member c0
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfAssignHier(v, fine, numCoarse = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("coarse_id"), r.getAs[Long]("centroid_id"))).toMap
    assert(out(10L) == (1L, 2L) && out(11L) == (0L, 0L))

    // empty-cell case: BOTH fine centroids land in coarse cell c0 (c1's
    // self-dot 0.82 < its dot with c0, 0.9), leaving cell c1 empty. A
    // vector nearest the DEAD coarse c1 must still be assigned — to the
    // best live cell — not silently dropped by the cell join.
    val fine2 = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f))).toDF("vec_id", "embedding")
    val w = Seq((20L, Array(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val out2 = Similarity.ivfAssignHier(w, fine2, numCoarse = 2).collect()
    assert(out2.length == 1)
    assert(out2(0).getAs[Long]("coarse_id") == 0L)
    assert(out2(0).getAs[Long]("centroid_id") == 1L) // dot 0.1 beats 0.0
  }

  test("IVF-PQ: index agrees with ivfAssign + pqCodes; ADC is exact for in-codebook candidates") {
    // dim=4, m=2 -> 2-element slices. Candidate 10's slices both appear in
    // the codebook, so its PQ reconstruction is exact and the ADC score
    // equals the true dot product.
    val codebook = Seq(
      (0L, Array(1f, 0f, 0f, 1f)),
      (1L, Array(0f, 1f, 1f, 0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val cands = Seq((10L, Array(1f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val qs = Seq((20L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")

    val idx = Similarity.ivfPqIndex(cands, cents, codebook, dim = 4, m = 2)
      .orderBy("subspace").collect()
    // slice (1,0): code 0 (d²=0); slice (1,0) in subspace 1: code 1 (d²=0);
    // cell: dot ties 1.0/1.0 -> smaller centroid id 0
    assert(idx.map(r => (r.getAs[Long]("subspace"), r.getAs[Long]("code"))).toSeq
      == Seq((0L, 0L), (1L, 1L)))
    assert(idx.forall(_.getAs[Long]("centroid_id") == 0L))
    // index ≡ ivfAssign ⋈ pqCodes (the composed two-pass form)
    val assign = Similarity.ivfAssign(cands, cents).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id")).toMap
    val codes = Similarity.pqCodes(cands, codebook, dim = 4, m = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("subspace")) -> r.getAs[Long]("code")).toMap
    assert(idx.forall(r => assign(r.getAs[Long]("vec_id")) == r.getAs[Long]("centroid_id")
      && codes((r.getAs[Long]("vec_id"), r.getAs[Long]("subspace"))) == r.getAs[Long]("code")))

    // search: query lands in cell 0 (dot 1 vs 0), candidate is there; ADC
    // score = dot(q, reconstructed) = dot((1,0,0,0), (1,0,1,0)) = 1.0
    val hits = Similarity.ivfPqSearch(cands, qs, cents, codebook, dim = 4,
      k = 5, m = 2).collect()
    assert(hits.length == 1)
    assert(hits(0).getAs[Long]("neighbor_id") == 10L
      && hits(0).getAs[Long]("centroid_id") == 0L
      && hits(0).getAs[Long]("score_micro") == 1000000L)

    // nprobe=1 hits are a subset of full-probe hits (the recall knob)
    val one = Similarity.ivfPqSearch(cands, qs, cents, codebook, dim = 4,
      k = 5, m = 2, nprobe = 1).select("neighbor_id").collect().map(_.getLong(0)).toSet
    val all = Similarity.ivfPqSearch(cands, qs, cents, codebook, dim = 4,
      k = 5, m = 2, nprobe = 2).select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(one.subsetOf(all))
  }

  test("embedding-cosine near-dup: identical vectors pair at cosine 1.0, bucketed") {
    val out = Dedup.embeddingNearDupPairs(vecs, dim = 3, threshold = 0.9,
      numPlanes = 4).collect()
    val pairs = out.map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("cosine_micro"))).toMap
    assert(pairs.contains((0L, 10L)) && pairs((0L, 10L)) == 1000000L)
    assert(!pairs.keySet.exists { case (a, b) => b == 12L }) // opposite vector: other bucket or below threshold
  }

  test("top ngrams per group are ranked deterministically") {
    val df = Seq((1L, "a b c a b c a b c", "g1"), (2L, "x y z", "g1"))
      .toDF("doc_id", "text", "grp")
    val out = TextAnalysis.topNgrams(df, "grp", "text", n = 3, k = 2)
      .orderBy("rnk").collect()
    assert(out(0).getAs[String]("ngram") == "a b c" && out(0).getAs[Long]("n") == 3L)
    assert(out(0).getAs[Int]("rnk") == 1)
  }

  test("text analysis: token counts, language heuristic, quality metrics") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "xyzzy qwerty plugh")).toDF("doc_id", "text")
    val tc = TextAnalysis.tokenCounts(df, "doc_id", "text").orderBy("doc_id").collect()
    assert(tc(0).getAs[Int]("ws_tokens") == 6)
    val lid = df.select($"doc_id", TextAnalysis.languageId(tokens($"text")).as("l"))
      .orderBy("doc_id").collect()
    assert(lid(0).getString(1) == "en" && lid(1).getString(1) == "other")
    val q = TextAnalysis.qualityMetrics(df, "doc_id", "text").orderBy("doc_id").collect()
    assert(q(0).getAs[Int]("n_tokens") == 6)
    assert(q(0).getAs[Long]("stopword_ratio_micro") == 333333L)
  }

  test("stratified sampling: per-stratum rates, deterministic, partition-independent") {
    val corpus = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "stratum_col")
    val rates = Seq(("a", 1.0), ("b", 0.2)).toDF("stratum", "rate")
    val kept = Sampling.stratified(corpus, "doc_id", "stratum_col", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // rate 1.0 keeps EVERY row of its stratum
    assert(kept.count(_._2 == "a") == 1000)
    // rate 0.2 keeps roughly 20% (hash-uniform; wide tolerance)
    val b = kept.count(_._2 == "b")
    assert(b > 120 && b < 280, s"kept $b of 1000 at rate 0.2")
    // deterministic and partitioning-independent: same kept set after a
    // reshuffle of the input
    val kept2 = Sampling.stratified(corpus.repartition(13), "doc_id",
      "stratum_col", rates).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == kept2.toSet)
    // a stratum absent from the rates table uses defaultRate (0.0 -> drop)
    val withC = corpus.withColumn("stratum_col",
      when(col("doc_id") < 10, "c").otherwise(col("stratum_col")))
    val keptC = Sampling.stratified(withC, "doc_id", "stratum_col", rates)
      .filter(col("stratum_col") === "c").count()
    assert(keptC == 0)
  }

  test("sequence packing: per-shard running sums, chunk placement, reshuffle-stable") {
    val corpus = (0L until 500L).map(i => (i, 100L + i % 7)).toDF("doc_id", "n_tok")
    val packed = Sampling.packSequences(corpus, "doc_id", "n_tok",
      seqLen = 512, shards = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("tokens_before"),
          r.getAs[Long]("pack_idx"), r.getAs[Long]("pack_offset"))).toMap
    // per shard: tokens_before is the prefix sum in id order, offsets consistent
    packed.groupBy(_._2._1).foreach { case (_, docs) =>
      val inOrder = docs.toSeq.sortBy(_._1)
      var run = 0L
      inOrder.foreach { case (id, (_, before, idx, off)) =>
        assert(before == run, s"doc $id prefix sum")
        assert(idx == before / 512 && off == before % 512)
        run += 100L + id % 7
      }
    }
    // partitioning-independence: identical placements after a reshuffle
    val packed2 = Sampling.packSequences(corpus.repartition(11), "doc_id",
      "n_tok", seqLen = 512, shards = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("tokens_before"),
          r.getAs[Long]("pack_idx"), r.getAs[Long]("pack_offset"))).toMap
    assert(packed == packed2)
  }

  // Per-format reductions composed from the one image dispatch: the
  // decoded plane's channel sums and its gray plane (the gray rule per pixel).
  private def sumsOf(bytes: Array[Byte]): Option[(Int, Int, Array[Long])] =
    Multimodal.decodeImageRgb(bytes).map { case (w, h, rgb) => (w, h, Multimodal.rgbSums(rgb)) }
  private def grayPlaneOf(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    Multimodal.decodeImageRgb(bytes).map { case (w, h, rgb) => (w, h, rgb.map(Multimodal.grayOf)) }

  test("multimodal BMP codec: encode/decode round-trips exactly, incl. row padding") {
    // w=9 → 27-byte rows padded to 28: the padding path must not leak
    // pad bytes into the channel sums
    val px = (x: Int, y: Int) => (x * 10 + y, 255 - x, (x * y) % 256)
    val bytes = Multimodal.encodeBmp(9, 4, px)
    assert(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)
    assert(bytes.length == 54 + 28 * 4)
    val Some((w, h, sums)) = sumsOf(bytes)
    assert(w == 9 && h == 4)
    val expect = for (x <- 0 until 9; y <- 0 until 4) yield px(x, y)
    assert(sums(0) == expect.map(_._1 % 256).sum.toLong)
    assert(sums(1) == expect.map(_._2 % 256).sum.toLong)
    assert(sums(2) == expect.map(_._3 % 256).sum.toLong)
  }

  test("multimodal BMP codec: top-down (negative height) files decode; junk does not") {
    val bytes = Multimodal.encodeBmp(5, 3, (x, y) => (x, y, x + y))
    // flip to top-down: height field at offset 22, little-endian
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -3)
    val Some((w, h, sums)) = sumsOf(bytes)
    assert(w == 5 && h == 3 && sums(0) == 30L) // Σx over 5x3 grid = 10*3
    assert(sumsOf("not a bitmap at all, sorry".getBytes).isEmpty)
    assert(sumsOf(bytes.take(40)).isEmpty) // truncated header
    assert(sumsOf(bytes.take(60)).isEmpty) // truncated pixels
  }

  test("multimodal PPM codec: round-trip with comment header; imageStats dispatches by magic") {
    val px = (x: Int, y: Int) => (x + 1, y + 2, 7)
    val ppm = Multimodal.encodePpm(4, 2, px)
    val Some((w, h, sums)) = sumsOf(ppm)
    assert(w == 4 && h == 2 && sums(2) == 7L * 8)
    // netpbm comments between header tokens must be skipped
    val commented = ("P6\n# a comment\n4 2\n# another\n255\n").getBytes("US-ASCII") ++
      ppm.drop("P6\n4 2\n255\n".getBytes("US-ASCII").length)
    assert(sumsOf(commented).contains((4, 2, sums)) ||
      sumsOf(commented).exists(t => t._1 == 4 && t._2 == 2
        && t._3.sameElements(sums)))
    // mixed table: one BMP, one PPM, one garbage — stats keeps the two real ones
    val media = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodeBmp(3, 3, (x, y) => (x, y, 1)), "image/bmp"),
      Multimodal.MediaRecord(2L, ppm, "image/x-portable-pixmap"),
      Multimodal.MediaRecord(3L, "plain text".getBytes, "text/plain")).toDS()
    val out = Multimodal.imageStats(media).collect().map(s => s.media_id -> s).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L).width == 3 && out(1L).n_pixels == 9L && out(1L).b_sum == 9L)
    assert(out(2L).width == 4 && out(2L).height == 2)
  }

  test("multimodal PNG codec: round-trip exercises all five filters; conformance rejects") {
    // height 11 → rows filtered None,Sub,Up,Average,Paeth,None,... — every
    // defilter arm runs on real data
    val px = (x: Int, y: Int) => ((x * 10 + y) % 256, (255 - x * 3) % 256, (x * y + 7) % 256)
    val png = Multimodal.encodePng(9, 11, px)
    assert(png.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a))
    val Some((w, h, sums)) = sumsOf(png)
    assert(w == 9 && h == 11)
    val expect = for (x <- 0 until 9; y <- 0 until 11) yield px(x, y)
    assert(sums(0) == expect.map(_._1).sum.toLong)
    assert(sums(1) == expect.map(_._2).sum.toLong)
    assert(sums(2) == expect.map(_._3).sum.toLong)
    // grayscale path: exact pixel-by-pixel reconstruction, top-down
    val Some((gw, gh, gray)) = grayPlaneOf(png)
    assert(gw == 9 && gh == 11)
    for (x <- 0 until 9; y <- 0 until 11) {
      val (r, g, b) = px(x, y)
      assert(gray(y * 9 + x) == (r + g + b) / 3, s"pixel ($x,$y)")
    }
    // conformance: junk, truncation, and a flipped payload byte (CRC) reject
    assert(sumsOf("definitely not a png".getBytes).isEmpty)
    assert(sumsOf(png.take(30)).isEmpty)
    val corrupt = png.clone()
    corrupt(50) = (corrupt(50) ^ 0x5a).toByte // inside IDAT payload
    assert(sumsOf(corrupt).isEmpty, "CRC mismatch must reject")
    // 1x1 edge case
    val tiny = Multimodal.encodePng(1, 1, (_, _) => (200, 100, 50))
    assert(sumsOf(tiny).contains((1, 1, Array(200L, 100L, 50L))) ||
      sumsOf(tiny).exists(t => t._3.toSeq == Seq(200L, 100L, 50L)))
  }

  test("multimodal JPEG codec: block-constant round-trips bit-exactly; ImageIO agrees; conformance rejects") {
    import Multimodal._
    // block-constant color: the DCT path is exact (AC = 0, DC quant 1),
    // so the decode equals the chained integer color conversions
    def blockRgb(m: Int)(x: Int, y: Int): (Int, Int, Int) = {
      val (bx, by) = (x / 8, y / 8)
      ((m * 13 + bx * 57 + by * 23) % 256,
        (m * 7 + bx * 31 + by * 11) % 256,
        (m * 11 + bx * 17 + by * 29) % 256)
    }
    for (m <- Seq(0, 3, 17, 125, 199)) {
      val w = 9 + m % 6; val h = 7 + m % 5
      val Some((dw, dh, rgb)) = decodeJpegRgb(encodeJpeg(w, h, blockRgb(m))): @unchecked
      assert(dw == w && dh == h)
      for (y <- 0 until h; x <- 0 until w) {
        val (r0, g0, b0) = blockRgb(m)(x, y)
        val yv = jpegRgbToY(r0, g0, b0)
        val cb = jpegRgbToCb(r0, g0, b0); val cr = jpegRgbToCr(r0, g0, b0)
        val p = rgb(y * w + x)
        assert(((p >> 16) & 0xff) == jpegYccToR(yv, cr)
          && ((p >> 8) & 0xff) == jpegYccToG(yv, cb, cr)
          && (p & 0xff) == jpegYccToB(yv, cb), s"m=$m pixel ($x,$y)")
      }
    }
    // grayscale block tiles reconstruct the SOURCE exactly (gray maps to
    // (v, 128, 128) with zero chroma error — the cross-format dup basis)
    def tile(x: Int, y: Int): Int =
      if (((x / 8) * 3 + (y / 8) * 5) % 2 == 0) 40 else 216
    val Some((_, _, gray)) = grayPlaneOf(encodeJpegGray(64, 48, tile)): @unchecked
    for (y <- 0 until 48; x <- 0 until 64)
      assert(gray(y * 64 + x) == tile(x, y), s"gray pixel ($x,$y)")
    // independent-decoder cross-check on a NON-constant image: the JDK's
    // own ImageIO must agree within 2/channel (different IDCT rounding)
    def px(x: Int, y: Int) = ((x * 11 + y * 3) % 256, (x * 5 + y * 7) % 256, (x * 2 + y * 13) % 256)
    val jb = encodeJpeg(40, 24, px)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
    val Some((_, _, mine)) = decodeJpegRgb(jb): @unchecked
    for (y <- 0 until 24; x <- 0 until 40; sh <- Seq(16, 8, 0)) {
      val d = math.abs(((img.getRGB(x, y) >> sh) & 0xff) - ((mine(y * 40 + x) >> sh) & 0xff))
      assert(d <= 2, s"ImageIO delta $d at ($x,$y) channel shift $sh")
    }
    // 4:2:0: MCU-constant channels survive downsample + replication
    // upsample exactly; sampling factors beyond 2x2 luma reject
    def mcuRgb(x: Int, y: Int): (Int, Int, Int) =
      ((17 + (x / 16) * 57 + (y / 16) * 23) % 256,
        (29 + (x / 16) * 31 + (y / 16) * 11) % 256,
        (41 + (x / 16) * 17 + (y / 16) * 29) % 256)
    val Some((w4, h4, rgb4)) = decodeJpegRgb(encodeJpeg420(34, 19, mcuRgb)): @unchecked
    assert(w4 == 34 && h4 == 19)
    for (y <- 0 until 19; x <- 0 until 34) {
      val (r0, g0, b0) = mcuRgb(x, y)
      val yv = jpegRgbToY(r0, g0, b0)
      val cb = jpegRgbToCb(r0, g0, b0); val cr = jpegRgbToCr(r0, g0, b0)
      val p = rgb4(y * 34 + x)
      assert(((p >> 16) & 0xff) == jpegYccToR(yv, cr)
        && ((p >> 8) & 0xff) == jpegYccToG(yv, cb, cr)
        && (p & 0xff) == jpegYccToB(yv, cb), s"420 pixel ($x,$y)")
    }
    // ImageIO on the same 4:2:0 bytes: libjpeg uses FANCY (interpolating)
    // chroma upsampling vs this decoder's spec-legal replication, so MCU
    // boundaries may differ by the chroma step — bounded, not unbounded
    val jb420 = encodeJpeg420(34, 19, mcuRgb)
    val img420 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb420))
    val Some((_, _, mine420)) = decodeJpegRgb(jb420): @unchecked
    for (y <- 0 until 19; x <- 0 until 34; sh <- Seq(16, 8, 0)) {
      val d = math.abs(((img420.getRGB(x, y) >> sh) & 0xff) - ((mine420(y * 34 + x) >> sh) & 0xff))
      assert(d <= 16, s"420 ImageIO delta $d at ($x,$y)")
    }
    // conformance: junk, truncation, wrong magic, progressive reject
    assert(decodeJpegRgb(Array[Byte](1, 2, 3, 4, 5)).isEmpty)
    assert(decodeJpegRgb(jb.take(jb.length / 2)).isEmpty)
    assert(decodeJpegRgb(encodePng(9, 7, (x, y) => (x, y, x + y))).isEmpty)
    val progressive = jb.clone()
    // rewrite the SOF0 marker (FF C0) to SOF2 while keeping the BASELINE
    // scan header (Ss=0, Se=63): malformed progressive (a DC scan must
    // have Se=0) — the decoder now SUPPORTS SOF2 but must still reject
    // this inconsistent hybrid
    val sof = progressive.indices.find(i => (progressive(i) & 0xff) == 0xff
      && i + 1 < progressive.length && (progressive(i + 1) & 0xff) == 0xc0).get
    progressive(sof + 1) = 0xc2.toByte
    assert(decodeJpegRgb(progressive).isEmpty,
      "SOF2 with a baseline-style scan header must reject")
    // allocation/overflow guards: a crafted SOF0 declaring 65503x65503
    // must return None (plane sizes would wrap Int and crash the task),
    // not allocate; same discipline as the PNG stride guard
    val huge = jb.clone()
    val sofAt = huge.indices.find(i => (huge(i) & 0xff) == 0xff
      && i + 1 < huge.length && (huge(i + 1) & 0xff) == 0xc0).get
    // SOF0 payload: len(2) precision(1) height(2) width(2) ...
    huge(sofAt + 5) = 0xff.toByte; huge(sofAt + 6) = 0xdf.toByte // height 65503
    huge(sofAt + 7) = 0xff.toByte; huge(sofAt + 8) = 0xdf.toByte // width 65503
    assert(decodeJpegRgb(huge).isEmpty, "oversized SOF dims must reject")
    // entropy-length plausibility (r13): dims UNDER the baseline 33 Mpx
    // cap but
    // with a tiny payload (4000x4000 needs >=187 KB of entropy data at
    // the 2-bits-per-block floor; jb is a few hundred bytes) must reject
    // BEFORE any plane allocation — the r12 guard allowed ~0.5-1 GB of
    // transient allocation per crafted record
    val plausible = jb.clone()
    plausible(sofAt + 5) = 0x0f.toByte; plausible(sofAt + 6) = 0xa0.toByte // height 4000
    plausible(sofAt + 7) = 0x0f.toByte; plausible(sofAt + 8) = 0xa0.toByte // width 4000
    assert(decodeJpegRgb(plausible).isEmpty,
      "sub-cap dims with implausibly short entropy data must reject")
    // oversized aHash strides must SKIP records (Long-math guard), not
    // wrap Int and index out of bounds
    val strideMedia = Seq(
      MediaRecord(7L, encodeJpegGray(64, 48, (x, y) => (x + y) % 256), "image/jpeg")).toDS()
    assert(aHash(strideMedia, winW = 8, winH = 6,
      strideX = 500000000, strideY = 500000000).collect().isEmpty)
    // dispatch: imageStats and aHash accept JPEG payloads alongside BMP/PNG
    val media = Seq(
      MediaRecord(1L, encodeJpeg(9, 7, blockRgb(1)), "image/jpeg"),
      MediaRecord(2L, "not an image".getBytes, "text/plain")).toDS()
    assert(imageStats(media).collect().map(_.media_id).toSeq == Seq(1L))
  }

  test("multimodal progressive JPEG: decode equals baseline bit-exactly; ImageIO agrees both directions") {
    import Multimodal._
    // the progressive encoder transmits the SAME quantized coefficients
    // as the baseline encoder (quant 1/2, Annex-K tables), just across
    // five scans (interleaved DC-first at Al=1, spectral-selection AC,
    // DC refinement) — so the decodes must be BIT-IDENTICAL on any input
    def px(x: Int, y: Int) =
      ((x * 11 + y * 3) % 256, (x * 5 + y * 7) % 256, (x * 2 + y * 13) % 256)
    for ((w, h) <- Seq((40, 24), (9, 7), (8, 8), (1, 1), (17, 33))) {
      val prog = decodeJpegRgb(encodeJpegProgressive(w, h, px))
      val base = decodeJpegRgb(encodeJpeg(w, h, px))
      assert(prog.nonEmpty && base.nonEmpty, s"decode failed at ${w}x$h")
      assert(prog.get._3.toSeq == base.get._3.toSeq,
        s"progressive != baseline pixels at ${w}x$h")
    }
    // the JDK's ImageIO must accept OUR progressive stream and agree
    // within 2/channel (independent decoder, different IDCT rounding) —
    // proves the emitted scan script is conformant, not just self-read
    val pj = encodeJpegProgressive(40, 24, px)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pj))
    assert(img != null, "ImageIO rejected our progressive stream")
    val Some((_, _, mine)) = decodeJpegRgb(pj): @unchecked
    for (y <- 0 until 24; x <- 0 until 40; sh <- Seq(16, 8, 0)) {
      val d = math.abs(((img.getRGB(x, y) >> sh) & 0xff) -
        ((mine(y * 40 + x) >> sh) & 0xff))
      assert(d <= 2, s"ImageIO delta $d at ($x,$y) shift $sh")
    }
    // reverse direction: an ImageIO-WRITTEN progressive JPEG (the IJG
    // default scan script — EOBn runs, AC successive approximation with
    // correction bits, none of which our encoder emits) must decode and
    // agree with ImageIO's own read of the same bytes
    // smooth wrap-free gradients: the %256 sawtooth puts 250-step chroma
    // edges at wrap points, where fancy-vs-replication upsampling alone
    // diverges by ~30 — that would test the upsampler choice, not the
    // progressive entropy decode this fixture is for
    val src = new java.awt.image.BufferedImage(48, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 48) {
      val (r, g, b) = (40 + x * 2 + y, 220 - x * 2 - y * 2, 90 + x - y)
      src.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    writer.setOutput(javax.imageio.ImageIO.createImageOutputStream(bos))
    writer.write(null, new javax.imageio.IIOImage(src, null, null), params)
    writer.dispose()
    val ijg = bos.toByteArray
    // fixture sanity: the bytes really are progressive (SOF2 present)
    assert(ijg.indices.exists(i => (ijg(i) & 0xff) == 0xff &&
      i + 1 < ijg.length && (ijg(i + 1) & 0xff) == 0xc2),
      "ImageIO did not emit SOF2 — progressive fixture rot")
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ijg))
    val decoded = decodeJpegRgb(ijg)
    assert(decoded.nonEmpty, "our decoder rejected ImageIO's progressive stream")
    val Some((dw, dh, ours)) = decoded: @unchecked
    assert(dw == 48 && dh == 32)
    // the IJG writer defaults to 4:2:0 chroma, where libjpeg's FANCY
    // (interpolating) upsampling vs our spec-legal replication differs
    // by the chroma step at block boundaries — same ≤16 bound as the
    // baseline 4:2:0 cross-check (observed max delta: 3)
    for (y <- 0 until 32; x <- 0 until 48; sh <- Seq(16, 8, 0)) {
      val d = math.abs(((ref.getRGB(x, y) >> sh) & 0xff) -
        ((ours(y * 48 + x) >> sh) & 0xff))
      assert(d <= 16, s"IJG-progressive delta $d at ($x,$y) shift $sh")
    }
    // conformance: truncated progressive streams (mid-scan AND
    // missing-EOI) must reject, never return a partial image
    assert(decodeJpegRgb(pj.take(pj.length / 3)).isEmpty)
    assert(decodeJpegRgb(pj.take(pj.length - 2)).isEmpty,
      "progressive without EOI must reject")
    // a progressive stream whose FIRST scan header claims an AC band
    // (here: the interleaved 3-component scan rewritten to Ss=Se=1 —
    // doubly malformed: AC scans are single-component AND must follow
    // the component's DC per G.1.1.1.1) must reject at the header,
    // BEFORE the coefficient state is allocated
    val acFirst = pj.clone()
    val sosAt = acFirst.indices.find(i => (acFirst(i) & 0xff) == 0xff
      && i + 1 < acFirst.length && (acFirst(i + 1) & 0xff) == 0xda).get
    // SOS layout: FF DA len(2) ns(1) [Cs,Td/Ta]x3 Ss Se AhAl
    acFirst(sosAt + 11) = 1 // Ss
    acFirst(sosAt + 12) = 1 // Se
    assert(decodeJpegRgb(acFirst).isEmpty,
      "AC-banded first scan must reject at the header")
    // block-constant payloads reconstruct the analytic color chain
    // exactly through the progressive path (the oracle-query contract)
    def blockRgb(x: Int, y: Int): (Int, Int, Int) =
      ((13 + (x / 8) * 57 + (y / 8) * 23) % 256,
        (7 + (x / 8) * 31 + (y / 8) * 11) % 256,
        (11 + (x / 8) * 17 + (y / 8) * 29) % 256)
    val Some((_, _, bc)) = decodeJpegRgb(encodeJpegProgressive(13, 11, blockRgb)): @unchecked
    for (y <- 0 until 11; x <- 0 until 13) {
      val (r0, g0, b0) = blockRgb(x, y)
      val yv = jpegRgbToY(r0, g0, b0)
      val cb = jpegRgbToCb(r0, g0, b0); val cr = jpegRgbToCr(r0, g0, b0)
      val p = bc(y * 13 + x)
      assert(((p >> 16) & 0xff) == jpegYccToR(yv, cr)
        && ((p >> 8) & 0xff) == jpegYccToG(yv, cb, cr)
        && (p & 0xff) == jpegYccToB(yv, cb), s"block-constant pixel ($x,$y)")
    }
  }

  test("multimodal PNG grayscale (color type 0): bpp=1 defilter round-trips; surfaces as replicated RGB") {
    val px = (x: Int, y: Int) => (x * 13 + y * 7) % 256
    val png = Multimodal.encodePngGray(7, 11, px) // 11 rows -> all 5 filters
    val Some((w, h, sums)) = sumsOf(png)
    assert(w == 7 && h == 11)
    val expect = (for (x <- 0 until 7; y <- 0 until 11) yield px(x, y)).sum.toLong
    assert(sums(0) == expect && sums(1) == expect && sums(2) == expect,
      "grayscale must replicate into all three channels")
    val Some((_, _, gray)) = grayPlaneOf(png)
    for (x <- 0 until 7; y <- 0 until 11)
      assert(gray(y * 7 + x) == px(x, y), s"pixel ($x,$y)")
    // a grayscale PNG and a truecolor PNG of the same gray image hash equal
    val rgbPng = Multimodal.encodePng(8, 6, (x, y) => {
      val g = (x * 3 + y * 5) % 256; (g, g, g)
    })
    val grayPng = Multimodal.encodePngGray(8, 6, (x, y) => (x * 3 + y * 5) % 256)
    val media = Seq(
      Multimodal.MediaRecord(1L, rgbPng, "image/png"),
      Multimodal.MediaRecord(2L, grayPng, "image/png")).toDS()
    val hs = Multimodal.aHash(media).collect().map(r => r.media_id -> r.ahash).toMap
    assert(hs(1L) == hs(2L))
  }

  test("multimodal PNG indexed (color type 3): PLTE resolution round-trips; malformed palettes reject") {
    val pal = (e: Int) => ((e * 3 + 1) % 256, (e * 7 + 2) % 256, (e * 11 + 5) % 256)
    val idx = (x: Int, y: Int) => (x * 5 + y * 9) % 16
    val png = Multimodal.encodePngPalette(7, 11, 16, pal, idx) // all 5 filters
    val Some((w, h, sums)) = sumsOf(png)
    assert(w == 7 && h == 11)
    val expect = for (x <- 0 until 7; y <- 0 until 11) yield pal(idx(x, y))
    assert(sums(0) == expect.map(_._1).sum.toLong)
    assert(sums(1) == expect.map(_._2).sum.toLong)
    assert(sums(2) == expect.map(_._3).sum.toLong)
    // an indexed PNG and the truecolor PNG of the SAME image decode equal
    val rgbTwin = Multimodal.encodePng(7, 11, (x, y) => pal(idx(x, y)))
    assert(sumsOf(rgbTwin).map(_._3.toSeq) == Some(sums.toSeq))
    // out-of-palette index must reject, not crash or wrap: palette of 8
    // entries but index bytes up to 15
    val narrow = Multimodal.encodePngPalette(4, 4, 16, pal, (x, y) => 8 + (x + y) % 8)
    // rebuild with a truncated PLTE by re-encoding at nEntries=8 via raw
    // byte surgery: swap the 16-entry PLTE (48 bytes) for an 8-entry one
    val plteStart = narrow.indexOfSlice("PLTE".getBytes("US-ASCII")) - 4
    assert(plteStart > 0)
    val before = narrow.take(plteStart)
    val after = narrow.drop(plteStart + 12 + 48) // len+tag+48 data+crc
    val plteData = (0 until 8).flatMap { e =>
      val (r, g, b) = pal(e); Seq(r.toByte, g.toByte, b.toByte)
    }.toArray
    val lenBytes = java.nio.ByteBuffer.allocate(4).putInt(24).array()
    val crc = new java.util.zip.CRC32()
    crc.update("PLTE".getBytes("US-ASCII")); crc.update(plteData)
    val crcBytes = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    val truncated = before ++ lenBytes ++ "PLTE".getBytes("US-ASCII") ++
      plteData ++ crcBytes ++ after
    assert(sumsOf(truncated).isEmpty,
      "indices beyond the palette must reject")
    // missing PLTE entirely must reject
    val noPlte = before ++ after
    assert(sumsOf(noPlte).isEmpty, "color type 3 without PLTE must reject")
  }

  test("multimodal image plane: every container decodes the same pixels to the identical plane") {
    import Multimodal._
    val (w, h) = (13, 11) // BMP rows pad 39 -> 40 bytes; JPEG pads to 16x16
    def packed(px: (Int, Int) => (Int, Int, Int)): Seq[Int] =
      for (y <- 0 until h; x <- 0 until w) yield {
        val (r, g, b) = px(x, y); (r << 16) | (g << 8) | b
      }
    /** `encodeBmp`'s bottom-up file rewritten top-down: rows reversed,
      * height negated. */
    def topDownBmp(px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val up = encodeBmp(w, h, px)
      val rowSize = (w * 3 + 3) / 4 * 4
      val down = up.take(54) ++ (h - 1 to 0 by -1).flatMap(r =>
        up.slice(54 + r * rowSize, 54 + (r + 1) * rowSize))
      java.nio.ByteBuffer.wrap(down).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, -h)
      down
    }
    def planes(files: Seq[(String, Array[Byte])]): Map[String, Option[(Int, Int, Seq[Int])]] =
      files.map { case (k, bytes) =>
        k -> decodeImageRgb(bytes).map { case (dw, dh, rgb) => (dw, dh, rgb.toSeq) }
      }.toMap
    // color pixels, 16 distinct colors: channel order and row order show
    val pal = (e: Int) => ((e * 37 + 5) % 256, (e * 91 + 17) % 256, (e * 53 + 200) % 256)
    val idx = (x: Int, y: Int) => (x * 3 + y * 5) % 16
    val color = (x: Int, y: Int) => pal(idx(x, y))
    val colorPlanes = planes(Seq(
      "bmp" -> encodeBmp(w, h, color), "bmp top-down" -> topDownBmp(color),
      "ppm" -> encodePpm(w, h, color), "png" -> encodePng(w, h, color),
      "png palette" -> encodePngPalette(w, h, 16, pal, idx)))
    colorPlanes.foreach { case (k, p) =>
      assert(p.contains((w, h, packed(color))), s"color plane through $k")
    }
    // gray pixels constant per 8x8 block: the JPEG paths are exact too
    val v = (x: Int, y: Int) => ((x / 8) * 97 + (y / 8) * 61 + 20) % 256
    val gray = (x: Int, y: Int) => (v(x, y), v(x, y), v(x, y))
    val grayPlanes = planes(Seq(
      "bmp" -> encodeBmp(w, h, gray), "bmp top-down" -> topDownBmp(gray),
      "ppm" -> encodePpm(w, h, gray), "png" -> encodePng(w, h, gray),
      "png gray" -> encodePngGray(w, h, v),
      "png palette" -> encodePngPalette(w, h, 256, e => (e, e, e), v),
      "jpeg" -> encodeJpeg(w, h, gray), "jpeg gray" -> encodeJpegGray(w, h, v),
      "jpeg 4:2:0" -> encodeJpeg420(w, h, gray),
      "jpeg progressive" -> encodeJpegProgressive(w, h, gray)))
    grayPlanes.foreach { case (k, p) =>
      assert(p.contains((w, h, packed(gray))), s"gray plane through $k")
    }
    // the reductions over that one plane
    val one = packed(color).toArray
    assert(rgbSums(one).toSeq == Seq(0, 1, 2).map(c =>
      (for (y <- 0 until h; x <- 0 until w) yield color(x, y).productElement(c)
        .asInstanceOf[Int].toLong).sum))
    assert(one.map(grayOf).toSeq == (for (y <- 0 until h; x <- 0 until w)
      yield { val (r, g, b) = color(x, y); (r + g + b) / 3 }))
  }

  test("multimodal BMP codec: a header whose geometry wraps Int declines to None") {
    val bmp = Multimodal.encodeBmp(5, 3, (x, y) => (x, y, x + y))
    def withHeader(width: Int, height: Int): Array[Byte] = {
      val b = bmp.clone()
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(18, width).putInt(22, height)
      b
    }
    // width * 3 wraps negative: the Int row size slipped past the size guard
    assert(Multimodal.decodeImageRgb(withHeader(0x2aaaaaab, 1)).isEmpty)
    // abs(Int.MinValue) stays negative: the Int height slipped past it too
    assert(Multimodal.decodeImageRgb(withHeader(5, Int.MinValue)).isEmpty)
    val media = Seq(Multimodal.MediaRecord(1L, withHeader(1, Int.MinValue), "image/bmp")).toDS()
    assert(Multimodal.imageStats(media).collect().isEmpty)
  }

  test("source lock: Multimodal.scala has one BMP parse, one P6 header walk, one gray rule and one image dispatch") {
    val file = new java.io.File("src/main/scala/graft/llm/Multimodal.scala")
    assert(file.isFile, s"run from the project root (no ${file.getAbsolutePath})")
    val src = { val s = scala.io.Source.fromFile(file, "UTF-8"); try s.mkString finally s.close() }
    def count(regex: String): Int = regex.r.findAllIn(src).size
    val once = Seq(
      "BMP 'B' 'M' magic check" -> """payload\(0\) != 'B'""",
      "P6 header walk" -> """payload\(1\) != '6'""",
      "P6 header token reader" -> """def nextInt\(""",
      "gray rule over a pixel triple" -> """\) / 3\b""",
      "per-channel sum" -> """\w+ \+= \(\w+(?:\(\w+\))? >> 16\) & 0xff""",
      "image dispatch chain" -> """decodeBmpRgb\(payload\)\.orElse""")
    once.foreach { case (what, regex) =>
      assert(count(regex) == 1, s"$what is written ${count(regex)} times; go through the one definition")
    }
    // each container's decoder is defined once and called only by the dispatch
    Seq("decodeBmpRgb", "decodePpmRgb", "decodePngRgb").foreach { d =>
      assert(count(d + """\(""") == 2, s"$d: one definition, one call (the dispatch)")
    }
    val removed = """def decode(?:Bmp|Ppm|Png|Jpeg)(?:Gray)?\("""
    assert(count(removed) == 0, "per-format sum/gray decoders are folded into decodeImageRgb")
  }

  test("multimodal Y4M video: round-trip, every-k sampling, frame/still hash parity, conformance rejects") {
    import graft.llm.Multimodal
    val px = (f: Int) => (x: Int, y: Int) => (x * 9 + y * 4 + f * 17) % 256
    val y4m = Multimodal.encodeY4m(9, 7, 10, px)
    // header is spec-shaped ASCII
    assert(new String(y4m.take(9), "US-ASCII") == "YUV4MPEG2")
    // full decode: every frame, exact pixels
    val Some((w, h, nf, all)) = Multimodal.decodeY4mFrames(y4m, every = 1)
    assert(w == 9 && h == 7 && nf == 10 && all.map(_._1) == (0 until 10))
    for ((f, gray) <- all; x <- 0 until 9; y <- 0 until 7)
      assert(gray(y * 9 + x) == px(f)(x, y), s"frame $f pixel ($x,$y)")
    // every-3 sampling keeps frames 0,3,6,9 and still reports nf=10
    val Some((_, _, nf3, s3)) = Multimodal.decodeY4mFrames(y4m, every = 3)
    assert(nf3 == 10 && s3.map(_._1) == Seq(0, 3, 6, 9))
    // frame/still parity: a video frame hashes exactly like the same
    // image through the still path (shared window math)
    val still = Multimodal.encodePngGray(9, 7, px(4))
    val stillHash = Multimodal.aHash(Seq(
      Multimodal.MediaRecord(1L, still, "image/png")).toDS())
      .collect().head.ahash
    val frameHash = Multimodal.videoFrameHashes(Seq(
      Multimodal.MediaRecord(1L, y4m, "video/x-yuv4mpeg")).toDS(), every = 1)
      .collect().find(_.frame_idx == 4).get.ahash
    assert(frameHash == stillHash, "frame 4 must hash like its still twin")
    // conformance: junk, truncated plane, non-mono colorspace all reject
    assert(Multimodal.decodeY4mFrames("not a video".getBytes).isEmpty)
    assert(Multimodal.decodeY4mFrames(y4m.dropRight(5)).isEmpty,
      "truncated final plane must reject")
    val c420 = new String(y4m.takeWhile(_ != '\n'), "US-ASCII")
      .replace("Cmono", "C420") .getBytes("US-ASCII") ++ y4m.dropWhile(_ != '\n')
    assert(Multimodal.decodeY4mFrames(c420).isEmpty,
      "non-mono colorspace must take the fallback, not misparse")
    assert(Multimodal.decodeY4mFrames(y4m, every = 0).isEmpty)
  }

  test("multimodal AVI/MJPEG video: round-trip, sampling, frame/still parity, conformance rejects") {
    import graft.llm.Multimodal
    // block-constant pixels: the JPEG DCT path round-trips them exactly,
    // so frame pixels must equal the SAME pixel function through the
    // still JPEG codec (the analytic-oracle contract, frame-axis form)
    val px = (f: Int) => (x: Int, y: Int) =>
      (((x / 8) * 57 + (y / 8) * 23 + f * 19) % 256,
        ((x / 8) * 31 + (y / 8) * 11 + f * 5) % 256,
        ((x / 8) * 17 + (y / 8) * 29 + f * 3) % 256)
    val avi = Multimodal.encodeAviMjpeg(20, 13, 10, px)
    assert(new String(avi.take(4), "US-ASCII") == "RIFF" &&
      new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val Some((w, h, nf, all)) = Multimodal.decodeAviMjpegFrames(avi, every = 1)
    assert(w == 20 && h == 13 && nf == 10 && all.map(_._1) == (0 until 10))
    for ((f, rgb) <- all) {
      val Some((sw, sh, stillRgb)) =
        Multimodal.decodeJpegRgb(Multimodal.encodeJpeg(20, 13, px(f)))
      assert(sw == w && sh == h && java.util.Arrays.equals(rgb, stillRgb),
        s"frame $f must decode exactly like its still JPEG twin")
    }
    // every-3 sampling keeps 0,3,6,9 and still reports nf=10
    val Some((_, _, nf3, s3)) = Multimodal.decodeAviMjpegFrames(avi, every = 3)
    assert(nf3 == 10 && s3.map(_._1) == Seq(0, 3, 6, 9))
    // videoFrameStats sums the decoded channels per sampled frame
    val stats = Multimodal.videoFrameStats(Seq(
      Multimodal.MediaRecord(7L, avi, "video/x-msvideo")).toDS(), every = 2)
      .collect().sortBy(_.frame_idx)
    assert(stats.map(_.frame_idx).toSeq == Seq(0, 2, 4, 6, 8) &&
      stats.forall(s => s.n_frames == 10 && s.width == 20 && s.height == 13))
    val f0 = all.find(_._1 == 0).get._2
    assert(stats.head.r_sum == f0.map(p => (p >> 16) & 0xff).map(_.toLong).sum)
    // cross-container hash parity: gray MJPEG frames (r=g=b — the
    // integer YCbCr chain is exact on gray) hash IDENTICALLY to the
    // same content through Y4M, at stride 8 (one sample per block)
    val grayPx = (f: Int) => (x: Int, y: Int) =>
      ((x / 8) * 5 + (y / 8) * 9 + f * 13) % 256
    val aviGray = Multimodal.encodeAviMjpeg(64, 48, 6,
      f => (x, y) => { val v = grayPx(f)(x, y); (v, v, v) })
    val y4mUp = Multimodal.encodeY4m(8, 6, 6,
      f => (bx, by) => grayPx(f)(bx * 8, by * 8)) // 1 px per block, stride-1 twin
    val hAvi = Multimodal.videoFrameHashes(Seq(
        Multimodal.MediaRecord(1L, aviGray, "video/x-msvideo")).toDS(),
        strideX = 8, strideY = 8)
      .collect().map(r => r.frame_idx -> ((r.ahash, r.n_set))).toMap
    val hY4m = Multimodal.videoFrameHashes(Seq(
        Multimodal.MediaRecord(2L, y4mUp, "video/x-yuv4mpeg")).toDS())
      .collect().map(r => r.frame_idx -> ((r.ahash, r.n_set))).toMap
    assert(hAvi == hY4m && hAvi.size == 6,
      s"container leaked into the frame hash: $hAvi vs $hY4m")
    // 4:2:0 frames (MCU-constant pixels) decode exactly like their
    // still twins through the SAME container walk — no decoder variant
    val px420 = (f: Int) => (x: Int, y: Int) =>
      (((x / 16) * 57 + (y / 16) * 23 + f * 19) % 256,
        ((x / 16) * 31 + f * 5) % 256, ((y / 16) * 29 + f * 3) % 256)
    val avi420 = Multimodal.encodeAviMjpeg420(20, 18, 4, px420)
    val Some((w4, h4, nf4, fr4)) = Multimodal.decodeAviMjpegFrames(avi420)
    assert(w4 == 20 && h4 == 18 && nf4 == 4)
    for ((f, rgb) <- fr4) {
      val Some((_, _, still)) =
        Multimodal.decodeJpegRgb(Multimodal.encodeJpeg420(20, 18, px420(f)))
      assert(java.util.Arrays.equals(rgb, still),
        s"4:2:0 frame $f must decode like its still twin")
    }
    // conformance rejects
    assert(Multimodal.decodeAviMjpegFrames("RIFFxxxx not avi".getBytes).isEmpty)
    assert(Multimodal.decodeAviMjpegFrames(avi.dropRight(7)).isEmpty,
      "truncated final chunk must reject")
    assert(Multimodal.decodeAviMjpegFrames(avi, every = 0).isEmpty)
    def indexOfTag(hay: Array[Byte], tag: String, from: Int = 0): Int = {
      val t = tag.getBytes("US-ASCII")
      (from to hay.length - t.length).find(i => t.indices.forall(j => hay(i + j) == t(j))).getOrElse(-1)
    }
    // strf advertising a non-MJPG codec must take the fallback
    val strfAt = indexOfTag(avi, "strf")
    val otherCodec = avi.clone()
    "H264".getBytes("US-ASCII").copyToArray(otherCodec, strfAt + 8 + 16)
    assert(Multimodal.decodeAviMjpegFrames(otherCodec).isEmpty,
      "non-MJPG biCompression must reject, not misparse")
    // strf dims disagreeing with the decoded frames must reject
    val wrongDims = avi.clone()
    wrongDims(strfAt + 8 + 4) = 99.toByte // biWidth 20 -> 99
    assert(Multimodal.decodeAviMjpegFrames(wrongDims).isEmpty)
    // a corrupted SAMPLED frame (break its SOI) must reject
    val firstDc = indexOfTag(avi, "00dc", indexOfTag(avi, "movi"))
    val badFrame = avi.clone()
    badFrame(firstDc + 8) = 0
    assert(Multimodal.decodeAviMjpegFrames(badFrame).isEmpty)
    // a corrupted SKIPPED frame fails the structural SOI check too
    val secondDc = indexOfTag(avi, "00dc", firstDc + 4)
    val badSkipped = avi.clone()
    badSkipped(secondDc + 8) = 0
    assert(Multimodal.decodeAviMjpegFrames(badSkipped, every = 2).isEmpty,
      "even unsampled frames get the SOI structural check")
  }

  test("hostile AVI: deeply nested hdrl LISTs reject without StackOverflow; small frames fall back to stride 1") {
    import graft.llm.Multimodal
    // ~90k nested 12-byte LIST headers inside hdrl: before the depth
    // cap this recursed once per level and blew the task stack.
    val levels = 90000
    val bb = java.nio.ByteBuffer
      .allocate(12 + 8 + 4 + levels * 12 + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def four(s: String): Unit = bb.put(s.getBytes("US-ASCII"))
    four("RIFF"); bb.putInt(bb.capacity - 8); four("AVI ")
    // outer LIST hdrl whose body is the whole nested chain
    four("LIST"); bb.putInt(4 + levels * 12 + 12); four("hdrl")
    var remaining = levels * 12 + 12
    for (_ <- 0 until levels) {
      remaining -= 12
      four("LIST"); bb.putInt(4 + remaining); four("nest")
    }
    four("LIST"); bb.putInt(4); four("nest")
    val hostile = bb.array()
    assert(Multimodal.decodeAviMjpegFrames(hostile).isEmpty,
      "nonconformant nesting must return None, not StackOverflowError")

    // small-frame fallback: 16x12 frames don't fit the 8x6 window at
    // stride 8 — default drops them, fallbackStride1 hashes them
    // exactly like an explicit stride-1 call
    val px = (f: Int) => (x: Int, y: Int) => (x * 11 + y * 7 + f * 29) % 256
    val tiny = Multimodal.encodeY4m(16, 12, 4, px)
    val ds = Seq(Multimodal.MediaRecord(5L, tiny, "video/x-yuv4mpeg")).toDS()
    assert(Multimodal.videoFrameHashes(ds, strideX = 8, strideY = 8)
      .collect().isEmpty, "without fallback, sub-window frames drop")
    val fb = Multimodal.videoFrameHashes(ds, strideX = 8, strideY = 8,
      fallbackStride1 = true).collect().sortBy(_.frame_idx)
    val s1 = Multimodal.videoFrameHashes(ds).collect().sortBy(_.frame_idx)
    assert(fb.length == 4 && fb.toSeq == s1.toSeq,
      "fallback must equal the dense stride-1 hash")
    // a frame smaller than the window itself (7x5 < 8x6) still drops
    val sub = Seq(Multimodal.MediaRecord(6L,
      Multimodal.encodeY4m(7, 5, 2, px), "video/x-yuv4mpeg")).toDS()
    assert(Multimodal.videoFrameHashes(sub, strideX = 8, strideY = 8,
      fallbackStride1 = true).collect().isEmpty)
  }

  test("interleaved MJPEG+PCM AVI: both modalities demux from one payload; audio is container-independent") {
    import graft.llm.Multimodal
    val px = (f: Int) => (x: Int, y: Int) => {
      val v = ((x / 8) * 9 + (y / 8) * 5 + f * 7) % 256; (v, v, v)
    }
    val gen = (f: Int) => (i: Int) => ((f * 300 + i) * 5 + 31) % 2048 - 1024
    val avi = Multimodal.encodeAviMjpegPcm(20, 13, 6, px, 8000, 300, gen)
    // video decodes from the interleaved payload, audio chunks skipped
    val Some((w, h, nf, frames)) = Multimodal.decodeAviMjpegFrames(avi)
    assert(w == 20 && h == 13 && nf == 6 && frames.size == 6)
    // audio demuxes to the exact generator samples, stream-number aware
    val Some((rate, samples)) = Multimodal.decodeAviPcm(avi)
    assert(rate == 8000 && samples.length == 1800)
    for (f <- 0 until 6; i <- 0 until 300)
      assert(samples(f * 300 + i) == gen(f)(i).toShort, s"sample ($f,$i)")
    // container independence: the SAME samples through a bare WAV give
    // identical audioStats and fingerprints (audio twin of aHash parity)
    val flat = Array.tabulate(1800)(j => gen(j / 300)(j % 300).toShort)
    val wav = Multimodal.encodeWavPcm16(8000, flat)
    val both = Seq(
      Multimodal.MediaRecord(1L, avi, "video/x-msvideo"),
      Multimodal.MediaRecord(2L, wav, "audio/wav")).toDS()
    val st = Multimodal.audioStats(both).collect()
      .map(s => s.media_id -> ((s.n_samples, s.peak, s.rms, s.zero_crossings))).toMap
    assert(st(1L) == st(2L), s"container leaked into audio stats: $st")
    val fp = Multimodal.audioFingerprint(Multimodal.audioFrames(both, 40), bits = 40)
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("fp")).toMap
    assert(fp(1L) == fp(2L), s"container leaked into the fingerprint: $fp")
    // a video-only AVI has no auds stream: audio path falls back clean
    val videoOnly = Multimodal.encodeAviMjpeg(20, 13, 3, px)
    assert(Multimodal.decodeAviPcm(videoOnly).isEmpty)
    assert(Multimodal.decodeAviPcm(avi.dropRight(9)).isEmpty, "truncation rejects")
    // non-PCM strf (patch wFormatTag) rejects audio but not video
    def indexOfTag(hay: Array[Byte], tag: String, from: Int): Int = {
      val t = tag.getBytes("US-ASCII")
      (from to hay.length - t.length).find(i => t.indices.forall(j => hay(i + j) == t(j))).getOrElse(-1)
    }
    val strfV = indexOfTag(avi, "strf", 0)
    val strfA = indexOfTag(avi, "strf", strfV + 4) // second strf = auds
    val mulaw = avi.clone()
    mulaw(strfA + 8) = 7 // wFormatTag: mu-law
    assert(Multimodal.decodeAviPcm(mulaw).isEmpty,
      "non-PCM audio must take the fallback, not misparse")
    assert(Multimodal.decodeAviMjpegFrames(mulaw).nonEmpty,
      "the video stream is independent of a rejected audio stream")
  }

  test("aHash is container-independent: PNG and BMP of the same pixels agree") {
    val px = (x: Int, y: Int) => ((x * 7 + y * 13) % 256, (x * 3 + y * 5) % 256, (x + y * 2) % 256)
    val media = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodeBmp(8, 6, px), "image/bmp"),
      Multimodal.MediaRecord(2L, Multimodal.encodePng(8, 6, px), "image/png")).toDS()
    val hashes = Multimodal.aHash(media).collect().map(r => r.media_id -> r.ahash).toMap
    assert(hashes(1L) == hashes(2L), s"container leaked into the hash: $hashes")
    // and imageStats dispatch keeps PNG alongside BMP/PPM
    val stats = Multimodal.imageStats(media).collect().map(s => s.media_id -> s).toMap
    assert(stats(1L).r_sum == stats(2L).r_sum && stats(1L).n_pixels == 48L)
  }

  test("multimodal: empty payloads decode to zero features, not a crash") {
    val (w, h, c, f) = Multimodal.decodeStub(Array.empty[Byte])
    assert(f.toSeq == Seq.fill(8)(0.0f) && c == 3 && w == 16 && h == 16)
    val media = Multimodal.asMediaTable(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.extractFeatures(Multimodal.toMediaDataset(spark, media)).collect()
    assert(out.length == 1 && out(0).byte_len == 0)
  }

  test("multimodal WAV codec: PCM16 round-trip; chunk walk skips LIST + pad byte; junk rejected") {
    val samples = Array[Short](3, -2, 0, 5, -1, 32767, -32768)
    val wav = Multimodal.encodeWavPcm16(8000, samples)
    val Some((rate, back)) = Multimodal.decodeWavPcm16(wav)
    assert(rate == 8000 && back.toSeq == samples.toSeq)
    // splice an odd-sized LIST chunk between fmt and data: the RIFF walk
    // must skip it AND honor the pad byte odd sizes carry
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3) ++ Array[Byte](0)
    val spliced = wav.take(36) ++ list ++ wav.drop(36)
    java.nio.ByteBuffer.wrap(spliced)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4, spliced.length - 8)
    val Some((r2, b2)) = Multimodal.decodeWavPcm16(spliced)
    assert(r2 == 8000 && b2.toSeq == samples.toSeq)
    assert(Multimodal.decodeWavPcm16("definitely not RIFF audio data here".getBytes).isEmpty)
    assert(Multimodal.decodeWavPcm16(wav.take(40)).isEmpty) // truncated
    val stereo = wav.clone
    java.nio.ByteBuffer.wrap(stereo)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(22, 2)
    assert(Multimodal.decodeWavPcm16(stereo).isEmpty) // mono only
  }

  test("multimodal WAV channels: stereo de-mux, 8-bit PCM, mu-law; conformance rejects kept") {
    import graft.llm.Multimodal
    // mu-law table sanity: the four landmark codes of the G.711 algebra
    assert(Multimodal.muLawDecode(0x00) == -32124)
    assert(Multimodal.muLawDecode(0x80) == 32124)
    assert(Multimodal.muLawDecode(0x7f) == 0 && Multimodal.muLawDecode(0xff) == 0)
    // decode∘encode is identity on the decode image for ALL 256 codes
    // (negative zero 0x7f re-encodes to 0xff; values agree regardless)
    for (c <- 0 until 256) {
      val v = Multimodal.muLawDecode(c)
      assert(Multimodal.muLawDecode(Multimodal.muLawEncode(v)) == v,
        s"code $c: decode(encode(${v})) must round-trip")
    }
    // encode clamps and covers the full 16-bit input range monotonically
    assert(Multimodal.muLawEncode(32767) == 0x80 && Multimodal.muLawEncode(-32768) == 0x00)
    assert(Multimodal.muLawEncode(0) == 0xff)

    // A-law landmark codes (G.711 sibling table: XOR-0x55, no bias)
    assert(Multimodal.aLawDecode(0x55) == -8 && Multimodal.aLawDecode(0xd5) == 8)
    assert(Multimodal.aLawDecode(0x2a) == -32256 && Multimodal.aLawDecode(0xaa) == 32256)
    for (c <- 0 until 256) {
      val v = Multimodal.aLawDecode(c)
      assert(Multimodal.aLawDecode(Multimodal.aLawEncode(v)) == v,
        s"A-law code $c: decode(encode($v)) must round-trip")
    }
    // A-law WAV expands through the table (fmt 6)
    val Some((_, chsAl)) = Multimodal.decodeWavChannels(
      Multimodal.encodeWavAlaw(8000, 1, Array[Byte](0x55, 0xaa.toByte)))
    assert(chsAl(0).toSeq == Seq[Short](-8, 32256))

    // stereo PCM16: per-channel arrays come back exactly (L=ch0 first)
    val left = Array[Short](3, -2, 0, 5)
    val right = Array[Short](-7, 9, 1, -4)
    val inter = Array.tabulate[Short](8)(j => if (j % 2 == 0) left(j / 2) else right(j / 2))
    val stereo = Multimodal.encodeWavPcm16Multi(8000, 2, inter)
    val Some((r2, chs2)) = Multimodal.decodeWavChannels(stereo)
    assert(r2 == 8000 && chs2.length == 2 &&
      chs2(0).toSeq == left.toSeq && chs2(1).toSeq == right.toSeq)
    // mono PCM16 through the channel decoder equals the legacy mono one
    val mono = Multimodal.encodeWavPcm16(8000, left)
    val Some((_, chs1)) = Multimodal.decodeWavChannels(mono)
    assert(chs1.length == 1 &&
      chs1(0).toSeq == Multimodal.decodeWavPcm16(mono).get._2.toSeq)
    // 8-bit PCM normalizes as (code-128)*256
    val codes8 = Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)
    val Some((_, chs8)) = Multimodal.decodeWavChannels(
      Multimodal.encodeWavPcm8(16000, 1, codes8))
    assert(chs8(0).toSeq == Seq[Short](-32768, -256, 0, 32512))
    // mu-law WAV expands through the table
    val Some((_, chsMu)) = Multimodal.decodeWavChannels(
      Multimodal.encodeWavMulaw(8000, 1, Array[Byte](0, 0x7f, 0x80.toByte)))
    assert(chsMu(0).toSeq == Seq[Short](-32124, 0, 32124))
    // audioChannelStats: stereo -> two rows, each on its own samples
    val st = Multimodal.audioChannelStats(Seq(
      Multimodal.MediaRecord(1L, stereo, "audio/wav")).toDS())
      .orderBy("channel").collect()
    assert(st.length == 2 && st(0).channel == 0 && st(0).n_channels == 2)
    assert(st(0).peak == 5 && st(1).peak == 9)
    assert(st(0).zero_crossings == 2 && st(1).zero_crossings == 2)
    // mono mu-law flows through the EXISTING mono battery
    val muMono = Multimodal.audioStats(Seq(Multimodal.MediaRecord(2L,
      Multimodal.encodeWavMulaw(8000, 1, Array[Byte](0, 0x80.toByte)),
      "audio/wav")).toDS()).collect()(0)
    assert(muMono.peak == 32124 && muMono.zero_crossings == 1)
    // rejects: float fmt, 24-bit, block-align mismatch, partial frame,
    // >8 channels — all None, never a misparse
    def patchShort(w: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val c = w.clone
      java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putShort(off, v.toShort)
      c
    }
    assert(Multimodal.decodeWavChannels(patchShort(stereo, 20, 3)).isEmpty, "float fmt")
    assert(Multimodal.decodeWavChannels(patchShort(stereo, 34, 24)).isEmpty, "24-bit")
    assert(Multimodal.decodeWavChannels(patchShort(stereo, 32, 3)).isEmpty, "block align")
    assert(Multimodal.decodeWavChannels(patchShort(stereo, 22, 9)).isEmpty, "9 channels")
    // partial final frame: shrink data to 14 bytes (not /4) with a
    // consistent RIFF size, so the frame-divisibility check itself fires
    val partial = java.util.Arrays.copyOf(stereo, stereo.length - 2)
    java.nio.ByteBuffer.wrap(partial).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, partial.length - 8).putInt(40, 14)
    assert(Multimodal.decodeWavChannels(partial).isEmpty, "partial frame")
    // stereo stays OUT of the mono battery (channel ops own it)
    assert(Multimodal.audioStats(Seq(
      Multimodal.MediaRecord(3L, stereo, "audio/wav")).toDS()).count() == 0)
  }

  test("multimodal audio: stats/frames/fingerprint match hand-computed integers") {
    val s1 = Array[Short](3, -2, 0, 5, -1)
    val media = Seq(
      Multimodal.MediaRecord(1L, Multimodal.encodeWavPcm16(1000, s1), "audio/wav")).toDS()
    val st = Multimodal.audioStats(media).collect()(0)
    assert(st.sample_rate == 1000 && st.n_samples == 5)
    assert(st.duration_ms == 5) // 5 samples at 1 kHz
    assert(st.peak == 5)
    assert(st.rms == 2) // floor(sqrt((9+4+0+25+1) / 5)) = floor(sqrt(7))
    assert(st.zero_crossings == 3) // +,-,+,+,- with 0 counted nonnegative
    val fr = Multimodal.audioFrames(media, frameLen = 2).orderBy("frame_id").collect()
    assert(fr.map(f => (f.frame_id, f.n, f.energy, f.zcr)).toSeq ==
      Seq((0, 2, 13L, 1), (1, 2, 25L, 0), (2, 1, 1L, 0)))
    // energies 13 -> 25 -> 1: bit0 = (25>13) = 1, bit1 = (1>25) = 0 -> fp 1
    val fp = Multimodal.audioFingerprint(Multimodal.audioFrames(media, 2), bits = 48)
      .collect()(0)
    assert(fp.getAs[Long]("fp") == 1L)
    // non-WAV payloads drop (fall back to the stub path), never crash
    val mixed = Seq(Multimodal.MediaRecord(2L, "not audio".getBytes, "text/plain")).toDS()
    assert(Multimodal.audioStats(mixed).count() == 0)
  }

  test("multimodal: payload metadata and stubbed per-partition decode are deterministic") {
    val media = Multimodal.asMediaTable(docs.select($"doc_id", $"text"), "doc_id", "text")
    val meta = Multimodal.payloadMetadata(media).orderBy("media_id").collect()
    assert(meta(0).getAs[Int]("byte_len") == 43)
    val feats = Multimodal.extractFeatures(Multimodal.toMediaDataset(spark, media))
    val f = feats.orderBy("media_id").collect()
    assert(f.length == 5)
    assert(f(0).features.length == 8)
    // identical payloads -> identical features
    assert(f(0).features.toSeq == f(1).features.toSeq)
    assert(f(0).byte_len == 43 && f(0).channels == 3)
  }

  test("multimodal frame sampling slices BYTES: multi-byte UTF-8 agrees with a byte oracle") {
    // 🎉 is 4 UTF-8 bytes: 300 chars of 'a' + emoji = 304 bytes -> 2 frames
    // (a character-based slicer would see 301 "positions" and put the frame-0
    // boundary mid-payload differently once bytes-per-char > 1)
    val text = "a" * 300 + "🎉"
    val bytes = text.getBytes("UTF-8")
    assert(bytes.length == 304)
    val media = Multimodal.asMediaTable(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
    val rows = Multimodal.sampleFrames(media).orderBy("frame_idx").collect()
    // stride 2 over n_frames=2 -> frame 0 only
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Int]("n_frames") == 2)
    assert(r.getAs[Int]("frame_len") == 256) // first 256 BYTES, not chars
    val expectedFp = bytes.take(8).map("%02x".format(_)).mkString
    assert(r.getAs[String]("frame_fp") == expectedFp)
    // byte-derived resize metadata: 304 % 64 + 16 = 64 wide, 304 % 48 + 16 = 32 high
    assert(r.getAs[Int]("resize_w") == 64 && r.getAs[Int]("resize_h") == 32)
  }

  test("simhash band pairs: exact dups at hamming 0; recall exact below bands") {
    val pairs = Dedup.simhashBandPairs(docs, "doc_id", "text",
      bits = 16, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // the exact dup pair is found at hamming 0
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    // pigeonhole guarantee: EVERY pair within maxHamming (< bands) appears —
    // cross-check against the exhaustive all-pairs hamming computation
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash(tokens(col("text")), 16).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)
    assert(pairs.toSet == want.toSet)
    // invalid configs refuse loudly
    intercept[IllegalArgumentException](
      Dedup.simhashBandPairs(docs, "doc_id", "text", bits = 16, bands = 3))
    intercept[IllegalArgumentException](
      Dedup.simhashBandPairs(docs, "doc_id", "text", maxHamming = 4, bands = 4))
  }

  test("simhash band pairs under an exact-dup flood: complete pairs, candidate work stays distinct-sig-sized") {
    // 40 byte-identical mirror copies + 3 distinct pages: the flood's
    // 40*39/2 intra pairs come out at hamming 0 via the equi-join, and the
    // banding/verification stage sees only the 4 DISTINCT signatures (the
    // quadratic stage is exactly the output-emitting one)
    val flood = (0L until 40L).map(i => (i, "mirror boilerplate page body repeated verbatim")) ++
      Seq((100L, "a unique page about spark catalyst planning"),
        (101L, "a unique page about spark catalyst planning today"),
        (102L, "entirely different content on graph analytics"))
    val df = flood.toDF("doc_id", "text")
    val pairs = Dedup.simhashBandPairs(df, "doc_id", "text",
      bits = 16, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // exhaustive truth
    val sigs = df.select(col("doc_id"),
      Dedup.simhash(tokens(col("text")), 16).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)
    assert(pairs.toSet == want.toSet)
    assert(pairs.count(_._3 == 0) >= 40 * 39 / 2)
    // structural guarantee: every pair is unique (no per-band duplicate
    // emission survives) — the distinct runs on sig pairs, so doc pairs
    // must still come out exactly once
    assert(pairs.size == pairs.distinct.size)
  }

  test("redact: counts before replace, rules chain in order, no matches = intact") {
    val df = Seq((1L, "mail me at bob@example.com or alice@test.org today"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.redact(df, "doc_id", "text", Seq(
      ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
      ("today", "\\btoday\\b", "<DAY>"))).orderBy("doc_id").collect()
    assert(out(0).getAs[Int]("n_email") == 2)
    assert(out(0).getAs[String]("redacted") ==
      "mail me at <EMAIL> or <EMAIL> <DAY>")
    assert(out(1).getAs[Int]("n_email") == 0)
    assert(out(1).getAs[String]("redacted") == "no pii here at all")
  }

  test("chunkTokens: overlap arithmetic, short docs, exact coverage") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c")).toDF("doc_id", "text") // shorter than one window
    val out = TextAnalysis.chunkTokens(df, "doc_id", "text",
      chunkSize = 4, stride = 3).orderBy("doc_id", "chunk_id").collect()
    val d1 = out.filter(_.getLong(0) == 1L)
    // ceil((10-4)/3)+1 = 3 chunks at offsets 0,3,6: [t1..t4],[t4..t7],[t7..t10]
    assert(d1.map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // last chunk of an aligned doc is full-size here; a short doc = 1 chunk
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getAs[String]("chunk_text") == "a b c")
    // every token of every doc is covered by at least one chunk
    assert(d1.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet ==
      (1 to 10).map(i => s"t$i").toSet)
  }

  test("capPerStratum: exact top-N by (hash,id), partitioning-independent") {
    val corpus = (0L until 500L).map(i => (i, s"s${i % 3}"))
      .toDF("doc_id", "src")
    val got = Sampling.capPerStratum(corpus, "doc_id", "src", 7)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // oracle: plain per-stratum sort by (md5Long(id), id), take 7
    val hashed = corpus.select(col("src"), col("doc_id"),
      md5Long(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = hashed.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.sortBy(r => (r._3, r._2)).take(7).zipWithIndex
        .map { case (r, i) => (src, i + 1, r._2) }
    }.toSet
    assert(got == want && got.size == 21)
    // exactness is partitioning-independent (local top-N is a superset)
    val got2 = Sampling.capPerStratum(corpus.repartition(17), "doc_id",
      "src", 7).collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(got2 == want)
  }

  test("temperatureMixtureSqrt: probabilities flatten sizes, sum <= 1e6") {
    val df = Seq.tabulate(300)(i =>
      (i.toLong, if (i < 200) "big" else "small", 10L))
      .toDF("doc_id", "src", "n_chars")
    val p = Sampling.temperatureMixtureSqrt(df, "src", "n_chars")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // raw sizes are 2000 vs 1000 (2:1); sqrt-tempered ratio is sqrt(2):1
    assert(math.abs(p("big").toDouble / p("small") - math.sqrt(2)) < 0.001)
    assert(p.values.sum <= 1000000L)
  }

  test("chunkDedup drops cross-document chunks, reassembles survivors in order") {
    // docs 0/1 are identical (9 words -> chunks of 8 + 1): every chunk is
    // shared, so both documents vanish. doc 2 shares its first 8-word chunk
    // with 0/1 but its tail chunk "cat" is unique. docs 3/4 are untouched.
    val out = Dedup.chunkDedup(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_kept"), r.getAs[String]("cleaned")))
    assert(out.map(_._1).toSeq == Seq(2L, 3L, 4L))
    assert(out(0) == ((2L, 1L, "cat")))
    assert(out(1) == ((3L, 1L, "completely different words appear in this one here")))
    assert(out(2) == ((4L, 1L, "unrelated content in another bucket entirely now ok")))
  }

  test("chunkDedup is the identity (round-trip) when no chunk repeats") {
    val uniq = (0 until 40).map { i =>
      val n = 1 + (i % 23)
      (i.toLong, (0 until n).map(j => s"w${i}_$j").mkString(" "))
    }
    val out = Dedup.chunkDedup(uniq.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 40)
    out.zip(uniq).foreach { case (r, (_, text)) =>
      assert(r.getAs[String]("cleaned") == text)
      val n = text.split(" ").length
      assert(r.getAs[Long]("n_kept") == (n + 7) / 8)
    }
  }

  test("fastHash flag: off is bit-identical to the md5 default; on switches the kernel") {
    def bandsOf(fast: Boolean) =
      Dedup.minhashBands(docs, "doc_id", "text", 3, 4, 2, fastHash = fast)
        .orderBy("doc_id", "band")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
          r.getAs[String]("band_key"))).toSeq
    val default = Dedup.minhashBands(docs, "doc_id", "text", 3, 4, 2)
      .orderBy("doc_id", "band")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("band_key"))).toSeq
    // flag off ≡ today: the default IS the md5 path
    assert(bandsOf(fast = false) == default)
    // the flag genuinely swaps the kernel (different hash family -> at
    // least one band key must differ on real text)
    val fastBands = bandsOf(fast = true)
    assert(fastBands != default)
    // same structural contract: one row per (doc, band), deterministic
    // across evaluations, and identical docs collide in every band
    assert(fastBands.map(t => (t._1, t._2)) == default.map(t => (t._1, t._2)))
    assert(bandsOf(fast = true) == fastBands)
    val twins = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val tb = Dedup.minhashBands(twins, "doc_id", "text", 3, 4, 2, fastHash = true)
      .collect().groupBy(_.getAs[Int]("band"))
      .map { case (_, rs) => rs.map(_.getAs[String]("band_key")).distinct.length }
    assert(tb.forall(_ == 1))
    // simhash: same flag discipline, signatures stay in [0, 2^16)
    val sigs = docs.select(
        Dedup.simhash(graft.functions.ColumnFns.tokens($"text"), 16,
          fastHash = true).as("s"))
      .collect().map(_.getAs[Long]("s"))
    assert(sigs.forall(s => s >= 0 && s < 65536))
  }

  test("nearDupEdges: 1k-identical-doc flood collapses to a linear star, components intact") {
    // the adversarial corpus for any band-bucket candidate generator: all
    // copies share every band, so the naive pair set is 1000*999/2 =
    // 499500. The enforced exact-collapse precondition must emit exactly
    // the 999-edge star from the min-id representative instead — and the
    // downstream component is the same single cluster either way.
    val flood = (0 until 1000).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val edges = Dedup.nearDupEdges(flood, "doc_id", "text")
    val e = edges.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(e.length == 999)
    assert(e.forall { case (a, b) => a == 0L && b > 0L })
    val comp = graft.operators.ConnectedComponents.run(
      edges, "id_a", "id_b")
    assert(comp.count() == 1000L)
    assert(comp.select("component").distinct().count() == 1L)
  }

  test("groupAwareSplit is partitioning-invariant") {
    val comp = graft.operators.ConnectedComponents.run(
      Dedup.nearDupEdges(docs, "doc_id", "text"), "id_a", "id_b")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Sampling.groupAwareSplit(df, "doc_id", comp).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(assign(docs) == assign(docs.repartition(7)))
  }

  test("groupAwareSplit: near-dup pairs never straddle splits; every doc assigned once") {
    val edges = Dedup.nearDupEdges(docs, "doc_id", "text")
    val comp = graft.operators.ConnectedComponents.run(edges, "id_a", "id_b")
    val split = Sampling.groupAwareSplit(docs, "doc_id", comp)
    assert(split.count() == docs.count())
    val cross = edges
      .join(split.select($"doc_id".as("id_a"), $"split".as("sa")), "id_a")
      .join(split.select($"doc_id".as("id_b"), $"split".as("sb")), "id_b")
      .filter($"sa" =!= $"sb").count()
    assert(cross == 0L)
    // 0/1 are the verified near-dup pair (2 shares a band but fails the
    // 0.8 Jaccard verify) -> same component -> same split by construction.
    val by = split.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(by(0L) == by(1L))
  }

  test("mixture builders fail loudly past the micro-unit quantization bound") {
    // 9.3e15 chars in one stratum: x1e6 micro-quantization would overflow
    // Long — the guard must raise a descriptive error, not wrap (or die
    // with ANSI's generic overflow mid-job)
    val big = Seq(("a", 9300000000000000L), ("b", 1000L)).toDF("source", "n")
    val e = intercept[Exception] {
      Sampling.annealedMixture(big, "source", "n", epochs = 2).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("quantization bound"),
      s"expected the descriptive guard, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      Sampling.temperatureMixtureSqrt(
        Seq(("a", 100000000000000L)).toDF("source", "n"), "source", "n").collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("quantization bound"),
      s"expected the descriptive guard, got: ${e2.getMessage}")
  }

  test("annealedMixture: epoch 0 is the natural distribution, final epoch the sqrt-tempered one") {
    val corpus = Seq(("a", 9000L), ("b", 1000L), ("a", 7000L))
      .toDF("source", "n")
    val sched = Sampling.annealedMixture(corpus, "source", "n", epochs = 4)
      .collect().map(r => (r.getAs[Int]("epoch"), r.getAs[String]("source")) ->
        r.getAs[Long]("p_micro")).toMap
    // natural: a = 16000/17000, b = 1000/17000 (micro, truncating)
    assert(sched((0, "a")) == 16000L * 1000000 / 17000)
    assert(sched((0, "b")) == 1000L * 1000000 / 17000)
    // final epoch equals temperatureMixtureSqrt's p_micro exactly
    val sqrtW = Sampling.temperatureMixtureSqrt(corpus, "source", "n")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("p_micro")).toMap
    assert(sched((3, "a")) == sqrtW("a") && sched((3, "b")) == sqrtW("b"))
    // anneal moves mass monotonically from the big source to the small one
    assert(sched((0, "a")) > sched((1, "a")) && sched((1, "a")) > sched((2, "a")))
    assert(sched((0, "b")) < sched((1, "b")) && sched((1, "b")) < sched((2, "b")))
    intercept[IllegalArgumentException] {
      Sampling.annealedMixture(corpus, "source", "n", epochs = 1)
    }
  }

  test("globalQualityGate keeps exactly the at-or-above-median half") {
    val corpus = Seq(
      (1L, "the of and to in"),     // all stopwords -> 1000 milli
      (2L, "the quick brown fox"),  // 1/4 -> 250
      (3L, "zz yy xx ww vv"),       // 0
      (4L, "the a of zz")           // 3/4 -> 750
    ).toDF("doc_id", "text")
    // milli scores: 1000, 250, 0, 750 -> median (quantile_cont) = 500
    val out = TextAnalysis.globalQualityGate(corpus, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(1L, 4L))
    intercept[IllegalArgumentException] {
      TextAnalysis.globalQualityGate(corpus, "doc_id", "text", pct = 1.5)
    }
  }

  test("semanticDedup: drops within-cluster near-dups, keeps lowest id") {
    val cents = Seq((100L, Seq(1f, 0f, 0f, 0f)), (101L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val vecs = Seq(
      (1L, Seq(1f, 0.1f, 0f, 0f)),    // cluster 100
      (2L, Seq(1f, 0.12f, 0f, 0f)),   // cos(1,2) ~ 0.9998 -> dropped
      (3L, Seq(0.9f, -0.1f, 0f, 0f)), // cos(1,3) ~ 0.978 < 0.99 -> kept
      (4L, Seq(0f, 1f, 0.05f, 0f)),   // cluster 101
      (5L, Seq(0.01f, 1f, 0.05f, 0f)) // cos(4,5) ~ 1.0 -> dropped
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, cents, threshold = 0.99).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("centroid_id"), r.getAs[Boolean]("kept"))).toMap
    assert(out(1L) == (100L, true) && out(2L) == (100L, false))
    assert(out(3L) == (100L, true))
    assert(out(4L) == (101L, true) && out(5L) == (101L, false))
  }

  test("duplicateSpans: cross-doc runs merge; same-doc repeats and short docs excluded") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e f y y"),       // shares "a b c d e f" with doc 1
      (3L, "p q r s t u v w"),           // unique -> no spans
      (4L, "a b c"),                     // < k tokens -> excluded
      (5L, "m n o p q m n o p q")        // repeat WITHIN one doc only -> no span
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(corpus, "doc_id", "text", k = 5)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end"), r.getAs[Long]("n_windows")))
    // doc 1: windows at pos 0,1 duplicated -> one span [0,5]; doc 2: pos 2,3 -> [2,7]
    assert(out.toSeq == Seq((1L, 0, 5, 2L), (2L, 2, 7, 2L)))
  }

  test("removeDuplicateSpans: spans drop, unique docs untouched, full dups go empty") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x a b c d e f y y"),
      (3L, "p q r s t u v w"),
      (4L, "a b c"),
      (5L, "a b c d e f")            // fully inside the duplicated 6-gram
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(corpus, "doc_id", "text", k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_spans"), r.getAs[String]("cleaned"))).toMap
    assert(out(1L) == (1, "g h"))        // span [0,5] removed
    assert(out(2L) == (1, "x x y y"))    // span [2,7] removed
    assert(out(3L) == (0, "p q r s t u v w"))
    assert(out(4L) == (0, "a b c"))      // shorter than k -> untouched
    assert(out(5L) == (1, ""))           // fully duplicated -> empty, still present
  }

  test("duplicateSpans: disjoint duplicated regions stay separate spans") {
    val corpus = Seq(
      (1L, "a b c d e zz1 zz2 zz3 v w x y z"),
      (2L, "a b c d e qq1 qq2 qq3 v w x y z")
    ).toDF("doc_id", "text") // shared 5-gram at pos 0 and pos 8, gap between
    val out = Dedup.duplicateSpans(corpus, "doc_id", "text", k = 5)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_end")))
    assert(out.toSeq == Seq((1L, 0, 4), (1L, 8, 12), (2L, 0, 4), (2L, 8, 12)))
  }

  test("importanceWeights: target-typical docs score positive, raw-typical negative") {
    val corpus = Seq(
      (1L, "tt tt tt", true), (2L, "tt tt tt", true),
      (3L, "rr rr rr", false), (4L, "rr rr rr", false))
      .toDF("doc_id", "text", "is_en")
    val out = Sampling.importanceWeights(corpus, "doc_id", "text", $"is_en")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_micro"),
          r.getAs[Long]("avg_weight_micro"))).toMap
    assert(out(1L)._1 == 3L && out(1L)._2 > 0L)
    assert(out(3L)._2 < 0L)
    // symmetric corpus -> antisymmetric weights; avg is the truncating div
    assert(out(1L)._2 == -out(3L)._2)
    assert(out(1L)._3 == out(1L)._2 / 3 && out(3L)._3 == -(out(1L)._2 / 3))
  }

  test("pqCodes: exact sub-match gets its code at distance 0; ties break to lowest code") {
    val cb = Seq((100L, Seq(1f, 0f, 0f, 1f)), (101L, Seq(0f, 1f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val vecs = Seq(
      (1L, Seq(1f, 0f, 1f, 0f)),        // sub0 = code100 exactly, sub1 = code101 exactly
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f)) // equidistant in both subspaces -> code 100
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(vecs, cb, dim = 4, m = 2)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("subspace")) ->
        (r.getAs[Long]("code"), r.getAs[Long]("dist_micro"))).toMap
    assert(out((1L, 0L)) == (100L, 0L))
    assert(out((1L, 1L)) == (101L, 0L))
    assert(out((2L, 0L))._1 == 100L && out((2L, 1L))._1 == 100L)
    assert(out((2L, 0L))._2 == 500000L) // |x-y|^2 = 0.25 + 0.25
    intercept[IllegalArgumentException] {
      Similarity.pqCodes(vecs, cb, dim = 4, m = 3)
    }
  }

  test("pqSearch: scores are sums of LUT entries over assigned codes") {
    val cb = Seq((100L, Seq(1f, 0f, 0f, 1f)), (101L, Seq(0f, 1f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, Seq(1f, 0f, 1f, 0f)),        // codes: sub0 -> 100, sub1 -> 101
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f)) // codes: 100, 100 (tie -> lowest)
    ).toDF("vec_id", "embedding")
    val q = Seq((50L, Seq(2f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    // LUT sub0: code100 = 2, code101 = 0; sub1: code100 = 0, code101 = 1
    // cand1 = 2 + 1 = 3e6 micro; cand2 = 2 + 0 = 2e6 micro
    val out = Similarity.pqSearch(cands, q, cb, dim = 4, k = 2, m = 2)
      .collect().map(r => (r.getAs[Int]("rnk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("score_micro"))).sorted
    assert(out.toSeq == Seq((1, 1L, 3000000L), (2, 2L, 2000000L)))
  }

  test("bpePairCounts: frequency-weighted pair counts; single-char words skipped; ties on pair") {
    // "ab ab abc x" -> words: ab(x2), abc(x1); pairs: ab = 2+1 = 3, bc = 1;
    // "x" has no pairs
    val df = Seq(Tuple1("ab ab abc x")).toDF("text")
    val out = TextAnalysis.bpePairCounts(df, "text", topK = 10).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n_occurrences"))
    assert(out.toSeq == Seq("ab" -> 3L, "bc" -> 1L))
    // deterministic tie-break: equal counts order by pair string
    val tie = Seq(Tuple1("zz aa")).toDF("text")
    val t = TextAnalysis.bpePairCounts(tie, "text", topK = 2).collect()
      .map(_.getAs[String]("pair"))
    assert(t.toSeq == Seq("aa", "zz"))
    // topK truncates after the deterministic order
    assert(TextAnalysis.bpePairCounts(df, "text", topK = 1).collect()
      .map(_.getAs[String]("pair")).toSeq == Seq("ab"))
  }

  test("semanticDedup / duplicateSpans / importanceWeights / pqCodes tolerate empty input") {
    val emptyDocs = docs.filter($"doc_id" < 0)
    val emptyVecs = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding").filter($"vec_id" < 0)
    val cents = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    assert(Dedup.semanticDedup(emptyVecs, cents, 0.9).count() == 0)
    // empty CENTROIDS would silently drop the corpus -> must refuse
    intercept[IllegalArgumentException] {
      Dedup.semanticDedup(cents, emptyVecs, 0.9)
    }
    assert(Dedup.duplicateSpans(emptyDocs, "doc_id", "text").count() == 0)
    assert(Sampling.importanceWeights(emptyDocs, "doc_id", "text", lit(true)).count() == 0)
    assert(Similarity.pqCodes(emptyVecs, cents, dim = 2, m = 1).count() == 0)
  }

  test("bloom filter: no false negatives; fp rate sane; prefilter ≡ exact join") {
    val items = spark.range(0, 500).select(concat(lit("item-"), $"id").as("g"))
    val bits = 1 << 14
    val bloom = TextAnalysis.bloomBuild(items, "g", bits = bits, numHashes = 4)
    // every inserted item MUST probe true — the correctness half of the
    // contract (a false negative would silently drop real matches)
    val inserted = items
      .filter(TextAnalysis.bloomMightContain(bloom, bits, 4, $"g"))
    assert(inserted.count() == 500)
    // non-members mostly probe false: at n=500, m=2^14, k=4 the classic
    // rate is ~1e-4 — allow 1% before calling the hash family broken
    val absent = spark.range(0, 10000)
      .select(concat(lit("absent-"), $"id").as("g"))
      .filter(TextAnalysis.bloomMightContain(bloom, bits, 4, $"g"))
    assert(absent.count() <= 100)
    // build is order/partitioning-independent (bit-OR commutes)
    val shuffled = TextAnalysis.bloomBuild(
      items.repartition(7).orderBy(rand(42)), "g", bits = bits, numHashes = 4)
    assert(java.util.Arrays.equals(bloom, shuffled))
    // degenerate params refuse loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.bloomBuild(items, "g", bits = 100, numHashes = 4)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bloomMightContain(bloom, bits * 2, 4, $"g")
    }
  }

  test("token entropy: repeated-token doc scores 0, uniform doc scores ln(k)") {
    val fix = Seq(
      (0L, "spam spam spam spam"),        // 1 type -> H = 0
      (1L, "alpha beta gamma delta"),     // 4 uniform types -> H = ln(4)
      (2L, "x"))                          // single token -> H = 0
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropyScores(fix, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_types") == 1L
      && out(0).getAs[Long]("entropy_micro") == 0L)
    // each c=1, n=4: term = round(ln 4 * 1e6) summed 4x, then div 4
    assert(out(1).getAs[Long]("entropy_micro")
      == math.round(math.log(4.0) * 1e6))
    assert(out(2).getAs[Long]("entropy_micro") == 0L)
  }

  test("perplexity gate: every kept doc is at most as surprising as every dropped doc") {
    val corpus = docs.select($"doc_id", $"text")
    val scored = TextAnalysis.bigramLogProbScores(corpus, "doc_id", "text")
      .withColumn("nll", expr("(-logprob_bi) div n_bigrams"))
      .select($"doc_id".as[Long], $"nll".as[Long]).collect().toMap
    val kept = TextAnalysis.perplexityGate(corpus, "doc_id", "text")
      .select($"doc_id".as[Long]).collect().toSet
    assert(kept.nonEmpty && kept.size < scored.size) // pct=0.5 splits
    val keptMax = kept.map(scored).max
    val dropMin = (scored.keySet -- kept).map(scored).min
    assert(keptMax <= dropMin)
  }

  test("range search: keeps exactly the pairs whose rounded cosine clears the radius") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(1f, 0.1f, 0f)),   // cos(0,1) ~ 0.995
      (2L, Array(0f, 1f, 0f)),     // cos(0,2) = 0
      (3L, Array(-1f, 0f, 0f)),    // cos(0,3) = -1
      (4L, Array(1f, 1f, 0f)))     // cos(0,4) ~ 0.707
      .toDF("vec_id", "embedding")
    val out = Similarity.rangeSearch(vecs, vecs.filter($"vec_id" === 0L),
        radius = 0.5)
      .select($"neighbor_id".as[Long]).collect().toSet
    assert(out == Set(1L, 4L)) // 2 and 3 below radius; self excluded
    // radius -1 keeps everything but self
    assert(Similarity.rangeSearch(vecs, vecs.filter($"vec_id" === 0L), -1.0)
      .count() == 4)
  }

  test("linear quality classifier: mean-of-weights logit, OOV contributes zero, sign label") {
    val weights = Seq(("good", 1000000L), ("bad", -2000000L))
      .toDF("token", "w_micro")
    val fix = Seq(
      (0L, "good good good good"),   // logit = 1e6 + bias
      (1L, "bad bad good unseen"),   // sum = -3e6, div 4 = -750000
      (2L, "unseen only here"))      // all OOV -> bias alone
      .toDF("doc_id", "text")
    val out = TextAnalysis.linearQualityScore(fix, weights, "doc_id", "text",
        biasMicro = 100000L)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("logit_micro") == 1100000L
      && out(0).getAs[Boolean]("keep"))
    assert(out(1).getAs[Long]("logit_micro") == -650000L
      && out(1).getAs[Long]("n_hits") == 3L && !out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Long]("logit_micro") == 100000L
      && out(2).getAs[Long]("n_hits") == 0L)
  }

  test("kmeans train: clean clusters converge to exact quantized means; empty centroids drop") {
    // two tight clusters on axes + one centroid that attracts nothing
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.8f, 0.0f)),
      (12L, Array(0.0f, 1.0f)), (13L, Array(0.0f, 0.6f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(0.9f, 0.0f)), (1L, Array(0.0f, 0.9f)),
      (2L, Array(-1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansTrain(corpus, cents, rounds = 2)
      .orderBy("centroid_id", "pos").collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getAs[Int]("pos")) ->
        (r.getAs[Long]("mean_micro"), r.getAs[Long]("n_members"))).toMap
    // centroid 2 never wins a vector: absent from every round's output
    assert(!out.keys.exists(_._1 == 2L))
    // cluster 0 = {10, 11}: mean_milli x = (1000 + 800) / 2 -> micro 900000
    assert(out((0L, 1)) == (900000L, 2L) && out((0L, 2)) == (0L, 2L))
    // cluster 1 = {12, 13}: mean y = (1000 + 600) / 2 -> micro 800000
    assert(out((1L, 1)) == (0L, 2L) && out((1L, 2)) == (800000L, 2L))
    // stability: a third round changes nothing on converged clusters
    val out3 = Similarity.kmeansTrain(corpus, cents, rounds = 3)
      .orderBy("centroid_id", "pos").collect()
      .map(r => (r.getAs[Long]("centroid_id"), r.getAs[Int]("pos")) ->
        (r.getAs[Long]("mean_micro"), r.getAs[Long]("n_members"))).toMap
    assert(out3 == out)
  }

  test("doremi step: equal losses keep weights uniform; harder domains gain weight") {
    val uniform = Seq(("a", 100L, 500000L), ("b", 100L, 500000L))
      .toDF("domain", "loss_milli", "w_prev_micro")
    val u = Sampling.doremiStep(uniform, "domain", "loss_milli", "w_prev_micro")
      .select($"w_new_micro".as[Long]).collect()
    assert(u.toSet == Set(500000L)) // identical factors -> unchanged shares
    val skewed = Seq(("easy", 0L, 500000L), ("hard", 2000L, 500000L))
      .toDF("domain", "loss_milli", "w_prev_micro")
    val s2 = Sampling.doremiStep(skewed, "domain", "loss_milli", "w_prev_micro")
      .orderBy("domain").collect()
    val easy = s2(0).getAs[Long]("w_new_micro")
    val hard = s2(1).getAs[Long]("w_new_micro")
    assert(hard > easy && easy + hard <= 1000000L
      && easy + hard >= 999998L) // truncation loses < 1 micro per row
    // exp(0.5 * 2) = e; factor_milli = 2718
    assert(s2(1).getAs[Long]("factor_milli") == 2718L)
    // out-of-range loss raises the descriptive guard, not a wrong weight
    val bad = Seq(("x", 9999L, 500000L)).toDF("domain", "loss_milli", "w_prev_micro")
    val e = intercept[Exception] {
      Sampling.doremiStep(bad, "domain", "loss_milli", "w_prev_micro").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("doremiStep"))
  }

  test("bpe encode: merge chain consumes earlier products; greedy is leftmost non-overlapping") {
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))
    val fix = Seq((0L, "the then an in")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(fix, merges)
      .select($"token".as[String], $"n_occurrences".as[Long]).collect().toMap
    // "the"->the; "then"->the,n; "an"->an; "in"->in
    assert(out == Map("the" -> 2L, "n" -> 1L, "an" -> 1L, "in" -> 1L))
    // self-overlapping pair: "ttt" under ("t","t") keeps the LEFT merge
    val tt = TextAnalysis.bpeEncode(Seq((0L, "ttt")).toDF("doc_id", "text"),
        Seq(("t", "t")))
      .select($"token".as[String], $"n_occurrences".as[Long]).collect().toMap
    assert(tt == Map("tt" -> 1L, "t" -> 1L))
    // non-overlapping repeats all merge in one round
    val th = TextAnalysis.bpeEncode(Seq((0L, "ththth")).toDF("doc_id", "text"),
        Seq(("t", "h")))
      .select($"token".as[String], $"n_occurrences".as[Long]).collect().toMap
    assert(th == Map("th" -> 3L))
  }

  test("power iteration: recovers a dominant axis at full micro magnitude") {
    // cloud hugging +x: the top singular direction is ~(1, eps). After
    // renormalization the lead component must sit at exactly +-1e6 and the
    // cross component near zero.
    val cloud = Seq(
      (0L, Array(1.0f, 0.05f)), (1L, Array(0.9f, -0.04f)),
      (2L, Array(1.1f, 0.02f)), (3L, Array(0.95f, 0.01f)))
      .toDF("vec_id", "embedding")
    val v = Similarity.powerIteration(cloud, rounds = 2).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Long]("v_micro")).toMap
    assert(v(1) == 1000000L)
    assert(math.abs(v(2)) < 50000L)
  }

  test("standardize: hand-checked z-scores; zero-variance dim yields z=0") {
    // dim1: values 1.0 and 3.0 -> mean 2.0, sigma 1.0, z = -1, +1.
    // dim2: constant -> den 0 -> z 0, sigma 0.
    val df = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.standardize(df, probe = lit(true)).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("pos")) ->
        (r.getAs[Long]("z_micro"), r.getAs[Long]("mean_micro"),
          r.getAs[Long]("sigma_micro"))).toMap
    assert(out((0L, 1)) == ((-1000000L, 2000000L, 1000000L)))
    assert(out((1L, 1)) == ((1000000L, 2000000L, 1000000L)))
    assert(out((0L, 2)) == ((0L, 2000000L, 0L)))
  }

  test("k-center greedy: picks the farthest point each round, min-id ties") {
    // line of points at x = 0, 1, 10: seed = id 0 (min id), round 2 takes
    // x=10 (farthest), round 3 takes x=1 (dmin 1e6 vs the two ends).
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(10.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kcenterGreedy(pts, k = 3).collect()
      .map(r => r.getAs[Long]("round") ->
        (r.getAs[Long]("vec_id"), r.getAs[Long]("d2_at_pick"))).toMap
    assert(out(1L) == ((0L, 0L)))
    assert(out(2L) == ((2L, 100000000L)))  // (10*1000)^2
    assert(out(3L) == ((1L, 1000000L)))    // min(1, 81)e6 squared-milli
  }

  test("lexical diversity: hand-counted TTR and hapax share") {
    // "a a b c": 4 tokens, 3 types, 2 hapax -> ttr 750, hapax 666.
    val out = TextAnalysis.lexicalDiversity(
      Seq((0L, "a a b c")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(out.getAs[Long]("n_tokens") == 4L)
    assert(out.getAs[Long]("n_types") == 3L)
    assert(out.getAs[Long]("n_hapax") == 2L)
    assert(out.getAs[Long]("ttr_milli") == 750L)
    assert(out.getAs[Long]("hapax_milli") == 666L)
  }

  test("aHash: brightness-shift invariant, distinct content separates") {
    // uniform +20 brightness shifts every gray AND the window mean by
    // exactly 20 (integer math), so the thresholded bits cannot move.
    def img(shift: Int) = Multimodal.encodeBmp(8, 6, (x, y) =>
      (x * 11 % 180 + shift, y * 17 % 180 + shift, (x + y) * 7 % 180 + shift))
    val media = Seq(
      Multimodal.MediaRecord(0L, img(0), "image/bmp"),
      Multimodal.MediaRecord(1L, img(20), "image/bmp"),
      Multimodal.MediaRecord(2L, Multimodal.encodeBmp(8, 6,
        (x, y) => (y * 31 % 200, x * 29 % 200, 128)), "image/bmp"),
      Multimodal.MediaRecord(3L, Array[Byte](1, 2, 3), "image/bmp"), // junk
      Multimodal.MediaRecord(4L, Multimodal.encodeBmp(4, 4,
        (_, _) => (1, 2, 3)), "image/bmp")) // smaller than the window
      .toDS()
    val out = Multimodal.aHash(media).collect()
      .map(h => h.media_id -> h.ahash).toMap
    assert(out.keySet == Set(0L, 1L, 2L)) // junk + undersized dropped
    assert(out(0L) == out(1L), "uniform brightness shift must not move bits")
    assert(out(0L) != out(2L), "different content must separate")
  }

  test("aHash is format-independent: BMP (bottom-up) and PPM (top-down) agree") {
    def px(x: Int, y: Int) = (x * 13 % 220, y * 19 % 220, (x * y + 5) % 220)
    val media = Seq(
      Multimodal.MediaRecord(0L, Multimodal.encodeBmp(9, 7, px), "image/bmp"),
      Multimodal.MediaRecord(1L, Multimodal.encodePpm(9, 7, px), "image/x-ppm"))
      .toDS()
    val out = Multimodal.aHash(media).collect()
      .map(h => h.media_id -> h.ahash).toMap
    assert(out(0L) == out(1L),
      "same pixels through both codecs must fingerprint identically")
  }

  test("systematic PPS: heavy rows pick multiple times, light rows skip, total = W div step") {
    // weights 1,1,1,1,6: W=10, k=2 -> step=5; only the heavy row's
    // interval (4,10] covers the step points 5 and 10 -> 2 picks.
    val df = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 6L))
      .toDF("doc_id", "w")
    val out = Sampling.ppsSystematic(df, "doc_id", "w", k = 2).collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_picks")))
      .toSeq == Seq((5L, 2L)))
    // uniform weights: exactly k evenly spaced picks, one each
    val uni = (1L to 100L).map(i => (i, 7L)).toDF("doc_id", "w")
    val picks = Sampling.ppsSystematic(uni, "doc_id", "w", k = 10).collect()
    assert(picks.length == 10 && picks.forall(_.getAs[Long]("n_picks") == 1L))
    // prefix sum underneath is exact: cum of the last pick = 700
    // (cum_w rides DECIMAL(38,0) — the long cast would wrap at 100 TB)
    assert(picks.map(_.getAs[java.math.BigDecimal]("cum_w").longValueExact()).max == 700L)
  }

  test("Kneser-Ney bigram scoring: hand-computed discounted probabilities") {
    // corpus "a b a b": c(a,b)=2, c(b,a)=1; every context/continuation
    // count is 1; NBT=2. With d=3/4:
    //   P(b|a) = (max(2-.75,0) + .75*1*(1/2)) / 2 = 13/16
    //   P(a|b) = (max(1-.75,0) + .75*1*(1/2)) / 1 = 5/8
    // doc logprob = 2*round(ln(13/16)*1e6) + round(ln(5/8)*1e6)
    val out = TextAnalysis.knBigramLogProbScores(
      Seq((0L, "a b a b")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(out.getAs[Long]("n_bigrams") == 3L)
    assert(out.getAs[Long]("kn_logprob") == 2L * -207639L + -470004L)
    assert(out.getAs[Long]("avg_kn_micro") == -295094L)
  }

  test("zipf fit: an exact power-law corpus fits slope -1") {
    // frequencies 12/rank: "a" x12, "b" x6, "c" x4, "d" x3.
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val r = TextAnalysis.zipfFit(Seq((0L, text)).toDF("doc_id", "text"),
      topN = 4).collect().head
    assert(r.getAs[Long]("n_points") == 4L)
    val slope = r.getAs[Long]("slope_micro")
    assert(slope > -1000010L && slope < -999990L, s"slope_micro=$slope")
    val icept = r.getAs[Long]("intercept_micro")
    // intercept = ln 12 ~ 2.4849
    assert(math.abs(icept - 2484906L) < 10L, s"intercept_micro=$icept")
  }

  test("logistic training: separable fixture learns the separating direction; deterministic") {
    import graft.llm.Classifier
    // 4 positive docs say "good", 4 negative say "bad" — linearly
    // separable in the hashed feature space (distinct md5 buckets)
    val docs = ((1L to 4L).map(i => (i, "good solid fine prose", 1L)) ++
      (5L to 8L).map(i => (i, "bad junk spam noise", 0L)))
      .toDF("doc_id", "text", "y")
    val feats = TextAnalysis.featureHash(docs, "doc_id", "text",
      numFeatures = 64)
    val w = Classifier.logisticTrain(feats,
      docs.select($"doc_id", $"y"), rounds = 3, lrMilli = 800L,
      xCol = "weight")
    val scored = Classifier.logisticScore(feats, w, xCol = "weight")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("margin_micro"), r.getAs[Long]("p_micro"))).toMap
    // every positive doc must outrank every negative doc after training
    val posMin = (1L to 4L).map(scored(_)._1).min
    val negMax = (5L to 8L).map(scored(_)._1).max
    assert(posMin > negMax, s"posMin=$posMin negMax=$negMax")
    // probabilities split around 1/2 the same way
    assert((1L to 4L).forall(scored(_)._2 > 500000L))
    assert((5L to 8L).forall(scored(_)._2 < 500000L))
    // determinism: retraining is bit-identical (fixed rounds, integer
    // margins/gradients, no float summation order anywhere)
    val w2 = Classifier.logisticTrain(feats,
      docs.select($"doc_id", $"y"), rounds = 3, lrMilli = 800L,
      xCol = "weight")
    assert(w.orderBy("feature_idx").collect().toSeq ==
      w2.orderBy("feature_idx").collect().toSeq)
  }
}

package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin
import graft.functions.ColumnFns._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-ratio heuristic), quality scoring, token counting, and document
  * fingerprinting. Pure column expressions — codegen'd, linear scans, no
  * shuffle except final aggregations.
  */
object TextAnalysis {

  /** English function words used by the stopword-ratio heuristic. */
  val EnglishStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Count of tokens that are in `stopwords`. */
  def stopwordHits(toks: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val isStop = (t: Column) =>
      stopwords.map(s => t === s).reduce(_ || _)
    size(filter(toks, isStop))
  }

  /** Language-ID heuristic: ratio of English function words among tokens;
    * >= `threshold` classifies as "en". (A real model would use character
    * n-gram profiles; the *shape* — per-doc bounded compute, one scan — is
    * identical.) */
  def languageId(toks: Column, threshold: Double = 0.05): Column = {
    val ratio = stopwordHits(toks).cast("double") / size(toks).cast("double")
    when(ratio >= threshold, lit("en")).otherwise(lit("other"))
  }

  /** Quality metrics per document: lengths, token stats, punctuation and
    * stopword ratios. All single-pass; ratios are one double division each
    * (deterministic). */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nChars = length(col(textCol))
    val nTokens = size(toks)
    val nPunct = length(regexp_replace(col(textCol), "[a-z0-9 ]", ""))
    df.select(
      col(idCol),
      nChars.as("n_chars_c"),
      nTokens.as("n_tokens"),
      nPunct.as("n_punct"),
      (nChars.cast("long") * lit(1000000L))
        .as("__cpm"), (stopwordHits(toks).cast("long") * lit(1000000L)).as("__spm"))
      .withColumn("chars_per_token_micro", expr("__cpm div n_tokens"))
      .withColumn("stopword_ratio_micro", expr("__spm div n_tokens"))
      .drop("__cpm", "__spm")
  }

  /** Model-based quality scoring (the fastText-classifier shape, Joulin
    * et al. 2016): a linear bag-of-words — per-doc logit = bias + the
    * MEAN of the tokens' learned weights — with the trained weights as a
    * (token, w_micro) table. This is the "quality classifier" stage of
    * CCNet/GPT-3-style corpus filtering; the toy weight tables in tests
    * stand in for a trained model, the PLAN is the production one.
    *
    * Integer end to end: weights are micro-units, the mean is
    * `sum(w_micro) div n_tokens` with an explicit sign split — the
    * weight sum CAN be negative, and integer division on negatives is
    * where trunc-vs-floor engine conventions diverge (the DSIR op was
    * bitten by exactly this; see [[graft.llm.Sampling.importanceWeights]]),
    * so both operands are made non-negative before dividing. The label
    * is a sign test. Bit-deterministic.
    *
    * Scale shape: one corpus scan (explode) + a BROADCAST left join on
    * the weight table (a trained vocabulary is ~1M rows × 16 bytes —
    * megabytes) + one per-doc aggregate, map-side combined. Unknown
    * tokens contribute 0, exactly fastText's OOV handling with no
    * hash-bucket collisions. At vocabularies too big to broadcast, drop
    * the `broadcast` hint and the same plan shuffle-joins on the token —
    * still one pass. */
  def linearQualityScore(df: DataFrame, weights: DataFrame,
                         idCol: String, textCol: String,
                         biasMicro: Long = 0L): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .join(broadcast(weights.select(col("token"), col("w_micro"))),
        Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("w_micro")).as("n_hits"),
        coalesce(sum(col("w_micro")), lit(0L)).as("__sw"))
      .select(col(idCol), col("n_tokens"), col("n_hits"),
        (lit(biasMicro) + expr("CASE WHEN __sw < 0 THEN -((-__sw) div n_tokens)" +
          " ELSE __sw div n_tokens END")).as("logit_micro"))
      .withColumn("keep", col("logit_micro") >= 0)

  /** Token count, whitespace and BPE-ish: words, digit runs, and single
    * non-alphanumeric symbols — the pre-tokenization regex family used by
    * BPE tokenizers. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(tokens(col(textCol))).as("ws_tokens"),
      size(expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .as("bpe_tokens"))

  /** Corpus n-gram statistics: top-`k` word n-grams per group (e.g. per
    * language) — explode + two-level aggregation + ranking window, the
    * standard corpus-profiling shape. */
  def topNgrams(df: DataFrame, groupCol: String, textCol: String,
                n: Int = 3, k: Int = 5, salts: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokenize behind a projection boundary: inside the shingle HOF the
    // lambda then slices an array *attribute*. Inlining `split` instead
    // re-runs the regex once per shingle element (quadratic per doc).
    val counts = df
      .select(col(groupCol), tokens(col(textCol)).as("__toks"))
      .select(col(groupCol), explode(shingles(col("__toks"), n)).as("ngram"))
      .groupBy(col(groupCol), col("ngram"))
      .agg(count(lit(1)).as("n"))
    // Two-phase top-k: the (group, ngram) count table is aggregate-sized
    // but still has millions of ngrams PER GROUP at corpus scale, and
    // groups are low-cardinality (languages/domains) — ranking it with a
    // group-partitioned window would sort each group's ngrams in ONE
    // task. Instead: a salt-local top-k first (window keyed on
    // (group, salt) — `salts`·|groups| balanced partitions; the global
    // top-k is a subset of the union of salt-local top-ks because each
    // ngram lives in exactly one salt), then the EXACT top-k over the
    // ≤ |groups|·salts·k candidates — dimension-sized by construction.
    val salted = counts.withColumn("__salt",
      pmod(graft.functions.ColumnFns.md5Long(col("ngram")), lit(salts.toLong)))
    val localTop = salted.withColumn("__lr", row_number().over(
        Window.partitionBy(col(groupCol), col("__salt"))
          .orderBy(col("n").desc, col("ngram"))))
      .filter(col("__lr") <= k)
    val w = Window.partitionBy(col(groupCol)).orderBy(col("n").desc, col("ngram"))
    localTop.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("rnk"), col("ngram"), col("n"))
  }

  /** Text normalization for training-data cleaning: lowercase, strip
    * non-alphanumerics to spaces, collapse runs of whitespace, trim. Pure
    * codegen'd regexes — one linear scan per document. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Pattern scrub (the PII-redaction shape): for each (label, pattern,
    * replacement) rule, count the matches and replace them, rules applied
    * in order (later rules see earlier rules' replacements). Every rule is
    * one codegen'd linear regex scan per document — no UDF, no shuffle —
    * so the operator composes with any partitioning at corpus scale.
    * Output: idCol, one `n_<label>` count per rule, and the fully
    * redacted text. */
  def redact(df: DataFrame, idCol: String, textCol: String,
             rules: Seq[(String, String, String)]): DataFrame = {
    require(rules.nonEmpty, "redact needs at least one rule")
    rules.foldLeft(df.select(col(idCol), col(textCol).as("redacted"))) {
      case (acc, (label, pattern, replacement)) =>
        acc
          .withColumn(s"n_$label",
            size(regexp_extract_all(col("redacted"), lit(pattern), lit(0))))
          .withColumn("redacted",
            regexp_replace(col("redacted"), pattern, replacement))
    }
  }

  /** Overlapping token-window chunking (the RAG / context-window chunker):
    * windows of `chunkSize` tokens every `stride` tokens (stride < size =>
    * overlap); the last window may be short; a document shorter than one
    * window yields exactly one chunk. The chunk count is all-integer
    * (`ceil` via `(n - size + stride - 1) div stride`), so placements are
    * engine-exact. Column-only fan-out: tokens materialize once behind a
    * projection, each chunk is a slice of that attribute — no join, no
    * shuffle, output cardinality ~ n_tokens/stride per document. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got stride=$stride chunkSize=$chunkSize")
    val nChunks = when(col("__n") <= chunkSize, lit(1L))
      .otherwise(expr(s"(__n - $chunkSize + $stride - 1) div $stride") + 1L)
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)).as("__ct"))
      .select(col(idCol), col("chunk_id"), size(col("__ct")).as("n_tokens"),
        array_join(col("__ct"), " ").as("chunk_text"))
  }

  /** TF-IDF over a document corpus: term frequency per (doc, term), document
    * frequency per term, idf = ln(nDocs / df). Shapes for scale:
    * explode -> two hash aggregations (map-side partial combine on both),
    * a shuffle join on `term` (bounded by vocabulary size, not corpus size),
    * and the corpus size lands via a broadcast of a 1-row frame — no
    * driver-side `count()` in the operator.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val termRows = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(col("__toks")).as("term"))
    val tf = termRows.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // tf has one row per (doc, term) already => count(*) is the doc frequency
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_count"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__n_docs"))
    tf.join(dfreq, "term")
      .join(broadcast(nDocs))
      .select(col(idCol), col("term"), col("tf"), col("df_count"),
        round(col("tf") * log(col("__n_docs").cast("double") / col("df_count").cast("double"))
          * lit(1e6)).cast("long").as("tfidf_micro"))
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009): map
    * tokens into a FIXED d-dimensional sparse feature space with a hash —
    * no vocabulary table, no fitting pass, no drift between train and
    * serve. The signed variant: each term also draws a ±1 sign from an
    * independent hash, so colliding terms cancel in expectation instead
    * of piling up (the unbiasedness fix from the paper). Output is the
    * sparse triplet form (id, feature_idx, weight) with exact zero
    * cancellations dropped.
    *
    * Scale shape: one explode + one (id, feature) map-side-combined
    * aggregate — no joins, no vocabulary shuffle, output bounded by
    * min(d, tokens) per document. The cross-engine md5 hash keeps every
    * bucket and sign oracle-reproducible. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  numFeatures: Int = 1024): DataFrame = {
    require(numFeatures >= 2, s"numFeatures must be >= 2, got $numFeatures")
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .select(col(idCol),
        pmod(md5Long(col("term")), lit(numFeatures.toLong)).as("feature_idx"),
        when(pmod(md5Long(concat(lit("sign|"), col("term"))), lit(2L)) === 1L,
          lit(1L)).otherwise(lit(-1L)).as("__sgn"))
      .groupBy(col(idCol), col("feature_idx"))
      .agg(sum(col("__sgn")).as("weight"))
      .filter(col("weight") =!= 0L)
  }

  /** Pointwise mutual information over co-occurring token pairs (Church &
    * Hanks 1990) — the collocation statistic behind phrase mining,
    * tokenizer-merge candidates, and word-association audits:
    * `pmi(a,b) = ln(p(a,b) / (p(a)·p(b)))`, estimated from all ordered
    * token pairs within `window` positions, canonicalized to unordered
    * (least, greatest) pairs.
    *
    * Scale shape: NO self-join — the pair stream is `window` lead()
    * columns over one (doc, position) partition sort (the exchange that
    * would be needed anyway; same pattern as the trigram path census),
    * then two map-side-combined aggregates (pair counts, unigram counts)
    * and vocabulary-sized joins. Corpus totals ride a 1-row broadcast.
    *
    * Determinism: pmi is quantized ONCE PER PAIR TYPE from exact integer
    * counts — `round(ln(c_ab·T·T / (P·c_a·c_b))·1e6)` with each side
    * assembled as (exact two-factor DECIMAL(38,0) product → double) ×
    * (double third factor) before ONE double division — so engines agree
    * bit-for-bit (same per-type-ln discipline as the bigram LM), and the
    * three-factor product NEVER exceeds decimal precision: two counts
    * bounded by a 1e13-token corpus multiply to ~1e26 « 1e38, where the
    * naive c_ab·T² at that scale silently NULLs past 38 digits.
    * Pairs below `minCount` are dropped (PMI's small-count bias). */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               window: Int = 2, minCount: Int = 5): DataFrame = {
    require(window >= 1 && minCount >= 1,
      s"need window >= 1, minCount >= 1; got $window/$minCount")
    val toks = df
      .select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val withLeads = toks.select(col(idCol) +: col("term") +:
      (1 to window).map(kk => lead(col("term"), kk).over(byPos).as(s"__l$kk")): _*)
    val pairs = (1 to window).map { kk =>
      withLeads.filter(col(s"__l$kk").isNotNull)
        .select(least(col("term"), col(s"__l$kk")).as("t1"),
          greatest(col("term"), col(s"__l$kk")).as("t2"))
    }.reduce(_ unionByName _)
    val pairCounts = pairs.groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("c_ab"))
    val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("c_t"))
    val totals = pairCounts.agg(sum(col("c_ab")).as("__p"))
      .crossJoin(uni.agg(sum(col("c_t")).as("__t")))
    pairCounts
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("term").as("t1"), col("c_t").as("c_a")), "t1")
      .join(uni.select(col("term").as("t2"), col("c_t").as("c_b")), "t2")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micro",
        round(log(
          (expr("cast(c_ab as decimal(38,0)) * __t").cast("double")
            * col("__t").cast("double"))
          / (expr("cast(__p as decimal(38,0)) * c_a").cast("double")
            * col("c_b").cast("double")))
          * 1e6).cast("long"))
      .select(col("t1"), col("t2"), col("c_ab"), col("c_a"), col("c_b"),
        col("pmi_micro"))
  }

  /** BM25 lexical retrieval (Robertson–Spärck Jones): score a small query
    * set against the corpus through an inverted index — the sparse twin of
    * the dense ANN family, and the retrieval primitive RAG stacks put in
    * front of a reranker. `score(q,d) = Σ_t idf(t)·tf·(k1+1)/(tf+k1·K)`
    * with `K = 1−b+b·dl/avgdl`, over the DISTINCT terms of the query.
    *
    * Integer-exact scoring so two engines agree bit-for-bit: idf is
    * quantized ONCE PER TERM to micro-nats (`round(ln(1+(N−df+0.5)/
    * (df+0.5))·1e6)` — the same per-type-ln discipline as
    * [[unigramLogProbScores]]); the saturation fraction rides milli-scaled
    * integer arithmetic (`k1Centi`/`bMilli` defaults = the standard
    * k1=1.2, b=0.75) with truncating `div` at each quantization point.
    *
    * Scale shape: the corpus explodes ONCE into the (doc, term, tf)
    * posting table (map-side combined); the query terms prune it by an
    * equi-join on `term` (query side broadcast — postings of NON-query
    * terms never shuffle); per-(query, doc) scores are one map-side
    * combined aggregate; the final top-k window partitions by query. The
    * df/avgdl statistics land via vocabulary-sized joins and a 1-row
    * broadcast — no driver-side collects. */
  def bm25Search(corpus: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "doc_id", textCol: String = "text",
                 qidCol: String = "query_id", qtextCol: String = "query_text",
                 k1Centi: Int = 120, bMilli: Int = 750): DataFrame = {
    require(k >= 1 && k1Centi >= 0 && bMilli >= 0 && bMilli <= 1000,
      s"need k >= 1, k1Centi >= 0, bMilli in [0,1000]; got $k/$k1Centi/$bMilli")
    val toks = corpus
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_count"))
    // N and avgdl over docs with >= 1 token (empty docs score nothing and
    // would only skew avgdl downward)
    val stats = dl
      .agg(count(lit(1)).as("__n_docs"), sum(col("dl")).as("__total"))
      .select(col("__n_docs"),
        expr("__total * 1000 div __n_docs").as("__avgdl_milli"))
    val qterms = queries
      .select(col(qidCol), explode(array_distinct(tokens(col(qtextCol)))).as("term"))
      .filter(col("term") =!= "")
    val idf = dfreq.join(broadcast(stats))
      .select(col("term"),
        round(log(lit(1.0)
          + (col("__n_docs") - col("df_count") + 0.5) / (col("df_count") + 0.5))
          * 1e6).cast("long").as("idf_micro"),
        col("__avgdl_milli"))
    val scoredTerms = tf
      .join(broadcast(qterms), Seq("term")) // inverted-index pruning
      .join(idf, Seq("term"))
      .join(dl, idCol)
      .withColumn("__k_milli", expr(
        s"(1000 - $bMilli) + ($bMilli * dl * 1000) div __avgdl_milli"))
      .withColumn("__denom_milli", expr(
        s"tf * 1000 + ($k1Centi * 10 * __k_milli) div 1000"))
      .withColumn("__s_micro", expr(
        s"idf_micro * tf * ((100 + $k1Centi) * 10) div __denom_milli"))
    val scores = scoredTerms
      .groupBy(col(qidCol), col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("__s_micro")).as("score_micro"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score_micro").desc, col(idCol))
    scores.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(qidCol), col(idCol), col("n_hit_terms"), col("score_micro"),
        col("rnk"))
  }

  /** Unigram log-probability scoring — the classic "perplexity proxy"
    * quality filter: build corpus unigram stats, score each document by its
    * mean token log-probability. Two aggregations plus one join on `term`
    * (vocabulary-sized, not corpus-sized); the corpus total lands via a
    * 1-row broadcast. Determinism: ln(p) is quantized ONCE PER TERM to
    * integer micro-nats in the vocabulary table, and per-document
    * aggregation is integer addition — a double `avg` would depend on
    * partition reduction order. */
  def unigramLogProbScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(col("__toks")).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum(col("tf")).as("__total"))
    val vocab = counts.join(broadcast(total))
      .select(col("term"),
        round(log(col("tf").cast("double") / col("__total").cast("double")) * 1000000)
          .cast("long").as("__lp"))
    toks.join(vocab, "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lp")).as("logprob_u"))
      .select(col(idCol), col("n_tokens"), col("logprob_u"),
        round(col("logprob_u").cast("double") / col("n_tokens"))
          .cast("long").as("avg_logprob_micro"))
  }

  /** Interpolated bigram log-probability scoring — the next step up from
    * [[unigramLogProbScores]] on the perplexity-proxy ladder: a document of
    * common words in IMPROBABLE order (shuffled text, keyword stuffing,
    * tables read as prose) scores high on unigrams but low on bigrams.
    * Each adjacent token pair (w1, w2) is scored by the Jelinek-Mercer
    * interpolation
    *
    *   P(w2 | w1) = λ · c(w1,w2)/c(w1·) + (1−λ) · c(w2)/N
    *
    * with λ = lambdaMilli/1000 — the unigram backoff floors the estimate
    * for unseen-in-context pairs, so ln never sees a zero.
    *
    * Determinism: same discipline as the unigram scorer — ln is evaluated
    * ONCE PER BIGRAM TYPE in the (vocabulary-sized) model table and
    * quantized to integer micro-nats there; per-document aggregation is
    * then pure integer addition, immune to float reduction order.
    *
    * Scale shape: two model aggregates (bigram and unigram counts —
    * vocabulary-sized, map-side combined), one broadcast of the 1-row
    * corpus total, and one join of the token stream against the model on
    * the bigram key — the same join cardinality the corpus already has.
    * Returns (id, n_bigrams, logprob_bi, avg_logprob_bi); documents with
    * fewer than two tokens carry no bigrams and are absent (the caller
    * left-joins if it needs them as rows). */
  def bigramLogProbScores(df: DataFrame, idCol: String, textCol: String,
                          lambdaMilli: Int = 800): DataFrame = {
    require(lambdaMilli > 0 && lambdaMilli < 1000,
      s"lambdaMilli must be in (0, 1000), got $lambdaMilli")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val bigramsOf = expr(
      """transform(slice(__toks, 1, size(__toks) - 1), (w, i) ->
        |  named_struct('w1', w, 'w2', __toks[i + 1]))""".stripMargin)
    val big = toks
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(bigramsOf).as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val uni = toks.select(explode(col("__toks")).as("w2"))
      .groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val total = uni.agg(sum(col("c2")).as("__n"))
    val bigCounts = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctxCounts = bigCounts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // The ln argument is ONE double division of two EXACT integers —
    //   (λm·c12·N + (1000−λm)·c2·c1) / (1000·c1·N)
    // — algebraically the interpolation, but with no float constants whose
    // decimal-vs-binary typing differs across engines; long→double
    // conversion and a single divide are IEEE-defined everywhere. Products
    // stay in Long up to ~1e16 token corpora per λm=800 factor; past that
    // the model table (vocabulary-sized) moves the products to decimal.
    val model = bigCounts.join(ctxCounts, "w1").join(uni, "w2")
      .join(broadcast(total))
      .select(col("w1"), col("w2"),
        round(log(
          expr(s"cast($lambdaMilli * c12 * __n + ${1000 - lambdaMilli} * c2 * c1 as double)" +
            s" / cast(1000 * c1 * __n as double)"))
          * 1000000).cast("long").as("__lp"))
    big.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lp")).as("logprob_bi"))
      .select(col(idCol), col("n_bigrams"), col("logprob_bi"),
        round(col("logprob_bi").cast("double") / col("n_bigrams"))
          .cast("long").as("avg_logprob_bi_micro"))
  }

  /** Interpolated Kneser-Ney bigram log-probability scorer — the
    * industry-standard LM smoothing (absolute discount d = 3/4, with the
    * backoff weight going to the CONTINUATION probability: how many
    * distinct contexts a word follows, not how often it occurs — the fix
    * that stops "Francisco" looking probable everywhere because "San
    * Francisco" is frequent):
    *
    *   P(w2|w1) = (max(c12 − d, 0) + d·N1+(w1·)·Pcont(w2)) / c1
    *   Pcont(w2) = N1+(·w2) / |distinct bigram types|
    *
    * With d = 3/4 the ln argument is ONE double division of two EXACT
    * integers — num = max(4·c12 − 3, 0)·NBT + 3·N1+(w1·)·N1+(·w2),
    * den = 4·c1·NBT — the same no-float-constant discipline as
    * [[bigramLogProbScores]]; num ≥ NBT > 0 whenever the bigram was seen,
    * so ln never sees zero. Per-point micro-quantized before the per-doc
    * sum. Counts are vocabulary-sized aggregates off one bigram table;
    * products stay in Long up to ~1e15-bigram corpora (then the model
    * table moves to decimal). Returns (id, n_bigrams, kn_logprob,
    * avg_kn_micro). */
  def knBigramLogProbScores(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val bigramsOf = expr(
      """transform(slice(__toks, 1, size(__toks) - 1), (w, i) ->
        |  named_struct('w1', w, 'w2', __toks[i + 1]))""".stripMargin)
    val big = toks
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(bigramsOf).as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val bigCounts = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = bigCounts.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = bigCounts.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val nbt = bigCounts.agg(count(lit(1)).as("__nbt"))
    val model = bigCounts.join(ctx, "w1").join(cont, "w2")
      .join(broadcast(nbt))
      .select(col("w1"), col("w2"),
        round(log(expr(
          "cast(greatest(4 * c12 - 3, 0) * __nbt + 3 * n1f * n1r as double)" +
            " / cast(4 * c1 * __nbt as double)")) * 1000000).cast("long")
          .as("__lp"))
    big.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lp")).as("kn_logprob"))
      .withColumn("avg_kn_micro", expr(
        """CASE WHEN kn_logprob < 0 THEN -((-kn_logprob) div n_bigrams)
          |ELSE kn_logprob div n_bigrams END""".stripMargin))
  }

  /** Global-percentile quality gate: keep documents whose integer quality
    * score (stopword hits per 1000 tokens — the Gopher-style "natural
    * language" signal) clears the EXACT corpus-wide `pct` percentile.
    * The threshold a fixed cutoff can't give you: "keep the best half"
    * regardless of corpus drift.
    *
    * Scale shape: scores are one scan of pure column expressions; the
    * exact percentile is ONE distributed aggregate whose result rides a
    * 1-row broadcast back onto the corpus (`crossJoin(broadcast(...))`) —
    * no driver collect, no second scoring pass, no sort of the corpus.
    * Scores are integer milli-units (non-negative truncating division =
    * floor in every engine), so the gate is bit-deterministic.
    */
  def globalQualityGate(df: DataFrame, idCol: String, textCol: String,
                        pct: Double = 0.5): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0, 1), got $pct")
    val toks = tokens(col(textCol))
    // pinned: the tokenizer runs ONCE — the threshold pass and the gate
    // pass both read the fixed-width per-doc scores from the checkpoint
    val m = Pin(df.select(col(idCol),
        stopwordHits(toks).cast("long").as("__swh"), size(toks).as("n_tokens"))
      .withColumn("swr_milli", expr("(__swh * 1000) div n_tokens")))
    // r15: distributed rank selection (bit-identical to the `percentile`
    // aggregate, whose merge buffer holds every corpus score in one task)
    val thr = graft.operators.GlobalRank.exactPercentile(m, Seq.empty,
      "swr_milli", Seq(col(idCol)), pct, "__p")
    m.crossJoin(broadcast(thr))
      .filter(col("swr_milli") >= col("__p"))
      .select(col(idCol), col("n_tokens"), col("swr_milli"))
  }

  /** Document fingerprint: order-sensitive rolling hash over tokens
    * ([[graft.functions.ColumnFns.rollingFingerprint]]) — equal texts get equal
    * fingerprints, any reordering/edit changes it. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      rollingFingerprint(tokens(col(textCol))).as("fingerprint"))

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * algorithm): hash every `shingleLen`-token gram (the 30-bit md5 base
    * the MinHash family shares), slide a `window`-hash window, select
    * each window's MINIMUM hash — rightmost position on ties — and
    * dedupe the selections. The local-fingerprinting guarantee: any
    * shared token run of length ≥ window + shingleLen − 1 contributes at
    * least one SHARED fingerprint, and nothing shorter than shingleLen
    * is ever matched — the contract partial-overlap detection needs
    * (license boilerplate, quoted spans, plagiarism) at a stored density
    * of ~2/(window+1) of the gram count.
    *
    * Plan shape: the tie rule is encoded ARITHMETICALLY — key =
    * hash·2^20 + (2^20−1−pos) makes one numeric `min` over a row frame
    * pick (min hash, max pos) — so selection is a codegen'd window
    * primitive, never a UDF. Documents partition the window: bounded
    * groups, one exchange, no one-task sort. Token position must fit
    * 2^20 (million-token docs; widen the shift above that). Documents
    * with fewer than `window` grams yield no fingerprints (the spec
    * algorithm; they are shorter than the detectable-run floor anyway).
    * Output: one row per selected (id, fp_hash, fp_pos). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, window: Int = 4): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val P = 1L << 20
    val grams = docs.select(col(idCol),
        posexplode(shingles(tokens(col(textCol)), shingleLen)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"),
        (Dedup.minhashBase(col("gram")) * P +
          (lit(P - 1) - col("pos"))).as("__key"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    grams
      .withColumn("__sel", min(col("__key")).over(byDoc.rowsBetween(0, window - 1)))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .filter(col("pos") <= col("__n") - window) // full windows only
      .select(col(idCol), col("__sel")).distinct()
      .select(col(idCol),
        expr(s"__sel div ${P}L").as("fp_hash"),
        (lit(P - 1) - pmod(col("__sel"), lit(P))).as("fp_pos"))
  }

  /** Partial-overlap candidate pairs from winnowing fingerprints — the
    * corpus-scale MOSS join. Flood-safe by the two standard guards:
    * byte-identical texts collapse to one min-id representative BEFORE
    * fingerprinting (identical texts share every fingerprint — pairing
    * them is answer-sized information the caller already has from
    * [[Dedup.exact]]), and fingerprints appearing in more than `maxDf`
    * representatives are dropped (MOSS's boilerplate rule: a gram every
    * document contains identifies nothing and would alone pay df²
    * pairs). Remaining posting lists pair within fingerprint, and a
    * pair qualifies at `n_shared ≥ minShared` distinct shared hashes.
    * One exchange on the fingerprint, pair fan-out bounded by maxDf per
    * posting, aggregate on the (id_a, id_b) pair — never |docs|². */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int = 3, window: Int = 4,
                         minShared: Int = 2, maxDf: Int = 50): DataFrame = {
    val reps = docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(textCol))
    val posts = winnowFingerprints(reps, idCol, textCol, shingleLen, window)
      .select(col(idCol), col("fp_hash")).distinct()
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp_hash"))
    val kept = posts.withColumn("__df", count(lit(1)).over(byFp))
      .filter(col("__df") <= maxDf)
      .select(col(idCol), col("fp_hash"))
    kept.select(col("fp_hash"), col(idCol).as("id_a"))
      .join(kept.select(col("fp_hash"), col(idCol).as("id_b")), "fp_hash")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One BPE merge-selection step (Sennrich et al. 2016) as a relational
    * program: the top-k adjacent character pairs by corpus frequency —
    * the statistic the tokenizer-training inner loop maximizes. The
    * standard scale trick makes it corpus-size-independent past the first
    * aggregate: pair counting runs over the DISTINCT-word frequency table
    * (|vocab| rows, not |corpus| tokens), with each word's pairs weighted
    * by its corpus count. Plan: one explode + word-frequency aggregate
    * (map-side combined, the only corpus-sized pass), one bounded
    * per-word pair fan-out (word length - 1 pairs), one aggregate over
    * the pair vocabulary, one top-k. Ties break on the pair string, so
    * the selection is deterministic across engines. */
  def bpePairCounts(df: DataFrame, textCol: String = "text",
                    topK: Int = 25): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    df.select(explode(tokens(col(textCol))).as("__w"))
      // single-char words have no pairs; the filter also guards Spark's
      // sequence(1, 0), which would DESCEND instead of being empty
      .filter(length(col("__w")) >= 2)
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .select(col("__n"), explode(expr(
        "transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("__n")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topK)
  }

  /** One full BPE training step (Sennrich et al. 2016): count adjacent
    * pairs over the distinct-word frequency table, elect the most frequent
    * pair (ties to the smaller pair string), and apply it GREEDILY
    * LEFTMOST NON-OVERLAPPING to every word — the exact merge the
    * tokenizer-training loop would record, with per-word merge accounting.
    * [[bpePairCounts]] is the counting half; this adds the election and
    * the apply, so one call = one iteration of the train loop.
    *
    * The greedy-apply is relational, not a per-row scan loop: occurrence
    * positions of the elected pair form runs of CONSECUTIVE indices only
    * when the pair overlaps itself ("aa" in "aaaa"); leftmost-greedy
    * keeps ceil(run/2) merges per run (classic gaps-and-islands: island =
    * pos − row_number(), one window over the vocabulary-sized occurrence
    * table, then integer (run+1) div 2). Corpus size stops mattering
    * after the first aggregate — everything downstream is |vocab| rows.
    *
    * Returns one row per word CONTAINING the elected pair: (word, freq,
    * pair, n_occurrences, n_chars, n_merges, n_symbols_after) — enough to
    * replay the merge's effect on the corpus (Σ freq·n_merges symbols
    * saved) and feed the next iteration. */
  def bpeTrainStep(df: DataFrame, textCol: String = "text"): DataFrame = {
    val words = Pin(df.select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
      .groupBy(col("__w")).agg(count(lit(1)).as("freq"))) // reused: pair election + greedy apply
    val top = words
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair")).limit(1)
    val occ = words.crossJoin(broadcast(top))
      .select(col("__w"), col("freq"), col("pair"), col("n_occurrences"),
        explode(expr(
          "filter(sequence(1, length(__w) - 1), i -> substring(__w, i, 2) = pair)"))
          .as("pos"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__w")).orderBy(col("pos"))
    occ
      .withColumn("grp", col("pos") - row_number().over(wnd))
      .groupBy(col("__w"), col("freq"), col("pair"), col("n_occurrences"),
        col("grp"))
      .agg(count(lit(1)).as("__run"))
      .groupBy(col("__w"), col("freq"), col("pair"), col("n_occurrences"))
      .agg(sum(expr("(__run + 1) div 2")).as("n_merges"))
      .select(col("__w").as("word"), col("freq"), col("pair"),
        col("n_occurrences"),
        length(col("__w")).cast("long").as("n_chars"), col("n_merges"),
        (length(col("__w")).cast("long") - col("n_merges"))
          .as("n_symbols_after"))
  }

  /** The full fixed-round BPE TRAINING LOOP (Sennrich et al. 2016):
    * `rounds` iterations of elect-most-frequent-pair → greedy leftmost
    * non-overlapping merge across the whole vocabulary, carrying the
    * merged SYMBOL sequences (not raw strings) between rounds — so round
    * 2 counts pairs of round-1 merge products, exactly like the real
    * tokenizer trainer. [[bpeTrainStep]] is one such round with per-word
    * accounting; this returns the MERGE TABLE the trainer exists to
    * produce: one row per round with the elected pair and its corpus
    * effect.
    *
    * State between rounds is the symbol-row table (word, freq, position,
    * symbol) — |vocab|·avg-word-length rows, corpus-size-independent
    * after the first aggregate. Each round: one lead() window (adjacent
    * pairs), one bounded aggregate + top-1 election, the gaps-and-islands
    * greedy (two windows over occurrence rows only), and a rebuild via
    * two (word, position) equi-joins + a renumbering window. Every
    * shuffle keys on the word (high-cardinality, even spread); lineage
    * truncated per round; no driver state beyond the loop counter.
    *
    * The loop pins by hand, not through [[graft.Pin.rounds]], and frees
    * nothing: the returned frame is a lazy union of one row per round, and
    * each row reads that round's `kept` and `merged` pins, so every
    * round's pins stay live as long as the result does.
    *
    * Returns (round, pair, n_occurrences, n_words_affected,
    * n_merges_applied, n_symbols_after) — n_* weighted by corpus word
    * frequency. */
  def bpeTrainMerges(df: DataFrame, rounds: Int,
                     textCol: String = "text"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val W = org.apache.spark.sql.expressions.Window
    val wnd = W.partitionBy(col("word")).orderBy(col("i"))
    var syms = Pin(df.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as(Seq("__p0", "s")))
      .select(col("word"), col("freq"),
        (col("__p0") + 1).cast("long").as("i"), col("s")))

    var out: DataFrame = null
    var r = 1
    while (r <= rounds) {
      val withNext = syms.withColumn("nxt", lead(col("s"), 1).over(wnd))
      val pairs = withNext.filter(col("nxt").isNotNull)
        .withColumn("pair", concat(col("s"), col("nxt")))
      val top = pairs.groupBy(col("pair"))
        .agg(sum(col("freq")).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair")).limit(1)
      // greedy leftmost non-overlapping: occurrence starts overlap only at
      // consecutive positions (self-overlapping pairs), so within each
      // island of consecutive starts keep the odd-ranked ones
      val cand = pairs.join(broadcast(top.select(col("pair"))), Seq("pair"))
        .select(col("word"), col("freq"), col("i"))
      val kept = Pin(cand
        .withColumn("grp", col("i") - row_number().over(wnd))
        .withColumn("__rr",
          row_number().over(W.partitionBy(col("word"), col("grp")).orderBy(col("i"))))
        .filter(col("__rr") % 2 === 1)
        .select(col("word"), col("freq"), col("i")))
      val stats = kept.agg(
        coalesce(sum(col("freq")), lit(0L)).as("n_merges_applied"),
        countDistinct(col("word")).as("n_words_affected"))
      // rebuild: kept starts absorb their successor symbol; consumed
      // successors drop; positions renumber in original order
      val merged = Pin(withNext
        .join(kept.select(col("word"), col("i"), lit(1).as("__st")),
          Seq("word", "i"), "left")
        .join(kept.select(col("word"), (col("i") + 1).as("i"), lit(1).as("__cons")),
          Seq("word", "i"), "left")
        .filter(col("__cons").isNull)
        .select(col("word"), col("freq"), col("i").as("__oi"),
          when(col("__st").isNotNull, concat(col("s"), col("nxt")))
            .otherwise(col("s")).as("s"))
        .withColumn("i", row_number()
          .over(W.partitionBy(col("word")).orderBy(col("__oi"))).cast("long"))
        .select(col("word"), col("freq"), col("i"), col("s")))
      val after = merged.agg(
        coalesce(sum(col("freq")), lit(0L)).as("n_symbols_after"))
      val row = top.withColumn("round", lit(r))
        .crossJoin(stats).crossJoin(after)
        .select(col("round"), col("pair"), col("n_occurrences"),
          col("n_words_affected"), col("n_merges_applied"),
          col("n_symbols_after"))
      out = if (out == null) row else out.union(row)
      syms = merged
      r += 1
    }
    out
  }

  /** Per-item Bloom positions under Kirsch-Mitzenmacher double hashing
    * (pos_j = (h1 + j·h2) mod bits): two md5 digests per item regardless
    * of `numHashes`, both reduced mod `bits` BEFORE the affine combine so
    * every intermediate stays far below 2^63. Shared by build and probe —
    * the two sides MUST hash identically or membership is garbage. */
  private[graft] def bloomPositions(item: Column, bits: Int, numHashes: Int): Seq[Column] = {
    val h1 = pmod(md5Long(item), lit(bits.toLong))
    val h2 = pmod(md5LongSeeded(1, item), lit(bits.toLong))
    (0 until numHashes).map(j => pmod(h1 + lit(j.toLong) * h2, lit(bits.toLong)))
  }

  /** Build a Bloom filter over a DataFrame column, distributively: explode
    * each item into its `numHashes` bit positions, group by 64-bit word
    * index, OR the masks — a map-side-combined aggregate whose output is
    * AT MOST `bits`/64 rows no matter how many items went in. Only that
    * bounded word table is collected (the classic sketch contract: corpus
    * in, fixed-size summary out), so at 100 TB the build is one linear
    * scan + one tiny shuffle. Construction is bitwise-OR-commutative —
    * the result is independent of row order and partitioning.
    *
    * The returned array (`bits`/64 longs, e.g. 8 KiB at 2^19 bits) ships
    * to probes as a plan literal — the broadcast-a-summary pattern that
    * replaces shipping the raw membership set when THAT no longer fits. */
  def bloomBuild(items: DataFrame, itemCol: String, bits: Int = 1 << 19,
                 numHashes: Int = 4): Array[Long] = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64, got $bits")
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val pos = explode(array(bloomPositions(col(itemCol), bits, numHashes): _*))
    val words = items
      .select(pos.as("__p")) // positions are non-negative: shift/mask are exact
      .select(shiftright(col("__p"), 6).as("__w"),
        call_function("shiftleft", lit(1L),
          col("__p").bitwiseAND(lit(63L)).cast("int")).as("__m"))
      .groupBy(col("__w")).agg(bit_or(col("__m")).as("__bits"))
      .collect() // bounded: <= bits/64 rows by construction
    val filter = new Array[Long](bits / 64)
    words.foreach(r => filter(r.getLong(0).toInt) = r.getLong(1))
    filter
  }

  /** Membership probe against a [[bloomBuild]] filter: true if ALL
    * `numHashes` bit positions are set (no false negatives; false
    * positives at the classic (1−e^(−kn/m))^k rate). Pure column
    * arithmetic — the filter rides the plan as an array literal, the
    * probe is k shifts+ANDs per row inside codegen: no join, no shuffle,
    * no per-row driver involvement. */
  def bloomMightContain(filter: Array[Long], bits: Int, numHashes: Int,
                        item: Column): Column = {
    require(filter.length == bits / 64,
      s"filter has ${filter.length} words, expected ${bits / 64}")
    val words = typedLit(filter.toSeq)
    bloomPositions(item, bits, numHashes)
      .map { p =>
        val word = element_at(words, shiftright(p, 6).cast("int") + 1)
        call_function("shiftright", word, p.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }
      .reduce(_ && _)
  }

  /** Per-document token-distribution entropy (nats, micro-quantized):
    * H = Σ_t (c_t/n)·ln(n/c_t) over the document's token frequencies —
    * the Gopher-style gibberish signal a plain length/stopword filter
    * misses (a doc of one word repeated 500 times has H = 0; natural
    * prose sits near ln(n_types)). Also returns the type count, whose
    * ratio to n_tokens is the classic type-token diversity.
    *
    * Determinism discipline (same as [[bigramLogProbScores]]): the ln
    * argument is ONE double division of two exact integers (n/c_t — both
    * counts), its result is quantized to integer micro-nats per DISTINCT
    * (doc, token) row, and everything after — the c_t multiply, the sum,
    * the final truncating `div` by n (non-negative: n >= c_t so ln >= 0)
    * — is exact integer arithmetic. Bit-identical across engines.
    *
    * Scale shape: one explode + one (id, token) hash aggregate (map-side
    * combined, keys are high-cardinality), one per-doc total aggregate
    * joined back on the id (both sides already hash-partitioned on it),
    * one final per-doc aggregate. No window, no broadcast, no corpus
    * sort. */
  def tokenEntropyScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
    val n = tf.groupBy(col(idCol)).agg(sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("n_types"))
    tf.join(n, Seq(idCol))
      .select(col(idCol), col("n_tokens"), col("n_types"),
        (col("__c") * round(log(col("n_tokens").cast("double") / col("__c")
          .cast("double")) * lit(1e6)).cast("long")).as("__term"))
      .groupBy(col(idCol), col("n_tokens"), col("n_types"))
      .agg(expr("sum(__term) div n_tokens").as("entropy_micro"))
      .select(col(idCol), col("n_tokens"), col("n_types"), col("entropy_micro"))
  }

  /** Perplexity gate: keep documents whose mean bigram negative
    * log-likelihood under the corpus LM ([[bigramLogProbScores]]) clears
    * the EXACT corpus-wide `pct` percentile — the CCNet/KenLM-style
    * "drop the most surprising tail" filter, with the corpus itself as
    * the LM (self-perplexity), so no external model ships. nll is
    * per-bigram micro-nats: `(-logprob_bi) div n_bigrams` — the
    * numerator is non-negative (every bigram probability <= 1), so the
    * truncating `div` is floor in every engine and the gate is
    * bit-deterministic given the micro-quantized model.
    *
    * Scale shape: the LM build is [[bigramLogProbScores]]'s (vocabulary-
    * sized model, corpus-sized token join); the gate adds ONE bounded
    * percentile aggregate riding a 1-row broadcast back onto the scored
    * docs — no driver collect, no corpus sort (same discipline as
    * [[globalQualityGate]]). Keeps LOW-nll docs (fluent under the LM). */
  def perplexityGate(df: DataFrame, idCol: String, textCol: String,
                     lambdaMilli: Int = 800, pct: Double = 0.5): DataFrame = {
    require(pct > 0 && pct < 1, s"pct must be in (0, 1), got $pct")
    // pinned: the corpus-LM scoring pass runs ONCE — the threshold pass
    // and the gate pass both read the fixed-width per-doc scores from
    // the checkpoint
    val scored = Pin(bigramLogProbScores(df, idCol, textCol, lambdaMilli)
      .withColumn("nll_micro", expr("(-logprob_bi) div n_bigrams")))
    // r15: distributed rank selection (see [[globalQualityGate]])
    val thr = graft.operators.GlobalRank.exactPercentile(scored, Seq.empty,
      "nll_micro", Seq(col(idCol)), pct, "__p")
    scored.crossJoin(broadcast(thr))
      .filter(col("nll_micro") <= col("__p"))
      .select(col(idCol), col("n_bigrams"), col("nll_micro"))
  }

  /** BPE ENCODING with a fixed merge table (the inference half of the
    * tokenizer whose training half is [[bpeTrainMerges]]): apply each
    * (left, right) merge IN TABLE ORDER, greedy leftmost non-overlapping
    * within a merge — exactly the Sennrich et al. 2016 encode loop — and
    * return the corpus token-frequency table under the learned
    * vocabulary. This is "token counting" with a REAL subword tokenizer
    * instead of the whitespace proxy: the count a training-budget
    * estimate actually needs.
    *
    * Matching is on SYMBOL PAIRS (s_i = left AND s_{i+1} = right), not
    * flat strings — ("a","bc") and ("ab","c") are different merges even
    * though both concatenate to "abc", exactly as in the reference
    * algorithm. The per-merge greedy apply is the trainer's
    * gaps-and-islands program (islands of consecutive occurrence
    * positions, keep odd ranks), one round per merge-table entry.
    *
    * Scale shape: corpus size stops mattering after the first aggregate
    * — all rounds run over the |vocab|·avg-word-length symbol table,
    * shuffles keyed on the word (high-cardinality, even spread),
    * lineage truncated per round. The merge table is plan literals (a
    * trained tokenizer is thousands of entries — still literals). */
  def bpeEncode(df: DataFrame, merges: Seq[(String, String)],
                textCol: String = "text"): DataFrame = {
    require(merges.nonEmpty, "need at least one merge")
    val W = org.apache.spark.sql.expressions.Window
    val wnd = W.partitionBy(col("word")).orderBy(col("i"))
    val chars = Pin(df.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as(Seq("__p0", "s")))
      .select(col("word"), col("freq"),
        (col("__p0") + 1).cast("long").as("i"), col("s")))
    val encoded = Pin.rounds(chars, merges.size) { (syms, r) =>
      val (left, right) = merges(r)
      val withNext = syms.withColumn("nxt", lead(col("s"), 1).over(wnd))
      val cand = withNext
        .filter(col("s") === lit(left) && col("nxt") === lit(right))
        .select(col("word"), col("i"))
      val kept = cand
        .withColumn("grp", col("i") - row_number().over(wnd))
        .withColumn("__rr", row_number()
          .over(W.partitionBy(col("word"), col("grp")).orderBy(col("i"))))
        .filter(col("__rr") % 2 === 1)
        .select(col("word"), col("i"))
      withNext
        .join(kept.select(col("word"), col("i"), lit(1).as("__st")),
          Seq("word", "i"), "left")
        .join(kept.select(col("word"), (col("i") + 1).as("i"), lit(1).as("__cons")),
          Seq("word", "i"), "left")
        .filter(col("__cons").isNull)
        .select(col("word"), col("freq"), col("i").as("__oi"),
          when(col("__st").isNotNull, concat(col("s"), col("nxt")))
            .otherwise(col("s")).as("s"))
        .withColumn("i", row_number()
          .over(W.partitionBy(col("word")).orderBy(col("__oi"))).cast("long"))
        .select(col("word"), col("freq"), col("i"), col("s"))
    }
    // the per-character table is the first merge's input only
    Pin.release(chars)
    encoded.groupBy(col("s")).agg(sum(col("freq")).as("n_occurrences"))
      .select(col("s").as("token"), col("n_occurrences"))
  }

  /** Per-document lexical diversity: type-token ratio and hapax share —
    * the vocabulary-richness quality features (template spam and keyword
    * stuffing crater TTR; natural prose keeps a fat hapax tail). One
    * explode + two hash aggregates, both map-side combined; ratios are
    * truncating integer milli (numerators are nonnegative, no sign
    * handling needed). Returns (id, n_tokens, n_types, n_hapax,
    * ttr_milli, hapax_milli). */
  def lexicalDiversity(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__tf"))
      .groupBy(col(idCol)).agg(
        sum(col("__tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_milli", expr("n_types * 1000 div n_tokens"))
      .withColumn("hapax_milli", expr("n_hapax * 1000 div n_types"))

  /** Zipf-law fit over the corpus token-frequency curve: OLS of
    * ln(frequency) against ln(rank) over the top-`topN` tokens — the
    * one-number lexical-health audit (natural corpora sit near slope −1;
    * boilerplate floods and template spam bend it).
    *
    * Scale shape: the token count is ONE map-side-combined aggregate over
    * the corpus; the global top-N is an `orderBy.limit` top-k (per-partition
    * heaps, no full sort), and everything after runs on `topN` rows — the
    * rank window is bounded by construction, never corpus-sized.
    *
    * Exactness discipline: ln values are micro-quantized PER POINT before
    * any summation (double accumulation order would be nondeterministic),
    * the OLS moments ride DECIMAL(38,0), and slope/intercept come out of
    * sign-handled truncating divides — the intercept reuses the already
    * truncated slope so both engines round identically. Returns one row:
    * (n_points, slope_micro, intercept_micro). */
  def zipfFit(df: DataFrame, textCol: String = "text",
              topN: Int = 100): DataFrame = {
    val top = df.select(explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term")).limit(topN)
    val pts = top.withColumn("rank", row_number()
        .over(Window.orderBy(col("tf").desc, col("term"))))
      .select(round(log(col("rank").cast("double")) * 1000000d)
          .cast("long").as("xq"),
        round(log(col("tf").cast("double")) * 1000000d)
          .cast("long").as("yq"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("xq")).as("__sx"), sum(col("yq")).as("__sy"),
        sum(col("xq").cast("decimal(38,0)") * col("xq")).as("__sxx"),
        sum(col("xq").cast("decimal(38,0)") * col("yq")).as("__sxy"))
      .withColumn("__num",
        col("n_points") * col("__sxy") -
          col("__sx").cast("decimal(38,0)") * col("__sy"))
      .withColumn("__den",
        col("n_points") * col("__sxx") -
          col("__sx").cast("decimal(38,0)") * col("__sx"))
      .withColumn("slope_micro", expr(
        """CASE WHEN __den = 0 THEN cast(0 as bigint)
          |     WHEN __num < 0 THEN cast(-((-__num * 1000000) div __den) as bigint)
          |     ELSE cast((__num * 1000000) div __den as bigint) END""".stripMargin))
      .withColumn("__inum",
        col("__sy").cast("decimal(38,0)") * 1000000L -
          col("slope_micro").cast("decimal(38,0)") * col("__sx"))
      .withColumn("intercept_micro", expr(
        """CASE WHEN __inum < 0
          |       THEN cast(-((-__inum) div (n_points * 1000000)) as bigint)
          |     ELSE cast(__inum div (n_points * 1000000) as bigint) END""".stripMargin))
      .select(col("n_points"), col("slope_micro"), col("intercept_micro"))
  }
}

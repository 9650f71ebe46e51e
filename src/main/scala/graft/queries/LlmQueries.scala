package graft.queries

import org.apache.spark.sql.functions._

import graft.Pin
import graft.functions.ColumnFns._
import graft.llm.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.queries.Md5._
import graft.streaming.StreamingOps

/** LLM training-data pipeline operators: dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), similarity search (brute-force + LSH-bucketed
  * ANN), text analysis, multimodal metadata, and streaming shapes — each
  * oracle-checked against DuckDB implementing the identical algorithm in SQL.
  */
object LlmQueries {

  /** DuckDB twin of `microScore(cosine(x, y))` — the one NaN-CAPABLE
    * score shape (cosine = dot / (|x||y|): a zero-norm vector gives 0/0).
    * The Scala side normalizes via `round(nanvl(cos, 0)*1e6)::long`; the
    * SQL twin must guard TWO DuckDB divergences, measured against the
    * gate's DuckDB 1.0.0: (a) float division by zero yields NULL, not
    * IEEE NaN — so `0/0` would silently DROP the row through the
    * threshold filter where Spark keeps it at 0; (b) a NaN that does
    * reach CAST(round(NaN*1e6) AS BIGINT) raises a hard Conversion
    * Error. Hence: zero denominator → 0 explicitly, isnan → 0 (NaN
    * input elements), else the plain micro cast. Genuine NULLs (null
    * embedding) stay NULL through every branch on both engines. Takes
    * the three dot-product strings so the denominator test and the
    * division share one definition. Pinned by
    * `ann_zero_vector_contract`; plain dot products of finite floats
    * cannot produce NaN and keep the unguarded form. */
  private def cosineMicroSql(dxy: String, dxx: String, dyy: String): String = {
    val cos = s"($dxy) / (sqrt($dxx) * sqrt($dyy))"
    s"CASE WHEN ($dxx) * ($dyy) = 0 OR isnan($cos) THEN 0 " +
      s"ELSE CAST(round($cos * 1000000) AS BIGINT) END"
  }

  /** DuckDB word 3-shingles of the token list `t`, one string per
    * shingle (a list shorter than three tokens is one shingle) — the twin of
    * `shingles(tokens(text), 3)`. */
  private val wordShinglesSql =
    "CASE WHEN len(t) >= 3 THEN list_transform(range(0, len(t) - 2), " +
      "i -> array_to_string(t[(i+1):(i+3)], ' ')) ELSE [array_to_string(t, ' ')] END"

  /** `toks(doc_id, t)`, the space-split text of `docs(doc_id, text)`, and
    * its [[wordShinglesSql]] lists `sh(doc_id, s)`. */
  private def shinglesCte(docs: String): String =
    s"""toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM $docs),
       |sh AS (SELECT doc_id, $wordShinglesSql AS s FROM toks)""".stripMargin

  /** Shared DuckDB CTEs: word 3-shingles and the 8-hash MinHash signature
    * (4 bands x 2 rows), mirroring [[graft.llm.Dedup.minhashSignatureFromBases]]
    * exactly: ONE 30-bit md5-derived base per shingle, then affine
    * permutations (a_h*base + b_h) mod 2^31-1 with Knuth-constant
    * coefficients — all int64-exact in both engines. */
  private val minhashSigCte =
    s"""WITH ${shinglesCte("documents")},
      |bs AS (SELECT doc_id,
      |         list_transform(s, x ->
      |           ${md5LongSql("x")} % 1073741824) AS bl
      |       FROM sh),
      |sig AS (SELECT doc_id,
      |          list_transform(PERMS, ab ->
      |            list_min(list_transform(bl, b -> (ab[1] * b + ab[2]) % 2147483647))) AS g
      |        FROM bs),
      |bands AS (SELECT doc_id, CAST(b.band AS INTEGER) AS band,
      |            CAST(g[b.band*2+1] AS VARCHAR) || ',' || CAST(g[b.band*2+2] AS VARCHAR) AS band_key
      |          FROM sig, (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
      .replace("PERMS",
        (0 until 8).map(h => s"[${Dedup.minhashA(h)}, ${Dedup.minhashB(h)}]")
          .mkString("[", ", ", "]"))

  /** DuckDB twin of `TextAnalysis.winnowFingerprints`' selection over
    * `docs(doc_id, text)`: [[shinglesCte]], each shingle's key — its 30-bit
    * md5 base times 2^20 plus the reversed position, so one numeric min
    * also breaks ties rightmost — `keys(doc_id, ks)`, and the distinct
    * minima of every 4-key window `sel(doc_id, fps)`. */
  private def winnowSelCte(docs: String): String =
    s"""${shinglesCte(docs)},
       |keys AS (SELECT doc_id,
       |           list_transform(range(0, len(s)),
       |             i -> (${md5LongSql("s[i+1]")} % 1073741824)
       |                  * 1048576 + (1048575 - i)) AS ks
       |         FROM sh),
       |sel AS (SELECT doc_id,
       |          list_distinct(list_transform(range(0, len(ks) - 3),
       |            j -> list_min(ks[(j+1):(j+4)]))) AS fps
       |        FROM keys WHERE len(ks) >= 4)""".stripMargin

  /** One row per distinct word 3-shingle of the text column `t`: the
    * benchmark and corpus gram streams of the decontamination rows. */
  private def distinctGrams(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(array_distinct(shingles(tokens(t), 3)))

  /** DuckDB twin of the decontamination rows over [[distinctGrams]]: per
    * document with `doc_id` >= 10, how many of its distinct shingles occur
    * in the benchmark documents (`doc_id` < 10). */
  private val decontaminateOracle =
    s"""WITH ${shinglesCte("documents")},
       |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
       |tr AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh WHERE doc_id >= 10)
       |SELECT doc_id, count(*) AS n_contaminated
       |FROM tr JOIN bench USING (g) GROUP BY 1 ORDER BY 1""".stripMargin

  /** The three probe queries of the BM25 rows, `(query_id, query_text)`. */
  private def bm25Probes(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Seq(
      (1, "spark join shuffle window"),
      (2, "customer order line value"),
      (3, "vector hash merge nosuchterm")).toDF("query_id", "query_text")
  }

  /** The non-empty space-split terms of every document,
    * `tk(doc_id, term)`. Opens the WITH. */
  private val termsCte =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tk AS (SELECT doc_id, term FROM t WHERE term <> '')""".stripMargin

  /** DuckDB twin of `TextAnalysis.featureHash(numFeatures = 64)` before its
    * aggregate: each term's md5 bucket and ±1 sign,
    * `h(doc_id, feature_idx, sgn)`, over [[termsCte]]. */
  private val featureHashCte =
    s"""$termsCte,
       |h AS (SELECT doc_id,
       |        ${md5LongSql("term")} % 64 AS feature_idx,
       |        CASE WHEN ${md5LongSql("'sign|' || term")} % 2 = 1
       |             THEN 1 ELSE -1 END AS sgn
       |      FROM tk)""".stripMargin

  /** DuckDB twin of `TextAnalysis.bm25Search`'s scoring over
    * [[bm25Probes]] (k1 = 1.2, b = 0.75, integer micro-units): `tf`, `dl`,
    * the probe terms `qt(query_id, term)`, `idf`, and every (query, doc,
    * matching term)'s score `sc(query_id, doc_id, s_micro)`. Opens the WITH. */
  private val bm25ScoreCte =
    s"""$termsCte,
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY 1),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) * 1000 // count(*) AS avgdl_milli FROM dl),
       |q(query_id, query_text) AS (VALUES
       |  (1, 'spark join shuffle window'),
       |  (2, 'customer order line value'),
       |  (3, 'vector hash merge nosuchterm')),
       |qt AS (SELECT DISTINCT query_id, unnest(string_split(query_text, ' ')) AS term FROM q),
       |idf AS (SELECT term,
       |          CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6) AS BIGINT) AS idf_micro,
       |          avgdl_milli
       |        FROM dfq, stats),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |         idf.idf_micro * tf.tf * 2200
       |           // (tf.tf * 1000
       |              + (1200 * (250 + (750 * dl.dl * 1000) // idf.avgdl_milli)) // 1000)
       |           AS s_micro
       |       FROM tf JOIN qt USING (term) JOIN idf USING (term)
       |            JOIN dl USING (doc_id))""".stripMargin

  /** DuckDB twin of a per-key bottom-`k` sketch over the distinct
    * `(key, hv)` rows of `from`: `rk`, each hash's rank within its key, and
    * `name(key, n_kept, kth)`, how many of the `k` smallest hashes a key
    * kept and the largest of them. */
  private def bottomKCte(name: String, from: String, key: String, hv: String, k: Int): String =
    s"""rk AS (SELECT $key, $hv,
       |         row_number() OVER (PARTITION BY $key ORDER BY $hv) AS rn FROM $from),
       |$name AS (SELECT $key, count(*) AS n_kept, max($hv) AS kth
       |       FROM rk WHERE rn <= $k GROUP BY 1)""".stripMargin

  /** DuckDB twin of the KMV read-out (`Sketches.kmvDistinct` and
    * `kmvPerKeyReadOut`) over `n_kept` and `kth` in scope: the columns `k`,
    * `n_kept`, `kth_min_hash` and `est_distinct` — `n_kept` below `k`
    * hashes, else (k - 1)·2^60 div kth. */
  private def kmvReadOutSql(k: Int): String =
    s"""CAST($k AS INTEGER) AS k, CAST(n_kept AS BIGINT) AS n_kept, kth AS kth_min_hash,
       |  CAST(CASE WHEN n_kept < $k THEN n_kept
       |       ELSE (CAST(n_kept AS HUGEINT) - 1) * 1152921504606846976 // kth
       |       END AS BIGINT) AS est_distinct""".stripMargin

  /** DuckDB twin of `Dedup.duplicateSpans(k = 5)`' position runs over the
    * token lists `toks(doc_id, <t>)`: each 5-token window's md5
    * `win(doc_id, pos, h)`, the windows found in two or more documents
    * (`dups`, their positions `dd(doc_id, pos)`) and the runs of adjacent
    * duplicated positions `runs(doc_id, pos, run_id)`. */
  private def dupSpanRunsCte(toks: String, t: String): String =
    s"""big AS (SELECT doc_id, $t FROM $toks WHERE len($t) >= 5),
       |win AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
       |          ${md5LongSql(s"array_to_string($t[(i+1):(i+5)], ' ')")} AS h
       |        FROM big, UNNEST(range(0, len($t) - 4)) AS u(i)),
       |dups AS (SELECT h FROM win GROUP BY h HAVING min(doc_id) <> max(doc_id)),
       |dd AS (SELECT doc_id, pos FROM win WHERE h IN (SELECT h FROM dups)),
       |lagged AS (SELECT doc_id, pos,
       |             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
       |                  THEN 1 ELSE 0 END AS brk
       |           FROM dd),
       |runs AS (SELECT doc_id, pos,
       |           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |         FROM lagged)""".stripMargin

  /** Every document's adjacent word pairs: `toks(doc_id, ts)` and
    * `big(doc_id, w1, w2)`. */
  private val bigramsCte =
    """toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
      |big AS (SELECT doc_id, unnest(ts[:len(ts)-1]) AS w1, unnest(ts[2:]) AS w2
      |        FROM toks WHERE len(ts) >= 2)""".stripMargin

  /** DuckDB twin of the Jelinek-Mercer bigram model (λ = 0.8) of the
    * bigram log-prob rows over [[bigramsCte]]: unigram counts `cu`, the
    * token total `nn`, bigram and history counts `cb`/`cx`, and each
    * bigram's micro-quantized log-probability `model(w1, w2, lp)`. */
  private val bigramJmModelCte =
    s"""$bigramsCte,
       |uni AS (SELECT unnest(str_split(text, ' ')) AS w2 FROM documents),
       |cu AS (SELECT w2, count(*) AS cnt2 FROM uni GROUP BY 1),
       |nn AS (SELECT CAST(sum(cnt2) AS BIGINT) AS n FROM cu),
       |cb AS (SELECT w1, w2, count(*) AS cnt12 FROM big GROUP BY 1, 2),
       |cx AS (SELECT w1, CAST(sum(cnt12) AS BIGINT) AS cnt1 FROM cb GROUP BY 1),
       |model AS (SELECT cb.w1, cb.w2,
       |    CAST(round(ln(CAST(800 * cnt12 * n + 200 * cnt2 * cnt1 AS DOUBLE)
       |                  / CAST(1000 * cnt1 * n AS DOUBLE)) * 1000000) AS BIGINT) AS lp
       |  FROM cb JOIN cx USING (w1) JOIN cu USING (w2) CROSS JOIN nn)""".stripMargin

  /** LSH candidates over [[minhashSigCte]]'s bands — `cand(id_a, id_b)`,
    * distinct, id_a < id_b — and each doc's distinct shingles
    * `ds(doc_id, dsh)`. */
  private val lshCandCte =
    """cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      |         FROM bands a JOIN bands b2 ON a.band = b2.band AND a.band_key = b2.band_key
      |         WHERE a.doc_id < b2.doc_id),
      |ds AS (SELECT doc_id, list_distinct(s) AS dsh FROM sh)""".stripMargin

  /** DuckDB twin of `Dedup.nearDupEdges` and the closure its connected
    * components replay: [[minhashSigCte]] opening a WITH RECURSIVE, then
    * [[lshCandCte]] kept at exact Jaccard >= 0.8 (`edges`), symmetrized
    * (`e`) and transitively closed (`reach(a, b)`). */
  private val nearDupReachCte =
    s"""${minhashSigCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$lshCandCte,
       |edges AS (SELECT id_a, id_b FROM cand
       |          JOIN ds x ON x.doc_id = id_a JOIN ds y ON y.doc_id = id_b
       |          WHERE CAST(len(list_intersect(x.dsh, y.dsh)) AS DOUBLE)
       |                / (len(x.dsh) + len(y.dsh) - len(list_intersect(x.dsh, y.dsh))) >= 0.8),
       |e AS (SELECT id_a AS a, id_b AS b FROM edges UNION SELECT id_b, id_a FROM edges),
       |reach(a, b) AS (SELECT a, b FROM e
       |                UNION
       |                SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)""".stripMargin

  /** [[nearDupReachCte]] plus each document's near-dup component, its
    * smallest reachable id: `comp(node, component)`. */
  private val nearDupCompCte =
    s"""$nearDupReachCte,
       |comp AS (SELECT n AS node, CAST(min(m) AS BIGINT) AS component FROM (
       |  SELECT a AS n, a AS m FROM e UNION ALL SELECT a, b FROM reach) GROUP BY n)""".stripMargin

  /** DuckDB twin of [[graft.llm.TextAnalysis.normalizeText]] over the SQL
    * expression `x`: lower-case, every non-alphanumeric to a space, runs of
    * whitespace to one space, trimmed. */
  private def normalizeTextSql(x: String): String =
    "trim(regexp_replace(regexp_replace(lower(" + x +
      """), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"""

  /** User-transition edge list for the graph operators: A → B when B's
    * event directly follows A's within the same event-type stream
    * (deterministic order: ts, event_id), self-loops dropped. The same
    * "A sends to B" shape as a chain address graph — an address
    * dictionary would plug in here at 100 TB. */
  private def transitionEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame =
    transitionLag(s, d).select(col("src"), col("user_id").as("dst"))

  /** Each event with the previous user of its event-type stream `src`
    * (order: ts, event_id), self-transitions and stream starts dropped —
    * the lag behind [[transitionEdges]] and [[transitionEdgesTs]]. */
  private def transitionLag(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    // grouped two-phase lag, NOT lag().over(partitionBy(event_type)): the
    // event-type domain is 5 values, so the plain window is five tasks
    // each sorting corpus/5 rows AT ANY SCALE — the r12 graph-family
    // max-task (SCALE_r12 flagged 14.6 s at sf10) was this window, shared
    // by every transition-graph consumer. The two-phase form range-slices
    // (event_type, ts, event_id) across all cores and stitches slice
    // boundaries from a dimension-sized last-value table.
    graft.operators.GlobalRank.groupedLag(
        Tables(s, d, "events")
          .select(col("event_type"), col("ts"), col("event_id"), col("user_id")),
        Seq("event_type"), Seq(col("ts"), col("event_id")), "user_id", "src")
      .filter(col("src").isNotNull && col("src") =!= col("user_id"))

  /** The DuckDB lag of [[transitionLag]], before its filter:
    * `ev(event_type, user_id, src)`. */
  private val transitionLagCte =
    """ev AS (SELECT event_type, user_id,
      |         lag(user_id) OVER (PARTITION BY event_type
      |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS src
      |       FROM events)""".stripMargin

  /** DuckDB twin of [[transitionEdges]], collapsed to weighted edges
    * (`ew(src, dst, w)`). */
  private val transitionEdgesCte =
    s"""WITH $transitionLagCte,
       |ew AS (SELECT src, user_id AS dst, count(*) AS w FROM ev
       |       WHERE src IS NOT NULL AND src <> user_id GROUP BY 1, 2)""".stripMargin

  /** [[transitionEdgesCte]] plus `e(src, dst, w, ow)`: each edge with its
    * source's total out-weight — the prologue of the weighted push oracles
    * (pagerank, haircut taint, personalized pagerank). */
  private val transitionPushCte =
    s"""$transitionEdgesCte,
       |outw AS (SELECT src, sum(w) AS ow FROM ew GROUP BY 1),
       |e AS (SELECT ew.src, ew.dst, ew.w, outw.ow FROM ew JOIN outw USING (src))""".stripMargin

  /** Weighted push round `i` over [[transitionPushCte]]'s `e`: every node
    * of `from` (key column `key`, mass column `mass`) sends mass·w div ow
    * along each out-edge; `s<i>(dst, m)` sums what each node receives. The
    * one step of every weighted push oracle; integer, truncating. */
  private def pushSql(i: Int, from: String, key: String, mass: String): String =
    s"""s$i AS (SELECT e.dst, sum(($from.$mass * e.w) // e.ow) AS m
       |       FROM $from JOIN e ON e.src = $from.$key GROUP BY 1)""".stripMargin

  /** The seed set of the flow rows (k-hop taint, haircut taint,
    * personalized pagerank): the nodes of the edge list `ew` ≡ 0 mod 37. */
  private def mod37Seeds(ew: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node"))).distinct()
      .filter(col("node") % 37 === 0)

  /** DuckDB twin of [[mod37Seeds]] over the `ew(src, dst, ...)` in scope:
    * `sd(node)`. */
  private val mod37SeedsCte =
    """sd AS (SELECT node FROM (SELECT src AS node FROM ew UNION SELECT dst FROM ew)
      |       WHERE node % 37 = 0)""".stripMargin

  /** [[transitionEdges]] with the transition's own timestamp (the dst
    * event's ts) — the edge list for TIME-RESPECTING path motifs, where
    * hop order matters and collapsing to weights would erase it. */
  private def transitionEdgesTs(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame =
    transitionLag(s, d).select(col("src"), col("user_id").as("dst"), col("ts"))

  /** DuckDB twin of [[transitionEdgesTs]]: `et(src, dst, t)`. */
  private val transitionEdgesTsCte =
    """WITH ev AS (SELECT event_type, user_id, ts, event_id,
      |         lag(user_id) OVER (PARTITION BY event_type
      |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS src
      |       FROM events),
      |et AS (SELECT src, user_id AS dst, CAST(ts AS TIMESTAMP) AS t FROM ev
      |       WHERE src IS NOT NULL AND src <> user_id)""".stripMargin

  /** The REPEAT-transition backbone: [[transitionEdges]] collapsed to
    * weights, keeping only edges observed at least twice. One-off
    * co-occurrences are noise in a behavioral graph; the w >= 2 filter is
    * the standard backbone extraction that leaves real topology (hubs,
    * triangles, cores) instead of a near-clique.
    *
    * NOT pinned here: single-consumer call sites hand it straight to an
    * operator that pins its own derived frame (sym/und), so a pin here
    * would only add a redundant materialization. Call sites that fan the
    * SAME ew into several independent evaluations (seed/pivot selection +
    * the operator, or two operators sharing topology) pin at the call
    * site — before r15 each such consumer re-ran this whole lag+aggregate
    * prologue from the parquet scan. */
  private def backboneEdges(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame =
    transitionEdges(s, d)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)

  /** DuckDB twin of [[backboneEdges]] (`ew(src, dst, w)`, w >= 2). */
  private val backboneEdgesCte =
    s"""WITH $transitionLagCte,
       |ew AS (SELECT src, user_id AS dst, count(*) AS w FROM ev
       |       WHERE src IS NOT NULL AND src <> user_id GROUP BY 1, 2
       |       HAVING count(*) >= 2)""".stripMargin

  /** `und(u, v)` and `dg(node, deg)` over any `ew(src, dst, ...)` in
    * scope — the DuckDB twin of `Graph.undirected` + `Graph.degrees`. */
  private val undDegCte =
    """und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |        FROM ew WHERE src <> dst),
      |dg AS (SELECT node, count(*) AS deg FROM
      |         (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      |       GROUP BY 1)""".stripMargin

  /** Shared topology prologue over [[backboneEdges]] — the DuckDB twin of
    * `Graph.undirected` + `Graph.degrees`: `und(u, v)` distinct canonical
    * pairs, `dg(node, deg)`. Every graph-topology oracle builds on this
    * ONE definition so the engines can never desynchronize per query. */
  private val backboneUndirectedCte = s"$backboneEdgesCte,\n$undDegCte"

  /** The 4 highest-degree nodes of the simple undirected `ew` (ties to the
    * smaller id): the pivots of the harmonic and betweenness rows. */
  private def degreePivots(ew: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val und = ew.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v")).distinct()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.orderBy(col("deg").desc, col("node").asc).limit(4).select("node")
  }

  /** DuckDB twin of [[degreePivots]] over [[backboneEdges]]:
    * [[backboneUndirectedCte]], the adjacency `adj(a, b)` in both directions
    * and the pivots `piv(node)`. */
  private val degreePivotsCte =
    s"""$backboneUndirectedCte,
       |adj AS (SELECT u AS a, v AS b FROM und UNION ALL SELECT v, u FROM und),
       |piv AS (SELECT node FROM dg ORDER BY deg DESC, node ASC LIMIT 4)""".stripMargin

  /** The landmark rows' graph: [[backboneEdges]] (pinned) in both
    * directions, `sym(src, dst)`. */
  private def landmarkSym(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame = {
    val ew = Pin(backboneEdges(s, d))
    ew.select(col("src"), col("dst"))
      .unionByName(ew.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The 3 smallest nodes of [[landmarkSym]]: the landmarks. */
  private def landmarks(sym: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sym.select(col("src").as("node")).distinct().orderBy("node").limit(3)

  /** DuckDB twin of `Graph.landmarkDistances(rounds = 3)` from
    * [[landmarks]] over [[landmarkSym]]: `sym(src, dst)`, `lm(node)` and
    * each relax round's `(node, landmark, hops)` state `d0`..`d3`. */
  private val landmarkDistCte = {
    def round(r: Int) =
      s"""d${r + 1} AS (SELECT node, landmark, min(hops) AS hops FROM (
         |    SELECT node, landmark, hops FROM d$r
         |    UNION ALL
         |    SELECT e.dst, d.landmark, d.hops + 1 FROM d$r d JOIN sym e ON e.src = d.node)
         |  GROUP BY 1, 2)""".stripMargin
    s"""$backboneEdgesCte,
       |sym AS (SELECT src, dst FROM ew UNION SELECT dst, src FROM ew),
       |lm AS (SELECT DISTINCT src AS node FROM sym ORDER BY 1 LIMIT 3),
       |d0 AS (SELECT node, node AS landmark, CAST(0 AS INTEGER) AS hops FROM lm),
       |${(0 until 3).map(round).mkString(",\n")}""".stripMargin
  }

  /** `Graph.labelPropagation(rounds = 2, weighted)` over an edge list with
    * weight `w`; its DuckDB twin is [[lpaLabelsCte]]. */
  private def lpaLabels(ew: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.Graph.labelPropagation(ew, rounds = 2, weightCol = Some("w"))

  /** [[backboneEdgesCte]] plus `sym(a, b, w)`: each edge in both
    * directions, weights of antiparallel edges summed. */
  private val backboneSymCte =
    s"""$backboneEdgesCte,
       |sym AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
       |          SELECT src AS a, dst AS b, w FROM ew
       |          UNION ALL SELECT dst, src, w FROM ew) GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of `Graph.labelPropagation(rounds = 2, weighted)` over
    * [[backboneEdges]]: `l2(node, label)`. Shared by the community query
    * and the super-graph coarsening so the two oracles can never
    * disagree on what the communities ARE. */
  private val lpaLabelsCte =
    s"""$backboneSymCte,
       |$lpaChainCte""".stripMargin

  /** The LPA rounds alone (needs `sym(a, b, w)` in scope) — shared by
    * [[lpaLabelsCte]] and the joint LPA+Louvain CTE so the two can never
    * desynchronize. */
  private lazy val lpaChainCte =
    """n AS (SELECT DISTINCT a AS node FROM sym),
      |l0 AS (SELECT node, node AS label FROM n),
      |v1 AS (SELECT s.a, l0.label, sum(s.w) AS sw FROM sym s
      |       JOIN l0 ON s.b = l0.node GROUP BY 1, 2),
      |w1 AS (SELECT a, label, row_number() OVER
      |         (PARTITION BY a ORDER BY sw DESC, label ASC) AS rn FROM v1),
      |l1 AS (SELECT n.node, coalesce(w1.label, n.node) AS label
      |       FROM n LEFT JOIN w1 ON w1.a = n.node AND w1.rn = 1),
      |v2 AS (SELECT s.a, l1.label, sum(s.w) AS sw FROM sym s
      |       JOIN l1 ON s.b = l1.node GROUP BY 1, 2),
      |w2 AS (SELECT a, label, row_number() OVER
      |         (PARTITION BY a ORDER BY sw DESC, label ASC) AS rn FROM v2),
      |l2 AS (SELECT n.node, coalesce(w2.label, n.node) AS label
      |       FROM n LEFT JOIN w2 ON w2.a = n.node AND w2.rn = 1)""".stripMargin

  /** DuckDB twin of `Graph.louvainMove(rounds = 2, weighted)` over
    * [[backboneEdges]]: `g2(node, label)`. Replays both synchronous
    * move rounds exactly — per round: neighbor-community incident weight
    * k_in, community degree totals, the integer gain
    * 2m·k_in − k·(tot − [own]·k) in HUGEINT (Spark: DECIMAL(38,0)), and
    * the (gain DESC, label ASC) argmax. Shared by the louvain label
    * query and its modularity audit so the two oracles can never
    * disagree on what the communities ARE. */
  private val louvainLabelsCte = {
    def round(i: Int): String = {
      val prev = if (i == 1) "g0" else s"g${i - 1}"
      val par = (i - 1) % 2 // round r moves only nodes with node%2 = r%2
      s"""kin$i AS (SELECT x.a, x.label, sum(x.kin) AS kin FROM (
         |    SELECT s.a, l.label, s.w AS kin FROM sym s JOIN $prev l ON l.node = s.b
         |    WHERE s.a % 2 = $par
         |    UNION ALL SELECT node, label, 0 FROM $prev WHERE node % 2 = $par) x
         |  GROUP BY 1, 2),
         |tot$i AS (SELECT l.label, sum(d.k) AS tot FROM $prev l
         |          JOIN dgv d ON d.a = l.node GROUP BY 1),
         |sc$i AS (SELECT c.a, c.label,
         |           CAST((SELECT s FROM m2) AS HUGEINT) * c.kin
         |             - CAST(d.k AS HUGEINT) *
         |                 (t.tot - CASE WHEN c.label = o.label THEN d.k ELSE 0 END) AS gain
         |         FROM kin$i c JOIN dgv d ON d.a = c.a
         |              JOIN $prev o ON o.node = c.a
         |              JOIN tot$i t ON t.label = c.label),
         |g$i AS (SELECT node, label FROM $prev WHERE node % 2 <> $par
         |        UNION ALL
         |        SELECT a AS node, label FROM (
         |          SELECT a, label, row_number() OVER
         |            (PARTITION BY a ORDER BY gain DESC, label ASC) AS rn
         |          FROM sc$i) WHERE rn = 1)""".stripMargin
    }
    s"""$backboneSymCte,
       |dgv AS (SELECT a, sum(w) AS k FROM sym GROUP BY 1),
       |m2 AS (SELECT sum(k) AS s FROM dgv),
       |g0 AS (SELECT a AS node, a AS label FROM dgv),
       |${(1 to 2).map(round).mkString(",\n")}""".stripMargin
  }

  /** The association rows' baskets — per user, the items
    * `<event_type>#<props.k div 25>` — through `Associations.rules` with
    * pairs seen in at least 20 baskets. */
  private def itemPairRules(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    val items = Tables(s, d, "events").select(
      col("user_id"),
      concat(col("event_type"), lit("#"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 25")
          .cast("string")).as("item"))
    graft.operators.Associations.rules(items, "user_id", "item", minPairCount = 20)
  }

  /** DuckDB twin of [[itemPairRules]]' counts: the distinct basket items
    * `itn(k, i)`, item counts `ic(i, c)` and the pair counts
    * `pc(item_a, item_b, c_ab)` of at least 20. */
  private val itemPairCountsCte =
    """it AS (SELECT DISTINCT user_id AS k,
      |         event_type || '#' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS VARCHAR) AS i
      |       FROM events),
      |itn AS (SELECT * FROM it WHERE i IS NOT NULL),
      |ic AS (SELECT i, count(*) AS c FROM itn GROUP BY 1),
      |pc AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_ab
      |       FROM itn a JOIN itn b ON a.k = b.k AND a.i <> b.i
      |       GROUP BY 1, 2 HAVING count(*) >= 20)""".stripMargin

  /** DuckDB twin of `Graph.modularity` over the labels `labels(node, label)`
    * and the `ew` in scope: [[undDegCte]], then the exact integer Newman Q
    * over the simple undirected graph — m, the community count, Σ e_c, and
    * q_num / q_den as decimal strings with the milli read-out. */
  private def modularitySql(labels: String): String =
    s"""$undDegCte,
       |mm AS (SELECT count(*) AS m FROM und),
       |ein AS (SELECT la.label, count(*) AS e_c FROM und
       |        JOIN $labels la ON la.node = und.u
       |        JOIN $labels lb ON lb.node = und.v
       |        WHERE la.label = lb.label GROUP BY 1),
       |dcm AS (SELECT $labels.label, sum(dg.deg) AS d_c FROM dg
       |        JOIN $labels ON $labels.node = dg.node GROUP BY 1),
       |comm AS (SELECT dcm.label, coalesce(ein.e_c, 0) AS e_c, dcm.d_c
       |         FROM dcm LEFT JOIN ein USING (label)),
       |agg AS (SELECT max(mm.m) AS m, count(*) AS n_comm,
       |          sum(e_c) AS sum_e_in,
       |          sum(4 * CAST(mm.m AS HUGEINT) * e_c
       |              - CAST(d_c AS HUGEINT) * d_c) AS q_num,
       |          max(4 * CAST(mm.m AS HUGEINT) * mm.m) AS q_den
       |        FROM comm, mm)
       |SELECT CAST(m AS BIGINT) AS m, CAST(n_comm AS BIGINT) AS n_comm,
       |  CAST(sum_e_in AS BIGINT) AS sum_e_in,
       |  CAST(q_num AS VARCHAR) AS q_num,
       |  CAST(q_den AS VARCHAR) AS q_den,
       |  CAST(CASE WHEN q_den IS NULL OR q_den = 0 THEN 0
       |       WHEN q_num < 0 THEN -((-q_num) * 1000 // q_den)
       |       ELSE q_num * 1000 // q_den END AS BIGINT) AS q_milli
       |FROM agg""".stripMargin

  /** The quality classifier rows' labels: y = 1 for an English document. */
  private def enLabels(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), when(col("lang") === "en", 1L).otherwise(0L).as("y"))

  /** `Classifier.trainAndScore` of the quality model (2 rounds, lr 0.5)
    * over the 64-dim hashed features of `docs`: one pinned feature
    * projection feeds train and score. Its DuckDB twin is
    * [[logitMarginCte]]. */
  private def qualityScores(docs: org.apache.spark.sql.DataFrame,
                            labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.llm.Classifier.trainAndScore(
      TextAnalysis.featureHash(docs, "doc_id", "text", numFeatures = 64),
      labels, rounds = 2, lrMilli = 500L, xCol = "weight")

  /** Force every plain CTE in an oracle to MATERIALIZED. DuckDB inlines
    * a CTE once per reference, so an oracle whose final tables reference
    * a multi-round chain several times re-expands the whole chain
    * EXPONENTIALLY — the joint NMI oracle below went from >15 min and
    * ~100 GB (OOM-killed the sf1 gate) to 1.2 s with the hint. Purely an
    * evaluation fence: values are unchanged by definition. Recursive
    * CTEs (`name(cols) AS (`) don't match the pattern and stay inline,
    * as required. */
  private def materializeCtes(sql: String): String =
    sql.replaceAll("""(\w+) AS \(""", "$1 AS MATERIALIZED (")

  /** Joint LPA (`l2`) + Louvain (`g2`) labels over the SAME backbone,
    * plus the NMI cell/marginal/entropy tables — the agreement-metric
    * oracle. Built from the same chains the individual label oracles
    * use, so all three can never disagree on what the partitions ARE. */
  private lazy val lpaLouvainJointCte =
    s"""$louvainLabelsCte,
       |$lpaChainCte,
       |jj AS (SELECT l2.node, l2.label AS lx, g2.label AS ly
       |       FROM l2 JOIN g2 USING (node)),
       |nn AS (SELECT count(*) AS n FROM jj),
       |nij AS (SELECT lx, ly, count(*) AS nij FROM jj GROUP BY 1, 2),
       |nix AS (SELECT lx, count(*) AS ni FROM jj GROUP BY 1),
       |njy AS (SELECT ly, count(*) AS nj FROM jj GROUP BY 1),
       |mi AS (SELECT sum(nij * CAST(round(ln(CAST(n * nij AS DOUBLE) / (ni * nj)) * 1000000) AS BIGINT)) AS mi_u
       |       FROM nij JOIN nix USING (lx) JOIN njy USING (ly), nn),
       |hx AS (SELECT sum(ni * CAST(round(-ln(CAST(ni AS DOUBLE) / n) * 1000000) AS BIGINT)) AS hx_u
       |       FROM nix, nn),
       |hy AS (SELECT sum(nj * CAST(round(-ln(CAST(nj AS DOUBLE) / n) * 1000000) AS BIGINT)) AS hy_u
       |       FROM njy, nn)""".stripMargin

  /** [[logitTrainCte]] plus each document's exact margin under the
    * trained weights, `mgs(doc_id, m)`. */
  private lazy val logitMarginCte =
    s"""$logitTrainCte,
       |mgs AS (SELECT f.doc_id, sum(f.x * w.w) AS m
       |        FROM feat f JOIN w2 w USING (feature_idx) GROUP BY 1)""".stripMargin

  /** DuckDB twin of `Classifier.logisticTrain(rounds = 2, lr = 0.5)` over
    * the 64-dim hashed features of `documents` with y = (lang = 'en'):
    * `w2(feature_idx, w)`. Replays both fixed-point gradient rounds —
    * exact integer margins, micro-quantized sigmoid, HUGEINT gradients
    * (Spark: DECIMAL(38,0)), sign-split truncating update. Shared by the
    * training and scoring oracles so they can never disagree on the
    * model. */
  private val logitTrainCte = {
    def round(i: Int): String = {
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""mg$i AS (SELECT f.doc_id, sum(f.x * w.w) AS m
         |         FROM feat f JOIN $prev w USING (feature_idx) GROUP BY 1),
         |er$i AS (SELECT l.doc_id,
         |           CAST(round(1000000.0 / (1.0 + exp(
         |             -(CAST(coalesce(m.m, 0) AS DOUBLE) / 1000000.0)))) AS BIGINT)
         |             - l.y * 1000000 AS e
         |         FROM lab l LEFT JOIN mg$i m ON m.doc_id = l.doc_id),
         |gr$i AS (SELECT f.feature_idx, sum(CAST(f.x AS HUGEINT) * e.e) AS g
         |         FROM feat f JOIN er$i e ON e.doc_id = f.doc_id GROUP BY 1),
         |w$i AS (SELECT w.feature_idx,
         |          w.w - CASE WHEN coalesce(g.g, 0) < 0
         |                THEN -(((-g.g) * 500) // (1000 * (SELECT n FROM nn)))
         |                ELSE (coalesce(g.g, 0) * 500) // (1000 * (SELECT n FROM nn))
         |                END AS w
         |        FROM $prev w LEFT JOIN gr$i g USING (feature_idx))""".stripMargin
    }
    s"""$featureHashCte,
       |feat AS (SELECT doc_id, feature_idx, CAST(sum(sgn) AS BIGINT) AS x
       |         FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0),
       |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |        FROM documents),
       |nn AS (SELECT count(*) AS n FROM lab),
       |w0 AS (SELECT DISTINCT feature_idx, CAST(0 AS BIGINT) AS w FROM feat),
       |${(1 to 2).map(round).mkString(",\n")}""".stripMargin
  }

  /** DuckDB twin of `Graph.orient` (degree-ordered orientation over
    * und/dg): `ori(s, t)`, each edge pointing from the endpoint lower in
    * the (degree, id) total order. */
  private val orientedCte =
    """ori AS (SELECT CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND u < v)
      |                    THEN u ELSE v END AS s,
      |               CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND u < v)
      |                    THEN v ELSE u END AS t
      |        FROM und JOIN dg x ON x.node = und.u JOIN dg y ON y.node = und.v)""".stripMargin

  /** DuckDB expression for the sign-bit LSH bucket of column `e` —
    * mirrors [[graft.llm.Similarity.lshBucket]] (8 planes, dim 64). */
  private def lshBucketSql(e: String): String =
    s"""CAST(list_sum(list_transform(range(0, 8), p ->
       |  CASE WHEN list_sum(list_transform(range(1, 65), i ->
       |         CAST($e[i] AS DOUBLE) *
       |         (CASE WHEN ${md5LongSql("CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)")} % 2 = 1
       |               THEN 1.0 ELSE -1.0 END))) > 0
       |       THEN CAST(2**p AS BIGINT) ELSE 0 END)) AS BIGINT)""".stripMargin

  /** DuckDB dot product of the first `dim` elements of list columns `x`
    * and `y`, each element widened to DOUBLE. */
  private def dotSql(x: String, y: String, dim: Int = 64): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  /** DuckDB twin of the PQ encoder (`Similarity.pqCodes`, m = 8
    * subspaces of 8 dims, codebook = vec_id < 16): `c(code, subspace,
    * cs)` codewords and `codes(neighbor_id, subspace, code)`, each corpus
    * subvector's nearest codeword by micro-quantized squared L2. */
  private val pqCodesCte =
    s"""sub AS (SELECT CAST(s AS BIGINT) AS s FROM (SELECT unnest(range(0, 8)) AS s)),
       |v AS (SELECT vec_id, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS sv
       |      FROM embeddings, sub s WHERE vec_id >= 21),
       |c AS (SELECT vec_id AS code, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS cs
       |      FROM embeddings, sub s WHERE vec_id < 16),
       |codes AS (SELECT vec_id AS neighbor_id, subspace, code FROM (
       |            SELECT v.vec_id, v.subspace, c.code,
       |                   row_number() OVER (PARTITION BY v.vec_id, v.subspace
       |                     ORDER BY CAST(round((${dotSql("v.sv", "v.sv", 8)} - 2 * ${dotSql("v.sv", "c.cs", 8)} + ${dotSql("c.cs", "c.cs", 8)}) * 1000000) AS BIGINT), c.code) AS rn
       |            FROM v JOIN c ON v.subspace = c.subspace) WHERE rn = 1)""".stripMargin

  /** The IVF top-5 tail over `sc(query_id, neighbor_id, centroid_id,
    * score_micro)`: rank by score (neighbor_id breaks ties), keep 5. */
  private val ivfTop5Sql =
    """r AS (SELECT query_id, neighbor_id, centroid_id, score_micro,
      |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
      |      FROM sc)
      |SELECT query_id, neighbor_id, centroid_id, rnk, score_micro FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** `Similarity.ivfTopK(k = 5)` with the 16 centroids `vec_id` < 16,
    * queries 16..20 and the corpus from 21. */
  private def ivfTop5(s: org.apache.spark.sql.SparkSession, d: String,
                      nprobe: Int): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, d, "embeddings")
    Similarity.ivfTopK(
      e.filter(col("vec_id") >= 21),
      e.filter(col("vec_id").between(16, 20)),
      e.filter(col("vec_id") < 16), k = 5, nprobe = nprobe)
  }

  /** DuckDB twin of [[ivfTop5]]: each query's `nprobe` nearest cells `qa`,
    * each corpus vector's cell `ca`, the in-cell scores `sc` and
    * [[ivfTop5Sql]]. */
  private def ivfOracle(nprobe: Int): String =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
       |qa AS (SELECT vec_id, embedding, cid FROM (
       |         SELECT v.vec_id, v.embedding, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                                   ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
       |         FROM embeddings v, cent c WHERE v.vec_id BETWEEN 16 AND 20) WHERE rn <= $nprobe),
       |ca AS (SELECT vec_id, embedding, cid FROM (
       |         SELECT v.vec_id, v.embedding, c.cid,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                                   ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
       |         FROM embeddings v, cent c WHERE v.vec_id >= 21) WHERE rn = 1),
       |sc AS (SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id, ca.cid AS centroid_id,
       |              CAST(round((${dotSql("qa.embedding", "ca.embedding")}) * 1000000) AS BIGINT) AS score_micro
       |       FROM qa JOIN ca ON qa.cid = ca.cid),
       |$ivfTop5Sql""".stripMargin

  /** DuckDB twin of the hierarchical IVF coarse stage (16 centroids
    * vec_id < 16, the first 4 as coarse cells): `fc(cid, cv, gid)` each
    * fine centroid's coarse cell, `va(vec_id, embedding, gid)` each
    * vector's (vec_id >= 16) nearest live coarse cell. */
  private val ivfHierCte =
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
       |g AS (SELECT cid AS gid, cv AS gv FROM cent ORDER BY cid LIMIT 4),
       |fc AS (SELECT cid, cv, gid FROM (
       |         SELECT f.cid, f.cv, g.gid,
       |                row_number() OVER (PARTITION BY f.cid
       |                                   ORDER BY ${dotSql("f.cv", "g.gv")} DESC, g.gid) AS rn
       |         FROM cent f, g) WHERE rn = 1),
       |live AS (SELECT gid, gv FROM g WHERE gid IN (SELECT gid FROM fc)),
       |va AS (SELECT vec_id, embedding, gid FROM (
       |         SELECT v.vec_id, v.embedding, l.gid,
       |                row_number() OVER (PARTITION BY v.vec_id
       |                                   ORDER BY ${dotSql("v.embedding", "l.gv")} DESC, l.gid) AS rn
       |         FROM embeddings v, live l WHERE v.vec_id >= 16) WHERE rn = 1)""".stripMargin

  /** Merge table for `bpe_encode`: common English pairs, in priority
    * order; entry 2 ("th","e") consumes round-0 products — the
    * symbol-pair (not flat-string) semantics the oracle must share. */
  private val BpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))

  /** DuckDB twin of [[graft.llm.TextAnalysis.bpeEncode]]: one CTE block
    * per merge round — lead() adjacency, islands of consecutive
    * occurrence starts, keep odd ranks, absorb-and-renumber — generated
    * so the SQL stays in lockstep with the merge table. */
  private def bpeEncodeOracle(merges: Seq[(String, String)]): String = {
    val rounds = merges.zipWithIndex.map { case ((l, r), k) =>
      s"""wn$k AS (SELECT word, freq, i, s, lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt FROM st$k),
         |kept$k AS (SELECT word, i FROM (
         |    SELECT word, i, row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rr FROM (
         |      SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
         |      FROM wn$k WHERE s = '$l' AND nxt = '$r')) WHERE rr % 2 = 1),
         |st${k + 1} AS (SELECT word, freq, row_number() OVER (PARTITION BY word ORDER BY oi) AS i, s FROM (
         |    SELECT a.word, a.freq, a.i AS oi,
         |           CASE WHEN k.i IS NOT NULL THEN a.s || a.nxt ELSE a.s END AS s
         |    FROM wn$k a LEFT JOIN kept$k k ON a.word = k.word AND a.i = k.i
         |                LEFT JOIN kept$k c ON a.word = c.word AND a.i = c.i + 1
         |    WHERE c.i IS NULL))""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT word, count(*) AS freq
       |           FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
       |           WHERE length(word) >= 1 GROUP BY 1),
       |st0 AS (SELECT word, freq, i, substring(word, CAST(i AS INT), 1) AS s FROM (
       |    SELECT word, freq, unnest(range(1, length(word) + 1)) AS i FROM w)),
       |$rounds
       |SELECT s AS token, CAST(sum(freq) AS BIGINT) AS n_occurrences
       |FROM st${merges.size} GROUP BY 1 ORDER BY token""".stripMargin
  }

  /** DuckDB twin of [[graft.operators.Graph.ktruss]] over the backbone
    * graph: `rounds` unrolled peel rounds, support by symmetric
    * common-neighbor counting, final support left-joined (0 for a
    * survivor whose witnesses died in the last peel). */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    def roundCte(r: Int) =
      s"""sym$r AS (SELECT u AS a, v AS b FROM e$r UNION ALL SELECT v, u FROM e$r),
         |sup$r AS (SELECT e.u, e.v, count(*) AS s
         |          FROM e$r e JOIN sym$r s1 ON s1.a = e.u
         |                     JOIN sym$r s2 ON s2.a = e.v AND s2.b = s1.b
         |          GROUP BY 1, 2)""".stripMargin
    val peels = (0 until rounds).map { r =>
      s"""${roundCte(r)},
         |e${r + 1} AS (SELECT e.u, e.v FROM e$r e
         |              JOIN sup$r sp ON sp.u = e.u AND sp.v = e.v
         |              WHERE sp.s >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""$backboneUndirectedCte,
       |e0 AS (SELECT u, v FROM und),
       |$peels,
       |${roundCte(rounds)}
       |SELECT e.u, e.v, CAST(coalesce(sp.s, 0) AS BIGINT) AS support
       |FROM e$rounds e LEFT JOIN sup$rounds sp ON sp.u = e.u AND sp.v = e.v
       |ORDER BY e.u, e.v""".stripMargin
  }

  /** DuckDB twin of [[graft.llm.Similarity.kmeansTrain]]: `rounds`
    * unrolled Lloyd iterations on the same quantized-integer grid
    * (corpus milli, centroids micro, integer-dot argmax with cid
    * tie-break, truncating sign-split means, list rebuild per round). */
  /** The trainer's CTE chain alone (`WITH corpus …, cent$rounds`), so
    * downstream oracles (trained-IVF search) can build on the trained
    * codebook without restating the rounds. */
  private def kmeansTrainCtes(rounds: Int): String = {
    val idot = "list_sum(list_transform(range(1, 65), i -> v.vm[i] * c.cm[i]))"
    val roundsSql = (0 until rounds).map { r =>
      s"""a$r AS (SELECT vec_id, vm, cid FROM (
         |    SELECT v.vec_id, v.vm, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $idot DESC, c.cid) AS rn
         |    FROM corpus v, cent$r c) WHERE rn = 1),
         |g$r AS (SELECT cid, i AS pos, CAST(sum(vm[i]) AS BIGINT) AS s, count(*) AS n
         |        FROM a$r, (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
         |m$r AS (SELECT cid, pos,
         |          CAST(CASE WHEN s < 0 THEN -((-s * 1000) // n)
         |               ELSE (s * 1000) // n END AS BIGINT) AS mm, n FROM g$r),
         |cent${r + 1} AS (SELECT cid, list(mm ORDER BY pos) AS cm FROM m$r GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH corpus AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vm
       |      FROM embeddings WHERE vec_id >= 16),
       |cent0 AS (SELECT vec_id AS cid,
       |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS cm
       |      FROM embeddings WHERE vec_id < 16),
       |$roundsSql""".stripMargin
  }

  private def kmeansTrainOracle(rounds: Int): String =
    s"""${kmeansTrainCtes(rounds)}
       |SELECT cid AS centroid_id, CAST(pos AS INTEGER) AS pos,
       |       mm AS mean_micro, n AS n_members
       |FROM m${rounds - 1} ORDER BY centroid_id, pos""".stripMargin

  /** Trained-IVF search oracle: the trainer's CTEs + corpus/query
    * assignment against the TRAINED codebook + same-cell integer-dot
    * top-k. */
  private def ivfTrainedOracle(rounds: Int, k: Int): String = {
    def assign(name: String, src: String) = {
      val idot = s"list_sum(list_transform(range(1, 65), i -> v.vm[i] * c.cm[i]))"
      s"""$name AS (SELECT vec_id, vm, cid FROM (
         |    SELECT v.vec_id, v.vm, c.cid,
         |           row_number() OVER (PARTITION BY v.vec_id
         |                              ORDER BY $idot DESC, c.cid) AS rn
         |    FROM $src v, cent$rounds c) WHERE rn = 1)""".stripMargin
    }
    val qdot = "list_sum(list_transform(range(1, 65), i -> q.vm[i] * c.vm[i]))"
    s"""${kmeansTrainCtes(rounds)},
       |corpusq AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vm
       |      FROM embeddings WHERE vec_id >= 21),
       |qs AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vm
       |      FROM embeddings WHERE vec_id BETWEEN 16 AND 20),
       |${assign("ac", "corpusq")},
       |${assign("aq", "qs")}
       |SELECT query_id, neighbor_id, centroid_id, CAST(rn AS INTEGER) AS rnk, score FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         q.cid AS centroid_id,
       |         CAST($qdot AS BIGINT) AS score,
       |         row_number() OVER (PARTITION BY q.vec_id
       |                            ORDER BY $qdot DESC, c.vec_id) AS rn
       |  FROM aq q JOIN ac c ON c.cid = q.cid AND c.vec_id <> q.vec_id)
       |WHERE rn <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Deterministic dirty-records fixture for the entity-resolution
    * family: 400 clean entities (6-letter hashed name, one of 20 cities,
    * 7-digit phone — all pure integer arithmetic on the id) plus one
    * dirty variant for every 5th entity (name truncated by one char;
    * phone kept exact for every 10th, last digit bumped otherwise). The
    * oracle replays the identical algebra in SQL, so every pair score
    * and every survivorship pick is value-exact across engines. */
  private def erRecords(s: org.apache.spark.sql.SparkSession,
                        flood: Boolean = false): org.apache.spark.sql.DataFrame = {
    val base0 = s.range(0, 400).selectExpr(
        "id",
        "(id * 2654435761L) % 308915776L AS h",
        "(id * 104729L) % 10000000L AS p")
      .selectExpr(
        "id",
        "concat(chr(97 + (h % 26)), chr(97 + ((h div 26) % 26)), " +
          "chr(97 + ((h div 676) % 26)), chr(97 + ((h div 17576) % 26)), " +
          "chr(97 + ((h div 456976) % 26)), chr(97 + ((h div 11881376) % 26))) AS name",
        "concat('c', cast((id * 7919L) % 20 AS string)) AS city",
        "lpad(cast(p AS string), 7, '0') AS phone")
    // the _hot twin: 30% of the corpus degrades to the junk name + junk
    // city every real corpus has — the (city, name-prefix) block floods
    val base = if (!flood) base0 else base0.selectExpr("id",
      "CASE WHEN id % 10 < 3 THEN 'unknown' ELSE name END AS name",
      "CASE WHEN id % 10 < 3 THEN 'cx' ELSE city END AS city", "phone")
    val variants = base.filter("id % 5 = 0").selectExpr(
      "id + 10000 AS id",
      "substring(name, 1, 5) AS name",
      "city",
      "CASE WHEN id % 10 = 0 THEN phone " +
        "ELSE lpad(cast(cast(phone AS bigint) - cast(phone AS bigint) % 10 " +
        "+ (cast(phone AS bigint) % 10 + 1) % 10 AS string), 7, '0') END AS phone")
    base.unionByName(variants)
      .withColumn("name3", expr("substring(name, 1, 3)"))
  }

  /** DuckDB replay of [[erRecords]] — `rec(id, name, city, phone)`. */
  private def erFixtureCteF(flood: Boolean): String = {
    val floodCte =
      if (!flood) "base AS (SELECT * FROM base0)"
      else """base AS (SELECT id,
             |    CASE WHEN id % 10 < 3 THEN 'unknown' ELSE name END AS name,
             |    CASE WHEN id % 10 < 3 THEN 'cx' ELSE city END AS city, phone
             |  FROM base0)""".stripMargin
    s"""WITH ids AS (SELECT unnest(range(0, 400)) AS id),
       |hp AS (SELECT id, (id * 2654435761) % 308915776 AS h,
       |              (id * 104729) % 10000000 AS p FROM ids),
       |base0 AS (SELECT id,
       |    chr((97 + (h % 26))::int) || chr((97 + ((h // 26) % 26))::int) ||
       |    chr((97 + ((h // 676) % 26))::int) || chr((97 + ((h // 17576) % 26))::int) ||
       |    chr((97 + ((h // 456976) % 26))::int) || chr((97 + ((h // 11881376) % 26))::int) AS name,
       |    'c' || CAST((id * 7919) % 20 AS VARCHAR) AS city,
       |    lpad(CAST(p AS VARCHAR), 7, '0') AS phone
       |  FROM hp),
       |$floodCte,
       |var AS (SELECT id + 10000 AS id, substring(name, 1, 5) AS name, city,
       |    CASE WHEN id % 10 = 0 THEN phone
       |         ELSE lpad(CAST(CAST(phone AS BIGINT) - CAST(phone AS BIGINT) % 10
       |              + (CAST(phone AS BIGINT) % 10 + 1) % 10 AS VARCHAR), 7, '0') END AS phone
       |  FROM base WHERE id % 5 = 0),
       |rec AS (SELECT * FROM base UNION ALL SELECT * FROM var)""".stripMargin
  }
  private val erFixtureCte = erFixtureCteF(flood = false)

  /** Candidate + Fellegi–Sunter scoring CTEs shared by the ER oracles
    * (multi-pass blocking: city+name-3-prefix UNION exact phone). */
  private val erMatchCte =
    s"""$erFixtureCte,
       |cand AS (SELECT a.id AS id_a, b.id AS id_b FROM rec a JOIN rec b
       |           ON a.city = b.city
       |          AND substring(a.name, 1, 3) = substring(b.name, 1, 3)
       |          AND a.id < b.id
       |         UNION
       |         SELECT a.id, b.id FROM rec a JOIN rec b
       |           ON a.phone = b.phone AND a.id < b.id),
       |sc AS (SELECT c.id_a, c.id_b,
       |    (CASE WHEN levenshtein(x.name, y.name) <= 2 THEN 400 ELSE -400 END
       |     + CASE WHEN x.phone = y.phone THEN 300 ELSE -200 END
       |     + CASE WHEN x.city = y.city THEN 150 ELSE -150 END) AS score_milli
       |  FROM cand c JOIN rec x ON x.id = c.id_a JOIN rec y ON y.id = c.id_b),
       |m AS (SELECT id_a, id_b, score_milli FROM sc WHERE score_milli >= 300)""".stripMargin

  /** ER passes/fields used by both er_* queries (engine side). */
  private val erPasses = Seq(Seq("city", "name3"), Seq("phone"))
  private val erFields = Seq(
    graft.operators.EntityResolution.Field("name", 2, 400, -400),
    graft.operators.EntityResolution.Field("phone", 0, 300, -200),
    graft.operators.EntityResolution.Field("city", 0, 150, -150))

  // ------------------------------------------------------------------
  // Synthetic-media fixtures of the multimodal_* queries. Each generator
  // sits next to its DuckDB twin, which re-derives the same formulas in
  // SQL: the oracle never reads a payload byte, it replays the algebra.
  // ------------------------------------------------------------------

  /** `n` synthetic media records of one mime type, record `m` carrying
    * `payload(m)` — generated in-engine, map-only. */
  private def mediaFixture(s: org.apache.spark.sql.SparkSession, n: Int, mime: String)(
      payload: Long => Array[Byte]): org.apache.spark.sql.Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    s.range(0, n).map(m => Multimodal.MediaRecord(m, payload(m), mime))
  }

  /** The pixel-grid prologue of the synthetic-image oracles: media ids
    * `0 until n` (`m`), their dims (`dims` defines `w` and `h`), and one
    * `pix(id, w, h, x, y)` row per pixel of the `xs` x `ys` window — the
    * whole image unless a fixed hash window is given. */
  private def pixelGridSql(n: Int, dims: String, xs: String = "w", ys: String = "h"): String =
    s"""WITH m AS (SELECT unnest(range(0, $n)) AS id),
       |dims AS (SELECT id, $dims FROM m),
       |xs AS (SELECT id, w, h, unnest(range($xs)) AS x FROM dims),
       |pix AS (SELECT id, w, h, x, unnest(range($ys)) AS y FROM xs)""".stripMargin

  /** DuckDB twin of `Multimodal.imageStats` over `from(id, w, h, ...)`:
    * the exact sums of the channel expressions `r`, `g`, `b`. */
  private def imageStatsSql(from: String, r: String, g: String, b: String): String =
    s"""sums AS (SELECT id, w, h,
       |           sum($r) AS r_sum,
       |           sum($g) AS g_sum,
       |           sum($b) AS b_sum
       |         FROM $from GROUP BY 1, 2, 3)
       |SELECT id AS media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels,
       |  CAST(r_sum AS BIGINT) AS r_sum, CAST(g_sum AS BIGINT) AS g_sum,
       |  CAST(b_sum AS BIGINT) AS b_sum, CAST(w * h AS BIGINT) AS n_pixels
       |FROM sums ORDER BY media_id""".stripMargin

  /** The near-dup tail over `from(id, sig)`: identical fingerprints
    * collapse to their min-id rep, then every rep pair within Hamming 5
    * — the brute force `Dedup.sigBandPairs` bands. */
  private def repPairsSql(from: String, sig: String): String =
    s"""reps AS (SELECT CAST(min(id) AS BIGINT) AS rep_id, CAST($sig AS BIGINT) AS $sig
       |         FROM $from GROUP BY $sig)
       |SELECT a.rep_id AS id_a, b.rep_id AS id_b,
       |  CAST(bit_count(xor(a.$sig, b.$sig)) AS INTEGER) AS hamming
       |FROM reps a JOIN reps b ON a.rep_id < b.rep_id
       |WHERE bit_count(xor(a.$sig, b.$sig)) <= 5
       |ORDER BY id_a, id_b""".stripMargin

  /** The gradient stills: 200 images of (8 + m % 5) x (6 + m % 4), RGB
    * (x*7 + y*13 + m, x*3 + y*5, x + y*2 + m*11) mod 256, written by
    * `encode` — the BMP and PNG boards share the pixels, so only the
    * container differs. */
  private def gradientImages(s: org.apache.spark.sql.SparkSession,
                             encode: (Int, Int, (Int, Int) => (Int, Int, Int)) => Array[Byte],
                             mime: String) =
    mediaFixture(s, 200, mime) { m =>
      encode(8 + (m % 5).toInt, 6 + (m % 4).toInt, (x, y) =>
        (((x * 7 + y * 13 + m) % 256).toInt,
          ((x * 3 + y * 5) % 256).toInt,
          ((x + y * 2 + m * 11) % 256).toInt))
    }

  /** DuckDB twin of [[gradientImages]]: its dims, its r, g, b over the
    * grid's (id, x, y), and the gray (channel mean) the hashes read. */
  private val gradientDims = "8 + id % 5 AS w, 6 + id % 4 AS h"
  private val gradientRgbSql =
    Seq("(x * 7 + y * 13 + id) % 256", "(x * 3 + y * 5) % 256", "(x + y * 2 + id * 11) % 256")
  private val gradientGraySql = gradientRgbSql.mkString("(", " + ", ") // 3")

  /** `Multimodal.aHash` of [[gradientImages]] in DuckDB: the 8x6 window
    * thresholded against its mean, `hb(id, w, h, ahash, n_set)`. */
  private val gradientAhashCte =
    s"""${pixelGridSql(200, gradientDims, "8", "6")},
       |g AS (SELECT id, w, h, x, y, $gradientGraySql AS gray FROM pix),
       |mn AS (SELECT id, sum(gray) // 48 AS mean FROM g GROUP BY 1),
       |hb AS (SELECT g.id, g.w, g.h,
       |         sum(CASE WHEN gray > mean
       |             THEN (CAST(1 AS BIGINT) << (y * 8 + x)) ELSE 0 END) AS ahash,
       |         sum(CASE WHEN gray > mean THEN 1 ELSE 0 END) AS n_set
       |       FROM g JOIN mn USING (id) GROUP BY 1, 2, 3)""".stripMargin
  private val gradientAhashOracle =
    s"""$gradientAhashCte
       |SELECT id AS media_id, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, CAST(ahash AS BIGINT) AS ahash,
       |  CAST(n_set AS BIGINT) AS n_set
       |FROM hb ORDER BY media_id""".stripMargin

  /** Block-constant RGB of the JPEG/MJPEG fixtures: channels constant per
    * `b` x `b` block (8 = one JPEG block, 16 = one 4:2:0 MCU), so the DCT
    * path round-trips bit-exactly; frame `f` (0 for stills) shifts every
    * block. */
  private def blockRgb(b: Int, m: Long, f: Int): (Int, Int) => (Int, Int, Int) = (x, y) =>
    (((m * 13 + (x / b) * 57 + (y / b) * 23 + f * 19) % 256).toInt,
      ((m * 7 + (x / b) * 31 + (y / b) * 11 + f * 5) % 256).toInt,
      ((m * 11 + (x / b) * 17 + (y / b) * 29 + f * 3) % 256).toInt)

  /** DuckDB twin of [[blockRgb]] carried through the codec's integer
    * color chain: `src` (the block formula over `pix`), the fixed-point
    * RGB -> YCbCr forward transform `ycc` and the decoder's inverse
    * `rgb(cols, r, g, b)`, each clamped to 0..255. `cols` are the grid
    * columns carried along; `frames` adds the per-frame term. */
  private def blockRgbChainSql(cols: String, b: Int, frames: Boolean): String = {
    def ft(k: Int) = if (frames) s" + f * $k" else ""
    s"""src AS (SELECT $cols,
       |          (id * 13 + (x // $b) * 57 + (y // $b) * 23${ft(19)}) % 256 AS r0,
       |          (id * 7 + (x // $b) * 31 + (y // $b) * 11${ft(5)}) % 256 AS g0,
       |          (id * 11 + (x // $b) * 17 + (y // $b) * 29${ft(3)}) % 256 AS b0
       |        FROM pix),
       |ycc AS (SELECT $cols,
       |          LEAST(255, GREATEST(0, (19595 * r0 + 38470 * g0 + 7471 * b0 + 32768) // 65536)) AS yy,
       |          LEAST(255, GREATEST(0, 128 + (-11059 * r0 - 21709 * g0 + 32768 * b0 + 32768 + 16777216) // 65536 - 256)) AS cb,
       |          LEAST(255, GREATEST(0, 128 + (32768 * r0 - 27439 * g0 - 5329 * b0 + 32768 + 16777216) // 65536 - 256)) AS cr
       |        FROM src),
       |rgb AS (SELECT $cols,
       |          LEAST(255, GREATEST(0, yy + (91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)) AS r,
       |          LEAST(255, GREATEST(0, yy - ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768 + 16777216) // 65536 - 256))) AS g,
       |          LEAST(255, GREATEST(0, yy + (116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)) AS b
       |        FROM ycc)""".stripMargin
  }

  /** [[blockRgb]] stills: 200 JPEGs, `dims(m)` = (w, h), written by
    * `encode` (baseline, progressive or 4:2:0). */
  private def blockColorImages(s: org.apache.spark.sql.SparkSession, b: Int,
                               dims: Long => (Int, Int),
                               encode: (Int, Int, (Int, Int) => (Int, Int, Int)) => Array[Byte]) =
    mediaFixture(s, 200, "image/jpeg") { m =>
      val (w, h) = dims(m)
      encode(w, h, blockRgb(b, m, 0))
    }

  /** DuckDB twin of `imageStats` over [[blockColorImages]]. */
  private def blockColorStatsOracle(b: Int, dims: String): String =
    s"""${pixelGridSql(200, dims)},
       |${blockRgbChainSql("id, w, h", b, frames = false)},
       |${imageStatsSql("rgb", "r", "g", "b")}""".stripMargin

  /** [[blockRgb]] MJPEG clips: 60 AVIs, `dims(m)` = (w, h, n_frames),
    * written by `encode` (4:4:4 or 4:2:0 frames). */
  private def blockColorClips(s: org.apache.spark.sql.SparkSession, b: Int,
                              dims: Long => (Int, Int, Int),
                              encode: (Int, Int, Int, Int => (Int, Int) => (Int, Int, Int)) => Array[Byte]) =
    mediaFixture(s, 60, "video/x-msvideo") { m =>
      val (w, h, nf) = dims(m)
      encode(w, h, nf, f => blockRgb(b, m, f))
    }

  /** DuckDB twin of `videoFrameStats(every = 2)` over [[blockColorClips]]
    * (`dims` defines `w`, `h` and `nf`). */
  private def blockColorClipStatsOracle(b: Int, dims: String): String =
    s"""WITH m AS (SELECT unnest(range(0, 60)) AS id),
       |v AS (SELECT id, $dims FROM m),
       |fr AS (SELECT id, w, h, nf, unnest(range(0, nf, 2)) AS f FROM v),
       |xs AS (SELECT id, w, h, nf, f, unnest(range(w)) AS x FROM fr),
       |pix AS (SELECT id, w, h, nf, f, x, unnest(range(h)) AS y FROM xs),
       |${blockRgbChainSql("id, w, h, nf, f", b, frames = true)},
       |sums AS (SELECT id, w, h, nf, f, sum(r) AS r_sum, sum(g) AS g_sum,
       |           sum(b) AS b_sum FROM rgb GROUP BY 1, 2, 3, 4, 5)
       |SELECT id AS media_id, CAST(nf AS INTEGER) AS n_frames,
       |  CAST(f AS INTEGER) AS frame_idx, CAST(w AS INTEGER) AS width,
       |  CAST(h AS INTEGER) AS height, CAST(r_sum AS BIGINT) AS r_sum,
       |  CAST(g_sum AS BIGINT) AS g_sum, CAST(b_sum AS BIGINT) AS b_sum
       |FROM sums ORDER BY media_id, frame_idx""".stripMargin

  /** Interleaved MJPEG + PCM AVIs: 60 clips of (9 + m % 6) x (7 + m % 5)
    * x (5 + m % 4) frames of 8x8 [[blockRgb]], each frame with a
    * 400-sample 8 kHz slice of the ramp (i*a + m*17) mod 2048 - 1024,
    * a = m % 7 + 3, i counted across the clip. Each oracle replays the
    * stream it reads. */
  private def avClips(s: org.apache.spark.sql.SparkSession) =
    mediaFixture(s, 60, "video/x-msvideo") { m =>
      val a = (m % 7).toInt + 3
      Multimodal.encodeAviMjpegPcm(9 + (m % 6).toInt, 7 + (m % 5).toInt, 5 + (m % 4).toInt,
        f => blockRgb(8, m, f),
        sampleRate = 8000, samplesPerFrame = 400,
        f => i => (((f * 400 + i).toLong * a + m * 17) % 2048 - 1024).toInt)
    }

  /** Gray Y4M clips: 60 of (8 + m % 5) x (6 + m % 4), `nf(m)` frames of
    * `gray(m, f)(x, y)`; each oracle replays its own gray formula. */
  private def y4mClips(s: org.apache.spark.sql.SparkSession, nf: Long => Int,
                       gray: (Long, Int) => (Int, Int) => Int) =
    mediaFixture(s, 60, "video/x-yuv4mpeg") { m =>
      Multimodal.encodeY4m(8 + (m % 5).toInt, 6 + (m % 4).toInt, nf(m), f => gray(m, f))
    }

  /** Gray level of sample (x, y) of frame f of the shot fixtures' clip m:
    * a gradient whose structure changes every 4 frames. Its DuckDB twin is
    * [[videoShotsOracle]]'s `g`. */
  private def shotGray(m: Long, f: Int, x: Int, y: Int): Int =
    (x * (3 + ((f / 4) % 5) * 2) + y * (7 + ((f / 4) % 3) * 4) + m.toInt) % 256

  /** Shot boundaries of a frame-hash stream `(media_id, frame_idx, ahash)`:
    * each frame whose hash differs from its clip's previous frame, with
    * the Hamming distance. */
  private def shotBoundaries(frames: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("prev", lag(col("ahash"), 1).over(wm))
      .filter(col("prev").isNotNull)
      .withColumn("hamming", expr("bit_count(ahash ^ prev)").cast("long"))
      .filter(col("hamming") > 0)
      .select(col("media_id"), col("frame_idx"), col("hamming"))
      .orderBy("media_id", "frame_idx")
  }

  /** DuckDB twin of the shot rows: 60 clips of 8 + id % 5 frames of
    * [[shotGray]] over an 8x6 sample grid, each frame's packed aHash
    * `hb(id, f, ahash)`, and [[shotBoundaries]] over it. */
  private val videoShotsOracle =
    """WITH m AS (SELECT unnest(range(0, 60)) AS id),
      |v AS (SELECT id, 8 + id % 5 AS nf FROM m),
      |fr AS (SELECT id, nf, unnest(range(nf)) AS f FROM v),
      |xs AS (SELECT id, f, unnest(range(8)) AS x FROM fr),
      |pix AS (SELECT id, f, x, unnest(range(6)) AS y FROM xs),
      |g AS (SELECT id, f, x, y,
      |        (x * (3 + ((f // 4) % 5) * 2)
      |         + y * (7 + ((f // 4) % 3) * 4) + id) % 256 AS gray FROM pix),
      |mn AS (SELECT id, f, sum(gray) // 48 AS mean FROM g GROUP BY 1, 2),
      |hb AS (SELECT g.id, g.f,
      |         CAST(sum(CASE WHEN gray > mean
      |             THEN (CAST(1 AS BIGINT) << (y * 8 + x)) ELSE 0 END) AS BIGINT) AS ahash
      |       FROM g JOIN mn USING (id, f) GROUP BY 1, 2),
      |lg AS (SELECT id, f, ahash,
      |         lag(ahash) OVER (PARTITION BY id ORDER BY f) AS prev FROM hb)
      |SELECT id AS media_id, CAST(f AS INTEGER) AS frame_idx,
      |  CAST(bit_count(xor(ahash, prev)) AS BIGINT) AS hamming
      |FROM lg WHERE prev IS NOT NULL AND bit_count(xor(ahash, prev)) > 0
      |ORDER BY media_id, frame_idx""".stripMargin

  /** The PCM ramp: 200 mono 16-bit 8 kHz WAVs, media m playing the ramp
    * of `seed(m)` — (2000 + seed % 5 * 400) samples of
    * (i*a + seed*17) mod 2048 - 1024, a = seed % 7 + 3. */
  private def rampWavs(s: org.apache.spark.sql.SparkSession, seed: Long => Long = m => m) =
    mediaFixture(s, 200, "audio/wav") { m =>
      val sd = seed(m)
      val n = 2000 + (sd % 5).toInt * 400
      val a = (sd % 7).toInt + 3
      Multimodal.encodeWavPcm16(8000, Array.tabulate(n)(i =>
        (((i.toLong * a + sd * 17) % 2048) - 1024).toShort))
    }

  /** DuckDB twin of [[rampWavs]] seeded by id: `smp(id, n, a, i)`, one row
    * per sample. */
  private val rampSamplesSql =
    """WITH m AS (SELECT unnest(range(0, 200)) AS id),
      |par AS (SELECT id, 2000 + (id % 5) * 400 AS n, id % 7 + 3 AS a FROM m),
      |smp AS (SELECT id, n, a, unnest(range(n)) AS i FROM par)""".stripMargin

  /** DuckDB twin of `Multimodal.audioStats` over `s(id, n, i, v)` — or of
    * `audioChannelStats` over `s(id, n, c, i, v)` when `nChannels` > 0:
    * peak, floor-sqrt RMS and sign-change zero crossings, all integer. */
  private def pcmStatsSql(rate: Int, nChannels: Int = 0): String = {
    val ch = nChannels > 0
    val key = if (ch) "id, c" else "id"
    val chCols = if (ch) s" CAST(c AS INTEGER) AS channel,\n  CAST($nChannels AS INTEGER) AS n_channels," else ""
    s"""sgn AS (SELECT id, n,${if (ch) " c," else ""} i, v,
       |          lag(v) OVER (PARTITION BY $key ORDER BY i) AS pv FROM s),
       |st AS (SELECT $key, any_value(n) AS n, max(abs(v)) AS peak,
       |         sum(CAST(v AS BIGINT) * v) AS sum_sq,
       |         sum(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
       |             THEN 1 ELSE 0 END) AS zc
       |       FROM sgn GROUP BY $key)
       |SELECT id AS media_id,$chCols
       |  CAST($rate AS INTEGER) AS sample_rate,
       |  CAST(n AS BIGINT) AS n_samples,
       |  CAST(n * 1000 // $rate AS BIGINT) AS duration_ms,
       |  CAST(peak AS INTEGER) AS peak,
       |  CAST(floor(sqrt(sum_sq // n)) AS BIGINT) AS rms,
       |  CAST(zc AS BIGINT) AS zero_crossings
       |FROM st ORDER BY media_id${if (ch) ", channel" else ""}""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Exact dedup: one survivor (min id) per distinct content hash.
    Q("dedup_exact", "LLM",
      (s, d) => Dedup.exact(Tables(s, d, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS dup_count
             |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin)),

    // MinHash-LSH band assignment (shingle -> minhash -> band key).
    Q("dedup_minhash_bands", "LLM",
      (s, d) => Dedup.minhashBands(Tables(s, d, "documents"), "doc_id", "text",
        shingleLen = 3, bands = 4, rowsPerBand = 2).orderBy("doc_id", "band"),
      Some(s"""$minhashSigCte
              |SELECT doc_id, band, band_key FROM bands ORDER BY doc_id, band""".stripMargin)),

    // dedup_minhash_bands' INDUCED-FLOOD twin: ~30% of the corpus replaced
    // by ONE byte-identical boilerplate page, then the SAME banding runs.
    // Banding itself is linear by construction — exactly `bands` rows per
    // document however flooded the corpus — so the hot board proves the
    // assignment stage is flood-immune (the pair-generation stages own
    // their flood story via collapseByKey; see dedup_components_hot).
    // Value-exact oracle: the same signature algebra over the remapped
    // corpus.
    Q("dedup_minhash_bands_hot", "LLM",
      (s, d) => {
        val hot = Tables(s, d, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10L)) < 3,
            lit("mirror boilerplate page shared across the whole corpus again and again"))
            .otherwise(col("text")).as("text"))
        Dedup.minhashBands(hot, "doc_id", "text",
          shingleLen = 3, bands = 4, rowsPerBand = 2).orderBy("doc_id", "band")
      },
      Some(s"""${minhashSigCte
                .replace("FROM documents", "FROM hotdocs")
                .replaceFirst("WITH ", "WITH hotdocs AS (SELECT doc_id,\n" +
                  "  CASE WHEN doc_id % 10 < 3\n" +
                  "       THEN 'mirror boilerplate page shared across the whole corpus again and again'\n" +
                  "       ELSE text END AS text FROM documents),\n")}
              |SELECT doc_id, band, band_key FROM bands ORDER BY doc_id, band""".stripMargin)),

    // MinHash-LSH banding on the xxhash64 fast path: identical plan shape
    // and signature algebra to dedup_minhash_bands, ~3× the hash
    // throughput. xxhash64 values are not reproducible in standard SQL, so
    // the oracle checks the HASH-AGNOSTIC invariants at value level
    // instead: banding is deterministic per content (byte-identical docs
    // produce byte-identical signatures, so each content group carries
    // exactly `bands` distinct (band, band_key) pairs, never more). The
    // full fast kernel still executes — the aggregate sits on top of it —
    // so the bench times the real signature work. (The md5 twin carries
    // the value-exact oracle; LlmSpec locks the two paths' structural
    // equivalence.)
    Q("dedup_minhash_bands_fast", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        Dedup.minhashBands(docs, "doc_id", "text",
            shingleLen = 3, bands = 4, rowsPerBand = 2, fastHash = true)
          .join(docs.select(col("doc_id"), md5(col("text")).as("content_hash")), "doc_id")
          .groupBy(col("content_hash"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("band"), col("band_key")).as("n_band_keys"))
          .orderBy("content_hash")
      },
      Some("""SELECT md5(text) AS content_hash,
             |       count(DISTINCT doc_id) AS n_docs,
             |       CAST(4 AS BIGINT) AS n_band_keys
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MinHash-LSH candidate pairs: bucket-join on (band, band_key) — never
    // an all-pairs cross join.
    Q("dedup_minhash_pairs", "LLM",
      (s, d) => Dedup.minhashCandidatePairs(
        Dedup.minhashBands(Tables(s, d, "documents"), "doc_id", "text", 3, 4, 2), "doc_id")
        .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
        .orderBy("doc_a", "doc_b"),
      Some(s"""$minhashSigCte
              |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
              |FROM bands a JOIN bands b2 ON a.band = b2.band AND a.band_key = b2.band_key
              |WHERE a.doc_id < b2.doc_id ORDER BY doc_a, doc_b""".stripMargin)),

    // Incremental dedup index: the band table is a bucketed SINK, not a
    // per-run recomputation — build it for the first half of the corpus,
    // UPSERT the second half's bands (only the touched band partitions
    // rewrite), and read candidate pairs back from storage. The oracle is
    // the full-corpus pair set: proof that index maintenance converges to
    // the batch result, which is what makes corpus-scale dedup affordable
    // per-snapshot (re-band the delta, not the corpus).
    Q("dedup_incremental_bands", "LLM",
      (s, d) => {
        val sink = java.nio.file.Files.createTempDirectory("graft_bandix").toString
        val docs = Tables(s, d, "documents")
        def bandsOf(df: org.apache.spark.sql.DataFrame) =
          Dedup.minhashBands(df, "doc_id", "text", 3, 4, 2)
        graft.eth.Sinks.writeBucketedParquet(bandsOf(docs.filter(col("doc_id") < 250)),
          sink, bucketCol = "band", sortCols = Seq("band_key", "doc_id"))
        graft.eth.Sinks.upsertBucketedParquet(bandsOf(docs.filter(col("doc_id") >= 250)),
          sink, pkCols = Seq("doc_id", "band"), bucketCol = "band",
          sortCols = Seq("band_key", "doc_id"))
        Dedup.minhashCandidatePairs(s.read.parquet(sink), "doc_id")
          .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$minhashSigCte
              |SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
              |FROM bands a JOIN bands b2 ON a.band = b2.band AND a.band_key = b2.band_key
              |WHERE a.doc_id < b2.doc_id ORDER BY doc_a, doc_b""".stripMargin)),

    // Ingest-time near-dup flagging, batch-checked: the same
    // StreamingOps.flagNearDupsAgainstIndex that runs on a readStream input
    // (StreamingSpec), here with "new" docs (id >= 250) against the index
    // of the first 250 — one match edge per shared band.
    Q("dedup_flag_against_index", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val idx = Dedup.minhashBands(docs.filter(col("doc_id") < 250),
          "doc_id", "text", 3, 4, 2)
        StreamingOps.flagNearDupsAgainstIndex(docs.filter(col("doc_id") >= 250), idx)
          .orderBy("doc_id", "band", "matched_id")
      },
      Some(s"""$minhashSigCte
              |SELECT n.doc_id, n.band, o.doc_id AS matched_id
              |FROM bands n JOIN bands o ON n.band = o.band AND n.band_key = o.band_key
              |WHERE n.doc_id >= 250 AND o.doc_id < 250
              |ORDER BY n.doc_id, n.band, matched_id""".stripMargin)),

    // Full dedup clustering: MinHash candidates -> exact-Jaccard verify ->
    // connected components (duplicate GROUPS, not just pairs). The oracle
    // replays label propagation as a recursive transitive-closure CTE.
    Q("dedup_components", "LLM",
      (s, d) => graft.operators.ConnectedComponents.run(
          Dedup.nearDupEdges(Tables(s, d, "documents"), "doc_id", "text"),
          "id_a", "id_b")
        .orderBy("node"),
      Some(s"""$nearDupReachCte
              |SELECT n AS node, CAST(min(m) AS BIGINT) AS component FROM (
              |  SELECT a AS n, a AS m FROM e UNION ALL SELECT a, b FROM reach)
              |GROUP BY n ORDER BY node""".stripMargin)),

    // Same clustering via alternating large-star/small-star contraction
    // (O(log n) rounds — the long-diameter path) against the SAME
    // transitive-closure oracle: two algorithms, one answer.
    Q("dedup_components_star", "LLM",
      (s, d) => graft.operators.ConnectedComponents.runStarContraction(
          Dedup.nearDupEdges(Tables(s, d, "documents"), "doc_id", "text"),
          "id_a", "id_b")
        .orderBy("node"),
      Some(s"""$nearDupReachCte
              |SELECT n AS node, CAST(min(m) AS BIGINT) AS component FROM (
              |  SELECT a AS n, a AS m FROM e UNION ALL SELECT a, b FROM reach)
              |GROUP BY n ORDER BY node""".stripMargin)),

    // dedup_components' INDUCED-FLOOD twin: ~30% of the corpus is replaced
    // by ONE byte-identical boilerplate page (the mirror/spam shape that
    // makes candidate generation quadratic), then the SAME star-collapse
    // pipeline runs: the flood collapses to one representative before
    // banding, each copy contributes exactly one star edge, and the
    // quadratic pair set never exists in the plan. The ORACLE uses the
    // same algebraic identity — byte-identical texts have identical
    // shingle sets, hence identical signatures, hence pairwise J = 1 —
    // so it scores DISTINCT texts once (rep = group-min doc_id), runs the
    // recursive closure over rep-level edges only, and expands: a doc's
    // component is its rep's component (the full-graph min is the min
    // rep, because each rep IS its group's min). Node set = members of
    // size>=2 groups ∪ docs whose rep has a rep-level edge — exactly the
    // naive quadratic's edge-endpoint set. This keeps the oracle replay
    // output-sized (the r9 sf1 gate timed out on the naive form).
    Q("dedup_components_hot", "LLM",
      (s, d) => {
        val hot = Tables(s, d, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10L)) < 3,
            lit("mirror boilerplate page shared across the whole corpus again and again"))
            .otherwise(col("text")).as("text"))
        graft.operators.ConnectedComponents.run(
            Dedup.nearDupEdges(hot, "doc_id", "text"), "id_a", "id_b")
          .orderBy("node")
      },
      Some(s"""${nearDupReachCte
                .replace("FROM documents", "FROM repdocs")
                .replaceFirst("WITH RECURSIVE ", "WITH RECURSIVE hotdocs AS (SELECT doc_id,\n" +
                  "  CASE WHEN doc_id % 10 < 3\n" +
                  "       THEN 'mirror boilerplate page shared across the whole corpus again and again'\n" +
                  "       ELSE text END AS text FROM documents),\n" +
                  "dd AS (SELECT text, min(doc_id) AS rep FROM hotdocs GROUP BY text),\n" +
                  "grp AS (SELECT h.doc_id, r.rep FROM hotdocs h JOIN dd r USING (text)),\n" +
                  "repdocs AS (SELECT rep AS doc_id, text FROM dd),\n")},
              |repcomp AS (SELECT n AS rep, CAST(min(m) AS BIGINT) AS component FROM (
              |  SELECT a AS n, a AS m FROM e UNION ALL SELECT a, b FROM reach) GROUP BY n),
              |gsz AS (SELECT rep, count(*) AS sz FROM grp GROUP BY rep)
              |SELECT g.doc_id AS node,
              |       coalesce(rc.component, CAST(g.rep AS BIGINT)) AS component
              |FROM grp g LEFT JOIN repcomp rc ON rc.rep = g.rep
              |JOIN gsz z ON z.rep = g.rep
              |WHERE rc.rep IS NOT NULL OR z.sz >= 2
              |ORDER BY node""".stripMargin)),

    // Quality-aware survivor selection: per near-dup component keep the
    // HIGHEST-quality member (longest doc, id tie-break) — the SemDeDup
    // paper's policy, vs the min-id rule of dedup_corpus_survivors. The
    // per-component argmax is a window over components (bounded groups),
    // never a corpus sort.
    Q("dedup_best_survivors", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val comp = graft.operators.ConnectedComponents.run(
          Dedup.nearDupEdges(docs, "doc_id", "text"), "id_a", "id_b")
        val grouped = docs.join(comp, docs("doc_id") === comp("node"), "left")
          .select(col("doc_id"), col("n_chars"),
            coalesce(col("component"), col("doc_id")).as("component"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("component"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        grouped.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("component"), col("doc_id").as("survivor_id"), col("n_chars"))
          .orderBy("component")
      },
      Some(s"""$nearDupCompCte,
              |grp AS (SELECT d.doc_id, d.n_chars, coalesce(c.component, d.doc_id) AS component
              |        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
              |rk AS (SELECT component, doc_id, n_chars,
              |         row_number() OVER (PARTITION BY component
              |                            ORDER BY n_chars DESC, doc_id) AS rn
              |       FROM grp)
              |SELECT component, doc_id AS survivor_id, n_chars FROM rk
              |WHERE rn = 1 ORDER BY component""".stripMargin)),

    // The dedup END PRODUCT a pipeline user runs: clusters -> one survivor
    // per duplicate group (the min-id representative; docs in no group keep
    // themselves) -> per-source keep/drop accounting. Everything upstream
    // (bands, candidates, Jaccard verify, components) is the operators
    // above composed unchanged.
    Q("dedup_corpus_survivors", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val comp = graft.operators.ConnectedComponents.run(
          Dedup.nearDupEdges(docs, "doc_id", "text"), "id_a", "id_b")
        val keep = col("component").isNull || col("component") === col("doc_id")
        docs.join(comp, docs("doc_id") === comp("node"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
            sum(when(keep, col("doc_id")).otherwise(0L)).as("kept_id_sum"))
          .orderBy("source")
      },
      Some(s"""$nearDupCompCte
              |SELECT d.source, count(*) AS n_docs,
              |       CAST(sum(CASE WHEN c.component IS NULL OR c.component = d.doc_id
              |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |       CAST(sum(CASE WHEN c.component IS NULL OR c.component = d.doc_id
              |                     THEN d.doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
              |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SimHash 16-bit signature (one md5 per token; bit j of the base hash
    // is the vote for signature bit j).
    Q("dedup_simhash", "LLM",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          transform(tokens(col("text")), t => md5Long(t)).as("__tb"))
        .select(col("doc_id"), Dedup.simhashFromBases(col("__tb"), 16).as("simhash16"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  CAST(list_sum(list_transform(range(0, 16), j ->
             |    CASE WHEN list_sum(list_transform(str_split(text, ' '), tok ->
             |           CASE WHEN (${md5LongSql("tok")} >> j) & 1 = 1
             |                THEN 1 ELSE -1 END)) > 0
             |         THEN CAST(2**j AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash16
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // SimHash on the xxhash64 fast path: same flag discipline — the oracle
    // pins the hash-agnostic invariants (one signature per distinct
    // content, signatures in [0, 2^16)) while the full fast kernel runs
    // under the aggregate; the md5 twin is value-exact.
    Q("dedup_simhash_fast", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        docs.select(col("doc_id"), md5(col("text")).as("content_hash"),
            transform(tokens(col("text")),
              t => graft.functions.ColumnFns.fastLong60(t)).as("__tb"))
          .select(col("doc_id"), col("content_hash"),
            Dedup.simhashFromBases(col("__tb"), 16).as("__sig"))
          .groupBy(col("content_hash"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(col("__sig")).as("n_sigs"),
            (min(col("__sig")) >= 0 && max(col("__sig")) < 65536).as("in_range"))
          .orderBy("content_hash")
      },
      Some("""SELECT md5(text) AS content_hash,
             |       count(DISTINCT doc_id) AS n_docs,
             |       CAST(1 AS BIGINT) AS n_sigs, TRUE AS in_range
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SimHash Hamming-distance dedup: 32-bit signatures split into 4
    // 8-bit chunks (256 buckets per band — the bucket population,
    // u/256 over DISTINCT signatures, is what keeps the pair expansion
    // bounded; see simhashBandPairs' sizing note); sigs sharing any chunk
    // are candidates (pigeonhole — exact recall for hamming <= 3), each
    // candidate pays one bit_count(xor) filter, and doc ids re-enter only
    // in the output-sized expansion (identical-copy floods never reach
    // the buckets — the sf1 scale gate measured the uncollapsed form at
    // 117 s vs 8 s collapsed on a 10x-tiled corpus). Never an all-pairs
    // scan.
    Q("dedup_simhash_hamming", "LLM",
      (s, d) => Dedup.simhashBandPairs(Tables(s, d, "documents"),
          "doc_id", "text", bits = 32, bands = 4, maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sg AS (SELECT doc_id,
             |  CAST(list_sum(list_transform(range(0, 32), j ->
             |    CASE WHEN list_sum(list_transform(str_split(text, ' '), tok ->
             |           CASE WHEN (${md5LongSql("tok")} >> j) & 1 = 1
             |                THEN 1 ELSE -1 END)) > 0
             |         THEN CAST(2**j AS BIGINT) ELSE 0 END)) AS BIGINT) AS sig
             |FROM documents),
             |bd AS (SELECT doc_id, sig, b.band, (sig >> (b.band * 8)) & 255 AS band_key
             |       FROM sg, (SELECT unnest(range(0, 4)) AS band) b),
             |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
             |         FROM bd a JOIN bd c
             |           ON a.band = c.band AND a.band_key = c.band_key AND a.doc_id < c.doc_id)
             |SELECT id_a, id_b, CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
             |FROM cand JOIN sg sa ON id_a = sa.doc_id JOIN sg sb ON id_b = sb.doc_id
             |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // N-gram Jaccard over a coarse (source, lang) bucket — scale-safe via
    // the per-bucket cap: only the 8 lowest doc_ids per bucket are paired
    // and every pair carries the bucket's drop count. (At sf0.01 several
    // buckets exceed 8 docs, so the truncation path IS oracle-exercised.)
    Q("dedup_ngram_jaccard", "LLM",
      (s, d) => Dedup.ngramJaccardPairs(Tables(s, d, "documents"),
        "doc_id", "text", Seq("source", "lang"), shingleLen = 3,
        maxBucketSize = 8)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH tk AS (SELECT doc_id, source, lang, str_split(text, ' ') AS t FROM documents),
             |d AS (SELECT doc_id, source, lang,
             |        list_distinct($wordShinglesSql) AS sh
             |      FROM tk),
             |r AS (SELECT *, row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn,
             |        count(*) OVER (PARTITION BY source, lang) AS cnt FROM d),
             |k AS (SELECT doc_id, source, lang, sh,
             |        CAST(greatest(cnt - 8, 0) AS INTEGER) AS n_bucket_dropped
             |      FROM r WHERE rn <= 8)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_intersect,
             |       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_union,
             |       CAST(CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
             |            // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS BIGINT) AS jaccard_micro,
             |       a.n_bucket_dropped
             |FROM k a JOIN k b ON a.source = b.source AND a.lang = b.lang
             |WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b""".stripMargin)),

    // Content-defined chunking (FastCDC/rsync boundary rule, word
    // granularity): boundaries open where the rolling 3-word shingle
    // hash % 8 == 0, so an edit shifts only its own chunk and later
    // boundaries re-align — the primitive behind edit-robust chunk
    // dedup and delta storage. chunk_fp is the cross-doc join key.
    Q("text_cdc_chunks", "LLM",
      (s, d) => Dedup.cdcChunks(Tables(s, d, "documents").filter(col("doc_id") < 200),
          "doc_id", "text", window = 3, modulus = 8)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH tk AS (SELECT doc_id, str_split(text, ' ') AS w
             |       FROM documents WHERE doc_id < 200),
             |pos AS (SELECT doc_id, w, unnest(range(len(w))) AS i FROM tk),
             |sh AS (SELECT doc_id, i, w,
             |        CASE WHEN i = 0 THEN 1
             |             WHEN i + 3 <= len(w) AND
             |               ${md5LongSql("array_to_string(w[(i+1):(i+3)], ' ')")} % 8 = 0
             |             THEN 1 ELSE 0 END AS b
             |      FROM pos),
             |ck AS (SELECT doc_id, i, w,
             |         sum(b) OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_id
             |       FROM sh)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  CAST(count(*) AS BIGINT) AS n_words,
             |  ${md5LongSql("string_agg(w[i + 1], ' ' ORDER BY i)")} AS chunk_fp
             |FROM ck GROUP BY doc_id, chunk_id
             |ORDER BY doc_id, chunk_id""".stripMargin)),

    // Blocked fuzzy join (record linkage): candidates share the cheap
    // (lang, source, first-word) block, then exact Levenshtein on a
    // 40-char prefix verifies each candidate inside codegen — typo-level
    // duplicate discovery that shingle Jaccard's hard token boundaries
    // miss. Blocks stay O(10), so the pair volume tracks the corpus, not
    // its square.
    Q("dedup_fuzzy_blocked", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          // first token without materializing the full split array
          // (identical on empty / leading-space / delimiter-free / null
          // inputs: both yield "" / "" / whole string / null)
          .withColumn("w1", substring_index(col("text"), " ", 1))
        Dedup.fuzzyJoinBlocked(docs, "doc_id", "text",
            Seq("lang", "source", "w1"), maxDist = 20, prefixLen = 40)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH r AS (SELECT doc_id, lang, source,
             |         string_split(text, ' ')[1] AS w1, substring(text, 1, 40) AS s
             |       FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
             |FROM r a JOIN r b
             |  ON a.lang = b.lang AND a.source = b.source AND a.w1 = b.w1
             | AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.s, b.s) <= 20
             |ORDER BY id_a, id_b""".stripMargin)),

    // EXACT all-pairs Jaccard by prefix filtering (SSJoin / Bayardo
    // AllPairs): candidates share a rarest-first prefix shingle — zero
    // false negatives by theorem, so the oracle is the exhaustive pair
    // scan and must match row-for-row. The engine side generates
    // candidates from the shortest posting lists in the corpus and
    // verifies each candidate once. The oracle's exhaustive scan runs
    // over DISTINCT texts only (identical texts ⇒ identical shingle sets
    // ⇒ J = 1 and identical cross scores — an algebraic identity, not an
    // approximation) and expands group-internal pairs (all J = 1000) and
    // qualifying cross pairs output-sized at the end, so the replay stays
    // feasible on the 10×-tiled scale fixtures where the naive |docs|²
    // form timed out.
    Q("dedup_jaccard_prefix", "LLM",
      (s, d) => Dedup.prefixFilterJaccardPairs(Tables(s, d, "documents"),
          "doc_id", "text", shingleLen = 3, thresholdMilli = 800)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH dd AS (SELECT text, min(doc_id) AS rep FROM documents GROUP BY text),
             |grp AS (SELECT d.doc_id, r.rep FROM documents d JOIN dd r USING (text)),
             |tk AS (SELECT rep AS doc_id, str_split(text, ' ') AS t FROM dd),
             |ds AS (SELECT doc_id,
             |        list_distinct($wordShinglesSql) AS sh
             |      FROM tk),
             |sc AS (SELECT a.doc_id AS ra, b.doc_id AS rb,
             |         CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_intersect,
             |         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_union
             |       FROM ds a JOIN ds b ON a.doc_id < b.doc_id),
             |hits AS (SELECT ra, rb, n_intersect, n_union FROM sc
             |         WHERE (CAST(n_intersect AS BIGINT) * 1000) // n_union >= 800),
             |cross_pairs AS (SELECT least(ga.doc_id, gb.doc_id) AS id_a,
             |         greatest(ga.doc_id, gb.doc_id) AS id_b, h.n_intersect, h.n_union
             |       FROM hits h JOIN grp ga ON ga.rep = h.ra
             |                   JOIN grp gb ON gb.rep = h.rb),
             |self_pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         CAST(len(s.sh) AS INTEGER) AS n_intersect,
             |         CAST(len(s.sh) AS INTEGER) AS n_union
             |       FROM grp a JOIN grp b ON a.rep = b.rep AND a.doc_id < b.doc_id
             |       JOIN ds s ON s.doc_id = a.rep),
             |allp AS (SELECT * FROM cross_pairs UNION ALL SELECT * FROM self_pairs)
             |SELECT id_a, id_b, n_intersect, n_union,
             |       CAST((CAST(n_intersect AS BIGINT) * 1000) // n_union AS BIGINT) AS jacc_milli
             |FROM allp ORDER BY id_a, id_b""".stripMargin)),

    // N-gram Jaccard over MinHash-LSH band buckets — the exhaustive scale
    // path. Shape (Dedup.lshJaccardScoredPairs): exact-dup floods are
    // collapsed to min-id representatives FIRST, DISTINCT candidate pairs
    // come from id-only band buckets over reps (no cap — never a silent
    // drop; the oracle is uncapped too), each rep pair is scored exactly
    // ONCE against per-doc distinct shingles joined back by id, and the
    // identical-copy pairs (J = 1.0 by definition) plus the cross-content
    // expansion are emitted output-sized at the end — a mirror flood costs
    // what its answer costs, never m² candidate work (proven at 10x
    // tiling by the sf1 scale gate).
    Q("dedup_ngram_jaccard_lsh", "LLM",
      (s, d) => Dedup.lshJaccardScoredPairs(Tables(s, d, "documents"),
          "doc_id", "text", shingleLen = 3, bands = 4, rowsPerBand = 2)
        .orderBy("id_a", "id_b"),
      Some(s"""$minhashSigCte,
              |$lshCandCte
              |SELECT id_a, id_b,
              |       CAST(len(list_intersect(x.dsh, y.dsh)) AS INTEGER) AS n_intersect,
              |       CAST(len(x.dsh) + len(y.dsh) - len(list_intersect(x.dsh, y.dsh)) AS INTEGER) AS n_union,
              |       CAST(CAST(len(list_intersect(x.dsh, y.dsh)) AS BIGINT) * 1000000
              |            // (len(x.dsh) + len(y.dsh) - len(list_intersect(x.dsh, y.dsh))) AS BIGINT) AS jaccard_micro
              |FROM cand JOIN ds x ON x.doc_id = id_a JOIN ds y ON y.doc_id = id_b
              |ORDER BY id_a, id_b""".stripMargin)),

    // Asymmetric containment over the same LSH candidates: |A∩B|/|A| vs
    // |A∩B|/|B| in integer milli-units — catches a document CONTAINED in a
    // larger one (quotes, concatenations), which symmetric Jaccard dilutes
    // below any workable threshold.
    Q("dedup_containment", "LLM",
      (s, d) => Dedup.lshContainmentPairs(Tables(s, d, "documents"),
          "doc_id", "text", shingleLen = 3, bands = 4, rowsPerBand = 2,
          thresholdMilli = 800)
        .orderBy("id_a", "id_b"),
      Some(s"""$minhashSigCte,
              |$lshCandCte,
              |sc AS (SELECT id_a, id_b,
              |         CAST(len(list_intersect(x.dsh, y.dsh)) AS INTEGER) AS n_intersect,
              |         CAST(len(x.dsh) AS INTEGER) AS n_a,
              |         CAST(len(y.dsh) AS INTEGER) AS n_b
              |       FROM cand JOIN ds x ON x.doc_id = id_a JOIN ds y ON y.doc_id = id_b)
              |SELECT id_a, id_b, n_intersect, n_a, n_b,
              |       CAST((n_intersect * 1000) // n_a AS BIGINT) AS cont_a_milli,
              |       CAST((n_intersect * 1000) // n_b AS BIGINT) AS cont_b_milli
              |FROM sc
              |WHERE greatest((n_intersect * 1000) // n_a, (n_intersect * 1000) // n_b) >= 800
              |ORDER BY id_a, id_b""".stripMargin)),

    // Brute-force cosine/dot top-k: exact baseline, broadcast query set.
    Q("ann_bruteforce", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.bruteForceTopK(e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5), 10)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
              |sc AS (SELECT query_id, neighbor_id, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro FROM q, c),
              |r AS (SELECT query_id, neighbor_id, score_micro,
              |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
              |      FROM sc)
              |SELECT query_id, neighbor_id, rnk, score_micro FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // Binary-quantized ANN with exact rerank: corpus vectors pack to
    // 63-bit sign codes (256x compression), the coarse pass ranks by
    // XOR+popcount Hamming over CODES ONLY (8 bytes/row — floats never
    // shuffle), and just the top-20 coarse survivors per query are
    // re-scored exactly against full vectors joined back by id.
    Q("ann_binary_rerank", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.binaryRerankTopK(e.filter(col("vec_id") >= 5),
            e.filter(col("vec_id") < 5), k = 5, coarseK = 20)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH bc AS (SELECT vec_id, embedding,
              |  CAST(list_sum(list_transform(range(1, least(len(embedding), 63) + 1), i ->
              |    CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
              |         THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END))
              |    AS BIGINT) AS code
              |  FROM embeddings),
              |q AS (SELECT vec_id AS query_id, code AS qc, embedding AS qe FROM bc WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, code AS cc, embedding AS ce FROM bc WHERE vec_id >= 5),
              |h AS (SELECT query_id, neighbor_id, CAST(bit_count(xor(qc, cc)) AS INTEGER) AS hamming,
              |        qe, ce, row_number() OVER (PARTITION BY query_id
              |                                   ORDER BY bit_count(xor(qc, cc)), neighbor_id) AS cr
              |      FROM q, c),
              |sc AS (SELECT query_id, neighbor_id, hamming, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |       FROM h WHERE cr <= 20),
              |r AS (SELECT query_id, neighbor_id, hamming, score_micro,
              |        CAST(row_number() OVER (PARTITION BY query_id
              |                                ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
              |      FROM sc)
              |SELECT query_id, neighbor_id, hamming, rnk, score_micro
              |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // Hard-negative mining (the contrastive-training batch-mining step):
    // per query, the 5 most similar DIFFERENT-lang documents — maximally
    // confusable negatives. Label exclusion fuses into the candidate
    // scan; embeddings carry their document's label via an id equi-join.
    Q("ann_hard_negatives", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .join(Tables(s, d, "documents").select(col("doc_id"), col("lang")),
            col("vec_id") === col("doc_id"))
        Similarity.hardNegatives(e.filter(col("vec_id") >= 5),
            e.filter(col("vec_id") < 5), k = 5, labelCol = "lang")
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding, lang FROM embeddings
              |           JOIN documents ON vec_id = doc_id),
              |q AS (SELECT vec_id AS query_id, embedding AS qe, lang AS ql
              |      FROM e WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS ce, lang AS neg_lang
              |      FROM e WHERE vec_id >= 5),
              |sc AS (SELECT query_id, neighbor_id, neg_lang,
              |         CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |       FROM q, c WHERE neg_lang <> ql),
              |r AS (SELECT query_id, neighbor_id, neg_lang, score_micro,
              |        CAST(row_number() OVER (PARTITION BY query_id
              |                                ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
              |      FROM sc)
              |SELECT query_id, neighbor_id, neg_lang, rnk, score_micro
              |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // LSH-bucketed ANN: the scale path — score_micro only same-bucket pairs.
    Q("ann_lsh", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.lshTopK(e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
          dim = 64, k = 5, numPlanes = 8)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings),
              |q AS (SELECT bucket, vec_id AS query_id, embedding AS qe FROM b WHERE vec_id < 5),
              |c AS (SELECT bucket, vec_id AS neighbor_id, embedding AS ce FROM b WHERE vec_id >= 5),
              |sc AS (SELECT q.query_id, c.neighbor_id, q.bucket, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |       FROM q JOIN c ON q.bucket = c.bucket),
              |r AS (SELECT query_id, neighbor_id, bucket, score_micro,
              |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
              |      FROM sc)
              |SELECT query_id, neighbor_id, bucket, rnk, score_micro FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // Multi-probe LSH ANN (Lv et al. 2007): each query also probes the two
    // buckets reached by flipping its smallest-|margin| sign bits — recall
    // of a coarser table without growing the corpus index; probe count
    // scales the (broadcast) query side only. Same bucketed index, one
    // equi-join, per-query top-k window.
    Q("ann_multiprobe_lsh", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.multiProbeLshTopK(
            e.filter(col("vec_id") >= 5), e.filter(col("vec_id") < 5),
            dim = 64, k = 5, numPlanes = 8, nProbes = 3)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings),
              |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 5),
              |c AS (SELECT bucket, vec_id AS neighbor_id, embedding AS ce FROM b WHERE vec_id >= 5),
              |qm AS (SELECT query_id, p, list_sum(list_transform(range(1, 65), i ->
              |         CAST(qe[i] AS DOUBLE) *
              |         (CASE WHEN ${md5LongSql("CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)")} % 2 = 1
              |               THEN 1.0 ELSE -1.0 END))) AS dp
              |       FROM q, range(0, 8) t(p)),
              |qr AS (SELECT query_id, p,
              |         row_number() OVER (PARTITION BY query_id
              |           ORDER BY CAST(round(abs(dp) * 1e6) AS BIGINT), p) AS rn
              |       FROM qm),
              |probes AS (SELECT query_id, bucket FROM q
              |           UNION ALL
              |           SELECT qr.query_id, xor(q.bucket, CAST(2**qr.p AS BIGINT))
              |           FROM qr JOIN q USING (query_id) WHERE qr.rn <= 2),
              |sc AS (SELECT q.query_id, c.neighbor_id, c.bucket, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |       FROM probes pr JOIN q ON q.query_id = pr.query_id
              |            JOIN c ON c.bucket = pr.bucket),
              |r AS (SELECT query_id, neighbor_id, bucket, score_micro,
              |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
              |      FROM sc)
              |SELECT query_id, neighbor_id, bucket, rnk, score_micro FROM r
              |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // ANN quality audit: recall@10 of the LSH tier against the brute-force
    // ground truth — the evaluation loop that tunes numPlanes/k before a
    // corpus-scale run. Left join of the two top-k sets on
    // (query, neighbor); one count per query; single final division.
    Q("ann_recall_at_k", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val qs = e.filter(col("vec_id") < 5)
        val cand = e.filter(col("vec_id") >= 5)
        val bf = Similarity.bruteForceTopK(cand, qs, 10)
          .select(col("query_id"), col("neighbor_id"))
        val lsh = Similarity.lshTopK(cand, qs, dim = 64, k = 10, numPlanes = 8)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
        bf.join(lsh, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(col("__hit")).as("n_hit"))
          .select(col("query_id"), col("n_hit"),
            (col("n_hit") * lit(100000L)).as("recall_micro"))
          .orderBy("query_id")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
              |sc AS (SELECT query_id, neighbor_id, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro FROM q, c),
              |bf AS (SELECT query_id, neighbor_id FROM (
              |         SELECT query_id, neighbor_id,
              |                row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk
              |         FROM sc) WHERE rnk <= 10),
              |bk AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings),
              |lq AS (SELECT bucket, vec_id AS query_id, embedding AS qe FROM bk WHERE vec_id < 5),
              |lc AS (SELECT bucket, vec_id AS neighbor_id, embedding AS ce FROM bk WHERE vec_id >= 5),
              |lsc AS (SELECT lq.query_id, lc.neighbor_id, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |        FROM lq JOIN lc ON lq.bucket = lc.bucket),
              |lsh AS (SELECT query_id, neighbor_id FROM (
              |          SELECT query_id, neighbor_id,
              |                 row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk
              |          FROM lsc) WHERE rnk <= 10)
              |SELECT bf.query_id, count(lsh.neighbor_id) AS n_hit,
              |       CAST(count(lsh.neighbor_id) * 100000 AS BIGINT) AS recall_micro
              |FROM bf LEFT JOIN lsh
              |  ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Embedding-cosine near-dup pairs: LSH buckets -> within-bucket pairs ->
    // cosine threshold. The dedup flavor of ANN.
    Q("dedup_embedding_cosine", "LLM",
      (s, d) => Dedup.embeddingNearDupPairs(Tables(s, d, "embeddings"),
        dim = 64, threshold = 0.1).orderBy("id_a", "id_b"),
      Some {
        def cosMicro(x: String, y: String) =
          cosineMicroSql(dotSql(x, y), dotSql(x, x), dotSql(y, y))
        s"""WITH b AS (SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket FROM embeddings)
           |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
           |       ${cosMicro("a.embedding", "b2.embedding")} AS cosine_micro
           |FROM b a JOIN b b2 ON a.bucket = b2.bucket
           |WHERE a.vec_id < b2.vec_id
           |  AND ${cosMicro("a.embedding", "b2.embedding")} >= 100000
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // IVF ANN (nprobe=1): centroid assignment by broadcast argmax, search
    // within the query's cell only.
    Q("ann_ivf", "LLM",
      (s, d) => ivfTop5(s, d, nprobe = 1).orderBy("query_id", "rnk"),
      Some(ivfOracle(nprobe = 1))),

    // IVF with multi-cell probing (nprobe=2): the recall/cost knob — each
    // query searches its 2 nearest cells; candidates live in exactly one
    // cell, so probed cells are disjoint and cost is linear in nprobe.
    Q("ann_ivf_nprobe", "LLM",
      (s, d) => ivfTop5(s, d, nprobe = 2).orderBy("query_id", "rnk"),
      Some(ivfOracle(nprobe = 2))),

    // Hierarchical IVF assignment (coarse quantizer -> within-cell argmax):
    // the k ∝ n scale path — √k coarse centroids broadcast, fine centroids
    // equi-joined on the coarse cell, per-row argmax folds (no window, no
    // corpus shuffle).
    Q("ann_ivf_hier", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.ivfAssignHier(e.filter(col("vec_id") >= 16),
            e.filter(col("vec_id") < 16), numCoarse = 4)
          .select(col("vec_id"), col("coarse_id"), col("centroid_id"))
          .orderBy("vec_id")
      },
      Some {
        s"""$ivfHierCte
           |SELECT vec_id, gid AS coarse_id, cid AS centroid_id FROM (
           |  SELECT va.vec_id, va.gid, fc.cid,
           |         row_number() OVER (PARTITION BY va.vec_id
           |                            ORDER BY ${dotSql("va.embedding", "fc.cv")} DESC, fc.cid) AS rn
           |  FROM va JOIN fc ON va.gid = fc.gid) WHERE rn = 1
           |ORDER BY vec_id""".stripMargin
      }),

    // IVF top-k search over the hierarchical assignment: the full k ∝ n
    // index path — both sides assigned coarse→fine, search an equi-join
    // on the fine cell.
    Q("ann_ivf_hier_topk", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.ivfTopKHier(
          e.filter(col("vec_id") >= 21),
          e.filter(col("vec_id").between(16, 20)),
          e.filter(col("vec_id") < 16), numCoarse = 4, k = 5)
          .orderBy("query_id", "rnk")
      },
      Some {
        s"""$ivfHierCte,
           |fa AS (SELECT vec_id, embedding, cid FROM (
           |        SELECT va.vec_id, va.embedding, fc.cid,
           |               row_number() OVER (PARTITION BY va.vec_id
           |                                  ORDER BY ${dotSql("va.embedding", "fc.cv")} DESC, fc.cid) AS rn
           |        FROM va JOIN fc ON va.gid = fc.gid) WHERE rn = 1),
           |qa AS (SELECT vec_id AS query_id, embedding AS qe, cid FROM fa WHERE vec_id BETWEEN 16 AND 20),
           |ca AS (SELECT vec_id AS neighbor_id, embedding AS ce, cid FROM fa WHERE vec_id >= 21),
           |sc AS (SELECT qa.query_id, ca.neighbor_id, qa.cid AS centroid_id,
           |              CAST(round((${dotSql("qa.qe", "ca.ce")}) * 1000000) AS BIGINT) AS score_micro
           |       FROM qa JOIN ca ON qa.cid = ca.cid),
           |$ivfTop5Sql""".stripMargin
      }),

    // Embedding mean-pooling (chunk embeddings -> document embedding): the
    // transpose-aggregate shape — shuffle cardinality groups x dim, never
    // |vectors|; milli-unit quantization keeps it bit-deterministic.
    Q("emb_mean_pool", "LLM",
      (s, d) => Similarity.meanPool(
          Tables(s, d, "embeddings").withColumn("grp", col("vec_id") % 16), "grp")
        .orderBy("grp", "pos"),
      Some("""WITH e AS (SELECT vec_id % 16 AS grp, embedding FROM embeddings),
             |x AS (SELECT grp, p.pos AS pos,
             |        CAST(round(CAST(embedding[p.pos] AS DOUBLE) * 1000) AS BIGINT) AS mv
             |      FROM e, (SELECT unnest(range(1, 65)) AS pos) p)
             |SELECT grp, CAST(pos AS INTEGER) AS pos,
             |       CAST(CASE WHEN sum(mv) < 0 THEN -((-sum(mv) * 1000) // count(*))
             |                 ELSE (sum(mv) * 1000) // count(*) END AS BIGINT) AS mean_micro,
             |       count(*) AS n_pooled
             |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // One k-means update step (spherical): broadcast-argmax assignment +
    // transpose-aggregate centroid recompute — the iterative-ML primitive
    // behind IVF index training, in its bounded-shuffle distributed form.
    Q("ann_kmeans_step", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.kmeansStep(e.filter(col("vec_id") >= 16),
            e.filter(col("vec_id") < 16))
          .orderBy("centroid_id", "pos")
      },
      Some {
        s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |a AS (SELECT vec_id, embedding, cid FROM (
           |        SELECT v.vec_id, v.embedding, c.cid,
           |               row_number() OVER (PARTITION BY v.vec_id
           |                                  ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
           |        FROM embeddings v, cent c WHERE v.vec_id >= 16) WHERE rn = 1),
           |e AS (SELECT cid, i AS pos,
           |             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS mv
           |      FROM a, (SELECT unnest(range(1, 65)) AS i)),
           |g AS (SELECT cid AS centroid_id, pos, CAST(sum(mv) AS BIGINT) AS s, count(*) AS n_members
           |      FROM e GROUP BY 1, 2)
           |SELECT centroid_id, CAST(pos AS INTEGER) AS pos,
           |       CAST(CASE WHEN s < 0 THEN -((-s * 1000) // n_members)
           |                 ELSE (s * 1000) // n_members END AS BIGINT) AS mean_micro,
           |       n_members
           |FROM g ORDER BY centroid_id, pos""".stripMargin
      }),

    // The full 2-round k-means training loop: centroids carry between
    // rounds; assignment on quantized integer dots so round-1 argmax
    // ties cannot cascade into cross-engine divergence.
    Q("ann_kmeans_train", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.kmeansTrain(e.filter(col("vec_id") >= 16),
            e.filter(col("vec_id") < 16), rounds = 2)
          .orderBy("centroid_id", "pos")
      },
      Some(kmeansTrainOracle(2))),

    // End-to-end trained-codebook IVF: 2 Lloyd rounds produce the
    // centroids, corpus AND queries assign against the trained codebook
    // on the same integer grid, search is same-cell integer-dot top-5 —
    // the full index-build -> search pipeline in one plan.
    Q("ann_ivf_trained", "LLM",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, d, "embeddings")
        val trained = Similarity.kmeansTrain(e.filter(col("vec_id") >= 16),
          e.filter(col("vec_id") < 16), rounds = 2)
        val cents = trained.groupBy(col("centroid_id").as("cid"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, mean_micro)))," +
            " s -> s.mean_micro)").as("__cm"))
        def prep(df: org.apache.spark.sql.DataFrame) =
          df.select(col("vec_id"), Similarity.milliVec("embedding").as("__vm"))
        val ac = Similarity.quantizedAssign(prep(e.filter(col("vec_id") >= 21)), cents)
          .select(col("vec_id").as("neighbor_id"), col("__vm").as("__cv"), col("cid"))
        val aq = Similarity.quantizedAssign(
            prep(e.filter(col("vec_id").between(16, 20))), cents)
          .select(col("vec_id").as("query_id"), col("__vm").as("__qv"), col("cid"))
        val scored = aq.join(ac, Seq("cid"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("score", expr(
            "aggregate(zip_with(__qv, __cv, (a, b) -> a * b)," +
              " cast(0 as bigint), (acc, x) -> acc + x)"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("query_id"), col("neighbor_id"),
            col("cid").as("centroid_id"), col("rnk"), col("score"))
          .orderBy("query_id", "rnk")
      },
      Some(ivfTrainedOracle(rounds = 2, k = 5))),

    // Corpus n-gram statistics: top word-trigrams per language.
    Q("text_ngram_freq", "LLM",
      (s, d) => TextAnalysis.topNgrams(Tables(s, d, "documents"), "lang", "text",
        n = 3, k = 5).orderBy("lang", "rnk"),
      Some(s"""WITH tk AS (SELECT lang, str_split(text, ' ') AS t FROM documents),
             |t AS (SELECT lang, unnest($wordShinglesSql) AS ngram FROM tk),
             |c AS (SELECT lang, ngram, count(*) AS n FROM t GROUP BY 1, 2)
             |SELECT lang, CAST(rn AS INTEGER) AS rnk, ngram, n FROM (
             |  SELECT lang, ngram, n,
             |         row_number() OVER (PARTITION BY lang ORDER BY n DESC, ngram) AS rn
             |  FROM c) WHERE rn <= 5 ORDER BY lang, rnk""".stripMargin)),

    // One BPE merge-selection step: top-25 adjacent character pairs by
    // corpus frequency, counted over the DISTINCT-word frequency table
    // (|vocab| rows after the first aggregate — the standard trick that
    // makes tokenizer training corpus-size-independent past one pass).
    Q("text_bpe_pairs", "LLM",
      (s, d) => TextAnalysis.bpePairCounts(Tables(s, d, "documents"), "text",
        topK = 25),
      Some("""WITH w AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents),
             |wf AS (SELECT w, count(*) AS n FROM w WHERE len(w) >= 2 GROUP BY 1),
             |p AS (SELECT unnest(list_transform(range(1, len(w)),
             |                i -> substring(w, i, 2))) AS pair, n
             |      FROM wf),
             |a AS (SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
             |      FROM p GROUP BY 1)
             |SELECT pair, n_occurrences FROM a
             |ORDER BY n_occurrences DESC, pair LIMIT 25""".stripMargin)),

    // One full BPE training step: elect the most frequent adjacent pair
    // (ties to the smaller string) and apply it greedily leftmost
    // non-overlapping to every vocabulary word — gaps-and-islands over
    // the occurrence positions (one window on the |vocab|-sized table),
    // ceil(run/2) merges per self-overlap run. The oracle replays the
    // election AND the greedy apply, so a tie-break or overlap bug on
    // either side hash-mismatches.
    Q("bpe_train_step", "LLM",
      (s, d) => TextAnalysis.bpeTrainStep(Tables(s, d, "documents"), "text")
        .orderBy("word"),
      Some("""WITH wf AS (SELECT w, count(*) AS freq FROM
             |         (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
             |       WHERE len(w) >= 2 GROUP BY 1),
             |p AS (SELECT unnest(list_transform(range(1, len(w)),
             |                i -> substring(w, CAST(i AS INTEGER), 2))) AS pair, freq
             |      FROM wf),
             |top AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
             |        FROM p GROUP BY 1
             |        ORDER BY n_occurrences DESC, pair LIMIT 1),
             |occ AS (SELECT wf.w, wf.freq, top.pair, top.n_occurrences,
             |          unnest(list_filter(range(1, len(wf.w)),
             |            i -> substring(wf.w, CAST(i AS INTEGER), 2) = top.pair)) AS pos
             |        FROM wf, top),
             |isl AS (SELECT w, freq, pair, n_occurrences,
             |          pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
             |        FROM occ),
             |runs AS (SELECT w, freq, pair, n_occurrences, grp, count(*) AS run
             |         FROM isl GROUP BY 1, 2, 3, 4, 5),
             |m AS (SELECT w, freq, pair, n_occurrences,
             |        CAST(sum((run + 1) // 2) AS BIGINT) AS n_merges
             |      FROM runs GROUP BY 1, 2, 3, 4)
             |SELECT w AS word, freq, pair, n_occurrences,
             |       CAST(len(w) AS BIGINT) AS n_chars, n_merges,
             |       CAST(len(w) - n_merges AS BIGINT) AS n_symbols_after
             |FROM m ORDER BY word""".stripMargin)),

    // The full BPE training loop, 2 fixed rounds: round 2 counts pairs of
    // round-1 MERGE PRODUCTS (symbol sequences carry between rounds), so
    // this is the real trainer, not two independent steps. The oracle
    // unrolls both rounds — election, greedy island apply, and the
    // rebuild — so a single mis-merged symbol anywhere shifts round 2's
    // counts and hash-mismatches.
    Q("bpe_train_merges", "LLM",
      (s, d) => TextAnalysis.bpeTrainMerges(Tables(s, d, "documents"),
        rounds = 2, "text").orderBy("round"),
      Some("""WITH wf AS (SELECT w, count(*) AS freq FROM
             |         (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
             |       WHERE len(w) >= 2 GROUP BY 1),
             |sy AS (SELECT w AS word, freq, unnest(range(1, len(w) + 1)) AS i0 FROM wf),
             |s1 AS (SELECT word, freq, CAST(i0 AS BIGINT) AS i,
             |         substring(word, CAST(i0 AS INTEGER), 1) AS s FROM sy),
             |p1 AS (SELECT word, freq, i, s,
             |         lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt FROM s1),
             |pp1 AS (SELECT word, freq, i, s || nxt AS pair FROM p1 WHERE nxt IS NOT NULL),
             |t1 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences FROM pp1
             |       GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 1),
             |c1 AS (SELECT pp1.word, pp1.freq, pp1.i FROM pp1 JOIN t1 USING (pair)),
             |g1 AS (SELECT word, freq, i,
             |         i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp FROM c1),
             |k1 AS (SELECT word, freq, i FROM
             |         (SELECT word, freq, i, row_number() OVER
             |            (PARTITION BY word, grp ORDER BY i) AS rr FROM g1)
             |       WHERE rr % 2 = 1),
             |st1 AS (SELECT CAST(coalesce(sum(freq), 0) AS BIGINT) AS n_merges_applied,
             |          CAST(count(DISTINCT word) AS BIGINT) AS n_words_affected FROM k1),
             |m1 AS (SELECT p1.word, p1.freq, p1.i AS oi,
             |         CASE WHEN ks.i IS NOT NULL THEN p1.s || p1.nxt ELSE p1.s END AS s
             |       FROM p1
             |       LEFT JOIN k1 ks ON ks.word = p1.word AND ks.i = p1.i
             |       LEFT JOIN k1 kc ON kc.word = p1.word AND kc.i + 1 = p1.i
             |       WHERE kc.i IS NULL),
             |m1r AS (SELECT word, freq,
             |          CAST(row_number() OVER (PARTITION BY word ORDER BY oi) AS BIGINT) AS i, s
             |        FROM m1),
             |a1 AS (SELECT CAST(coalesce(sum(freq), 0) AS BIGINT) AS n_symbols_after FROM m1r),
             |r1 AS (SELECT 1 AS round, t1.pair, t1.n_occurrences, st1.n_words_affected,
             |         st1.n_merges_applied, a1.n_symbols_after FROM t1, st1, a1),
             |p2 AS (SELECT word, freq, i, s,
             |         lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt FROM m1r),
             |pp2 AS (SELECT word, freq, i, s || nxt AS pair FROM p2 WHERE nxt IS NOT NULL),
             |t2 AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences FROM pp2
             |       GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 1),
             |c2 AS (SELECT pp2.word, pp2.freq, pp2.i FROM pp2 JOIN t2 USING (pair)),
             |g2 AS (SELECT word, freq, i,
             |         i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp FROM c2),
             |k2 AS (SELECT word, freq, i FROM
             |         (SELECT word, freq, i, row_number() OVER
             |            (PARTITION BY word, grp ORDER BY i) AS rr FROM g2)
             |       WHERE rr % 2 = 1),
             |st2 AS (SELECT CAST(coalesce(sum(freq), 0) AS BIGINT) AS n_merges_applied,
             |          CAST(count(DISTINCT word) AS BIGINT) AS n_words_affected FROM k2),
             |m2 AS (SELECT p2.word, p2.freq, p2.i AS oi,
             |         CASE WHEN ks.i IS NOT NULL THEN p2.s || p2.nxt ELSE p2.s END AS s
             |       FROM p2
             |       LEFT JOIN k2 ks ON ks.word = p2.word AND ks.i = p2.i
             |       LEFT JOIN k2 kc ON kc.word = p2.word AND kc.i + 1 = p2.i
             |       WHERE kc.i IS NULL),
             |m2r AS (SELECT word, freq,
             |          CAST(row_number() OVER (PARTITION BY word ORDER BY oi) AS BIGINT) AS i, s
             |        FROM m2),
             |a2 AS (SELECT CAST(coalesce(sum(freq), 0) AS BIGINT) AS n_symbols_after FROM m2r),
             |r2 AS (SELECT 2 AS round, t2.pair, t2.n_occurrences, st2.n_words_affected,
             |         st2.n_merges_applied, a2.n_symbols_after FROM t2, st2, a2)
             |SELECT round, pair, n_occurrences, n_words_affected, n_merges_applied,
             |       n_symbols_after
             |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) ORDER BY round""".stripMargin)),

    // Language ID via stopword-ratio heuristic.
    Q("text_langid", "LLM",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.languageId(tokens(col("text"))).as("lang_pred"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang,
             |  CASE WHEN CAST(len(list_filter(str_split(text, ' '),
             |         t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             |       / CAST(len(str_split(text, ' ')) AS DOUBLE) >= 0.05
             |       THEN 'en' ELSE 'other' END AS lang_pred
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality metrics (lengths, punctuation, stopword ratio).
    Q("text_quality", "LLM",
      (s, d) => TextAnalysis.qualityMetrics(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(length(text) AS INTEGER) AS n_chars_c,
             |  CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens,
             |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS INTEGER) AS n_punct,
             |  CAST(CAST(length(text) AS BIGINT) * 1000000 // len(str_split(text, ' ')) AS BIGINT) AS chars_per_token_micro,
             |  CAST(CAST(len(list_filter(str_split(text, ' '),
             |          t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)
             |       * 1000000 // len(str_split(text, ' ')) AS BIGINT) AS stopword_ratio_micro
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // The training-data pipeline composed end to end in ONE query plan:
    // normalize -> token-count quality gate -> exact-dedup survivors ->
    // deterministic 80/10/10 hash split -> per-(split, source) corpus
    // accounting. Everything is the operators above, unchanged — the point
    // is that the stages FUSE: one scan, a dedup aggregate, a semi-join of
    // ids, one final aggregate; nothing materializes between stages.
    Q("llm_corpus_pipeline", "LLM",
      (s, d) => {
        // gated is referenced by BOTH the dedup and the final join — pin
        // it once or the regex-heavy normalize evaluates twice (same
        // stage-boundary materialization as the v2 pipeline)
        val norm = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.normalizeText(col("text")).as("t"))
        val gated = Pin(norm.filter(size(tokens(col("t"))) >= 10))
        val survivors = Dedup.exact(gated, "doc_id", "t").select(col("doc_id"))
        val h = pmod(md5Long(col("doc_id").cast("string")), lit(100))
        gated.join(survivors, "doc_id")
          .select(col("source"),
            when(h < 80, "train").when(h < 90, "val").otherwise("test")
              .as("split_name"),
            size(tokens(col("t"))).cast("long").as("n_tok"))
          .groupBy(col("split_name"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
          .orderBy("split_name", "source")
      },
      Some(s"""WITH nm AS (SELECT doc_id, source, ${normalizeTextSql("text")} AS t
             |       FROM documents),
             |g AS (SELECT * FROM nm WHERE len(str_split(t, ' ')) >= 10),
             |sv AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(t)),
             |k AS (SELECT g.* FROM g JOIN sv USING (doc_id)),
             |sp AS (SELECT source,
             |         CASE WHEN ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
             |              WHEN ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
             |              ELSE 'test' END AS split_name,
             |         CAST(len(str_split(t, ' ')) AS BIGINT) AS n_tok
             |       FROM k)
             |SELECT split_name, source, count(*) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS tok_sum
             |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The v2 fused pipeline over THIS session's operators: normalize ->
    // global exact-percentile quality gate (1-row broadcast threshold) ->
    // exact-dedup survivors -> duplicate-span removal -> per-source
    // accounting (docs, spans removed, tokens in/out). Five stages, one
    // plan: the percentile aggregate, the dedup aggregate, and the span
    // machinery all fuse; nothing materializes between stages.
    Q("llm_corpus_pipeline_v2", "LLM",
      (s, d) => {
        // each stage output is PINNED once: the fused tree references
        // norm/gated/survivors twice each (the filter side and the join
        // side), so an unpinned plan re-evaluates the regex-heavy
        // normalize ~8x through the chain — measured 27 s -> ~11 s at
        // the 10x gate from these three checkpoints alone. This is what
        // a real pipeline does anyway: materialize stage boundaries.
        val norm = Pin(Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.normalizeText(col("text")).as("t")))
        val gated = Pin(norm.join(
          TextAnalysis.globalQualityGate(norm, "doc_id", "t", pct = 0.5)
            .select(col("doc_id")), "doc_id"))
        val survivors = Pin(gated.join(
          Dedup.exact(gated, "doc_id", "t").select(col("doc_id")), "doc_id"))
        val cleaned = Dedup.removeDuplicateSpans(survivors, "doc_id", "t", k = 5)
        survivors.join(cleaned, "doc_id")
          .select(col("source"), col("n_spans").cast("long").as("n_spans"),
            size(tokens(col("t"))).cast("long").as("tok_in"),
            when(col("cleaned") === "", 0L)
              .otherwise(size(tokens(col("cleaned"))).cast("long")).as("tok_out"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_spans")).as("n_spans"),
            sum(col("tok_in")).as("tok_in"), sum(col("tok_out")).as("tok_out"))
          .orderBy("source")
      },
      Some(s"""WITH nm AS (SELECT doc_id, source, ${normalizeTextSql("text")} AS t
             |       FROM documents),
             |m AS (SELECT doc_id,
             |        (CAST(len(list_filter(str_split(t, ' '),
             |            tok -> tok IN ('the','a','of','and','to','in','is'))) AS BIGINT) * 1000)
             |          // len(str_split(t, ' ')) AS swr
             |      FROM nm),
             |thr AS (SELECT quantile_cont(swr, 0.5) AS p FROM m),
             |g AS (SELECT nm.* FROM nm JOIN m USING (doc_id), thr WHERE m.swr >= thr.p),
             |sv AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(t)),
             |k AS (SELECT g.* FROM g JOIN sv USING (doc_id)),
             |tk AS (SELECT doc_id, str_split(t, ' ') AS tw FROM k),
             |${dupSpanRunsCte("tk", "tw")},
             |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
             |          FROM runs GROUP BY doc_id, run_id),
             |pos AS (SELECT doc_id, i AS pos, tw[i+1] AS tok
             |        FROM tk, UNNEST(range(0, len(tw))) AS u(i)
             |        WHERE doc_id IN (SELECT doc_id FROM spans)),
             |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
             |         WHERE NOT EXISTS (SELECT 1 FROM spans sp
             |                           WHERE sp.doc_id = p.doc_id AND p.pos BETWEEN sp.s AND sp.e)),
             |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id),
             |ns AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
             |fin AS (SELECT k.doc_id, k.source,
             |          CAST(len(str_split(k.t, ' ')) AS BIGINT) AS tok_in,
             |          coalesce(ns.n_spans, 0) AS n_spans,
             |          coalesce(a.cleaned, CASE WHEN ns.n_spans IS NULL THEN k.t ELSE '' END) AS cleaned
             |        FROM k LEFT JOIN agg a USING (doc_id) LEFT JOIN ns USING (doc_id))
             |SELECT source, count(*) AS n_docs, CAST(sum(n_spans) AS BIGINT) AS n_spans,
             |       CAST(sum(tok_in) AS BIGINT) AS tok_in,
             |       CAST(sum(CASE WHEN cleaned = '' THEN 0
             |                ELSE len(str_split(cleaned, ' ')) END) AS BIGINT) AS tok_out
             |FROM fin GROUP BY source ORDER BY source""".stripMargin)),

    // Curriculum tiers: quality-quartile bucketing PER SOURCE. A ntile
    // window partitioned by `source` would be one task per source (20
    // distinct values) over the whole corpus — the same cliff as the w3
    // family; ntile is pure rank algebra, so it rides the grouped
    // two-phase row number + a 20-row count broadcast instead
    // (remainder rows go to the first buckets, SQL ntile semantics).
    // Rounded-once scores order identically in both engines; doc_id
    // breaks ties.
    Q("curriculum_tiers", "LLM",
      (s, d) => {
        val toks = graft.functions.ColumnFns.tokens(col("text"))
        // exact integer micro-units (hits·10⁶ div n — both ints), not a
        // round(double, 6) ratio: the w6 divergence class (SCALE_r11.md §1)
        val scored = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.stopwordHits(toks).cast("long").as("__h"),
            size(toks).cast("long").as("__nt"))
          .withColumn("score_micro", expr("__h * 1000000 div __nt"))
          .drop("__h", "__nt")
        val rn = graft.operators.GlobalRank.groupedRowNumber(scored,
          Seq("source"), Seq(col("score_micro").desc, col("doc_id")), "__rn")
        // NULL-SAFE count add-back (the quantileNormalize pattern): a
        // null source is an ordinary partition to the window form this
        // replaces, and groupedRowNumber ranks it — a plain equi-join
        // would silently drop those rows
        val counts = scored.groupBy(col("source")).agg(count(lit(1)).as("__n"))
          .select(col("source").as("__ct_s"), col("__n"))
        rn.join(broadcast(counts), col("source") <=> col("__ct_s")).drop("__ct_s")
          .withColumn("tier",
            expr("""CASE WHEN __rn <= (__n % 4) * (__n div 4 + 1)
                   |     THEN (__rn - 1) div (__n div 4 + 1) + 1
                   |     ELSE (__n % 4) + (__rn - (__n % 4) * (__n div 4 + 1) - 1)
                   |          div (__n div 4) + 1 END""".stripMargin).cast("long"))
          .groupBy(col("source"), col("tier"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("score_micro")).as("min_score_micro"),
            max(col("score_micro")).as("max_score_micro"))
          .orderBy("source", "tier")
      },
      Some("""WITH sc AS (SELECT doc_id, source,
             |         CAST(CAST(len(list_filter(str_split(text, ' '),
             |                 t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)
             |              * 1000000 // len(str_split(text, ' ')) AS BIGINT) AS score_micro
             |       FROM documents),
             |t AS (SELECT source, score_micro,
             |        CAST(ntile(4) OVER (PARTITION BY source ORDER BY score_micro DESC, doc_id) AS BIGINT) AS tier
             |      FROM sc)
             |SELECT source, tier, count(*) AS n_docs,
             |       min(score_micro) AS min_score_micro, max(score_micro) AS max_score_micro
             |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Token counting: whitespace + BPE-ish pre-tokenizer regex.
    Q("text_token_counts", "LLM",
      (s, d) => TextAnalysis.tokenCounts(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(str_split(text, ' ')) AS INTEGER) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TF-IDF: term/document frequencies + idf weighting — the corpus-scoring
    // primitive behind quality filters and dedup-candidate ranking.
    Q("text_tfidf", "LLM",
      (s, d) => TextAnalysis.tfIdf(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id", "term"),
      Some("""WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df_count FROM tf GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df_count AS BIGINT) AS df_count,
             |       CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df_count AS DOUBLE)) * 1000000) AS BIGINT) AS tfidf_micro
             |FROM tf JOIN dfreq USING (term) CROSS JOIN n
             |ORDER BY doc_id, term""".stripMargin)),

    // N-gram novelty (dataset-curation signal: how much of a document is
    // FIRST SAID here vs repeated from earlier corpus ids): per doc, the
    // share of its distinct bigrams whose minimum owning doc id is
    // itself. One bigram aggregate for ownership, one join back — the
    // memorization/boilerplate complement to the repetition score.
    Q("text_ngram_novelty", "LLM",
      (s, d) => {
        val db = Tables(s, d, "documents")
          .select(col("doc_id"), explode(array_distinct(
            shingles(tokens(col("text")), 2))).as("bg"))
        val owner = db.groupBy(col("bg")).agg(min(col("doc_id")).as("first_doc"))
        db.join(owner, "bg")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_milli", expr("n_novel * 1000 div n_bigrams"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
             |bg AS (SELECT doc_id, unnest(list_distinct(
             |         CASE WHEN len(t) >= 2
             |           THEN list_transform(range(0, len(t) - 1),
             |                  i -> array_to_string(t[(i+1):(i+2)], ' '))
             |           ELSE [array_to_string(t, ' ')] END)) AS b
             |       FROM tk),
             |own AS (SELECT b, min(doc_id) AS first_doc FROM bg GROUP BY 1)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
             |    AS novelty_milli
             |FROM bg JOIN own USING (b)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Keyword extraction readout: per-document top-3 terms by TF-IDF
    // (the RAKE-class signal) — one window over the tfidf table keyed on
    // the high-cardinality doc id, deterministic (score desc, term) tie.
    Q("text_keywords_tfidf", "LLM",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf_micro").desc, col("term"))
        TextAnalysis.tfIdf(Tables(s, d, "documents")
            .filter(col("doc_id") < 100), "doc_id", "text")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk"), col("term"), col("tfidf_micro"))
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH docs AS (SELECT * FROM documents WHERE doc_id < 100),
             |toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM docs),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df_count FROM tf GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM docs),
             |sc AS (SELECT doc_id, term,
             |         CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df_count) * 1000000) AS BIGINT) AS tfidf_micro
             |       FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term, tfidf_micro,
             |        CAST(row_number() OVER (PARTITION BY doc_id
             |                                ORDER BY tfidf_micro DESC, term) AS INTEGER) AS rnk
             |      FROM sc)
             |SELECT doc_id, rnk, term, tfidf_micro FROM r WHERE rnk <= 3
             |ORDER BY doc_id, rnk""".stripMargin)),

    // Unigram log-probability ("perplexity proxy") quality scoring.
    Q("text_unigram_logprob", "LLM",
      (s, d) => TextAnalysis.unigramLogProbScores(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
             |c AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
             |t AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM c),
             |p AS (SELECT term, CAST(round(ln(CAST(tf AS DOUBLE) / total) * 1000000) AS BIGINT) AS lp
             |      FROM c CROSS JOIN t)
             |SELECT doc_id, count(*) AS n_tokens, CAST(sum(lp) AS BIGINT) AS logprob_u,
             |       CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS avg_logprob_micro
             |FROM toks JOIN p USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Per-document lexical diversity (type-token ratio + hapax share):
    // vocabulary-richness quality features; one explode + two map-side
    // hash aggregates, truncating integer milli ratios.
    Q("text_lexical_diversity", "LLM",
      (s, d) => TextAnalysis.lexicalDiversity(
          Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tf AS (SELECT doc_id, term, count(*) AS tf
             |       FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
             |             FROM documents) GROUP BY 1, 2),
             |a AS (SELECT doc_id, sum(tf) AS n_tokens, count(*) AS n_types,
             |        sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS n_hapax
             |      FROM tf GROUP BY 1)
             |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(n_types AS BIGINT) AS n_types,
             |  CAST(n_hapax AS BIGINT) AS n_hapax,
             |  CAST(n_types * 1000 // n_tokens AS BIGINT) AS ttr_milli,
             |  CAST(n_hapax * 1000 // n_types AS BIGINT) AS hapax_milli
             |FROM a ORDER BY doc_id""".stripMargin)),

    // Zipf-law fit of the token-frequency curve (OLS of ln f vs ln rank
    // over the top 100 tokens): the lexical-health audit — natural corpora
    // sit near slope −1, template spam bends it. One corpus aggregate +
    // bounded top-k; per-point micro-quantized lns, integer OLS moments.
    Q("text_zipf_fit", "LLM",
      (s, d) => TextAnalysis.zipfFit(Tables(s, d, "documents"), topN = 100),
      Some("""WITH toks AS (SELECT unnest(str_split(text, ' ')) AS term FROM documents),
             |c AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
             |top AS (SELECT term, tf FROM c ORDER BY tf DESC, term LIMIT 100),
             |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM top),
             |p AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS xq,
             |             CAST(round(ln(CAST(tf AS DOUBLE)) * 1000000) AS BIGINT) AS yq
             |      FROM r),
             |a AS (SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
             |        sum(CAST(xq AS HUGEINT) * xq) AS sxx,
             |        sum(CAST(xq AS HUGEINT) * yq) AS sxy
             |      FROM p),
             |m AS (SELECT n, sx, sy,
             |        n * sxy - CAST(sx AS HUGEINT) * sy AS num,
             |        n * sxx - CAST(sx AS HUGEINT) * sx AS den
             |      FROM a),
             |sl AS (SELECT n, sx, sy,
             |         CASE WHEN den = 0 THEN 0
             |              WHEN num < 0 THEN -((-num * 1000000) // den)
             |              ELSE (num * 1000000) // den END AS slope_micro
             |       FROM m),
             |i AS (SELECT n, slope_micro,
             |        CAST(sy AS HUGEINT) * 1000000 - CAST(slope_micro AS HUGEINT) * sx AS inum
             |      FROM sl)
             |SELECT CAST(n AS BIGINT) AS n_points,
             |  CAST(slope_micro AS BIGINT) AS slope_micro,
             |  CAST(CASE WHEN inum < 0 THEN -((-inum) // (n * 1000000))
             |            ELSE inum // (n * 1000000) END AS BIGINT) AS intercept_micro
             |FROM i""".stripMargin)),

    // Rolling-hash document fingerprint.
    Q("text_fingerprint", "LLM",
      (s, d) => TextAnalysis.fingerprints(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(str_split(text, ' '), t -> ${md5LongSql("t")})),
             |       (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Unicode NFC normalization — the step every hash-based operator
    // needs FIRST: composed (U+00E9) and decomposed (e + U+0301) forms
    // of the same text hash differently, so un-normalized duplicates
    // evade MinHash/SimHash/winnowing entirely. The corpus is synthesized
    // in-engine with all the canonical-equivalence shapes (combining
    // marks, precomposed, singleton compat points like ANGSTROM SIGN,
    // multi-mark canonical reordering o+0302+0323 → U+1ED9), normalized
    // by the codegen'd JDK Normalizer expression, and compared against
    // DuckDB's utf8proc nfc_normalize building the IDENTICAL strings via
    // chr() — two independent Unicode implementations must agree
    // codepoint-for-codepoint.
    Q("text_nfc_normalize", "LLM",
      (s, d) => {
        import s.implicits._
        // explicit escapes — literal glyphs would be editor-normalization
        // hazards (decomposed and precomposed forms render identically)
        val pieces = Array(
          "e\u0301",       // decomposed e + COMBINING ACUTE -> U+00E9
          "\u00E9",        // already-NFC precomposed
          "A\u030A",       // A + COMBINING RING -> U+00C5
          "\u212B",        // ANGSTROM SIGN (singleton) -> U+00C5
          "o\u0302\u0323", // canonical reorder + compose -> U+1ED9
          "ok")            // plain ASCII: untouched
        val df = s.range(0, 240)
          .map(m => (m, "w" + m + " " + pieces((m % 6).toInt) + " t" + (m % 7)))
          .toDF("id", "text")
        val n = graft.functions.ColumnFns.nfc(col("text"))
        df.select(col("id"), n.as("text_nfc"),
            (col("text") =!= n).as("changed"),
            length(col("text")).cast("long").as("n_before"),
            length(n).cast("long").as("n_after"))
          .orderBy("id")
      },
      Some("""WITH m AS (SELECT unnest(range(0, 240)) AS id),
             |raw AS (SELECT id, 'w' || id || ' ' ||
             |          CASE id % 6
             |            WHEN 0 THEN 'e' || chr(769)
             |            WHEN 1 THEN chr(233)
             |            WHEN 2 THEN 'A' || chr(778)
             |            WHEN 3 THEN chr(8491)
             |            WHEN 4 THEN 'o' || chr(770) || chr(803)
             |            ELSE 'ok' END || ' t' || (id % 7) AS s
             |        FROM m)
             |SELECT id, nfc_normalize(s) AS text_nfc,
             |  s <> nfc_normalize(s) AS changed,
             |  CAST(length(s) AS BIGINT) AS n_before,
             |  CAST(length(nfc_normalize(s)) AS BIGINT) AS n_after
             |FROM raw ORDER BY id""".stripMargin)),

    // NFKC compatibility folding — ligatures, fullwidth forms, vulgar
    // fractions, superscripts collapse to their plain equivalents (the
    // aggressive pre-tokenization normalization retrieval pipelines
    // use). DuckDB has no NFKC function, so the oracle is a literal
    // table hand-derived from the Unicode decomposition data (the same
    // pattern as the multimodal pixel-literal oracles): the JDK's
    // folding must reproduce the published tables codepoint-for-
    // codepoint, lengths included.
    Q("text_nfkc_fold", "LLM",
      (s, d) => {
        import s.implicits._
        val pieces = Array(
          "\uFB01le",    // LATIN SMALL LIGATURE FI + "le" -> "file"
          "\uFF01",      // FULLWIDTH EXCLAMATION MARK     -> "!"
          "\u00BD",      // VULGAR FRACTION ONE HALF       -> 1 + U+2044 + 2
          "2\u2075",     // "2" + SUPERSCRIPT FIVE         -> "25"
          "\u212B",      // ANGSTROM SIGN                  -> U+00C5
          "caf\u00E9")   // already NFKC: untouched
        s.range(0, 6).map(i => (i, pieces(i.toInt))).toDF("id", "raw")
          .select(col("id"),
            graft.functions.ColumnFns.nfkc(col("raw")).as("folded"),
            length(graft.functions.ColumnFns.nfkc(col("raw")))
              .cast("long").as("n_after"))
          .orderBy("id")
      },
      Some("""SELECT * FROM (VALUES
             |  (CAST(0 AS BIGINT), 'file',                CAST(4 AS BIGINT)),
             |  (CAST(1 AS BIGINT), '!',                   CAST(1 AS BIGINT)),
             |  (CAST(2 AS BIGINT), '1' || chr(8260) || '2', CAST(3 AS BIGINT)),
             |  (CAST(3 AS BIGINT), '25',                  CAST(2 AS BIGINT)),
             |  (CAST(4 AS BIGINT), chr(197),              CAST(1 AS BIGINT)),
             |  (CAST(5 AS BIGINT), 'caf' || chr(233),     CAST(4 AS BIGINT))
             |) AS t(id, folded, n_after) ORDER BY id""".stripMargin)),

    // Winnowing fingerprints (Schleimer–Wilkerson–Aiken / MOSS): every
    // 3-gram hashes to the shared 30-bit md5 base, a 4-hash window keeps
    // its minimum (rightmost on ties, encoded arithmetically so ONE
    // numeric window-min decides both), selections dedupe. Guarantee:
    // shared token runs >= window+k-1 = 6 share a fingerprint. The
    // oracle replays the identical key algebra over DuckDB lists.
    Q("text_winnow_fingerprints", "LLM",
      (s, d) => TextAnalysis.winnowFingerprints(
          Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id", "fp_pos"),
      Some(s"""WITH ${winnowSelCte("documents")},
             |f AS (SELECT doc_id, unnest(fps) AS k FROM sel)
             |SELECT doc_id, k // 1048576 AS fp_hash,
             |       CAST(1048575 - (k % 1048576) AS BIGINT) AS fp_pos
             |FROM f ORDER BY doc_id, fp_pos""".stripMargin)),

    // Partial-overlap candidate pairs over the winnowing fingerprints —
    // the corpus-scale MOSS join: exact-dup texts collapse to min-id
    // reps BEFORE fingerprinting, fingerprints in more than maxDf reps
    // drop (the boilerplate rule that bounds every posting's pair
    // fan-out), posting lists pair within fingerprint, and a pair
    // qualifies at n_shared >= 2 distinct shared hashes. The oracle
    // replays collapse + df cap + pairing exhaustively over the reps.
    Q("dedup_winnow_overlap", "LLM",
      (s, d) => TextAnalysis.winnowOverlapPairs(
          Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some(s"""WITH dd AS (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text),
             |${winnowSelCte("dd")},
             |posts AS (SELECT DISTINCT doc_id, unnest(fps) // 1048576 AS fp FROM sel),
             |kept AS (SELECT doc_id, fp FROM posts
             |         QUALIFY count(*) OVER (PARTITION BY fp) <= 50),
             |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |          FROM kept a JOIN kept b
             |            ON a.fp = b.fp AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, count(*) AS n_shared
             |FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY id_a, id_b""".stripMargin)),

    // Multimodal: opaque binary payload + typed metadata (column-only path).
    // Pattern scrub (PII-redaction plumbing): an email rule (exercises the
    // zero-match path on this corpus) then a denylist-term rule, counts +
    // fully redacted text. Two codegen'd regex scans per doc, no shuffle.
    Q("text_redact", "LLM",
      (s, d) => TextAnalysis.redact(Tables(s, d, "documents"),
          "doc_id", "text", Seq(
            ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
            ("term", "\\b(key|value|customer)\\b", "<TERM>")))
        .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
          col("n_term").cast("long").as("n_term"), col("redacted"))
        .orderBy("doc_id"),
      Some("""WITH r1 AS (SELECT doc_id,
             |         len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
             |         regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS t1
             |       FROM documents)
             |SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
             |       CAST(len(regexp_extract_all(t1, '\b(key|value|customer)\b')) AS BIGINT) AS n_term,
             |       regexp_replace(t1, '\b(key|value|customer)\b', '<TERM>', 'g') AS redacted
             |FROM r1 ORDER BY doc_id""".stripMargin)),

    // Overlapping token-window chunking (RAG / context-window prep):
    // 32-token windows every 24 tokens; integer-exact chunk counts; each
    // chunk a slice of the once-materialized token array — explode only,
    // no join, no shuffle.
    Q("rag_chunks", "LLM",
      (s, d) => TextAnalysis.chunkTokens(Tables(s, d, "documents"),
          "doc_id", "text", chunkSize = 32, stride = 24)
        .select(col("doc_id"), col("chunk_id"),
          col("n_tokens").cast("long").as("n_tokens"), col("chunk_text"))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
             |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
             |c AS (SELECT doc_id, toks,
             |        unnest(range(CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END)) AS chunk_id
             |      FROM n)
             |SELECT doc_id, chunk_id,
             |       CAST(len(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)]) AS BIGINT) AS n_tokens,
             |       array_to_string(toks[(chunk_id * 24 + 1):(chunk_id * 24 + 32)], ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    Q("multimodal_payloads", "LLM",
      (s, d) => Multimodal.payloadMetadata(
        Multimodal.asMediaTable(Tables(s, d, "documents"), "doc_id", "text"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
             |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
             |  substring(lower(hex(encode(text))), 1, 32) AS payload_hex_prefix,
             |  CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS fake_width,
             |  CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS fake_height,
             |  3 AS channels
             |FROM documents ORDER BY media_id""".stripMargin)),

    // Multimodal: per-partition decode + feature extraction (stubbed codec;
    // Spark plumbing is real). The oracle checks everything SQL can express
    // (byte lengths, fake dims, feature-vector arity); the float feature
    // values themselves are covered by LlmSpec. The raw array<float> column
    // is dropped in the final projection: top-level arrays are not sortable
    // by the gate's comparator.
    Q("multimodal_features", "LLM",
      (s, d) => Multimodal.extractFeatures(
        Multimodal.toMediaDataset(s,
          Multimodal.asMediaTable(Tables(s, d, "documents"), "doc_id", "text")))
        .toDF()
        .select(col("media_id"), col("byte_len"), col("width"), col("height"),
          col("channels"), size(col("features")).as("n_features"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
             |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
             |  CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
             |  CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS height,
             |  3 AS channels, 8 AS n_features
             |FROM documents ORDER BY media_id""".stripMargin)),

    // Multimodal REAL decode: payloads are spec-conformant 24-bit BMPs
    // synthesized from pixel FORMULAS (encodeBmp writes real headers,
    // BGR bottom-up rows, 4-byte padding), parsed back by the pure-JVM
    // decodeBmpRgb, and the oracle verifies the decoded dimensions and
    // EXACT per-channel pixel sums by evaluating the same formulas
    // arithmetically — byte-level encode→decode round-trips through a
    // real file format, value-checked cross-engine without the oracle
    // touching a byte.
    Q("multimodal_decode_bmp", "LLM",
      (s, d) => Multimodal.imageStats(gradientImages(s, Multimodal.encodeBmp, "image/bmp"))
        .toDF().orderBy("media_id"),
      Some(s"""${pixelGridSql(200, gradientDims)},
              |${imageStatsSql("pix", gradientRgbSql(0), gradientRgbSql(1), gradientRgbSql(2))}""".stripMargin)),

    // Perceptual average-hash over the REAL decoded pixels: gray window
    // thresholded against its mean, packed into a 48-bit fingerprint —
    // the image-dedup primitive (band-joinable like SimHash). Same
    // map-only decode boundary as the stats query; the oracle replays
    // the generator's pixel algebra and the identical hash packing.
    Q("multimodal_ahash", "LLM",
      (s, d) => Multimodal.aHash(gradientImages(s, Multimodal.encodeBmp, "image/bmp"))
        .toDF().orderBy("media_id"),
      Some(gradientAhashOracle)),

    // PNG REAL decode: the same contract as multimodal_decode_bmp but
    // through a COMPRESSED container — encodePng writes spec-conformant
    // non-interlaced 8-bit truecolor files (zlib IDAT, CRC-checked
    // chunks, and a per-row rotation through ALL FIVE scanline filters:
    // None/Sub/Up/Average/Paeth), decodePngRgb inflates and runs the full
    // defilter reconstruction, and the oracle replays the pixel algebra
    // arithmetically. Green here means a real compressed image format
    // round-trips byte→pixels in-engine with values proven cross-engine.
    Q("multimodal_decode_png", "LLM",
      (s, d) => Multimodal.imageStats(mediaFixture(s, 200, "image/png") { m =>
          Multimodal.encodePng(9 + (m % 6).toInt, 7 + (m % 5).toInt, (x, y) =>
            (((x * 11 + y * 3 + m) % 256).toInt,
              ((x * 5 + y * 7 + m * 2) % 256).toInt,
              ((x * 2 + y + m * 13) % 256).toInt))
        }).toDF().orderBy("media_id"),
      Some(s"""${pixelGridSql(200, "9 + id % 6 AS w, 7 + id % 5 AS h")},
              |${imageStatsSql("pix", "(x * 11 + y * 3 + id) % 256",
                  "(x * 5 + y * 7 + id * 2) % 256", "(x * 2 + y + id * 13) % 256")}""".stripMargin)),

    // REAL video container: Y4M (YUV4MPEG2, Cmono) frame sampling — every
    // 2nd frame decoded from real container bytes and aHashed with the
    // SAME windowed hash as the still-image path (frames and stills share
    // one dedup index). The oracle replays the generator algebra per
    // sampled frame, mirroring the multimodal_ahash SQL with a frame axis.
    Q("multimodal_video_framesample", "LLM",
      (s, d) => Multimodal.videoFrameHashes(
          y4mClips(s, m => 5 + (m % 6).toInt,
            (m, f) => (x, y) => (x * 7 + y * 13 + m.toInt + f * 31) % 256), every = 2).toDF()
        .orderBy("media_id", "frame_idx"),
      Some("""WITH m AS (SELECT unnest(range(0, 60)) AS id),
             |v AS (SELECT id, 5 + id % 6 AS nf FROM m),
             |fr AS (SELECT id, nf, unnest(range(0, nf, 2)) AS f FROM v),
             |xs AS (SELECT id, nf, f, unnest(range(8)) AS x FROM fr),
             |pix AS (SELECT id, nf, f, x, unnest(range(6)) AS y FROM xs),
             |g AS (SELECT id, nf, f, x, y,
             |        (x * 7 + y * 13 + id + f * 31) % 256 AS gray FROM pix),
             |mn AS (SELECT id, f, sum(gray) // 48 AS mean FROM g GROUP BY 1, 2),
             |hb AS (SELECT g.id, g.nf, g.f,
             |         sum(CASE WHEN gray > mean
             |             THEN (CAST(1 AS BIGINT) << (y * 8 + x)) ELSE 0 END) AS ahash,
             |         sum(CASE WHEN gray > mean THEN 1 ELSE 0 END) AS n_set
             |       FROM g JOIN mn USING (id, f) GROUP BY 1, 2, 3)
             |SELECT id AS media_id, CAST(nf AS INTEGER) AS n_frames,
             |  CAST(f AS INTEGER) AS frame_idx, CAST(ahash AS BIGINT) AS ahash,
             |  CAST(n_set AS BIGINT) AS n_set
             |FROM hb ORDER BY media_id, frame_idx""".stripMargin)),

    // Shot-boundary detection over the decoded frame stream: scenes are
    // 4-frame runs whose GRADIENT STRUCTURE changes at f div 4 (a uniform
    // brightness shift would be invisible — aHash thresholds against the
    // window mean, so it is brightness-invariant by design; a real cut
    // changes spatial structure, which is what the generator models).
    // Boundaries are consecutive frames with nonzero hash distance. The
    // lag window partitions by media_id — corpus-cardinality, so the
    // plan stays balanced at any library size. Oracle replays frame
    // hashes + lag + xor/bit_count arithmetically.
    Q("multimodal_video_shots", "LLM",
      (s, d) => {
        val media = y4mClips(s, m => 8 + (m % 5).toInt, (m, f) => (x, y) => shotGray(m, f, x, y))
        shotBoundaries(Multimodal.videoFrameHashes(media, every = 1).toDF())
      },
      Some(videoShotsOracle)),

    // COMPRESSED video decode — MJPEG inside an AVI (RIFF) container,
    // each '00dc' chunk a standalone JFIF frame through the full
    // baseline-JPEG path (huffman + IDCT + fixed-point color chain).
    // Block-constant per-frame pixels round-trip the DCT bit-exactly, so
    // the oracle replays the generator algebra through the SAME integer
    // color conversions as multimodal_decode_jpeg, with a frame axis.
    // Green means real compressed VIDEO bytes decode in-engine with
    // values proven cross-engine — the last decodeStub class (inter-frame
    // codecs excepted, which need an external library by nature).
    Q("multimodal_decode_video_mjpeg", "LLM",
      (s, d) => Multimodal.videoFrameStats(blockColorClips(s, 8,
          m => (9 + (m % 6).toInt, 7 + (m % 5).toInt, 5 + (m % 6).toInt),
          Multimodal.encodeAviMjpeg), every = 2).toDF()
        .orderBy("media_id", "frame_idx"),
      Some(blockColorClipStatsOracle(8,
        "9 + id % 6 AS w, 7 + id % 5 AS h, 5 + id % 6 AS nf"))),

    // 4:2:0-subsampled MJPEG video — the dominant webcam/capture flavor
    // (quarter-resolution chroma): same frame-axis analytic contract as
    // multimodal_decode_video_mjpeg, with MCU-constant (16x16) fixtures
    // so the chroma downsample-average, DCT, and replication upsample
    // are all exact (the multimodal_decode_jpeg420 contract per frame).
    Q("multimodal_decode_video_mjpeg420", "LLM",
      (s, d) => Multimodal.videoFrameStats(blockColorClips(s, 16,
          m => (18 + (m % 8).toInt, 17 + (m % 5).toInt, 4 + (m % 3).toInt),
          Multimodal.encodeAviMjpeg420), every = 2).toDF()
        .orderBy("media_id", "frame_idx"),
      Some(blockColorClipStatsOracle(16,
        "18 + id % 8 AS w, 17 + id % 5 AS h, 4 + id % 3 AS nf"))),

    // Shot-boundary detection over COMPRESSED video: the MJPEG twin of
    // multimodal_video_shots, through the same videoFrameHashes entry
    // point (container-sniffed decode). Gray content (r=g=b survives the
    // integer YCbCr chain exactly) laid out per 8x8 block; stride-8
    // hashing samples one pixel per block, so the fingerprint reads real
    // inter-block structure — exactly how block-quantized JPEG stills
    // hash. Scene structure changes at f div 4; boundaries are
    // consecutive frames with nonzero hash distance. The oracle replays
    // block gray -> window threshold -> packed hash -> lag arithmetic.
    Q("multimodal_video_shots_mjpeg", "LLM",
      (s, d) => {
        val media = mediaFixture(s, 60, "video/x-msvideo") { m =>
          Multimodal.encodeAviMjpeg(64, 48, 8 + (m % 5).toInt,
            f => (x, y) => {
              val v = shotGray(m, f, x / 8, y / 8)
              (v, v, v)
            })
        }
        shotBoundaries(
          Multimodal.videoFrameHashes(media, every = 1, strideX = 8, strideY = 8).toDF())
      },
      Some(videoShotsOracle)),

    // PCM audio EMBEDDED in an interleaved MJPEG+PCM AVI (the classic
    // DV/webcam capture layout: '00dc' JFIF frame then its '01wb' audio
    // slice): decodeAviPcm demuxes the auds stream by its hdrl-assigned
    // stream number and concatenates the slices, and every audio op runs
    // on it exactly as on a bare WAV (audioStats here — the same output
    // contract as multimodal_wav_stats, proven on container-demuxed
    // samples). The oracle replays the sample algebra arithmetically.
    Q("multimodal_decode_avi_audio", "LLM",
      (s, d) => Multimodal.audioStats(avClips(s)).toDF().orderBy("media_id"),
      Some(s"""WITH m AS (SELECT unnest(range(0, 60)) AS id),
              |par AS (SELECT id, (5 + id % 4) * 400 AS n, id % 7 + 3 AS a FROM m),
              |smp AS (SELECT id, n, a, unnest(range(n)) AS i FROM par),
              |s AS (SELECT id, n, i, (i * a + id * 17) % 2048 - 1024 AS v FROM smp),
              |${pcmStatsSql(8000)}""".stripMargin)),

    // Full A/V demux from ONE payload: frame-0 channel sums (through the
    // MJPEG stream) joined with the PCM stream's stats — the capability
    // a mixed-modality ingest needs (one file fans out to image-path AND
    // audio-path features). Oracle = the frame-0 integer color chain
    // joined with the sample algebra, both per media.
    Q("multimodal_avi_demux", "LLM",
      (s, d) => {
        val media = avClips(s)
        // every > max n_frames keeps exactly frame 0; n_frames still total
        val v = Multimodal.videoFrameStats(media, every = 1000).toDF()
          .select(col("media_id"), col("n_frames"), col("width"),
            col("height"), col("r_sum").as("r_sum0"))
        val a = Multimodal.audioStats(media).toDF()
          .select(col("media_id"), col("n_samples"), col("rms"))
        v.join(a, "media_id").orderBy("media_id")
      },
      Some(s"""WITH m AS (SELECT unnest(range(0, 60)) AS id),
              |par AS (SELECT id, 9 + id % 6 AS w, 7 + id % 5 AS h,
              |          5 + id % 4 AS nf, id % 7 + 3 AS a FROM m),
              |xs AS (SELECT id, w, h, nf, unnest(range(w)) AS x FROM par),
              |pix AS (SELECT id, w, h, nf, x, unnest(range(h)) AS y FROM xs),
              |${blockRgbChainSql("id, w, h, nf", 8, frames = false)},
              |vs AS (SELECT id, any_value(w) AS w, any_value(h) AS h,
              |         any_value(nf) AS nf, sum(r) AS r_sum0 FROM rgb GROUP BY id),
              |smp AS (SELECT id, nf * 400 AS n, a,
              |          unnest(range(nf * 400)) AS i FROM par),
              |s AS (SELECT id, n, (i * a + id * 17) % 2048 - 1024 AS v FROM smp),
              |ast AS (SELECT id, any_value(n) AS n,
              |          sum(CAST(v AS BIGINT) * v) AS sum_sq FROM s GROUP BY id)
              |SELECT vs.id AS media_id, CAST(nf AS INTEGER) AS n_frames,
              |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
              |  CAST(r_sum0 AS BIGINT) AS r_sum0,
              |  CAST(n AS BIGINT) AS n_samples,
              |  CAST(floor(sqrt(sum_sq // n)) AS BIGINT) AS rms
              |FROM vs JOIN ast ON vs.id = ast.id ORDER BY media_id""".stripMargin)),

    // Indexed-color PNG (color type 3 — the most common web PNG flavor):
    // the decoder walks PLTE, defilters INDEX bytes through all five
    // scanline filters, and resolves each index through the palette; the
    // oracle replays the palette algebra arithmetically (index formula →
    // palette formula → channel sums). Green proves the palette path on
    // real compressed bytes, same contract as multimodal_decode_png.
    Q("multimodal_decode_png_palette", "LLM",
      (s, d) => Multimodal.imageStats(mediaFixture(s, 200, "image/png") { m =>
          Multimodal.encodePngPalette(9 + (m % 6).toInt, 7 + (m % 5).toInt,
            nEntries = 64,
            palColor = e => ((e * 5 + 7) % 256, (e * 11 + 3) % 256, (e * 17 + 29) % 256),
            index = (x, y) => (x * 7 + y * 13 + m.toInt) % 64)
        }).toDF().orderBy("media_id"),
      Some(s"""${pixelGridSql(200, "9 + id % 6 AS w, 7 + id % 5 AS h")},
              |idx AS (SELECT id, w, h, (x * 7 + y * 13 + id) % 64 AS e FROM pix),
              |${imageStatsSql("idx", "(e * 5 + 7) % 256", "(e * 11 + 3) % 256", "(e * 17 + 29) % 256")}""".stripMargin)),

    // Cross-format parity: the SAME pixel formulas as multimodal_ahash,
    // carried through the PNG container instead of BMP, must produce the
    // IDENTICAL fingerprint board (the oracle is byte-for-byte the same
    // SQL) — the hash depends on pixels, never on the container. This is
    // the image-dedup guarantee a mixed-format corpus needs at 100 TB:
    // re-encoding a mirror site's images can't hide them from aHash.
    Q("multimodal_ahash_png", "LLM",
      (s, d) => Multimodal.aHash(gradientImages(s, Multimodal.encodePng, "image/png"))
        .toDF().orderBy("media_id"),
      Some(gradientAhashOracle)),

    // Real decoded-pixel downsample: 2x2 average pooling of the gray
    // window — the resize stage of an image feature pipeline on actual
    // pixels, truncating integer block means; the oracle replays the
    // generator algebra block by block.
    Q("multimodal_resize_pool", "LLM",
      (s, d) => Multimodal.avgPool(gradientImages(s, Multimodal.encodeBmp, "image/bmp"))
        .toDF().orderBy("media_id", "by", "bx"),
      Some(s"""WITH m AS (SELECT unnest(range(0, 200)) AS id),
              |xs AS (SELECT id, unnest(range(8)) AS x FROM m),
              |pix AS (SELECT id, x, unnest(range(6)) AS y FROM xs),
              |g AS (SELECT id, x, y, $gradientGraySql AS gray FROM pix),
              |p AS (SELECT id, x // 2 AS bx, y // 2 AS by, sum(gray) // 4 AS g_mean
              |      FROM g GROUP BY 1, 2, 3)
              |SELECT id AS media_id, CAST(bx AS INTEGER) AS bx,
              |  CAST(by AS INTEGER) AS by, CAST(g_mean AS BIGINT) AS g_mean
              |FROM p ORDER BY media_id, by, bx""".stripMargin)),

    // Image near-dup pairs: collapse identical aHash fingerprints to one
    // representative (the exact-dup flood never reaches the pair
    // expansion), then band the 48-bit hash into 6 bytes and bucket-join —
    // exact recall for Hamming <= 5 by pigeonhole. The oracle brute-forces
    // the tiny representative set; at corpus scale only the banded join
    // exists.
    Q("multimodal_near_dup", "LLM",
      (s, d) => {
        val reps = Multimodal.aHash(gradientImages(s, Multimodal.encodeBmp, "image/bmp")).toDF()
          .groupBy(col("ahash")).agg(min(col("media_id")).as("rep_id"))
        Dedup.sigBandPairs(reps, "rep_id", "ahash",
            bits = 48, bands = 6, maxHamming = 5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""$gradientAhashCte,
              |${repPairsSql("hb", "ahash")}""".stripMargin)),

    // REAL baseline-JPEG decode (huffman + IDCT + fixed-point YCbCr<->RGB,
    // Multimodal.decodeJpegRgb): color payloads whose channels are CONSTANT
    // per 8x8 block, so the DCT path round-trips bit-exactly (AC = 0,
    // DC quant 1) and the oracle replays the exact integer color
    // conversions in SQL — same analytic-oracle contract as
    // multimodal_decode_png. Fixed-point floor semantics match: JVM
    // arithmetic >> 16 == DuckDB // 65536, negatives included.
    Q("multimodal_decode_jpeg", "LLM",
      (s, d) => Multimodal.imageStats(blockColorImages(s, 8,
          m => (9 + (m % 6).toInt, 7 + (m % 5).toInt), Multimodal.encodeJpeg))
        .toDF().orderBy("media_id"),
      Some(blockColorStatsOracle(8, "9 + id % 6 AS w, 7 + id % 5 AS h"))),

    // PROGRESSIVE (SOF2) decode — the second web JPEG flavor, previously
    // the decodeStub fallback: same block-constant analytic contract as
    // multimodal_decode_jpeg (the progressive encoder transmits identical
    // coefficients across five Annex-G scans — interleaved DC-first at
    // Al=1, spectral-selection AC, DC refinement — so the decoded pixels
    // are bit-identical to baseline and the oracle replays the same
    // integer color chain).
    Q("multimodal_decode_jpeg_prog", "LLM",
      (s, d) => Multimodal.imageStats(blockColorImages(s, 8,
          m => (9 + (m % 6).toInt, 7 + (m % 5).toInt), Multimodal.encodeJpegProgressive))
        .toDF().orderBy("media_id"),
      Some(blockColorStatsOracle(8, "9 + id % 6 AS w, 7 + id % 5 AS h"))),

    // 4:2:0 chroma subsampling — the dominant web JPEG flavor: luma at
    // full resolution (sampling 2x2), chroma quarter-resolution, MCU =
    // 4 Y blocks + Cb + Cr, decoder upsamples by replication. Fixture
    // channels are CONSTANT per 16x16 MCU, so the downsample average,
    // the DCT path, and the replication upsample are all exact and the
    // oracle replays the same integer conversion chain at MCU
    // granularity.
    Q("multimodal_decode_jpeg420", "LLM",
      (s, d) => Multimodal.imageStats(blockColorImages(s, 16,
          m => (18 + (m % 8).toInt, 17 + (m % 5).toInt), Multimodal.encodeJpeg420))
        .toDF().orderBy("media_id"),
      Some(blockColorStatsOracle(16, "18 + id % 8 AS w, 17 + id % 5 AS h"))),

    // Cross-format near-dup with JPEG in the mix: ids 0..99 are BMPs of
    // 8x8 gray tiles, ids 100..199 the SAME tile patterns as real
    // grayscale baseline JPEGs (gray payloads round-trip the codec pair
    // bit-exactly), every 10th JPEG with one tile flipped. The aHash
    // window samples at stride 8 — one sample per JPEG block — so the
    // 48-bit hash sees real inter-block structure: unflipped JPEGs
    // collapse into their BMP sibling's rep (exact cross-format dup) and
    // flipped ones surface as Hamming-1 banded pairs. Tile values are
    // bimodal (40/216) so the one-tile mean shift (~±4) flips no other
    // bit.
    Q("multimodal_near_dup_jpeg", "LLM",
      (s, d) => {
        import s.implicits._
        val media = s.range(0, 200).map { m =>
          val i = m.toInt
          val base = if (i < 100) i else i - 100
          val w = 64 + (base % 3) * 8
          val h = 48 + (base % 2) * 8
          def tile(bx: Int, by: Int): Int = {
            val bit = ((base.toLong * 2654435761L + bx * 40503L + by * 655L) / 16) % 2
            val v = if (bit == 0) 40 else 216
            if (i >= 100 && i % 10 == 0 && bx == 0 && by == 0) 256 - v else v
          }
          if (i < 100)
            Multimodal.MediaRecord(m, Multimodal.encodeBmp(w, h,
              (x, y) => { val v = tile(x / 8, y / 8); (v, v, v) }), "image/bmp")
          else
            Multimodal.MediaRecord(m, Multimodal.encodeJpegGray(w, h,
              (x, y) => tile(x / 8, y / 8)), "image/jpeg")
        }
        val reps = Multimodal.aHash(media, winW = 8, winH = 6,
            strideX = 8, strideY = 8).toDF()
          .groupBy(col("ahash")).agg(min(col("media_id")).as("rep_id"))
        Dedup.sigBandPairs(reps, "rep_id", "ahash",
            bits = 48, bands = 6, maxHamming = 5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH m AS (SELECT unnest(range(0, 200)) AS id),
              |b AS (SELECT id, CASE WHEN id < 100 THEN id ELSE id - 100 END AS base FROM m),
              |xs AS (SELECT id, base, unnest(range(8)) AS x FROM b),
              |pix AS (SELECT id, base, x, unnest(range(6)) AS y FROM xs),
              |g0 AS (SELECT id, x, y,
              |         CASE WHEN ((base * 2654435761 + x * 40503 + y * 655) // 16) % 2 = 0
              |              THEN 40 ELSE 216 END AS v
              |       FROM pix),
              |g AS (SELECT id, x, y,
              |        CASE WHEN id >= 100 AND id % 10 = 0 AND x = 0 AND y = 0
              |             THEN 256 - v ELSE v END AS gray
              |      FROM g0),
              |mn AS (SELECT id, sum(gray) // 48 AS mean FROM g GROUP BY 1),
              |hb AS (SELECT g.id,
              |         sum(CASE WHEN gray > mean
              |             THEN (CAST(1 AS BIGINT) << (y * 8 + x)) ELSE 0 END) AS ahash
              |       FROM g JOIN mn USING (id) GROUP BY 1),
              |${repPairsSql("hb", "ahash")}""".stripMargin)),

    // AUDIO battery over a REAL pure-JVM WAV/PCM codec (RIFF chunk walk,
    // 16-bit mono). Same contract as the BMP/PPM image path: the media
    // is generated deterministically in-engine, encoded to real WAV
    // bytes, decoded for real, and the oracle replays the generator's
    // sample algebra in SQL — so the byte-level codec is exercised on
    // the engine side while the decoded VALUES are verified exactly.
    // All-integer features (peak, floor-sqrt RMS, zero crossings, frame
    // energies) keep the comparison ulp-proof.
    Q("multimodal_wav_stats", "LLM",
      (s, d) => Multimodal.audioStats(rampWavs(s)).toDF().orderBy("media_id"),
      Some(s"""$rampSamplesSql,
              |s AS (SELECT id, n, i, (i * a + id * 17) % 2048 - 1024 AS v FROM smp),
              |${pcmStatsSql(8000)}""".stripMargin)),

    // STEREO 16-bit PCM through the channel-aware decode: interleaved
    // L/R de-mux to per-channel rows under the same (rate, samples-per-
    // channel) contract as mono — channel c's stats are computed on its
    // samples alone (distinct per-channel generator terms prove the
    // de-mux, not a downmix). Map-only like every decode op.
    Q("multimodal_wav_stereo_stats", "LLM",
      (s, d) => Multimodal.audioChannelStats(mediaFixture(s, 120, "audio/wav") { m =>
          val n = 1500 + (m % 4).toInt * 300
          val a = (m % 7).toInt + 3
          Multimodal.encodeWavPcm16Multi(8000, 2, Array.tabulate(2 * n) { j =>
            val i = j / 2; val c = j % 2
            (((i.toLong * a + m * 17 + c * 911) % 2048) - 1024).toShort
          })
        }).toDF().orderBy("media_id", "channel"),
      Some(s"""WITH m AS (SELECT unnest(range(0, 120)) AS id),
              |par AS (SELECT id, 1500 + (id % 4) * 300 AS n, id % 7 + 3 AS a FROM m),
              |ch AS (SELECT id, n, a, unnest(range(2)) AS c FROM par),
              |smp AS (SELECT id, n, a, c, unnest(range(n)) AS i FROM ch),
              |s AS (SELECT id, n, c, i,
              |        (i * a + id * 17 + c * 911) % 2048 - 1024 AS v FROM smp),
              |${pcmStatsSql(8000, nChannels = 2)}""".stripMargin)),

    // 8-bit unsigned PCM (the other dominant real-corpus flavor): codes
    // 0..255 normalize to 16-bit linear as (code−128)·256 — exact
    // integer algebra the oracle replays. The corpus mixes mono and
    // stereo records through the SAME op to pin the n_channels axis.
    Q("multimodal_wav_pcm8_stats", "LLM",
      (s, d) => Multimodal.audioChannelStats(mediaFixture(s, 120, "audio/wav") { m =>
          val nc = 1 + (m % 2).toInt
          val n = 1200 + (m % 3).toInt * 400
          val a = (m % 5).toInt + 2
          Multimodal.encodeWavPcm8(16000, nc, Array.tabulate(nc * n) { j =>
            val i = j / nc; val c = j % nc
            ((i.toLong * a + m * 29 + c * 577) % 256).toByte
          })
        }).toDF().orderBy("media_id", "channel"),
      Some("""WITH m AS (SELECT unnest(range(0, 120)) AS id),
             |par AS (SELECT id, 1 + id % 2 AS nc, 1200 + (id % 3) * 400 AS n,
             |          id % 5 + 2 AS a FROM m),
             |ch AS (SELECT id, nc, n, a, unnest(range(nc)) AS c FROM par),
             |smp AS (SELECT id, nc, n, a, c, unnest(range(n)) AS i FROM ch),
             |s AS (SELECT id, nc, n, c, i,
             |        ((i * a + id * 29 + c * 577) % 256 - 128) * 256 AS v FROM smp),
             |sgn AS (SELECT id, nc, n, c, i, v,
             |          lag(v) OVER (PARTITION BY id, c ORDER BY i) AS pv FROM s),
             |st AS (SELECT id, c, any_value(nc) AS nc, any_value(n) AS n,
             |         max(abs(v)) AS peak,
             |         sum(CAST(v AS BIGINT) * v) AS sum_sq,
             |         sum(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
             |             THEN 1 ELSE 0 END) AS zc
             |       FROM sgn GROUP BY id, c)
             |SELECT id AS media_id, CAST(c AS INTEGER) AS channel,
             |  CAST(nc AS INTEGER) AS n_channels,
             |  CAST(16000 AS INTEGER) AS sample_rate,
             |  CAST(n AS BIGINT) AS n_samples,
             |  CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
             |  CAST(peak AS INTEGER) AS peak,
             |  CAST(floor(sqrt(sum_sq // n)) AS BIGINT) AS rms,
             |  CAST(zc AS BIGINT) AS zero_crossings
             |FROM st ORDER BY media_id, channel""".stripMargin)),

    // G.711 mu-law (telephony companding, wFormatTag 7): the engine
    // expands codes with the canonical segment algebra
    //   u = ~code & 0xff;  t = ((u&15)·8 + 132) << ((u&112)>>4)
    //   v = (u&128) != 0 ? 132−t : t−132
    // and the oracle replays that algebra bit-for-bit in SQL. Mono, so
    // the file flows through the EXISTING mono battery (audioStats) —
    // companded audio is a decode detail, not a separate pipeline.
    Q("multimodal_wav_mulaw_stats", "LLM",
      (s, d) => Multimodal.audioStats(mediaFixture(s, 120, "audio/wav") { m =>
          val n = 1600 + (m % 4).toInt * 200
          val a = (m % 7).toInt + 2
          Multimodal.encodeWavMulaw(8000, 1, Array.tabulate(n)(i =>
            ((i.toLong * a + m * 13) % 256).toByte))
        }).toDF().orderBy("media_id"),
      Some(s"""WITH m AS (SELECT unnest(range(0, 120)) AS id),
              |par AS (SELECT id, 1600 + (id % 4) * 200 AS n, id % 7 + 2 AS a FROM m),
              |smp AS (SELECT id, n, a, unnest(range(n)) AS i FROM par),
              |cd AS (SELECT id, n, i, xor((i * a + id * 13) % 256, 255) AS u FROM smp),
              |s AS (SELECT id, n, i,
              |        CASE WHEN (u & 128) <> 0
              |          THEN 132 - (((u & 15) * 8 + 132) * (1 << ((u & 112) // 16)))
              |          ELSE (((u & 15) * 8 + 132) * (1 << ((u & 112) // 16))) - 132
              |        END AS v FROM cd),
              |${pcmStatsSql(8000)}""".stripMargin)),

    // G.711 A-law (wFormatTag 6 — mu-law's European-telephony sibling:
    // XOR-0x55 toggle, no bias), STEREO, so one row exercises both the
    // companding table and the channel de-mux. Engine algebra
    //   u = code ^ 0x55;  seg = (u & 0x70) >> 4
    //   t = seg == 0 ? ((u & 15) << 4) + 8 : (((u & 15) << 4) + 0x108) << (seg − 1)
    //   v = (u & 0x80) != 0 ? t : −t
    // replayed bit-for-bit by the oracle.
    Q("multimodal_wav_alaw_stats", "LLM",
      (s, d) => Multimodal.audioChannelStats(mediaFixture(s, 120, "audio/wav") { m =>
          val n = 1400 + (m % 3).toInt * 300
          val a = (m % 5).toInt + 2
          Multimodal.encodeWavAlaw(8000, 2, Array.tabulate(2 * n) { j =>
            val i = j / 2; val c = j % 2
            ((i.toLong * a + m * 19 + c * 433) % 256).toByte
          })
        }).toDF().orderBy("media_id", "channel"),
      Some(s"""WITH m AS (SELECT unnest(range(0, 120)) AS id),
              |par AS (SELECT id, 1400 + (id % 3) * 300 AS n, id % 5 + 2 AS a FROM m),
              |ch AS (SELECT id, n, a, unnest(range(2)) AS c FROM par),
              |smp AS (SELECT id, n, a, c, unnest(range(n)) AS i FROM ch),
              |cd AS (SELECT id, n, c, i,
              |         xor((i * a + id * 19 + c * 433) % 256, 85) AS u FROM smp),
              |tv AS (SELECT id, n, c, i, u,
              |         CASE WHEN (u & 112) // 16 = 0 THEN (u & 15) * 16 + 8
              |              ELSE ((u & 15) * 16 + 264) * (1 << ((u & 112) // 16 - 1))
              |         END AS t FROM cd),
              |s AS (SELECT id, n, c, i,
              |        CASE WHEN (u & 128) <> 0 THEN t ELSE -t END AS v FROM tv),
              |${pcmStatsSql(8000, nChannels = 2)}""".stripMargin)),

    // Frame energies: the STFT-frame analogue without a transform —
    // fixed 160-sample frames, exact Σs² energy and frame-local zero
    // crossings. Map-only on the engine (frames are emitted from the
    // decode task; nothing shuffles until the final presentation sort).
    Q("multimodal_audio_frames", "LLM",
      (s, d) => Multimodal.audioFrames(rampWavs(s), frameLen = 160).toDF()
        .orderBy("media_id", "frame_id"),
      Some(s"""$rampSamplesSql,
              |s AS (SELECT id, i, i // 160 AS f, (i * a + id * 17) % 2048 - 1024 AS v FROM smp),
              |sgn AS (SELECT id, f, i, v,
              |          lag(v) OVER (PARTITION BY id, f ORDER BY i) AS pv FROM s)
              |SELECT id AS media_id, CAST(f AS INTEGER) AS frame_id,
              |  CAST(count(*) AS INTEGER) AS n,
              |  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS energy,
              |  CAST(sum(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
              |      THEN 1 ELSE 0 END) AS INTEGER) AS zcr
              |FROM sgn GROUP BY id, f ORDER BY media_id, frame_id""".stripMargin)),

    // Haitsma–Kalker energy-delta fingerprint: bit f = [energy(f+1) >
    // energy(f)], packed into one BIGINT per media. ONE exchange on the
    // engine (lead() window partitioned by media_id feeding a partial
    // aggregate on the same key).
    Q("multimodal_audio_fingerprint", "LLM",
      (s, d) => Multimodal.audioFingerprint(Multimodal.audioFrames(rampWavs(s), 40), bits = 48)
        .orderBy("media_id"),
      Some(s"""$rampSamplesSql,
              |s AS (SELECT id, i // 40 AS f, (i * a + id * 17) % 2048 - 1024 AS v FROM smp),
              |en AS (SELECT id, f, sum(CAST(v AS BIGINT) * v) AS e FROM s GROUP BY 1, 2),
              |nx AS (SELECT id, f, e, lead(e) OVER (PARTITION BY id ORDER BY f) AS en FROM en)
              |SELECT id AS media_id,
              |  CAST(sum(CASE WHEN en > e THEN CAST(1 AS BIGINT) << f ELSE 0 END) AS BIGINT) AS fp
              |FROM nx WHERE f < 48 AND en IS NOT NULL
              |GROUP BY id ORDER BY media_id""".stripMargin)),

    // Audio near-dup: ~30% of the corpus is replaced by ONE shared
    // waveform (the boilerplate-jingle shape), fingerprints collapse to
    // distinct reps first (flood immunity), then the SAME banded-Hamming
    // pair machinery as SimHash / image aHash runs on the 48-bit fps.
    Q("multimodal_audio_near_dup", "LLM",
      (s, d) => {
        val media = rampWavs(s, m => if (m % 10 < 3) 7L else m)
        val fps = Multimodal.audioFingerprint(Multimodal.audioFrames(media, 40), bits = 48)
        val reps = fps.groupBy(col("fp")).agg(min(col("media_id")).as("rep_id"))
        Dedup.sigBandPairs(reps, "rep_id", "fp", bits = 48, bands = 6, maxHamming = 5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH m AS (SELECT unnest(range(0, 200)) AS id),
              |sd AS (SELECT id, CASE WHEN id % 10 < 3 THEN 7 ELSE id END AS seed FROM m),
              |par AS (SELECT id, seed, 2000 + (seed % 5) * 400 AS n, seed % 7 + 3 AS a FROM sd),
              |smp AS (SELECT id, seed, n, a, unnest(range(n)) AS i FROM par),
              |s AS (SELECT id, i // 40 AS f, (i * a + seed * 17) % 2048 - 1024 AS v FROM smp),
              |en AS (SELECT id, f, sum(CAST(v AS BIGINT) * v) AS e FROM s GROUP BY 1, 2),
              |nx AS (SELECT id, f, e, lead(e) OVER (PARTITION BY id ORDER BY f) AS en FROM en),
              |fp AS (SELECT id,
              |         CAST(sum(CASE WHEN en > e THEN CAST(1 AS BIGINT) << f ELSE 0 END) AS BIGINT) AS fp
              |       FROM nx WHERE f < 48 AND en IS NOT NULL GROUP BY id),
              |${repPairsSql("fp", "fp")}""".stripMargin)),

    // Entity resolution, stage 1+2: multi-pass blocking (city+name-prefix
    // UNION exact-phone — a pair missed by one pass is caught by the
    // other) then Fellegi-Sunter integer milli-weight scoring per
    // candidate (Levenshtein<=2 name, exact phone, exact city). Pair
    // volume is sum-of-block-squares, never corpus^2; every comparison is
    // exact integer arithmetic so the oracle matches bit-for-bit.
    Q("er_match_pairs", "LLM",
      (s, d) => graft.operators.EntityResolution.matchPairs(
          erRecords(s), "id", erPasses, erFields, thresholdMilli = 300)
        .orderBy("id_a", "id_b"),
      Some(s"""$erMatchCte
              |SELECT id_a, id_b, CAST(score_milli AS BIGINT) AS score_milli
              |FROM m ORDER BY id_a, id_b""".stripMargin)),

    // er_match_pairs' INDUCED-FLOOD twin: 30% of the corpus degrades to
    // the junk name + junk city every real corpus has, so the
    // (city, name-prefix) block floods quadratically. maxBlock = 50
    // excludes the flooded block from that pass BEFORE the self-join
    // (sharing a junk value is not identity evidence); flooded records
    // with surviving discriminative keys still pair through the phone
    // pass — the recall multi-pass blocking exists to protect. The
    // oracle replays the identical block-size rule.
    Q("er_match_pairs_hot", "LLM",
      (s, d) => graft.operators.EntityResolution.matchPairs(
          erRecords(s, flood = true), "id", erPasses, erFields,
          thresholdMilli = 300, maxBlock = 50)
        .orderBy("id_a", "id_b"),
      Some(s"""${erFixtureCteF(flood = true)},
              |b1 AS (SELECT city, substring(name, 1, 3) AS n3, count(*) AS bn
              |       FROM rec GROUP BY 1, 2),
              |ok1 AS (SELECT city, n3 FROM b1 WHERE bn <= 50),
              |b2 AS (SELECT phone, count(*) AS bn FROM rec GROUP BY 1),
              |ok2 AS (SELECT phone FROM b2 WHERE bn <= 50),
              |cand AS (SELECT a.id AS id_a, b.id AS id_b FROM rec a
              |           JOIN ok1 o ON o.city = a.city AND o.n3 = substring(a.name, 1, 3)
              |           JOIN rec b ON a.city = b.city
              |            AND substring(a.name, 1, 3) = substring(b.name, 1, 3)
              |            AND a.id < b.id
              |         UNION
              |         SELECT a.id, b.id FROM rec a
              |           JOIN ok2 o ON o.phone = a.phone
              |           JOIN rec b ON a.phone = b.phone AND a.id < b.id),
              |sc AS (SELECT c.id_a, c.id_b,
              |    (CASE WHEN levenshtein(x.name, y.name) <= 2 THEN 400 ELSE -400 END
              |     + CASE WHEN x.phone = y.phone THEN 300 ELSE -200 END
              |     + CASE WHEN x.city = y.city THEN 150 ELSE -150 END) AS score_milli
              |  FROM cand c JOIN rec x ON x.id = c.id_a JOIN rec y ON y.id = c.id_b)
              |SELECT id_a, id_b, CAST(score_milli AS BIGINT) AS score_milli
              |FROM sc WHERE score_milli >= 300 ORDER BY id_a, id_b""".stripMargin)),

    // Entity resolution, stage 3+4: matches -> connected components
    // (entity = smallest member id; singletons keep themselves) -> one
    // surviving representative per entity picked by a struct-argmax in a
    // single hash aggregate (greatest name, then smallest id — the
    // 6-char original beats its truncated 5-char variant). The oracle
    // replays clustering as a recursive transitive closure and
    // survivorship as a window row_number.
    Q("er_entities", "LLM",
      (s, d) => {
        val recs = erRecords(s)
        val matches = graft.operators.EntityResolution.matchPairs(
          recs, "id", erPasses, erFields, thresholdMilli = 300)
        graft.operators.EntityResolution.resolve(recs, "id", matches, Seq("name"))
          .orderBy("entity")
      },
      Some(s"""${erMatchCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |e AS (SELECT id_a AS a, id_b AS b FROM m
              |      UNION SELECT id_b, id_a FROM m),
              |reach(a, b) AS (SELECT a, b FROM e
              |                UNION
              |                SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
              |comp AS (SELECT n AS id, min(mm) AS comp FROM (
              |           SELECT a AS n, a AS mm FROM e
              |           UNION ALL SELECT a, b FROM reach) GROUP BY n),
              |lab AS (SELECT r.id, r.name, coalesce(c.comp, r.id) AS entity
              |        FROM rec r LEFT JOIN comp c ON c.id = r.id),
              |rk AS (SELECT entity, id, name,
              |         row_number() OVER (PARTITION BY entity
              |                            ORDER BY name DESC, id ASC) AS rn,
              |         count(*) OVER (PARTITION BY entity) AS n
              |       FROM lab)
              |SELECT CAST(entity AS BIGINT) AS entity,
              |       CAST(n AS BIGINT) AS n_records,
              |       CAST(id AS BIGINT) AS rep_id, name AS rep_name
              |FROM rk WHERE rn = 1 ORDER BY entity""".stripMargin)),

    // Time-series gap fill ("date scaffold"): per-user hourly spine via
    // sequence + explode, left join the real counts, zero-fill the gaps —
    // the resample primitive behind rate/SLA reporting. Spine cardinality
    // is users × hours (bounded by the span), generated distributed, never
    // on the driver.
    Q("stream_gap_fill", "STREAM",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .filter(col("user_id") < 30)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        val agg = ev.groupBy(col("user_id"), col("h")).agg(count(lit(1)).as("n"))
        val span = agg.groupBy(col("user_id"))
          .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        val spine = span.select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("h"))
        spine.join(agg, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h"), coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("user_id", "h")
      },
      Some("""WITH e AS (SELECT user_id, date_trunc('hour', ts) AS h FROM events WHERE user_id < 30),
             |a AS (SELECT user_id, h, count(*) AS n FROM e GROUP BY 1, 2),
             |sp AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM a GROUP BY 1),
             |spine AS (SELECT user_id, CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS TIMESTAMP) AS h FROM sp)
             |SELECT spine.user_id, spine.h, coalesce(a.n, 0) AS n
             |FROM spine LEFT JOIN a ON spine.user_id = a.user_id AND spine.h = a.h
             |ORDER BY spine.user_id, spine.h""".stripMargin)),

    // Multimodal frame sampling + resize plan: every-2nd 256-byte "frame"
    // of each payload with per-frame fingerprints and the proportional
    // resize metadata — the video-pipeline fan-out shape with a stub codec.
    Q("multimodal_frames", "LLM",
      (s, d) => Multimodal.sampleFrames(
        Multimodal.asMediaTable(Tables(s, d, "documents"), "doc_id", "text"))
        .orderBy("media_id", "frame_idx"),
      // BYTE-based oracle: the engine slices payload BYTES (substring over
      // BinaryType), so the oracle slices the hex encoding at 2-hex-chars-
      // per-byte offsets — byte-exact for any UTF-8 content. (A character
      // substring + encode would shift frame boundaries on multi-byte
      // documents; LlmSpec pins the multi-byte case with an emoji fixture.)
      Some("""WITH m AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
             |         greatest(CAST(ceil(octet_length(encode(text)) / 256.0) AS INTEGER), 1) AS n_frames,
             |         octet_length(encode(text)) % 64 + 16 AS w,
             |         octet_length(encode(text)) % 48 + 16 AS h
             |       FROM documents),
             |f AS (SELECT media_id, n_frames, w, h, unnest(range(0, n_frames, 2)) AS frame_idx, hx FROM m),
             |sl AS (SELECT media_id, n_frames, frame_idx, w, h,
             |         substring(hx, CAST(frame_idx * 512 + 1 AS BIGINT), 512) AS fh FROM f)
             |SELECT media_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
             |       CAST(len(fh) // 2 AS INTEGER) AS frame_len,
             |       substring(fh, 1, 16) AS frame_fp,
             |       64 AS resize_w,
             |       CAST(round(CAST(h AS DOUBLE) * 64 / w) AS INTEGER) AS resize_h
             |FROM sl ORDER BY media_id, frame_idx""".stripMargin)),

    // Streaming shape 1: tumbling-window aggregation (same function works on
    // readStream inputs with withLateDataWatermark).
    Q("stream_window_agg", "STREAM",
      (s, d) => StreamingOps.windowedEventStats(Tables(s, d, "events"))
        .orderBy("ws", "event_type"),
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type, count(*) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming shape 1b: SLIDING windows (overlapping — each event lands
    // in len/slide windows). The oracle expands the window membership by
    // epoch-grid arithmetic, exactly Spark's alignment.
    Q("stream_sliding_window", "STREAM",
      (s, d) => StreamingOps.slidingEventStats(Tables(s, d, "events"))
        .orderBy("ws", "event_type"),
      Some("""WITH w AS (SELECT event_type, value,
             |         to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 - k.k * 1800 AS BIGINT)) AS ws
             |       FROM events, (SELECT unnest(range(0, 2)) AS k) k)
             |SELECT CAST(ws AS TIMESTAMP) AS ws, event_type, count(*) AS n,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Repetition detection (Gopher-style quality rule): share of repeated
    // word trigrams per document — boilerplate and degenerate text score
    // high. One scan, per-row array ops.
    Q("text_repetition", "LLM",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_shingles"),
          size(array_distinct(col("sh"))).as("n_distinct"))
        .withColumn("rep_ratio_micro",
          expr("(cast(n_shingles as bigint) - n_distinct) * 1000000 div n_shingles"))
        .orderBy("doc_id"),
      Some(s"""WITH ${shinglesCte("documents")}
             |SELECT doc_id, CAST(len(s) AS INTEGER) AS n_shingles,
             |       CAST(len(list_distinct(s)) AS INTEGER) AS n_distinct,
             |       CAST((CAST(len(s) AS BIGINT) - len(list_distinct(s))) * 1000000 // len(s) AS BIGINT) AS rep_ratio_micro
             |FROM sh ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination (Dolma/C4-style): flag training documents
    // sharing word trigrams with a benchmark set. The benchmark side is
    // small by construction -> broadcast; the training side streams through
    // one explode + join, never a cross product.
    // Feature hashing (Weinberger et al. signed hashing trick): tokens →
    // fixed 64-dim sparse vectors with ±1 sign unbiasing, no vocabulary
    // table, no fitting pass. One explode + one map-side aggregate; the
    // md5 bucket/sign hashes replay in the oracle.
    Q("text_feature_hash", "LLM",
      (s, d) => TextAnalysis.featureHash(Tables(s, d, "documents"),
          "doc_id", "text", numFeatures = 64)
        .orderBy("doc_id", "feature_idx"),
      Some(s"""$featureHashCte
             |SELECT doc_id, feature_idx, CAST(sum(sgn) AS BIGINT) AS weight
             |FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0
             |ORDER BY doc_id, feature_idx""".stripMargin)),

    // Quality-classifier TRAINING (the learned upgrade of the fixed-weight
    // quality gates): batch logistic regression over the same hashed
    // 64-dim features as text_feature_hash, 2 deterministic fixed-point
    // gradient rounds — exact integer margins and gradients (DECIMAL(38,0)
    // against corpus-scale wrap), the pointwise sigmoid of an exact
    // integer margin as the only float op, sign-split truncating update.
    // Per round: one broadcast of the 64-row weight vector onto the
    // feature stream + one doc-keyed error join — never a d×n shuffle.
    // The oracle replays both rounds; y = (lang = 'en').
    Q("text_quality_train", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        graft.llm.Classifier.logisticTrain(
          TextAnalysis.featureHash(docs, "doc_id", "text", numFeatures = 64),
          enLabels(docs), rounds = 2, lrMilli = 500L, xCol = "weight")
          .orderBy("feature_idx")
      },
      Some(s"""$logitTrainCte
              |SELECT feature_idx, CAST(w AS BIGINT) AS w_micro FROM w2
              |ORDER BY feature_idx""".stripMargin)),

    // Serve-side scoring with the trained weights (same features, same
    // integer arithmetic — zero train/serve skew): exact integer margin +
    // micro-quantized sigmoid per document, one broadcast join + one
    // map-side-combined aggregate. The oracle extends the SAME training
    // CTE, so the two queries can never disagree on what the model is.
    Q("text_quality_score_trained", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        qualityScores(docs, enLabels(docs))
          .orderBy("doc_id")
      },
      Some(s"""$logitMarginCte
              |SELECT doc_id, CAST(m AS BIGINT) AS margin_micro,
              |  CAST(round(1000000.0 /
              |    (1.0 + exp(-(CAST(m AS DOUBLE) / 1000000.0)))) AS BIGINT) AS p_micro
              |FROM mgs ORDER BY doc_id""".stripMargin)),

    // Classifier evaluation: confusion matrix + precision/recall/F1
    // (integer milli) of the trained quality model against its labels at
    // the p >= 0.5 operating point — ONE conditional-sum aggregate over
    // the scored corpus; the standard eval artifact a training pipeline
    // gates promotion on.
    Q("text_classifier_eval", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val labels = enLabels(docs)
        qualityScores(docs, labels)
          .join(labels, "doc_id")
          .withColumn("pred", when(col("p_micro") >= 500000L, 1L).otherwise(0L))
          .agg(
            sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
            sum(when(col("pred") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
            sum(when(col("pred") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"))
          .withColumn("precision_milli",
            expr("CASE WHEN tp + fp = 0 THEN 0L ELSE tp * 1000 div (tp + fp) END"))
          .withColumn("recall_milli",
            expr("CASE WHEN tp + fn = 0 THEN 0L ELSE tp * 1000 div (tp + fn) END"))
          .withColumn("f1_milli", expr(
            """CASE WHEN 2 * tp + fp + fn = 0 THEN 0L
              |ELSE 2 * tp * 1000 div (2 * tp + fp + fn) END""".stripMargin))
      },
      Some(s"""$logitMarginCte,
              |sc AS (SELECT m.doc_id,
              |         CASE WHEN round(1000000.0 /
              |           (1.0 + exp(-(CAST(m AS DOUBLE) / 1000000.0)))) >= 500000
              |           THEN 1 ELSE 0 END AS pred,
              |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
              |       FROM mgs m JOIN documents d USING (doc_id)),
              |cm AS (SELECT
              |  sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS tp,
              |  sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS fp,
              |  sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
              |  sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS tn
              |  FROM sc)
              |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
              |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
              |  CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000 // (tp + fp) END AS BIGINT)
              |    AS precision_milli,
              |  CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000 // (tp + fn) END AS BIGINT)
              |    AS recall_milli,
              |  CAST(CASE WHEN 2 * tp + fp + fn = 0 THEN 0
              |       ELSE 2 * tp * 1000 // (2 * tp + fp + fn) END AS BIGINT) AS f1_milli
              |FROM cm""".stripMargin)),

    // Calibration bins (the reliability diagram behind "is p=0.8 really
    // 80%?"): trained scores decile-binned, each bin reporting mean
    // predicted vs actual positive rate in milli — one aggregate over
    // the scored corpus, 10 metadata rows out.
    Q("text_calibration_bins", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val labels = enLabels(docs)
        qualityScores(docs, labels)
          .join(labels, "doc_id")
          .withColumn("bin", least(expr("p_micro div 100000"), lit(9L)))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            expr("sum(p_micro) div (count(1) * 1000)").as("mean_pred_milli"),
            expr("sum(y) * 1000 div count(1)").as("actual_rate_milli"))
          .orderBy("bin")
      },
      Some(s"""$logitMarginCte,
              |sc AS (SELECT m.doc_id,
              |         CAST(round(1000000.0 /
              |           (1.0 + exp(-(CAST(m AS DOUBLE) / 1000000.0)))) AS BIGINT) AS p,
              |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
              |       FROM mgs m JOIN documents d USING (doc_id))
              |SELECT least(p // 100000, 9) AS bin, CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(p) // (count(*) * 1000) AS BIGINT) AS mean_pred_milli,
              |  CAST(sum(y) * 1000 // count(*) AS BIGINT) AS actual_rate_milli
              |FROM sc GROUP BY 1 ORDER BY bin""".stripMargin)),

    // BM25 lexical retrieval (k1=1.2, b=0.75, integer-exact micro scores):
    // three probe queries ride a broadcast into the corpus posting table —
    // postings of non-query terms never shuffle — then one (query, doc)
    // aggregate and a per-query top-10 window. The sparse twin of the
    // ann_* dense family; the retrieval primitive in front of a reranker.
    Q("text_bm25_search", "LLM",
      (s, d) => {
        TextAnalysis.bm25Search(Tables(s, d, "documents"), bm25Probes(s), k = 10)
          .orderBy("query_id", "rnk")
      },
      Some(s"""$bm25ScoreCte,
             |ag AS (SELECT query_id, doc_id, count(*) AS n_hit_terms,
             |         sum(s_micro) AS score_micro FROM sc GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, n_hit_terms, score_micro,
             |        CAST(row_number() OVER (PARTITION BY query_id
             |          ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
             |      FROM ag)
             |SELECT query_id, doc_id, CAST(n_hit_terms AS BIGINT) AS n_hit_terms,
             |       CAST(score_micro AS BIGINT) AS score_micro, rnk
             |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009
    // — the standard lexical+semantic blend of production RAG): BM25
    // top-20 and exact embedding top-20 per query, fused as
    // Σ 10⁶ div (60 + rank) over the lists that retrieved the doc, final
    // top-10. All-integer fusion (exact on both engines); the final
    // ranking window sees only the ≤40 fused candidates per query, and
    // each leg keeps its own scale shape (BM25's vocabulary join, the
    // ANN broadcast scan).
    Q("text_hybrid_rrf", "LLM",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val lex = TextAnalysis.bm25Search(Tables(s, d, "documents"), bm25Probes(s), k = 20)
          .select(col("query_id").cast("long").as("query_id"),
            col("doc_id"), col("rnk").cast("long").as("lex_rnk"))
        val e = Tables(s, d, "embeddings")
        val sem = Similarity.bruteForceTopK(e.filter(col("vec_id") >= 5),
            e.filter(col("vec_id").between(1, 3)), 20)
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rnk").cast("long").as("sem_rnk"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_micro").desc, col("doc_id"))
        lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("1000000 div (60 + lex_rnk)"), lit(0L))
              + coalesce(expr("1000000 div (60 + sem_rnk)"), lit(0L)))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("doc_id"), col("lex_rnk"),
            col("sem_rnk"), col("rrf_micro"), col("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some(s"""$bm25ScoreCte,
              |lag_ AS (SELECT query_id, doc_id, sum(s_micro) AS score_micro FROM sc GROUP BY 1, 2),
              |lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
              |          CAST(rnk AS BIGINT) AS lex_rnk FROM (
              |          SELECT query_id, doc_id, score_micro,
              |            row_number() OVER (PARTITION BY query_id
              |              ORDER BY score_micro DESC, doc_id) AS rnk
              |          FROM lag_) WHERE rnk <= 20),
              |qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
              |       WHERE vec_id BETWEEN 1 AND 3),
              |cv AS (SELECT vec_id AS doc_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
              |ssc AS (SELECT query_id, doc_id,
              |          CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |        FROM qv, cv),
              |sem AS (SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS sem_rnk FROM (
              |          SELECT query_id, doc_id, score_micro,
              |            row_number() OVER (PARTITION BY query_id
              |              ORDER BY score_micro DESC, doc_id) AS rnk
              |          FROM ssc) WHERE rnk <= 20),
              |fused AS (SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
              |            coalesce(lex.doc_id, sem.doc_id) AS doc_id,
              |            lex.lex_rnk, sem.sem_rnk,
              |            coalesce(1000000 // (60 + lex.lex_rnk), 0)
              |              + coalesce(1000000 // (60 + sem.sem_rnk), 0) AS rrf_micro
              |          FROM lex FULL OUTER JOIN sem
              |            ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id),
              |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              |        ORDER BY rrf_micro DESC, doc_id) AS INTEGER) AS rnk FROM fused)
              |SELECT query_id, doc_id, lex_rnk, sem_rnk, rrf_micro, rnk
              |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // Semantic decontamination (the embedding-space complement of the
    // n-gram decontaminate pair): flag TRAINING documents whose embedding
    // clears a cosine radius of ANY benchmark vector — paraphrased eval
    // leakage that exact n-grams miss. Pure composition: the benchmark
    // side rides [[Similarity.rangeSearch]]'s broadcast (small by
    // construction), the corpus is one map-only scan, and the per-doc
    // readout is a high-cardinality-key aggregate.
    Q("text_decontaminate_semantic", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.rangeSearch(e.filter(col("vec_id") >= 20),
            e.filter(col("vec_id") < 20), radius = 0.15)
          .groupBy(col("neighbor_id").as("doc_id"))
          .agg(count(lit(1)).as("n_benchmark_hits"),
            max(col("cosine_micro")).as("max_cosine_micro"))
          .orderBy("doc_id")
      },
      Some {
        val cosMicro = cosineMicroSql(dotSql("qe", "ce"), dotSql("qe", "qe"), dotSql("ce", "ce"))
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
           |c AS (SELECT vec_id AS doc_id, embedding AS ce FROM embeddings WHERE vec_id >= 20),
           |sc AS (SELECT doc_id,
           |         $cosMicro AS cm
           |       FROM c CROSS JOIN q WHERE query_id <> doc_id)
           |SELECT doc_id, count(*) AS n_benchmark_hits,
           |       CAST(max(cm) AS BIGINT) AS max_cosine_micro
           |FROM sc WHERE cm >= 150000
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    Q("text_decontaminate", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // benchmark side: tiny by construction (a fixed handful of docs at
        // ANY scale factor) — filter FIRST, then shingle, then collect to a
        // local relation. The benchmark set is exactly the bounded-metadata
        // case where a driver collect is the right plan: one small job at
        // plan build, then the broadcast ships straight from driver memory —
        // where an eager localCheckpoint paid a materialization job PLUS a
        // block-manager read under the broadcast build. The CORPUS is never
        // collected or checkpointed — it streams through one shingle pass.
        val bench = {
          import s.implicits._
          docs.filter(col("doc_id") < 10)
            .select(distinctGrams(col("text")).as("g")).distinct()
            .as[String].collect().toSeq.toDF("g")
        }
        // train side streams through one shingle pass + broadcast join —
        // never materialized, no shuffle of the corpus
        docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), distinctGrams(col("text")).as("g"))
          .join(broadcast(bench), "g")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
          .orderBy("doc_id")
      },
      Some(decontaminateOracle)),

    // Bloom-prefiltered decontamination — the shape that survives when the
    // BENCHMARK side outgrows a raw-gram broadcast (dozens of held-out sets
    // × thousands of grams each): distill the benchmark grams into a
    // fixed-size Bloom filter (bounded build: linear scan + <= bits/64-row
    // aggregate), probe every corpus gram with k in-codegen bit tests (no
    // join, no shuffle — the overwhelming majority of grams die here), and
    // send only Bloom-positive survivors through the exact verify join.
    // False positives cost verify work, never correctness; no false
    // negatives means the output is IDENTICAL to the exact path — same
    // oracle as text_decontaminate, which is the point: the filter changes
    // the plan, not the answer.
    Q("text_decontaminate_bloom", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val benchGrams = docs.filter(col("doc_id") < 10)
          .select(distinctGrams(col("text")).as("g")).distinct()
        // 2^16 bits / 4 hashes: ~1% fp at the synthetic bench size; the
        // 1 KiB word array rides the plan as a literal
        val bloom = TextAnalysis.bloomBuild(benchGrams, "g", bits = 1 << 16)
        val bench = {
          import s.implicits._
          benchGrams.as[String].collect().toSeq.toDF("g")
        }
        docs.filter(col("doc_id") >= 10)
          .select(col("doc_id"), distinctGrams(col("text")).as("g"))
          .filter(TextAnalysis.bloomMightContain(bloom, 1 << 16, 4, col("g")))
          .join(broadcast(bench), "g")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
          .orderBy("doc_id")
      },
      Some(decontaminateOracle)),

    // Stratified deterministic sampling: the data-mixing knob — keep 50% of
    // src0, 25% of src1, 10% of everything else, decided by id hash alone
    // (content- and partitioning-independent, replay-stable). Broadcast
    // rate lookup + one filtered scan, no shuffle of the corpus.
    // Fused training-mix builder (pipeline v3 — the r9 composition):
    // quality gate -> exact-dup collapse -> Neyman allocation of a
    // 50-doc budget across sources (variance of doc length) -> the
    // allocated count drawn per source by deterministic hash rank. One
    // program, four operator families, replayed end-to-end by the
    // oracle. Every stage is the engine's standing primitive; the
    // composition is the product a data-mixing team actually ships.
    Q("llm_corpus_pipeline_v3", "LLM",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val gated = Tables(s, d, "documents")
          .filter(col("lang").isin("en", "de") && length(col("text")) >= 50)
        // r16 (r15 verdict #3): pin the deduped frame ONCE — it feeds both
        // the Neyman allocation and the hash-rank draw, so the un-pinned
        // form ran the gate+dedup window twice; and rank BEFORE joining
        // the allocation (the per-source row number is independent of
        // n_alloc, and alloc has exactly one row per source drawn from
        // this same frame, so join-then-rank and rank-then-join emit
        // identical rows). The dispatch then sees the pinned frame's
        // ACTUAL bytes instead of a corpus⋈broadcast join estimate —
        // native window at spec scale, two-phase above the bound.
        val deduped = Pin(gated
          .withColumn("__h", md5(col("text")))
          .withColumn("__rn", row_number().over(
            Window.partitionBy("__h").orderBy("doc_id")))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("len")))
        val alloc = Sampling.neymanAllocation(deduped, "source", "len", n = 50)
          .select(col("stratum").as("source"), col("n_alloc"))
        // the per-source hash-rank draw rides the grouped two-phase row
        // number — a window partitioned by the 20-value source over the
        // deduped corpus would be one task per source at 100 TB
        graft.operators.GlobalRank.groupedRowNumber(
            deduped, Seq("source"),
            Seq(graft.functions.ColumnFns.md5Long(col("doc_id").cast("string")),
              col("doc_id")), "__pick")
          .join(broadcast(alloc), "source")
          .withColumn("pick_rank", col("__pick").cast("int"))
          .filter(col("pick_rank") <= col("n_alloc"))
          .select(col("source"), col("pick_rank"), col("doc_id"), col("len"))
          .orderBy("source", "pick_rank")
      },
      Some(s"""WITH gated AS (SELECT doc_id, source, text FROM documents
             |       WHERE lang IN ('en', 'de') AND length(text) >= 50),
             |dd AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
             |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |       FROM gated),
             |ded AS (SELECT doc_id, source, len FROM dd WHERE rn = 1),
             |st AS (SELECT source, count(*) AS n_pop,
             |         sum(CAST(len AS HUGEINT)) AS s2,
             |         sum(CAST(len AS HUGEINT) * len) AS q FROM ded GROUP BY 1),
             |w AS (SELECT source, n_pop,
             |        CAST(floor(sqrt(CAST(n_pop * q - s2 * s2 AS DOUBLE))) AS BIGINT) AS aw
             |      FROM st),
             |t AS (SELECT sum(aw) AS tw, sum(n_pop) AS np FROM w),
             |b AS (SELECT source, n_pop, aw,
             |        CASE WHEN tw = 0 THEN 50 * n_pop // np ELSE 50 * aw // tw END AS base,
             |        CASE WHEN tw = 0 THEN 50 * n_pop - (50 * n_pop // np) * np
             |             ELSE 50 * aw - (50 * aw // tw) * tw END AS rem
             |      FROM w, t),
             |e AS (SELECT 50 - sum(base) AS extra FROM b),
             |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS srk FROM b),
             |al AS (SELECT source,
             |         base + CASE WHEN srk <= extra THEN 1 ELSE 0 END AS n_alloc
             |       FROM rk, e),
             |pick AS (SELECT d.source, d.doc_id, d.len,
             |           CAST(row_number() OVER (PARTITION BY d.source
             |             ORDER BY ${md5LongSql("CAST(d.doc_id AS VARCHAR)")},
             |                      d.doc_id) AS INTEGER) AS pick_rank,
             |           a.n_alloc
             |         FROM ded d JOIN al a USING (source))
             |SELECT source, pick_rank, doc_id, len FROM pick
             |WHERE pick_rank <= n_alloc ORDER BY source, pick_rank""".stripMargin)),

    // Neyman-allocation sample sizing: a 100-sample budget split across
    // market segments proportionally to N_h*sigma_h (exact integer
    // sqrt(N*Sum(x^2) - Sum(x)^2) weights), fractional seats by largest
    // remainder with deterministic ties — one corpus aggregate, then
    // metadata-sized seat ranking. Sum(n_alloc) = 100 by construction.
    Q("sample_neyman", "LLM",
      (s, d) => Sampling.neymanAllocation(
          Tables(s, d, "customer")
            .withColumn("bal_c", round(col("c_acctbal") * 100).cast("long")),
          "c_mktsegment", "bal_c", n = 100)
        .orderBy("stratum"),
      Some("""WITH st AS (SELECT c_mktsegment AS stratum, count(*) AS n_pop,
             |         sum(CAST(round(c_acctbal * 100) AS HUGEINT)) AS s,
             |         sum(CAST(round(c_acctbal * 100) AS HUGEINT)
             |             * CAST(round(c_acctbal * 100) AS HUGEINT)) AS q
             |       FROM customer GROUP BY 1),
             |w AS (SELECT stratum, n_pop,
             |        CAST(floor(sqrt(CAST(n_pop * q - s * s AS DOUBLE))) AS BIGINT) AS alloc_w
             |      FROM st),
             |t AS (SELECT sum(alloc_w) AS tw FROM w),
             |b AS (SELECT stratum, n_pop, alloc_w,
             |        100 * alloc_w // tw AS base,
             |        100 * alloc_w - (100 * alloc_w // tw) * tw AS rem
             |      FROM w, t),
             |e AS (SELECT 100 - sum(base) AS extra FROM b),
             |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM b)
             |SELECT stratum, CAST(n_pop AS BIGINT) AS n_pop, alloc_w,
             |  CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
             |FROM r, e ORDER BY stratum""".stripMargin)),

    Q("sample_stratified", "LLM",
      (s, d) => {
        import s.implicits._
        val rates = Seq(("src0", 0.5), ("src1", 0.25)).toDF("stratum", "rate")
        Sampling.stratified(Tables(s, d, "documents"), "doc_id", "source",
            rates, defaultRate = 0.1)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("id_sum"))
          .orderBy("source")
      },
      Some(s"""WITH h AS (SELECT doc_id, source,
             |         ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 1000000 AS hv
             |       FROM documents),
             |k AS (SELECT * FROM h WHERE hv < CASE source WHEN 'src0' THEN 500000
             |                                            WHEN 'src1' THEN 250000
             |                                            ELSE 100000 END)
             |SELECT source, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-row weighted deterministic sampling: keep probability from the
    // document's own (quality-proxy) score — here length-derived, capped
    // at 400 chars. One scan + filter, no shuffle.
    Q("sample_weighted", "LLM",
      (s, d) => Sampling.weighted(Tables(s, d, "documents"), "doc_id",
          least(col("n_chars"), lit(400L)) / 400.0)
        .select(col("doc_id"), col("n_chars")).orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_chars FROM documents
             |WHERE ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 1000000
             |      < CAST(round(least(n_chars, 400) / 400.0 * 1000000) AS BIGINT)
             |ORDER BY doc_id""".stripMargin)),

    // PMI collocations (Church & Hanks): top word associations within a
    // ±2-token window — phrase-mining / tokenizer-merge-candidate
    // statistics. No self-join: two lead() columns over one (doc, pos)
    // sort, two map-side aggregates, vocabulary-sized joins, per-pair-type
    // quantized ln from exact DECIMAL(38,0) count products.
    Q("text_pmi_pairs", "LLM",
      (s, d) => TextAnalysis.pmiPairs(Tables(s, d, "documents"),
          "doc_id", "text", window = 2, minCount = 10)
        .orderBy(col("pmi_micro").desc, col("t1"), col("t2"))
        .limit(20),
      Some("""WITH lst AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |tk0 AS (SELECT doc_id, unnest(l) AS term,
             |          unnest(range(1, len(l) + 1)) AS pos FROM lst),
             |tk AS (SELECT doc_id, pos, term FROM tk0 WHERE term <> ''),
             |ld AS (SELECT doc_id, term,
             |         lead(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1,
             |         lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2
             |       FROM tk),
             |pairs AS (SELECT least(term, l1) AS t1, greatest(term, l1) AS t2
             |          FROM ld WHERE l1 IS NOT NULL
             |          UNION ALL
             |          SELECT least(term, l2), greatest(term, l2)
             |          FROM ld WHERE l2 IS NOT NULL),
             |pc AS (SELECT t1, t2, count(*) AS c_ab FROM pairs GROUP BY 1, 2),
             |uni AS (SELECT term, count(*) AS c_t FROM tk GROUP BY 1),
             |tot AS (SELECT (SELECT sum(c_ab) FROM pc) AS p,
             |               (SELECT sum(c_t) FROM uni) AS t),
             |sc AS (SELECT pc.t1, pc.t2, c_ab, ua.c_t AS c_a, ub.c_t AS c_b,
             |         CAST(round(ln(CAST(c_ab * t AS DOUBLE) * CAST(t AS DOUBLE)
             |                      / (CAST(p * c_a AS DOUBLE) * CAST(c_b AS DOUBLE))) * 1e6) AS BIGINT) AS pmi_micro
             |       FROM pc JOIN uni ua ON ua.term = pc.t1
             |            JOIN uni ub ON ub.term = pc.t2, tot
             |       WHERE c_ab >= 10)
             |SELECT t1, t2, c_ab, c_a, c_b, pmi_micro FROM sc
             |ORDER BY pmi_micro DESC, t1, t2 LIMIT 20""".stripMargin)),

    // Snapshot diff / CDC between two corpus states: one row per key that
    // moved (added / removed / changed-by-content-hash), unchanged keys
    // dropped — output ∝ churn, the property that makes incremental
    // re-processing affordable. One full-outer join on the PK (co-located
    // when both snapshots ride the bucketed sink layout). Prev is derived
    // deterministically from the corpus so the oracle replays the churn.
    Q("corpus_snapshot_diff", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val prev = docs.filter(col("doc_id") % 7 =!= 0)
          .withColumn("text", when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" EDIT"))).otherwise(col("text")))
        val curr = docs.filter(col("doc_id") % 13 =!= 0)
        graft.operators.Scd2.snapshotDiff(prev, curr, "doc_id",
            Seq("text", "lang", "source"))
          .orderBy("doc_id")
      },
      Some("""WITH prev AS (SELECT doc_id,
             |         md5(concat_ws(chr(1),
             |           CASE WHEN doc_id % 5 = 0 THEN text || ' EDIT' ELSE text END,
             |           lang, source)) AS prev_hash
             |       FROM documents WHERE doc_id % 7 <> 0),
             |curr AS (SELECT doc_id,
             |         md5(concat_ws(chr(1), text, lang, source)) AS curr_hash
             |       FROM documents WHERE doc_id % 13 <> 0),
             |j AS (SELECT coalesce(prev.doc_id, curr.doc_id) AS doc_id,
             |        prev_hash, curr_hash,
             |        CASE WHEN prev_hash IS NULL THEN 'added'
             |             WHEN curr_hash IS NULL THEN 'removed'
             |             WHEN prev_hash <> curr_hash THEN 'changed' END AS change
             |      FROM prev FULL JOIN curr ON prev.doc_id = curr.doc_id)
             |SELECT doc_id, change, prev_hash, curr_hash FROM j
             |WHERE change IS NOT NULL ORDER BY doc_id""".stripMargin)),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // a fixed 50-doc sample favoring longer documents — key =
    // quantized(-ln(md5-uniform)) / n_chars, k smallest keys win. One
    // scan + a k-row TakeOrderedAndProject; no full sort, no shuffle of
    // the corpus. The fixed-size complement of sample_weighted's
    // per-row Bernoulli.
    Q("sample_weighted_noreplace", "LLM",
      (s, d) => Sampling.weightedSampleNoReplacement(
          Tables(s, d, "documents"), "doc_id", col("n_chars"), k = 50)
        .orderBy("es_key", "doc_id"),
      Some(s"""WITH h AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
             |         greatest(${md5LongSql("CAST(doc_id AS VARCHAR)")}, 1) AS hh
             |       FROM documents WHERE n_chars > 0),
             |key AS (SELECT doc_id, w,
             |          (CAST(-round(ln(CAST(hh AS DOUBLE) / 1152921504606846976.0) * 1e6) AS BIGINT)
             |           * 1000000) // w AS es_key
             |        FROM h)
             |SELECT doc_id, w, es_key FROM key
             |ORDER BY es_key, doc_id LIMIT 50""".stripMargin)),

    // Per-stratum Efraimidis-Spirakis weighted reservoir: 5 docs per
    // source, inclusion odds proportional to n_chars — same integer
    // es_key as sample_weighted_noreplace, same skew-proof two-phase
    // top-k shape as sample_domain_cap (never a per-stratum window
    // sort). Oracle is the semantically identical row_number form.
    Q("sample_stratified_reservoir", "LLM",
      (s, d) => Sampling.weightedSamplePerStratum(
          Tables(s, d, "documents"), "doc_id", "source", col("n_chars"), k = 5)
        .orderBy("source", "rank"),
      Some(s"""WITH h AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             |         greatest(${md5LongSql("CAST(doc_id AS VARCHAR)")}, 1) AS hh
             |       FROM documents WHERE n_chars > 0),
             |key AS (SELECT source, doc_id, w,
             |          (CAST(-round(ln(CAST(hh AS DOUBLE) / 1152921504606846976.0) * 1e6) AS BIGINT)
             |           * 1000000) // w AS es_key
             |        FROM h),
             |rk AS (SELECT source, doc_id, w, es_key,
             |         row_number() OVER (PARTITION BY source
             |                            ORDER BY es_key, doc_id) AS rank
             |       FROM key)
             |SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, w, es_key
             |FROM rk WHERE rank <= 5 ORDER BY source, rank""".stripMargin)),

    // Per-stratum cap (domain quota): at most 5 docs per source, the ones
    // with the lowest (hash, id) — exact top-N per key via two-phase
    // partial/merge aggregation, no per-stratum window sort (a dominant
    // domain never funnels through one task). Oracle is the semantically
    // identical row_number form.
    Q("sample_domain_cap", "LLM",
      (s, d) => Sampling.capPerStratum(Tables(s, d, "documents"),
          "doc_id", "source", 5)
        .select(col("source"), col("rank").cast("long").as("cap_rank"),
          col("doc_id"))
        .orderBy("source", "cap_rank"),
      Some(s"""WITH h AS (SELECT source, doc_id,
             |         ${md5LongSql("CAST(doc_id AS VARCHAR)")} AS hh
             |       FROM documents),
             |r AS (SELECT source, doc_id,
             |        row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rn
             |      FROM h)
             |SELECT source, CAST(rn AS BIGINT) AS cap_rank, doc_id
             |FROM r WHERE rn <= 5 ORDER BY source, cap_rank""".stripMargin)),

    // Temperature-scaled mixture weights (p_s ∝ size_s^0.5): the
    // data-mixing recipe that flattens source sizes. sqrt is the one
    // flattening exponent that is IEEE-exact in every engine; per-stratum
    // float math quantizes to micro-units BEFORE the integer normalizing
    // sum, so weights are bit-identical.
    Q("sample_temperature", "LLM",
      (s, d) => Sampling.temperatureMixtureSqrt(Tables(s, d, "documents"),
          "source", "n_chars")
        .orderBy("source"),
      Some("""WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS stratum_size,
             |         CAST(round(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
             |       FROM documents GROUP BY 1)
             |SELECT source, stratum_size, w_micro,
             |       CAST((w_micro * 1000000) // (SELECT sum(w_micro) FROM w) AS BIGINT) AS p_micro
             |FROM w ORDER BY source""".stripMargin)),

    // Epoch-annealed mixture schedule: natural -> sqrt-tempered source
    // weights over 4 epochs, pure integer interpolation between the two
    // micro-quantized endpoint distributions.
    Q("sample_mixture_schedule", "LLM",
      (s, d) => Sampling.annealedMixture(Tables(s, d, "documents"),
        "source", "n_chars", epochs = 4).orderBy("epoch", "source"),
      Some("""WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS stratum_size,
             |         CAST(round(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1e6) AS BIGINT) AS wsq
             |       FROM documents GROUP BY 1),
             |tot AS (SELECT sum(stratum_size) AS ts, sum(wsq) AS tw FROM w),
             |e AS (SELECT CAST(unnest(range(0, 4)) AS INTEGER) AS epoch),
             |b AS (SELECT epoch, source, stratum_size,
             |        (stratum_size * 1000000) // ts AS pn,
             |        (wsq * 1000000) // tw AS ps,
             |        (epoch * 1000000) // 3 AS t
             |      FROM w, tot, e)
             |SELECT epoch, source, stratum_size,
             |       CAST((pn * (1000000 - t) + ps * t) // 1000000 AS BIGINT) AS p_micro
             |FROM b ORDER BY epoch, source""".stripMargin)),

    // Signed (±1) random projection, the JL dimensionality-reduction step:
    // 64-dim embeddings onto 8 md5-derived hyperplanes — the same planes
    // the LSH bucketer thresholds, exposed as micro-unit components.
    Q("emb_random_projection", "LLM",
      (s, d) => Similarity.randomProjection(Tables(s, d, "embeddings"), 64, 8)
        .orderBy("vec_id", "p"),
      Some(s"""SELECT vec_id, p, CAST(round(list_sum(list_transform(range(1, 65), i ->
             |         CAST(embedding[i] AS DOUBLE) *
             |         (CASE WHEN ${md5LongSql("CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)")} % 2 = 1
             |               THEN 1.0 ELSE -1.0 END))) * 1000000) AS BIGINT) AS comp_micro
             |FROM embeddings, (SELECT unnest(range(0, 8)) AS p) ORDER BY vec_id, p""".stripMargin)),

    // Diversity sampling: spread a fixed-budget sample across embedding
    // space by composing two existing operators unchanged — IVF cluster
    // assignment (broadcast centroids -> argmax, no corpus shuffle) and
    // the deterministic per-stratum cap (two hash aggregates, no giant
    // window). The per-cluster quota is what keeps the sample diverse:
    // a global top-N by hash would oversample dense regions.
    Q("emb_diversity_sample", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val assigned = Similarity.ivfAssign(
            e.filter(col("vec_id") >= 16), e.filter(col("vec_id") < 16))
          .select(col("vec_id"), col("centroid_id"))
        Sampling.capPerStratum(assigned, "vec_id", "centroid_id", 8)
          .select(col("centroid_id"), col("rank").cast("long").as("cap_rank"),
            col("vec_id"))
          .orderBy("centroid_id", "cap_rank")
      },
      Some {
        s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |ca AS (SELECT vec_id, cid FROM (
           |         SELECT v.vec_id, c.cid,
           |                row_number() OVER (PARTITION BY v.vec_id
           |                                   ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
           |         FROM embeddings v, cent c WHERE v.vec_id >= 16) WHERE rn = 1),
           |h AS (SELECT cid, vec_id,
           |        ${md5LongSql("CAST(vec_id AS VARCHAR)")} AS hh
           |      FROM ca),
           |r AS (SELECT cid, vec_id,
           |        row_number() OVER (PARTITION BY cid ORDER BY hh, vec_id) AS rn FROM h)
           |SELECT cid AS centroid_id, CAST(rn AS BIGINT) AS cap_rank, vec_id
           |FROM r WHERE rn <= 8 ORDER BY centroid_id, cap_rank""".stripMargin
      }),

    // Symmetric int8 quantization of embeddings (8× compression for
    // storage/serving) with the max reconstruction error as a built-in
    // quality audit — all per-row array math, zero shuffles.
    Q("emb_quantize_int8", "LLM",
      (s, d) => Similarity.quantizeInt8(Tables(s, d, "embeddings"))
        .orderBy("vec_id"),
      Some("""WITH s AS (SELECT vec_id, embedding AS e,
             |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
             |       FROM embeddings),
             |q AS (SELECT vec_id, e, scale,
             |        CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
             |             ELSE list_transform(e, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) END AS qs
             |      FROM s)
             |SELECT vec_id,
             |       array_to_string(list_transform(qs, x -> CAST(x AS VARCHAR)), ',') AS q,
             |       CAST(round(scale * 1000000000) AS BIGINT) AS scale_nano,
             |       CAST(round((CASE WHEN scale = 0 THEN 0
             |                        ELSE list_max(list_transform(range(1, 65), i ->
             |                               abs(qs[i] * scale - CAST(e[i] AS DOUBLE)))) END) * 1000000000) AS BIGINT) AS err_nano
             |FROM q ORDER BY vec_id""".stripMargin)),

    // Top principal direction by 2-round distributed power iteration
    // (uncentered 1-D PCA): per-round one broadcast-dot map pass + one
    // transpose-aggregate (shuffle cardinality = dim), renormalized onto
    // the ±1e6 integer grid between rounds. The oracle unrolls the same
    // two rounds on the same grid in SQL.
    Q("emb_pca_power", "LLM",
      (s, d) => Similarity.powerIteration(Tables(s, d, "embeddings"), rounds = 2),
      Some {
        def round_(sIn: String, wOut: String, vOut: String) =
          s"""w$wOut AS (SELECT p.i AS pos, sum(CAST(m[p.i] AS HUGEINT) * s) AS w
             |       FROM $sIn, (SELECT unnest(range(1, 65)) AS i) p GROUP BY 1),
             |x$wOut AS (SELECT max(abs(w)) AS mx FROM w$wOut),
             |$vOut AS (SELECT pos,
             |        CASE WHEN mx = 0 THEN 0
             |             WHEN w < 0 THEN -((-w * 1000000) // mx)
             |             ELSE (w * 1000000) // mx END AS vm
             |      FROM w$wOut, x$wOut)""".stripMargin
        s"""WITH m AS (SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS m
           |       FROM embeddings),
           |s1 AS (SELECT m, list_sum(list_transform(m, x -> x * 1000000)) AS s FROM m),
           |${round_("s1", "1", "v1")},
           |vl AS (SELECT list(vm ORDER BY pos) AS v FROM v1),
           |s2 AS (SELECT m, list_sum(list_transform(range(1, 65), j -> m[j] * v[j])) AS s
           |       FROM m, vl),
           |${round_("s2", "2", "v2")}
           |SELECT CAST(pos AS INTEGER) AS pos, CAST(vm AS BIGINT) AS v_micro
           |FROM v2 ORDER BY pos""".stripMargin
      }),

    // Per-dimension standardization (whitening): one micro-grid moments
    // pass over the full corpus (DECIMAL(38,0) — n·Q wraps Long before
    // corpus scale), z-transform against the dim-row broadcast stats; the
    // emitted slice is the bounded audit probe, the stats cover everything.
    Q("emb_standardize", "LLM",
      (s, d) => Similarity.standardize(Tables(s, d, "embeddings"),
          probe = col("vec_id") < 8)
        .orderBy("vec_id", "pos"),
      Some("""WITH e AS (SELECT vec_id, p.i AS pos,
             |         CAST(round(CAST(embedding[p.i] AS DOUBLE) * 1000000) AS BIGINT) AS mv
             |       FROM embeddings, (SELECT unnest(range(1, 65)) AS i) p),
             |st AS (SELECT pos, count(*) AS n, sum(CAST(mv AS HUGEINT)) AS s,
             |         sum(CAST(mv AS HUGEINT) * mv) AS q
             |       FROM e GROUP BY 1),
             |d AS (SELECT pos, n, s,
             |        CAST(floor(sqrt(CAST(n * q - s * s AS DOUBLE))) AS HUGEINT) AS den
             |      FROM st)
             |SELECT e.vec_id, CAST(e.pos AS INTEGER) AS pos,
             |  CAST(CASE WHEN den = 0 THEN 0
             |            WHEN (n * e.mv - s) < 0 THEN -((-(n * e.mv - s) * 1000000) // den)
             |            ELSE ((n * e.mv - s) * 1000000) // den END AS BIGINT) AS z_micro,
             |  CAST(CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS BIGINT) AS mean_micro,
             |  CAST(den // n AS BIGINT) AS sigma_micro
             |FROM e JOIN d USING (pos) WHERE e.vec_id < 8
             |ORDER BY vec_id, pos""".stripMargin)),

    // Greedy k-center coreset (Gonzalez 2-approx): 4 rounds of
    // broadcast-fold dmin + global top-1 — max-min-distance coverage
    // sampling, the diversity complement of per-cell quotas. The oracle
    // unrolls the identical rounds with least()-folded running dmin.
    Q("sample_kcenter", "LLM",
      (s, d) => Similarity.kcenterGreedy(Tables(s, d, "embeddings"), k = 4),
      Some {
        def d2(a: String, b: String) =
          s"list_sum(list_transform(range(1, 65), j -> ($a.m[j] - $b.m[j]) * ($a.m[j] - $b.m[j])))"
        val rounds = (2 to 4).map { r =>
          val (prev, c) = (s"d${r - 1}", s"c$r")
          val upd =
            if (r == 2)
              s"""d1 AS (SELECT m.vec_id, m.m, ${d2("m", "c1")} AS dmin FROM m, c1),
                 |c2 AS (SELECT vec_id, m, dmin FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
            else {
              val dp = s"d${r - 2}"
              val dn = s"d${r - 1}"
              val cp = s"c${r - 1}"
              s"""$dn AS (SELECT $dp.vec_id, $dp.m, least($dp.dmin, ${d2(dp, cp)}) AS dmin
                 |      FROM $dp, $cp),
                 |$c AS (SELECT vec_id, m, dmin FROM $dn ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
            }
          upd
        }.mkString(",\n")
        s"""WITH m AS (SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS m
           |       FROM embeddings),
           |c1 AS (SELECT vec_id, m FROM m ORDER BY vec_id LIMIT 1),
           |$rounds
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS round, vec_id, CAST(0 AS BIGINT) AS d2_at_pick FROM c1
           |  UNION ALL SELECT CAST(2 AS BIGINT), vec_id, CAST(dmin AS BIGINT) FROM c2
           |  UNION ALL SELECT CAST(3 AS BIGINT), vec_id, CAST(dmin AS BIGINT) FROM c3
           |  UNION ALL SELECT CAST(4 AS BIGINT), vec_id, CAST(dmin AS BIGINT) FROM c4)
           |ORDER BY round""".stripMargin
      }),

    // k-means++ initialization: D²-sampling realized as hash points on
    // the exact distributed prefix sum — composes the broadcast dmin²
    // fold, globalPrefixSum, and the replayable hash stream into the
    // principled seeding for kmeansTrain. The oracle unrolls the same
    // rounds, picks included.
    Q("ann_kmeanspp_init", "LLM",
      (s, d) => Similarity.kmeansPpInit(Tables(s, d, "embeddings"), k = 3),
      Some {
        def dist(a: String, b: String) =
          s"list_sum(list_transform(range(1, 65), j -> ($a.m[j] - $b.m[j]) * ($a.m[j] - $b.m[j])))"
        def rnd(prevD: String, r: Int) =
          s"""s$r AS (SELECT vec_id, m, dd,
             |        sum(dd) OVER (ORDER BY vec_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM $prevD),
             |t$r AS (SELECT sum(dd) AS tw FROM $prevD),
             |p$r AS (SELECT (${md5LongSql(s"'kmeanspp:$r'")} % tw) + 1 AS p
             |       FROM t$r),
             |c$r AS (SELECT vec_id, m, dd FROM s$r, p$r WHERE cum - dd < p AND p <= cum)""".stripMargin
        s"""WITH m AS (SELECT vec_id,
           |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS m
           |       FROM embeddings),
           |c1 AS (SELECT vec_id, m FROM m ORDER BY vec_id LIMIT 1),
           |e1 AS (SELECT m.vec_id, m.m, ${dist("m", "c1")} AS dd FROM m, c1),
           |${rnd("e1", 2)},
           |e2 AS (SELECT e1.vec_id, e1.m, least(e1.dd, ${dist("e1", "c2")}) AS dd
           |       FROM e1, c2),
           |${rnd("e2", 3)}
           |SELECT * FROM (
           |  SELECT CAST(1 AS BIGINT) AS round, vec_id, CAST(0 AS BIGINT) AS d2_at_pick FROM c1
           |  UNION ALL SELECT CAST(2 AS BIGINT), vec_id, CAST(dd AS BIGINT) FROM c2
           |  UNION ALL SELECT CAST(3 AS BIGINT), vec_id, CAST(dd AS BIGINT) FROM c3)
           |ORDER BY round""".stripMargin
      }),

    // Matryoshka prefix truncation (MRL): the first 16 of 64 dims as a
    // usable lower-dim embedding, in integer micro-units, plus the
    // retained-energy audit (‖prefix‖²/‖full‖² in milli, exact integer
    // ratio of micro-rounded energies). One scan, zero shuffles.
    Q("emb_matryoshka", "LLM",
      (s, d) => Similarity.matryoshkaTruncate(Tables(s, d, "embeddings"), dims = 16)
        .orderBy("vec_id"),
      Some("""WITH m AS (SELECT vec_id, embedding AS e,
             |         CAST(round(list_sum(list_transform(range(1, 17),
             |           i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))) * 1000000) AS BIGINT) AS pe,
             |         CAST(round(list_sum(list_transform(range(1, 65),
             |           i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))) * 1000000) AS BIGINT) AS fe
             |       FROM embeddings)
             |SELECT vec_id,
             |       array_to_string(list_transform(range(1, 17),
             |         i -> CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT)), ',') AS prefix_micro,
             |       CAST(CASE WHEN fe = 0 THEN 1000 ELSE (pe * 1000) // fe END AS BIGINT) AS retained_milli
             |FROM m ORDER BY vec_id""".stripMargin)),

    // Coarse-to-fine matryoshka ANN: rank everything on the 16-dim prefix,
    // keep a 20-deep shortlist per query, re-score only the shortlist at
    // full 64 dims — the MRL serving funnel (prefix scan reads 4× fewer
    // bytes at scale; the full-dim fetch touches 20 rows per query, not
    // the corpus). The oracle replays both stages and both tie-breaks.
    Q("ann_matryoshka", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.matryoshkaSearch(e.filter(col("vec_id") >= 5),
            e.filter(col("vec_id") < 5), dims = 16, k = 5, shortlist = 20)
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 5),
              |sc AS (SELECT query_id, neighbor_id, qe, ce,
              |         CAST(round(list_sum(list_transform(range(1, 17),
              |           i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) * 1000000) AS BIGINT) AS score_coarse_micro
              |       FROM q, c),
              |s1 AS (SELECT *, row_number() OVER (PARTITION BY query_id
              |                   ORDER BY score_coarse_micro DESC, neighbor_id) AS r1 FROM sc),
              |s2 AS (SELECT query_id, neighbor_id, score_coarse_micro, CAST(round((${dotSql("qe", "ce")}) * 1000000) AS BIGINT) AS score_micro
              |       FROM s1 WHERE r1 <= 20),
              |r AS (SELECT query_id, neighbor_id, score_micro, score_coarse_micro,
              |        CAST(row_number() OVER (PARTITION BY query_id
              |               ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
              |      FROM s2)
              |SELECT query_id, neighbor_id, rnk, score_micro, score_coarse_micro
              |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // SCD2 dimension build from the event log: collapse each user's
    // event-type stream into versioned [valid_from, valid_to) runs — the
    // CDC-consumer shape that preserves the history the reference's
    // latest-value upserts lose. Two windows over ONE exchange on the key.
    Q("scd2_user_state", "STREAM",
      (s, d) => graft.operators.Scd2.buildIntervals(Tables(s, d, "events"),
          "user_id", "event_type", "ts", "event_id")
        .orderBy("user_id", "version"),
      Some("""WITH o AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t, event_id,
             |         lag(event_type) OVER (PARTITION BY user_id
             |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev,
             |         row_number() OVER (PARTITION BY user_id
             |           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
             |       FROM events),
             |c AS (SELECT user_id, event_type, t, event_id FROM o
             |      WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
             |v AS (SELECT user_id, event_type, t AS valid_from,
             |        lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
             |        CAST(row_number() OVER (PARTITION BY user_id
             |               ORDER BY t, event_id) AS INTEGER) AS version
             |      FROM c)
             |SELECT user_id, event_type, valid_from, valid_to, version,
             |       valid_to IS NULL AS is_current
             |FROM v ORDER BY user_id, version""".stripMargin)),

    // Integer-exact 3-sigma anomaly gate per event type: the z-score test
    // rewritten to avoid sqrt AND division — (x−μ)² > 9σ² becomes
    // (n·x − Σx)² > 9·(n·Σx² − (Σx)²), all decimal(38,0) integer
    // arithmetic on micro-quantized values, so the outlier SET is
    // bit-identical across engines (a float z-score would flip flags on
    // boundary ties). One stats aggregate (5 rows) broadcast back over
    // one scan.
    Q("event_value_outliers", "STREAM",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("event_type"),
            round(col("value") * 1000000d).cast("long").as("v"))
        val dv = col("v").cast("decimal(38,0)")
        val st = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(dv).as("s1"), sum(dv * dv).as("s2"))
        val dn = col("n").cast("decimal(38,0)")
        val dxn = dn * col("v") - col("s1")
        ev.join(broadcast(st), Seq("event_type"))
          .withColumn("is_out", dxn * dxn > lit(9) * (dn * col("s2") - col("s1") * col("s1")))
          .withColumn("mean_micro", floor(col("s1") / col("n")).cast("long"))
          .groupBy(col("event_type"), col("n"), col("mean_micro"))
          .agg(sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
            max(when(col("is_out"), abs(col("v") - col("mean_micro"))))
              .as("max_out_dev_micro"))
          .select(col("event_type"), col("n"), col("mean_micro"),
            col("n_outliers"), col("max_out_dev_micro"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v
             |       FROM events),
             |s AS (SELECT event_type, count(*) AS n, sum(CAST(v AS HUGEINT)) AS s1,
             |        sum(CAST(v AS HUGEINT) * v) AS s2 FROM e GROUP BY 1)
             |SELECT e.event_type, CAST(max(s.n) AS BIGINT) AS n,
             |       CAST(max(s.s1 // s.n) AS BIGINT) AS mean_micro,
             |       CAST(sum(CASE WHEN (CAST(s.n AS HUGEINT) * e.v - s.s1)
             |                        * (CAST(s.n AS HUGEINT) * e.v - s.s1)
             |                      > 9 * (CAST(s.n AS HUGEINT) * s.s2 - s.s1 * s.s1)
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |       CAST(max(CASE WHEN (CAST(s.n AS HUGEINT) * e.v - s.s1)
             |                        * (CAST(s.n AS HUGEINT) * e.v - s.s1)
             |                      > 9 * (CAST(s.n AS HUGEINT) * s.s2 - s.s1 * s.s1)
             |                     THEN abs(e.v - CAST(s.s1 // s.n AS BIGINT)) END) AS BIGINT)
             |         AS max_out_dev_micro
             |FROM e JOIN s USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Ordered-stage funnel over the event log: view → click → purchase
    // with strictly sequential timestamps; the rollup counts users
    // reaching each stage. All shuffles key on user_id (one exchange,
    // reused across stages).
    Q("event_funnel", "STREAM",
      (s, d) => graft.operators.Funnel.stageCounts(Tables(s, d, "events"),
        Seq("view", "click", "purchase")),
      Some("""WITH s0 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
             |            FROM events WHERE event_type = 'view' GROUP BY 1),
             |s1 AS (SELECT s0.user_id, t0,
             |         min(CASE WHEN CAST(e.ts AS TIMESTAMP) >= t0 THEN CAST(e.ts AS TIMESTAMP) END) AS t1
             |       FROM s0 LEFT JOIN events e
             |         ON e.user_id = s0.user_id AND e.event_type = 'click'
             |       GROUP BY 1, 2),
             |s2 AS (SELECT s1.user_id, t0, t1,
             |         min(CASE WHEN CAST(e.ts AS TIMESTAMP) >= t1 THEN CAST(e.ts AS TIMESTAMP) END) AS t2
             |       FROM s1 LEFT JOIN events e
             |         ON e.user_id = s1.user_id AND e.event_type = 'purchase'
             |       GROUP BY 1, 2, 3)
             |SELECT count(t0) AS n_view, count(t1) AS n_click, count(t2) AS n_purchase
             |FROM s2""".stripMargin)),

    // Address-graph importance (graphsense downstream): 3 iterations of
    // weighted PageRank over the user-transition graph (A → B when B's
    // event directly follows A's in the same event-type stream — the
    // "A sends to B" edge shape of an address graph; the chain source's
    // synthetic addresses are unique by construction, so events supplies
    // the connected topology). Integer micro-unit ranks, fixed iteration
    // count, one bounded shuffle per round.
    Q("graph_pagerank", "GRAPH",
      (s, d) => graft.operators.Graph.pagerank(transitionEdges(s, d), iters = 3)
        .orderBy("node"),
      Some {
        def round(i: Int) =
          s"""${pushSql(i, s"r${i - 1}", "id", "rm")},
             |r$i AS (SELECT n.id, CAST(150000 + (COALESCE(s$i.m, 0) * 850) // 1000 AS BIGINT) AS rm
             |       FROM nodes n LEFT JOIN s$i ON n.id = s$i.dst)""".stripMargin
        s"""$transitionPushCte,
           |nodes AS (SELECT DISTINCT src AS id FROM ew UNION SELECT DISTINCT dst FROM ew),
           |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rm FROM nodes),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT id AS node, rm AS rank_micro FROM r3 ORDER BY 1""".stripMargin
      }),

    // Directed triad motif census: 3-cycles (feedback: u→v→w→u) vs
    // feed-forward triangles (u→v→w with the u→w shortcut) — the two
    // motifs whose ratio separates flow hierarchies from circular
    // structures (wash-trading rings read as cycles). Distinct-edge
    // 2-paths via one self-equi-join, each motif closed by one more
    // equi-join; cycles counted once per rotation → div 3. Count-only
    // output (the pair-level stream never leaves the aggregate).
    Q("graph_triad_motifs", "GRAPH",
      (s, d) => {
        val e = Pin(transitionEdges(s, d).select(col("src"), col("dst")).distinct())
        // ONE evaluation of the path explosion with PACKED-LONG closure
        // probes: both closures look up the SAME edge set, keyed
        // (src, dst) packed into one long (ids < 2^31 by domain; packing
        // keeps Spark on LongHashedRelation — measured 4.5x faster at
        // the 10x scale than composite-key probes: 13.0 -> 2.9 s). The
        // cycle probe keys the path as (w, u), the feed-forward probe as
        // (u, w); e is distinct so indicator multiplicity is exactly
        // 0/1, and all three counts fall out of a single aggregate (the
        // original three-action form re-ran the explosion per count).
        val K = 1L << 31
        val edgeKeys = broadcast(
          Pin(e.select((col("src") * K + col("dst")).as("__k"), lit(1L).as("__hit"))))
        val paths = e.select(col("src").as("u"), col("dst").as("m"))
          .join(e.select(col("src").as("m"), col("dst").as("w")), "m")
          .filter(col("u") =!= col("w"))
          .select((col("w") * K + col("u")).as("__kc"),
            (col("u") * K + col("w")).as("__kf"))
        paths
          .join(edgeKeys.withColumnRenamed("__k", "__kc")
            .withColumnRenamed("__hit", "__cyc"), Seq("__kc"), "left")
          .join(edgeKeys.withColumnRenamed("__k", "__kf")
            .withColumnRenamed("__hit", "__ffl"), Seq("__kf"), "left")
          .agg(count(lit(1)).as("n_paths2"),
            expr("sum(coalesce(__cyc, 0L)) div 3").as("n_cycles"),
            sum(coalesce(col("__ffl"), lit(0L))).as("n_ffl"))
      },
      Some {
        s"""$transitionEdgesCte,
           |e AS (SELECT DISTINCT src, dst FROM ew),
           |p AS (SELECT a.src AS u, a.dst AS v, b.dst AS w
           |      FROM e a JOIN e b ON a.dst = b.src WHERE a.src <> b.dst),
           |c AS (SELECT count(*) // 3 AS n_cycles
           |      FROM p JOIN e ON e.src = p.w AND e.dst = p.u),
           |f AS (SELECT count(*) AS n_ffl
           |      FROM p JOIN e ON e.src = p.u AND e.dst = p.w)
           |SELECT (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_paths2,
           |  CAST(n_cycles AS BIGINT) AS n_cycles,
           |  CAST(n_ffl AS BIGINT) AS n_ffl
           |FROM c, f""".stripMargin
      }),

    // Seeded label spreading (semi-supervised classification on the
    // graph): clamped seeds push labels by weighted majority for 2
    // rounds — the address-tagging primitive. Oracle unrolls the same
    // votes with row_number argmax.
    Q("graph_label_spread", "GRAPH",
      (s, d) => {
        val e = transitionEdges(s, d)
        val seeds = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .filter(col("node") % 7 === 0)
          .withColumn("label", col("node"))
        graft.operators.Graph.labelSpread(e, seeds, rounds = 2)
          .orderBy("node")
      },
      Some {
        def rnd(prev: String, t: Int) =
          s"""v$t AS (SELECT ew.dst, $prev.label, sum(ew.w) AS m
             |       FROM $prev JOIN ew ON ew.src = $prev.node GROUP BY 1, 2),
             |p$t AS (SELECT dst AS node, label FROM (
             |         SELECT dst, label,
             |                row_number() OVER (PARTITION BY dst ORDER BY m DESC, label) AS rn
             |         FROM v$t) WHERE rn = 1),
             |l$t AS (SELECT node, label, labeled_round FROM $prev
             |       UNION ALL
             |       SELECT p$t.node, p$t.label, $t FROM p$t
             |       WHERE p$t.node NOT IN (SELECT node FROM $prev))""".stripMargin
        s"""$transitionEdgesCte,
           |nodes AS (SELECT DISTINCT src AS id FROM ew UNION SELECT DISTINCT dst FROM ew),
           |l0 AS (SELECT id AS node, id AS label, CAST(0 AS BIGINT) AS labeled_round
           |       FROM nodes WHERE id % 7 = 0),
           |${rnd("l0", 1)},
           |${rnd("l1", 2)}
           |SELECT node, CAST(label AS BIGINT) AS label,
           |  CAST(labeled_round AS BIGINT) AS labeled_round
           |FROM l2 ORDER BY node""".stripMargin
      }),

    // Deterministic weighted random walks (DeepWalk corpus generation):
    // hash-stream picks over per-src cumulative weight intervals — fully
    // replayable, one frontier join per step. The oracle unrolls the
    // identical three picks.
    Q("graph_walk_sample", "GRAPH",
      (s, d) => graft.operators.Graph.randomWalks(transitionEdges(s, d), steps = 3)
        .orderBy("walker", "step"),
      Some {
        def pick(prev: String, t: Int) =
          s"""w$t AS (SELECT walker, dst AS cur FROM $prev JOIN ec ON ec.src = $prev.cur
             |  WHERE (${md5LongSql(s"CAST(walker AS VARCHAR) || ':$t'")}
             |         % ow) + 1 > cw - w
             |    AND (${md5LongSql(s"CAST(walker AS VARCHAR) || ':$t'")}
             |         % ow) + 1 <= cw)""".stripMargin
        s"""$transitionEdgesCte,
           |ec AS (SELECT src, dst, w,
           |         sum(w) OVER (PARTITION BY src ORDER BY dst
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           |         sum(w) OVER (PARTITION BY src) AS ow
           |       FROM ew),
           |nodes AS (SELECT DISTINCT src AS id FROM ew UNION SELECT DISTINCT dst FROM ew),
           |w0 AS (SELECT id AS walker, id AS cur FROM nodes),
           |${pick("w0", 1)},
           |${pick("w1", 2)},
           |${pick("w2", 3)}
           |SELECT walker, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
           |UNION ALL SELECT walker, CAST(1 AS BIGINT), cur FROM w1
           |UNION ALL SELECT walker, CAST(2 AS BIGINT), cur FROM w2
           |UNION ALL SELECT walker, CAST(3 AS BIGINT), cur FROM w3
           |ORDER BY walker, step""".stripMargin
      }),

    // Eigenvector centrality (undamped power iteration, max-normalized
    // integer grid): prestige ranking where feeding a hub counts full
    // weight — the no-teleport sibling of pagerank, same pinned-edge
    // per-round join + dst aggregate shape.
    Q("graph_eigencentrality", "GRAPH",
      (s, d) => graft.operators.Graph.eigencentrality(
          transitionEdges(s, d), rounds = 2)
        .orderBy("node"),
      Some {
        def rnd(prev: String, n: Int) =
          s"""s$n AS (SELECT ew.dst, sum(CAST($prev.cm AS HUGEINT) * ew.w) AS m
             |       FROM $prev JOIN ew ON ew.src = $prev.id GROUP BY 1),
             |x$n AS (SELECT max(m) AS mx FROM s$n),
             |r$n AS (SELECT n.id,
             |         CAST(CASE WHEN mx IS NULL OR mx = 0 THEN 0
             |              ELSE (COALESCE(s$n.m, 0) * 1000000) // mx END AS BIGINT) AS cm
             |       FROM nodes n LEFT JOIN s$n ON n.id = s$n.dst, x$n)""".stripMargin
        s"""$transitionEdgesCte,
           |nodes AS (SELECT DISTINCT src AS id FROM ew UNION SELECT DISTINCT dst FROM ew),
           |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS cm FROM nodes),
           |${rnd("r0", 1)},
           |${rnd("r1", 2)}
           |SELECT id AS node, cm AS centrality_micro FROM r2 ORDER BY 1""".stripMargin
      }),

    // Two-hop in-neighborhood (multi-hop flow): per node, the weighted
    // 2-path count, distinct 2-hop sources, and distinct intermediaries —
    // one self-equi-join on the mid node (cost Σ deg_in·deg_out, never
    // |V|²), then a single aggregate.
    Q("graph_two_hop", "GRAPH",
      (s, d) => graft.operators.Graph.twoHopPaths(transitionEdges(s, d))
        .orderBy("node"),
      Some {
        s"""$transitionEdgesCte,
           |p AS (SELECT a.src AS s0, a.dst AS mid, b.dst AS node, a.w AS w1, b.w AS w2
           |      FROM ew a JOIN ew b ON a.dst = b.src)
           |SELECT node, CAST(sum(w1 * w2) AS BIGINT) AS n_paths,
           |       CAST(count(DISTINCT s0) AS BIGINT) AS n_sources,
           |       CAST(count(DISTINCT mid) AS BIGINT) AS n_mids
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // graph_two_hop's INDUCED-HUB twin: ~30% of endpoints collapse onto
    // one hot node (the exchange-address shape), and the read runs the
    // FACTORIZED form — n_paths(v) = Σ_{mid→v} w · inflow(mid) — whose
    // cost is |E| regardless of hub degree, where the pair-expanding
    // exact join would pay deg_in(hub)·deg_out(hub) (quadratic in the
    // heat). This is the form a 100 TB hub-heavy flow audit runs; the
    // oracle replays the same factorization after the same remap.
    Q("graph_two_hop_hot", "GRAPH",
      (s, d) => {
        def hot(c: org.apache.spark.sql.Column) =
          when(pmod(c, lit(10L)) < 3, lit(99L)).otherwise(c)
        val ewh = transitionEdges(s, d)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
          .select(hot(col("src")).as("src"), hot(col("dst")).as("dst"), col("w"))
          .filter(col("src") =!= col("dst"))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
        val inflow = ewh.groupBy(col("dst")).agg(sum(col("w")).as("iw"))
          .select(col("dst").as("mid"), col("iw"))
        ewh.select(col("src").as("mid"), col("dst").as("node"), col("w"))
          .join(inflow, "mid")
          .groupBy(col("node")).agg(sum(col("w") * col("iw")).as("n_paths"))
          .orderBy("node")
      },
      Some(s"""$transitionEdgesCte,
              |ewh AS (SELECT s2 AS src, d2 AS dst, CAST(sum(w) AS BIGINT) AS w FROM (
              |          SELECT CASE WHEN src % 10 < 3 THEN 99 ELSE src END AS s2,
              |                 CASE WHEN dst % 10 < 3 THEN 99 ELSE dst END AS d2, w
              |          FROM ew) WHERE s2 <> d2 GROUP BY 1, 2),
              |infl AS (SELECT dst AS mid, sum(w) AS iw FROM ewh GROUP BY 1)
              |SELECT e2.dst AS node, CAST(sum(e2.w * infl.iw) AS BIGINT) AS n_paths
              |FROM ewh e2 JOIN infl ON infl.mid = e2.src
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // graph_two_hop's SKETCH twin: the per-node distinct-source count —
    // the exact form's only irreducibly pair-level aggregate — via the
    // native graft_kmv_bottomk TypedImperativeAggregate AND the KMV
    // union algebra, which FACTORIZES the pair set away entirely:
    // sketch(sources of node) = bottom-k of ∪_{mid→node} sketch(sources
    // of mid), because bottom-k of a union of bottom-k sets IS the
    // bottom-k of the union (min is associative). So: per-MID sketches
    // from one |E|-level aggregate (map-side partials ≤ k longs per
    // group), one |E|-level join carrying ≤ k-long arrays to the out-
    // edges, explode + re-merge per node — |E|·k rows max, where both
    // the exact form and a direct per-node sketch pay the
    // Σ deg_in·deg_out pair join. Estimates equal the direct per-node
    // bottom-k EXACTLY, which is what the oracle replays relationally.
    // n_paths keeps the same inflow factorization as the exact operator.
    // The exact form stays registered above; this is the read a 100 TB
    // neighborhood audit actually runs.
    Q("graph_two_hop_sketch", "GRAPH",
      (s, d) => {
        val k = 32
        // reused: inflow + mid sketch + out-edges
        val ew = Pin(transitionEdges(s, d)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w")))
        val inflow = ew.groupBy(col("dst")).agg(sum(col("w")).as("iw"))
          .select(col("dst").as("mid"), col("iw"))
        val pathAgg = ew
          .select(col("src").as("mid"), col("dst").as("node"), col("w"))
          .join(inflow, "mid")
          .groupBy(col("node")).agg(sum(col("w") * col("iw")).as("n_paths"))
        val midSk = ew.select(
            graft.functions.ColumnFns.md5Long(col("src").cast("string")).as("__h"),
            col("dst").as("mid"))
          .groupBy(col("mid"))
          .agg(graft.operators.Sketches.bottomK(col("__h"), k).as("__mbk"))
        val nodeSk = ew.select(col("src").as("mid"), col("dst").as("node"))
          .join(midSk, "mid")
          .select(col("node"), explode(col("__mbk")).as("__h"))
          .groupBy(col("node"))
          .agg(graft.operators.Sketches.bottomK(col("__h"), k).as("__bk"))
        pathAgg
          .join(graft.operators.Sketches.kmvPerKeyReadOut(
            nodeSk, "node", "__bk", k), "node")
          .select(col("node"), col("n_paths"), col("k"), col("n_kept"),
            col("kth_min_hash"), col("est_distinct"))
          .orderBy("node")
      },
      Some {
        s"""$transitionEdgesCte,
           |p AS (SELECT a.src AS s0, b.dst AS node, a.w AS w1, b.w AS w2
           |      FROM ew a JOIN ew b ON a.dst = b.src),
           |dh AS (SELECT DISTINCT node,
           |         ${md5LongSql("CAST(s0 AS VARCHAR)")} AS h
           |       FROM p),
           |${bottomKCte("kept", "dh", "node", "h", 32)},
           |paths AS (SELECT node, sum(w1 * w2) AS n_paths FROM p GROUP BY 1)
           |SELECT kept.node, CAST(paths.n_paths AS BIGINT) AS n_paths, ${kmvReadOutSql(32)}
           |FROM kept JOIN paths USING (node) ORDER BY node""".stripMargin
      }),

    // Triangle + wedge census (graph cohesion): degree-ordered edge
    // orientation makes wedge generation O(E^1.5) total regardless of hub
    // degree — the oracle replays the identical orientation so the two
    // engines count the same wedge set, and each triangle is counted
    // exactly once at its order-minimal apex.
    Q("graph_triangles", "GRAPH",
      (s, d) => graft.operators.Graph.triangleCount(backboneEdges(s, d)),
      Some {
        s"""$backboneUndirectedCte,
           |$orientedCte,
           |wg AS (SELECT a.t AS x, b.t AS y FROM ori a JOIN ori b ON a.s = b.s
           |       WHERE a.t < b.t),
           |cl AS (SELECT least(s, t) AS x, greatest(s, t) AS y FROM ori),
           |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           |        FROM wg JOIN cl ON wg.x = cl.x AND wg.y = cl.y),
           |wc AS (SELECT CAST(COALESCE(sum((deg * (deg - 1)) // 2), 0) AS BIGINT) AS n_wedges
           |       FROM dg)
           |SELECT wc.n_wedges, tri.n_triangles FROM wc CROSS JOIN tri""".stripMargin
      }),

    // Local clustering coefficient per node (ring membership score):
    // per-corner triangle credits from the same degree-ordered
    // enumeration as graph_triangles, divided by C(deg, 2) in integer
    // milli-units — the oracle replays the identical orientation and
    // corner explode.
    Q("graph_clustering", "GRAPH",
      (s, d) => graft.operators.Graph.localClustering(backboneEdges(s, d))
        .orderBy("node"),
      Some {
        s"""$backboneUndirectedCte,
           |$orientedCte,
           |wg AS (SELECT a.s, a.t AS x, b.t AS y FROM ori a JOIN ori b ON a.s = b.s
           |       WHERE a.t < b.t),
           |cl AS (SELECT least(s, t) AS p, greatest(s, t) AS q FROM ori),
           |tr AS (SELECT s, x, y FROM wg JOIN cl ON wg.x = cl.p AND wg.y = cl.q),
           |corners AS (SELECT unnest([s, x, y]) AS node FROM tr),
           |tc AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY 1)
           |SELECT dg.node, CAST(dg.deg AS BIGINT) AS deg,
           |       CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
           |       CAST((1000 * coalesce(tc.n_tri, 0)) // ((dg.deg * (dg.deg - 1)) // 2) AS BIGINT)
           |         AS clustering_milli
           |FROM dg LEFT JOIN tc ON tc.node = dg.node
           |WHERE dg.deg >= 2 ORDER BY dg.node""".stripMargin
      }),

    // Degree distribution (the scale-free check): distinct-neighbor degree
    // per node, log2-bucketed by binary-representation length — exact
    // integer bucketing, immune to IEEE log rounding at powers of two.
    Q("graph_degree_dist", "GRAPH",
      (s, d) => graft.operators.Graph.degreeHistogram(backboneEdges(s, d))
        .orderBy("bucket_log2"),
      Some {
        s"""$backboneUndirectedCte
           |SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket_log2,
           |       CAST(count(*) AS BIGINT) AS n_nodes,
           |       CAST(min(deg) AS BIGINT) AS min_deg,
           |       CAST(max(deg) AS BIGINT) AS max_deg
           |FROM dg GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Bounded k-hop taint propagation (flow tracing): BFS with min-hop
    // labels from a deterministic seed set (ids ≡ 0 mod 37), 3 hops out
    // over the backbone digraph. The oracle unrolls the same 3 frontier
    // expansions — per-round dedup + anti-join against the reached set in
    // both engines, so hop labels match exactly.
    Q("graph_khop_taint", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        graft.operators.Graph.khopReach(ew, mod37Seeds(ew), maxHops = 3)
          .orderBy("node")
      },
      Some {
        def round(i: Int) = {
          val frontier = if (i == 1) "r0" else s"f${i - 1}"
          s"""f$i AS (SELECT DISTINCT e.dst AS node FROM e JOIN $frontier ON e.src = $frontier.node
             |       WHERE e.dst NOT IN (SELECT node FROM r${i - 1})),
             |r$i AS (SELECT node, hops FROM r${i - 1}
             |       UNION ALL SELECT node, CAST($i AS INTEGER) FROM f$i)""".stripMargin
        }
        s"""$backboneEdgesCte,
           |e AS (SELECT DISTINCT src, dst FROM ew),
           |$mod37SeedsCte,
           |r0 AS (SELECT node, CAST(0 AS INTEGER) AS hops FROM sd),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT node, hops FROM r3 ORDER BY node""".stripMargin
      }),

    // Haircut taint propagation (how MUCH seed value plausibly reached
    // each node): 2 rounds of value-proportional push over the full
    // weighted transition graph from the same mod-37 seed set; sinks
    // absorb, integer micro-unit arithmetic, truncating division — the
    // oracle unrolls the identical rounds.
    Q("graph_taint_haircut", "GRAPH",
      (s, d) => {
        val ew = transitionEdges(s, d)
        graft.operators.Graph.haircutTaint(ew, mod37Seeds(ew), iters = 2)
          .orderBy("node")
      },
      Some {
        // a sink (no out-edge) keeps its mass: `a<i>`
        def round(i: Int) =
          s"""${pushSql(i, s"t${i - 1}", "node", "tm")},
             |a$i AS (SELECT node, tm FROM t${i - 1}
             |       WHERE node NOT IN (SELECT src FROM ew)),
             |t$i AS (SELECT node, CAST(sum(tm) AS BIGINT) AS tm FROM
             |        (SELECT node, tm FROM a$i UNION ALL SELECT dst, m FROM s$i)
             |       GROUP BY 1)""".stripMargin
        s"""$transitionPushCte,
           |$mod37SeedsCte,
           |t0 AS (SELECT node, CAST(1000000 AS BIGINT) AS tm FROM sd),
           |${(1 to 2).map(round).mkString(",\n")}
           |SELECT node, tm AS taint_micro FROM t2 WHERE tm > 0
           |ORDER BY node""".stripMargin
      }),

    // K-core membership (dense-subgraph filter) by fixed-round peeling —
    // the oracle unrolls the SAME 3 peel rounds, so the two engines agree
    // even before convergence; at this corpus the peel stabilizes earlier,
    // making the result the exact k-core.
    Q("graph_kcore", "GRAPH",
      (s, d) => graft.operators.Graph.kcore(backboneEdges(s, d),
          k = 16, rounds = 3)
        .orderBy("node"),
      Some {
        // peel round i keeps the edges between nodes of degree >= 16 after
        // round i - 1 (`k<i-1>`) and recounts the degrees `d<i>`
        def round(i: Int) =
          s"""e$i AS (SELECT u, v FROM ${if (i == 1) "und" else s"e${i - 1}"}
             |       WHERE u IN (SELECT node FROM k${i - 1}) AND v IN (SELECT node FROM k${i - 1})),
             |d$i AS (SELECT node, count(*) AS deg FROM
             |         (SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY 1),
             |k$i AS (SELECT node FROM d$i WHERE deg >= 16)""".stripMargin
        s"""$backboneUndirectedCte,
           |k0 AS (SELECT node FROM dg WHERE deg >= 16),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT node, CAST(deg AS BIGINT) AS deg FROM d3 ORDER BY 1""".stripMargin
      }),

    // Seeded shortest paths (Bellman–Ford, 3 fixed relaxation rounds,
    // integer weights) from the smallest backbone node — cheapest-route
    // distances a hop counter cannot express.
    Q("graph_sssp", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val seeds = ew.agg(min(col("src")).as("node"))
        graft.operators.Graph.sssp(ew, seeds, rounds = 3).orderBy("node")
      },
      Some {
        def round(r: Int) =
          s"""d${r + 1} AS (SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d$r
             |    UNION ALL
             |    SELECT e.dst, d.dist + e.w FROM d$r d JOIN ew e ON e.src = d.node)
             |  GROUP BY 1)""".stripMargin
        s"""$backboneEdgesCte,
           |s0 AS (SELECT min(src) AS n FROM ew),
           |d0 AS (SELECT n AS node, CAST(0 AS BIGINT) AS dist FROM s0),
           |${(0 until 3).map(round).mkString(",\n")}
           |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
      }),

    // Landmark distance sketch (Potamias et al.): ONE multi-source BFS
    // carries all 3 landmarks' distances as (node, landmark, hops) state
    // rows — L searches share each round's single edge join. The oracle
    // unrolls the same relax rounds keyed on (node, landmark).
    Q("graph_landmark_dist", "GRAPH",
      (s, d) => {
        val sym = landmarkSym(s, d)
        graft.operators.Graph.landmarkDistances(sym, landmarks(sym), rounds = 3)
          .orderBy("node", "landmark")
      },
      Some {
        s"""$landmarkDistCte
           |SELECT node, landmark, CAST(hops AS INTEGER) AS hops
           |FROM d3 ORDER BY node, landmark""".stripMargin
      }),

    // Point-to-point distance estimation from the landmark sketch: the
    // triangle upper bound min_l d(u,l)+d(l,v) for sample pairs — two
    // joins against the sketch + a min aggregate; the graph itself is
    // never re-traversed. The classic distance-oracle trade at 100 TB:
    // L linear BFS passes once, then O(L) per query forever.
    Q("graph_landmark_estimate", "GRAPH",
      (s, d) => {
        val sym = landmarkSym(s, d)
        val nodes = sym.select(col("src").as("node")).distinct()
        val sketch = graft.operators.Graph.landmarkDistances(sym, landmarks(sym), rounds = 3)
        val lo = nodes.orderBy("node").limit(8)
        val hi = nodes.orderBy(col("node").desc).limit(8)
        val pairs = lo.select(col("node").as("u"))
          .crossJoin(hi.select(col("node").as("v")))
          .filter(col("u") < col("v"))
        graft.operators.Graph.landmarkEstimate(sketch, pairs)
          .orderBy("u", "v")
      },
      Some {
        s"""$landmarkDistCte,
           |nodes AS (SELECT DISTINCT src AS node FROM sym),
           |lo AS (SELECT node FROM nodes ORDER BY node LIMIT 8),
           |hi AS (SELECT node FROM nodes ORDER BY node DESC LIMIT 8),
           |pairs AS (SELECT lo.node AS u, hi.node AS v FROM lo, hi WHERE lo.node < hi.node)
           |SELECT p.u, p.v, CAST(min(a.hops + b.hops) AS INTEGER) AS est_hops
           |FROM pairs p
           |JOIN d3 a ON a.node = p.u JOIN d3 b ON b.node = p.v AND b.landmark = a.landmark
           |GROUP BY p.u, p.v ORDER BY p.u, p.v""".stripMargin
      }),

    // k-truss (edge-level cohesion, one notch above k-core: every edge
    // needs k-2 triangle witnesses in the current subgraph) — fixed peel
    // rounds, oracle unrolls the same rounds via symmetric
    // common-neighbor counting (a deliberately DIFFERENT support
    // algorithm than the engine's oriented enumeration, so an
    // orientation bug cannot cancel out).
    Q("graph_ktruss", "GRAPH",
      (s, d) => graft.operators.Graph.ktruss(backboneEdges(s, d),
          k = 3, rounds = 2)
        .orderBy("u", "v"),
      Some(ktrussOracle(k = 3, rounds = 2))),

    // Weakly-connected components over the backbone graph — the
    // graphsense-style "entity" view (everything transitively connected
    // by repeated transfers is one cluster), computed by the SAME
    // min-label ConnectedComponents operator the dedup family uses: one
    // operator, two domains. Per round: one shuffle join + one aggregate;
    // driver state is a single convergence scalar. The oracle is the
    // transitive closure, so any propagation bug (not just a wrong
    // fixpoint count) hash-mismatches.
    Q("graph_components", "GRAPH",
      (s, d) => graft.operators.ConnectedComponents.run(
          backboneEdges(s, d), "src", "dst")
        .orderBy("node"),
      Some(s"""${backboneEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |e AS (SELECT src AS a, dst AS b FROM ew UNION SELECT dst, src FROM ew),
              |reach(a, b) AS (SELECT a, b FROM e
              |                UNION
              |                SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
              |SELECT n AS node, CAST(min(m) AS BIGINT) AS component FROM (
              |  SELECT a AS n, a AS m FROM e UNION ALL SELECT a, b FROM reach)
              |GROUP BY n ORDER BY node""".stripMargin)),

    // Community detection by fixed-round synchronous label propagation
    // (Raghavan et al. 2007): each round a node adopts the neighbor label
    // with the largest incident edge weight (ties to the smallest label).
    // Where components answer "connected at all?", LPA answers "densely
    // connected to WHICH region?" — and the synchronous fixed-round form
    // is a pure function of the graph, so the oracle replays both rounds
    // exactly. Per round: one equi-join + two map-side-combined
    // aggregates; the argmax is min-of-struct, never a window sort.
    Q("graph_lpa_communities", "GRAPH",
      (s, d) => lpaLabels(backboneEdges(s, d)).orderBy("node"),
      Some(s"""$lpaLabelsCte
              |SELECT node, CAST(label AS BIGINT) AS label FROM l2 ORDER BY node""".stripMargin)),

    // Super-graph coarsening (the cluster-level edge table of an entity
    // model — graphsense's cluster relations, METIS's coarsening step):
    // contract the backbone by the SAME 2-round LPA labels as
    // graph_lpa_communities, one row per community pair with collapsed
    // edge count, total weight, and the intra-community flag. Where the
    // address-relations table answers "who sent to whom", this answers
    // "which GROUPS move value between each other" — the table flow
    // analysis actually reads once |V| is billions. Two label joins +
    // one map-side-combined pair aggregate; no windows past the label
    // stage.
    Q("graph_supergraph", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val labels = lpaLabels(ew)
        graft.operators.Graph.coarsen(ew, labels, weightCol = Some("w"))
          .orderBy("src_comm", "dst_comm")
      },
      Some(s"""$lpaLabelsCte
              |SELECT ls.label AS src_comm, ld.label AS dst_comm,
              |       CAST(count(*) AS BIGINT) AS n_edges,
              |       CAST(sum(ew.w) AS BIGINT) AS w_total,
              |       ls.label = ld.label AS intra
              |FROM ew JOIN l2 ls ON ew.src = ls.node
              |        JOIN l2 ld ON ew.dst = ld.node
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Pairwise Pearson correlation matrix over the numeric columns (the
    // feature-redundancy / leakage screen of a profiling pass): ALL
    // moments for every pair ride ONE map-side-combined aggregate over
    // one scan — cents-integer inputs, DECIMAL(38,0) cross-moments, the
    // denominator as a product of two exact floor-sqrt integers so the
    // only rounding is one final sign-handled truncating divide per pair.
    Q("profile_corr_matrix", "K",
      (s, d) => {
        val cols = Seq("q" -> "l_quantity", "ep" -> "l_extendedprice",
          "dc" -> "l_discount", "tx" -> "l_tax")
        val names = cols.map(_._1)
        val v = Tables(s, d, "lineitem").select(cols.map { case (n, c) =>
          round(col(c) * 100).cast("long").as(n)
        }: _*)
        val pairs = for {
          i <- names.indices; j <- names.indices if i < j
        } yield (names(i), names(j))
        val moments =
          count(lit(1)).as("n") +:
          (names.map(n => sum(col(n)).as(s"s_$n")) ++
            names.map(n =>
              sum(col(n).cast("decimal(38,0)") * col(n)).as(s"qq_$n")) ++
            pairs.map { case (a, b) =>
              sum(col(a).cast("decimal(38,0)") * col(b)).as(s"p_${a}_$b") })
        val agg = v.agg(moments.head, moments.tail: _*)
        val rows = pairs.map { case (a, b) =>
          struct(lit(a).as("col_a"), lit(b).as("col_b"),
            expr(s"n * p_${a}_$b - cast(s_$a as decimal(38,0)) * s_$b").as("num"),
            expr(s"n * qq_$a - cast(s_$a as decimal(38,0)) * s_$a").as("va"),
            expr(s"n * qq_$b - cast(s_$b as decimal(38,0)) * s_$b").as("vb"))
        }
        agg.select(col("n"), explode(array(rows: _*)).as("__r"))
          .select(col("__r.col_a").as("col_a"), col("__r.col_b").as("col_b"),
            col("n"), expr(
              """CASE WHEN __r.va <= 0 OR __r.vb <= 0 THEN cast(0 as bigint)
                |     WHEN __r.num < 0 THEN cast(-((-__r.num * 1000000) div
                |       (cast(floor(sqrt(cast(__r.va as double))) as decimal(38,0))
                |        * cast(floor(sqrt(cast(__r.vb as double))) as decimal(38,0)))) as bigint)
                |     ELSE cast((__r.num * 1000000) div
                |       (cast(floor(sqrt(cast(__r.va as double))) as decimal(38,0))
                |        * cast(floor(sqrt(cast(__r.vb as double))) as decimal(38,0))) as bigint)
                |END""".stripMargin).as("corr_micro"))
          .orderBy("col_a", "col_b")
      },
      Some {
        val names = Seq("q", "ep", "dc", "tx")
        val pairs = for {
          i <- names.indices; j <- names.indices if i < j
        } yield (names(i), names(j))
        val pairSel = pairs.map { case (a, b) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
             |  n * p_${a}_$b - CAST(s_$a AS HUGEINT) * s_$b AS num,
             |  n * qq_$a - CAST(s_$a AS HUGEINT) * s_$a AS va,
             |  n * qq_$b - CAST(s_$b AS HUGEINT) * s_$b AS vb FROM a""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH v AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
           |         CAST(round(l_extendedprice * 100) AS BIGINT) AS ep,
           |         CAST(round(l_discount * 100) AS BIGINT) AS dc,
           |         CAST(round(l_tax * 100) AS BIGINT) AS tx
           |       FROM lineitem),
           |a AS (SELECT count(*) AS n,
           |        ${names.map(n => s"sum($n) AS s_$n").mkString(", ")},
           |        ${names.map(n => s"sum(CAST($n AS HUGEINT) * $n) AS qq_$n").mkString(", ")},
           |        ${pairs.map { case (a, b) => s"sum(CAST($a AS HUGEINT) * $b) AS p_${a}_$b" }.mkString(", ")}
           |      FROM v),
           |pr AS ($pairSel)
           |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
           |  CAST(CASE WHEN va <= 0 OR vb <= 0 THEN 0
           |       WHEN num < 0 THEN -((-num * 1000000) //
           |         (CAST(floor(sqrt(CAST(va AS DOUBLE))) AS HUGEINT)
           |          * CAST(floor(sqrt(CAST(vb AS DOUBLE))) AS HUGEINT)))
           |       ELSE (num * 1000000) //
           |         (CAST(floor(sqrt(CAST(va AS DOUBLE))) AS HUGEINT)
           |          * CAST(floor(sqrt(CAST(vb AS DOUBLE))) AS HUGEINT))
           |  END AS BIGINT) AS corr_micro
           |FROM pr ORDER BY col_a, col_b""".stripMargin
      }),

    // Column profiling as a table (the pre-trust data-quality pass): one
    // row per column with row/non-null/exact-distinct counts and native-
    // type min/max — two passes that both avoid the k-way Expand blowup:
    // an exploded (column, value) distinct aggregate for the per-column
    // distinct counts, and a map-side-combined min/max/count pass, met by
    // broadcast. Integer/string columns only in the oracle-facing report
    // (float formatting is engine-specific).
    Q("profile_lineitem", "K",
      (s, d) => graft.operators.Profile.profile(Tables(s, d, "lineitem"),
          Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .orderBy("column"),
      Some("""SELECT 'l_orderkey' AS "column", count(*) AS n_rows,
             |       count(l_orderkey) AS n_nonnull,
             |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
             |       CAST(min(l_orderkey) AS VARCHAR) AS min_str,
             |       CAST(max(l_orderkey) AS VARCHAR) AS max_str FROM lineitem
             |UNION ALL
             |SELECT 'l_linenumber', count(*), count(l_linenumber),
             |       CAST(count(DISTINCT l_linenumber) AS BIGINT),
             |       CAST(min(l_linenumber) AS VARCHAR),
             |       CAST(max(l_linenumber) AS VARCHAR) FROM lineitem
             |UNION ALL
             |SELECT 'l_returnflag', count(*), count(l_returnflag),
             |       CAST(count(DISTINCT l_returnflag) AS BIGINT),
             |       min(l_returnflag), max(l_returnflag) FROM lineitem
             |UNION ALL
             |SELECT 'l_linestatus', count(*), count(l_linestatus),
             |       CAST(count(DISTINCT l_linestatus) AS BIGINT),
             |       min(l_linestatus), max(l_linestatus) FROM lineitem
             |ORDER BY "column"""".stripMargin)),

    // Statistical mode per group WITHOUT a window sort: the per-user
    // dominant event type as min(struct(−count, type)) over the
    // (user, type) counts — two map-side-combined hash aggregates, never
    // a per-group row_number sort; ties break to the smallest type by the
    // struct's lexicographic order. The argmax-as-extremum pattern every
    // "most frequent X per Y" question should compile to at scale.
    Q("event_mode_per_user", "EVENT",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(min(struct((-col("cnt")).as("__nc"), col("event_type").as("__t")))
          .as("__m"))
        .select(col("user_id"), col("__m.__t").as("mode_type"),
          (-col("__m.__nc")).as("cnt"))
        .orderBy("user_id"),
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS cnt
             |       FROM events GROUP BY 1, 2),
             |r AS (SELECT user_id, event_type, cnt,
             |        row_number() OVER (PARTITION BY user_id
             |          ORDER BY cnt DESC, event_type) AS rn FROM c)
             |SELECT user_id, event_type AS mode_type, CAST(cnt AS BIGINT) AS cnt
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Gini coefficient of per-user value concentration (exact integer
    // form: G = (2·Σi·vᵢ − (n+1)·Σv) / (n·Σv) over the ascending (v, id)
    // order) — the one-number inequality audit (whale-dominance of value
    // flow, source-dominance of a corpus). One per-key aggregate, one
    // rank window, DECIMAL(38,0) moments, sign-free by construction.
    Q("event_gini_value", "EVENT",
      (s, d) => {
        val perUser = Tables(s, d, "events")
          .groupBy(col("user_id"))
          .agg(sum(round(col("value") * 1000000).cast("long")).as("v"))
        val ranked = perUser.withColumn("i", row_number()
          .over(org.apache.spark.sql.expressions.Window
            .orderBy(col("v"), col("user_id"))).cast("long"))
        ranked.agg(count(lit(1)).as("n_users"),
            sum(col("v")).as("sum_v"),
            expr("sum(cast(i as decimal(38,0)) * v)").as("__w"))
          .withColumn("gini_milli", expr(
            """CASE WHEN sum_v = 0 THEN 0
              |ELSE CAST((2 * __w - (n_users + 1) * cast(sum_v as decimal(38,0)))
              |          * 1000 div (n_users * cast(sum_v as decimal(38,0))) AS BIGINT)
              |END""".stripMargin))
          .select(col("n_users"), col("sum_v"), col("gini_milli"))
      },
      Some("""WITH pu AS (SELECT user_id, sum(CAST(round(value * 1000000) AS BIGINT)) AS v
             |       FROM events GROUP BY 1),
             |r AS (SELECT v, CAST(row_number() OVER (ORDER BY v, user_id) AS BIGINT) AS i FROM pu),
             |a AS (SELECT count(*) AS n, sum(v) AS s, sum(CAST(i AS HUGEINT) * v) AS w FROM r)
             |SELECT CAST(n AS BIGINT) AS n_users, CAST(s AS BIGINT) AS sum_v,
             |  CAST(CASE WHEN s = 0 THEN 0
             |       ELSE (2 * w - (n + 1) * CAST(s AS HUGEINT)) * 1000 // (n * CAST(s AS HUGEINT))
             |  END AS BIGINT) AS gini_milli
             |FROM a""".stripMargin)),

    // Exponentially weighted moving average of the daily event rate with
    // α = 1/2 realized as BIT-SHIFT weights (2^(k−1) on the current row
    // down to 2^0 on the oldest of a k≤10-day frame): integer-exact
    // EWMA — the trend smoother — with the partial head handled by the
    // exact geometric denominator 2^k − 1. The frame rides the
    // days-sized spine only.
    Q("event_ewma", "EVENT",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
          .rowsBetween(-9, 0)
        daily
          .withColumn("__win", collect_list(col("c")).over(w))
          .withColumn("n_terms", size(col("__win")).cast("long"))
          // frame order = oldest..current; weight 2^(i) for i-th element
          // of a k-term frame ascending to 2^(k-1) on the current row
          .withColumn("__num", expr(
            """aggregate(zip_with(__win, sequence(1, size(__win)),
              |  (v, i) -> v * shiftleft(1L, i - 1)),
              |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin))
          .withColumn("__den", expr(
            "shiftleft(1L, cast(n_terms as int)) - 1"))
          .withColumn("ewma_milli", expr("(__num * 1000) div __den"))
          .select(col("day"), col("c").as("n_events"), col("n_terms"),
            col("ewma_milli"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             |       FROM events GROUP BY 1),
             |f AS (SELECT day, c,
             |        list(c) OVER (ORDER BY day
             |          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS win
             |      FROM daily),
             |a AS (SELECT day, c, CAST(len(win) AS BIGINT) AS n_terms,
             |        CAST(list_sum(list_transform(range(1, len(win) + 1),
             |          i -> win[i] * (CAST(1 AS BIGINT) << (i - 1)))) AS BIGINT) AS num
             |      FROM f)
             |SELECT day, CAST(c AS BIGINT) AS n_events, n_terms,
             |  CAST((num * 1000) // ((CAST(1 AS BIGINT) << n_terms) - 1) AS BIGINT) AS ewma_milli
             |FROM a ORDER BY day""".stripMargin)),

    // Holt double-exponential smoothing (level + trend, α = β = 1/2) of
    // the daily rate — the forecasting upgrade over plain EWMA, exact on
    // the milli grid: both recursions halve by TRUNCATING integral
    // division (`div` / `//` — identical toward-zero semantics on both
    // engines even on the negatives the TREND state reaches; shiftright
    // would floor and diverge), folded over the expanding day-spine
    // frame with a struct accumulator. The spine is dimension-sized;
    // the per-row refold is O(days²) on ≤ a few thousand rows, never
    // corpus-scaled.
    Q("event_holt", "EVENT",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        daily
          .withColumn("__win", collect_list(col("c") * 1000L).over(w))
          .withColumn("__st", expr(
            """aggregate(slice(__win, 2, size(__win) - 1),
              |  named_struct('l', __win[0], 't', cast(0 as bigint)),
              |  (a, x) -> named_struct(
              |    'l', (x + a.l + a.t) div 2,
              |    't', (a.t + ((x + a.l + a.t) div 2) - a.l) div 2))""".stripMargin))
          .select(col("day"), col("c").as("n_events"),
            col("__st.l").as("level_milli"), col("__st.t").as("trend_milli"))
          .orderBy("day")
      },
      // oracle as a RECURSIVE CTE, not a struct-accumulator list_reduce:
      // DuckDB 1.0.0 returns different folds for identical struct lists
      // depending on how the list was constructed (observed: a literal
      // struct list mis-evaluates the shared (a.l+a.t+e.l)//2 term) —
      // the row-by-row recursion has no such hazard.
      Some("""WITH RECURSIVE daily AS (
             |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             |  FROM events GROUP BY 1),
             |d2 AS (SELECT day, c, c * 1000 AS x,
             |         row_number() OVER (ORDER BY day) AS rn FROM daily),
             |r AS (
             |  SELECT rn, day, c, l, t FROM (
             |    SELECT rn, day, c, x AS l, CAST(0 AS BIGINT) AS t FROM d2) WHERE rn = 1
             |  UNION ALL
             |  SELECT d2.rn, d2.day, d2.c,
             |    (d2.x + r.l + r.t) // 2,
             |    (r.t + ((d2.x + r.l + r.t) // 2) - r.l) // 2
             |  FROM r JOIN d2 ON d2.rn = r.rn + 1)
             |SELECT day, CAST(c AS BIGINT) AS n_events,
             |  CAST(l AS BIGINT) AS level_milli, CAST(t AS BIGINT) AS trend_milli
             |FROM r ORDER BY day""".stripMargin)),

    // First/last-touch attribution: each purchase credits the user's
    // earliest and latest click/view in the trailing 7 days. ONE
    // range-framed window pass (min/max of a (ts, event_id) struct over
    // RANGE [-7d, -1s] — no purchase×touch join, no per-pair blowup);
    // the oracle replays it as the join + row_number form, proving the
    // window algebra equals the relational definition.
    Q("event_attribution", "EVENT",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("__ts_s"))
          .rangeBetween(-604800L, -1L)
        val touch = col("event_type").isin("click", "view")
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("__ts_s"))
        ev.withColumn("__ft", min(when(touch,
              struct(col("__ts_s"), col("event_id"), col("event_type")))).over(w))
          .withColumn("__lt", max(when(touch,
              struct(col("__ts_s"), col("event_id"), col("event_type")))).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            col("__ft.event_id").as("first_touch_id"),
            col("__ft.event_type").as("first_touch_type"),
            col("__lt.event_id").as("last_touch_id"),
            col("__lt.event_type").as("last_touch_type"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s
             |       FROM events),
             |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
             |t AS (SELECT * FROM ev WHERE event_type IN ('click', 'view')),
             |j AS (SELECT p.event_id, p.user_id,
             |        t.event_id AS tid, t.event_type AS ttype,
             |        row_number() OVER (PARTITION BY p.event_id
             |          ORDER BY t.ts_s, t.event_id) AS rf,
             |        row_number() OVER (PARTITION BY p.event_id
             |          ORDER BY t.ts_s DESC, t.event_id DESC) AS rl
             |      FROM p JOIN t ON p.user_id = t.user_id
             |       AND t.ts_s BETWEEN p.ts_s - 604800 AND p.ts_s - 1)
             |SELECT p.event_id, p.user_id,
             |  f.tid AS first_touch_id, f.ttype AS first_touch_type,
             |  l.tid AS last_touch_id, l.ttype AS last_touch_type
             |FROM p
             |LEFT JOIN j f ON f.event_id = p.event_id AND f.rf = 1
             |LEFT JOIN j l ON l.event_id = p.event_id AND l.rl = 1
             |ORDER BY p.event_id""".stripMargin)),

    // Pareto concentration curve ("top x% of users hold y% of value"):
    // per-user value totals ranked descending, cumulative share read out
    // at the nine decile boundaries — the curve behind the Gini number.
    // Exact two-phase global rank + exact distributed prefix sum; one
    // truncating milli divide per read-out row.
    Q("event_pareto_curve", "EVENT",
      (s, d) => {
        val perUser = Tables(s, d, "events")
          .groupBy(col("user_id"))
          .agg(sum(greatest(round(col("value") * 1000000).cast("long"),
            lit(0L))).as("v"))
        // one ranged materialization: rank, running sum, and the grand
        // totals all ride the same checkpoint + offsets broadcast (the
        // old form paid two range shuffles plus a third corpus aggregate)
        val cum = graft.operators.GlobalRank.globalRowNumberAndPrefixSum(
          perUser, Seq(col("v").desc, col("user_id")), "v",
          "rnk", "cum_v", "__n", "__tv")
        cum
          .filter(expr("array_contains(transform(sequence(1, 9), dd -> (dd * __n + 9) div 10), rnk)"))
          .withColumn("share_milli", expr(
            "CASE WHEN __tv = 0 THEN cast(0 as bigint) ELSE cast((cum_v * 1000) div __tv as bigint) END"))
          .select(col("rnk").as("rank_at"), col("share_milli"))
          .orderBy("rank_at")
      },
      Some("""WITH pu AS (SELECT user_id,
             |         sum(greatest(CAST(round(value * 1000000) AS BIGINT), 0)) AS v
             |       FROM events GROUP BY 1),
             |r AS (SELECT v, row_number() OVER (ORDER BY v DESC, user_id) AS rnk,
             |        sum(v) OVER (ORDER BY v DESC, user_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM pu),
             |t AS (SELECT count(*) AS n, sum(v) AS tv FROM pu),
             |b AS (SELECT DISTINCT (dd * n + 9) // 10 AS rnk
             |      FROM t, (SELECT unnest(range(1, 10)) AS dd))
             |SELECT CAST(r.rnk AS BIGINT) AS rank_at,
             |  CAST(CASE WHEN tv = 0 THEN 0 ELSE (cum * 1000) // tv END AS BIGINT) AS share_milli
             |FROM r JOIN b ON r.rnk = b.rnk, t
             |ORDER BY rank_at""".stripMargin)),

    // CUSUM change-point detection (Page 1954) over the hourly event rate:
    // the hour where the cumulative deviation from the global mean peaks —
    // "when did the rate regime shift?". Division-free: S_t = Σ(c_i·H − N)
    // stays integer-exact (scaled by H); argmax by |S|, earliest hour on
    // ties. One hourly aggregate (map-side combined), windows over the
    // hours-sized table only.
    Q("event_cusum_changepoint", "EVENT",
      (s, d) => {
        val hourly = Tables(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val tot = hourly.agg(count(lit(1)).as("__hh"), sum(col("c")).as("__n"))
        val cum = hourly.crossJoin(broadcast(tot))
          .withColumn("cusum_scaled",
            sum(expr("c * __hh - __n")).over(
              org.apache.spark.sql.expressions.Window.orderBy(col("h"))
                .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        cum.select(col("h").as("change_hour"), col("c").as("n_in_hour"),
            col("cusum_scaled"), col("__hh").as("n_hours"), col("__n").as("n_total"))
          .orderBy(abs(col("cusum_scaled")).desc, col("change_hour"))
          .limit(1)
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, count(*) AS c
             |       FROM events GROUP BY 1),
             |tot AS (SELECT count(*) AS hh, sum(c) AS n FROM hourly),
             |cum AS (SELECT h, c, hh, n,
             |          sum(c * hh - n) OVER (ORDER BY h
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_scaled
             |        FROM hourly, tot)
             |SELECT h AS change_hour, CAST(c AS BIGINT) AS n_in_hour,
             |  CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
             |  CAST(hh AS BIGINT) AS n_hours, CAST(n AS BIGINT) AS n_total
             |FROM cum ORDER BY abs(cusum_scaled) DESC, change_hour LIMIT 1""".stripMargin)),

    // Time-weighted average of an irregularly-sampled gauge (trapezoidal
    // integration — THE correct mean for unevenly-spaced telemetry, where
    // a plain avg over-weights bursts): per user, Σ(v_i + v_{i+1})·Δt / 2T
    // in integer micro-units with ONE truncating division at the end.
    // One lead() window per user partition; single-event users fall back
    // to their value.
    Q("event_time_weighted_avg", "EVENT",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            round(col("value") * 1000000).cast("long").as("v"))
          .withColumn("__ts_s", unix_timestamp(col("ts")))
          .withColumn("__nv", lead(col("v"), 1).over(w))
          .withColumn("__nts", lead(col("__ts_s"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(col("__ts_s")) - min(col("__ts_s"))).as("duration_s"),
            sum(when(col("__nts").isNotNull,
              (col("v") + col("__nv")) * (col("__nts") - col("__ts_s")))
              .otherwise(lit(0L))).as("__num"),
            min(col("v")).as("__v1"))
          .withColumn("twa_micro", expr(
            "CASE WHEN duration_s = 0 THEN __v1 ELSE __num div (2 * duration_s) END"))
          .select(col("user_id"), col("n_events"), col("duration_s"),
            col("twa_micro"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             |         CAST(round(value * 1000000) AS BIGINT) AS v,
             |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s
             |       FROM events),
             |l AS (SELECT *, lead(v) OVER w AS nv, lead(ts_s) OVER w AS nts
             |      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |a AS (SELECT user_id, count(*) AS n_events,
             |        max(ts_s) - min(ts_s) AS duration_s,
             |        sum(CASE WHEN nts IS NOT NULL THEN (v + nv) * (nts - ts_s) ELSE 0 END) AS num,
             |        min(v) AS v1
             |      FROM l GROUP BY 1)
             |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
             |  CAST(duration_s AS BIGINT) AS duration_s,
             |  CAST(CASE WHEN duration_s = 0 THEN v1 ELSE num // (2 * duration_s) END AS BIGINT) AS twa_micro
             |FROM a ORDER BY user_id""".stripMargin)),

    // Lag-k autocorrelation of the daily event-rate series (k = 1, 7 —
    // day-over-day persistence and the weekly seasonality read-out):
    // r_k = Σ dev_t·dev_{t+k} / Σ dev_t² with dev scaled by N (division-
    // free: dev_t = N·c_t − Σc stays integer-exact, same trick as CUSUM).
    // One daily aggregate (map-side combined); the lead() windows ride the
    // days-sized spine only. DECIMAL(38,0) products, one sign-handled
    // truncating divide per lag.
    Q("event_autocorr", "EVENT",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
        val tot = daily.agg(count(lit(1)).as("__nd"), sum(col("c")).as("__sc"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        val dev = daily.crossJoin(broadcast(tot))
          .withColumn("__dev",
            (col("c") * col("__nd") - col("__sc")).cast("decimal(38,0)"))
          .withColumn("__d1", lead(col("__dev"), 1).over(w))
          .withColumn("__d7", lead(col("__dev"), 7).over(w))
        dev.agg(
            sum(col("__dev") * col("__dev")).as("den"),
            sum(when(col("__d1").isNotNull, col("__dev") * col("__d1")))
              .as("n1"),
            count(col("__d1")).as("c1"),
            sum(when(col("__d7").isNotNull, col("__dev") * col("__d7")))
              .as("n7"),
            count(col("__d7")).as("c7"))
          .select(explode(array(
            struct(lit(1L).as("lag"), col("c1").as("n_terms"),
              col("n1").as("num"), col("den")),
            struct(lit(7L).as("lag"), col("c7").as("n_terms"),
              col("n7").as("num"), col("den")))).as("__r"))
          .select(col("__r.lag").as("lag"), col("__r.n_terms").as("n_terms"),
            expr("""CASE WHEN __r.den = 0 OR __r.num IS NULL THEN cast(0 as bigint)
                   |     WHEN __r.num < 0
                   |       THEN cast(-((-__r.num * 1000000) div __r.den) as bigint)
                   |     ELSE cast((__r.num * 1000000) div __r.den as bigint)
                   |END""".stripMargin).as("r_micro"))
          .orderBy("lag")
      },
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             |       FROM events GROUP BY 1),
             |t AS (SELECT count(*) AS nd, sum(c) AS sc FROM daily),
             |dv AS (SELECT CAST(c * nd - sc AS HUGEINT) AS dev,
             |         lead(CAST(c * nd - sc AS HUGEINT), 1) OVER (ORDER BY day) AS d1,
             |         lead(CAST(c * nd - sc AS HUGEINT), 7) OVER (ORDER BY day) AS d7
             |       FROM daily, t),
             |a AS (SELECT sum(dev * dev) AS den,
             |        sum(CASE WHEN d1 IS NOT NULL THEN dev * d1 END) AS n1, count(d1) AS c1,
             |        sum(CASE WHEN d7 IS NOT NULL THEN dev * d7 END) AS n7, count(d7) AS c7
             |      FROM dv)
             |SELECT lag, n_terms, r_micro FROM (
             |  SELECT CAST(1 AS BIGINT) AS lag, CAST(c1 AS BIGINT) AS n_terms,
             |    CAST(CASE WHEN den = 0 OR n1 IS NULL THEN 0
             |              WHEN n1 < 0 THEN -((-n1 * 1000000) // den)
             |              ELSE (n1 * 1000000) // den END AS BIGINT) AS r_micro
             |  FROM a
             |  UNION ALL
             |  SELECT CAST(7 AS BIGINT), CAST(c7 AS BIGINT),
             |    CAST(CASE WHEN den = 0 OR n7 IS NULL THEN 0
             |              WHEN n7 < 0 THEN -((-n7 * 1000000) // den)
             |              ELSE (n7 * 1000000) // den END AS BIGINT)
             |  FROM a)
             |ORDER BY lag""".stripMargin)),

    // Day-of-week seasonality profile of the event stream: per weekday
    // slot, days observed, event share, and the per-day mean rate. The
    // weekday index is epoch-days mod 7 (1970-01-01 = Thursday = slot 0)
    // — pure integer on both engines, immune to the engines' different
    // dayofweek numbering conventions. One daily aggregate + one 7-row
    // rollup.
    Q("event_dow_profile", "EVENT",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("c"))
          .withColumn("dow_idx",
            (datediff(col("day"), lit("1970-01-01")) % 7).cast("long"))
        val prof = daily.groupBy(col("dow_idx"))
          .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"))
        val tot = prof.agg(sum(col("n_events")).as("__t"))
        prof.crossJoin(broadcast(tot))
          .withColumn("share_micro", expr("n_events * 1000000 div __t"))
          .withColumn("daily_mean_micro", expr("n_events * 1000000 div n_days"))
          .select(col("dow_idx"), col("n_days"), col("n_events"),
            col("share_micro"), col("daily_mean_micro"))
          .orderBy("dow_idx")
      },
      Some("""WITH daily AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS c
             |       FROM events GROUP BY 1),
             |p AS (SELECT (day - DATE '1970-01-01') % 7 AS dow_idx,
             |        count(*) AS n_days, sum(c) AS n_events
             |      FROM daily GROUP BY 1),
             |t AS (SELECT sum(n_events) AS tt FROM p)
             |SELECT CAST(dow_idx AS BIGINT) AS dow_idx,
             |  CAST(n_days AS BIGINT) AS n_days,
             |  CAST(n_events AS BIGINT) AS n_events,
             |  CAST(n_events * 1000000 // tt AS BIGINT) AS share_micro,
             |  CAST(n_events * 1000000 // n_days AS BIGINT) AS daily_mean_micro
             |FROM p, t ORDER BY dow_idx""".stripMargin)),

    // Median-absolute-deviation outlier gate: the robust twin of the
    // 3-sigma screen (whales can't inflate the threshold) — two exact
    // order-statistic medians via two-phase global ranking, integer
    // comparisons only.
    Q("event_mad_outliers", "EVENT",
      (s, d) => Sampling.madOutliers(
          Tables(s, d, "events")
            .select(col("event_id"),
              round(col("value") * 1000000).cast("long").as("v_micro")),
          "event_id", "v_micro", kMilli = 3000)
        .orderBy("event_id"),
      Some("""WITH v AS (SELECT event_id, CAST(round(value * 1000000) AS BIGINT) AS value FROM events),
             |n AS (SELECT count(*) AS n FROM v),
             |r AS (SELECT *, row_number() OVER (ORDER BY value, event_id) AS rn FROM v),
             |med AS (SELECT value AS med FROM r, n WHERE rn = (n + 1) // 2),
             |dv AS (SELECT event_id, value, abs(value - med) AS dev FROM v, med),
             |r2 AS (SELECT *, row_number() OVER (ORDER BY dev, event_id) AS rn2 FROM dv),
             |mad AS (SELECT dev AS mad FROM r2, n WHERE rn2 = (n + 1) // 2)
             |SELECT event_id, value, dev AS abs_dev, mad
             |FROM dv, mad WHERE dev * 1000 > 3000 * mad
             |ORDER BY event_id""".stripMargin)),

    // Deterministic Poisson bootstrap (the distributed bootstrap: each
    // row enters replicate r Poisson(1) times, independence across rows
    // makes it one pass): draw counts come from a HASH inverse-CDF, not
    // an RNG — md5(id:rep) mod 1e6 against builder-inlined cumulative
    // thresholds — so every replicate is reproducible across engines and
    // retries. 8 replicate means of the event value; the spread IS the
    // standard-error estimate.
    Q("sample_bootstrap", "EVENT",
      (s, d) => {
        val thr = {
          val pmf = (0 to 4).map(k => math.exp(-1.0) / (1 to k).product)
          pmf.scanLeft(0.0)(_ + _).tail.map(c => math.round(c * 1000000))
        }
        val u = col("__u")
        val kCase = thr.zipWithIndex.reverse.foldLeft(lit(5L): org.apache.spark.sql.Column) {
          case (els, (t, k)) => when(u < t, k.toLong).otherwise(els)
        }
        Tables(s, d, "events")
          .select(col("event_id"),
            round(col("value") * 1000000).cast("long").as("v"))
          .withColumn("rep", explode(sequence(lit(0L), lit(7L))))
          .withColumn("__u",
            md5Long(concat_ws(":", col("event_id"), col("rep"))) % 1000000L)
          .withColumn("__k", kCase)
          .groupBy(col("rep"))
          .agg(sum(col("__k")).as("n_drawn"),
            sum(col("__k").cast("decimal(38,0)") * col("v")).as("__s"))
          .withColumn("mean_micro", expr(
            """CASE WHEN n_drawn = 0 THEN cast(0 as bigint)
              |     WHEN __s < 0 THEN cast(-((-__s) div n_drawn) as bigint)
              |     ELSE cast(__s div n_drawn as bigint) END""".stripMargin))
          .select(col("rep"), col("n_drawn"), col("mean_micro"))
          .orderBy("rep")
      },
      Some {
        val thr = {
          val pmf = (0 to 4).map(k => math.exp(-1.0) / (1 to k).product)
          pmf.scanLeft(0.0)(_ + _).tail.map(c => math.round(c * 1000000))
        }
        val kCase = ("CASE " + thr.zipWithIndex.map { case (t, k) =>
          s"WHEN u < $t THEN $k" }.mkString(" ") + " ELSE 5 END")
        s"""WITH v AS (SELECT event_id, CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
           |r AS (SELECT event_id, v, unnest(range(0, 8)) AS rep FROM v),
           |u AS (SELECT rep, v,
           |        ${md5LongSql("CAST(event_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)")} % 1000000 AS u
           |      FROM r),
           |k AS (SELECT rep, v, $kCase AS k FROM u),
           |a AS (SELECT rep, sum(k) AS n_drawn, sum(CAST(k AS HUGEINT) * v) AS s
           |      FROM k GROUP BY 1)
           |SELECT CAST(rep AS BIGINT) AS rep, CAST(n_drawn AS BIGINT) AS n_drawn,
           |  CAST(CASE WHEN n_drawn = 0 THEN 0
           |       WHEN s < 0 THEN -((-s) // n_drawn)
           |       ELSE s // n_drawn END AS BIGINT) AS mean_micro
           |FROM a ORDER BY rep""".stripMargin
      }),

    // Effective sample size of a proposed weighting (Kish): ESS/n =
    // (Σw)² / (n·Σw²) in milli — the one-number health check before any
    // weighted sampling pass (ESS ≈ n: weights are benign; ESS ≪ n: a
    // few rows dominate and the sample will be noise). Per event-type
    // strata + overall via one grouping-sets-free union of two hash
    // aggregates; DECIMAL(38,0) moments.
    Q("sample_ess", "EVENT",
      (s, d) => {
        val v = Tables(s, d, "events").select(col("event_type"),
          greatest(round(col("value") * 1000000).cast("long"), lit(0L)).as("w"))
        def essAgg(g: org.apache.spark.sql.RelationalGroupedDataset) = g
          .agg(count(lit(1)).as("n"), sum(col("w")).as("__s"),
            sum(col("w").cast("decimal(38,0)") * col("w")).as("__q"))
          .withColumn("ess_milli", expr(
            """CASE WHEN __q = 0 THEN cast(0 as bigint)
              |ELSE cast((cast(__s as decimal(38,0)) * __s * 1000) div (n * __q) as bigint)
              |END""".stripMargin))
        essAgg(v.groupBy(col("event_type")))
          .select(col("event_type"), col("n"), col("ess_milli"))
          .unionAll(essAgg(v.groupBy())
            .select(lit("__all__").as("event_type"), col("n"), col("ess_milli")))
          .orderBy("event_type")
      },
      Some("""WITH v AS (SELECT event_type,
             |         greatest(CAST(round(value * 1000000) AS BIGINT), 0) AS w
             |       FROM events),
             |p AS (SELECT event_type, count(*) AS n, sum(w) AS s,
             |        sum(CAST(w AS HUGEINT) * w) AS q
             |      FROM v GROUP BY 1
             |      UNION ALL
             |      SELECT '__all__', count(*), sum(w), sum(CAST(w AS HUGEINT) * w) FROM v)
             |SELECT event_type, CAST(n AS BIGINT) AS n,
             |  CAST(CASE WHEN q = 0 THEN 0
             |       ELSE (CAST(s AS HUGEINT) * s * 1000) // (n * q) END AS BIGINT) AS ess_milli
             |FROM p ORDER BY event_type""".stripMargin)),

    // Benford first-digit audit of the value column — the classic
    // fabricated-data / unit-mixup screen (organic multiplicative values
    // follow P(d) = log10(1+1/d); synthetic or truncated feeds don't).
    // First digit via decimal-string head (log10+floor would be
    // ulp-fragile at exact powers of ten); the expected shares are
    // builder-computed micro literals inlined into BOTH engines, so
    // neither engine's log10 is on the hash path. One hash aggregate +
    // one 1-row broadcast.
    Q("event_benford", "EVENT",
      (s, d) => {
        val expected = (1 to 9).map(dg =>
          struct(lit(dg).as("digit"),
            lit(math.round(math.log10(1.0 + 1.0 / dg) * 1000000)).as("expected_micro")))
        val cnt = Tables(s, d, "events")
          .select(abs(round(col("value") * 1000000).cast("long")).as("__av"))
          .filter(col("__av") > 0)
          .select(substring(col("__av").cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        val tot = cnt.agg(sum(col("n_obs")).as("__n"))
        val exp_ = cnt.sparkSession.range(1)
          .select(explode(array(expected: _*)).as("__e"))
          .select(col("__e.digit").as("digit"), col("__e.expected_micro"))
        cnt.join(broadcast(exp_), "digit").crossJoin(broadcast(tot))
          .withColumn("share_micro", expr("n_obs * 1000000 div __n"))
          .withColumn("dev_micro", col("share_micro") - col("expected_micro"))
          .select(col("digit"), col("n_obs"), col("expected_micro"),
            col("share_micro"), col("dev_micro"))
          .orderBy("digit")
      },
      Some {
        val vals = (1 to 9).map(dg =>
          s"($dg, ${math.round(math.log10(1.0 + 1.0 / dg) * 1000000)})").mkString(", ")
        s"""WITH v AS (SELECT CAST(abs(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS av
           |       FROM events),
           |dg AS (SELECT CAST(substring(CAST(av AS VARCHAR), 1, 1) AS INTEGER) AS digit
           |       FROM v WHERE av > 0),
           |c AS (SELECT digit, count(*) AS n_obs FROM dg GROUP BY 1),
           |t AS (SELECT sum(n_obs) AS n FROM c),
           |e(digit, expected_micro) AS (VALUES $vals)
           |SELECT c.digit, CAST(n_obs AS BIGINT) AS n_obs,
           |  CAST(expected_micro AS BIGINT) AS expected_micro,
           |  CAST(n_obs * 1000000 // n AS BIGINT) AS share_micro,
           |  CAST(n_obs * 1000000 // n - expected_micro AS BIGINT) AS dev_micro
           |FROM c JOIN e USING (digit), t ORDER BY digit""".stripMargin
      }),

    // Winsorization of the event value at exact [P1, P99]: robust tail
    // clamping where every row must survive (the complement of the
    // drop-based outlier gate). Exact order-statistic thresholds on a
    // 2-value broadcast; the clamp is one codegen'd least/greatest.
    Q("event_winsorize", "EVENT",
      (s, d) => Sampling.winsorize(
          Tables(s, d, "events")
            .select(col("event_id"), round(col("value") * 1000000)
              .cast("long").as("v_micro")),
          "event_id", "v_micro", loMilli = 10, hiMilli = 990)
        .orderBy("event_id"),
      Some("""WITH v AS (SELECT event_id, CAST(round(value * 1000000) AS BIGINT) AS value FROM events),
             |r AS (SELECT *, CAST(row_number() OVER (ORDER BY value, event_id) AS BIGINT) AS rn FROM v),
             |n AS (SELECT count(*) AS n FROM v),
             |thr AS (SELECT min(value) AS lo, max(value) AS hi FROM r, n
             |        WHERE rn = greatest(1, (10 * n + 999) // 1000)
             |           OR rn = greatest(1, (990 * n + 999) // 1000))
             |SELECT event_id, value, least(greatest(value, lo), hi) AS winsorized
             |FROM v, thr ORDER BY event_id""".stripMargin)),

    // Systematic PPS sampling: every step-th point of the cumulative
    // weight line via the EXACT distributed prefix sum (two-phase, no
    // single-task window) — deterministic size-proportional selection,
    // heavy rows legitimately picked more than once. The operator carries
    // cum_w as exact DECIMAL(38,0) (the 100 TB running total exceeds a
    // long); the ORACLE-FACING projection emits it as a decimal STRING on
    // BOTH engines — same representation-proof contract as graph_hits: an
    // unbounded integer has no canonical cross-engine binary type (Spark
    // decimal vs DuckDB HUGEINT canonicalize differently in some hash
    // harnesses), while its decimal string hashes identically everywhere.
    Q("sample_pps", "LLM",
      (s, d) => Sampling.ppsSystematic(
          Tables(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 100)
        .select(col("doc_id"), col("w"),
          col("cum_w").cast("string").as("cum_w"), col("n_picks"))
        .orderBy("doc_id"),
      Some("""WITH v AS (SELECT doc_id, greatest(CAST(n_chars AS BIGINT), 0) AS w FROM documents),
             |c AS (SELECT doc_id, w,
             |        sum(w) OVER (ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM v),
             |t AS (SELECT sum(w) // 100 AS step FROM v)
             |SELECT doc_id, w, CAST(cum AS VARCHAR) AS cum_w,
             |  CAST(cum // step - (cum - w) // step AS BIGINT) AS n_picks
             |FROM c, t
             |WHERE step > 0 AND cum // step - (cum - w) // step > 0
             |ORDER BY doc_id""".stripMargin)),

    // Quantile normalization of per-source length distributions onto the
    // global one (Bolstad et al.): integer rank mapping r → ceil(r·N/n_s),
    // no float quantiles — the cross-source score-comparability fix
    // mixture sampling needs. Oracle replays the identical rank algebra.
    Q("sample_quantile_norm", "LLM",
      (s, d) => Sampling.quantileNormalize(Tables(s, d, "documents"),
          "doc_id", "n_chars", "source")
        .orderBy("doc_id"),
      Some("""WITH v AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents),
             |r AS (SELECT doc_id, source, v,
             |        CAST(row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS BIGINT) AS r,
             |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
             |      FROM v),
             |g AS (SELECT CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS gr,
             |        v AS norm_value FROM v),
             |n AS (SELECT count(*) AS n FROM v)
             |SELECT doc_id, source, v AS value, norm_value
             |FROM r CROSS JOIN n JOIN g ON g.gr = (r.r * n.n + r.ns - 1) // r.ns
             |ORDER BY doc_id""".stripMargin)),

    // KL drift audit between the month's two halves: has the event-type
    // mix shifted? Add-one-smoothed per-category log-ratios quantized from
    // exact integer counts; contributions say WHICH category drifted.
    // Two map-side counts + a category-keyed join + a 1-row broadcast.
    Q("event_kl_drift", "EVENT",
      (s, d) => {
        val ev = Tables(s, d, "events")
        Sampling.klDrift(
            ev.filter(dayofmonth(col("ts")) <= 15).select(col("event_type")),
            ev.filter(dayofmonth(col("ts")) > 15).select(col("event_type")),
            "event_type")
          .orderBy("event_type")
      },
      Some("""WITH p AS (SELECT event_type, count(*) AS c1 FROM events
             |       WHERE day(CAST(ts AS TIMESTAMP)) <= 15 GROUP BY 1),
             |q AS (SELECT event_type, count(*) AS c2 FROM events
             |       WHERE day(CAST(ts AS TIMESTAMP)) > 15 GROUP BY 1),
             |j AS (SELECT coalesce(p.event_type, q.event_type) AS event_type,
             |        coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
             |      FROM p FULL JOIN q ON p.event_type = q.event_type),
             |tt AS (SELECT sum(c1) AS n1, sum(c2) AS n2, count(*) AS t FROM j),
             |sc AS (SELECT event_type, c1, c2,
             |         CAST(round(ln(CAST((c1 + 1) * (n2 + t) AS DOUBLE)
             |                      / CAST((c2 + 1) * (n1 + t) AS DOUBLE)) * 1e6) AS BIGINT) AS lr_micro
             |       FROM j, tt)
             |SELECT event_type, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
             |  lr_micro,
             |  CAST(CASE WHEN lr_micro < 0
             |       THEN -((c1 + 1) * (-lr_micro) // (n1 + t))
             |       ELSE (c1 + 1) * lr_micro // (n1 + t) END AS BIGINT) AS contrib_micro
             |FROM sc, tt ORDER BY event_type""".stripMargin)),

    // Association rules over behavioral baskets (Agrawal-Srikant 1-item
    // rules): items are (event_type × props-value quartile) per user;
    // support / confidence / lift in integer milli-units. Distinct
    // (basket, item) reduction first, one self-equi-join on the basket
    // key, map-side-combined counts, 1-row basket-total broadcast.
    Q("event_assoc_rules", "EVENT",
      (s, d) => itemPairRules(s, d).orderBy("item_a", "item_b"),
      Some(s"""WITH $itemPairCountsCte,
             |nb AS (SELECT count(DISTINCT k) AS n FROM itn)
             |SELECT item_a, item_b, CAST(c_ab AS BIGINT) AS c_ab,
             |  CAST(ca.c AS BIGINT) AS c_a, CAST(cb.c AS BIGINT) AS c_b,
             |  CAST(n AS BIGINT) AS n_baskets,
             |  CAST(c_ab * 1000 // n AS BIGINT) AS supp_milli,
             |  CAST(c_ab * 1000 // ca.c AS BIGINT) AS conf_milli,
             |  CAST(CAST(c_ab AS HUGEINT) * n * 1000
             |       // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_milli
             |FROM pc JOIN ic ca ON ca.i = pc.item_a
             |     JOIN ic cb ON cb.i = pc.item_b, nb
             |ORDER BY item_a, item_b""".stripMargin)),

    // ANALYZE-shape table statistics: per-column null count, exact NDV,
    // min/max — the CBO inputs — for four lineitem columns. TWO keyless
    // aggregation passes (r15, guide §2.3/§4): the exact-NDV pass keeps
    // ONLY the countDistincts, so its Expand rewrite carries nothing but
    // fixed-width long buffers and whole-stage hash-aggregates; the
    // min/max/null pass holds the string-buffered aggregates that would
    // otherwise force the whole Expand aggregate sort-based (SortAggregate
    // over 5x-expanded corpus in one task — the board's slowest query at
    // 12.5 s / 19 s max task before the split). The two 1-row results
    // meet by broadcast cross join; numerics read out as integer cents so
    // min/max strings are engine-proof. Row-per-column report like the
    // DQ suite.
    Q("profile_table_stats", "LLM",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
          .withColumn("qty_c", round(col("l_quantity") * 100).cast("long"))
        val ndv = li.agg(
          countDistinct(col("l_orderkey")).as("d1"),
          countDistinct(col("qty_c")).as("d2"),
          countDistinct(col("l_returnflag")).as("d3"),
          countDistinct(col("l_shipdate")).as("d4"))
        val mm = li.agg(
          count(lit(1)).as("n"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
          min(col("l_orderkey")).cast("string").as("mn1"),
          max(col("l_orderkey")).cast("string").as("mx1"),
          sum(when(col("qty_c").isNull, 1L).otherwise(0L)).as("nn2"),
          min(col("qty_c")).cast("string").as("mn2"),
          max(col("qty_c")).cast("string").as("mx2"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("nn3"),
          min(col("l_returnflag")).as("mn3"), max(col("l_returnflag")).as("mx3"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("nn4"),
          min(col("l_shipdate")).cast("string").as("mn4"),
          max(col("l_shipdate")).cast("string").as("mx4"))
        val one = ndv.crossJoin(broadcast(mm))
        val rows = Seq(("l_orderkey", "1"), ("l_quantity_cents", "2"),
          ("l_returnflag", "3"), ("l_shipdate", "4")).map { case (nm, i) =>
          struct(lit(nm).as("column_name"), col("n").as("n_rows"),
            col(s"nn$i").as("n_nulls"), col(s"d$i").as("ndv"),
            col(s"mn$i").as("min_str"), col(s"mx$i").as("max_str"))
        }
        one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
          .orderBy("column_name")
      },
      Some("""WITH li AS (SELECT l_orderkey,
             |         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
             |         l_returnflag, l_shipdate FROM lineitem),
             |one AS (SELECT count(*) AS n,
             |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1,
             |  count(DISTINCT l_orderkey) AS d1,
             |  CAST(min(l_orderkey) AS VARCHAR) AS mn1, CAST(max(l_orderkey) AS VARCHAR) AS mx1,
             |  sum(CASE WHEN qty_c IS NULL THEN 1 ELSE 0 END) AS nn2,
             |  count(DISTINCT qty_c) AS d2,
             |  CAST(min(qty_c) AS VARCHAR) AS mn2, CAST(max(qty_c) AS VARCHAR) AS mx2,
             |  sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nn3,
             |  count(DISTINCT l_returnflag) AS d3,
             |  min(l_returnflag) AS mn3, max(l_returnflag) AS mx3,
             |  sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS nn4,
             |  count(DISTINCT l_shipdate) AS d4,
             |  CAST(min(l_shipdate) AS VARCHAR) AS mn4, CAST(max(l_shipdate) AS VARCHAR) AS mx4
             |  FROM li)
             |SELECT column_name, CAST(n AS BIGINT) AS n_rows,
             |  CAST(n_nulls AS BIGINT) AS n_nulls, CAST(ndv AS BIGINT) AS ndv,
             |  min_str, max_str
             |FROM (
             |  SELECT 'l_orderkey' AS column_name, n, nn1 AS n_nulls, d1 AS ndv, mn1 AS min_str, mx1 AS max_str FROM one
             |  UNION ALL SELECT 'l_quantity_cents', n, nn2, d2, mn2, mx2 FROM one
             |  UNION ALL SELECT 'l_returnflag', n, nn3, d3, mn3, mx3 FROM one
             |  UNION ALL SELECT 'l_shipdate', n, nn4, d4, mn4, mx4 FROM one)
             |ORDER BY column_name""".stripMargin)),

    // Item-item cosine (item-based collaborative filtering, Sarwar et
    // al. 2001): cosine of binary user-incidence vectors = c_ab /
    // sqrt(c_a*c_b), read directly off the assoc-rules counts — the
    // recommendation readout rides the SAME pinned pair machinery.
    // Integer milli with the engines' shared floor-sqrt discipline.
    Q("rec_item_cosine", "EVENT",
      (s, d) => itemPairRules(s, d)
        .withColumn("cosine_milli", expr(
          """cast(c_ab as bigint) * 1000
            | div cast(floor(sqrt(cast(c_a as double) * cast(c_b as double))) as bigint)""".stripMargin))
        .select(col("item_a"), col("item_b"), col("c_ab"), col("c_a"),
          col("c_b"), col("cosine_milli"))
        .orderBy("item_a", "item_b"),
      Some(s"""WITH $itemPairCountsCte
             |SELECT item_a, item_b, CAST(c_ab AS BIGINT) AS c_ab,
             |  CAST(ca.c AS BIGINT) AS c_a, CAST(cb.c AS BIGINT) AS c_b,
             |  CAST(c_ab * 1000 // CAST(floor(sqrt(CAST(ca.c AS DOUBLE) * cb.c)) AS BIGINT) AS BIGINT)
             |    AS cosine_milli
             |FROM pc JOIN ic ca ON ca.i = pc.item_a
             |     JOIN ic cb ON cb.i = pc.item_b
             |ORDER BY item_a, item_b""".stripMargin)),

    // Exact weighted median per group (lower: smallest value whose
    // cumulative weight reaches half the total): values pre-aggregate
    // to one row per (group, value) FIRST — the cumulative window runs
    // over the collapsed value spine, not the corpus rows.
    Q("agg_weighted_median", "A",
      (s, d) => {
        val li = Tables(s, d, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"),
          round(col("l_quantity") * 100).cast("long").as("qty_c"))
        val collapsed = li.groupBy(col("l_returnflag"), col("price_c"))
          .agg(sum(col("qty_c")).as("w"))
        // the collapsed table is distinct-price-sized — bounded by the
        // price DOMAIN, not the corpus, but that domain is millions of
        // cents values, so a running sum partitioned by the 3-value
        // l_returnflag would still sort ~domain/3 rows in one task; the
        // grouped two-phase prefix sum keeps it balanced
        // crossing-slice selection, not a full prefix sum: per-slice
        // weight totals (dimension-sized) locate the ONE slice per group
        // where the running weight reaches half the total, and only that
        // slice's rows pay a window — the single-quantile readout never
        // materializes cumulative weights over the whole spine
        graft.operators.GlobalRank.groupedWeightedMedianLower(collapsed,
            Seq("l_returnflag"), "price_c", "w",
            "weighted_median_c", "total_weight")
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (SELECT l_returnflag,
             |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             |         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c FROM lineitem),
             |cl AS (SELECT l_returnflag, price_c, sum(qty_c) AS w
             |       FROM li GROUP BY 1, 2),
             |cum AS (SELECT l_returnflag, price_c,
             |          sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
             |                       ROWS UNBOUNDED PRECEDING) AS cw,
             |          sum(w) OVER (PARTITION BY l_returnflag) AS tw
             |        FROM cl)
             |SELECT l_returnflag, CAST(min(price_c) AS BIGINT) AS weighted_median_c,
             |  CAST(max(tw) AS BIGINT) AS total_weight
             |FROM cum WHERE cw * 2 >= tw
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Theil-Sen robust trend (median of pairwise slopes — breakdown
    // point 29%, vs OLS's 0): the scale story is AGGREGATE FIRST — the
    // corpus collapses to one row per day (bounded spine), and only the
    // ~spine^2/2 metadata pairs are enumerated. Sign-safe truncating
    // milli slopes; lower median (value at rank (n+1)/2) so the readout
    // is integer-exact on both engines.
    Q("event_theilsen_trend", "EVENT",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(s, d, "events")
          .groupBy(expr("unix_timestamp(ts) div 86400").as("day"))
          .agg(count(lit(1)).as("n"))
        val a = daily.select(col("day").as("d1"), col("n").as("n1"))
        val b = daily.select(col("day").as("d2"), col("n").as("n2"))
        val slopes = a.join(b, col("d1") < col("d2"))
          .select(expr(
            """CASE WHEN n2 - n1 < 0 THEN -((n1 - n2) * 1000 div (d2 - d1))
              |ELSE (n2 - n1) * 1000 div (d2 - d1) END""".stripMargin)
            .as("slope_milli"))
        val w = Window.orderBy("slope_milli") // bounded: spine^2/2 rows
        slopes
          .withColumn("rn", row_number().over(w))
          .crossJoin(broadcast(slopes.agg(count(lit(1)).as("n_pairs"))))
          .filter(col("rn") === expr("(n_pairs + 1) div 2"))
          .select(col("n_pairs"), col("slope_milli").as("trend_milli_per_day"))
      },
      Some("""WITH daily AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
             |         count(*) AS n FROM events GROUP BY 1),
             |sl AS (SELECT CASE WHEN b.n - a.n < 0
             |           THEN -((a.n - b.n) * 1000 // (b.day - a.day))
             |           ELSE (b.n - a.n) * 1000 // (b.day - a.day) END AS slope_milli
             |       FROM daily a JOIN daily b ON a.day < b.day),
             |r AS (SELECT slope_milli, row_number() OVER (ORDER BY slope_milli) AS rn,
             |        count(*) OVER () AS n_pairs FROM sl)
             |SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
             |  CAST(slope_milli AS BIGINT) AS trend_milli_per_day
             |FROM r WHERE rn = (n_pairs + 1) // 2""".stripMargin)),

    // Median imputation (the fill-missing cleaning primitive): nulls are
    // planted deterministically, the per-group LOWER median (value at
    // rank (n+1)/2 of the non-null rows — integer-exact on both engines,
    // unlike interpolating median()) fills them, and the report proves
    // it: per group, missing count, the median used, and the imputed sum.
    // The median rides DISTINCT-VALUE COMPRESSION, not a corpus window:
    // row_number over (l_returnflag | qty_c) would be one task per flag
    // (3 values) sorting ~N/3 rows at 100 TB, while the distinct quantity
    // domain is bounded (cents of 1..50 ⇒ ≤ ~5 k values) — one map-side-
    // combined count aggregate, then a dimension-sized running-count
    // window; the lower median is the smallest value whose cumulative
    // count reaches (n+1) div 2.
    Q("clean_impute_median", "A",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            when((col("l_orderkey") + col("l_linenumber")) % 7 === 0, lit(null))
              .otherwise(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
        val med = li.filter(col("qty_c").isNotNull)
          .groupBy(col("l_returnflag"), col("qty_c"))
          .agg(count(lit(1)).as("c")) // domain-bounded: ≤ distinct quantities
          .withColumn("cum", sum(col("c")).over(
            Window.partitionBy("l_returnflag").orderBy("qty_c")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("tot", sum(col("c")).over(
            Window.partitionBy("l_returnflag")))
          .filter(col("cum") >= expr("(tot + 1) div 2"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("qty_c")).as("median_c"))
        // med is one row per flag (3) but its size ESTIMATE runs through
        // the window subtree and outgrows the auto-broadcast threshold at
        // sf1 — the un-hinted plan shuffled the whole corpus for a 3-row
        // join (measured 711x bytes at the decade gate); pin it
        li.join(broadcast(med), "l_returnflag")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("qty_c").isNull, 1L).otherwise(0L)).as("n_missing"),
            max(col("median_c")).as("median_c"),
            sum(coalesce(col("qty_c"), col("median_c"))).as("sum_imputed_c"))
          .orderBy("l_returnflag")
      },
      Some("""WITH li AS (SELECT l_returnflag, CASE WHEN (l_orderkey + l_linenumber) % 7 = 0
             |           THEN NULL ELSE CAST(round(l_quantity * 100) AS BIGINT) END AS qty_c
             |       FROM lineitem),
             |nn AS (SELECT l_returnflag, qty_c,
             |         row_number() OVER (PARTITION BY l_returnflag ORDER BY qty_c) AS rn,
             |         count(*) OVER (PARTITION BY l_returnflag) AS cnt
             |       FROM li WHERE qty_c IS NOT NULL),
             |med AS (SELECT l_returnflag, qty_c AS median_c FROM nn
             |        WHERE rn = (cnt + 1) // 2)
             |SELECT li.l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN li.qty_c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
             |  CAST(max(median_c) AS BIGINT) AS median_c,
             |  CAST(sum(coalesce(li.qty_c, median_c)) AS BIGINT) AS sum_imputed_c
             |FROM li JOIN med USING (l_returnflag)
             |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin)),

    // Session entry/exit analytics: per 10-minute session, the first and
    // last event type (struct-argmin/argmax on (ts, event_id) inside the
    // session aggregate — no extra window), rolled up to the classic
    // product-analytics readout: per entry type, sessions, bounce rate
    // (single-event sessions) and the top exit mix ridden as counts.
    Q("event_entry_exit", "EVENT",
      (s, d) => {
        val ev = Tables(s, d, "events")
        ev.groupBy(col("user_id"),
            session_window(col("ts"), "10 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            min(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("entry_type"),
            max(struct(col("ts"), col("event_id"), col("event_type")))
              .getField("event_type").as("exit_type"))
          .groupBy(col("entry_type"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
            sum(when(col("exit_type") === col("entry_type"), 1L).otherwise(0L))
              .as("n_same_exit"))
          .withColumn("bounce_milli", expr("n_bounce * 1000 div n_sessions"))
          .orderBy("entry_type")
      },
      Some("""WITH dd AS (SELECT user_id, ts, event_id, event_type,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                OR ts >= lag(ts) OVER w + INTERVAL 10 MINUTE
             |              THEN 1 ELSE 0 END AS brk
             |       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |ss AS (SELECT user_id, ts, event_id, event_type,
             |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS sid
             |       FROM dd),
             |ses AS (SELECT user_id, sid, count(*) AS n_events,
             |          max(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
             |          max(CASE WHEN rl = 1 THEN event_type END) AS exit_type
             |        FROM (SELECT *,
             |                row_number() OVER (PARTITION BY user_id, sid
             |                                   ORDER BY ts, event_id) AS rf,
             |                row_number() OVER (PARTITION BY user_id, sid
             |                                   ORDER BY ts DESC, event_id DESC) AS rl
             |              FROM ss)
             |        GROUP BY 1, 2)
             |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
             |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
             |  CAST(sum(CASE WHEN exit_type = entry_type THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_same_exit,
             |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
             |    AS bounce_milli
             |FROM ses GROUP BY entry_type ORDER BY entry_type""".stripMargin)),

    // Functional-dependency profiling (schema discovery / DQ): does
    // A determine B? Violations = LHS groups seeing >1 distinct RHS —
    // one aggregate per FD, metadata-sized readout. orders' PK->attr
    // holds by construction; lineitem's orderkey->shipdate fails
    // (lines of one order ship on different days) — both statuses shown.
    Q("dq_functional_dependency", "A",
      (s, d) => {
        def fd(df: org.apache.spark.sql.DataFrame, name: String,
               lhs: String, rhs: String) =
          df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("__d"))
            .agg(count(lit(1)).as("n_lhs"),
              sum(when(col("__d") > 1, 1L).otherwise(0L)).as("n_violating"))
            .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
              when(col("n_violating") === 0, lit("holds"))
                .otherwise(lit("violated")).as("status"))
        fd(Tables(s, d, "orders"), "o_orderkey->o_custkey",
            "o_orderkey", "o_custkey")
          .unionByName(fd(Tables(s, d, "lineitem"), "l_orderkey->l_shipdate",
            "l_orderkey", "l_shipdate"))
          .orderBy("fd")
      },
      Some("""WITH f1 AS (SELECT 'o_orderkey->o_custkey' AS fd,
             |         CAST(count(*) AS BIGINT) AS n_lhs,
             |         CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
             |       FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS d
             |             FROM orders GROUP BY 1)),
             |f2 AS (SELECT 'l_orderkey->l_shipdate',
             |         CAST(count(*) AS BIGINT),
             |         CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |       FROM (SELECT l_orderkey, count(DISTINCT l_shipdate) AS d
             |             FROM lineitem GROUP BY 1))
             |SELECT fd, n_lhs, n_violating,
             |  CASE WHEN n_violating = 0 THEN 'holds' ELSE 'violated' END AS status
             |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
             |ORDER BY fd""".stripMargin)),

    // Max drawdown per user: running peak (one ordered window per user)
    // minus current value, maxed in the same pass — the risk metric
    // behind equity-curve monitoring; integer cents, deterministic
    // (ts, event_id) order.
    Q("event_max_drawdown", "EVENT",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, d, "events").select(col("user_id"),
          col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("peak", max(col("cents")).over(w))
          .groupBy(col("user_id"))
          .agg(max(col("peak") - col("cents")).as("max_drawdown_cents"),
            max(col("peak")).as("peak_cents"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
             |         CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |pk AS (SELECT user_id, cents,
             |         max(cents) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                          ROWS UNBOUNDED PRECEDING) AS peak
             |       FROM ev)
             |SELECT user_id, CAST(max(peak - cents) AS BIGINT) AS max_drawdown_cents,
             |  CAST(max(peak) AS BIGINT) AS peak_cents
             |FROM pk GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Longest consecutive-day activity streak per user — the classic
    // gaps-and-islands shape: island key = active-day-number minus its
    // per-user rank (constant within a run of consecutive days), longest
    // streak = the largest island. One distinct + one window + two
    // aggregates, all keyed on the user.
    Q("event_streaks", "EVENT",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables(s, d, "events")
          .select(col("user_id"),
            expr("unix_timestamp(ts) div 86400").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days.withColumn("island", col("day") - row_number().over(w))
          .groupBy(col("user_id"), col("island"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("user_id"))
          .agg(sum(col("len")).as("n_active_days"),
            max(col("len")).as("longest_streak"))
          .orderBy("user_id")
      },
      Some("""WITH days AS (SELECT DISTINCT user_id,
             |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day
             |       FROM events),
             |isl AS (SELECT user_id, day,
             |          day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
             |        FROM days),
             |runs AS (SELECT user_id, island, count(*) AS len
             |         FROM isl GROUP BY 1, 2)
             |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
             |  CAST(max(len) AS BIGINT) AS longest_streak
             |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // OHLC candles + VWAP per (event_type, hour): open/close are
    // struct-argmin/argmax in the SAME single hash aggregate as
    // high/low/volume — no window sort over the event stream, one
    // map-side-combined pass. Deterministic tie-break on (ts, event_id);
    // integer cents end to end.
    Q("event_ohlc_vwap", "EVENT",
      (s, d) => {
        val ev = Tables(s, d, "events").select(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("hr"),
          col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        ev.groupBy(col("event_type"), col("hr"))
          .agg(
            min(struct(col("ts"), col("event_id"), col("cents")))
              .getField("cents").as("open_cents"),
            max(col("cents")).as("high_cents"),
            min(col("cents")).as("low_cents"),
            max(struct(col("ts"), col("event_id"), col("cents")))
              .getField("cents").as("close_cents"),
            count(lit(1)).as("n"),
            sum(col("cents")).as("sum_cents"))
          .withColumn("vwap_cents", expr("sum_cents div n"))
          .orderBy("event_type", "hr")
      },
      Some("""WITH ev AS (SELECT event_type,
             |         CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS hr,
             |         CAST(ts AS TIMESTAMP) AS t, event_id,
             |         CAST(round(value * 100) AS BIGINT) AS cents
             |       FROM events),
             |rk AS (SELECT *,
             |         row_number() OVER (PARTITION BY event_type, hr
             |                            ORDER BY t, event_id) AS rf,
             |         row_number() OVER (PARTITION BY event_type, hr
             |                            ORDER BY t DESC, event_id DESC) AS rl
             |       FROM ev)
             |SELECT event_type, hr,
             |  CAST(max(CASE WHEN rf = 1 THEN cents END) AS BIGINT) AS open_cents,
             |  CAST(max(cents) AS BIGINT) AS high_cents,
             |  CAST(min(cents) AS BIGINT) AS low_cents,
             |  CAST(max(CASE WHEN rl = 1 THEN cents END) AS BIGINT) AS close_cents,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  CAST(sum(cents) // count(*) AS BIGINT) AS vwap_cents
             |FROM rk GROUP BY event_type, hr
             |ORDER BY event_type, hr""".stripMargin)),

    // Grid-cell spatial radius join: probes explode into their 3x3 cell
    // neighborhood (cell width = radius, so coverage is provable), the
    // corpus shuffles ONCE on the packed cell key, and the exact integer
    // dx^2+dy^2 <= r^2 verifies each candidate — never probes x corpus,
    // which is what the oracle pays.
    Q("j_spatial_cells", "J",
      (s, d) => {
        val pts = s.range(0, 2000).selectExpr("id",
          "(id * 2654435761L) % 10000L AS x", "(id * 104729L) % 10000L AS y")
        graft.operators.SpatialJoin.radiusJoin(
            pts.filter(col("id") >= 10), pts.filter(col("id") < 10),
            "id", "x", "y", radius = 300L)
          .orderBy("probe_id", "point_id")
      },
      Some("""WITH pts AS (SELECT id, (id * 2654435761) % 10000 AS x,
             |         (id * 104729) % 10000 AS y
             |       FROM (SELECT unnest(range(0, 2000)) AS id)),
             |q AS (SELECT id AS probe_id, x AS qx, y AS qy FROM pts WHERE id < 10),
             |c AS (SELECT id AS point_id, x AS px, y AS py FROM pts WHERE id >= 10)
             |SELECT probe_id, point_id,
             |  CAST((px - qx) * (px - qx) + (py - qy) * (py - qy) AS BIGINT) AS dist2
             |FROM q, c
             |WHERE (px - qx) * (px - qx) + (py - qy) * (py - qy) <= 90000
             |ORDER BY probe_id, point_id""".stripMargin)),

    // Interval x interval OVERLAP join, bucketized: per-(user, day)
    // activity spans vs synthetic 90-minute windows anchored at every
    // 4th hour. Each interval explodes into its covered hour buckets
    // (O(1) per interval), candidates meet in a shared bucket, ONE
    // equi-shuffle + pair-distinct + codegen verify — never |A|x|B|,
    // which is exactly what the oracle pays.
    Q("j_interval_overlap", "J",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), expr("unix_timestamp(ts)").as("es"))
          .filter(col("user_id") < 50)
        val spans = ev.groupBy(col("user_id"),
            expr("es div 86400").as("day"))
          .agg(min(col("es")).as("s_a"), max(col("es")).as("e_a"))
          .withColumn("a_key", concat(col("user_id"), lit("@"), col("day")))
        val windows = ev.select(expr("es div 3600").as("h")).distinct()
          .filter(col("h") % 4 === 0)
          .select(col("h").cast("string").as("w_key"),
            (col("h") * 3600).as("s_b"), (col("h") * 3600 + 5400).as("e_b"))
        graft.operators.IntervalJoin.overlapJoin(spans, windows,
            "a_key", "s_a", "e_a", "w_key", "s_b", "e_b", bucketSeconds = 3600)
          .select(col("a_id"), col("b_id"), col("overlap_s"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH ev AS (SELECT user_id,
             |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
             |       FROM events WHERE user_id < 50),
             |a AS (SELECT user_id || '@' || CAST(es // 86400 AS VARCHAR) AS a_id,
             |        min(es) AS s_a, max(es) AS e_a
             |      FROM ev GROUP BY user_id, es // 86400),
             |b AS (SELECT CAST(h AS VARCHAR) AS b_id, h * 3600 AS s_b,
             |        h * 3600 + 5400 AS e_b
             |      FROM (SELECT DISTINCT es // 3600 AS h FROM ev) WHERE h % 4 = 0)
             |SELECT a_id, b_id,
             |  CAST(least(e_a, e_b) - greatest(s_a, s_b) AS BIGINT) AS overlap_s
             |FROM a JOIN b ON s_a <= e_b AND s_b <= e_a
             |ORDER BY a_id, b_id""".stripMargin)),

    // Sequential 2-pattern rules (PrefixSpan at length 2): (a => b)
    // counts when a's FIRST occurrence strictly precedes b's — the
    // order-aware sibling of event_assoc_rules (co-occurrence is
    // symmetric; causality isn't). Baskets reduce to one first-ts row
    // per (user, type) before the pair join; ties count for neither.
    Q("event_seq_rules", "EVENT",
      (s, d) => graft.operators.Associations.sequenceRules(
          Tables(s, d, "events"), "user_id", "event_type", "ts",
          minPairCount = 20)
        .orderBy("item_a", "item_b"),
      Some("""WITH f AS (SELECT user_id AS k, event_type AS i,
             |         min(CAST(ts AS TIMESTAMP)) AS t FROM events GROUP BY 1, 2),
             |ic AS (SELECT i, count(*) AS c FROM f GROUP BY 1),
             |nb AS (SELECT count(DISTINCT k) AS n FROM f),
             |pc AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS c_ab
             |       FROM f a JOIN f b ON a.k = b.k AND a.t < b.t
             |       GROUP BY 1, 2 HAVING count(*) >= 20)
             |SELECT item_a, item_b, CAST(c_ab AS BIGINT) AS c_ab,
             |  CAST(ca.c AS BIGINT) AS c_a, CAST(n AS BIGINT) AS n_baskets,
             |  CAST(c_ab * 1000 // n AS BIGINT) AS supp_milli,
             |  CAST(c_ab * 1000 // ca.c AS BIGINT) AS conf_milli
             |FROM pc JOIN ic ca ON ca.i = pc.item_a, nb
             |ORDER BY item_a, item_b""".stripMargin)),

    // Script/charset profile (the mixed-script spam signal langid alone
    // misses): per-document Latin / digit / space / other counts and
    // milli ratios via anchored character-class regexp_replace — pure
    // codegen column work, one scan, no shuffle but the final sort.
    Q("text_script_profile", "LLM",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("n_latin"),
          length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digit"),
          length(regexp_replace(col("text"), "[^ ]", "")).as("n_space"))
        .withColumn("n_other",
          col("n_chars") - col("n_latin") - col("n_digit") - col("n_space"))
        .withColumn("latin_milli", expr(
          "CASE WHEN n_chars = 0 THEN 0L ELSE cast(n_latin as bigint) * 1000 div n_chars END"))
        .withColumn("other_milli", expr(
          "CASE WHEN n_chars = 0 THEN 0L ELSE cast(n_other as bigint) * 1000 div n_chars END"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
             |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS n_latin,
             |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INTEGER) AS n_digit,
             |  CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS INTEGER) AS n_space,
             |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |       - length(regexp_replace(text, '[^0-9]', '', 'g'))
             |       - length(regexp_replace(text, '[^ ]', '', 'g')) AS INTEGER) AS n_other,
             |  CAST(CASE WHEN length(text) = 0 THEN 0
             |       ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000 // length(text)
             |       END AS BIGINT) AS latin_milli,
             |  CAST(CASE WHEN length(text) = 0 THEN 0
             |       ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             |             - length(regexp_replace(text, '[^0-9]', '', 'g'))
             |             - length(regexp_replace(text, '[^ ]', '', 'g'))) * 1000 // length(text)
             |       END AS BIGINT) AS other_milli
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Normalized mutual information between the LPA and Louvain
    // partitions — the standard agreement metric for clustering
    // comparisons: MI and entropies as integer sums of per-cell
    // micro-quantized ln terms (each term ONE double division of exact
    // integers — the engines' shared discipline), NMI = MI/√(Hx·Hy) in
    // milli. Joint counts are one (label, label) aggregate; everything
    // after is label-universe-sized metadata.
    Q("graph_partition_nmi", "GRAPH",
      (s, d) => {
        // ONE symmetrize over ONE backbone evaluation (r15 optimization):
        // both community algorithms consume the identical sym(a, b, w)
        // frame, so building it twice paid the transition-lag + backbone
        // aggregate + symmetrize shuffle twice for bit-identical inputs.
        // The two detections then run CONCURRENTLY (guide §2.6): their
        // per-round jobs are frontier-sized and latency-bound, so
        // overlapping the two independent iteration chains hides one
        // chain's job latency behind the other's (unlike CPU-saturated
        // stages, where overlap buys nothing — see the rejected ingest
        // experiment in OPTIMIZATION_r15.md). Same frames either way.
        val sym = graft.operators.Graph.symmetrizeWeighted(
          backboneEdges(s, d), "src", "dst", Some("w"))
        // dedicated 2-thread pool (r15 ADVICE): blocking Spark actions must
        // not borrow the global fork-join pool, and BOTH futures are
        // awaited before any rethrow so a failing chain never leaves the
        // other running detached with leaked checkpoint blocks
        import scala.concurrent.{Await, ExecutionContext, Future}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val (x, y) = try {
          val fx = Future(graft.operators.Graph.labelPropagationSym(sym, rounds = 2)
            .select(col("node"), col("label").as("lx")))
          val fy = Future(graft.operators.Graph.louvainMoveSym(sym, rounds = 2)
            .select(col("node"), col("label").as("ly")))
          val inf = scala.concurrent.duration.Duration.Inf
          // Await.ready (not .result) on BOTH first: completion without
          // rethrow, so a failure in one chain still waits out the other
          val rx = Await.ready(fx, inf).value.get
          val ry = Await.ready(fy, inf).value.get
          (rx.get, ry.get)
        } finally pool.shutdown()
        val j = Pin(x.join(y, "node"))
        val nij = j.groupBy(col("lx"), col("ly")).agg(count(lit(1)).as("nij"))
        val ni = j.groupBy(col("lx")).agg(count(lit(1)).as("ni"))
        val nj = j.groupBy(col("ly")).agg(count(lit(1)).as("nj"))
        val n1 = j.agg(count(lit(1)).as("n"))
        val mi = nij.join(ni, "lx").join(nj, "ly").crossJoin(broadcast(n1))
          .select((col("nij") * round(log(
            expr("cast(n * nij as double) / cast(ni * nj as double)"))
            * 1000000).cast("long")).as("t"))
          .agg(sum(col("t")).as("mi_u"))
        def ent(m: org.apache.spark.sql.DataFrame, c: String) =
          m.crossJoin(broadcast(n1))
            .select((col(c) * round(-log(
              expr(s"cast($c as double) / cast(n as double)"))
              * 1000000).cast("long")).as("t"))
            .agg(sum(col("t")))
        mi.crossJoin(broadcast(ent(ni, "ni").select(col("sum(t)").as("hx_u"))))
          .crossJoin(broadcast(ent(nj, "nj").select(col("sum(t)").as("hy_u"))))
          .crossJoin(broadcast(n1))
          .select(col("n").as("n_nodes"), col("mi_u"), col("hx_u"), col("hy_u"),
            expr("""CASE WHEN hx_u = 0 OR hy_u = 0 THEN 0L
                   |ELSE mi_u * 1000 div cast(floor(sqrt(cast(hx_u as double) * cast(hy_u as double))) as bigint)
                   |END""".stripMargin).as("nmi_milli"))
      },
      Some(materializeCtes(
        s"""$lpaLouvainJointCte
           |SELECT CAST(n AS BIGINT) AS n_nodes, CAST(mi_u AS BIGINT) AS mi_u,
           |  CAST(hx_u AS BIGINT) AS hx_u, CAST(hy_u AS BIGINT) AS hy_u,
           |  CAST(CASE WHEN hx_u = 0 OR hy_u = 0 THEN 0
           |       ELSE mi_u * 1000 // CAST(floor(sqrt(CAST(hx_u AS DOUBLE) * hy_u)) AS BIGINT)
           |       END AS BIGINT) AS nmi_milli
           |FROM mi, hx, hy, nn""".stripMargin))),

    // Per-community conductance over the SAME 2-round LPA labels as
    // graph_modularity: cut / min(vol, total - vol) — modularity says
    // the partition beats chance, conductance says WHICH communities
    // leak. Cut edges charged to both sides via a 2-element explode.
    Q("graph_conductance", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val labels = lpaLabels(ew)
        graft.operators.Graph.conductance(ew, labels)
          .select(col("label"), col("vol"), col("cut_edges"), col("phi_milli"))
          .orderBy("label")
      },
      Some(s"""$lpaLabelsCte,
              |$undDegCte,
              |lb AS (SELECT lu.label AS la, lv.label AS lv2 FROM und
              |       JOIN l2 lu ON lu.node = und.u JOIN l2 lv ON lv.node = und.v),
              |cut AS (SELECT label, count(*) AS cut_edges FROM (
              |          SELECT la AS label FROM lb WHERE la <> lv2
              |          UNION ALL SELECT lv2 FROM lb WHERE la <> lv2)
              |        GROUP BY 1),
              |vol AS (SELECT l2.label, sum(dg.deg) AS vol
              |        FROM dg JOIN l2 ON l2.node = dg.node GROUP BY 1),
              |m2 AS (SELECT 2 * count(*) AS vt FROM und)
              |SELECT label, CAST(vol AS BIGINT) AS vol,
              |  CAST(coalesce(cut_edges, 0) AS BIGINT) AS cut_edges,
              |  CAST(CASE WHEN least(vol, vt - vol) = 0 THEN 0
              |       ELSE coalesce(cut_edges, 0) * 1000 // least(vol, vt - vol)
              |       END AS BIGINT) AS phi_milli
              |FROM vol LEFT JOIN cut USING (label), m2
              |ORDER BY label""".stripMargin)),

    // Modularity audit of the LPA partition (Newman & Girvan 2004): the
    // exact integer fraction Q = Σ_c(4·m·e_c − d_c²) / 4m² over the simple
    // undirected backbone, with the SAME 2-round LPA labels as
    // graph_lpa_communities — "did label propagation find real structure,
    // or chance?" as a 1-row metadata answer. Two label joins + two
    // label-keyed map-side aggregates + a 1-row reduce; products ride
    // DECIMAL(38,0) so billion-edge graphs never wrap Long.
    // q_num/q_den are unbounded integers — emitted as decimal STRINGS on
    // both engines (same representation-proofing as graph_hits); the
    // bounded audit columns and the milli read-out stay BIGINT.
    Q("graph_modularity", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val labels = lpaLabels(ew)
        graft.operators.Graph.modularity(ew, labels)
          .select(col("m"), col("n_comm"), col("sum_e_in"),
            col("q_num").cast("string").as("q_num"),
            col("q_den").cast("string").as("q_den"),
            col("q_milli"))
      },
      Some(s"$lpaLabelsCte,\n${modularitySql("l2")}")),

    // Modularity-OPTIMIZING communities (the Louvain local-move phase,
    // Blondel et al. 2008, synchronous fixed-round distributed form):
    // each round every node joins the neighboring community with the
    // best exact-integer modularity gain 2m·k_in − k·Σtot' (ties to the
    // smallest label), all moves applied simultaneously — the
    // GraphSense-style entity-clustering step LPA's weight-majority vote
    // approximates. Per round: one label⋈edges equi-join, one
    // (node, community) map-side-combined aggregate, |C|-bounded totals,
    // argmax via max-of-struct; gains ride DECIMAL(38,0) so 100 TB-scale
    // 2m·k_in (~1e27) never wraps.
    Q("graph_louvain", "GRAPH",
      (s, d) => graft.operators.Graph.louvainMove(
          backboneEdges(s, d), rounds = 2, weightCol = Some("w"))
        .orderBy("node"),
      Some(s"""$louvainLabelsCte
              |SELECT node, CAST(label AS BIGINT) AS label FROM g2
              |ORDER BY node""".stripMargin)),

    // Modularity audit of the LOUVAIN partition — same exact-integer
    // Newman Q as graph_modularity but over the modularity-optimizing
    // labels, so the pair of 1-row answers directly compares the two
    // community methods on identical topology (Louvain's objective IS
    // this number; it should not lose to LPA's).
    Q("graph_louvain_modularity", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val labels = graft.operators.Graph.louvainMove(
          ew, rounds = 2, weightCol = Some("w"))
        graft.operators.Graph.modularity(ew, labels)
          .select(col("m"), col("n_comm"), col("sum_e_in"),
            col("q_num"), col("q_den"), col("q_milli"))
      },
      // materializeCtes: g2 (the 2-round Louvain chain) is referenced 3×
      // below (ein ×2, dcm) — un-materialized, DuckDB re-inlines the
      // whole chain per reference (the NMI lesson; this oracle ran 154 s
      // at sf1 and was the board's only timeout under load)
      Some(materializeCtes(s"$louvainLabelsCte,\n${modularitySql("g2")}"))),

    // Pivot-sampled harmonic centrality (Boldi–Vigna 2014 axioms;
    // Eppstein–Wang sampling): Σ 1e6 div d(p,v) over the 4 highest-degree
    // pivots within a 3-hop horizon — the closeness-family ranking that
    // stays defined on disconnected graphs. Level-synchronous BFS, one
    // frontier⋈edges equi-join + one (pivot,node) min-aggregate per hop,
    // |pivots|·|V|-bounded state; the oracle unrolls the same hops.
    Q("graph_harmonic", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val pivots = degreePivots(ew)
        graft.operators.Graph.harmonicCentrality(ew, pivots, hops = 3)
          .orderBy("node")
      },
      Some {
        def bfs(i: Int) =
          s"""d$i AS (SELECT p, v, min(d) AS d FROM (
             |    SELECT p, v, d FROM d${i - 1}
             |    UNION ALL
             |    SELECT t.p, a.b AS v, t.d + 1 FROM d${i - 1} t JOIN adj a ON a.a = t.v)
             |  GROUP BY 1, 2)""".stripMargin
        s"""$degreePivotsCte,
           |d0 AS (SELECT node AS p, node AS v, CAST(0 AS BIGINT) AS d FROM piv),
           |${(1 to 3).map(bfs).mkString(",\n")}
           |SELECT v AS node, CAST(sum(1000000 // d) AS BIGINT) AS harmonic_micro,
           |       CAST(count(*) AS BIGINT) AS n_reached
           |FROM d3 WHERE d > 0 GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Pivot-sampled betweenness (Brandes 2001 dependency accumulation;
    // Brandes–Pich 2007 k-pivot estimate, 3-hop horizon): forward BFS
    // counts shortest paths σ exactly; the backward pass accumulates
    // δ(v) = Σ (σv/σw)(1e6 + δw) in micro fixed-point — the one division
    // is a truncating div of non-negative integers, replayed level by
    // level in the oracle. The "how much flow crosses this address"
    // forensics ranking.
    Q("graph_betweenness", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val pivots = degreePivots(ew)
        graft.operators.Graph.betweennessPivot(ew, pivots, hops = 3)
          .orderBy("node")
      },
      Some {
        def fwd(i: Int) =
          s"""l$i AS (SELECT c.p, c.v, c.sigma FROM (
             |    SELECT t.p, a.b AS v, sum(t.sigma) AS sigma
             |    FROM l${i - 1} t JOIN adj a ON a.a = t.v GROUP BY 1, 2) c
             |  WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} x
             |                    WHERE x.p = c.p AND x.v = c.v)),
             |s$i AS (SELECT p, v FROM s${i - 1} UNION ALL SELECT p, v FROM l$i)""".stripMargin
        // backward level h: nodes of l_h pick up (σv·(1e6+δw)) // σw from
        // their level-(h+1) neighbors w
        def bwd(h: Int, wSrc: String) =
          s"""dl$h AS (SELECT c.p, c.v, coalesce(g.dm, 0) AS dm FROM l$h c
             |  LEFT JOIN (
             |    SELECT w.p, cur.v, sum((cur.sigma * (1000000 + w.dm)) // w.sigma) AS dm
             |    FROM $wSrc w
             |    JOIN adj a ON a.a = w.v
             |    JOIN l$h cur ON cur.p = w.p AND cur.v = a.b
             |    GROUP BY 1, 2) g ON g.p = c.p AND g.v = c.v)""".stripMargin
        s"""$degreePivotsCte,
           |l0 AS (SELECT node AS p, node AS v, CAST(1 AS BIGINT) AS sigma FROM piv),
           |s0 AS (SELECT p, v FROM l0),
           |${(1 to 3).map(fwd).mkString(",\n")},
           |${bwd(2, "(SELECT p, v, sigma, CAST(0 AS BIGINT) AS dm FROM l3)")},
           |${bwd(1, "(SELECT l2.p, l2.v, l2.sigma, dl2.dm FROM l2 JOIN dl2 ON dl2.p = l2.p AND dl2.v = l2.v)")}
           |SELECT v AS node, CAST(sum(dm) AS BIGINT) AS bc_micro FROM (
           |  SELECT p, v, dm FROM dl2 UNION ALL SELECT p, v, dm FROM dl1)
           |WHERE v <> p GROUP BY 1 HAVING sum(dm) > 0 ORDER BY 1""".stripMargin
      }),

    // Time-respecting two-hop flow (temporal motif): A→B at t1, B→C at
    // t2 with t1 ≤ t2 ≤ t1 + 2h — the "value reached C through B within
    // the window" trace that plain two-hop over-counts by pairing hops
    // in the wrong order (here: 11.5k ordered paths vs 10× that
    // unordered). The time predicate rides the mid-node equi-join as a
    // residual, so the exchange still keys on mid and Catalyst never
    // sees a cartesian.
    Q("graph_temporal_two_hop", "GRAPH",
      (s, d) => graft.operators.Graph.temporalTwoHop(
          transitionEdgesTs(s, d), maxGap = "2 hours")
        .orderBy("node"),
      Some(s"""$transitionEdgesTsCte,
              |p AS (SELECT a.src AS s0, a.dst AS mid, b.dst AS node, b.t AS t2
              |      FROM et a JOIN et b ON a.dst = b.src
              |      WHERE b.t >= a.t AND b.t <= a.t + INTERVAL 2 HOUR)
              |SELECT node, CAST(count(*) AS BIGINT) AS n_paths,
              |       CAST(count(DISTINCT s0) AS BIGINT) AS n_sources,
              |       CAST(count(DISTINCT mid) AS BIGINT) AS n_mids,
              |       min(t2) AS first_complete
              |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Edge reciprocity (who sends BACK): the fraction of backbone edges
    // whose reverse edge also exists — a one-semi-join graph statistic
    // that separates mutual-exchange topologies from broadcast trees.
    // Integer milli ratio, truncating division.
    Q("graph_reciprocity", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
          .select(col("src"), col("dst"))
        val rec = ew.join(
          ew.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        ew.agg(count(lit(1)).as("n_edges"))
          .crossJoin(rec.agg(count(lit(1)).as("n_reciprocal")))
          .select(col("n_edges"), col("n_reciprocal"),
            expr("(1000 * n_reciprocal) div n_edges").as("reciprocity_milli"))
      },
      Some(s"""$backboneEdgesCte,
              |r AS (SELECT count(*) AS n_reciprocal FROM ew a
              |      WHERE EXISTS (SELECT 1 FROM ew b
              |                    WHERE b.src = a.dst AND b.dst = a.src)),
              |t AS (SELECT count(*) AS n_edges FROM ew)
              |SELECT CAST(t.n_edges AS BIGINT) AS n_edges,
              |       CAST(r.n_reciprocal AS BIGINT) AS n_reciprocal,
              |       CAST((1000 * r.n_reciprocal) // t.n_edges AS BIGINT)
              |         AS reciprocity_milli
              |FROM t, r""".stripMargin)),

    // Top behavioral trigram paths: the most common 3-step event
    // sequences per user with every consecutive gap within 30 minutes —
    // the Markov-path census of session analytics. One exchange on
    // user_id feeds all three lead() columns; the trigram table
    // aggregates map-side.
    Q("event_top_paths", "STREAM",
      (s, d) => {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("e1", lead(col("event_type"), 1).over(byUser))
          .withColumn("e2", lead(col("event_type"), 2).over(byUser))
          .withColumn("t1", lead(col("ts"), 1).over(byUser))
          .withColumn("t2", lead(col("ts"), 2).over(byUser))
          .filter(col("e2").isNotNull
            && col("t1") <= col("ts") + expr("INTERVAL 30 MINUTES")
            && col("t2") <= col("t1") + expr("INTERVAL 30 MINUTES"))
          .select(concat_ws(">", col("event_type"), col("e1"), col("e2")).as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path")).limit(20)
      },
      Some("""WITH o AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
             |         event_id FROM events),
             |l AS (SELECT event_type,
             |        lead(event_type, 1) OVER w AS e1,
             |        lead(event_type, 2) OVER w AS e2,
             |        t,
             |        lead(t, 1) OVER w AS t1,
             |        lead(t, 2) OVER w AS t2
             |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
             |p AS (SELECT event_type || '>' || e1 || '>' || e2 AS path FROM l
             |      WHERE e2 IS NOT NULL AND t1 <= t + INTERVAL 30 MINUTE
             |        AND t2 <= t1 + INTERVAL 30 MINUTE)
             |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
             |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // Entity-relations rollup (graphsense's cluster_relations): ENTITIES
    // form by weakly-connecting the STRONG ties (w >= 4 repeat edges —
    // the stand-in for a multi-input clustering heuristic; unclustered
    // nodes stay their own entity), then ALL flows (the w >= 2 backbone)
    // roll up to entity pairs. Unlike coarsening by the same edge set,
    // inter-entity edges survive — the weak ties BETWEEN strong clusters
    // are exactly what flow tracing reads at the entity level. The
    // oracle recomputes the entity map from the transitive closure of
    // the strong graph, so a clustering bug upstream of the rollup
    // cannot hide.
    Q("graph_entity_relations", "GRAPH",
      (s, d) => {
        val ew = Pin(backboneEdges(s, d))
        val sl = graft.operators.ConnectedComponents.run(
          ew.filter(col("w") >= 4), "src", "dst")
        val nodes = ew.select(col("src").as("node"))
          .union(ew.select(col("dst").as("node"))).distinct()
        val labels = nodes.join(sl, Seq("node"), "left")
          .select(col("node"), coalesce(col("component"), col("node")).as("label"))
        graft.operators.Graph.coarsen(ew, labels, weightCol = Some("w"))
          .orderBy("src_comm", "dst_comm")
      },
      Some(s"""${backboneEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |es AS (SELECT src AS a, dst AS b FROM ew WHERE w >= 4
              |       UNION SELECT dst, src FROM ew WHERE w >= 4),
              |reach(a, b) AS (SELECT a, b FROM es
              |                UNION
              |                SELECT r.a, e2.b FROM reach r JOIN es e2 ON r.b = e2.a),
              |sl AS (SELECT n AS node, CAST(min(m) AS BIGINT) AS label FROM (
              |         SELECT a AS n, a AS m FROM es UNION ALL SELECT a, b FROM reach)
              |       GROUP BY n),
              |nd AS (SELECT DISTINCT node FROM
              |         (SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)),
              |lab AS (SELECT nd.node, coalesce(sl.label, nd.node) AS label
              |        FROM nd LEFT JOIN sl ON sl.node = nd.node)
              |SELECT ls.label AS src_comm, ld.label AS dst_comm,
              |       CAST(count(*) AS BIGINT) AS n_edges,
              |       CAST(sum(ew.w) AS BIGINT) AS w_total,
              |       ls.label = ld.label AS intra
              |FROM ew JOIN lab ls ON ew.src = ls.node
              |        JOIN lab ld ON ew.dst = ld.node
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Cohort retention over the event log: users grouped by first-seen
    // week, activity counted per (cohort, week offset) — the standard
    // engagement matrix. One window to stamp each user's cohort (keyed
    // on user_id, high cardinality) + one distinct aggregate; weeks are
    // Monday-truncated identically in both engines.
    Q("event_cohort_retention", "STREAM",
      (s, d) => {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
        Tables(s, d, "events")
          .select(col("user_id"), col("ts"))
          .withColumn("cohort_week",
            date_trunc("week", min(col("ts")).over(byUser)))
          .withColumn("week_offset", expr(
            "CAST(datediff(date_trunc('week', ts), cohort_week) div 7 AS INT)"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH f AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
             |         min(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id) AS t0
             |       FROM events),
             |w AS (SELECT user_id, CAST(date_trunc('week', t) AS TIMESTAMP) AS wk,
             |        CAST(date_trunc('week', t0) AS TIMESTAMP) AS cw FROM f)
             |SELECT cw AS cohort_week,
             |       CAST(date_diff('day', CAST(cw AS DATE), CAST(wk AS DATE)) // 7 AS INTEGER) AS week_offset,
             |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Strongly-connected components (mutual-flow entities): where
    // graph_components asks "linked at all?", this asks "does value
    // provably CYCLE between them?" — the coloring algorithm (trim +
    // forward max-coloring to fixpoint + backward membership BFS),
    // convergence-proven, partial labelings refused. The oracle is the
    // DIRECTED transitive closure's mutual-reachability relation — pure
    // semantics, no algorithm replay — so any propagation bug
    // hash-mismatches regardless of which side caused it.
    Q("graph_scc", "GRAPH",
      (s, d) => graft.operators.Graph.scc(backboneEdges(s, d))
        .orderBy("node"),
      Some(s"""${backboneEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
              |e AS (SELECT DISTINCT src, dst FROM ew WHERE src <> dst),
              |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
              |reach(a, b) AS (SELECT src, dst FROM e
              |                UNION
              |                SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src),
              |mut AS (SELECT r1.a AS v, r1.b AS m FROM reach r1
              |        JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
              |SELECT node, CAST(max(m) AS BIGINT) AS scc FROM (
              |  SELECT node, node AS m FROM n UNION ALL SELECT v, m FROM mut)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Personalized PageRank (seeded flow ranking): pagerank's power
    // iteration with the teleport mass restarted at the mod-37 seed set —
    // "which addresses does seed money KEEP flowing through", damping
    // included. The rank vector stays sparse (seed forward neighborhood
    // only); integer micro-units, truncating division; the oracle unrolls
    // the same 3 rounds.
    Q("graph_ppr", "GRAPH",
      (s, d) => {
        val ew = transitionEdges(s, d)
        graft.operators.Graph.personalizedPagerank(ew, mod37Seeds(ew), iters = 3)
          .orderBy("node")
      },
      Some {
        def round(i: Int) =
          s"""${pushSql(i, s"r${i - 1}", "node", "rm")},
             |r$i AS (SELECT node, CAST(sum(v) AS BIGINT) AS rm FROM (
             |         SELECT node, 150000 AS v FROM sd
             |         UNION ALL SELECT dst, (m * 850) // 1000 FROM s$i) GROUP BY 1)""".stripMargin
        s"""$transitionPushCte,
           |$mod37SeedsCte,
           |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rm FROM sd),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT node, rm AS rank_micro FROM r3 WHERE rm > 0 ORDER BY 1""".stripMargin
      }),

    // Sequence packing: concat-and-chunk placement (the pretraining data
    // layout) — per-shard running token sums, 2048-token chunks. Sharded by
    // id hash so the cumulative sum parallelizes; every placement is a pure
    // function of (id, token count).
    Q("pack_sequences", "LLM",
      (s, d) => Sampling.packSequences(
          Tables(s, d, "documents")
            .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tok")),
          "doc_id", "n_tok", seqLen = 2048, shards = 8)
        .select(col("doc_id"), col("shard"), col("tokens_before"),
          col("pack_idx"), col("pack_offset"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id,
             |         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
             |         ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard
             |       FROM documents),
             |c AS (SELECT doc_id, shard,
             |        CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
             |      FROM t)
             |SELECT doc_id, shard, tokens_before,
             |       tokens_before // 2048 AS pack_idx,
             |       tokens_before % 2048 AS pack_offset
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Deterministic hash split: reproducible train/val/test partitioning by
    // id hash — content- and partitioning-independent, so the same doc
    // lands in the same split on every run/cluster (rand()-based sampling
    // cannot promise that; this is the pattern training pipelines need).
    Q("sample_hash_split", "LLM",
      (s, d) => Tables(s, d, "documents")
        .withColumn("bucket", md5Long(col("doc_id").cast("string")) % 100)
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy("split"),
      Some(s"""WITH b AS (SELECT doc_id,
             |         ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
             |       FROM documents)
             |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             |       count(*) AS n, min(doc_id) AS min_id, CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Text normalization (cleaning): lowercase / strip punctuation /
    // collapse whitespace — applied over a deliberately dirtied corpus so
    // the regexes do real work.
    Q("text_normalize", "LLM",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.normalizeText(
            concat(lit("  <P> "), upper(col("text")), lit("!! \t"))).as("clean"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  ${normalizeTextSql("'  <P> ' || upper(text) || '!! ' || chr(9)")} AS clean
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Boilerplate chunk removal (CCNet-style line dedup adapted to this
    // corpus: no newlines, so the unit is a fixed 8-word chunk). Any chunk
    // string appearing in >=2 distinct documents is dropped everywhere and
    // each document is reassembled from its surviving chunks in order.
    // Scale shape: chunking is a pure column expression (no explode until
    // the chunk rows are needed); the frequency aggregate and anti-join key
    // on the 60-bit chunk hash (fixed-width shuffle rows, not 8-word
    // strings); the only string-carrying shuffle is the final per-doc
    // reassembly, which any survivor-producing dedup pays. Documents whose
    // every chunk is boilerplate drop out entirely — same as the oracle.
    Q("text_chunk_dedup", "LLM",
      (s, d) => Dedup.chunkDedup(Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
             |c0 AS (SELECT doc_id,
             |         list_transform(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
             |           i -> array_to_string(ws[(i*8+1):(i*8+8)], ' ')) AS chunks
             |       FROM t),
             |c AS (SELECT doc_id, unnest(range(0, len(chunks))) AS cpos,
             |             unnest(chunks) AS ctext FROM c0),
             |h AS (SELECT doc_id, cpos, ctext,
             |             ${md5LongSql("ctext")} AS ch FROM c),
             |dup AS (SELECT ch FROM h GROUP BY ch HAVING count(DISTINCT doc_id) >= 2)
             |SELECT doc_id, count(*) AS n_kept,
             |       string_agg(ctext, ' ' ORDER BY cpos) AS cleaned
             |FROM h WHERE ch NOT IN (SELECT ch FROM dup)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Leakage-safe train/val/test split: the split is a hash of the
    // near-duplicate COMPONENT (not the document), so a near-dup pair can
    // never straddle train and test — the guarantee naive hash splits
    // violate exactly where it matters most. Composes the engine's own
    // banding -> Jaccard-verify -> connected-components chain; singleton
    // docs fall back to their own id as the group.
    Q("sample_group_split", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val comp = graft.operators.ConnectedComponents.run(
          Dedup.nearDupEdges(docs, "doc_id", "text"), "id_a", "id_b")
        Sampling.groupAwareSplit(docs, "doc_id", comp)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("grp")).as("n_groups"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("split")
      },
      Some(s"""$nearDupCompCte,
              |g AS (SELECT d2.doc_id, COALESCE(c2.component, d2.doc_id) AS grp
              |      FROM documents d2 LEFT JOIN comp c2 ON d2.doc_id = c2.node),
              |bk AS (SELECT doc_id, grp,
              |         ${md5LongSql("CAST(grp AS VARCHAR)")} % 100 AS bucket
              |       FROM g)
              |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
              |       count(*) AS n, CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
              |       CAST(sum(doc_id) AS BIGINT) AS id_sum
              |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Stream-stream interval join (batch-checkable form): clicks within the
    // 30 minutes before each purchase, per user. The same function runs as
    // a watermarked stream-stream join (StreamingSpec).
    Q("stream_interval_join", "STREAM",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("rts"),
            col("event_id").as("click_id"))
        StreamingOps.intervalJoin(purchases, clicks)
          .groupBy(col("event_id"), col("user_id"))
          .agg(count(lit(1)).as("n_clicks_30m"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, count(*) AS n_clicks_30m
             |FROM events p JOIN events c
             |  ON c.user_id = p.user_id
             | AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
             |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // Streaming shape 2: sessionization (gaps-and-islands; streaming-native
    // variant uses flatMapGroupsWithState, tested in specs).
    Q("stream_sessionize", "STREAM",
      (s, d) => StreamingOps.sessionizeBatch(Tables(s, d, "events"), gapMinutes = 10)
        .orderBy("user_id", "session_seq"),
      Some("""WITH dd AS (SELECT user_id, event_id, ts,
             |         CASE WHEN lag(ts) OVER w IS NULL OR ts > lag(ts) OVER w + INTERVAL 10 MINUTE
             |              THEN 1 ELSE 0 END AS brk
             |       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |ss AS (SELECT user_id, ts,
             |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
             |       FROM dd)
             |SELECT user_id, session_seq, CAST(min(ts) AS TIMESTAMP) AS session_start,
             |       CAST(max(ts) AS TIMESTAMP) AS session_end, count(*) AS n_events
             |FROM ss GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Global-percentile quality gate: keep docs at/above the corpus-wide
    // exact median stopword density — one aggregate, 1-row broadcast back.
    Q("text_quality_gate", "LLM",
      (s, d) => TextAnalysis.globalQualityGate(Tables(s, d, "documents"),
        "doc_id", "text", pct = 0.5).orderBy("doc_id"),
      Some("""WITH m AS (SELECT doc_id,
             |         CAST(len(str_split(text, ' ')) AS INTEGER) AS n_tokens,
             |         (CAST(len(list_filter(str_split(text, ' '),
             |             t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) * 1000)
             |           // len(str_split(text, ' ')) AS swr_milli
             |       FROM documents),
             |thr AS (SELECT quantile_cont(swr_milli, 0.5) AS p FROM m)
             |SELECT doc_id, n_tokens, CAST(swr_milli AS BIGINT) AS swr_milli
             |FROM m, thr WHERE swr_milli >= p ORDER BY doc_id""".stripMargin)),

    // IVF index balance audit: per-cell population, share, and balance
    // factor (1000 = perfectly even) — the index-quality monitor that
    // decides when to retrain centroids.
    Q("ann_ivf_balance", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val cells = Similarity.ivfAssign(e.filter(col("vec_id") >= 16),
            e.filter(col("vec_id") < 16))
          .groupBy("centroid_id").agg(count(lit(1)).as("n_members"))
        cells.crossJoin(broadcast(cells.agg(
            sum(col("n_members")).as("__tot"), count(lit(1)).as("__nc"))))
          .select(col("centroid_id"), col("n_members"),
            expr("(n_members * 1000000) div __tot").as("share_micro"),
            expr("(n_members * __nc * 1000) div __tot").as("balance_milli"))
          .orderBy("centroid_id")
      },
      Some {
        s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |a AS (SELECT vec_id, cid FROM (
           |        SELECT v.vec_id, c.cid,
           |               row_number() OVER (PARTITION BY v.vec_id
           |                                  ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
           |        FROM embeddings v, cent c WHERE v.vec_id >= 16) WHERE rn = 1),
           |cells AS (SELECT cid AS centroid_id, count(*) AS n_members FROM a GROUP BY cid),
           |tot AS (SELECT sum(n_members) AS t, count(*) AS nc FROM cells)
           |SELECT centroid_id, n_members,
           |       CAST((n_members * 1000000) // t AS BIGINT) AS share_micro,
           |       CAST((n_members * nc * 1000) // t AS BIGINT) AS balance_milli
           |FROM cells, tot ORDER BY centroid_id""".stripMargin
      }),

    // PQ asymmetric-distance search: candidates scored from codes + a
    // broadcast lookup table — the compressed search path over ann_pq_codes.
    Q("ann_pq_search", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.pqSearch(
          e.filter(col("vec_id") >= 21),
          e.filter(col("vec_id").between(16, 20)),
          e.filter(col("vec_id") < 16), dim = 64, k = 5)
          .orderBy("query_id", "rnk")
      },
      Some {
        s"""WITH $pqCodesCte,
           |q AS (SELECT vec_id AS query_id, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS qs
           |      FROM embeddings, sub s WHERE vec_id BETWEEN 16 AND 20),
           |lut AS (SELECT q.query_id, q.subspace, c.code,
           |          CAST(round(${dotSql("q.qs", "c.cs", 8)} * 1000000) AS BIGINT) AS l
           |        FROM q JOIN c ON q.subspace = c.subspace),
           |sc AS (SELECT lut.query_id, codes.neighbor_id, CAST(sum(lut.l) AS BIGINT) AS score_micro
           |       FROM codes JOIN lut ON codes.subspace = lut.subspace AND codes.code = lut.code
           |       GROUP BY 1, 2),
           |rk AS (SELECT query_id, neighbor_id, score_micro,
           |         CAST(row_number() OVER (PARTITION BY query_id
           |                ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
           |       FROM sc)
           |SELECT query_id, neighbor_id, rnk, score_micro FROM rk
           |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
      }),

    // PQ quality audit: recall@5 of the compressed ADC search against the
    // exact brute-force ground truth — the evaluation that sizes m and the
    // codebook before trusting codes at corpus scale.
    Q("ann_pq_recall", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val cand = e.filter(col("vec_id") >= 21)
        val qs = e.filter(col("vec_id").between(16, 20))
        val bf = Similarity.bruteForceTopK(cand, qs, 5)
          .select(col("query_id"), col("neighbor_id"))
        val pq = Similarity.pqSearch(cand, qs, e.filter(col("vec_id") < 16),
            dim = 64, k = 5)
          .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
        bf.join(pq, Seq("query_id", "neighbor_id"), "left")
          .groupBy(col("query_id")).agg(count(col("__hit")).as("n_hit"))
          .select(col("query_id"), col("n_hit"),
            (col("n_hit") * lit(200000L)).as("recall_micro"))
          .orderBy("query_id")
      },
      Some {
        s"""WITH q64 AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id BETWEEN 16 AND 20),
           |c64 AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id >= 21),
           |bf AS (SELECT query_id, neighbor_id FROM (
           |         SELECT query_id, neighbor_id,
           |                row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, neighbor_id) AS rnk
           |         FROM (SELECT q64.query_id, c64.neighbor_id,
           |                      CAST(round(list_sum(list_transform(range(1, 65), i -> CAST(q64.qe[i] AS DOUBLE) * CAST(c64.ce[i] AS DOUBLE))) * 1000000) AS BIGINT) AS score_micro
           |               FROM q64, c64)) WHERE rnk <= 5),
           |$pqCodesCte,
           |qp AS (SELECT vec_id AS query_id, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS qs
           |       FROM embeddings, sub s WHERE vec_id BETWEEN 16 AND 20),
           |lut AS (SELECT qp.query_id, qp.subspace, c.code,
           |          CAST(round(${dotSql("qp.qs", "c.cs", 8)} * 1000000) AS BIGINT) AS l
           |        FROM qp JOIN c ON qp.subspace = c.subspace),
           |psc AS (SELECT lut.query_id, codes.neighbor_id, CAST(sum(lut.l) AS BIGINT) AS score_micro
           |        FROM codes JOIN lut ON codes.subspace = lut.subspace AND codes.code = lut.code
           |        GROUP BY 1, 2),
           |pq AS (SELECT query_id, neighbor_id FROM (
           |         SELECT query_id, neighbor_id,
           |                row_number() OVER (PARTITION BY query_id
           |                  ORDER BY score_micro DESC, neighbor_id) AS rnk
           |         FROM psc) WHERE rnk <= 5)
           |SELECT bf.query_id, count(pq.neighbor_id) AS n_hit,
           |       CAST(count(pq.neighbor_id) * 200000 AS BIGINT) AS recall_micro
           |FROM bf LEFT JOIN pq
           |  ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // IVF-PQ combined search: queries probe their nprobe=2 nearest IVF
    // cells, candidates in probed cells are scored by ADC from their PQ
    // codes alone — IVF bounds WHICH candidates are touched, PQ bounds
    // WHAT is read per candidate (the FAISS-style 100 TB serving path).
    // Index build is one corpus scan with zero shuffles (fold-based cell
    // + code assignment against broadcast codebooks).
    Q("ann_ivfpq_search", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.ivfPqSearch(
          e.filter(col("vec_id") >= 21),
          e.filter(col("vec_id").between(16, 20)),
          e.filter(col("vec_id") < 8),
          e.filter(col("vec_id") < 16), dim = 64, k = 5, nprobe = 2)
          .orderBy("query_id", "rnk")
      },
      Some {
        s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
           |ca AS (SELECT vec_id, cid FROM (
           |         SELECT v.vec_id, c.cid,
           |                row_number() OVER (PARTITION BY v.vec_id
           |                                   ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
           |         FROM embeddings v, cent c WHERE v.vec_id >= 21) WHERE rn = 1),
           |qa AS (SELECT vec_id, cid FROM (
           |         SELECT v.vec_id, c.cid,
           |                row_number() OVER (PARTITION BY v.vec_id
           |                                   ORDER BY ${dotSql("v.embedding", "c.cv")} DESC, c.cid) AS rn
           |         FROM embeddings v, cent c WHERE v.vec_id BETWEEN 16 AND 20) WHERE rn <= 2),
           |$pqCodesCte,
           |q AS (SELECT vec_id AS query_id, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS qs
           |      FROM embeddings, sub s WHERE vec_id BETWEEN 16 AND 20),
           |lut AS (SELECT q.query_id, q.subspace, c.code,
           |          CAST(round(${dotSql("q.qs", "c.cs", 8)} * 1000000) AS BIGINT) AS l
           |        FROM q JOIN c ON q.subspace = c.subspace),
           |sc AS (SELECT qa.vec_id AS query_id, codes.neighbor_id, ca.cid AS centroid_id,
           |              CAST(sum(lut.l) AS BIGINT) AS score_micro
           |       FROM codes
           |       JOIN ca ON codes.neighbor_id = ca.vec_id
           |       JOIN qa ON qa.cid = ca.cid
           |       JOIN lut ON lut.query_id = qa.vec_id
           |              AND lut.subspace = codes.subspace AND lut.code = codes.code
           |       GROUP BY 1, 2, 3),
           |rk AS (SELECT query_id, neighbor_id, centroid_id, score_micro,
           |         CAST(row_number() OVER (PARTITION BY query_id
           |                ORDER BY score_micro DESC, neighbor_id) AS INTEGER) AS rnk
           |       FROM sc)
           |SELECT query_id, neighbor_id, centroid_id, rnk, score_micro FROM rk
           |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
      }),

    // SemDeDup: cluster embeddings by hierarchical (coarse -> fine) centroid
    // assignment, then prune near-identical pairs WITHIN clusters only
    // (keep-lowest-id). k = 16 centroids -> √k = 4 coarse cells.
    Q("dedup_semantic", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Dedup.semanticDedup(e.filter(col("vec_id") >= 16),
          e.filter(col("vec_id") < 16), threshold = 0.3).orderBy("vec_id")
      },
      Some {
        s"""$ivfHierCte,
           |a AS (SELECT vec_id, embedding, cid FROM (
           |        SELECT va.vec_id, va.embedding, fc.cid,
           |               row_number() OVER (PARTITION BY va.vec_id
           |                                  ORDER BY ${dotSql("va.embedding", "fc.cv")} DESC, fc.cid) AS rn
           |        FROM va JOIN fc ON va.gid = fc.gid) WHERE rn = 1),
           |drp AS (SELECT DISTINCT y.vec_id FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
           |        WHERE ${cosineMicroSql(dotSql("x.embedding", "y.embedding"),
                      dotSql("x.embedding", "x.embedding"), dotSql("y.embedding", "y.embedding"))} >= 300000)
           |SELECT a.vec_id, a.cid AS centroid_id, d.vec_id IS NULL AS kept
           |FROM a LEFT JOIN drp d ON a.vec_id = d.vec_id ORDER BY a.vec_id""".stripMargin
      }),

    // Exact-substring span dedup (Lee et al. 2022 at k-token granularity):
    // cross-doc duplicated 5-token windows merged into maximal spans.
    Q("text_dup_spans", "LLM",
      (s, d) => Dedup.duplicateSpans(Tables(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "span_start"),
      Some(s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
             |${dupSpanRunsCte("toks", "t")}
             |SELECT doc_id, min(pos) AS span_start,
             |       CAST(max(pos) + 4 AS INTEGER) AS span_end, count(*) AS n_windows
             |FROM runs GROUP BY doc_id, run_id ORDER BY doc_id, span_start""".stripMargin)),

    // Removal half of exact-substring dedup: rebuild each document without
    // its cross-doc duplicated spans (empty string if fully duplicated).
    Q("text_dup_span_removal", "LLM",
      (s, d) => Dedup.removeDuplicateSpans(Tables(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
             |${dupSpanRunsCte("toks", "t")},
             |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
             |          FROM runs GROUP BY doc_id, run_id),
             |pos AS (SELECT doc_id, i AS pos, t[i+1] AS tok
             |        FROM toks, UNNEST(range(0, len(t))) AS u(i)
             |        WHERE doc_id IN (SELECT doc_id FROM spans)),
             |kept AS (SELECT p.doc_id, p.pos, p.tok FROM pos p
             |         WHERE NOT EXISTS (SELECT 1 FROM spans s
             |                           WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e)),
             |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id),
             |ns AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
             |SELECT d.doc_id, CAST(coalesce(ns.n_spans, 0) AS INTEGER) AS n_spans,
             |       coalesce(a.cleaned, CASE WHEN ns.n_spans IS NULL THEN d.text ELSE '' END) AS cleaned
             |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN ns USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin)),

    // DSIR-style importance weights: hashed-unigram log-likelihood ratio of
    // the English-target distribution vs the rest of the corpus.
    Q("sample_importance", "LLM",
      (s, d) => Sampling.importanceWeights(Tables(s, d, "documents"), "doc_id", "text",
        isTarget = col("lang") === "en").orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, lang = 'en' AS t, unnest(str_split(text, ' ')) AS term
             |              FROM documents),
             |b AS (SELECT doc_id, t,
             |        ${md5LongSql("term")} % 256 AS bucket FROM toks),
             |counts AS (SELECT bucket, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
             |             sum(CASE WHEN t THEN 0 ELSE 1 END) AS cr
             |           FROM b GROUP BY bucket),
             |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM counts),
             |ratio AS (SELECT bucket,
             |            CAST(round(ln((ct + 1.0) / (nt + 256.0)) * 1000000) AS BIGINT)
             |            - CAST(round(ln((cr + 1.0) / (nr + 256.0)) * 1000000) AS BIGINT) AS lr
             |          FROM counts, tot)
             |SELECT doc_id, count(*) AS n_tokens, CAST(sum(lr) AS BIGINT) AS weight_micro,
             |       CAST(CASE WHEN sum(lr) < 0 THEN -((-sum(lr)) // count(*))
             |            ELSE sum(lr) // count(*) END AS BIGINT) AS avg_weight_micro
             |FROM b JOIN ratio USING (bucket) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Product-quantization code assignment: 8 subspaces x 8 dims, nearest
    // codebook entry per subspace by decomposed L2 over broadcast codebook.
    Q("ann_pq_codes", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.pqCodes(e.filter(col("vec_id") >= 16),
          e.filter(col("vec_id") < 16), dim = 64, m = 8)
          .orderBy("vec_id", "subspace")
      },
      Some {
        s"""WITH sub AS (SELECT CAST(s AS BIGINT) AS s FROM (SELECT unnest(range(0, 8)) AS s)),
           |v AS (SELECT vec_id, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS sv
           |      FROM embeddings, sub s WHERE vec_id >= 16),
           |c AS (SELECT vec_id AS code, s.s AS subspace, embedding[(s.s*8+1):(s.s*8+8)] AS cs
           |      FROM embeddings, sub s WHERE vec_id < 16),
           |sc AS (SELECT v.vec_id, v.subspace, c.code,
           |         CAST(round((${dotSql("v.sv", "v.sv", 8)} - 2 * ${dotSql("v.sv", "c.cs", 8)} + ${dotSql("c.cs", "c.cs", 8)}) * 1000000) AS BIGINT) AS d2,
           |         row_number() OVER (PARTITION BY v.vec_id, v.subspace
           |                            ORDER BY CAST(round((${dotSql("v.sv", "v.sv", 8)} - 2 * ${dotSql("v.sv", "c.cs", 8)} + ${dotSql("c.cs", "c.cs", 8)}) * 1000000) AS BIGINT), c.code) AS rn
           |       FROM v JOIN c ON v.subspace = c.subspace)
           |SELECT vec_id, subspace, code, d2 AS dist_micro
           |FROM sc WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin
      }),

    // Residual PQ audit (the IVF+PQ coupling of production ANN: PQ on
    // v − c(v)): per-subspace total quantization error of residual-encoded
    // vs raw-encoded PQ under the same 12-codeword budget — the go/no-go
    // measurement for enabling two-level encoding on a given corpus.
    // On clustered corpora residuals concentrate near the origin and the
    // gain is large and positive; on THIS corpus (unit-normalized
    // near-isotropic vectors, min ‖v−c‖² ≈ 1.7 > ‖v‖² = 1) gain_milli is
    // NEGATIVE — residualization provably cannot pay without coarse
    // structure, and the audit is what tells you so before you pay for it
    // at scale. Both paths are broadcast-argmin folds; the corpus never
    // shuffles.
    Q("ann_pq_residual", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val toD = (c: org.apache.spark.sql.Column) =>
          transform(c, x => x.cast("double"))
        val corpus = e.filter(col("vec_id") >= 16)
          .select(col("vec_id"), toD(col("embedding")).as("embedding"))
        val coarse = e.filter(col("vec_id") < 4)
          .select(col("vec_id"), toD(col("embedding")).as("embedding"))
        val cb = e.filter(col("vec_id") >= 4 && col("vec_id") < 16)
          .select(col("vec_id"), toD(col("embedding")).as("embedding"))
        // each path's codebook is the deterministic 12-entry stand-in drawn
        // from ITS OWN space (as a trained codebook would be): raw PQ gets
        // raw vectors 4..15, residual PQ gets the residuals of 16..27; both
        // paths score the same held-out vectors (id >= 28)
        val raw = Similarity.pqCodes(corpus.filter(col("vec_id") >= 28),
            cb, dim = 64, m = 8)
          .groupBy(col("subspace")).agg(sum(col("dist_micro")).as("raw_dist_micro"))
        val resid = Similarity.residualVectors(corpus, coarse)
          .select(col("vec_id"), col("residual").as("embedding"))
        val cbRes = resid.filter(col("vec_id") < 28)
        val res = Similarity.pqCodes(resid.filter(col("vec_id") >= 28),
            cbRes, dim = 64, m = 8)
          .groupBy(col("subspace")).agg(sum(col("dist_micro")).as("res_dist_micro"))
        raw.join(res, "subspace")
          .withColumn("gain_milli", expr(
            """CASE WHEN raw_dist_micro = 0 THEN 0
              |     WHEN raw_dist_micro < res_dist_micro
              |     THEN -((res_dist_micro - raw_dist_micro) * 1000 div raw_dist_micro)
              |     ELSE (raw_dist_micro - res_dist_micro) * 1000 div raw_dist_micro
              |END""".stripMargin))
          .orderBy("subspace")
      },
      Some {
        def dot(x: String, y: String) =
          s"list_sum(list_transform(range(1, 9), i -> $x[i] * $y[i]))"
        s"""WITH sub AS (SELECT CAST(s AS BIGINT) AS s FROM (SELECT unnest(range(0, 8)) AS s)),
           |corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |           FROM embeddings WHERE vec_id >= 16),
           |coarse AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |           FROM embeddings WHERE vec_id < 4),
           |cb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |       FROM embeddings WHERE vec_id >= 4 AND vec_id < 16),
           |asg AS (SELECT vec_id, centroid_id FROM (
           |          SELECT v.vec_id, c.vec_id AS centroid_id,
           |            row_number() OVER (PARTITION BY v.vec_id
           |              ORDER BY ${dotSql("v.e", "c.e")} DESC, c.vec_id) AS rn
           |          FROM corpus v CROSS JOIN coarse c) WHERE rn = 1),
           |resid AS (SELECT v.vec_id, list_transform(range(1, 65),
           |            i -> v.e[i] - cc.e[i]) AS e
           |          FROM corpus v JOIN asg ON asg.vec_id = v.vec_id
           |               JOIN coarse cc ON cc.vec_id = asg.centroid_id),
           |cs AS (SELECT vec_id AS code, s.s AS subspace, e[(s.s*8+1):(s.s*8+8)] AS cs
           |       FROM cb, sub s),
           |cs_res AS (SELECT vec_id AS code, s.s AS subspace, e[(s.s*8+1):(s.s*8+8)] AS cs
           |           FROM resid, sub s WHERE vec_id < 28),
           |rawv AS (SELECT vec_id, s.s AS subspace, e[(s.s*8+1):(s.s*8+8)] AS sv
           |         FROM corpus, sub s WHERE vec_id >= 28),
           |resv AS (SELECT vec_id, s.s AS subspace, e[(s.s*8+1):(s.s*8+8)] AS sv
           |         FROM resid, sub s WHERE vec_id >= 28),
           |rawd AS (SELECT subspace, sum(d_micro) AS raw_dist_micro FROM (
           |           SELECT v.vec_id, v.subspace,
           |             CAST(round((${dot("v.sv", "v.sv")} - 2 * ${dot("v.sv", "c.cs")} + ${dot("c.cs", "c.cs")}) * 1000000) AS BIGINT) AS d_micro,
           |             row_number() OVER (PARTITION BY v.vec_id, v.subspace
           |               ORDER BY CAST(round((${dot("v.sv", "v.sv")} - 2 * ${dot("v.sv", "c.cs")} + ${dot("c.cs", "c.cs")}) * 1000000) AS BIGINT), c.code) AS rn
           |           FROM rawv v JOIN cs c ON v.subspace = c.subspace)
           |         WHERE rn = 1 GROUP BY 1),
           |resd AS (SELECT subspace, sum(d_micro) AS res_dist_micro FROM (
           |           SELECT v.vec_id, v.subspace,
           |             CAST(round((${dot("v.sv", "v.sv")} - 2 * ${dot("v.sv", "c.cs")} + ${dot("c.cs", "c.cs")}) * 1000000) AS BIGINT) AS d_micro,
           |             row_number() OVER (PARTITION BY v.vec_id, v.subspace
           |               ORDER BY CAST(round((${dot("v.sv", "v.sv")} - 2 * ${dot("v.sv", "c.cs")} + ${dot("c.cs", "c.cs")}) * 1000000) AS BIGINT), c.code) AS rn
           |           FROM resv v JOIN cs_res c ON v.subspace = c.subspace)
           |         WHERE rn = 1 GROUP BY 1)
           |SELECT rawd.subspace, CAST(raw_dist_micro AS BIGINT) AS raw_dist_micro,
           |  CAST(res_dist_micro AS BIGINT) AS res_dist_micro,
           |  CAST(CASE WHEN raw_dist_micro = 0 THEN 0
           |       WHEN raw_dist_micro < res_dist_micro
           |       THEN -((res_dist_micro - raw_dist_micro) * 1000 // raw_dist_micro)
           |       ELSE (raw_dist_micro - res_dist_micro) * 1000 // raw_dist_micro
           |  END AS BIGINT) AS gain_milli
           |FROM rawd JOIN resd USING (subspace) ORDER BY subspace""".stripMargin
      }),

    // HITS hubs & authorities over the weighted behavioral backbone:
    // 2 rounds of the unnormalized integer mutual recursion (auth first).
    // The operator carries exact DECIMAL(38,0) scores; the ORACLE-FACING
    // projection emits them as strings on BOTH engines — an unbounded
    // integer has no canonical cross-engine binary type (Spark decimal vs
    // DuckDB HUGEINT canonicalize differently in some hash harnesses),
    // while its decimal string is representation-proof.
    Q("graph_hits", "GRAPH",
      (s, d) => graft.operators.Graph.hits(backboneEdges(s, d), rounds = 2,
          weightCol = Some("w"))
        .select(col("node"),
          col("hub_score").cast("string").as("hub_score"),
          col("auth_score").cast("string").as("auth_score"))
        .orderBy("node"),
      Some {
        s"""$backboneEdgesCte,
           |n AS (SELECT src AS node FROM ew UNION SELECT dst FROM ew),
           |a1 AS (SELECT ew.dst AS node, sum(ew.w) AS sc FROM ew GROUP BY 1),
           |av1 AS (SELECT n.node, CAST(coalesce(a1.sc, 0) AS HUGEINT) AS a
           |        FROM n LEFT JOIN a1 USING (node)),
           |h1 AS (SELECT ew.src AS node, sum(ew.w * av1.a) AS sc FROM ew
           |       JOIN av1 ON av1.node = ew.dst GROUP BY 1),
           |hv1 AS (SELECT n.node, CAST(coalesce(h1.sc, 0) AS HUGEINT) AS h
           |        FROM n LEFT JOIN h1 USING (node)),
           |a2 AS (SELECT ew.dst AS node, sum(ew.w * hv1.h) AS sc FROM ew
           |       JOIN hv1 ON hv1.node = ew.src GROUP BY 1),
           |av2 AS (SELECT n.node, CAST(coalesce(a2.sc, 0) AS HUGEINT) AS a
           |        FROM n LEFT JOIN a2 USING (node)),
           |h2 AS (SELECT ew.src AS node, sum(ew.w * av2.a) AS sc FROM ew
           |       JOIN av2 ON av2.node = ew.dst GROUP BY 1),
           |hv2 AS (SELECT n.node, CAST(coalesce(h2.sc, 0) AS HUGEINT) AS h
           |        FROM n LEFT JOIN h2 USING (node))
           |SELECT n.node, CAST(hv2.h AS VARCHAR) AS hub_score,
           |       CAST(av2.a AS VARCHAR) AS auth_score
           |FROM n JOIN hv2 USING (node) JOIN av2 USING (node)
           |ORDER BY node""".stripMargin
      }),

    // Link prediction by the Resource-Allocation index: top-20 unconnected
    // pairs sharing low-degree common neighbors (deg(center) <= 64 — the
    // principled hub cut: a capped center contributes < 1e6/64 micro while
    // costing deg^2 candidates); integer micro 1/deg, full tiebreak.
    Q("graph_link_prediction", "GRAPH",
      (s, d) => graft.operators.Graph.linkPrediction(backboneEdges(s, d),
        maxCenterDeg = 64, topK = 20),
      Some {
        s"""$backboneUndirectedCte,
           |adj AS (SELECT u AS z, v AS nb FROM und
           |        UNION ALL SELECT v AS z, u AS nb FROM und),
           |el AS (SELECT adj.z, adj.nb, dg.deg FROM adj
           |       JOIN dg ON dg.node = adj.z WHERE dg.deg <= 64),
           |pr AS (SELECT a.nb AS x, b.nb AS y, a.deg FROM el a
           |       JOIN el b ON a.z = b.z AND a.nb < b.nb),
           |cand AS (SELECT x, y, 1000000 // deg AS ra FROM pr
           |         WHERE NOT EXISTS (SELECT 1 FROM und
           |                           WHERE und.u = pr.x AND und.v = pr.y))
           |SELECT x, y, CAST(sum(ra) AS BIGINT) AS ra_micro,
           |       count(*) AS n_common
           |FROM cand GROUP BY 1, 2
           |ORDER BY ra_micro DESC, n_common DESC, x, y LIMIT 20""".stripMargin
      }),

    // Degree assortativity (Newman 2002): exact integer moment vector over
    // the 2|E| edge-endpoint degree pairs + exact Pearson numerator /
    // denominator and sign-split truncating r_milli — no float sqrt.
    // The moment sums / Pearson num+den are unbounded integers — emitted
    // as decimal STRINGS on both engines (same representation-proofing as
    // graph_hits); n_ends and the milli read-out stay BIGINT.
    Q("graph_assortativity", "GRAPH",
      (s, d) => graft.operators.Graph.assortativityMoments(backboneEdges(s, d))
        .select(col("n_ends"),
          col("sum_x").cast("string").as("sum_x"),
          col("sum_xx").cast("string").as("sum_xx"),
          col("sum_xy").cast("string").as("sum_xy"),
          col("r_num").cast("string").as("r_num"),
          col("r_den").cast("string").as("r_den"),
          col("r_milli")),
      Some {
        s"""$backboneUndirectedCte,
           |ed AS (SELECT dg1.deg AS du, dg2.deg AS dv FROM und
           |       JOIN dg dg1 ON dg1.node = und.u
           |       JOIN dg dg2 ON dg2.node = und.v),
           |ends AS (SELECT du AS x, dv AS y FROM ed
           |         UNION ALL SELECT dv AS x, du AS y FROM ed),
           |m AS (SELECT count(*) AS n_ends, sum(CAST(x AS HUGEINT)) AS sum_x,
           |        sum(CAST(x AS HUGEINT) * x) AS sum_xx,
           |        sum(CAST(x AS HUGEINT) * y) AS sum_xy FROM ends),
           |r AS (SELECT *, n_ends * sum_xy - sum_x * sum_x AS r_num,
           |        n_ends * sum_xx - sum_x * sum_x AS r_den FROM m)
           |SELECT CAST(n_ends AS BIGINT) AS n_ends,
           |  CAST(sum_x AS VARCHAR) AS sum_x,
           |  CAST(sum_xx AS VARCHAR) AS sum_xx,
           |  CAST(sum_xy AS VARCHAR) AS sum_xy,
           |  CAST(r_num AS VARCHAR) AS r_num,
           |  CAST(r_den AS VARCHAR) AS r_den,
           |  CAST(CASE WHEN r_den = 0 THEN 0
           |            WHEN r_num < 0 THEN -((-r_num) * 1000 // r_den)
           |            ELSE r_num * 1000 // r_den END AS BIGINT) AS r_milli
           |FROM r""".stripMargin
      }),

    // KMV (bottom-k / theta) distinct-count sketch over the event user
    // population: 64 smallest md5 hash values -> (k-1)*2^60/h_k estimate;
    // exact distinct rides along as the accuracy audit column.
    Q("sketch_kmv_distinct", "SKETCH",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id").cast("string").as("user_key"))
        graft.operators.Sketches.kmvDistinct(ev, "user_key", k = 64)
          .crossJoin(broadcast(
            ev.agg(countDistinct(col("user_key")).as("exact_distinct"))))
      },
      Some(s"""WITH h AS (SELECT DISTINCT ${md5LongSql("CAST(user_id AS VARCHAR)")} AS hh FROM events),
             |b AS (SELECT hh FROM h ORDER BY hh LIMIT 64),
             |a AS (SELECT count(*) AS n_kept, max(hh) AS kth FROM b),
             |x AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
             |SELECT ${kmvReadOutSql(64)},
             |  CAST(exact_distinct AS BIGINT) AS exact_distinct
             |FROM a CROSS JOIN x""".stripMargin)),

    // Theta-sketch set intersection (DataSketches algebra over two KMV
    // value tables): estimated distinct-user overlap between the click and
    // purchase populations from two 64-hash summaries — the equi-join
    // distinct-match cardinality read from metadata, never rescanning the
    // corpus. Exact intersection rides along as the accuracy audit.
    Q("sketch_kmv_intersect", "SKETCH",
      (s, d) => {
        val ev = Tables(s, d, "events")
        def users(t: String) = ev.filter(col("event_type") === t)
          .select(col("user_id").cast("string").as("user_key"))
        val a = graft.operators.Sketches.kmvValues(users("click"), "user_key", k = 64)
        val b = graft.operators.Sketches.kmvValues(users("purchase"), "user_key", k = 64)
        val exact = users("click").distinct()
          .join(users("purchase").distinct(), "user_key")
          .agg(count(lit(1)).as("exact_intersect"))
        graft.operators.Sketches.kmvIntersect(a, b, k = 64)
          .crossJoin(broadcast(exact))
      },
      Some(s"""WITH ha AS (SELECT DISTINCT ${md5LongSql("CAST(user_id AS VARCHAR)")} AS __h FROM events WHERE event_type = 'click'),
             |a AS (SELECT __h FROM ha ORDER BY __h LIMIT 64),
             |hb AS (SELECT DISTINCT ${md5LongSql("CAST(user_id AS VARCHAR)")} AS __h FROM events WHERE event_type = 'purchase'),
             |b AS (SELECT __h FROM hb ORDER BY __h LIMIT 64),
             |ta AS (SELECT CASE WHEN count(*) >= 64 THEN max(__h) ELSE 1152921504606846976 END AS th FROM a),
             |tb AS (SELECT CASE WHEN count(*) >= 64 THEN max(__h) ELSE 1152921504606846976 END AS th FROM b),
             |th AS (SELECT least(ta.th, tb.th) AS theta FROM ta, tb),
             |cm AS (SELECT count(*) AS n_common FROM a JOIN b USING (__h), th WHERE __h < theta),
             |ex AS (SELECT count(*) AS exact_intersect FROM (
             |        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
             |        INTERSECT
             |        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
             |SELECT theta, CAST(n_common AS BIGINT) AS n_common,
             |  CAST(CAST(n_common AS HUGEINT) * 1152921504606846976 // theta AS BIGINT) AS est_intersect,
             |  CAST(exact_intersect AS BIGINT) AS exact_intersect
             |FROM th, cm, ex""".stripMargin)),

    // Per-key KMV distinct estimates (the GROUP BY form of the theta
    // sketch, built by the native bottom-k TypedImperativeAggregate in
    // ONE map-side-combined pass): distinct users per event type, exact
    // distinct riding along as the audit.
    Q("sketch_kmv_per_key", "SKETCH",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("event_type"), col("user_id").cast("string").as("uk"))
        graft.operators.Sketches.kmvDistinctPerKey(ev, "event_type", "uk", k = 64)
          .join(ev.groupBy(col("event_type"))
            .agg(countDistinct(col("uk")).as("exact_distinct")), "event_type")
          .orderBy("event_type")
      },
      Some(s"""WITH h AS (SELECT DISTINCT event_type,
             |         ${md5LongSql("CAST(user_id AS VARCHAR)")} AS hv
             |       FROM events),
             |${bottomKCte("ag", "h", "event_type", "hv", 64)},
             |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
             |       FROM events GROUP BY 1)
             |SELECT event_type, ${kmvReadOutSql(64)},
             |  CAST(exact_distinct AS BIGINT) AS exact_distinct
             |FROM ag JOIN ex USING (event_type) ORDER BY event_type""".stripMargin)),

    // Sliding-window distinct via MERGEABLE per-hour KMV sketches: the
    // corpus is hashed ONCE into one bottom-64 per hour; every 6-hour
    // window is answered by the union algebra (bottom-k of a union of
    // bottom-k arrays IS the bottom-k of the union) over <= k*W metadata
    // longs — never a per-window rescan. Exact windowed distinct rides
    // along as the accuracy audit (the shuffle the sketch avoids).
    Q("sketch_kmv_window", "SKETCH",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(expr("unix_timestamp(ts) div 3600").as("h"),
            col("user_id").cast("string").as("uk"))
        val est = graft.operators.Sketches.kmvSlidingWindows(
          ev, "h", "uk", windowBuckets = 6, k = 64)
        val exact = ev.distinct()
          .select(explode(expr("sequence(h, h + 5)")).as("win_end"), col("uk"))
          .join(ev.select(col("h").as("win_end")).distinct().hint("broadcast"),
            "win_end")
          .groupBy("win_end").agg(countDistinct(col("uk")).as("exact_distinct"))
        est.join(exact, "win_end").orderBy("win_end")
      },
      Some(s"""WITH ev AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS h,
             |              CAST(user_id AS VARCHAR) AS uk FROM events),
             |bkt AS (SELECT DISTINCT h FROM ev),
             |hh AS (SELECT DISTINCT h, ${md5LongSql("uk")} AS hv FROM ev),
             |mem AS (SELECT DISTINCT w.h AS win_end, x.hv
             |        FROM bkt w JOIN hh x ON x.h > w.h - 6 AND x.h <= w.h),
             |${bottomKCte("ag", "mem", "win_end", "hv", 64)},
             |ex AS (SELECT w.h AS win_end, count(DISTINCT e.uk) AS exact_distinct
             |       FROM bkt w JOIN ev e ON e.h > w.h - 6 AND e.h <= w.h GROUP BY 1)
             |SELECT ag.win_end, ${kmvReadOutSql(64)},
             |  CAST(exact_distinct AS BIGINT) AS exact_distinct
             |FROM ag JOIN ex USING (win_end) ORDER BY win_end""".stripMargin)),

    // Count-min sketch heavy hitters: 3x64 md5 cells built with one
    // map-side-combined aggregate (shuffle cardinality d*w, never |rows|),
    // broadcast probe, min-across-rows estimate (est >= exact always);
    // top-10 users by estimate with the exact count as the audit column.
    Q("sketch_cms_topk", "SKETCH",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id").cast("string").as("user_key"))
        val sketch = graft.operators.Sketches.cmsBuild(ev, "user_key", d = 3, w = 64)
        val exact = ev.groupBy(col("user_key")).agg(count(lit(1)).as("exact_count"))
        graft.operators.Sketches
          .cmsEstimate(sketch, ev.distinct(), "user_key", d = 3, w = 64)
          .join(exact, "user_key")
          .orderBy(col("est_count").desc, col("exact_count").desc, col("user_key"))
          .limit(10)
      },
      Some(s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS user_key FROM events),
             |rs AS (SELECT unnest([0, 1, 2]) AS r),
             |cells AS (SELECT r, ${md5LongSql("'cms' || r || '|' || user_key")} % 64 AS cell,
             |            count(*) AS cell_count
             |          FROM ev CROSS JOIN rs GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT user_key FROM ev),
             |probe AS (SELECT user_key, r, ${md5LongSql("'cms' || r || '|' || user_key")} % 64 AS cell
             |          FROM cand CROSS JOIN rs),
             |est AS (SELECT p.user_key, min(cells.cell_count) AS est_count FROM probe p
             |        JOIN cells ON cells.r = p.r AND cells.cell = p.cell GROUP BY 1),
             |exact AS (SELECT user_key, count(*) AS exact_count FROM ev GROUP BY 1)
             |SELECT user_key, CAST(est_count AS BIGINT) AS est_count,
             |       CAST(exact_count AS BIGINT) AS exact_count
             |FROM est JOIN exact USING (user_key)
             |ORDER BY est_count DESC, exact_count DESC, user_key LIMIT 10""".stripMargin)),

    // Mergeable log2-histogram quantile sketch: p50/p90/p99 of the event
    // value (integer cents) read off a <= 64-row summary — the bucket
    // containing the true quantile, by pure integer threshold arithmetic;
    // the exact order statistic rides along as the audit column (and must
    // land inside the picked bucket — SketchSpec pins the invariant).
    Q("sketch_quantile_hist", "SKETCH",
      (s, d) => {
        val cents = Tables(s, d, "events")
          .select(round(col("value") * 100).cast("long").as("cents"))
        val hist = graft.operators.Sketches.logHistogram(cents, "cents")
        val qs = graft.operators.Sketches
          .histogramQuantiles(hist, Seq(500, 900, 990))
        val ranked = cents.withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cents")))) // exact audit only; production drops it
        val thr = qs.crossJoin(broadcast(cents.agg(count(lit(1)).as("__n"))))
          .withColumn("__thr", expr("(q_milli * __n + 999) div 1000"))
        thr.join(ranked, col("rn") === col("__thr"))
          .select(col("q_milli"), col("bucket_log2"), col("bucket_hi"),
            col("n_le"), col("cents").as("exact_q"))
          .orderBy("q_milli")
      },
      Some("""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |hist AS (SELECT CASE WHEN v <= 0 THEN -1 ELSE CAST(length(bin(v)) - 1 AS INTEGER) END AS b,
             |                count(*) AS n_rows, max(v) AS hi FROM c GROUP BY 1),
             |cum AS (SELECT b, hi, CAST(sum(n_rows) OVER (ORDER BY b) AS BIGINT) AS n_le FROM hist),
             |tot AS (SELECT count(*) AS n FROM c),
             |qs AS (SELECT unnest([500, 900, 990]) AS q_milli),
             |thr AS (SELECT q_milli, (q_milli * n + 999) // 1000 AS t FROM qs CROSS JOIN tot),
             |pick AS (SELECT q_milli, min(b) AS b FROM thr JOIN cum ON cum.n_le >= thr.t GROUP BY 1),
             |rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c)
             |SELECT p.q_milli, p.b AS bucket_log2, cum.hi AS bucket_hi,
             |       cum.n_le, rk.v AS exact_q
             |FROM pick p JOIN cum ON cum.b = p.b
             |JOIN thr ON thr.q_milli = p.q_milli JOIN rk ON rk.rn = thr.t
             |ORDER BY p.q_milli""".stripMargin)),

    // Rate-burst detection: hourly event-type counts flagged when the rate
    // exceeds 1.5x the mean of the previous three observed windows (pure
    // integer cross-multiplication, full-history windows only) — the
    // monitoring primitive for ingest anomaly alerts.
    Q("event_bursts", "STREAM",
      (s, d) => {
        val hourly = Tables(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("window_start"))
          .agg(count(lit(1)).as("n_events"))
        val pw = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("window_start"))
          .rowsBetween(-3, -1)
        hourly
          .withColumn("prev3_sum", coalesce(sum(col("n_events")).over(pw), lit(0L)))
          .withColumn("prev3_n", count(col("n_events")).over(pw))
          .withColumn("is_burst",
            col("prev3_n") === 3 && col("n_events") * 3 > col("prev3_sum") * 2)
          .orderBy("event_type", "window_start")
      },
      Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             |                  count(*) AS n_events
             |                FROM events GROUP BY 1, 2),
             |w AS (SELECT event_type, window_start, CAST(n_events AS BIGINT) AS n_events,
             |        CAST(coalesce(sum(n_events) OVER pw, 0) AS BIGINT) AS prev3_sum,
             |        CAST(count(n_events) OVER pw AS BIGINT) AS prev3_n
             |      FROM hourly
             |      WINDOW pw AS (PARTITION BY event_type ORDER BY window_start
             |                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
             |SELECT event_type, window_start, n_events, prev3_sum, prev3_n,
             |       (prev3_n = 3 AND n_events * 3 > prev3_sum * 2) AS is_burst
             |FROM w ORDER BY event_type, window_start""".stripMargin)),

    // Interpolated bigram log-probability ("word-order perplexity proxy"):
    // Jelinek-Mercer lambda=0.8 with unigram backoff; ln argument is one
    // double division of two exact integer products, ln quantized once per
    // bigram type to micro-nats, per-doc aggregation pure integer.
    Q("text_bigram_logprob", "LLM",
      (s, d) => TextAnalysis.bigramLogProbScores(
          Tables(s, d, "documents"), "doc_id", "text", lambdaMilli = 800)
        .orderBy("doc_id"),
      Some(s"""WITH $bigramJmModelCte
             |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS logprob_bi,
             |       CAST(round(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS avg_logprob_bi_micro
             |FROM big JOIN model USING (w1, w2) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Train/val n-gram coverage: what fraction of each val doc's bigrams
    // the train split already contains — the eval-set health probe
    // (coverage ~1: val is in-distribution; low: domain gap; exactly 1
    // everywhere: suspect leakage). Same hash split as sample_hash_split;
    // one distinct-bigram train relation met by left semi-ish join.
    Q("text_ngram_coverage", "LLM",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .withColumn("__bkt", md5Long(col("doc_id").cast("string")) % 100)
        val toks = docs.select(col("doc_id"), col("__bkt"),
          split(col("text"), " ").as("__toks"))
        val bigramsOf = expr(
          """transform(slice(__toks, 1, size(__toks) - 1), (w, i) ->
            |  concat(w, ' ', __toks[i + 1]))""".stripMargin)
        val big = toks.filter(size(col("__toks")) >= 2)
          .select(col("doc_id"), col("__bkt"), explode(bigramsOf).as("bg"))
        val trainBigrams = big.filter(col("__bkt") < 80)
          .select(col("bg")).distinct().withColumn("__seen", lit(1L))
        big.filter(col("__bkt") >= 80 && col("__bkt") < 90)
          .join(trainBigrams, Seq("bg"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
          .withColumn("coverage_milli", expr("n_seen * 1000 div n_bigrams"))
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (SELECT doc_id,
             |         ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 100 AS bkt,
             |         str_split(text, ' ') AS ts
             |       FROM documents),
             |big AS (SELECT doc_id, bkt,
             |          unnest(ts[:len(ts)-1]) || ' ' || unnest(ts[2:]) AS bg
             |        FROM b WHERE len(ts) >= 2),
             |tr AS (SELECT DISTINCT bg FROM big WHERE bkt < 80),
             |v AS (SELECT doc_id, big.bg, tr.bg IS NOT NULL AS seen
             |      FROM big LEFT JOIN tr USING (bg)
             |      WHERE bkt >= 80 AND bkt < 90)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
             |  CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS coverage_milli
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Kneser-Ney smoothed bigram scoring (d = 3/4, continuation-prob
    // backoff): the industry-standard LM perplexity proxy — exact-integer
    // inner rational, one double divide + ln per model row, micro-
    // quantized before the per-doc sum.
    Q("text_kn_logprob", "LLM",
      (s, d) => TextAnalysis.knBigramLogProbScores(
          Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $bigramsCte,
             |cb AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
             |cx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f
             |       FROM cb GROUP BY 1),
             |cr AS (SELECT w2, count(*) AS n1r FROM cb GROUP BY 1),
             |nb AS (SELECT count(*) AS nbt FROM cb),
             |model AS (SELECT cb.w1, cb.w2,
             |    CAST(round(ln(CAST(greatest(4 * c12 - 3, 0) * nbt + 3 * n1f * n1r AS DOUBLE)
             |               / CAST(4 * c1 * nbt AS DOUBLE)) * 1000000) AS BIGINT) AS lp
             |  FROM cb JOIN cx USING (w1) JOIN cr USING (w2) CROSS JOIN nb)
             |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS kn_logprob,
             |  CAST(CASE WHEN sum(lp) < 0 THEN -((-sum(lp)) // count(*))
             |       ELSE sum(lp) // count(*) END AS BIGINT) AS avg_kn_micro
             |FROM big JOIN model USING (w1, w2) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Token-distribution entropy: the Gopher-style gibberish signal
    // (repeated-token docs score ~0, natural prose near ln(n_types)).
    Q("text_token_entropy", "LLM",
      (s, d) => TextAnalysis.tokenEntropyScores(
          Tables(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tf AS (SELECT doc_id, t, count(*) AS c
             |            FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
             |            GROUP BY 1, 2),
             |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |             count(*) AS n_types FROM tf GROUP BY 1)
             |SELECT doc_id, n_tokens, n_types,
             |       CAST(sum(c * CAST(round(ln(CAST(n_tokens AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT)
             |         // n_tokens AS entropy_micro
             |FROM tf JOIN n USING (doc_id)
             |GROUP BY doc_id, n_tokens, n_types ORDER BY doc_id""".stripMargin)),

    // Self-perplexity gate: drop the corpus half most surprising under
    // the corpus's own bigram LM (CCNet/KenLM-style filtering with no
    // external model).
    Q("text_perplexity_gate", "LLM",
      (s, d) => TextAnalysis.perplexityGate(
          Tables(s, d, "documents"), "doc_id", "text",
          lambdaMilli = 800, pct = 0.5)
        .orderBy("doc_id"),
      Some(s"""WITH $bigramJmModelCte,
             |sc AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp) AS BIGINT) AS lb
             |       FROM big JOIN model USING (w1, w2) GROUP BY doc_id),
             |g AS (SELECT doc_id, n_bigrams, (-lb) // n_bigrams AS nll_micro FROM sc),
             |thr AS (SELECT quantile_cont(nll_micro, 0.5) AS p FROM g)
             |SELECT doc_id, n_bigrams, nll_micro
             |FROM g, thr WHERE nll_micro <= p ORDER BY doc_id""".stripMargin)),

    // Zero-vector (NaN) contract pin: a degenerate all-zero embedding is
    // UNIONED into a small corpus and scored with NO effective radius
    // (-1.0 keeps every cosine), so the NaN→0 normalization is a VISIBLE
    // VALUE both engines must hash-agree on — Spark via microScore's
    // nanvl, DuckDB via the CASE WHEN isnan(...) THEN 0 twin. Pins the
    // r12 ADVICE finding: without the guards, Spark's cast(NaN AS LONG)=0
    // silently disagreed with DuckDB's hard Conversion Error, and raw
    // NaN >= threshold was TRUE on both engines (NaN orders last).
    Q("ann_zero_vector_contract", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val zero = s.range(1).select(lit(-1L).as("vec_id"),
          array_repeat(lit(0f), 64).as("embedding"))
        val corpus = e.filter(col("vec_id") < 9)
          .select(col("vec_id"), col("embedding"))
          .unionByName(zero)
        Similarity.rangeSearch(corpus, e.filter(col("vec_id") === 0),
            radius = -1.0)
          .orderBy("neighbor_id")
      },
      Some {
        val cosMicro = cosineMicroSql(dotSql("qe", "ce"), dotSql("qe", "qe"), dotSql("ce", "ce"))
        s"""WITH c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings WHERE vec_id < 9
           |           UNION ALL
           |           SELECT CAST(-1 AS BIGINT) AS neighbor_id,
           |                  list_transform(range(0, 64), i -> CAST(0.0 AS FLOAT)) AS ce),
           |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id = 0)
           |SELECT query_id, neighbor_id, $cosMicro AS cosine_micro
           |FROM c CROSS JOIN q
           |WHERE query_id <> neighbor_id
           |  AND $cosMicro >= -1000000
           |ORDER BY neighbor_id""".stripMargin
      }),

    // Radius search: every corpus vector within cosine >= 0.1 of each of
    // 6 probe vectors — broadcast probes, one map-only corpus scan.
    Q("ann_range_search", "LLM",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.rangeSearch(e, e.filter(col("vec_id") < 6), radius = 0.1)
          .orderBy("query_id", "neighbor_id")
      },
      Some {
        val cosMicro = cosineMicroSql(dotSql("qe", "ce"), dotSql("qe", "qe"), dotSql("ce", "ce"))
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 6),
           |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings)
           |SELECT query_id, neighbor_id,
           |       $cosMicro AS cosine_micro
           |FROM c CROSS JOIN q
           |WHERE query_id <> neighbor_id
           |  AND $cosMicro >= 100000
           |ORDER BY query_id, neighbor_id""".stripMargin
      }),

    // BPE encode with a fixed merge table: corpus token frequencies under
    // the learned subword vocabulary (the inference half of the trainer).
    Q("bpe_encode", "LLM",
      (s, d) => TextAnalysis.bpeEncode(Tables(s, d, "documents"), BpeMerges)
        .orderBy("token"),
      Some(bpeEncodeOracle(BpeMerges))),

    // fastText-shape linear quality classifier: per-doc mean of learned
    // token weights (integer micro-units) + bias, sign-test label. The
    // weight literals stand in for a trained model; the broadcast-join +
    // per-doc mean PLAN is the production one.
    Q("text_quality_classifier", "LLM",
      (s, d) => {
        import s.implicits._
        val weights = Seq(
          ("the", 150000L), ("and", 120000L), ("of", 100000L),
          ("to", 80000L), ("in", 60000L), ("a", 50000L),
          ("click", -400000L), ("free", -300000L), ("win", -500000L),
          ("buy", -350000L)).toDF("token", "w_micro")
        TextAnalysis.linearQualityScore(Tables(s, d, "documents"), weights,
          "doc_id", "text", biasMicro = -50000L).orderBy("doc_id")
      },
      Some("""WITH wt(token, w_micro) AS (VALUES
             |    ('the', 150000), ('and', 120000), ('of', 100000),
             |    ('to', 80000), ('in', 60000), ('a', 50000),
             |    ('click', -400000), ('free', -300000), ('win', -500000),
             |    ('buy', -350000)),
             |tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
             |ag AS (SELECT doc_id, count(*) AS n_tokens,
             |              count(w_micro) AS n_hits,
             |              CAST(coalesce(sum(w_micro), 0) AS BIGINT) AS sw
             |       FROM tok LEFT JOIN wt USING (token) GROUP BY 1)
             |SELECT doc_id, n_tokens, CAST(n_hits AS BIGINT) AS n_hits,
             |       CAST(-50000 + (CASE WHEN sw < 0 THEN -((-sw) // n_tokens)
             |                           ELSE sw // n_tokens END) AS BIGINT) AS logit_micro,
             |       (-50000 + (CASE WHEN sw < 0 THEN -((-sw) // n_tokens)
             |                       ELSE sw // n_tokens END)) >= 0 AS keep
             |FROM ag ORDER BY doc_id""".stripMargin)),

    // One DoReMi domain-reweighting step: per-source "hardness" (inverse
    // stopword density, milli) drives the exponentiated-gradient weight
    // update from a uniform prior.
    Q("sample_doremi_step", "LLM",
      (s, d) => {
        val loss = Tables(s, d, "documents")
          .select(col("source"),
            TextAnalysis.stopwordHits(tokens(col("text"))).cast("long").as("__h"),
            size(tokens(col("text"))).cast("long").as("__n"))
          .groupBy(col("source"))
          .agg(sum(col("__h")).as("__hh"), sum(col("__n")).as("__nn"))
          .select(col("source"),
            (lit(1000L) - expr("(__hh * 1000) div __nn")).as("loss_milli"),
            lit(1000000L).as("w_prev_micro"))
        Sampling.doremiStep(loss, "source", "loss_milli", "w_prev_micro",
          etaMilli = 500).orderBy("source")
      },
      Some("""WITH m AS (SELECT source,
             |        CAST(sum(len(list_filter(str_split(text, ' '),
             |            x -> x IN ('the','a','of','and','to','in','is')))) AS BIGINT) AS hh,
             |        CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS nn
             |      FROM documents GROUP BY 1),
             |l AS (SELECT source, 1000 - ((hh * 1000) // nn) AS loss_milli FROM m),
             |f AS (SELECT source, loss_milli,
             |        CAST(round(exp(CAST(500 AS DOUBLE) * loss_milli / 1000000.0) * 1000) AS BIGINT) AS factor_milli
             |      FROM l),
             |u AS (SELECT *, 1000000 * factor_milli AS un FROM f),
             |t AS (SELECT CAST(sum(un) AS BIGINT) AS tot FROM u)
             |SELECT source, CAST(loss_milli AS BIGINT) AS loss_milli,
             |       CAST(1000000 AS BIGINT) AS w_prev_micro, factor_milli,
             |       CAST((un * 1000000) // tot AS BIGINT) AS w_new_micro
             |FROM u, t ORDER BY source""".stripMargin)))
}

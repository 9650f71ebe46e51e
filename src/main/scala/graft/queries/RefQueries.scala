package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin
import graft.eth.{Enrich, EthTransforms, Ingest, Sinks}
import graft.eth.EthPipeline.{SourceConf, readStream}
import graft.functions.ColumnFns._
import graft.queries.Md5._

/** Reference-parity queries: one named, oracle-checked query per operator of
  * SURVEY.md §2 (S* sources, P* projections, J* joins, A* aggregations,
  * O* sorts/limits, Q* query shapes, T-/K- ingest+sink semantics), expressed
  * over the driver's TPC-H-ish testdata.
  *
  * Every chain stream is read through the engine's own reader,
  * [[graft.eth.EthPipeline.readStream]], from one of the three sources
  * below, and re-derived in DuckDB by that stream's twin over the same
  * inclusive block range. The twins are written from the chain's stated
  * formulas, not generated from the source's code: they are the reference
  * the source is checked against.
  */
object RefQueries {

  // the synthetic chain at the reference's 50-block RPC batch and at 100,
  // and the JSON-RPC connector against its in-process synthetic node
  private val chain50 = SourceConf()
  private val chain100 = SourceConf(batchSize = 100)
  private val rpc50 = SourceConf("graft-rpc", 50, Map("transport" -> "synthetic"))

  // The twins below are spliced into oracles that call stripMargin again,
  // so no line of a twin may start with `|`: a leading `||` would lose a bar.

  /** `SELECT b` for every block of [lo, hi]. */
  private def blockRange(lo: Long, hi: Long): String =
    s"SELECT unnest(range($lo, ${hi + 1})) AS b"

  /** DuckDB twin of the `block` stream over [lo, hi]: `bl`, one row per
    * block `b` with its `hash`, `miner` (five rotate), `difficulty`
    * (HUGEINT), `gas_used`, timestamp `ts` and transaction count `tc`. */
  private def chainBlocksCte(lo: Long, hi: Long): String =
    s"""bl AS (SELECT b,
       |         '0x' || md5('blk-' || CAST(b AS VARCHAR) || '-0') ||
       |           md5('blk-' || CAST(b AS VARCHAR) || '-0-b') AS hash,
       |         '0x' || ${md5HexSql("'miner-' || CAST(b % 5 AS VARCHAR)", 1, 40)} AS miner,
       |         CAST(262144 AS HUGEINT) + b AS difficulty,
       |         b % 30000000 AS gas_used, 1438269988 + b * 13 AS ts, b % 3 + 1 AS tc
       |       FROM (${blockRange(lo, hi)}))""".stripMargin

  /** DuckDB twin of the `transaction` and `receipt` streams over [lo, hi]:
    * `tx`, one row per (block `b`, index `i`) with the tx hash `h`,
    * `from_address`, `to_address` (NULL on a contract creation), the value
    * `v` (HUGEINT), `max_fee_per_gas` (NULL on a legacy tx), the receipt's
    * `cumulative_gas_used`, `gas_used`, `contract_address` (set on a
    * creation only) and `status` (NULL pre-Byzantium), and `ok`, the
    * success gate value transfers pass: status 1, or NULL. */
  private def chainTxCte(lo: Long, hi: Long): String =
    s"""tx AS (SELECT b, i,
       |         '0x' || md5('tx-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR)) ||
       |           md5('tx-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR) || '-b') AS h,
       |         '0x' || ${md5HexSql("'from-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR)", 1, 40)} AS from_address,
       |         CASE WHEN (b + i) % 7 = 0 THEN NULL
       |              ELSE '0x' || ${md5HexSql("'to-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR)", 1, 40)} END AS to_address,
       |         CAST('100000000000000000000' AS HUGEINT) + b * 1000 + i AS v,
       |         CASE WHEN (b + i) % 5 = 0 THEN NULL ELSE 30000000000 + b END AS max_fee_per_gas,
       |         21000 * (i + 1) AS cumulative_gas_used, 21000 + i AS gas_used,
       |         CASE WHEN (b + i) % 7 = 0
       |              THEN '0x' || ${md5HexSql("'ca-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR)", 1, 40)}
       |              END AS contract_address,
       |         CASE WHEN (b + i) % 11 = 0 THEN NULL ELSE (b + i) % 2 END AS status,
       |         ((b + i) % 11 = 0) OR ((b + i) % 2 = 1) AS ok
       |       FROM (SELECT b, unnest(range(b % 3 + 1)) AS i FROM (${blockRange(lo, hi)})))""".stripMargin

  /** DuckDB twin of the `log` stream over [lo, hi]: `lg`, one row per
    * (block `b`, index `i`), two logs per tx, so log i carries tx i // 2's
    * hash `h`; with its `address`, `topics` (VARCHAR[], empty every fifth
    * log) and `data`. */
  private def chainLogsCte(lo: Long, hi: Long): String =
    s"""lg AS (SELECT b, i,
       |         '0x' || md5('tx-' || CAST(b AS VARCHAR) || '-' || CAST(i // 2 AS VARCHAR)) ||
       |           md5('tx-' || CAST(b AS VARCHAR) || '-' || CAST(i // 2 AS VARCHAR) || '-b') AS h,
       |         '0x' || ${md5HexSql("'addr-' || CAST((b + i) % 11 AS VARCHAR)", 1, 40)} AS address,
       |         CASE WHEN (b + i) % 5 = 0 THEN CAST([] AS VARCHAR[])
       |              ELSE list_transform(range(0, (b + i) % 5),
       |                     t -> '0x' || md5('topic-' || CAST(t AS VARCHAR) || '-' || CAST((b + i) % 3 AS VARCHAR))) END AS topics,
       |         '0x' || md5('data-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR)) AS data
       |       FROM (SELECT b, unnest(range((b % 3 + 1) * 2)) AS i FROM (${blockRange(lo, hi)})))""".stripMargin

  /** DuckDB twin of the `trace` stream over [lo, hi]: `tr`, one row per
    * (block `b`, index `i`): one call per tx, then the block's reward
    * trace (i = b % 3 + 1, NULL hash `h`); with `trace_type`,
    * `trace_address` (a list, NULL on the reward and on i = 0) and `error`
    * (every thirteenth call fails). */
  private def chainTracesCte(lo: Long, hi: Long): String =
    s"""tr AS (SELECT b, i,
       |         CASE WHEN i = b % 3 + 1 THEN NULL
       |              ELSE '0x' || md5('tx-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR)) ||
       |                     md5('tx-' || CAST(b AS VARCHAR) || '-' || CAST(i AS VARCHAR) || '-b') END AS h,
       |         CASE WHEN i = b % 3 + 1 THEN 'reward' ELSE 'call' END AS trace_type,
       |         CASE WHEN i = b % 3 + 1 OR i = 0 THEN NULL
       |              ELSE list_transform(range(0, i % 3 + 1), x -> (x * 2) % 3) END AS trace_address,
       |         CASE WHEN i <> b % 3 + 1 AND (b + i) % 13 = 0 THEN 'out of gas' END AS error
       |       FROM (SELECT b, unnest(range(b % 3 + 2)) AS i FROM (${blockRange(lo, hi)})))""".stripMargin

  /** One stream check, run over the synthetic chain (`eth_source_<stream>s`)
    * and over the JSON-RPC connector (`eth_rpc_source_<stream>s`) with the
    * same range, projection, ordering and oracle: both must reconstruct
    * the same rows. */
  private def sourcePair(stream: String, section: String, hi: Long, oracle: String)
                        (project: DataFrame => DataFrame): Seq[Q] =
    Seq("eth_source_" -> chain50, "eth_rpc_source_" -> rpc50).map { case (prefix, conf) =>
      Q(s"$prefix${stream}s", section,
        (s, _) => project(readStream(s, conf, stream, 0, hi)), Some(oracle))
    }

  /** The AS-OF rows' inputs over `events`: the purchases (left) and the
    * clicks (right, timestamp and payload renamed for the join). */
  private def asofInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables(s, d, "events")
    (ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts")),
     ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("rts"),
        col("event_id").as("click_id"), col("value").as("click_value")))
  }

  /** DuckDB twin of [[asofInputs]]: `l` the purchases, `r0` the clicks and
    * `r` the clicks kept one per (user, ts), the highest click id — the
    * operators' tie break. */
  private val asofCte =
    """l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |r0 AS (SELECT user_id, ts, event_id AS click_id, value FROM events WHERE event_type = 'click'),
      |r AS (SELECT user_id, ts, click_id, value FROM (
      |        SELECT r0.*, row_number() OVER (PARTITION BY user_id, ts ORDER BY click_id DESC) AS rn
      |        FROM r0) WHERE rn = 1)""".stripMargin

  /** The Versioned rows' base table: orders 1..2000, keyed by
    * `o_orderkey`, 500 keys to a bucket `bkt`, priced in cents. */
  private def ordersBase(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"),
        expr("o_orderkey div 500").as("bkt"),
        round(col("o_totalprice") * 100).cast("long").as("price_c"))

  /** DuckDB twin of [[ordersBase]]: `base(o_orderkey, bkt, price_c)`. */
  private val ordersBaseCte =
    """base AS (SELECT o_orderkey, o_orderkey // 500 AS bkt,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
      |       FROM orders WHERE o_orderkey <= 2000)""".stripMargin

  /** The rate rows' day table: every day from the first to the last
    * order date, with the known rate (`rate_cents`) on every day of the
    * month ≡ 1 (mod 5) that has orders, null on the rest. */
  private def rateDays(s: SparkSession, d: String): DataFrame = {
    val days = Tables(s, d, "orders")
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    val known = Tables(s, d, "orders")
      .select(to_date(col("o_orderdate")).as("d")).distinct()
      .filter(dayofmonth(col("d")) % 5 === 1)
      .withColumn("rate_cents",
        (lit(10000) + dayofmonth(col("d")) * 10).cast("long"))
    days.join(known, Seq("d"), "left")
  }

  /** DuckDB twin of [[rateDays]]'s inputs: the spine `days(d)` and the
    * known rates `known(d, rate_cents)`. */
  private val rateDaysCte =
    """mm AS (SELECT min(CAST(o_orderdate AS DATE)) AS lo,
      |                   max(CAST(o_orderdate AS DATE)) AS hi FROM orders),
      |days AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM mm),
      |known AS (SELECT d, CAST(10000 + EXTRACT(day FROM d) * 10 AS BIGINT) AS rate_cents
      |          FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
      |          WHERE EXTRACT(day FROM d) % 5 = 1)""".stripMargin

  /** Oracle of the address-relations edge table over blocks 0..999: per
    * (from, to) pair the tx count, the wei that passed the success gate
    * and the activity span; creations have no pair. */
  private val addressRelationsSql =
    s"""WITH ${chainTxCte(0, 999)}
       |SELECT from_address, to_address,
       |       CAST(count(*) AS BIGINT) AS n_txs,
       |       CAST(sum(CASE WHEN ok THEN v ELSE 0 END) AS VARCHAR) AS wei_total,
       |       CAST(min(b) AS INTEGER) AS first_block,
       |       CAST(max(b) AS INTEGER) AS last_block
       |FROM tx WHERE to_address IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(

    // S1/S2: export fan-out — one parent record explodes into N child rows
    // (block -> txs, receipt -> logs).
    Q("s1_explode_fanout", "S1",
      (s, d) => Tables(s, d, "part")
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
        .orderBy("p_partkey", "word"),
      Some("""SELECT * FROM (SELECT p_partkey, unnest(str_split(p_name, ' ')) AS word FROM part) t
             |ORDER BY p_partkey, word""".stripMargin)),

    // S4: chain-tip scan — max id over the source.
    Q("s4_chain_tip", "S4",
      (s, d) => Tables(s, d, "lineitem").agg(max(col("l_orderkey")).as("tip")),
      Some("SELECT max(l_orderkey) AS tip FROM lineitem")),

    // S5/T3: timestamp -> id as-of lookup (previous-day watermark shape).
    Q("s5_asof_watermark", "S5",
      (s, d) => Tables(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .agg(max(col("o_orderkey")).as("last_key")),
      Some("SELECT max(o_orderkey) AS last_key FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'")),

    // S7: resume position from sink file names (regex + max).
    Q("s7_resume_filenames", "S7",
      (s, d) => Tables(s, d, "orders")
        .select(concat(lit("block-"), lpad(col("o_orderkey").cast("string"), 8, "0")).as("fname"))
        .select(regexp_extract(col("fname"), ".*-(\\d+)", 1).cast("bigint").as("blk"))
        .agg(max(col("blk")).as("resume_from")),
      Some("""SELECT max(CAST(regexp_extract('block-' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0'), '.*-(\d+)', 1) AS BIGINT)) AS resume_from FROM orders""")),

    // S8: tagged-union demultiplexer — route records by type tag.
    Q("s8_demux_by_type", "S8",
      (s, d) => Tables(s, d, "events")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type")),

    // P3: bucket derivation — the load-bearing partition key.
    Q("p3_bucket_counts", "P3",
      (s, d) => Tables(s, d, "lineitem")
        .select(blockIdGroup(col("l_orderkey")).as("block_id_group"))
        .groupBy("block_id_group").agg(count(lit(1)).as("n"))
        .orderBy("block_id_group"),
      Some("""SELECT CAST(l_orderkey // 1000 AS INTEGER) AS block_id_group, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P4: hash-prefix derivation for point-lookup partitioning.
    Q("p4_hash_prefix", "P4",
      (s, d) => Tables(s, d, "customer")
        .select(concat(lit("0x"), md5(col("c_name"))).as("tx_hash"))
        .select(col("tx_hash"), txHashPrefix(col("tx_hash")).as("tx_hash_prefix"))
        .orderBy("tx_hash"),
      Some("""SELECT '0x' || md5(c_name) AS tx_hash, substring('0x' || md5(c_name), 3, 5) AS tx_hash_prefix
             |FROM customer ORDER BY tx_hash""".stripMargin)),

    // P5: hex <-> binary roundtrip (null-preserving blob codec).
    Q("p5_hex_binary_roundtrip", "P5",
      (s, d) => Tables(s, d, "part")
        .select(col("p_partkey"),
          binaryToHex(hexToBinary(concat(lit("0x"), lower(hex(col("p_name")))))).as("hex_rt"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, '0x' || lower(hex(unhex(lower(hex(p_name))))) AS hex_rt
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // P6: array -> delimited string (trace_address flattening).
    Q("p6_array_join", "P6",
      (s, d) => Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_join(
          transform(array_sort(collect_list(col("l_linenumber"))), _.cast("string")),
          ",").as("trace_address"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS trace_address
             |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),

    // P7: head-of-array with default (topic0 = topics[0] else "0x").
    Q("p7_head_default", "P7",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          coalesce(try_element_at(filter(split(col("text"), " "), t => length(t) > 8), lit(1)),
            lit("0x")).as("topic0"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, coalesce(list_filter(str_split(text, ' '), t -> length(t) > 8)[1], '0x') AS topic0
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // P8: elementwise array map. The transformed array is re-joined to one
    // string in the final projection: top-level array columns are not
    // sortable by the gate's comparator.
    Q("p8_transform_upper", "P8",
      (s, d) => Tables(s, d, "part")
        .select(col("p_partkey"),
          array_join(transform(split(col("p_name"), " "), x => upper(x)), " ").as("words"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, array_to_string(list_transform(str_split(p_name, ' '), x -> upper(x)), ' ') AS words
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // P9: array -> JSON string (CSV log topics rendering).
    Q("p9_topics_json", "P9",
      (s, d) => Tables(s, d, "part")
        .select(col("p_partkey"), to_json(split(col("p_name"), " ")).as("topics_json"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, CAST(to_json(str_split(p_name, ' ')) AS VARCHAR) AS topics_json
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // P1-P5 composed: the block formatter (CSV dialect) over synthetic raw blocks.
    Q("eth_format_blocks", "P1-P5",
      (s, d) => {
        val raw = Tables(s, d, "orders").select(
          lit("block").as("type"),
          col("o_orderkey").cast("int").as("number"),
          concat(lit("0x"), md5(col("o_orderkey").cast("string"))).as("hash"),
          round(col("o_totalprice")).cast("int").as("gas_used"))
        EthTransforms.formatBlocks(raw, EthTransforms.CsvDialect)
          .select(col("block_id_group"), col("block_id"), col("block_hash"), col("gas_used"))
          .orderBy("block_id")
      },
      Some("""SELECT CAST(o_orderkey // 1000 AS INTEGER) AS block_id_group, CAST(o_orderkey AS INTEGER) AS block_id,
             |       '0x' || md5(CAST(o_orderkey AS VARCHAR)) AS block_hash, CAST(round(o_totalprice) AS INTEGER) AS gas_used
             |FROM orders ORDER BY block_id""".stripMargin)),

    // P2/P4/P5 composed: the transaction formatter (binary dialect) — blob
    // decode with null passthrough + prefix derivation.
    Q("eth_format_txs_binary", "P2",
      (s, d) => {
        val raw = Tables(s, d, "customer").select(
          lit("transaction").as("type"),
          concat(lit("0x"), md5(col("c_name"))).as("hash"),
          col("c_custkey").as("block_number"),
          when(col("c_custkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("0x"), md5(concat(col("c_name"), lit("@"))))).as("to_address"))
        // final projection re-encodes the BinaryType blobs as 0x-hex strings:
        // the binary dialect itself is still exercised (hexToBinary ran), but
        // the comparator-facing columns are sortable scalars
        EthTransforms.formatTransactions(raw, EthTransforms.BinaryDialect)
          .select(col("tx_hash_prefix"), binaryToHex(col("tx_hash")).as("tx_hash"),
            col("block_id"), binaryToHex(col("to_address")).as("to_address"))
          .orderBy("block_id")
      },
      Some("""SELECT substring('0x' || md5(c_name), 3, 5) AS tx_hash_prefix, '0x' || md5(c_name) AS tx_hash,
             |       c_custkey AS block_id,
             |       CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE '0x' || md5(c_name || '@') END AS to_address
             |FROM customer ORDER BY block_id""".stripMargin)),

    // P6 composed: the trace formatter (CSV dialect, '|'-joined trace_address,
    // null passthrough).
    Q("eth_format_traces", "P6",
      (s, d) => {
        val raw = Tables(s, d, "lineitem").select(
          lit("trace").as("type"),
          col("l_orderkey").cast("int").as("block_number"),
          col("l_linenumber").as("trace_index"),
          when(col("l_linenumber") === 1, lit(null).cast("array<int>"))
            .otherwise(array(col("l_linenumber"), (col("l_partkey") % 10).cast("int")))
            .as("trace_address"))
        EthTransforms.formatTraces(raw, EthTransforms.CsvDialect)
          .select(col("block_id_group"), col("block_id"), col("trace_index"), col("trace_address"))
          .orderBy("block_id", "trace_index", "trace_address")
      },
      Some("""SELECT CAST(l_orderkey // 1000 AS INTEGER) AS block_id_group, CAST(l_orderkey AS INTEGER) AS block_id,
             |       l_linenumber AS trace_index,
             |       CASE WHEN l_linenumber = 1 THEN NULL
             |            ELSE CAST(l_linenumber AS VARCHAR) || '|' || CAST(l_partkey % 10 AS VARCHAR) END AS trace_address
             |FROM lineitem ORDER BY block_id, trace_index, trace_address""".stripMargin)),

    // P7/P9 composed: the log formatter (CSV dialect: topic0 has NO default,
    // topics rendered as JSON).
    Q("eth_format_logs", "P7",
      (s, d) => {
        val raw = Tables(s, d, "part").select(
          lit("log").as("type"),
          col("p_partkey").cast("int").as("block_number"),
          lit(0).as("log_index"),
          when(col("p_size") % 5 === 0, array().cast("array<string>"))
            .otherwise(array(concat(lit("0x"), md5(col("p_name"))),
              concat(lit("0x"), md5(col("p_brand"))))).as("topics"))
        EthTransforms.formatLogs(raw, EthTransforms.CsvDialect)
          .select(col("block_id_group"), col("block_id"), col("topic0"), col("topics"))
          .orderBy("block_id")
      },
      Some("""SELECT CAST(p_partkey // 1000 AS INTEGER) AS block_id_group, CAST(p_partkey AS INTEGER) AS block_id,
             |       CASE WHEN p_size % 5 = 0 THEN NULL ELSE '0x' || md5(p_name) END AS topic0,
             |       CAST(to_json(CASE WHEN p_size % 5 = 0 THEN CAST([] AS VARCHAR[])
             |                         ELSE ['0x' || md5(p_name), '0x' || md5(p_brand)] END) AS VARCHAR) AS topics
             |FROM part ORDER BY block_id""".stripMargin)),

    // J1: the enrichment join — broadcast hash join + cardinality contract.
    // Single-pass form: the missing-receipt check rides an Observation on
    // the terminal action instead of eagerly re-evaluating the join (which
    // would pay the join ~3x: receipts aggregate + missing count + query).
    // The eager requireReceipt/checkDuplicates paths stay covered by
    // EnrichSpec; the pipeline asserts the observation after its write.
    Q("j1_enrich_receipts", "J1",
      (s, d) => {
        val receipts = Tables(s, d, "orders").select(
          col("o_orderkey").as("transaction_hash"),
          col("o_orderstatus").as("receipt_status"),
          col("o_totalprice").as("receipt_total"))
        val obs = new org.apache.spark.sql.Observation()
        Enrich.enrichTransactions(Tables(s, d, "lineitem"), receipts,
            txHashCol = "l_orderkey", requireReceipt = false,
            missingObs = Some(obs), checkDuplicates = false)
          .select(col("l_orderkey"), col("l_linenumber"), col("receipt_status"), col("receipt_total"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, o_orderstatus AS receipt_status, o_totalprice AS receipt_total
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // J2: block-timestamp denormalization join (broadcast dim).
    Q("j2_block_timestamp", "J2",
      (s, d) => {
        val blocks = Tables(s, d, "orders").select(
          col("o_orderkey").as("l_orderkey"), col("o_orderdate").as("timestamp"))
        Enrich.withBlockTimestamp(Tables(s, d, "lineitem"), blocks, blockIdCol = "l_orderkey")
          .select(col("l_orderkey"), col("l_linenumber"), col("block_timestamp"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, o_orderdate AS block_timestamp
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A1: two-phase max — partition-pruned max over the bucket layout.
    Q("a1_two_phase_max", "A1",
      (s, d) => {
        import s.implicits._
        val sink = Tables(s, d, "lineitem")
          .withColumn("block_id_group", blockIdGroup(col("l_orderkey")))
        val m = Ingest.maxIngestedBlockPruned(sink, "l_orderkey").getOrElse(-1L)
        Seq(m).toDF("max_block")
      },
      Some("""SELECT max(l_orderkey) AS max_block FROM lineitem
             |WHERE l_orderkey // 1000 = (SELECT max(l_orderkey // 1000) FROM lineitem)""".stripMargin)),

    // Data-quality audit: per-column null counts over an ingested stream —
    // the standard post-load ETL check (one aggregate row, melted long).
    // Oracle recomputes the counts from the source's null-injection
    // formulas (contract creation -> null to_address, legacy tx -> null
    // max_fee_per_gas).
    Q("audit_null_counts", "A",
      (s, d) => readStream(s, chain50, "transaction", 0, 499)
        .agg(
          sum(when(col("to_address").isNull, 1L).otherwise(0L)).as("to_address"),
          sum(when(col("max_fee_per_gas").isNull, 1L).otherwise(0L)).as("max_fee_per_gas"),
          count(lit(1)).as("__total"))
        .unpivot(Array(col("__total")),
          Array(col("to_address"), col("max_fee_per_gas")), "column_name", "n_null")
        .select(col("column_name"), col("n_null"), col("__total").as("n_total"))
        .orderBy("column_name"),
      Some(s"""WITH ${chainTxCte(0, 499)}
              |SELECT 'max_fee_per_gas' AS column_name,
              |       CAST(count(*) FILTER (max_fee_per_gas IS NULL) AS BIGINT) AS n_null,
              |       count(*) AS n_total FROM tx
              |UNION ALL
              |SELECT 'to_address',
              |       CAST(count(*) FILTER (to_address IS NULL) AS BIGINT), count(*) FROM tx
              |ORDER BY column_name""".stripMargin)),

    // Declarative data-quality suite (Deequ / Great-Expectations shape):
    // six constraints over lineitem evaluated in ONE aggregation pass —
    // every violation predicate is a conditional sum of a single hash
    // aggregate (Unique folds in via the multi-distinct Expand rewrite),
    // so the 100 TB cost is one scan + a 1-row shuffle regardless of
    // suite size. Mixed statuses by design: l_orderkey repeats per line
    // (Unique fails) and l_tax tops out at 8 cents (range [0,5] fails).
    Q("dq_expectations", "A",
      (s, d) => {
        import graft.operators.DataQuality._
        validate(Tables(s, d, "lineitem"), Seq(
          NotNull("orderkey_not_null", "l_orderkey"),
          Unique("orderkey_unique", "l_orderkey"),
          InRangeCents("discount_0_to_10c", "l_discount", 0L, 10L),
          InRangeCents("tax_0_to_5c", "l_tax", 0L, 5L),
          InSet("returnflag_domain", "l_returnflag", Seq("R", "A", "N")),
          MatchesRegex("linestatus_shape", "l_linestatus", "[OF]")))
      },
      Some("""WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
             |v AS (
             |  SELECT 0 AS i, 'orderkey_not_null' AS expectation, 'l_orderkey' AS "column",
             |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_violations
             |  UNION ALL SELECT 1, 'orderkey_unique', 'l_orderkey',
             |    (SELECT count(l_orderkey) - count(DISTINCT l_orderkey) FROM lineitem)
             |  UNION ALL SELECT 2, 'discount_0_to_10c', 'l_discount',
             |    (SELECT count(*) FROM lineitem WHERE l_discount IS NULL
             |        OR CAST(round(l_discount * 100) AS BIGINT) NOT BETWEEN 0 AND 10)
             |  UNION ALL SELECT 3, 'tax_0_to_5c', 'l_tax',
             |    (SELECT count(*) FROM lineitem WHERE l_tax IS NULL
             |        OR CAST(round(l_tax * 100) AS BIGINT) NOT BETWEEN 0 AND 5)
             |  UNION ALL SELECT 4, 'returnflag_domain', 'l_returnflag',
             |    (SELECT count(*) FROM lineitem WHERE l_returnflag IS NULL
             |        OR l_returnflag NOT IN ('R', 'A', 'N'))
             |  UNION ALL SELECT 5, 'linestatus_shape', 'l_linestatus',
             |    (SELECT count(*) FROM lineitem WHERE l_linestatus IS NULL
             |        OR NOT regexp_full_match(l_linestatus, '[OF]')))
             |SELECT expectation, "column", CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(n_violations AS BIGINT) AS n_violations,
             |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
             |FROM v, n ORDER BY i""".stripMargin)),

    // A3: per-block transaction count.
    Q("a3_tx_count_per_block", "A3",
      (s, d) => Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("block_id"))
        .agg(count(lit(1)).as("transaction_count"))
        .orderBy("block_id"),
      Some("""SELECT l_orderkey AS block_id, count(*) AS transaction_count
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // O1/O2: clustered storage order — repartition by bucket + in-partition sort.
    Q("o1_clustered_layout", "O1",
      (s, d) => Tables(s, d, "lineitem")
        .withColumn("block_id_group", blockIdGroup(col("l_orderkey")))
        .repartition(col("block_id_group"))
        .sortWithinPartitions("block_id_group", "l_orderkey", "l_linenumber")
        .select(col("block_id_group"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("block_id_group", "l_orderkey", "l_linenumber"),
      Some("""SELECT CAST(l_orderkey // 1000 AS INTEGER) AS block_id_group, l_orderkey, l_linenumber
             |FROM lineitem ORDER BY 1, 2, 3""".stripMargin)),

    // O3: per-group top-1 via ranking window (PER PARTITION LIMIT 1).
    Q("o3_per_group_top1", "O3",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        Tables(s, d, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey FROM (
             |  SELECT l_orderkey, l_linenumber, l_partkey,
             |         row_number() OVER (PARTITION BY l_orderkey
             |                            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
             |  FROM lineitem) t WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    // O4: global top-k (order by + limit).
    Q("o4_topk", "O4",
      (s, d) => Tables(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5")),

    // O5/T1: micro-batch range loop — union of per-range slices covers the
    // whole table exactly once (batch-size invariance). The batch size
    // scales with the key range so the plan holds a BOUNDED number of
    // slices (~16) at any sf: each slice is a separate scan subplan, and a
    // slice count growing linearly with data size (4096-key batches were
    // ~150 scans at sf0.1) is exactly the shape that would not survive
    // 100×. The real T1 pipeline runs one job per batch; this query checks
    // the range-plan invariance, which 16 boundaries exercise as well as
    // 150 did.
    Q("o5_union_batches", "O5",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val hi = Ingest.maxIngestedBlock(li, "l_orderkey").getOrElse(0L)
        val batch = math.max(4096L, hi / 16 + 1)
        val slices = Ingest.planRanges(0L, hi, batch).map { case (lo, hi2) =>
          li.filter(col("l_orderkey").between(lo, hi2))
        }
        slices.reduce(_ union _)
          .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      },
      Some("SELECT count(*) AS n, min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem")),

    // Q1: point lookup by hash prefix + full hash.
    Q("q1_point_lookup", "Q1",
      (s, d) => {
        val hashed = Tables(s, d, "customer")
          .select(concat(lit("0x"), md5(col("c_name"))).as("tx_hash"), col("c_custkey"))
          .withColumn("tx_hash_prefix", txHashPrefix(col("tx_hash")))
        // bounded-metadata lookup of the probe key (1 row)
        val target = hashed.filter(col("c_custkey") === 42)
          .select(col("tx_hash")).collect()(0).getString(0)
        hashed.filter(col("tx_hash_prefix") === target.substring(2, 7)
            && col("tx_hash") === target)
          .select(col("tx_hash_prefix"), col("tx_hash"))
      },
      Some("""WITH h AS (SELECT substring('0x' || md5(c_name), 3, 5) AS tx_hash_prefix, '0x' || md5(c_name) AS tx_hash
             |           FROM customer)
             |SELECT tx_hash_prefix, tx_hash FROM h
             |WHERE tx_hash = (SELECT '0x' || md5(c_name) FROM customer WHERE c_custkey = 42)""".stripMargin)),

    // Q2: partition-pruned block-range scan.
    Q("q2_block_range_scan", "Q2",
      (s, d) => Tables(s, d, "lineitem")
        .withColumn("block_id_group", blockIdGroup(col("l_orderkey")))
        .filter(col("block_id_group").between(5, 7) && col("l_orderkey").between(5000, 7999))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey // 1000 BETWEEN 5 AND 7 AND l_orderkey BETWEEN 5000 AND 7999
             |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // Q2 via the custom Catalyst rule: the user filters ONLY on block_id;
    // BucketPredicateInference derives the block_id_group partition
    // predicate, so directory pruning happens without the caller knowing the
    // bucket layout (the reference forces explicit partition addressing in
    // CQL; the engine accepts the natural predicate). BucketInferenceSpec
    // asserts the PartitionFilters actually appear.
    Q("q2_bucket_inference", "Q2",
      (s, d) => {
        val path = java.nio.file.Files.createTempDirectory("graft_binf").toString + "/li"
        val src = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("block_id"), col("l_linenumber"), col("l_quantity"))
          .withColumn("block_id_group", blockIdGroup(col("block_id")))
          .filter(col("block_id_group") <= 9)
        Sinks.writeBucketedParquet(src, path, "block_id_group", Seq("block_id"))
        // scope the rule to THIS query: activate, execute eagerly
        // (localCheckpoint materializes under the rule), then restore —
        // leaking session-wide extraOptimizations would make every later
        // query's plan depend on execution order
        val prev = s.experimental.extraOptimizations
        s.experimental.extraOptimizations =
          prev :+ graft.plans.BucketPredicateInference()
        try
          Pin(s.read.parquet(path)
            .filter(col("block_id").between(3000, 4999)) // no bucket predicate!
            .select(col("block_id"), col("l_linenumber"), col("l_quantity"))
            .orderBy("block_id", "l_linenumber", "l_quantity"))
        finally s.experimental.extraOptimizations = prev
      },
      Some("""SELECT l_orderkey AS block_id, l_linenumber, l_quantity FROM lineitem
             |WHERE l_orderkey BETWEEN 3000 AND 4999
             |ORDER BY block_id, l_linenumber, l_quantity""".stripMargin)),

    // Q3: topic filter within a block range (log clustering order exploit).
    Q("q3_topic_filter_range", "Q3",
      (s, d) => Tables(s, d, "lineitem")
        .withColumn("block_id_group", blockIdGroup(col("l_orderkey")))
        .filter(col("block_id_group").between(5, 7)
          && col("l_orderkey").between(5000, 7999)
          && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
             |WHERE l_orderkey // 1000 BETWEEN 5 AND 7 AND l_orderkey BETWEEN 5000 AND 7999
             |  AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Q5: day -> fiat-rate lookup + value*rate aggregation (integer-cent
    // arithmetic keeps it bit-deterministic).
    Q("q5_value_rate", "Q5",
      (s, d) => Tables(s, d, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")
          * (lit(100) + dayofmonth(col("o_orderdate"))).cast("long")).as("usd_micros"))
        .orderBy("d"),
      Some("""SELECT CAST(o_orderdate AS DATE) AS d,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) * (100 + EXTRACT(day FROM o_orderdate))) AS BIGINT) AS usd_micros
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q5b: MapType fiat_values column (exchange_rates shape: map<text,float>,
    // ref: scripts/schema.cql:79-82) — build per-day rate map, look up a
    // currency, convert values. Exercises MapType end-to-end.
    Q("q5_fiat_map", "Q5",
      (s, d) => {
        val rateUsd = (lit(100) + dayofmonth(col("o_orderdate"))).cast("double") / 100
        Tables(s, d, "orders")
          .select(to_date(col("o_orderdate")).as("d"), col("o_totalprice"),
            map(lit("usd"), rateUsd, lit("eur"), lit(1.0)).as("fiat_values"))
          .select(col("d"),
            round(element_at(col("fiat_values"), "usd") * col("o_totalprice") * 100)
              .cast("long").as("usd_cents"))
          .groupBy("d").agg(sum(col("usd_cents")).as("usd_cents"))
          .orderBy("d")
      },
      Some("""SELECT CAST(o_orderdate AS DATE) AS d,
             |       CAST(sum(CAST(round((map_extract(map_from_entries(
             |              [('usd', CAST(100 + EXTRACT(day FROM o_orderdate) AS DOUBLE) / 100),
             |               ('eur', 1.0)]), 'usd'))[1] * o_totalprice * 100) AS BIGINT)) AS BIGINT) AS usd_cents
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q6/K3: configuration metadata lookup.
    Q("q6_config_lookup", "Q6",
      (s, d) => Ingest.configuration(s).filter(col("id") === "graft"),
      Some("SELECT 'graft' AS id, 1000 AS block_bucket_size, 5 AS tx_prefix_length")),

    // T2: resume position = last ingested + 1 ("the data is the checkpoint").
    Q("t2_resume_position", "T2",
      (s, d) => Tables(s, d, "lineitem")
        .agg((max(col("l_orderkey")) + 1).as("resume_from")),
      Some("SELECT max(l_orderkey) + 1 AS resume_from FROM lineitem")),

    // T4: idempotent replay — re-ingesting a batch leaves the PK row set
    // unchanged (upsert equivalence).
    Q("t4_idempotent_replay", "T4",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        Ingest.dedupeByPk(li.union(li.limit(1000)), Seq("l_orderkey", "l_linenumber"))
          .agg(count(lit(1)).as("n"))
      },
      Some("SELECT count(*) AS n FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem) t")),

    // T6 (engine-beyond-reference): reorg-tolerant resume. A 4,900-block
    // sink whose last 200 blocks are an orphaned fork is checked against a
    // 5,000-block canonical source: the tail-hash compare finds the fork at
    // 4,700, affected buckets are rebuilt (pre-fork rows kept, orphans
    // replaced, new canonical tail ingested), and resume moves to 5,000.
    // The oracle REPLAYS the semantics (divergence-point detection +
    // stored-below-fork ∪ source-from-fork) rather than pinning constants.
    Q("t6_reorg_rewrite", "T6",
      (s, d) => {
        val path = java.nio.file.Files.createTempDirectory("graft_reorg").toString + "/blocks"
        def canon(id: org.apache.spark.sql.Column) =
          md5(concat(lit("canon_"), id.cast("string")))
        val src = s.range(0, 5000).select(col("id").as("block_id"),
          canon(col("id")).as("block_hash"))
        val stored = s.range(0, 4900).select(col("id").as("block_id"),
            when(col("id") < 4700, canon(col("id")))
              .otherwise(md5(concat(lit("orphan_"), col("id").cast("string"))))
              .as("block_hash"))
          .withColumn("block_id_group", blockIdGroup(col("block_id")))
        Sinks.writeBucketedParquet(stored, path)
        val (resumeFrom, fork) =
          Ingest.resumeWithReorgCheck(s, path, src, checkDepth = 400)
        s.read.parquet(path)
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("block_id")).as("id_sum"),
            sum(when(col("block_hash") === canon(col("block_id")), 0L)
              .otherwise(1L)).as("n_orphans"))
          .withColumn("fork_point", lit(fork.getOrElse(-1L)))
          .withColumn("resume_from", lit(resumeFrom))
      },
      Some("""WITH src AS (SELECT r.range AS block_id,
             |         md5('canon_' || CAST(r.range AS VARCHAR)) AS h FROM range(0, 5000) r),
             |stored AS (SELECT r.range AS block_id,
             |             CASE WHEN r.range < 4700 THEN md5('canon_' || CAST(r.range AS VARCHAR))
             |                  ELSE md5('orphan_' || CAST(r.range AS VARCHAR)) END AS h
             |           FROM range(0, 4900) r),
             |tip AS (SELECT max(block_id) AS t FROM stored),
             |fork AS (SELECT min(s.block_id) AS f
             |         FROM stored s JOIN tip ON s.block_id >= tip.t - 399
             |         LEFT JOIN src ON src.block_id = s.block_id
             |         WHERE src.h IS NULL OR src.h <> s.h),
             |final AS (SELECT block_id, h FROM stored WHERE block_id < (SELECT f FROM fork)
             |          UNION ALL
             |          SELECT block_id, h FROM src WHERE block_id >= (SELECT f FROM fork))
             |SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             |       CAST(sum(block_id) AS BIGINT) AS id_sum,
             |       CAST(sum(CASE WHEN h = md5('canon_' || CAST(block_id AS VARCHAR))
             |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_orphans,
             |       (SELECT CAST(f AS BIGINT) FROM fork) AS fork_point,
             |       CAST(max(block_id) + 1 AS BIGINT) AS resume_from
             |FROM final""".stripMargin)),

    // T6 companion: parent-hash continuity DETECTION (the on-ingest
    // signal that feeds t6_reorg_rewrite's repair). The synthetic frame
    // is what an append-only ingester accumulates across two chain
    // switches: canon 0..299, an orphaned alt span 300..449 (forked at
    // 299, so its first parent MATCHES — no false positive), canon again
    // 450..699 (parent canon_449 ≠ stored alt_449 → signal, mid-bucket
    // path), and a fork chain 700.. that diverged earlier (parent
    // fork_699 ≠ stored canon_699 → signal, bucket-boundary path at
    // bucketSize=100). Oracle replays the naive lag-over-everything.
    Q("t6_reorg_detect", "T6",
      (s, d) => {
        def h(chain: org.apache.spark.sql.Column,
              id: org.apache.spark.sql.Column) =
          md5(concat(chain, lit("_"), id.cast("string")))
        val chain = when(col("id").between(300, 449), lit("alt"))
          .when(col("id") >= 700, lit("fork")).otherwise(lit("canon"))
        val pchain = when(col("id").between(301, 449), lit("alt"))
          .when(col("id") >= 700, lit("fork")).otherwise(lit("canon"))
        val blocks = s.range(0, 1000).select(col("id").as("block_id"),
          h(chain, col("id")).as("block_hash"),
          when(col("id") === 0, lit(null).cast("string"))
            .otherwise(h(pchain, col("id") - 1)).as("parent_hash"))
        Ingest.detectReorgs(blocks, bucketSize = 100).orderBy("block_id")
      },
      Some("""WITH ch AS (SELECT r.range AS b,
             |         CASE WHEN r.range BETWEEN 300 AND 449 THEN 'alt'
             |              WHEN r.range >= 700 THEN 'fork' ELSE 'canon' END AS c,
             |         CASE WHEN r.range BETWEEN 301 AND 449 THEN 'alt'
             |              WHEN r.range >= 700 THEN 'fork' ELSE 'canon' END AS pc
             |       FROM range(0, 1000) r),
             |bl AS (SELECT b, md5(c || '_' || CAST(b AS VARCHAR)) AS h,
             |         CASE WHEN b = 0 THEN NULL
             |              ELSE md5(pc || '_' || CAST(b - 1 AS VARCHAR)) END AS p
             |       FROM ch),
             |lg AS (SELECT b, h, p, lag(b) OVER (ORDER BY b) AS prev_b,
             |         lag(h) OVER (ORDER BY b) AS prev_h FROM bl)
             |SELECT b AS block_id, p AS parent_hash, prev_h AS prev_hash
             |FROM lg WHERE prev_b = b - 1 AND prev_h <> p
             |ORDER BY block_id""".stripMargin)),

    // T2/T6 companion: ingest-completeness audit — the missing block
    // ranges of a store with both scattered holes (md5-derived) and a
    // 200-block wholly-missing span, so the in-bucket, cross-bucket, and
    // empty-bucket paths of the operator all contribute ranges. Oracle
    // computes the gaps the naive way (one lag over everything).
    Q("t6_ingest_gaps", "T6",
      (s, d) => {
        val present = readStream(s, chain100, "block", 0, 999)
          .select(col("number"))
          .filter(pmod(md5Long(concat(lit("gap-"), col("number").cast("string"))),
            lit(13L)) =!= 0)
          .filter(!col("number").between(150, 349))
        Ingest.ingestGaps(present, "number", bucketSize = 100)
          .orderBy("gap_start")
      },
      Some(s"""WITH ${chainBlocksCte(0, 999)},
             |present AS (SELECT b FROM bl
             |  WHERE ${md5LongSql("'gap-' || CAST(b AS VARCHAR)")} % 13 <> 0
             |    AND b NOT BETWEEN 150 AND 349),
             |g AS (SELECT b, lag(b) OVER (ORDER BY b) AS prev FROM present)
             |SELECT prev + 1 AS gap_start, b - 1 AS gap_end, b - prev - 1 AS n_missing
             |FROM g WHERE prev IS NOT NULL AND b > prev + 1
             |ORDER BY gap_start""".stripMargin)),

    // T5/K1: bucket-partitioned parquet sink + partition-pruned read-back.
    Q("t5_partitioned_sink", "T5",
      (s, d) => {
        val path = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/li"
        val src = Tables(s, d, "lineitem")
          .withColumn("block_id_group", blockIdGroup(col("l_orderkey")))
          .filter(col("block_id_group") <= 9)
          .select(col("block_id_group"), col("l_orderkey"), col("l_linenumber"))
        Sinks.writeBucketedParquet(src, path, "block_id_group", Seq("l_orderkey", "l_linenumber"))
        Sinks.readBlockRange(s, path, 2000, 3999, blockIdCol = "l_orderkey")
          .select(col("block_id_group").cast("int").as("block_id_group"),
            col("l_orderkey"), col("l_linenumber"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT CAST(l_orderkey // 1000 AS INTEGER) AS block_id_group, l_orderkey, l_linenumber
             |FROM lineitem WHERE l_orderkey BETWEEN 2000 AND 3999
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // K2/K4: gzipped-CSV dialect round trip (log table: '|' delimiter because
    // topics contain commas).
    Q("k2_csv_roundtrip", "K2",
      (s, d) => {
        val path = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/log"
        val df = Tables(s, d, "nation").select(
          col("n_nationkey"), col("n_name"),
          concat(lit("[\""), col("n_name"), lit("\",\""), col("n_name"), lit("\"]")).as("topics"))
        Sinks.writeCsv(df, path, "log")
        Sinks.readCsv(s, path, "log", df.schema).orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, '["' || n_name || '","' || n_name || '"]' AS topics
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // K2 at program level: the reference's second main (ranged gzip-CSV
    // export) — export a range into the reference's exact file tree
    // (per-100-block `block_%08d-%08d.csv.gz` files inside the 1M-block
    // `00000000-00999999` dir: the read path below IS the layout assertion),
    // read the block table back through the CSV contract, verify against
    // DuckDB's reconstruction of the stream.
    Q("k2_csv_export_pipeline", "K2",
      (s, d) => {
        import org.apache.spark.sql.types._
        val out = java.nio.file.Files.createTempDirectory("graft_csvexp").toString
        graft.eth.EthPipeline.exportCsvRange(s, out, 0, 299, fileBatchSize = 100)
        // full reference BLOCK_HEADER (ref: eth_csv_export.py:33-54): typed
        // where the synthetic source supplies values, string (all-null)
        // where only a live node would
        val sch = StructType(Seq(
          StructField("parent_hash", StringType), StructField("nonce", StringType),
          StructField("sha3_uncles", StringType), StructField("logs_bloom", StringType),
          StructField("transactions_root", StringType), StructField("state_root", StringType),
          StructField("receipts_root", StringType), StructField("miner", StringType),
          StructField("difficulty", DecimalType(38, 0)), StructField("total_difficulty", StringType),
          StructField("size", StringType), StructField("extra_data", StringType),
          StructField("gas_limit", StringType), StructField("gas_used", IntegerType),
          StructField("timestamp", IntegerType), StructField("transaction_count", ShortType),
          StructField("base_fee_per_gas", StringType), StructField("block_id", IntegerType),
          StructField("block_id_group", IntegerType), StructField("block_hash", StringType)))
        // pruned ranged read-back: file paths computed from the range, no
        // tree listing (the dir name in each computed path IS the layout
        // assertion)
        Sinks.readReferenceCsvRange(s, out, "block", 0, 299, sch,
            fileBatchSize = 100)
          .select(col("block_id_group"), col("block_id"), col("block_hash"),
            col("difficulty").cast("long").as("difficulty_l"), col("gas_used"),
            col("timestamp"), col("transaction_count"))
          .orderBy("block_id")
      },
      Some(s"""WITH ${chainBlocksCte(0, 299)}
              |SELECT CAST(b // 1000 AS INTEGER) AS block_id_group, CAST(b AS INTEGER) AS block_id,
              |       hash AS block_hash, CAST(difficulty AS BIGINT) AS difficulty_l,
              |       CAST(gas_used AS INTEGER) AS gas_used,
              |       CAST(ts AS INTEGER) AS "timestamp",
              |       CAST(tc AS SMALLINT) AS transaction_count
              |FROM bl ORDER BY block_id""".stripMargin)),

    // K2 byte-compatibility: the oracle literals below ARE the reference's
    // pinned per-table CSV headers (BLOCK_HEADER eth_csv_export.py:33-54,
    // TX_HEADER :56-78, TRACE_HEADER :80-101, LOGS_HEADER :103-114, logs
    // '|'-delimited per :574-580) and the reference's default file naming
    // (<prefix>_%08d-%08d.csv.gz under the 1M-block dir, :563-598). Any
    // drift in column order, file prefix, or directory layout fails here.
    Q("k2_csv_reference_headers", "K2",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_csvhdr").toString
        // one 100-block file window: the header strings, file prefix,
        // %08d-%08d window naming, and 1M-block directory layout under
        // test are identical at any window size — the full default-window
        // roundtrip is k2_csv_export_pipeline's job
        graft.eth.EthPipeline.exportCsvRange(s, out, 0, 99, fileBatchSize = 100L)
        import s.implicits._
        Seq("block", "transaction", "log", "trace").map { t =>
          val p = Sinks.csvFilePrefix(t)
          // single-gzip file = one partition: first line is the header
          val line = s.read.textFile(
            s"$out/00000000-00999999/${p}_00000000-00000099.csv.gz").first()
          (t, line)
        }.toDF("table_name", "header").orderBy("table_name")
      },
      Some("""SELECT * FROM (VALUES
             |  ('block', 'parent_hash,nonce,sha3_uncles,logs_bloom,transactions_root,state_root,receipts_root,miner,difficulty,total_difficulty,size,extra_data,gas_limit,gas_used,timestamp,transaction_count,base_fee_per_gas,block_id,block_id_group,block_hash'),
             |  ('transaction', 'nonce,transaction_index,from_address,to_address,value,gas,gas_price,input,block_timestamp,block_hash,max_fee_per_gas,max_priority_fee_per_gas,transaction_type,receipt_cumulative_gas_used,receipt_gas_used,receipt_contract_address,receipt_root,receipt_status,receipt_effective_gas_price,tx_hash,tx_hash_prefix,block_id'),
             |  ('trace', 'transaction_index,from_address,to_address,value,input,output,trace_type,call_type,reward_type,gas,gas_used,subtraces,trace_address,error,status,trace_id,trace_index,tx_hash,block_id,block_id_group'),
             |  ('log', 'block_id_group|block_id|block_hash|address|data|topics|topic0|tx_hash|log_index|transaction_index')
             |) AS t(table_name, header) ORDER BY table_name""".stripMargin))) ++
    // S1-S3 as a real custom source: the DataSourceV2 synthetic chain is
    // deterministic md5 arithmetic, so DuckDB can reconstruct the stream
    // exactly — a full oracle check of the connector's planning + reading.
    //
    // Each pair also runs over the JSON-RPC connector: the same stream read
    // through the full wire path — batched requests (eth_getBlockByNumber,
    // eth_getBlockReceipts, ...) to the in-process synthetic node,
    // responses decoded by RpcCodec — against the same DuckDB
    // reconstruction that pins graft-chain. The oracle therefore checks the
    // ENTIRE codec (hex quantities, field mapping, batch re-keying) at value
    // level. RpcSourceSpec additionally asserts rpc ≡ chain for all five
    // streams and drives the HTTP transport against a loopback server.
    sourcePair("block", "S1", 1999,
      s"""WITH ${chainBlocksCte(0, 1999)}
         |SELECT CAST(b AS INTEGER) AS number, hash,
         |       CAST(gas_used AS INTEGER) AS gas_used,
         |       CAST(ts AS INTEGER) AS "timestamp",
         |       CAST(tc AS SMALLINT) AS transaction_count
         |FROM bl ORDER BY number""".stripMargin) { df =>
      df.select(col("number"), col("hash"), col("gas_used"), col("timestamp"),
          col("transaction_count"))
        .orderBy("number")
    } ++
    // S2: receipts — the nullable decode paths (absent status
    // pre-Byzantium, null contractAddress) under the value oracle.
    sourcePair("receipt", "S2", 499,
      s"""WITH ${chainTxCte(0, 499)}
         |SELECT h AS transaction_hash,
         |       CAST(cumulative_gas_used AS BIGINT) AS cumulative_gas_used,
         |       CAST(gas_used AS BIGINT) AS gas_used, contract_address,
         |       CAST(status AS BIGINT) AS status
         |FROM tx ORDER BY transaction_hash""".stripMargin) { df =>
      df.select(col("transaction_hash"), col("cumulative_gas_used"),
          col("gas_used"), col("contract_address"), col("status"))
        .orderBy("transaction_hash")
    } ++
    // S2: the log export stream, reconstructed record-for-record by DuckDB
    // from the same deterministic formulas — log topics arrays (incl.
    // empty) on the RPC decode path.
    sourcePair("log", "S2", 499,
      s"""WITH ${chainLogsCte(0, 499)}
         |SELECT CAST(b AS INTEGER) AS block_number, CAST(i AS INTEGER) AS log_index,
         |       h AS transaction_hash, address,
         |       CAST(to_json(topics) AS VARCHAR) AS topics_json, data
         |FROM lg ORDER BY block_number, log_index""".stripMargin) { df =>
      df.select(col("block_number"), col("log_index"), col("transaction_hash"),
          col("address"), to_json(col("topics")).as("topics_json"), col("data"))
        .orderBy("block_number", "log_index")
    } ++
    // S3: the trace stream incl. the synthesized reward trace per block
    // (null tx hash), failed traces, and null-vs-array trace_address — the
    // remaining RPC decode paths (reward tx hash, traceAddress, error
    // member).
    sourcePair("trace", "S3", 499,
      s"""WITH ${chainTracesCte(0, 499)}
         |SELECT CAST(b AS INTEGER) AS block_number, CAST(i AS INTEGER) AS trace_index,
         |       h AS transaction_hash, trace_type,
         |       array_to_string(trace_address, ',') AS trace_address, error
         |FROM tr ORDER BY block_number, trace_index""".stripMargin) { df =>
      df.select(col("block_number"), col("trace_index"), col("transaction_hash"),
          col("trace_type"),
          array_join(transform(col("trace_address"), _.cast("string")), ",").as("trace_address"),
          col("error"))
        .orderBy("block_number", "trace_index")
    } ++ Seq(
    // Call-tree rollup over a constructed multi-trace fixture (the
    // synthetic chain emits one trace per tx, which would leave the
    // parent-link join untested): per-tx root + a depth chain + a branch
    // (t%5) + an ORPHANED path (t%7, parent deliberately absent) — so
    // n_linked < n_calls-1 exactly on the orphan txs, the truncated-
    // export signal the rollup exists to surface.
    Q("eth_trace_call_tree", "S3",
      (s, d) => {
        val paths = s.range(0, 500).select(col("id").as("t"))
          .select(col("t"), explode(concat(
            array(lit("")),
            slice(array(lit("0"), lit("0,1"), lit("0,1,2")), lit(1),
              expr("cast(t % 4 as int)")),
            when(expr("t % 5 = 0"), array(lit("1")))
              .otherwise(expr("cast(array() as array<string>)")),
            when(expr("t % 7 = 0"), array(lit("2,0")))
              .otherwise(expr("cast(array() as array<string>)")))).as("p"))
        val traces = paths.select(
          expr("t div 10").as("block_number"),
          md5(concat(lit("ct-"), col("t").cast("string"))).as("transaction_hash"),
          expr("CASE WHEN p = '' THEN cast(array() as array<int>)" +
            " ELSE transform(split(p, ','), x -> cast(x as int)) END")
            .as("trace_address"),
          when(expr("(t + (CASE WHEN p = '' THEN 0 ELSE size(split(p, ',')) END) * 3) % 13 = 0"),
            lit("out of gas")).as("error"))
        graft.eth.EthTransforms.traceCallTree(traces)
          .orderBy("block_number", "tx_hash")
      },
      Some("""WITH base AS (SELECT r.range AS t FROM range(0, 500) r),
             |p AS (SELECT t, unnest(
             |        [''] || (['0', '0,1', '0,1,2'])[1:CAST(t % 4 AS INT)]
             |             || (CASE WHEN t % 5 = 0 THEN ['1'] ELSE [] END)
             |             || (CASE WHEN t % 7 = 0 THEN ['2,0'] ELSE [] END)) AS p
             |      FROM base),
             |tr AS (SELECT t, t // 10 AS block_number,
             |         md5('ct-' || CAST(t AS VARCHAR)) AS tx_hash, p,
             |         CASE WHEN p = '' THEN 0 ELSE len(str_split(p, ',')) END AS d,
             |         CASE WHEN (t + (CASE WHEN p = '' THEN 0 ELSE len(str_split(p, ',')) END) * 3) % 13 = 0
             |              THEN 'out of gas' END AS error
             |       FROM p),
             |stats AS (SELECT block_number, tx_hash,
             |            count(*) AS n_calls, CAST(max(d) AS BIGINT) AS max_depth,
             |            CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
             |          FROM tr GROUP BY 1, 2),
             |linked AS (SELECT c.tx_hash, count(*) AS n_linked
             |           FROM tr c
             |           WHERE c.d >= 1 AND EXISTS (
             |             SELECT 1 FROM tr pa WHERE pa.tx_hash = c.tx_hash
             |               AND pa.p = CASE WHEN c.p NOT LIKE '%,%' THEN ''
             |                               ELSE regexp_replace(c.p, ',[^,]*$', '') END)
             |           GROUP BY 1)
             |SELECT s.block_number, s.tx_hash, s.n_calls, s.max_depth, s.n_failed,
             |       CAST(coalesce(l.n_linked, 0) AS BIGINT) AS n_linked
             |FROM stats s LEFT JOIN linked l USING (tx_hash)
             |ORDER BY block_number, tx_hash""".stripMargin)),

    // The full pipeline, end to end: source -> J1 enrich -> J2 denorm ->
    // format -> bucketed sink -> read back; DuckDB reconstructs the enriched
    // transaction table from the same deterministic formulas.
    Q("eth_pipeline_enriched", "T1",
      (s, d) => {
        val sink = java.nio.file.Files.createTempDirectory("graft_pipe").toString
        graft.eth.EthPipeline.ingestRange(s, sink, 0, 499)
        s.read.parquet(s"$sink/transaction")
          .select(col("block_id_group").cast("int").as("block_id_group"),
            col("block_id"), col("transaction_index"), col("tx_hash_prefix"),
            col("tx_hash"), col("to_address"), col("receipt_gas_used"),
            col("receipt_status"), col("block_timestamp"))
          .orderBy("block_id", "transaction_index")
      },
      Some(s"""WITH ${chainTxCte(0, 499)}
              |SELECT CAST(b // 1000 AS INTEGER) AS block_id_group, CAST(b AS INTEGER) AS block_id,
              |       CAST(i AS SMALLINT) AS transaction_index,
              |       substring(h, 3, 5) AS tx_hash_prefix, h AS tx_hash, to_address,
              |       CAST(gas_used AS BIGINT) AS receipt_gas_used,
              |       CAST(status AS BIGINT) AS receipt_status,
              |       CAST(1438269988 + b * 13 AS INTEGER) AS block_timestamp
              |FROM tx ORDER BY block_id, transaction_index""".stripMargin)),

    // The STANDING ingest-path bench row (VERDICT r14 Next #6): the same
    // reference-parity pipeline at 10x the range (5,000 blocks, ~10k txs,
    // five bucket partitions), collapsed to a per-bucket aggregate so the
    // oracle replay stays tiny while the TIMED work is the full
    // source -> enrich -> format -> bucketed-sink write. Regressions in
    // any ingest stage move this row in BENCH_r{N}.json like a query
    // regression; the metrics sidecar carries its bytes (PERF.md r15).
    Q("eth_pipeline_ingest_5k", "T1",
      (s, d) => {
        val sink = java.nio.file.Files.createTempDirectory("graft_pipe5k").toString
        graft.eth.EthPipeline.ingestRange(s, sink, 0, 4999)
        s.read.parquet(s"$sink/transaction")
          .groupBy(col("block_id_group").cast("int").as("block_id_group"))
          .agg(count(lit(1)).as("n_txs"),
            sum(col("receipt_gas_used")).cast("long").as("sum_gas"),
            sum(when(col("receipt_status") === 1, 1L).otherwise(0L))
              .cast("long").as("n_ok"),
            min(col("block_id")).cast("long").as("min_block"),
            max(col("block_id")).cast("long").as("max_block"))
          .orderBy("block_id_group")
      },
      Some(s"""WITH ${chainTxCte(0, 4999)}
              |SELECT CAST(b // 1000 AS INTEGER) AS block_id_group,
              |  CAST(count(*) AS BIGINT) AS n_txs,
              |  CAST(sum(gas_used) AS BIGINT) AS sum_gas,
              |  CAST(sum(CASE WHEN status = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
              |  CAST(min(b) AS BIGINT) AS min_block,
              |  CAST(max(b) AS BIGINT) AS max_block
              |FROM tx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Token-transfer decode (the ethereum-etl `extract_token_transfers`
    // shape, ref scripts/eth_cassandra_streaming.py log handling): filter
    // logs on topic0 == the transfer event signature and >= 3 topics, then
    // hex-decode the indexed from/to addresses out of topics[1]/[2] and the
    // amount out of the data word. All column-only (substring + conv in
    // codegen); the signature filter pushes into the scan.
    Q("eth_token_transfers", "S2",
      (s, d) => {
        // the synthetic chain's "Transfer" signature: topic slot 0, cycle 0
        val sig = "0x" + java.security.MessageDigest.getInstance("MD5")
          .digest("topic-0-0".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        readStream(s, chain100, "log", 0, 999)
          .filter(size(col("topics")) >= 3
            && try_element_at(col("topics"), lit(1)) === lit(sig))
          .select(col("block_number"), col("log_index"),
            col("transaction_hash"), col("address").as("token_address"),
            concat(lit("0x"), substring(try_element_at(col("topics"), lit(2)), 15, 20))
              .as("from_address"),
            concat(lit("0x"), substring(try_element_at(col("topics"), lit(3)), 15, 20))
              .as("to_address"),
            conv(substring(col("data"), 3, 15), 16, 10).cast("long").as("value_wei"))
          .orderBy("block_number", "log_index")
      },
      Some(s"""WITH ${chainLogsCte(0, 999)},
              |tt AS (SELECT * FROM lg WHERE (b + i) % 5 >= 3 AND (b + i) % 3 = 0)
              |SELECT CAST(b AS INTEGER) AS block_number, CAST(i AS INTEGER) AS log_index,
              |       h AS transaction_hash, address AS token_address,
              |       '0x' || ${md5HexSql("'topic-1-0'", 13, 20)} AS from_address,
              |       '0x' || ${md5HexSql("'topic-2-0'", 13, 20)} AS to_address,
              |       CAST('0x' || substring(data, 3, 15) AS BIGINT) AS value_wei
              |FROM tt ORDER BY block_number, log_index""".stripMargin)),

    // Address statistics (the graphsense downstream "address" table shape:
    // per-address degree, flow, and activity span). One explode of each tx
    // into its two (address, direction) edges, then a single hash
    // aggregate — no self-join, no second scan; wei sums ride the exact
    // decimal(38,0) path and compare as strings (HUGEINT on the DuckDB
    // side).
    Q("eth_address_stats", "A",
      (s, d) => readStream(s, chain100, "transaction", 0, 999)
        .select(col("block_number"), col("value"), explode(array(
          struct(col("from_address").as("address"), lit(1).as("is_out"),
            col("to_address").as("peer")),
          struct(col("to_address").as("address"), lit(0).as("is_out"),
            col("from_address").as("peer")))).as("e"))
        .select(col("block_number"), col("value"), col("e.*"))
        .filter(col("address").isNotNull) // creations have no to-side edge
        .groupBy(col("address"))
        .agg(
          sum(col("is_out").cast("long")).as("n_out"),
          sum((lit(1) - col("is_out")).cast("long")).as("n_in"),
          sum(when(col("is_out") === 1, col("value"))).cast("string").as("wei_sent"),
          sum(when(col("is_out") === 0, col("value"))).cast("string").as("wei_received"),
          countDistinct(col("peer")).as("n_peers"),
          min(col("block_number")).as("first_block"),
          max(col("block_number")).as("last_block"))
        .orderBy("address"),
      Some(s"""WITH ${chainTxCte(0, 999)},
             |e AS (SELECT b, v, from_address AS address, 1 AS is_out, to_address AS peer FROM tx
             |      UNION ALL
             |      SELECT b, v, to_address, 0, from_address FROM tx WHERE to_address IS NOT NULL)
             |SELECT address,
             |       CAST(sum(is_out) AS BIGINT) AS n_out,
             |       CAST(sum(1 - is_out) AS BIGINT) AS n_in,
             |       CAST(sum(CASE WHEN is_out = 1 THEN v END) AS VARCHAR) AS wei_sent,
             |       CAST(sum(CASE WHEN is_out = 0 THEN v END) AS VARCHAR) AS wei_received,
             |       CAST(count(DISTINCT peer) AS BIGINT) AS n_peers,
             |       CAST(min(b) AS INTEGER) AS first_block,
             |       CAST(max(b) AS INTEGER) AS last_block
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-block multi-stream rollup (the graphsense downstream "block"
    // stats table): tx count + wei volume from the transaction stream,
    // log and trace counts (incl. failures) from theirs, stitched onto
    // the block header by LEFT joins (a real chain has empty blocks; the
    // join key is the block id, so at 100 TB all four aggregates and the
    // join co-partition on it). Each stream is aggregated BEFORE the
    // join — the join inputs are |blocks| rows, never raw fan-out rows.
    Q("eth_block_stats", "A",
      (s, d) => {
        def stream(name: String) = readStream(s, chain100, name, 0, 499)
        val blocks = stream("block").select(col("number"), col("gas_used"))
        val txs = stream("transaction").groupBy(col("block_number"))
          .agg(count(lit(1)).as("n_txs"), sum(col("value")).as("__wei"))
        val logs = stream("log").groupBy(col("block_number"))
          .agg(count(lit(1)).as("n_logs"))
        val traces = stream("trace").groupBy(col("block_number"))
          .agg(count(lit(1)).as("n_traces"),
            sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_failed"))
        blocks
          .join(txs, blocks("number") === txs("block_number"), "left")
          .join(logs, blocks("number") === logs("block_number"), "left")
          .join(traces, blocks("number") === traces("block_number"), "left")
          .select(col("number").as("block_number"), col("gas_used"),
            coalesce(col("n_txs"), lit(0L)).as("n_txs"),
            coalesce(col("__wei"), lit(0).cast("decimal(38,0)"))
              .cast("string").as("wei_total"),
            coalesce(col("n_logs"), lit(0L)).as("n_logs"),
            coalesce(col("n_traces"), lit(0L)).as("n_traces"),
            coalesce(col("n_failed"), lit(0L)).as("n_failed"))
          .orderBy("block_number")
      },
      Some(s"""WITH ${chainBlocksCte(0, 499)},
             |${chainTxCte(0, 499)},
             |${chainLogsCte(0, 499)},
             |${chainTracesCte(0, 499)},
             |txa AS (SELECT b, count(*) AS n_txs, sum(v) AS wei FROM tx GROUP BY 1),
             |lga AS (SELECT b, count(*) AS n_logs FROM lg GROUP BY 1),
             |tra AS (SELECT b, count(*) AS n_traces,
             |          sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS n_failed
             |        FROM tr GROUP BY 1)
             |SELECT CAST(bl.b AS INTEGER) AS block_number,
             |       CAST(bl.gas_used AS INTEGER) AS gas_used,
             |       CAST(coalesce(n_txs, 0) AS BIGINT) AS n_txs,
             |       CAST(coalesce(wei, 0) AS VARCHAR) AS wei_total,
             |       CAST(coalesce(n_logs, 0) AS BIGINT) AS n_logs,
             |       CAST(coalesce(n_traces, 0) AS BIGINT) AS n_traces,
             |       CAST(coalesce(n_failed, 0) AS BIGINT) AS n_failed
             |FROM bl LEFT JOIN txa ON txa.b = bl.b
             |        LEFT JOIN lga ON lga.b = bl.b
             |        LEFT JOIN tra ON tra.b = bl.b
             |ORDER BY block_number""".stripMargin)),

    // Per-miner statistics (the proposer/validator leaderboard): blocks
    // grouped by the miner address — a REAL low-cardinality grouping over
    // the header stream (5 synthetic miners), with decimal difficulty
    // sums riding the exact decimal(38,0) path.
    Q("eth_miner_stats", "A",
      (s, d) => readStream(s, chain100, "block", 0, 1999)
        .groupBy(col("miner"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("gas_used").cast("long")).as("gas_total"),
          sum(col("difficulty")).cast("string").as("difficulty_total"),
          sum(col("transaction_count").cast("long")).as("n_txs"),
          min(col("number")).as("first_block"),
          max(col("number")).as("last_block"))
        .orderBy("miner"),
      Some(s"""WITH ${chainBlocksCte(0, 1999)}
             |SELECT miner, CAST(count(*) AS BIGINT) AS n_blocks,
             |       CAST(sum(gas_used) AS BIGINT) AS gas_total,
             |       CAST(sum(difficulty) AS VARCHAR) AS difficulty_total,
             |       CAST(sum(tc) AS BIGINT) AS n_txs,
             |       CAST(min(b) AS INTEGER) AS first_block,
             |       CAST(max(b) AS INTEGER) AS last_block
             |FROM bl GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Balance deltas (the graphsense downstream "balance" table, computed
    // here from the tx+receipt streams): per address, wei received (value
    // transfers land only when the receipt says the tx SUCCEEDED — status
    // 1, or null pre-Byzantium), wei sent (same gate), and fees paid
    // (gas_used × fee cap, paid by the sender REGARDLESS of status — a
    // failed tx still burns its gas). One equi-join tx⋈receipt on the tx
    // hash (both sides bucket-compatible on the hash prefix in the sink
    // layout, so at 100 TB the join co-locates; AQE broadcasts at this
    // size), one explode into (address, contribution) rows, one hash
    // aggregate. Wei math rides decimal(38,0) end to end and compares as
    // strings against DuckDB HUGEINT.
    Q("eth_balance_deltas", "A",
      (s, d) => {
        val tx = readStream(s, chain100, "transaction", 0, 999)
        val rc = readStream(s, chain100, "receipt", 0, 999)
        val zero = lit(0).cast("decimal(38,0)")
        tx.join(rc, tx("hash") === rc("transaction_hash"))
          .select(col("from_address"), col("to_address"), col("value"),
            // multiply IN decimal: a Long×Long product wraps silently at
            // ~9.2e18 wei (30M gas × 400 gwei exceeds it), the oracle's
            // HUGEINT doesn't — the operands must widen first
            (rc("gas_used").cast("decimal(38,0)")
              * coalesce(col("max_fee_per_gas"), lit(0L)).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("fee"),
            coalesce(rc("status") =!= 0, lit(true)).as("ok"))
          .select(explode(array(
            struct(col("from_address").as("address"),
              when(col("ok"), col("value")).otherwise(zero).as("wout"),
              zero.as("win"), col("fee"),
              lit(1L).as("n_out"), lit(0L).as("n_in")),
            struct(col("to_address").as("address"), zero.as("wout"),
              when(col("ok"), col("value")).otherwise(zero).as("win"),
              zero.as("fee"),
              lit(0L).as("n_out"), lit(1L).as("n_in")))).as("c"))
          .select(col("c.*"))
          .filter(col("address").isNotNull) // creations have no receive side
          .groupBy(col("address"))
          .agg(sum(col("win")).cast("string").as("wei_in"),
            sum(col("wout")).cast("string").as("wei_out"),
            sum(col("fee")).cast("string").as("fee_wei"),
            (sum(col("win")) - sum(col("wout")) - sum(col("fee")))
              .cast("string").as("balance_delta"),
            sum(col("n_out")).as("n_tx_out"), sum(col("n_in")).as("n_tx_in"))
          .orderBy("address")
      },
      Some(s"""WITH ${chainTxCte(0, 999)},
             |c AS (SELECT from_address AS address,
             |             CASE WHEN ok THEN v ELSE 0 END AS wout,
             |             CAST(0 AS HUGEINT) AS win,
             |             CAST(gas_used AS HUGEINT) * coalesce(max_fee_per_gas, 0) AS fee,
             |             1 AS n_out, 0 AS n_in FROM tx
             |      UNION ALL
             |      SELECT to_address, CAST(0 AS HUGEINT),
             |             CASE WHEN ok THEN v ELSE 0 END,
             |             CAST(0 AS HUGEINT), 0, 1 FROM tx WHERE to_address IS NOT NULL)
             |SELECT address,
             |       CAST(sum(win) AS VARCHAR) AS wei_in,
             |       CAST(sum(wout) AS VARCHAR) AS wei_out,
             |       CAST(sum(fee) AS VARCHAR) AS fee_wei,
             |       CAST(sum(win) - sum(wout) - sum(fee) AS VARCHAR) AS balance_delta,
             |       CAST(sum(n_out) AS BIGINT) AS n_tx_out,
             |       CAST(sum(n_in) AS BIGINT) AS n_tx_in
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Address relations (the graphsense address-graph EDGE table:
    // address_outgoing_relations): per (from, to) pair, tx count, total
    // successfully transferred wei, and the activity span. Same
    // tx⋈receipt join as the balance table, then one aggregate on the
    // pair key — at 100 TB this is THE table entity resolution and flow
    // tracing read, and it shuffles once on the pair.
    Q("eth_address_relations", "J1",
      (s, d) => {
        val tx = readStream(s, chain100, "transaction", 0, 999)
        val rc = readStream(s, chain100, "receipt", 0, 999)
        tx.join(rc, tx("hash") === rc("transaction_hash"))
          .filter(col("to_address").isNotNull)
          .select(col("from_address"), col("to_address"), col("block_number"),
            when(coalesce(rc("status") =!= 0, lit(true)), col("value"))
              .otherwise(lit(0).cast("decimal(38,0)")).as("ok_value"))
          .groupBy(col("from_address"), col("to_address"))
          .agg(count(lit(1)).as("n_txs"),
            sum(col("ok_value")).cast("string").as("wei_total"),
            min(col("block_number")).as("first_block"),
            max(col("block_number")).as("last_block"))
          .orderBy("from_address", "to_address")
      },
      Some(addressRelationsSql)),

    // Incremental relations maintenance (T4-style "data is the
    // checkpoint" for a DERIVED table): ingest the relations edge table
    // in four micro-batches, then REPLAY one mid-range slice — the
    // replay must overwrite its own per-batch partials, not double-count
    // them, so idempotency is part of this oracle's contract. The final
    // answer must equal the one-shot aggregate over the whole range.
    Q("eth_relations_incremental", "T4",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_rel").toString
        graft.eth.Relations.ingestRange(s, out, 0, 999, batchSize = 250)
        graft.eth.Relations.ingestRange(s, out, 250, 499, batchSize = 250)
        graft.eth.Relations.readRelations(s, out)
          .select(col("from_address"), col("to_address"), col("n_txs"),
            col("wei_total").cast("string").as("wei_total"),
            col("first_block"), col("last_block"))
          .orderBy("from_address", "to_address")
      },
      Some(addressRelationsSql)),

    // Dense address-ID assignment (the graphsense address dictionary:
    // every address gets a compact BIGINT id in FIRST-APPEARANCE order —
    // block, then tx index, then sender-before-receiver). Appearances
    // collapse to one row per address via an argmin aggregate
    // (min-of-struct — one map-side-combined shuffle on the address);
    // the final dense numbering is GlobalRank.globalRowNumber over the
    // |V|-row aggregate — two-phase range-partitioned exact ranks, so
    // the numbering never funnels |V| ≈ 10^9 addresses through one task
    // at chain scale (the aggregate and the ranking both stay fully
    // distributed).
    Q("eth_address_ids", "P4",
      (s, d) => {
        val tx = readStream(s, chain100, "transaction", 0, 999)
        val firsts = tx.select(col("block_number"), col("transaction_index"),
            explode(array(
              struct(col("from_address").as("address"), lit(0).as("side")),
              struct(col("to_address").as("address"), lit(1).as("side")))).as("e"))
          .select(col("e.address").as("address"), col("block_number"),
            col("transaction_index").cast("int").as("tx_index"), col("e.side").as("side"))
          .filter(col("address").isNotNull)
          .groupBy(col("address"))
          .agg(min(struct(col("block_number"), col("tx_index"), col("side"))).as("f"))
          .select(col("address"), col("f.block_number").as("first_block"),
            col("f.tx_index").as("first_tx_index"), col("f.side").as("first_side"))
        graft.operators.GlobalRank.globalRowNumber(firsts,
            Seq(col("first_block"), col("first_tx_index"), col("first_side"),
              col("address")), "address_id")
          .select(col("address_id"), col("address"), col("first_block"),
            col("first_tx_index"))
          .orderBy("address_id")
      },
      Some(s"""WITH ${chainTxCte(0, 999)},
             |app AS (SELECT from_address AS address, b, i, 0 AS side FROM tx
             |        UNION ALL
             |        SELECT to_address, b, i, 1 FROM tx WHERE to_address IS NOT NULL),
             |f AS (SELECT address, min(struct_pack(b := b, i := i, side := side)) AS fk
             |      FROM app GROUP BY 1)
             |SELECT CAST(row_number() OVER (ORDER BY fk.b, fk.i, fk.side, address) AS BIGINT) AS address_id,
             |       address, CAST(fk.b AS INTEGER) AS first_block,
             |       CAST(fk.i AS INTEGER) AS first_tx_index
             |FROM f ORDER BY address_id""".stripMargin)),

    // Contract-creation extraction (the ethereum-etl "contracts" shape:
    // a creation is a tx with NO to_address whose receipt carries the
    // deployed contract_address — ref scripts/schema.cql:29-53 tx/receipt
    // fields). Failed creations (status 0) deploy nothing and are dropped;
    // null status (pre-Byzantium) counts as success, the same gate
    // eth_address_relations applies to value transfers. One equi-join on
    // the tx hash with BOTH filters pushed below their exchanges (the
    // null-to filter kills ~6/7 of the tx stream before it moves). At
    // chain scale both sides are huge, so the honest plan is the shuffle
    // join on the hash — the same key the sink buckets by, so on bucketed
    // tables the exchanges vanish (j_bucketed_colocated's layout).
    Q("eth_contract_creations", "J1",
      (s, d) => {
        val tx = readStream(s, chain100, "transaction", 0, 999)
        val rc = readStream(s, chain100, "receipt", 0, 999)
        tx.filter(col("to_address").isNull)
          .join(rc, tx("hash") === rc("transaction_hash"))
          .filter(coalesce(rc("status") =!= 0, lit(true)))
          .select(col("block_number"),
            col("transaction_index").cast("int").as("transaction_index"),
            col("hash").as("transaction_hash"),
            col("from_address").as("creator_address"),
            col("contract_address"), col("gas_used"))
          .orderBy("block_number", "transaction_index")
      },
      Some(s"""WITH ${chainTxCte(0, 999)}
              |SELECT CAST(b AS INTEGER) AS block_number, CAST(i AS INTEGER) AS transaction_index,
              |       h AS transaction_hash, from_address AS creator_address, contract_address,
              |       CAST(gas_used AS BIGINT) AS gas_used
              |FROM tx WHERE to_address IS NULL AND ok
              |ORDER BY block_number, transaction_index""".stripMargin)),

    // Address-transactions edge list (the graphsense "address_transactions"
    // table: one row per (address, tx, direction), the index that answers
    // "all activity of address X" without rescanning the tx table). One
    // explode into at most 2 directed rows per tx — creations have no
    // to-side — then a straight projection: no join, no aggregate; at
    // 100 TB the sink is bucketed by address so the per-address read is
    // partition-pruned.
    Q("eth_address_txs", "A",
      (s, d) => readStream(s, chain100, "transaction", 0, 499)
        .select(col("hash"), col("block_number"),
          col("transaction_index").cast("int").as("tx_index"), col("value"),
          explode(array(
            struct(col("from_address").as("address"), lit(1).as("is_outgoing")),
            struct(col("to_address").as("address"), lit(0).as("is_outgoing"))))
            .as("e"))
        .select(col("e.address").as("address"), col("block_number"),
          col("tx_index"), col("e.is_outgoing").as("is_outgoing"),
          col("hash").as("transaction_hash"),
          col("value").cast("string").as("value_wei"))
        .filter(col("address").isNotNull)
        .orderBy("address", "block_number", "tx_index", "is_outgoing"),
      Some(s"""WITH ${chainTxCte(0, 499)},
             |e AS (SELECT from_address AS address, b, i, 1 AS is_outgoing, h, v FROM tx
             |      UNION ALL
             |      SELECT to_address, b, i, 0, h, v FROM tx WHERE to_address IS NOT NULL)
             |SELECT address, CAST(b AS INTEGER) AS block_number, CAST(i AS INTEGER) AS tx_index,
             |       is_outgoing, h AS transaction_hash, CAST(v AS VARCHAR) AS value_wei
             |FROM e ORDER BY address, block_number, tx_index, is_outgoing""".stripMargin)),

    // Keyspace summary statistics (the one-row ingest health card every
    // GraphSense keyspace carries: stream cardinalities + chain tip).
    // Each stream collapses to ONE row via its own map-side-combined
    // aggregate before the 1-row×1-row cross joins stitch the card —
    // never a row-level join between streams, so the plan is four
    // independent linear scans at any scale.
    Q("eth_summary_stats", "A",
      (s, d) => {
        def stream(name: String) = readStream(s, chain100, name, 0, 499)
        val blocks = stream("block")
          .agg(count(lit(1)).as("no_blocks"), max(col("number")).as("tip_block"),
            max(col("timestamp")).as("tip_timestamp"))
        val txs = stream("transaction")
          .agg(count(lit(1)).as("no_txs"),
            sum(col("value")).cast("string").as("wei_total"))
        val logs = stream("log").agg(count(lit(1)).as("no_logs"))
        val traces = stream("trace").agg(count(lit(1)).as("no_traces"))
        blocks.crossJoin(txs).crossJoin(logs).crossJoin(traces)
          .withColumn("id", lit("eth"))
          .select(col("id"), col("no_blocks"), col("no_txs"), col("no_logs"),
            col("no_traces"), col("tip_block"), col("tip_timestamp"),
            col("wei_total"))
      },
      Some(s"""WITH ${chainBlocksCte(0, 499)},
              |${chainTxCte(0, 499)},
              |${chainLogsCte(0, 499)},
              |${chainTracesCte(0, 499)}
              |SELECT 'eth' AS id,
              |       (SELECT count(*) FROM bl) AS no_blocks,
              |       (SELECT count(*) FROM tx) AS no_txs,
              |       (SELECT count(*) FROM lg) AS no_logs,
              |       (SELECT count(*) FROM tr) AS no_traces,
              |       CAST(499 AS INTEGER) AS tip_block,
              |       CAST(1438269988 + 499 * 13 AS INTEGER) AS tip_timestamp,
              |       (SELECT CAST(sum(v) AS VARCHAR) FROM tx) AS wei_total""".stripMargin)),

    // Q5c: exchange-rate forward-fill — the reference ingests one rate row
    // per day that HAS one (scripts/schema.cql:79-82) and downstream
    // consumers need a rate for EVERY day, so gaps carry the last known
    // rate forward. The spine is sequence(min_day, max_day) off a 1-row
    // aggregate (never a driver loop); the fill is last(ignoreNulls) over
    // an ordered running frame. The global window is safe BY CONSTRUCTION:
    // it orders the day spine (a few thousand rows for a decade of chain),
    // not the data — rates are the textbook tiny-dimension table. Days
    // before the first known rate stay null (no rate ever existed), which
    // downstream joins must see rather than a fabricated 0.
    Q("q5_rate_ffill", "Q5",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        rateDays(s, d)
          .withColumn("rate_ffill", last(col("rate_cents"), ignoreNulls = true)
            .over(Window.orderBy(col("d"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("d")
      },
      Some(s"""WITH $rateDaysCte
             |SELECT d, rate_cents,
             |       last_value(rate_cents IGNORE NULLS) OVER
             |         (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rate_ffill
             |FROM days LEFT JOIN known USING (d) ORDER BY d""".stripMargin)),

    // Linear gap interpolation over the day spine — the other half of the
    // rate-table story: forward-fill holds the LAST value flat, this
    // interpolates BETWEEN the surrounding known points (v0 + Δv·dt div
    // gap, sign-split truncating integer math; endpoints fall back to the
    // known side). Two ignoreNulls window walks over one date ordering —
    // same single-sort shape as the ffill.
    Q("q5_rate_interp", "Q5",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byD = Window.orderBy(col("d"))
        val back = byD.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = byD.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        rateDays(s, d)
          .withColumn("d0", last(when(col("rate_cents").isNotNull, col("d")),
            ignoreNulls = true).over(back))
          .withColumn("v0", last(col("rate_cents"), ignoreNulls = true).over(back))
          .withColumn("d1", first(when(col("rate_cents").isNotNull, col("d")),
            ignoreNulls = true).over(fwd))
          .withColumn("v1", first(col("rate_cents"), ignoreNulls = true).over(fwd))
          .withColumn("rate_interp", expr(
            """CASE WHEN v0 IS NULL THEN v1
              |     WHEN v1 IS NULL THEN v0
              |     WHEN d1 = d0 THEN v0
              |     WHEN v1 >= v0
              |     THEN v0 + (v1 - v0) * datediff(d, d0) div datediff(d1, d0)
              |     ELSE v0 - (v0 - v1) * datediff(d, d0) div datediff(d1, d0)
              |END""".stripMargin))
          .select(col("d"), col("rate_cents"), col("rate_interp"))
          .orderBy("d")
      },
      Some(s"""WITH $rateDaysCte,
             |j AS (SELECT days.d, known.rate_cents FROM days LEFT JOIN known USING (d)),
             |w AS (SELECT d, rate_cents,
             |        last_value(CASE WHEN rate_cents IS NOT NULL THEN d END IGNORE NULLS)
             |          OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d0,
             |        last_value(rate_cents IGNORE NULLS)
             |          OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             |        first_value(CASE WHEN rate_cents IS NOT NULL THEN d END IGNORE NULLS)
             |          OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d1,
             |        first_value(rate_cents IGNORE NULLS)
             |          OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
             |      FROM j)
             |SELECT d, rate_cents,
             |  CAST(CASE WHEN v0 IS NULL THEN v1
             |       WHEN v1 IS NULL THEN v0
             |       WHEN d1 = d0 THEN v0
             |       WHEN v1 >= v0
             |       THEN v0 + (v1 - v0) * date_diff('day', d0, d) // date_diff('day', d0, d1)
             |       ELSE v0 - (v0 - v1) * date_diff('day', d0, d) // date_diff('day', d0, d1)
             |  END AS BIGINT) AS rate_interp
             |FROM w ORDER BY d""".stripMargin)),

    // Fiat-valued address relations — the estimation the graphsense
    // transformation actually serves (edge values in fiat, not wei):
    // per-tx conversion at the rate of the tx's OWN time period, then the
    // J1-style pair aggregate. Composes three ops end to end: J2 block-
    // timestamp denorm, the forward-filled rate table (tiny — it rides a
    // broadcast; txs in periods before the first known rate are dropped,
    // never priced at a fabricated rate), and the status-gated relations
    // rollup. Money math is integer end to end: value is truncated to
    // 1e12-wei units (exact `div`), multiplied by integer cents — bit-
    // identical in any engine, no float in sight. Periods are 600 s here
    // so the synthetic 13 s-per-block chain spans ~23 of them; production
    // uses the reference's daily buckets (scripts/schema.cql:79-82) —
    // same plan, coarser key.
    Q("eth_relations_usd", "Q5",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def stream(name: String) = readStream(s, chain100, name, 0, 999)
        val blocks = stream("block")
          .select(col("number").as("block_id"), col("timestamp"))
        val periods = blocks.select(expr("timestamp div 600").as("p"))
          .agg(min(col("p")).as("lo"), max(col("p")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("p"))
        val known = blocks.select(expr("timestamp div 600").as("p")).distinct()
          .filter(pmod(col("p"), lit(3L)) === 0)
          .withColumn("rate_cents", (lit(10000L) + pmod(col("p"), lit(100L))))
        val rates = periods.join(known, Seq("p"), "left")
          .withColumn("rate_cents", last(col("rate_cents"), ignoreNulls = true)
            .over(Window.orderBy(col("p"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("rate_cents").isNotNull)
        val tx = stream("transaction").withColumnRenamed("block_number", "block_id")
        val rc = stream("receipt")
        Enrich.withBlockTimestamp(tx, blocks)
          .join(rc, col("hash") === rc("transaction_hash"))
          .filter(col("to_address").isNotNull)
          .withColumn("p", expr("block_timestamp div 600"))
          .join(broadcast(rates), Seq("p"))
          .withColumn("ok_usd_micro",
            when(coalesce(rc("status") =!= 0, lit(true)),
              expr("(value div 1000000000000) * rate_cents")).otherwise(lit(0L)))
          .groupBy(col("from_address"), col("to_address"))
          .agg(count(lit(1)).as("n_txs"),
            sum(col("ok_usd_micro")).as("usd_micro_cents"),
            min(col("block_id")).as("first_block"),
            max(col("block_id")).as("last_block"))
          .orderBy("from_address", "to_address")
      },
      Some(s"""WITH ${chainBlocksCte(0, 999)},
             |hb AS (SELECT b, ts // 600 AS p FROM bl),
             |spine AS (SELECT unnest(range((SELECT min(p) FROM hb),
             |                              (SELECT max(p) FROM hb) + 1)) AS p),
             |kr AS (SELECT p, CAST(10000 + p % 100 AS BIGINT) AS rate_cents
             |       FROM (SELECT DISTINCT p FROM hb WHERE p % 3 = 0)),
             |rf AS (SELECT spine.p, last_value(rate_cents IGNORE NULLS) OVER
             |         (ORDER BY spine.p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rate_cents
             |       FROM spine LEFT JOIN kr USING (p)),
             |${chainTxCte(0, 999)},
             |j AS (SELECT tx.b, from_address, to_address, v, ok, rf.rate_cents
             |      FROM tx JOIN hb USING (b) JOIN rf USING (p)
             |      WHERE to_address IS NOT NULL AND rf.rate_cents IS NOT NULL)
             |SELECT from_address, to_address, CAST(count(*) AS BIGINT) AS n_txs,
             |       CAST(sum(CASE WHEN ok THEN CAST(v // 1000000000000 AS BIGINT) * rate_cents
             |                     ELSE 0 END) AS BIGINT) AS usd_micro_cents,
             |       CAST(min(b) AS INTEGER) AS first_block,
             |       CAST(max(b) AS INTEGER) AS last_block
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // K1 maintenance: small-files compaction roundtrip — fragment a
    // bucketed sink (8 write tasks => 8 files per bucket), compact every
    // oversized bucket to one clustered file, and prove the row set
    // survived bit-for-bit (per-bucket counts + id sums vs the source
    // table). SinksSpec asserts the file counts and idempotence; this
    // oracle asserts zero loss/duplication.
    Q("k1_compact_roundtrip", "K1",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
        val src = Tables(s, d, "orders")
          .filter(col("o_orderkey") < 5000) // 5-bucket slice: the semantics
          // are bucket-local, so a subset exercises everything the full
          // table would while the bench times compaction, not bulk IO
          .select(col("o_orderkey"), col("o_totalprice"),
            blockIdGroup(col("o_orderkey")).as("block_id_group"))
        src.repartition(8).write.mode("overwrite")
          .partitionBy("block_id_group").parquet(out)
        Sinks.compactBuckets(s, out, sortCols = Seq("o_orderkey"))
        s.read.parquet(out)
          .groupBy(col("block_id_group").cast("int").as("block_id_group"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("id_sum"))
          .orderBy("block_id_group")
      },
      Some("""SELECT CAST(o_orderkey // 1000 AS INTEGER) AS block_id_group,
             |       count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS id_sum
             |FROM orders WHERE o_orderkey < 5000 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K1 maintenance, Z-order flavor: compact-with-Morton-clustering on the
    // two probe dimensions, then a 2-predicate rectangle probe of the
    // compacted sink. The oracle asserts the probe's row set is exactly the
    // declarative filter (layout must never change answers); SinksSpec
    // asserts the physical payoff (row-group skipping beats the linear
    // sort ≥2× on the same probe).
    Q("k1_compact_zorder", "K1",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
        val src = Tables(s, d, "lineitem")
          .filter(col("l_orderkey") < 5000)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            blockIdGroup(col("l_orderkey")).as("block_id_group"))
        src.repartition(8).write.mode("overwrite")
          .partitionBy("block_id_group").parquet(out)
        Sinks.compactBuckets(s, out, sortCols = Seq("l_orderkey"),
          zorderCols = Some(("l_partkey", "l_suppkey")))
        s.read.parquet(out)
          .filter(col("l_partkey").between(100, 900)
            && col("l_suppkey").between(10, 60))
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
          .orderBy("l_orderkey", "l_partkey", "l_suppkey")
      },
      Some("""SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
             |WHERE l_orderkey < 5000 AND l_partkey BETWEEN 100 AND 900
             |  AND l_suppkey BETWEEN 10 AND 60
             |ORDER BY l_orderkey, l_partkey, l_suppkey""".stripMargin)),

    // Cross-stream referential-integrity audit (the post-load ETL check
    // J1's cardinality contract formalizes): logs whose transaction_hash
    // has no parent in the ingested transaction range, counted per block
    // group. Left-anti join on the hash — the logs stream reads 100 blocks
    // PAST the transaction range, so the orphan set is non-empty and the
    // audit's failure path is what the oracle checks.
    Q("eth_audit_referential", "A",
      (s, d) => {
        val txs = readStream(s, chain100, "transaction", 0, 399)
          .select(col("hash"))
        readStream(s, chain100, "log", 0, 499)
          .join(txs, col("transaction_hash") === col("hash"), "left_anti")
          .groupBy((col("block_number") / 100).cast("int").as("block_group"))
          .agg(count(lit(1)).as("n_orphans"))
          .orderBy("block_group")
      },
      Some(s"""WITH ${chainLogsCte(400, 499)}
              |SELECT CAST(b // 100 AS INTEGER) AS block_group, count(*) AS n_orphans
              |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K6 (engine-beyond-reference): file-level data-skipping manifest —
    // the Delta/Iceberg min/max-per-file statistics table for plain
    // parquet. Partition dirs and parquet footers already skip at their
    // granularities, but a selective scan still OPENS every file of a
    // surviving partition; the manifest pre-read (one metadata-sized
    // table) keeps the file-open count proportional to the files that can
    // match. The range-partitioned write gives each file a tight key
    // interval, the probe reads only intersecting files, and the exact
    // row-level filter still runs — a superset manifest can cost IO,
    // never correctness (the oracle pins that). SinksSpec asserts the
    // physical payoff (files opened < files total) and the empty-range /
    // full-range edges.
    Q("k6_manifest_prune", "Q2",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_manifest")
          .toString + "/orders"
        Tables(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey"))
          .write.mode("overwrite").parquet(out)
        Sinks.writeManifest(s, out, Seq("o_orderkey"))
        Sinks.readRangeViaManifest(s, out, "o_orderkey", 10000, 19999)
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents_sum"))
      },
      Some("""SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM orders WHERE o_orderkey BETWEEN 10000 AND 19999""".stripMargin)),

    // Per-file BLOOM manifest point lookup — file skipping where min/max
    // stats are useless: the hash key spreads uniformly, so every file's
    // [min,max] interval covers every probe, but each key lives in ONE
    // file and the bloom manifest proves the others can't hold it (no
    // false negatives; false positives only cost IO — the exact filter
    // still runs, which is what the oracle pins). SinksSpec asserts the
    // physical payoff: files opened < files total.
    Q("k7_bloom_point_lookup", "Q1",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_bloom")
          .toString + "/hashed"
        val hashed = Tables(s, d, "customer")
          .select(concat(lit("0x"), md5(col("c_name"))).as("tx_hash"),
            col("c_custkey"))
        hashed.repartition(8, col("tx_hash"))
          .write.mode("overwrite").parquet(out)
        Sinks.writeBloomManifest(s, out, "tx_hash")
        val probe = hashed.filter(col("c_custkey") === 42)
          .select(col("tx_hash")).collect()(0).getString(0) // 1-row metadata
        Sinks.pointLookupViaBloom(s, out, "tx_hash", probe)
          .select(col("tx_hash"), col("c_custkey"))
      },
      Some("""SELECT '0x' || md5(c_name) AS tx_hash, c_custkey FROM customer
             |WHERE '0x' || md5(c_name) =
             |  (SELECT '0x' || md5(c_name) FROM customer WHERE c_custkey = 42)""".stripMargin)),

    // Per-file NDV (KMV) manifest: the table's distinct-count estimate
    // computed from METADATA ONLY — each file stores its bottom-256 md5
    // value set; bottom-k of the union of per-file bottom-k sets IS the
    // bottom-k of the union (lossless merge algebra), so the
    // manifest-only estimate equals running the KMV sketch directly on
    // the data — which is exactly what the oracle does. Exact distinct
    // rides along as the audit column.
    Q("k8_manifest_ndv", "Q2",
      (s, d) => {
        val out = java.nio.file.Files.createTempDirectory("graft_ndv")
          .toString + "/customer"
        Tables(s, d, "customer").select(col("c_name"))
          .repartition(8, col("c_name"))
          .write.mode("overwrite").parquet(out)
        Sinks.writeNdvManifest(s, out, "c_name", k = 256)
        Sinks.ndvFromManifest(s, out, k = 256)
          .crossJoin(broadcast(Tables(s, d, "customer")
            .agg(countDistinct(col("c_name")).as("exact_distinct"))))
      },
      Some(s"""WITH h AS (SELECT DISTINCT ${md5LongSql("c_name")} AS hh FROM customer),
             |b AS (SELECT hh FROM h ORDER BY hh LIMIT 256),
             |a AS (SELECT count(*) AS n_kept, max(hh) AS kth FROM b),
             |x AS (SELECT count(DISTINCT c_name) AS exact_distinct FROM customer)
             |SELECT CAST(256 AS INTEGER) AS k, CAST(n_kept AS BIGINT) AS n_kept,
             |  kth AS kth_min_hash,
             |  CAST(CASE WHEN n_kept < 256 THEN n_kept
             |       ELSE (CAST(n_kept AS HUGEINT) - 1) * 1152921504606846976 // kth
             |       END AS BIGINT) AS est_distinct,
             |  CAST(exact_distinct AS BIGINT) AS exact_distinct
             |FROM a CROSS JOIN x""".stripMargin)),

    // S5 generalized to a full operator: backward AS-OF JOIN — for every
    // "purchase" event, the latest "click" at-or-before it per user
    // (the reference's timestamp->block watermark lookup is the k=1 scalar
    // case). Spark has no ASOF JOIN; graft.operators.AsofJoin composes it
    // from union + window in ONE key shuffle. DuckDB verifies with its
    // native ASOF LEFT JOIN.
    Q("j_asof_backward", "S5",
      (s, d) => {
        val (left, right) = asofInputs(s, d)
        graft.operators.AsofJoin.backward(left, right, Seq("user_id"),
            leftTs = "ts", rightTs = "rts",
            valueCols = Seq("click_id", "click_value"), tieBreak = "click_id")
          .select(col("event_id"), col("user_id"), col("asof_click_id"),
            round(col("asof_click_value") * 100).cast("long").as("asof_click_cents"))
          .orderBy("event_id")
      },
      Some(s"""WITH $asofCte
             |SELECT l.event_id, l.user_id, r.click_id AS asof_click_id,
             |       CAST(round(r.value * 100) AS BIGINT) AS asof_click_cents
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
             |ORDER BY l.event_id""".stripMargin)),

    // The forward direction: the EARLIEST click at-or-after each purchase
    // per user ("next event" lookups). Same one-shuffle union+window shape,
    // window ordered by descending timestamp. DuckDB verifies with its
    // native forward ASOF (l.ts <= r.ts).
    Q("j_asof_forward", "S5",
      (s, d) => {
        val (left, right) = asofInputs(s, d)
        graft.operators.AsofJoin.forward(left, right, Seq("user_id"),
            leftTs = "ts", rightTs = "rts",
            valueCols = Seq("click_id", "click_value"), tieBreak = "click_id")
          .select(col("event_id"), col("user_id"), col("asof_click_id"),
            round(col("asof_click_value") * 100).cast("long").as("asof_click_cents"))
          .orderBy("event_id")
      },
      Some(s"""WITH $asofCte
             |SELECT l.event_id, l.user_id, r.click_id AS asof_click_id,
             |       CAST(round(r.value * 100) AS BIGINT) AS asof_click_cents
             |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
             |ORDER BY l.event_id""".stripMargin)),

    // The nearest direction: minimum |Δts| with backward winning ties —
    // the MergeTree/kdb "nearest" mode. ONE key exchange feeds both
    // direction windows; a per-row integer micros compare picks the
    // winner. DuckDB has no nearest ASOF, so the oracle is the explicit
    // per-pair argmin — proving the window form equals the definition.
    Q("j_asof_nearest", "S5",
      (s, d) => {
        val (left, right) = asofInputs(s, d)
        graft.operators.AsofJoin.nearest(left, right, Seq("user_id"),
            leftTs = "ts", rightTs = "rts",
            valueCols = Seq("click_id", "click_value"), tieBreak = "click_id")
          .select(col("event_id"), col("user_id"), col("asof_click_id"),
            round(col("asof_click_value") * 100).cast("long").as("asof_click_cents"),
            col("asof_direction"))
          .orderBy("event_id")
      },
      Some(s"""WITH $asofCte,
             |j AS (SELECT l.event_id, r.click_id, r.value,
             |        CASE WHEN r.ts <= l.ts THEN 'backward' ELSE 'forward' END AS dir,
             |        row_number() OVER (PARTITION BY l.event_id
             |          ORDER BY abs(epoch_us(l.ts) - epoch_us(r.ts)),
             |                   CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END) AS rn
             |      FROM l JOIN r ON l.user_id = r.user_id)
             |SELECT l.event_id, l.user_id, j.click_id AS asof_click_id,
             |       CAST(round(j.value * 100) AS BIGINT) AS asof_click_cents,
             |       j.dir AS asof_direction
             |FROM l LEFT JOIN j ON j.event_id = l.event_id AND j.rn = 1
             |ORDER BY l.event_id""".stripMargin)),

    // K13: incremental maintenance of a JOIN view (delta-join IVM):
    // the materialized orders⋈customers view updates under BOTH fact
    // inserts and dimension upserts WITHOUT a full re-join —
    // Δ(A⋈B) = ΔA⋈B' ∪ (A⋈ΔB), applied as a bucket-granular upsert
    // keyed on the fact PK (a dimension change rewrites exactly the
    // fact rows that join it). The oracle is the full recompute: the
    // incremental path must be indistinguishable from it.
    Q("k13_ivm_join", "K",
      (s, d) => {
        import graft.eth.Versioned
        val dir = java.nio.file.Files.createTempDirectory("graft_ivm").toString + "/v"
        val orders = Tables(s, d, "orders")
        val cust = Tables(s, d, "customer")
        val a0 = orders.filter(col("o_orderkey") <= 1000)
          .select(col("o_orderkey"), expr("o_orderkey div 500").as("bkt"),
            col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("price_c"))
        val dA = orders.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 1200)
          .select(col("o_orderkey"), expr("o_orderkey div 500").as("bkt"),
            col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("price_c"))
        val b0 = cust.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        val dB = cust.filter(col("c_custkey") % 2 === 1)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
          .unionByName(cust.filter(col("c_custkey") % 10 === 0)
            .select(col("c_custkey"), lit("VIP").as("segment")))
        // v1: initial view = A0 ⋈ B0
        Versioned.commit(a0.join(b0, col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("bkt"), col("o_custkey"), col("price_c"),
            col("segment")), dir, Seq("o_orderkey"), "bkt")
        // incremental batch: B' = ΔB wins over B0 on collision
        val b1 = dB.unionByName(
          b0.join(dB.select(col("c_custkey")), Seq("c_custkey"), "left_anti"))
        val d1 = dA.join(b1, col("o_custkey") === col("c_custkey"))
        val d2 = a0.join(dB, col("o_custkey") === col("c_custkey"))
        Versioned.commit(d1.unionByName(d2)
          .select(col("o_orderkey"), col("bkt"), col("o_custkey"), col("price_c"),
            col("segment")), dir, Seq("o_orderkey"), "bkt")
        Versioned.readAt(s, dir)
          .groupBy(col("segment"))
          .agg(count(lit(1)).as("n_orders"), sum(col("price_c")).as("sum_price_c"))
          .orderBy("segment")
      },
      Some("""WITH a AS (SELECT o_orderkey, o_custkey,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
             |       FROM orders WHERE o_orderkey <= 1200),
             |b AS (SELECT c_custkey,
             |         CASE WHEN c_custkey % 10 = 0 THEN 'VIP' ELSE c_mktsegment END AS segment
             |       FROM customer)
             |SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(price_c) AS BIGINT) AS sum_price_c
             |FROM a JOIN b ON o_custkey = c_custkey
             |GROUP BY segment ORDER BY segment""".stripMargin)),

    // K12: exactly-once streaming commits — commitTxn records the batch's
    // txn id at the manifest commit point; replaying the SAME txn id (a
    // restarted stream re-running a batch whose commit already landed)
    // is a no-op returning the original version instead of
    // double-applying. The output row carries the version numbers each
    // call returned plus the final table aggregate: double-apply would
    // break the sum, a phantom version would break n_versions.
    Q("k12_exactly_once", "K",
      (s, d) => {
        import graft.eth.Versioned
        val dir = java.nio.file.Files.createTempDirectory("graft_txn").toString + "/t"
        val base = Tables(s, d, "orders")
          .filter(col("o_orderkey") <= 1000)
          .select(col("o_orderkey"),
            expr("o_orderkey div 500").as("bkt"),
            round(col("o_totalprice") * 100).cast("long").as("price_c"))
        val v1 = Versioned.commitTxn(base, dir, Seq("o_orderkey"), "bkt", "batch-1")
        val v1r = Versioned.commitTxn(base, dir, Seq("o_orderkey"), "bkt", "batch-1")
        val delta = base.filter(col("o_orderkey") <= 100)
          .withColumn("price_c", col("price_c") + 777L)
        val v2 = Versioned.commitTxn(delta, dir, Seq("o_orderkey"), "bkt", "batch-2")
        val v2r = Versioned.commitTxn(delta, dir, Seq("o_orderkey"), "bkt", "batch-2")
        Versioned.readAt(s, dir)
          .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_price_cents"))
          .select(col("n_rows"), col("sum_price_cents"),
            lit(v1).as("v1"), lit(v1r).as("v1_replay"),
            lit(v2).as("v2"), lit(v2r).as("v2_replay"),
            lit(Versioned.latestVersion(dir)).as("n_versions"))
      },
      Some("""WITH base AS (SELECT o_orderkey,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS p
             |       FROM orders WHERE o_orderkey <= 1000)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN o_orderkey <= 100 THEN p + 777 ELSE p END) AS BIGINT)
             |    AS sum_price_cents,
             |  CAST(1 AS BIGINT) AS v1, CAST(1 AS BIGINT) AS v1_replay,
             |  CAST(2 AS BIGINT) AS v2, CAST(2 AS BIGINT) AS v2_replay,
             |  CAST(2 AS BIGINT) AS n_versions
             |FROM base""".stripMargin)),

    // K11: change-data read between two Versioned commits (Delta CDF
    // shape): v1 = base, v2 = upserts (+500c on key % 7 = 0) + inserts
    // (keys 100001..100020, new bucket) + MERGE-delete (key % 13 = 0,
    // evaluated post-merge so it beats a same-key update AND kills a
    // matching insert). diff(1,2) classifies per PK from the manifests:
    // buckets whose file lists are identical in both versions are pruned
    // WITHOUT A SCAN (immutable files carried by reference); only
    // touched buckets are read and full-outer-joined on the PK.
    Q("k11_version_diff", "K",
      (s, d) => {
        import graft.eth.Versioned
        val dir = java.nio.file.Files.createTempDirectory("graft_cdf").toString + "/t"
        val base = ordersBase(s, d)
        Versioned.commit(base, dir, Seq("o_orderkey"), "bkt")
        val upd = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("price_c", col("price_c") + 500L)
        val ins = s.range(1, 21).select(
          (col("id") + 100000L).as("o_orderkey"),
          lit(200L).as("bkt"), (col("id") * 1000L).as("price_c"))
        Versioned.commit(upd.unionByName(ins), dir, Seq("o_orderkey"), "bkt",
          deleteWhere = Some(col("o_orderkey") % 13 === 0))
        Versioned.diff(s, dir, 1L, 2L, Seq("o_orderkey"))
          .orderBy("change_type", "o_orderkey")
      },
      Some(s"""WITH $ordersBaseCte,
             |v2 AS (SELECT o_orderkey, bkt,
             |         CASE WHEN o_orderkey % 7 = 0 THEN price_c + 500 ELSE price_c END AS price_c
             |       FROM base WHERE o_orderkey % 13 <> 0
             |       UNION ALL
             |       SELECT 100000 + x, CAST(200 AS BIGINT), CAST(x * 1000 AS BIGINT)
             |       FROM (SELECT unnest(range(1, 21)) AS x) WHERE (100000 + x) % 13 <> 0),
             |j AS (SELECT b.o_orderkey AS ok, n.o_orderkey AS nk,
             |        b.bkt AS ob, n.bkt AS nb, b.price_c AS op, n.price_c AS np
             |      FROM base b FULL OUTER JOIN v2 n ON b.o_orderkey = n.o_orderkey),
             |c AS (SELECT CASE WHEN nk IS NULL THEN 'delete'
             |              WHEN ok IS NULL THEN 'insert'
             |              WHEN op <> np OR ob <> nb THEN 'update' END AS change_type,
             |        CASE WHEN nk IS NULL THEN ok ELSE nk END AS o_orderkey,
             |        CASE WHEN nk IS NULL THEN ob ELSE nb END AS bkt,
             |        CASE WHEN nk IS NULL THEN op ELSE np END AS price_c
             |      FROM j)
             |SELECT change_type, o_orderkey, bkt, price_c FROM c
             |WHERE change_type IS NOT NULL
             |ORDER BY change_type, o_orderkey""".stripMargin)),

    // K11b: rename/drop schema evolution as METADATA-ONLY commits
    // (logical column mapping — the Delta column-mapping shape): v1 =
    // base with (price_c, flag), v2 = rename price_c→amount_c (zero data
    // files written), v3 = an upsert THROUGH the rename (caller speaks
    // the new logical name; physical files keep the original), v4 = drop
    // flag (bytes stay, readers stop seeing it). Each era is read back
    // at its version: the value sums prove the mapping routes data
    // correctly and the column sets prove time travel sees each era's
    // shape. The oracle replays the arithmetic and the expected shapes.
    Q("k11_schema_evolution", "K",
      (s, d) => {
        import graft.eth.Versioned
        val dir = java.nio.file.Files.createTempDirectory("graft_evoq").toString + "/t"
        val base = ordersBase(s, d).withColumn("flag", col("o_orderkey") % 2 === 0)
        Versioned.commit(base, dir, Seq("o_orderkey"), "bkt")   // v1
        Versioned.renameColumn(dir, "price_c", "amount_c")      // v2
        val upd = Versioned.readAt(s, dir)
          .filter(col("o_orderkey") <= 300)
          .withColumn("amount_c", col("amount_c") + 900L)
        Versioned.commit(upd, dir, Seq("o_orderkey"), "bkt")    // v3
        Versioned.dropColumn(dir, "flag")                       // v4
        def era(v: Long, valueCol: String) = {
          val r = Versioned.readAt(s, dir, v)
          r.agg(count(lit(1)).as("n_rows"), sum(col(valueCol)).as("sum_cents"))
            .select(lit(v).as("version"), col("n_rows"), col("sum_cents"),
              lit(r.columns.length.toLong).as("n_cols"),
              lit(r.columns.contains("flag")).as("has_flag"),
              lit(r.columns.contains("amount_c")).as("has_amount"))
        }
        era(1L, "price_c").unionAll(era(3L, "amount_c"))
          .unionAll(era(4L, "amount_c")).orderBy("version")
      },
      Some(s"""WITH $ordersBaseCte,
             |s1 AS (SELECT count(*) AS n, sum(price_c) AS s FROM base),
             |s3 AS (SELECT count(*) AS n,
             |         sum(CASE WHEN o_orderkey <= 300 THEN price_c + 900 ELSE price_c END) AS s
             |       FROM base)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS version, CAST(n AS BIGINT) AS n_rows,
             |    CAST(s AS BIGINT) AS sum_cents, CAST(4 AS BIGINT) AS n_cols,
             |    true AS has_flag, false AS has_amount FROM s1
             |  UNION ALL
             |  SELECT CAST(3 AS BIGINT), CAST(n AS BIGINT), CAST(s AS BIGINT),
             |    CAST(4 AS BIGINT), true, true FROM s3
             |  UNION ALL
             |  SELECT CAST(4 AS BIGINT), CAST(n AS BIGINT), CAST(s AS BIGINT),
             |    CAST(3 AS BIGINT), false, true FROM s3)
             |ORDER BY version""".stripMargin)),

    // K9: multi-version time travel on the bucketed sink (Delta-lite
    // manifest log): commit v1, then a correction commit touching only
    // half the buckets; read BOTH versions back and prove v1 still
    // answers with pre-correction numbers while untouched buckets share
    // physical files. Oracle recomputes both versions' stats from the
    // base table.
    Q("k9_time_travel", "K",
      (s, d) => {
        import graft.eth.Versioned
        val dir = java.nio.file.Files.createTempDirectory("graft_tt").toString + "/t"
        val base = ordersBase(s, d)
        Versioned.commit(base, dir, Seq("o_orderkey"), "bkt")
        val correction = base
          .filter(col("o_orderkey") > 1000)
          .withColumn("price_c", col("price_c") + 100000L)
        Versioned.commit(correction, dir, Seq("o_orderkey"), "bkt")
        def stats(v: Long) = Versioned.readAt(s, dir, v)
          .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_price_cents"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_price_cents"))
        stats(1L).unionAll(stats(2L)).orderBy("version")
      },
      Some(s"""WITH $ordersBaseCte,
             |v1 AS (SELECT CAST(1 AS BIGINT) AS version, count(*) AS n, sum(price_c) AS s FROM base),
             |v2 AS (SELECT CAST(2 AS BIGINT), count(*),
             |         sum(CASE WHEN o_orderkey > 1000 THEN price_c + 100000 ELSE price_c END)
             |       FROM base)
             |SELECT version, CAST(n AS BIGINT) AS n_rows, CAST(s AS BIGINT) AS sum_price_cents
             |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
             |ORDER BY version""".stripMargin)),

    // K10: general MERGE / CDC apply on the bucketed sink — matched-update,
    // not-matched-insert, matched-delete, delete-of-absent (no-op),
    // same-PK sequencing (highest CDC offset wins, including a
    // delete-then-reinsert) — all in ONE window pass over the touched
    // buckets only. The oracle replays the identical priority/seq window
    // over the base ∪ changeset union.
    Q("k10_merge_cdc", "K",
      (s, d) => {
        import s.implicits._
        import graft.eth.Sinks
        val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/t"
        val base = ordersBase(s, d)
        Sinks.writeBucketedParquet(base, dir, "bkt", Seq("o_orderkey"))
        val upd = base
          .filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000)
          .withColumn("price_c", col("price_c") + 777L)
          .withColumn("op", lit("U")).withColumn("seq", lit(1L))
        val del = base
          .filter(col("o_orderkey") > 1500 && col("o_orderkey") <= 1600)
          .withColumn("op", lit("D")).withColumn("seq", lit(1L))
        val ins = (9001L to 9005L)
          .map(k => (k, k / 500, k * 10, "U", 1L))
          .toDF("o_orderkey", "bkt", "price_c", "op", "seq")
        val seqPlay = Seq(
          (600L, 1L, 42L, "U", 2L),     // overrides the seq-1 update
          (700L, 1L, 0L, "D", 2L),      // delete wins over the seq-1 update
          (800L, 1L, 0L, "D", 2L),      // delete...
          (800L, 1L, 4242L, "U", 3L),   // ...then reinsert at a later offset
          (99999L, 199L, 0L, "D", 1L))  // delete of an absent PK: no-op
          .toDF("o_orderkey", "bkt", "price_c", "op", "seq")
        Sinks.mergeCdcBucketedParquet(
          upd.unionByName(del).unionByName(ins).unionByName(seqPlay),
          dir, Seq("o_orderkey"), bucketCol = "bkt",
          sortCols = Seq("o_orderkey"))
        s.read.parquet(dir)
          .select(col("o_orderkey"), col("bkt").cast("long").as("bkt"),
            col("price_c"))
          .orderBy("o_orderkey")
      },
      Some(s"""WITH $ordersBaseCte,
             |changes(o_orderkey, bkt, price_c, op, seq) AS (
             |  SELECT o_orderkey, bkt, price_c + 777, 'U', 1 FROM base
             |  WHERE o_orderkey > 500 AND o_orderkey <= 1000
             |  UNION ALL SELECT o_orderkey, bkt, price_c, 'D', 1 FROM base
             |  WHERE o_orderkey > 1500 AND o_orderkey <= 1600
             |  UNION ALL SELECT k, k // 500, k * 10, 'U', 1
             |  FROM range(9001, 9006) t(k)
             |  UNION ALL SELECT * FROM (VALUES (600, 1, 42, 'U', 2),
             |    (700, 1, 0, 'D', 2), (800, 1, 0, 'D', 2),
             |    (800, 1, 4242, 'U', 3), (99999, 199, 0, 'D', 1))),
             |u AS (SELECT o_orderkey, bkt, price_c, op, seq, 1 AS pri FROM changes
             |      UNION ALL
             |      SELECT o_orderkey, bkt, price_c, 'U',
             |             CAST(-9223372036854775807 - 1 AS BIGINT), 0 FROM base),
             |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             |        ORDER BY pri DESC, seq DESC) AS rn FROM u)
             |SELECT o_orderkey, CAST(bkt AS BIGINT) AS bkt,
             |       CAST(price_c AS BIGINT) AS price_c
             |FROM r WHERE rn = 1 AND op <> 'D'
             |ORDER BY o_orderkey""".stripMargin)),

    // K5, DDL-executor form: render each registry entry as CREATE TABLE DDL
    // (the engine-side analogue of the reference feeding schema.cql to its
    // DDL executor). Oracle transcribed by hand from the contract.
    Q("k5_ddl_generate", "K5",
      (s, d) => {
        import s.implicits._
        graft.eth.EthSchemas.tables.toSeq
          .map { case (t, st) => (t, graft.eth.EthSchemas.toDdl(t, st)) }
          .toDF("table_name", "ddl")
          .orderBy("table_name")
      },
      Some("""SELECT * FROM (VALUES
             | ('block','CREATE TABLE block (block_id_group INT, block_id INT, block_hash BINARY, parent_hash BINARY, nonce BINARY, sha3_uncles BINARY, logs_bloom BINARY, transactions_root BINARY, state_root BINARY, receipts_root BINARY, miner BINARY, difficulty DECIMAL(38,0), total_difficulty DECIMAL(38,0), size INT, extra_data BINARY, gas_limit INT, gas_used INT, base_fee_per_gas BIGINT, timestamp INT, transaction_count SMALLINT)'),
             | ('configuration','CREATE TABLE configuration (id STRING, block_bucket_size INT, tx_prefix_length INT)'),
             | ('exchange_rates','CREATE TABLE exchange_rates (date STRING, fiat_values MAP<STRING, FLOAT>)'),
             | ('log','CREATE TABLE log (block_id_group INT, block_id INT, log_index INT, tx_hash BINARY, address BINARY, data BINARY, topics ARRAY<BINARY>, topic0 BINARY)'),
             | ('trace','CREATE TABLE trace (block_id_group INT, block_id INT, trace_index INT, tx_hash BINARY, transaction_index SMALLINT, from_address BINARY, to_address BINARY, value DECIMAL(38,0), input BINARY, output BINARY, trace_type STRING, call_type STRING, reward_type STRING, gas INT, gas_used INT, subtraces INT, trace_address STRING, error STRING, status SMALLINT, trace_id STRING)'),
             | ('transaction','CREATE TABLE transaction (tx_hash_prefix STRING, tx_hash BINARY, nonce INT, block_hash BINARY, block_id INT, transaction_index SMALLINT, from_address BINARY, to_address BINARY, value DECIMAL(38,0), gas INT, gas_price DECIMAL(38,0), input BINARY, block_timestamp INT, max_fee_per_gas BIGINT, max_priority_fee_per_gas BIGINT, transaction_type BIGINT, receipt_cumulative_gas_used DECIMAL(38,0), receipt_gas_used DECIMAL(38,0), receipt_contract_address BINARY, receipt_root BINARY, receipt_status BIGINT, receipt_effective_gas_price BIGINT)')
             |) t(table_name, ddl)
             |ORDER BY table_name""".stripMargin)),

    // S6/K5: schema-registry introspection. The oracle is a hand-written
    // VALUES literal transcribed from the reference contract
    // (ref: scripts/schema.cql:1-102) — NOT generated from the registry — so
    // the gate catches any drift between EthSchemas and the contract (e.g. a
    // column typed varint where schema.cql says bigint).
    Q("s6_schema_registry", "S6",
      (s, d) => {
        import s.implicits._
        graft.eth.EthSchemas.tables.toSeq
          .flatMap { case (t, st) => st.fields.map(f => (t, f.name, f.dataType.simpleString)) }
          .toDF("table_name", "column_name", "data_type")
          .orderBy("table_name", "column_name")
      },
      Some("""SELECT * FROM (VALUES
             | ('block','block_id_group','int'),('block','block_id','int'),('block','block_hash','binary'),
             | ('block','parent_hash','binary'),('block','nonce','binary'),('block','sha3_uncles','binary'),
             | ('block','logs_bloom','binary'),('block','transactions_root','binary'),('block','state_root','binary'),
             | ('block','receipts_root','binary'),('block','miner','binary'),('block','difficulty','decimal(38,0)'),
             | ('block','total_difficulty','decimal(38,0)'),('block','size','int'),('block','extra_data','binary'),
             | ('block','gas_limit','int'),('block','gas_used','int'),('block','base_fee_per_gas','bigint'),
             | ('block','timestamp','int'),('block','transaction_count','smallint'),
             | ('transaction','tx_hash_prefix','string'),('transaction','tx_hash','binary'),
             | ('transaction','nonce','int'),('transaction','block_hash','binary'),('transaction','block_id','int'),
             | ('transaction','transaction_index','smallint'),('transaction','from_address','binary'),
             | ('transaction','to_address','binary'),('transaction','value','decimal(38,0)'),('transaction','gas','int'),
             | ('transaction','gas_price','decimal(38,0)'),('transaction','input','binary'),
             | ('transaction','block_timestamp','int'),('transaction','max_fee_per_gas','bigint'),
             | ('transaction','max_priority_fee_per_gas','bigint'),('transaction','transaction_type','bigint'),
             | ('transaction','receipt_cumulative_gas_used','decimal(38,0)'),
             | ('transaction','receipt_gas_used','decimal(38,0)'),('transaction','receipt_contract_address','binary'),
             | ('transaction','receipt_root','binary'),('transaction','receipt_status','bigint'),
             | ('transaction','receipt_effective_gas_price','bigint'),
             | ('trace','block_id_group','int'),('trace','block_id','int'),('trace','trace_index','int'),
             | ('trace','tx_hash','binary'),('trace','transaction_index','smallint'),('trace','from_address','binary'),
             | ('trace','to_address','binary'),('trace','value','decimal(38,0)'),('trace','input','binary'),
             | ('trace','output','binary'),('trace','trace_type','string'),('trace','call_type','string'),
             | ('trace','reward_type','string'),('trace','gas','int'),('trace','gas_used','int'),
             | ('trace','subtraces','int'),('trace','trace_address','string'),('trace','error','string'),
             | ('trace','status','smallint'),('trace','trace_id','string'),
             | ('log','block_id_group','int'),('log','block_id','int'),('log','log_index','int'),
             | ('log','tx_hash','binary'),('log','address','binary'),('log','data','binary'),
             | ('log','topics','array<binary>'),('log','topic0','binary'),
             | ('exchange_rates','date','string'),('exchange_rates','fiat_values','map<string,float>'),
             | ('configuration','id','string'),('configuration','block_bucket_size','int'),
             | ('configuration','tx_prefix_length','int')
             |) t(table_name, column_name, data_type)
             |ORDER BY table_name, column_name""".stripMargin)))
}

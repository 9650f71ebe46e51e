package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Association-rule mining over per-key item baskets (Agrawal & Srikant
  * 1994, restricted to the 1-item ⇒ 1-item rules that cover most
  * production uses — "users who did A also did B"): support, confidence,
  * and lift for every ordered item pair co-occurring in enough baskets.
  *
  * Scale shape: baskets reduce to DISTINCT (key, item) rows first (one
  * map-side-combined aggregate — multiplicity inside a basket never
  * inflates counts); the pair stream is one self-equi-join on the basket
  * key (bounded per basket by the item-universe cap, never |rows|²); item
  * and pair counts are two aggregates with map-side partials; the basket
  * total rides a 1-row broadcast. Statistics are integer-exact
  * milli-units with truncating division, so engines agree bit-for-bit.
  */
object Associations {

  /** @param df       one row per observation
    * @param keyCol   basket key (e.g. user id)
    * @param itemCol  item within the basket (pre-bucketed by the caller)
    * @param minPairCount rules below this co-occurrence count are dropped
    *                     (the classic min-support prune, in absolute
    *                     baskets)
    * @return one row per ordered rule (a ⇒ b): item_a, item_b, c_ab, c_a,
    *         c_b, n_baskets, supp_milli = 1000·c_ab/N, conf_milli =
    *         1000·c_ab/c_a, lift_milli = 1000·N·c_ab/(c_a·c_b). */
  /** Sequential 2-pattern rules (PrefixSpan restricted to length-2
    * patterns — "users who did A tend to do B LATER"): a pair (a ⇒ b)
    * counts for a basket when a's FIRST occurrence strictly precedes
    * b's first occurrence. The order constraint is what [[rules]]
    * cannot express — co-occurrence is symmetric, causality isn't.
    *
    * Scale shape: the basket reduces to one (key, item, first_ts) row
    * per distinct item FIRST (map-side-combined min aggregate), so the
    * ordered-pair join fans out at most |item universe|² per basket —
    * and the pair stage's distribution is pinned on the basket key for
    * the same reason as [[rules]] (bytes-based AQE cannot see fan-out).
    * Ties (equal first timestamps) count for NEITHER direction —
    * deterministic and symmetric.
    *
    * @return item_a, item_b, c_ab (baskets where a precedes b), c_a
    *         (baskets containing a at all), n_baskets, supp_milli,
    *         conf_milli. */
  def sequenceRules(df: DataFrame, keyCol: String, itemCol: String,
                    tsCol: String, minPairCount: Long = 2L): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    // reused by both pair sides + item counts
    val firsts = Pin(df.select(col(keyCol).as("__k"), col(itemCol).as("__i"),
        col(tsCol).as("__t"))
      .filter(col("__i").isNotNull && col("__t").isNotNull)
      .groupBy(col("__k"), col("__i")).agg(min(col("__t")).as("__t")))
    val itemCounts = firsts.groupBy(col("__i")).agg(count(lit(1)).as("c"))
    val nBaskets = firsts.select(col("__k")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val nPart = df.sparkSession.sparkContext.defaultParallelism
    val pairs = firsts.repartition(nPart, col("__k"))
      .select(col("__k"), col("__i").as("item_a"), col("__t").as("__ta"))
      .join(firsts.select(col("__k"), col("__i").as("item_b"),
        col("__t").as("__tb")), "__k")
      .filter(col("__ta") < col("__tb"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    pairs
      .join(itemCounts.select(col("__i").as("item_a"), col("c").as("c_a")), "item_a")
      .crossJoin(broadcast(nBaskets))
      .withColumn("supp_milli", expr("c_ab * 1000 div n_baskets"))
      .withColumn("conf_milli", expr("c_ab * 1000 div c_a"))
      .select(col("item_a"), col("item_b"), col("c_ab"), col("c_a"),
        col("n_baskets"), col("supp_milli"), col("conf_milli"))
  }

  def rules(df: DataFrame, keyCol: String, itemCol: String,
            minPairCount: Long = 2L): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val baskets = df.select(col(keyCol).as("__k"), col(itemCol).as("__i"))
      .filter(col("__i").isNotNull).distinct()
    val itemCounts = baskets.groupBy(col("__i")).agg(count(lit(1)).as("c"))
    val nBaskets = baskets.select(col("__k")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    // The pair join fans out ~|basket| rows per input row — a property
    // BYTES-based planning cannot see: AQE sizes post-shuffle partitions
    // (and its coalescing) from the tiny distinct-baskets byte count and
    // happily serializes the whole pair explosion into one task (measured
    // 53x at the 10x scale gate before this pin). Explicit
    // repartition(n, __k) is a hard distribution requirement AQE must
    // honor, so the explosion and its map-side partial aggregate spread
    // across the session's full parallelism.
    val nPart = df.sparkSession.sparkContext.defaultParallelism
    val pairs = baskets.repartition(nPart, col("__k"))
      .select(col("__k"), col("__i").as("item_a"))
      .join(baskets.select(col("__k"), col("__i").as("item_b")), "__k")
      .filter(col("item_a") =!= col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    pairs
      .join(itemCounts.select(col("__i").as("item_a"), col("c").as("c_a")), "item_a")
      .join(itemCounts.select(col("__i").as("item_b"), col("c").as("c_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .withColumn("supp_milli", expr("c_ab * 1000 div n_baskets"))
      .withColumn("conf_milli", expr("c_ab * 1000 div c_a"))
      .withColumn("lift_milli", expr(
        "cast(c_ab as decimal(38,0)) * n_baskets * 1000 div (cast(c_a as decimal(38,0)) * c_b)"))
      .select(col("item_a"), col("item_b"), col("c_ab"), col("c_a"),
        col("c_b"), col("n_baskets"), col("supp_milli"), col("conf_milli"),
        col("lift_milli").cast("long").as("lift_milli"))
  }
}

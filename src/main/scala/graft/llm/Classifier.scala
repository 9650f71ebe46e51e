package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Distributed training of the quality classifier — the learned upgrade of
  * the fixed-weight heuristics in [[TextAnalysis]] (reference context: the
  * fastText-style quality classifier every large-scale corpus pipeline
  * trains over hashed n-gram features; the features here come from
  * [[TextAnalysis.featureHash]], Weinberger et al. 2009).
  *
  * Batch gradient descent on logistic loss with DETERMINISTIC fixed-point
  * arithmetic: weights live in integer micro-units; each round's margin
  * and gradient are EXACT integer sums (no float summation order), and the
  * only floating step is the pointwise sigmoid of an exact integer margin,
  * quantized straight back to micro — the same per-row-transcendental
  * discipline as the bigram LM and PMI kernels, so two engines replaying
  * the same rounds agree bit-for-bit. Fixed round count, zero driver
  * state: the output is a pure function of (features, labels).
  *
  * Scale shape, per round: one broadcast join of the |d|-row weight vector
  * onto the sparse feature stream (d ≤ a few thousand hashed dims — never
  * a shuffle), one map-side-combined per-doc margin aggregate, one equi-
  * join of the per-doc error back onto the feature stream keyed on the doc
  * id (the exchange a doc-keyed corpus already has), and one |d|-row
  * gradient aggregate. Nothing materializes more than |features| rows;
  * gradients ride DECIMAL(38,0) (err ≤ 1e6 micro × 1e11 docs × feature
  * magnitude would wrap a long at corpus scale).
  */
object Classifier {

  /** Train logistic-regression weights over sparse integer features.
    *
    * @param features sparse design matrix: (idCol, featCol, xCol) — integer
    *                 feature values (e.g. [[TextAnalysis.featureHash]]
    *                 output, signed counts)
    * @param labels   one row per example: (idCol, yCol) with y ∈ {0, 1}
    * @param rounds   fixed gradient rounds (the determinism contract)
    * @param lrMilli  learning rate in milli-units (500 = 0.5)
    * @return one row per feature seen in `features`: (featCol, w_micro) —
    *         the weight vector in micro-units after `rounds` batch updates
    *         w ← w − lr·∇; ∇_j = Σ_i x_ij·(σ(w·x_i) − y_i) / n
    */
  def logisticTrain(features: DataFrame, labels: DataFrame,
                    rounds: Int = 2, lrMilli: Long = 500L,
                    idCol: String = "doc_id", featCol: String = "feature_idx",
                    xCol: String = "x", yCol: String = "y"): DataFrame =
    trainLoop(pinFeatures(features, idCol, featCol, xCol),
        pinLabels(labels, idCol, yCol), rounds, lrMilli)
      .select(col("__f").as(featCol), col("__w").as("w_micro"))

  /** Train AND score over ONE pinned feature projection (r16, r15 verdict
    * #6): the three eval-family queries each passed the same un-pinned
    * featureHash frame to [[logisticTrain]] (which pins its own copy) and
    * then to [[logisticScore]] — re-running the tokenize+hash explode over
    * the corpus a second time per query. Here the projection is
    * materialized once and feeds both the gradient rounds and the final
    * scoring pass. Output = [[logisticScore]]'s frame, bit-identical
    * (same integer arithmetic over the same rows). */
  def trainAndScore(features: DataFrame, labels: DataFrame,
                    rounds: Int = 2, lrMilli: Long = 500L,
                    idCol: String = "doc_id", featCol: String = "feature_idx",
                    xCol: String = "x", yCol: String = "y"): DataFrame = {
    val feat = pinFeatures(features, idCol, featCol, xCol)
    val w = trainLoop(feat, pinLabels(labels, idCol, yCol), rounds, lrMilli)
    scoreProjected(feat, w, idCol)
  }

  private def pinFeatures(features: DataFrame, idCol: String,
                          featCol: String, xCol: String): DataFrame =
    Pin(features.select(col(idCol).as("__id"),
      col(featCol).cast("long").as("__f"), col(xCol).cast("long").as("__x")))

  private def pinLabels(labels: DataFrame, idCol: String,
                        yCol: String): DataFrame =
    Pin(labels.select(col(idCol).as("__id"), col(yCol).cast("long").as("__y")))

  /** The fixed-round gradient loop over the PINNED projections; returns
    * the weight vector as (__f, __w) in micro-units. */
  private def trainLoop(feat: DataFrame, lab: DataFrame,
                        rounds: Int, lrMilli: Long): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(lrMilli > 0, s"lrMilli must be > 0, got $lrMilli")
    // n as a 1-row broadcast — the gradient scale; never collected
    val n = lab.agg(count(lit(1)).as("__n"))
    val zero = Pin(feat.select(col("__f")).distinct()
      .withColumn("__w", lit(0L)))
    val trained = Pin.rounds(zero, rounds) { (w, _) =>
      // exact integer margin per doc; docs with no features score 0
      val margins = feat.join(broadcast(w), "__f")
        .groupBy(col("__id")).agg(sum(col("__x") * col("__w")).as("__m"))
      // pointwise sigmoid of the EXACT margin, quantized to micro — the
      // one float op, applied to identical inputs on every engine
      val err = lab.join(margins, Seq("__id"), "left")
        .select(col("__id"), (expr(
          """cast(round(1000000.0 /
            |  (1.0 + exp(-(cast(coalesce(__m, 0) as double) / 1000000.0)))) as bigint)
            |""".stripMargin) - col("__y") * 1000000L).as("__e"))
      // exact gradient: Σ x·err per feature, DECIMAL(38,0) against wrap
      val grad = feat.join(err, "__id")
        .groupBy(col("__f"))
        .agg(sum(col("__x").cast("decimal(38,0)") * col("__e")).as("__g"))
      // w ← w − (lr·g) div (1000·n), sign-split truncating div so Spark
      // `div` and DuckDB `//` agree on negative gradients
      w.join(grad, Seq("__f"), "left")
        .crossJoin(broadcast(n))
        .select(col("__f"), (col("__w") - expr(
          s"""CASE WHEN coalesce(__g, 0) < 0
             |     THEN -cast(((-__g) * $lrMilli) div (1000 * __n) as bigint)
             |     ELSE cast((coalesce(__g, 0) * $lrMilli) div (1000 * __n) as bigint)
             |END""".stripMargin)).as("__w"))
    }
    // the zero weights are the first round's input only
    Pin.release(zero)
    trained
  }

  /** Score examples with a trained weight vector: the exact integer dot
    * product margin and its micro-quantized sigmoid probability — the
    * serve-side twin of [[logisticTrain]] (same hashed features, same
    * arithmetic, zero train/serve skew). Broadcast of the |d|-row weights;
    * map-side-combined per-doc aggregate; no other exchange. */
  def logisticScore(features: DataFrame, weights: DataFrame,
                    idCol: String = "doc_id", featCol: String = "feature_idx",
                    xCol: String = "x"): DataFrame =
    scoreProjected(
      features.select(col(idCol).as("__id"),
        col(featCol).cast("long").as("__f"), col(xCol).cast("long").as("__x")),
      weights.select(col(featCol).as("__f"),
        col("w_micro").cast("long").as("__w")),
      idCol)

  private def scoreProjected(feat: DataFrame, w: DataFrame,
                             idCol: String): DataFrame =
    feat.join(broadcast(w.select(col("__f"), col("__w").cast("long").as("__w"))), "__f")
      .groupBy(col("__id"))
      .agg(sum(col("__x") * col("__w")).as("margin_micro"))
      .select(col("__id").as(idCol), col("margin_micro"),
        expr("""cast(round(1000000.0 /
               |  (1.0 + exp(-(cast(margin_micro as double) / 1000000.0)))) as bigint)
               |""".stripMargin).as("p_micro"))
}

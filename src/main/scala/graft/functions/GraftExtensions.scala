package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` — the
  * cluster-wide injection point for the engine's SQL surface: the uint256
  * aggregate plus the bucket-predicate inference optimizer rule
  * ([[graft.plans.BucketPredicateInference]]). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_uint256_sum"),
      GraftFunctions.uint256SumInfo,
      (children: Seq[Expression]) => Uint256Sum(children.head).toAggregateExpression()))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"),
      DotProductExpr.info,
      (children: Seq[Expression]) => DotProductExpr(children(0), children(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_md5_long"),
      Md5LongExpr.info,
      (children: Seq[Expression]) => Md5LongExpr(children.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_cosine"),
      CosineSimExpr.info,
      (children: Seq[Expression]) => CosineSimExpr(children(0), children(1))))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfc"),
      NfcNormalizeExpr.info,
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head)))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_nfkc"),
      NfcNormalizeExpr.infoNfkc,
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head, compat = true)))
    ext.injectOptimizerRule(_ => graft.plans.BucketPredicateInference())
  }
}

package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineArgmaxExpr, CosineSimExpr, JaccardLongExpr, Md5Prefix60Expr, NfcNormalizeExpr, PermMinSigExpr, SimHashVoteExpr}
import org.apache.spark.sql.catalyst.expressions.Literal

/** Engine extension point, wired via `spark.sql.extensions` (set in
  * [[graft.Sessions]]): registers the native expressions so they're usable
  * from SQL and `expr(...)` on any session — the engine's public
  * extensibility contract alongside the custom-Transformer template
  * ([[graft.ml.EmptyListHandler]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_sim takes exactly two arguments")
        CosineSimExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "nfc_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "nfc_normalize takes exactly one argument")
        NfcNormalizeExpr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_long"),
      new ExpressionInfo(classOf[JaccardLongExpr].getName, "jaccard_long"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "jaccard_long takes exactly two arguments")
        JaccardLongExpr(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60Expr].getName, "md5prefix60"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "md5prefix60 takes exactly one argument")
        Md5Prefix60Expr(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_perm_signature"),
      new ExpressionInfo(classOf[PermMinSigExpr].getName,
                         "minhash_perm_signature"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
                "minhash_perm_signature takes (array<bigint>, numHashes literal)")
        val n = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"numHashes must be an integer literal, got $other")
        }
        PermMinSigExpr(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_argmax"),
      new ExpressionInfo(classOf[CosineArgmaxExpr].getName, "cosine_argmax"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
                "cosine_argmax takes (vec, candidates, threshold literal)")
        val th = children(2) match {
          case Literal(v: Double, _) => v
          case Literal(v: Float, _)  => v.toDouble
          case Literal(v: Int, _)    => v.toDouble
          case other => throw new IllegalArgumentException(
            s"threshold must be a numeric literal, got $other")
        }
        CosineArgmaxExpr(children.head, children(1), th)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_vote"),
      new ExpressionInfo(classOf[SimHashVoteExpr].getName, "simhash_vote"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
                "simhash_vote takes (array<bigint>, bits literal)")
        val n = children(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"bits must be an integer literal, got $other")
        }
        SimHashVoteExpr(children.head, n)
      }))
  }
}

package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so plain-SQL users get them too:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  *   SELECT graft_minhash_sig(shingles, 8) FROM docs
  * }}}
  *
  * Programmatic (already-built session):
  * `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: literal integer expected, got $other")
  }

  private[functions] val injections: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("graft_minhash_sig",
      new ExpressionInfo(classOf[SketchExpressions.MinHashSigExpr].getName,
        "graft_minhash_sig"),
      (args: Seq[Expression]) => SketchExpressions.MinHashSigExpr(
        args.head, intArg(args(1), "graft_minhash_sig"))),
    ("graft_simhash32",
      new ExpressionInfo(classOf[SketchExpressions.SimHash32Expr].getName,
        "graft_simhash32"),
      (args: Seq[Expression]) =>
        SketchExpressions.SimHash32Expr(args.head)),
    ("graft_word_shingles",
      new ExpressionInfo(classOf[SketchExpressions.WordShinglesExpr].getName,
        "graft_word_shingles"),
      (args: Seq[Expression]) => SketchExpressions.WordShinglesExpr(
        args.head, intArg(args(1), "graft_word_shingles"))),
    ("graft_bottomk_shingle_hashes",
      new ExpressionInfo(
        classOf[SketchExpressions.BottomKShingleHashesExpr].getName,
        "graft_bottomk_shingle_hashes"),
      (args: Seq[Expression]) => SketchExpressions.BottomKShingleHashesExpr(
        args.head, intArg(args(1), "graft_bottomk_shingle_hashes"),
        intArg(args(2), "graft_bottomk_shingle_hashes"))),
    ("graft_bottom_k_strings",
      new ExpressionInfo(
        classOf[AggregateExpressions.BottomKStringsAgg].getName,
        "graft_bottom_k_strings"),
      (args: Seq[Expression]) => AggregateExpressions.BottomKStringsAgg(
        args.head, intArg(args(1), "graft_bottom_k_strings"))),
    ("graft_bloom_filter",
      new ExpressionInfo(classOf[BloomExpressions.BloomFilterAgg].getName,
        "graft_bloom_filter"),
      (args: Seq[Expression]) => BloomExpressions.BloomFilterAgg(
        args.head, intArg(args(1), "graft_bloom_filter"),
        intArg(args(2), "graft_bloom_filter"))),
    ("graft_bloom_might_contain",
      new ExpressionInfo(
        classOf[BloomExpressions.BloomMightContainExpr].getName,
        "graft_bloom_might_contain"),
      (args: Seq[Expression]) =>
        BloomExpressions.BloomMightContainExpr(args.head, args(1))),
    ("graft_misra_gries",
      new ExpressionInfo(classOf[AggregateExpressions.MisraGriesAgg].getName,
        "graft_misra_gries"),
      (args: Seq[Expression]) => AggregateExpressions.MisraGriesAgg(
        args.head, intArg(args(1), "graft_misra_gries"))),
    ("graft_token_chunks",
      new ExpressionInfo(classOf[SketchExpressions.TokenChunksExpr].getName,
        "graft_token_chunks"),
      (args: Seq[Expression]) => SketchExpressions.TokenChunksExpr(
        args.head, intArg(args(1), "graft_token_chunks"))),
    ("graft_window_hashes",
      new ExpressionInfo(classOf[SketchExpressions.WindowHashesExpr].getName,
        "graft_window_hashes"),
      (args: Seq[Expression]) => SketchExpressions.WindowHashesExpr(
        args.head, intArg(args(1), "graft_window_hashes"))),
    ("graft_lang_id",
      new ExpressionInfo(classOf[SketchExpressions.LangIdExpr].getName,
        "graft_lang_id"),
      (args: Seq[Expression]) => SketchExpressions.LangIdExpr(args.head)),
    ("graft_text_stats",
      new ExpressionInfo(classOf[SketchExpressions.TextStatsExpr].getName,
        "graft_text_stats"),
      (args: Seq[Expression]) => SketchExpressions.TextStatsExpr(args.head)),
    ("graft_vec_dot",
      new ExpressionInfo(classOf[VectorExpressions.VecDotExpr].getName,
        "graft_vec_dot"),
      (args: Seq[Expression]) =>
        VectorExpressions.VecDotExpr(args.head, args(1))),
    ("graft_vec_sqdist",
      new ExpressionInfo(classOf[VectorExpressions.VecSqDistExpr].getName,
        "graft_vec_sqdist"),
      (args: Seq[Expression]) =>
        VectorExpressions.VecSqDistExpr(args.head, args(1))),
    ("graft_vec_cosine",
      new ExpressionInfo(classOf[VectorExpressions.VecCosineExpr].getName,
        "graft_vec_cosine"),
      (args: Seq[Expression]) =>
        VectorExpressions.VecCosineExpr(args.head, args(1))))

  /** Idempotent registration on an existing session. The optimizer
    * rule goes through `experimental.extraOptimizations` (the
    * post-build equivalent of `injectOptimizerRule`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    injections.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
  }
}

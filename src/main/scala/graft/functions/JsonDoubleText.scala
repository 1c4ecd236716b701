package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for [[JsonNumber.text]] — a custom
  * `Expression` with `doGenCode` (one static-call per value inside
  * whole-stage codegen) rather than a Scala UDF (which would box, break
  * the codegen span, and serialize a closure per task). Finite doubles
  * render as serde numbers, NaN/±Infinity as JSON strings.
  */
case class JsonDoubleText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_json_double"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_json_double expects DOUBLE, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(JsonNumber.text(input.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.functions.JsonNumber.text($c))")

  override protected def withNewChildInternal(newChild: Expression): JsonDoubleText =
    copy(child = newChild)
}

/** Session extensions registering graft's native functions — install with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or via
  * `spark.sql.extensions=graft.functions.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Register a `(child, intLiteral)` expression builder — the common
    * shape of graft's parameterized native functions. */
  private def injectIntArg(ext: SparkSessionExtensions, name: String,
                           cls: Class[_],
                           build: (Expression, Int) => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          s"$name(child, n): n must be a literal")
        val n = children(1).eval() match {
          case x: Number => x.intValue()
          case other => throw new IllegalArgumentException(
            s"$name(child, n): n must be a numeric literal, got $other")
        }
        build(children.head, n)
      }))

  /** Register a `(child, intLiteral, intLiteral)` expression builder. */
  private def injectTwoIntArgs(ext: SparkSessionExtensions, name: String,
                               cls: Class[_],
                               build: (Expression, Int, Int) => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable && children(2).foldable,
          s"$name(child, n, k): n and k must be literals")
        def intLit(e: Expression, what: String): Int = e.eval() match {
          case x: Number => x.intValue()
          case other => throw new IllegalArgumentException(
            s"$name: $what must be a numeric literal, got $other")
        }
        build(children.head, intLit(children(1), "n"), intLit(children(2), "k"))
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_json_double"),
      new ExpressionInfo(classOf[JsonDoubleText].getName, "graft_json_double"),
      (children: Seq[Expression]) => JsonDoubleText(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_json_string"),
      new ExpressionInfo(classOf[JsonStringExpr].getName, "graft_json_string"),
      (children: Seq[Expression]) => JsonStringExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_rolling_shingle_hash"),
      new ExpressionInfo(classOf[RollingShingleHashExpr].getName,
        "graft_rolling_shingle_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_rolling_shingle_hash(text, k): k must be a literal")
        val k = children(1).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_rolling_shingle_hash(text, k): k must be a numeric literal, got $other")
        }
        RollingShingleHashExpr(children.head, k)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_word_ngram_hash"),
      new ExpressionInfo(classOf[WordNgramHashExpr].getName,
        "graft_word_ngram_hash"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_word_ngram_hash(text, n): n must be a literal")
        val n = children(1).eval() match {
          case x: Number => x.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_word_ngram_hash(text, n): n must be a numeric literal, got $other")
        }
        WordNgramHashExpr(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalizeExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLenExpr].getName, "graft_deflate_len"),
      (children: Seq[Expression]) => DeflateLenExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_html_extract"),
      new ExpressionInfo(classOf[HtmlExtractExpr].getName, "graft_html_extract"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_html_extract(html, maxLd): maxLd must be a numeric literal")
        val maxLd = children(1).eval() match {
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"graft_html_extract: maxLd must be a numeric literal, got $other")
        }
        HtmlExtractExpr(children.head, maxLd)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncodeExpr].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_bpe_encode(text, merges): merges must be a string literal")
        val packed = children(1).eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_bpe_encode(text, merges): merges must be a string literal, got $other")
        }
        BpeEncodeExpr(children.head, packed)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_rotate_vec"),
      new ExpressionInfo(classOf[RotateVecExpr].getName, "graft_rotate_vec"),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable && children(2).foldable,
          "graft_rotate_vec(vec, dim, seed): dim and seed must be literals")
        val dim = children(1).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_rotate_vec: dim must be a numeric literal, got $other")
        }
        val seed = children(2).eval() match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_rotate_vec: seed must be a numeric literal, got $other")
        }
        RotateVecExpr(children.head, dim, seed)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow_fps"),
      new ExpressionInfo(classOf[WinnowFpsExpr].getName, "graft_winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable && children(2).foldable,
          "graft_winnow_fps(text, k, w): k and w must be literals")
        def intLit(e: Expression, name: String): Int = e.eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_winnow_fps: $name must be a numeric literal, got $other")
        }
        WinnowFpsExpr(children.head, intLit(children(1), "k"), intLit(children(2), "w"))
      }))
    injectIntArg(ext, "graft_repetition_stats",
      classOf[RepetitionStatsExpr], (c, n) => RepetitionStatsExpr(c, n))
    injectIntArg(ext, "graft_ngram_coverage",
      classOf[NgramCoverageExpr], (c, n) => NgramCoverageExpr(c, n))
    injectIntArg(ext, "graft_word_ngram_hash_set",
      classOf[WordNgramHashSetExpr], (c, n) => WordNgramHashSetExpr(c, n))
    ext.injectFunction((
      FunctionIdentifier("graft_sorted_overlap"),
      new ExpressionInfo(classOf[SortedOverlapExpr].getName, "graft_sorted_overlap"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_sorted_overlap(a, b): exactly two array<bigint> arguments")
        SortedOverlapExpr(children.head, children(1))
      }))
    injectIntArg(ext, "graft_md5_minhash",
      classOf[Md5MinHashExpr], (c, k) => Md5MinHashExpr(c, k))
    injectIntArg(ext, "graft_xxhash_minhash",
      classOf[XxMinHashExpr], (c, k) => XxMinHashExpr(c, k))
    injectIntArg(ext, "graft_word_ngrams",
      classOf[WordNgramsExpr], (c, n) => WordNgramsExpr(c, n))
    injectTwoIntArgs(ext, "graft_md5_minhash_text",
      classOf[Md5MinHashTextExpr], (c, n, k) => Md5MinHashTextExpr(c, n, k))
    injectTwoIntArgs(ext, "graft_xxhash_minhash_text",
      classOf[XxMinHashTextExpr], (c, n, k) => XxMinHashTextExpr(c, n, k))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_dot(a, b): exactly two ARRAY<FLOAT|DOUBLE> arguments")
        DotProductExpr(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_srp_bucket"),
      new ExpressionInfo(classOf[SrpBucketExpr].getName, "graft_srp_bucket"),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable && children(2).foldable,
          "graft_srp_bucket(vec, h, dim): h and dim must be literals")
        def intLit(e: Expression, what: String): Int = e.eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_srp_bucket: $what must be a numeric literal, got $other")
        }
        SrpBucketExpr(children.head, intLit(children(1), "h"),
          intLit(children(2), "dim"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_quality_stats"),
      new ExpressionInfo(classOf[QualityStatsExpr].getName, "graft_quality_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          "graft_quality_stats(text): exactly one STRING argument")
        QualityStatsExpr(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "graft_misra_gries"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "graft_misra_gries(term, k): k must be a literal")
        val k = children(1).eval() match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_misra_gries(term, k): k must be a numeric literal, got $other")
        }
        MisraGriesAgg(children.head, k)
      }))
    // graft-store SQL façade: resolve store relations into manifest-pruned
    // native parquet scans (see graft.sources.GraftStoreRewrite)
    ext.injectOptimizerRule(spark => graft.sources.GraftStoreRewrite(spark))
  }
}

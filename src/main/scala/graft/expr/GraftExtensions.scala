package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions registration for the engine's native expressions,
  * so SQL users get them too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * spark.sql("SELECT doc_id, minhash_signature(text, 3, 4) FROM docs")
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  */
object GraftExtensions {
  /** Register the native functions on an already-running session (the
    * builder-time `withExtensions` path needs a fresh session; this path
    * covers notebooks/REPLs attaching to an existing one). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new GraftExtensions
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature", ext.makeMinhash, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", ext.makeDot, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "band_math", ext.makeBandMath, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", ext.makeSimhash, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash_md5_16", ext.makeSimhashMd5, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_ngrams", ext.makeWordNgrams, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quantize_int8", ext.makeQuantize, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "window_digests", ext.makeWindowDigests, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "search_sorted", ext.makeSearchSorted, "scala_udf")
    for ((name, _, make) <- ext.urlFunctions)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, make, "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private[expr] val makeMinhash = (args: Seq[Expression]) => {
    require(args.length == 3, "minhash_signature(text, n, k)")
    MinHashSignatureExpr(args.head, intArg(args(1), "n"), intArg(args(2), "k"))
      : Expression
  }

  private[expr] val makeDot = (args: Seq[Expression]) => {
    require(args.length == 2, "dot_product(a, b)")
    DotProductExpr(args.head, args(1)): Expression
  }

  private[expr] val makeSimhash = (args: Seq[Expression]) => {
    require(args.length == 1, "simhash64(text)")
    SimHashExpr(args.head): Expression
  }

  private[expr] val makeSimhashMd5 = (args: Seq[Expression]) => {
    require(args.length == 1, "simhash_md5_16(text)")
    SimHashMd5Expr(args.head): Expression
  }

  private[expr] val makeWordNgrams = (args: Seq[Expression]) => {
    require(args.length == 2, "word_ngrams(text, n)")
    WordNgramsExpr(args.head, intArg(args(1), "n")): Expression
  }

  private[expr] val makeQuantize = (args: Seq[Expression]) => {
    require(args.length == 1, "quantize_int8(embedding)")
    QuantizeInt8Expr(args.head): Expression
  }

  private[expr] val makeWindowDigests = (args: Seq[Expression]) => {
    require(args.length == 2, "window_digests(text, L)")
    WindowDigestsExpr(args.head, intArg(args(1), "L")): Expression
  }

  private[expr] val makeSearchSorted = (args: Seq[Expression]) => {
    require(args.length == 2, "search_sorted(v, array(cuts...))")
    val cuts = args(1) match {
      case e if e.foldable =>
        e.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            a.toDoubleArray()
          case other => throw new IllegalArgumentException(
            s"cuts must be an array literal, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"cuts must be foldable, got $other")
    }
    SearchSortedExpr(args.head, cuts): Expression
  }

  /** The URL grammar ([[UrlText]]): (SQL name, expression class, builder). */
  private[expr] val urlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    def unary(name: String, cls: Class[_], mk: Expression => Expression) =
      (name, cls, (args: Seq[Expression]) => {
        require(args.length == 1, s"$name(url)")
        mk(args.head)
      })
    Seq(
      unary("canonicalize_url", classOf[CanonicalizeUrlExpr], CanonicalizeUrlExpr(_)),
      unary("url_host", classOf[UrlHostExpr], UrlHostExpr(_)),
      unary("url_match_target", classOf[UrlMatchTargetExpr], UrlMatchTargetExpr(_)),
      ("resolve_url", classOf[ResolveUrlExpr], (args: Seq[Expression]) => {
        require(args.length == 2, "resolve_url(base, ref)")
        ResolveUrlExpr(args.head, args(1)): Expression
      }))
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, cls, make) <- urlFunctions)
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), make))
    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignatureExpr].getName, "minhash_signature"),
      makeMinhash))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      makeDot))
    ext.injectFunction((
      new FunctionIdentifier("band_math"),
      new ExpressionInfo(classOf[BandMathExpr].getName, "band_math"),
      makeBandMath))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash64"),
      makeSimhash))
    ext.injectFunction((
      new FunctionIdentifier("simhash_md5_16"),
      new ExpressionInfo(classOf[SimHashMd5Expr].getName, "simhash_md5_16"),
      makeSimhashMd5))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgramsExpr].getName, "word_ngrams"),
      makeWordNgrams))
    ext.injectFunction((
      new FunctionIdentifier("quantize_int8"),
      new ExpressionInfo(classOf[QuantizeInt8Expr].getName, "quantize_int8"),
      makeQuantize))
    ext.injectFunction((
      new FunctionIdentifier("window_digests"),
      new ExpressionInfo(classOf[WindowDigestsExpr].getName, "window_digests"),
      makeWindowDigests))
    ext.injectFunction((
      new FunctionIdentifier("search_sorted"),
      new ExpressionInfo(classOf[SearchSortedExpr].getName, "search_sorted"),
      makeSearchSorted))
  }

  private[expr] val makeBandMath = (args: Seq[Expression]) => {
        // band_math(expr_string, out_nodata, min, max, band_name..., band_array..., band_nodata...)
        require(args.length >= 7, "band_math(expr, nodata, min, max, names..., arrays..., nodatas...)")
        val src = args.head match {
          case Literal(s, org.apache.spark.sql.types.StringType) => s.toString
          case other => throw new IllegalArgumentException(s"expr must be a string literal: $other")
        }
        def dbl(e: Expression, n: String): Double = e match {
          case Literal(v: Double, _) => v
          case Literal(v: Int, _) => v.toDouble
          case other => throw new IllegalArgumentException(s"$n must be numeric literal: $other")
        }
        val rest = args.drop(4)
        require(rest.length % 3 == 0, "names/arrays/nodatas must align")
        val k = rest.length / 3
        val names = rest.take(k).map {
          case Literal(s, org.apache.spark.sql.types.StringType) => s.toString
          case other => throw new IllegalArgumentException(s"band name must be literal: $other")
        }
        BandMathExpr(rest.slice(k, 2 * k), rest.slice(2 * k, 3 * k), names,
          src, dbl(args(1), "nodata"), dbl(args(2), "min"), dbl(args(3), "max"))
          : Expression
  }
}

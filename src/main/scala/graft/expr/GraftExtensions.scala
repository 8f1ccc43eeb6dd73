package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions registration for the engine's native expressions,
  * so SQL users get them too:
  *
  * {{{
  * // session config: spark.sql.extensions=graft.expr.GraftExtensions
  * spark.sql("SELECT doc_id, minhash_signature(text, 3, 4) FROM docs")
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  */
object GraftExtensions {
  /** Register the native functions on an already-running session (the
    * builder-time `withExtensions` path needs a fresh session; this path
    * covers notebooks/REPLs attaching to an existing one). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    for ((name, _, make) <- new GraftExtensions().functions)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, make, "scala_udf")
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

  /** Every SQL function of the engine: (SQL name, expression class,
    * builder). Both registration paths — [[apply]] at session build and
    * [[GraftExtensions.register]] on a live session — read this table. */
  private[expr] lazy val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    def unary(name: String, cls: Class[_], mk: Expression => Expression) =
      (name, cls, (args: Seq[Expression]) => {
        require(args.length == 1, s"$name(url)")
        mk(args.head)
      })
    Seq(
      ("minhash_signature", classOf[MinHashSignatureExpr], makeMinhash),
      ("dot_product", classOf[DotProductExpr], makeDot),
      ("band_math", classOf[BandMathExpr], makeBandMath),
      ("simhash64", classOf[SimHashExpr], makeSimhash),
      ("simhash_md5_16", classOf[SimHashMd5Expr], makeSimhashMd5),
      ("word_ngrams", classOf[WordNgramsExpr], makeWordNgrams),
      ("quantize_int8", classOf[QuantizeInt8Expr], makeQuantize),
      ("window_digests", classOf[WindowDigestsExpr], makeWindowDigests),
      ("search_sorted", classOf[SearchSortedExpr], makeSearchSorted),
      // the URL grammar ([[UrlText]])
      unary("canonicalize_url", classOf[CanonicalizeUrlExpr], CanonicalizeUrlExpr(_)),
      unary("url_host", classOf[UrlHostExpr], UrlHostExpr(_)),
      unary("url_match_target", classOf[UrlMatchTargetExpr], UrlMatchTargetExpr(_)),
      ("resolve_url", classOf[ResolveUrlExpr], (args: Seq[Expression]) => {
        require(args.length == 2, "resolve_url(base, ref)")
        ResolveUrlExpr(args.head, args(1)): Expression
      }))
  }

  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, cls, make) <- functions)
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), make))

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

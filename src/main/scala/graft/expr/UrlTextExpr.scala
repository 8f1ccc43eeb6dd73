package graft.expr

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization, resolution, host and REP match target as plain
  * string routines — the native form of [[graft.functions.UrlFunctions]].
  * The contract is documented there; the Column compositions these
  * routines replace live in UrlFunctionsSpec as the executable reference
  * and are property-tested against them.
  *
  * Each routine replays its reference step by step with the SAME
  * `java.util.regex` patterns under Spark's semantics: `regexp_extract`
  * is the first `find()` (group 1, "" when absent), `regexp_replace` is
  * `replaceAll`, `rlike` is `find()` — so `$` also matches before a final
  * line terminator, exactly as in SQL. The SQL builtins whose semantics
  * differ from their `java.lang.String` namesakes come from Spark itself:
  * `trim` strips spaces only (`UTF8String.trim`), `substring` counts code
  * points (`substringSQL`), `split` is `UTF8String.split`, `array_sort`
  * orders by UTF-8 bytes, and `lower`/`upper` are Spark's collation-aware
  * case maps (which may change the string length: U+FB00 → `FF`).
  *
  * One expression node per call, because the Column forms read their
  * input several times: nested, they multiply (`canonicalizeUrl(
  * resolveUrl(b, r))` is a 32k-node tree), and Catalyst analyzes,
  * optimizes and plans that tree again at every action and eager cut.
  */
object UrlText {

  private def re(p: String): Pattern = Pattern.compile(p)

  // splitUrl
  private val NoFrag = re("^([^#]*)")
  private val SchemeCap = re("^([A-Za-z][A-Za-z0-9+.-]*)://")
  private val SchemePrefix = re("^[A-Za-z][A-Za-z0-9+.-]*://")
  private val AuthorityCap = re("^([^/?]*)")
  private val UserInfo = re("^[^@]*@")
  private val AuthorityPrefix = re("^[^/?]*")
  private val PathCap = re("^([^?]*)")
  private val QueryPrefix = re("^[^?]*\\?")
  // hostOf / portOf
  private val Ipv6Host = re("^(\\[[^\\]]*\\])")
  private val PlainHost = re("^([^:]*)")
  private val Ipv6Port = re("^\\[[^\\]]*\\]:([0-9]+)$")
  private val PlainPort = re(":([0-9]*)$")
  // canonicalize
  private val TrailingSlashes = re("(?!^)/+$")
  private val LoneQuestion = re("^\\?$")
  private val HexPair = re("^[0-9A-F]{2}$")
  private val Unreserved =
    re("^(3[0-9]|4[1-9A-F]|5[0-9A]|6[1-9A-F]|7[0-9A]|2[DE]|5F|7E)$")
  // resolve
  private val Fragment = re("#.*$")
  private val AbsRef = re("^[a-zA-Z][a-zA-Z0-9+.\\-]*:")
  private val BaseScheme = re("^([a-zA-Z][a-zA-Z0-9+.\\-]*)://")
  private val BaseAuth = re("^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)")
  private val OriginPrefix = re("^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*")
  private val OriginCap = re("^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*)")
  private val LastSegment = re("/[^/]*$")
  private val QueryStart = re("^[^?]*")
  private val DotSegment = re("/\\.(/|$)")
  private val DotDotSegment = re("/(?!\\.\\./)[^/]+/\\.\\.(/|$)")
  private val LeadingDotDot = re("^/\\.\\.(/|$)")

  private val Pct = UTF8String.fromString("%")

  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) { val g = m.group(1); if (g == null) "" else g } else ""
  }

  private def replace(p: Pattern, s: String, by: String): String =
    p.matcher(s).replaceAll(by)

  private def found(p: Pattern, s: String): Boolean = p.matcher(s).find()

  /** SQL `lower`/`upper` under the UTF8_BINARY collation. The ICU flag is
    * read only for non-ASCII input: both case maps agree on ASCII. */
  private def caseMap(s: UTF8String, upper: Boolean): UTF8String = {
    val icu = !s.isFullAscii &&
      SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    val id = CollationFactory.UTF8_BINARY_COLLATION_ID
    if (upper) CollationSupport.Upper.exec(s, id, icu)
    else CollationSupport.Lower.exec(s, id, icu)
  }

  private def lower(s: String): String =
    caseMap(UTF8String.fromString(s), upper = false).toString

  /** (scheme, lowercased authority without userinfo, path, query) of a
    * trimmed, defragmented URL. */
  private final case class Parts(scheme: String, authority: String,
                                 path: String, query: String)

  private def noFrag(url: UTF8String): String = extract(NoFrag, url.trim().toString)

  private def split(url: UTF8String): Parts = {
    val nf = noFrag(url)
    val rest = replace(SchemePrefix, nf, "")
    val pathQuery = replace(AuthorityPrefix, rest, "")
    Parts(
      lower(extract(SchemeCap, nf)),
      lower(replace(UserInfo, extract(AuthorityCap, rest), "")),
      extract(PathCap, pathQuery),
      if (pathQuery.contains("?")) replace(QueryPrefix, pathQuery, "") else "")
  }

  private def hostOf(authority: String): String =
    if (authority.startsWith("[")) extract(Ipv6Host, authority)
    else extract(PlainHost, authority)

  private def portOf(authority: String): String =
    if (authority.startsWith("[")) extract(Ipv6Port, authority)
    else if (authority.contains(":")) extract(PlainPort, authority)
    else ""

  /** RFC 3986 §6.2.2.2 escape normalization: split on `%`; each piece
    * after the first carries its escape in its first two code points —
    * decoded when unreserved, hex uppercased otherwise, malformed escapes
    * verbatim. */
  private def pctNormalize(s: String): String = {
    if (!s.contains("%")) return s
    val parts = UTF8String.fromString(s).split(Pct, -1)
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(parts(0).toString)
    var i = 1
    while (i < parts.length) {
      val p = parts(i)
      val h = caseMap(p.substringSQL(1, 2), upper = true).toString
      if (!found(HexPair, h)) sb.append('%').append(p.toString)
      else if (found(Unreserved, h)) {
        // `decode(unhex(h))`: h is two hex digits, unless an expanding
        // upper left a final line terminator behind them — then unhex is
        // null and `array_join` drops the whole piece
        if (h.length == 2)
          sb.append(Integer.parseInt(h, 16).toChar)
            .append(p.substringSQL(3, Int.MaxValue).toString)
      } else
        sb.append('%').append(h).append(p.substringSQL(3, Int.MaxValue).toString)
      i += 1
    }
    sb.toString
  }

  /** Canonical URL; non-URL strings come back trimmed and defragmented. */
  def canonicalize(url: UTF8String): UTF8String = {
    val p = split(url)
    if (p.scheme.isEmpty) return UTF8String.fromString(noFrag(url))
    val port = portOf(p.authority)
    val keepPort = port.nonEmpty &&
      !((p.scheme == "http" && port == "80") ||
        (p.scheme == "https" && port == "443"))
    val path =
      if (p.path.isEmpty) "/"
      else replace(TrailingSlashes, pctNormalize(p.path), "")
    val params = pctNormalize(p.query).split("&", -1)
      .filter(_.nonEmpty).map(UTF8String.fromString)
      .sortWith(_.binaryCompare(_) < 0)
    val query = replace(LoneQuestion, params.mkString("?", "&", ""), "")
    UTF8String.fromString(p.scheme + "://" + hostOf(p.authority) +
      (if (keepPort) ":" + port else "") + path + query)
  }

  def host(url: UTF8String): UTF8String =
    UTF8String.fromString(hostOf(split(url).authority))

  def matchTarget(url: UTF8String): UTF8String = {
    val p = split(url)
    UTF8String.fromString((if (p.path.isEmpty) "/" else p.path) +
      (if (p.query.nonEmpty) "?" + p.query else ""))
  }

  /** RFC 3986 §5 resolution of `ref` against `base` (fragments stripped).
    * An absolute ref is returned verbatim even when `base` is null; any
    * other ref against a null base, and a null ref, give null. */
  def resolve(base: UTF8String, ref: UTF8String): UTF8String = {
    val r = replace(Fragment, ref.toString, "")
    if (found(AbsRef, r)) return UTF8String.fromString(r)
    if (base == null) return null
    val b = replace(Fragment, base.toString, "")
    val bScheme = lower(extract(BaseScheme, b))
    val origin = bScheme + "://" + extract(BaseAuth, b)
    val bPath = extract(PathCap, replace(OriginPrefix, b, ""))
    val merged =
      if (r.isEmpty) b
      else if (r.startsWith("//")) bScheme + ":" + r
      else if (r.startsWith("/")) origin + r
      else if (r.startsWith("?")) origin + (if (bPath.isEmpty) "/" else bPath) + r
      else origin + (if (bPath.contains("/")) replace(LastSegment, bPath, "/") else "/") + r
    // remove_dot_segments on the merged path only, 8 nesting rounds
    val mPathQ = replace(OriginPrefix, merged, "")
    var path = extract(PathCap, mPathQ)
    var round = 0
    while (round < 8) {
      path = replace(LeadingDotDot,
        replace(DotDotSegment, replace(DotSegment, path, "/"), "/"), "/")
      round += 1
    }
    val query = if (mPathQ.contains("?")) replace(QueryStart, mPathQ, "") else ""
    UTF8String.fromString(extract(OriginCap, merged) + path + query)
  }
}

/** Shared shape of the one-argument URL expressions: string in, string
  * out, null in → null out, other input types cast to string as the SQL
  * builtins they replace do. */
sealed trait UrlUnaryExpr extends UnaryExpression with ImplicitCastInputTypes
    with CodegenFallback {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)
}

/** `canonicalize_url(url)` — see [[UrlText.canonicalize]]. */
case class CanonicalizeUrlExpr(child: Expression) extends UrlUnaryExpr {
  override def prettyName: String = "canonicalize_url"
  override def nullSafeEval(input: Any): Any =
    UrlText.canonicalize(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `url_host(url)` — lowercased host, bracketed IPv6 literals whole. */
case class UrlHostExpr(child: Expression) extends UrlUnaryExpr {
  override def prettyName: String = "url_host"
  override def nullSafeEval(input: Any): Any =
    UrlText.host(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `url_match_target(url)` — the REP path-plus-query match target. */
case class UrlMatchTargetExpr(child: Expression) extends UrlUnaryExpr {
  override def prettyName: String = "url_match_target"
  override def nullSafeEval(input: Any): Any =
    UrlText.matchTarget(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `resolve_url(base, ref)` — see [[UrlText.resolve]]. Not null-intolerant:
  * an absolute ref resolves against a null base. */
case class ResolveUrlExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType, StringType)
  override def prettyName: String = "resolve_url"
  override def eval(input: InternalRow): Any = {
    val ref = right.eval(input)
    if (ref == null) null
    else UrlText.resolve(left.eval(input).asInstanceOf[UTF8String],
      ref.asInstanceOf[UTF8String])
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

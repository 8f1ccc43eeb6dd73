package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-allocation HTML → text extraction — the native twin of
  * the [[graft.functions.HtmlFunctions]] regex chain (which stays as the
  * executable SPECIFICATION, bit-parity-tested in HtmlFunctionsSpec).
  *
  * The regex formulation pays 8 full `java.util.regex` passes per page
  * (~2.5 MB/s/core measured in SCALE.md r14, WARC front door); these scanners replicate
  * each pass EXACTLY — same non-overlapping left-to-right match order,
  * same `\b` ASCII word-boundary, same unclosed-element and unmatched-`<`
  * edge semantics, same sequential entity-replace order (amp LAST), same
  * Java `\s` class — in tight char loops. Case-insensitive scanning folds
  * ASCII only, matching `(?i)` without UNICODE_CASE (and dodging the
  * locale pitfalls of String.toLowerCase, which can change string length).
  */
object HtmlText {

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  @inline private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  @inline private def isJavaSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** ASCII-case-insensitive indexOf (pattern must be lowercase ASCII). */
  private def indexOfCi(s: String, pat: String, from: Int): Int = {
    val n = s.length - pat.length
    var i = math.max(from, 0)
    while (i <= n) {
      var j = 0
      while (j < pat.length && asciiLower(s.charAt(i + j)) == pat.charAt(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  /** `(?s)<!--.*?-->` → " " (unclosed comment: no match, text kept). */
  private def cutComments(s: String): String = {
    if (s.indexOf("<!--") < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val o = s.indexOf("<!--", i)
      if (o < 0) { sb.append(s, i, s.length); i = s.length }
      else {
        val c = s.indexOf("-->", o + 4)
        if (c < 0) { sb.append(s, i, s.length); i = s.length }
        else { sb.append(s, i, o).append(' '); i = c + 3 }
      }
    }
    sb.toString
  }

  /** `(?is)<name\b[^>]*>.*?</name\s*>` → " " (unclosed element keeps its
    * text; the dangling open tag falls to the later tag strip). */
  private def cutElement(s: String, name: String): String = {
    val openPat = "<" + name
    val closePat = "</" + name
    if (indexOfCi(s, openPat, 0) < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val o = indexOfCi(s, openPat, i)
      if (o < 0) { sb.append(s, i, s.length); i = s.length }
      else {
        val after = o + openPat.length
        var close = -1
        if (after >= s.length || !isWordChar(s.charAt(after))) {
          val gt = s.indexOf('>', after)
          if (gt >= 0) {
            var p = indexOfCi(s, closePat, gt + 1)
            while (close < 0 && p >= 0) {
              var q = p + closePat.length
              while (q < s.length && isJavaSpace(s.charAt(q))) q += 1
              if (q < s.length && s.charAt(q) == '>') close = q
              else p = indexOfCi(s, closePat, p + 1)
            }
          }
        }
        if (close >= 0) { sb.append(s, i, o).append(' '); i = close + 1 }
        else { sb.append(s, i, o + 1); i = o + 1 } // no match here: move on
      }
    }
    sb.toString
  }

  /** Comments, then `<script>`, then `<style>` elements → " " (the
    * dropInvisible pass order). */
  def dropInvisible(s: String): String =
    cutElement(cutElement(cutComments(s), "script"), "style")

  /** `(?s)<[^>]*>` → " ", the ordered entity subset (amp last), `\s+` →
    * " ", trim — the stripTags pass, fused to two scans. */
  def stripTags(s: String): String = {
    val t = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val gt = s.indexOf('>', i + 1)
        if (gt < 0) { t.append(s, i, s.length); i = s.length }
        else { t.append(' '); i = gt + 1 }
      } else { t.append(c); i += 1 }
    }
    // sequential literal replaces == the chained regexp_replace passes
    var d = t.toString
    if (d.indexOf('&') >= 0)
      d = d.replace("&nbsp;", " ").replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&#39;", "'").replace("&apos;", "'")
        .replace("&amp;", "&")
    // \s+ -> " " then trim, in one scan
    val sb = new java.lang.StringBuilder(d.length)
    var pending = false
    i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (isJavaSpace(c)) pending = true
      else {
        if (pending && sb.length > 0) sb.append(' ')
        pending = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def htmlToText(s: String): String = stripTags(dropInvisible(s))

  // ---------------------------------------- fused main-text density rule

  /** The block-level element names of
    * [[graft.functions.HtmlFunctions.BlockTagPat]]. The regex alternation
    * + `\b` is equivalent to: maximal ASCII word-char run after `</?` is
    * EXACTLY one of these names (any proper prefix fails `\b` because the
    * next char is still a word char; no alternative is longer than the
    * run). */
  private val BlockNames: java.util.HashSet[String] = {
    val h = new java.util.HashSet[String]()
    Seq("p", "div", "td", "th", "li", "h1", "h2", "h3", "h4", "h5", "h6",
      "tr", "table", "thead", "tbody", "ul", "ol", "dl", "dt", "dd",
      "section", "article", "main", "header", "footer", "nav", "aside",
      "blockquote", "pre", "form", "fieldset", "hr", "br").foreach(h.add)
    h
  }

  /** Match `BlockTagPat` anchored at `i` (`s(i) == '<'` assumed): returns
    * the index AFTER the closing `>` or -1 — same `</?name\b[^>]*>`
    * semantics as the regex (name folded ASCII-ci, `\b` = next char not a
    * word char, `[^>]*` runs to the FIRST `>`; no `>` → no match). */
  private def matchBlockTag(s: String, i: Int): Int = {
    var j = i + 1
    if (j < s.length && s.charAt(j) == '/') j += 1
    val nameStart = j
    while (j < s.length && isWordChar(s.charAt(j))) j += 1
    if (j == nameStart || j - nameStart > 10) return -1
    val sb = new java.lang.StringBuilder(j - nameStart)
    var k = nameStart
    while (k < j) { sb.append(asciiLower(s.charAt(k))); k += 1 }
    if (!BlockNames.contains(sb.toString)) return -1
    val gt = s.indexOf('>', j)
    if (gt < 0) -1 else gt + 1
  }

  /** All group-1 spans of `(?is)<a\b[^>]*>(.*?)</a\s*>` joined with a
    * single space — the `regexp_extract_all(..., AnchorPat, 1)` +
    * `array_join(..., " ")` pair of the blockStats lambda, replicated
    * with the same non-overlapping left-to-right order, non-greedy
    * earliest-close, `\b` after the tag name, and the no-`>`-inside-the-
    * open-tag rule. */
  private def anchorTexts(seg: String): String = {
    val out = new java.lang.StringBuilder()
    var i = indexOfCi(seg, "<a", 0)
    while (i >= 0) {
      val after = i + 2
      var nextFrom = i + 1
      if (after >= seg.length || !isWordChar(seg.charAt(after))) {
        val gt = seg.indexOf('>', after)
        if (gt >= 0) {
          var close = -1
          var p = indexOfCi(seg, "</a", gt + 1)
          while (close < 0 && p >= 0) {
            var q = p + 3
            while (q < seg.length && isJavaSpace(seg.charAt(q))) q += 1
            if (q < seg.length && seg.charAt(q) == '>') close = q
            else p = indexOfCi(seg, "</a", p + 1)
          }
          if (close >= 0) {
            if (out.length > 0) out.append(' ')
            out.append(seg, gt + 1, p)
            nextFrom = close + 1
          }
        }
      }
      i = indexOfCi(seg, "<a", nextFrom)
    }
    out.toString
  }

  /** Fused main-content extraction — the native twin of the
    * regex/higher-order-function chain
    * ([[graft.functions.HtmlFunctions.mainTextSpec]], which stays as the
    * executable specification): split `dropInvisible(html)` on block-level
    * tags, keep segments whose stripped text has ≥ `minChars` characters
    * AND `3·link_chars ≤ chars` (link chars = stripped anchor inner
    * text), join kept texts with `\n`. One pass over the page; segments
    * shorter than `minChars` RAW chars skip their stripTags/anchor work
    * entirely (stripping never lengthens text), which is most of the
    * block soup on real pages. */
  def mainText(s: String, minChars: Int): String = {
    val vis = dropInvisible(s)
    val out = new java.lang.StringBuilder()
    def handle(segStart: Int, segEnd: Int): Unit = {
      if (segEnd - segStart < minChars) return // strip can only shrink
      val seg = vis.substring(segStart, segEnd)
      val text = stripTags(seg)
      if (text.length >= minChars) {
        val link = stripTags(anchorTexts(seg))
        if (3L * link.length <= text.length) {
          if (out.length > 0) out.append('\n')
          out.append(text)
        }
      }
    }
    var segStart = 0
    var i = vis.indexOf('<')
    while (i >= 0) {
      val e = matchBlockTag(vis, i)
      if (e >= 0) { handle(segStart, i); segStart = e; i = vis.indexOf('<', e) }
      else i = vis.indexOf('<', i + 1)
    }
    handle(segStart, vis.length)
    out.toString
  }
}

/** Full-page extraction: `stripTags(dropInvisible(html))` in one call. */
case class HtmlToTextExpr(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_to_text"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      HtmlText.htmlToText(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused main-content extraction (block split + density rule), one native
  * pass — see [[HtmlText.mainText]]; the regex/HOF chain
  * ([[graft.functions.HtmlFunctions.mainTextSpec]]) is the bit-parity
  * specification. */
case class HtmlMainTextExpr(child: Expression, minChars: Int)
    extends UnaryExpression with CodegenFallback {
  require(minChars >= 1, s"minChars must be >= 1, got $minChars")
  override def dataType: DataType = StringType
  override def prettyName: String = "html_main_text"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      HtmlText.mainText(input.asInstanceOf[UTF8String].toString, minChars))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The dropInvisible pass alone (comments + script/style elements → " ")
  * — feeds blockStats' segment split. */
case class HtmlDropInvisibleExpr(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_drop_invisible"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      HtmlText.dropInvisible(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-segment stripTags pass (tag strip + entities + whitespace) —
  * used inside blockStats' higher-order lambdas. */
case class HtmlStripTagsExpr(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_strip_tags"
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      HtmlText.stripTags(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

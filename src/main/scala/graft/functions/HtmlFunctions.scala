package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML → text extraction as PURE column expressions — the step between
  * [[graft.sources.Warc]]'s record explode and the text quality / dedup
  * stack. Role-equivalent to the reference's "container → usable product"
  * extraction stage (collections/utils.py:94–187), applied to web-archive
  * content instead of scene archives.
  *
  * Everything here is a chain of `regexp_replace` / `split` /
  * `regexp_extract_all` over literal patterns: whole-stage-codegen'd,
  * zero shuffle, linear in payload bytes — the shape that survives a
  * 100 TB Common-Crawl pass (the scan IS the cost; nothing else exists).
  * The oracle is an INDEPENDENT python replay of this documented spec
  * (scripts/gen_warc_fixture.py) whose expected digests are pinned as
  * literal VALUES in q164/q165 — any drift in tag strip, entity decode,
  * block split, or the density rule breaks a literal. The patterns stay
  * inside the common java.util.regex ∩ python-re dialect — no
  * backreferences, no lookaround.
  *
  * Deliberate boundaries (documented, spec-pinned):
  *  - only the five named entities + `&nbsp;`/`&apos;` decode (numeric
  *    `&#NNN;` forms pass through) — the symmetric-replay subset;
  *  - an UNCLOSED `<script>`/`<style>` keeps its text (the non-greedy
  *    match needs the closing tag; broken HTML degrades, not errors);
  *  - block segmentation is purely syntactic (split on block-level
  *    tags) — the text-density keep rule is jusText/Arc90-style:
  *    enough characters, low link density.
  */
object HtmlFunctions {

  /** `(?i)` case-insensitive, `(?s)` dot-matches-newline — both inline
    * flags parse identically in java.util.regex and RE2. */
  val CommentPat = "(?s)<!--.*?-->"
  val ScriptPat = "(?is)<script\\b[^>]*>.*?</script\\s*>"
  val StylePat = "(?is)<style\\b[^>]*>.*?</style\\s*>"
  val TagPat = "(?s)<[^>]*>"
  /** Block-level elements whose tags (open or close) cut block
    * boundaries for the density filter. */
  val BlockTagPat =
    "(?i)</?(p|div|td|th|li|h[1-6]|tr|table|thead|tbody|ul|ol|dl|dt|dd|" +
      "section|article|main|header|footer|nav|aside|blockquote|pre|form|" +
      "fieldset|hr|br)\\b[^>]*>"
  /** Anchor inner HTML (group 1) — the numerator of link density. */
  val AnchorPat = "(?is)<a\\b[^>]*>(.*?)</a\\s*>"

  /** The named-entity decode table, applied IN ORDER (amp last, so
    * `&amp;lt;` decodes to the literal text `&lt;` — single-pass HTML
    * semantics). Literal patterns, shared with the oracle. */
  val Entities: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")

  private def replaceAll(c: Column, pats: Seq[(String, String)]): Column =
    pats.foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** The regex-chain dropInvisible — the executable SPECIFICATION the
    * native [[graft.expr.HtmlDropInvisibleExpr]] is parity-tested against. */
  def dropInvisibleSpec(c: Column): Column =
    replaceAll(c, Seq(CommentPat -> " ", ScriptPat -> " ", StylePat -> " "))

  /** Remove comments and script/style ELEMENTS (tag + content). Runs
    * before any tag strip — otherwise script bodies leak into text.
    * Native fused scanner; [[dropInvisibleSpec]] is its specification. */
  def dropInvisible(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.HtmlDropInvisibleExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** The regex-chain stripTags — the executable SPECIFICATION the native
    * [[graft.expr.HtmlStripTagsExpr]] is bit-parity-tested against. */
  def stripTagsSpec(c: Column): Column = {
    val decoded = replaceAll(regexp_replace(c, TagPat, " "), Entities)
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Strip remaining tags, decode the entity subset, collapse whitespace
    * (native fused scanner; [[stripTagsSpec]] is its specification).
    * Assumes [[dropInvisible]] already ran (or no scripts present). */
  def stripTags(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.HtmlStripTagsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** The regex-chain full-page extraction — the executable SPECIFICATION
    * the native [[graft.expr.HtmlToTextExpr]] is bit-parity-tested
    * against (8 regex passes; ~2.5 MB/s/core — SCALE.md r14, WARC front door). */
  def htmlToTextSpec(c: Column): Column = stripTagsSpec(dropInvisible(c))

  /** Full-page text: `stripTags(dropInvisible(html))` — the plain
    * whole-document extraction (no boilerplate removal), as ONE fused
    * native expression. */
  def htmlToText(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.HtmlToTextExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Out-links of a page: one `struct(href, anchor)` per `<a …>…</a>`
    * element — href as written (double- or single-quoted or bare; first
    * href attribute wins) and the anchor's extracted text under
    * [[stripTagsSpec]] semantics (tags stripped, entity subset decoded,
    * whitespace collapsed). Elements without an href are dropped.
    * Scripts/comments are removed first so commented-out markup can't
    * contribute links. Pure array expressions over the page — the crawl
    * graph's edge extractor ([[UrlFunctions.resolveUrl]] absolutizes). */
  def extractLinks(c: Column): Column = {
    val anchors = regexp_extract_all(dropInvisible(c),
      lit("(?is)<a\\b[^>]*>.*?</a\\s*>"), lit(0))
    filter(
      transform(anchors, a => struct(
        regexp_replace(
          regexp_extract(a,
            "(?is)<a\\b[^>]*?href\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s\"'>]+)", 1),
          "^[\"']|[\"']$", "").as("href"),
        stripTagsSpec(regexp_extract(a, AnchorPat, 1)).as("anchor"))),
      s => s.getField("href") =!= "")
  }

  /** Per-block stats: split the page on block-level tags, and for each
    * segment emit `struct(text, chars, link_chars)` where `text` is the
    * segment's extracted text and `link_chars` counts characters of
    * anchor text (the link-density numerator). Pure array expressions. */
  def blockStats(c: Column): Column = {
    val segs = split(dropInvisible(c), BlockTagPat)
    transform(segs, seg => {
      val text = stripTags(seg)
      val linkText = stripTags(array_join(
        // RE2-safe group extraction on both engines
        regexp_extract_all(seg, lit(AnchorPat), lit(1)), " "))
      struct(text.as("text"), length(text).as("chars"),
        length(linkText).as("link_chars"))
    })
  }

  /** The regex/HOF-chain main-text extraction — the executable
    * SPECIFICATION the native [[graft.expr.HtmlMainTextExpr]] is
    * bit-parity-tested against (HtmlFunctionsSpec: fixture battery +
    * fuzz corpus). */
  def mainTextSpec(c: Column, minChars: Int = 25): Column =
    array_join(
      transform(keptBlocks(c, minChars), b => b.getField("text")), "\n")

  /** Main-content text by the density rule: keep blocks with at least
    * `minChars` extracted characters AND link density ≤ 1/3 (integer
    * comparison `3*link_chars <= chars` — exact on both engines), joined
    * with '\n'. Navigation, footers, and tag-only blocks drop.
    * Native fused single-pass scanner (block split + per-segment strip +
    * anchor density in one walk, short raw segments skipped before any
    * strip work); [[mainTextSpec]] is its specification. */
  def mainText(c: Column, minChars: Int = 25): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.HtmlMainTextExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), minChars))

  /** The kept blocks themselves (for per-block queries / diagnostics). */
  def keptBlocks(c: Column, minChars: Int = 25): Column =
    filter(blockStats(c), b =>
      b.getField("chars") >= minChars &&
        b.getField("link_chars") * 3 <= b.getField("chars"))

  /** Charset-aware HTTP body decode (binary payload + Content-Type →
    * string): charset parameter → `<meta charset>`/http-equiv sniff over
    * the first 1024 bytes → UTF-8, unknown names falling back to UTF-8
    * and malformed sequences decoding to U+FFFD — the full spec lives on
    * [[graft.expr.BodyDecode]]. `cast("string")` is the UTF-8-only
    * special case; crawl text paths should come through here so
    * ISO-8859-1 / Windows-1252 / GBK pages stop mojibaking through
    * [[mainText]], dedup keys and n-grams. A null Content-Type means
    * "no header" (sniff/UTF-8), not a null result. */
  def decodeBody(payload: Column, contentType: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.DecodeBodyExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(payload),
        org.apache.spark.sql.graft.ColumnBridge.expression(
          coalesce(contentType, lit("")))))

  /** The charset [[decodeBody]] resolves for each row (canonical JVM
    * name) — the audit column next to the decode. */
  def bodyCharset(payload: Column, contentType: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.BodyCharsetExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(payload),
        org.apache.spark.sql.graft.ColumnBridge.expression(
          coalesce(contentType, lit("")))))
}

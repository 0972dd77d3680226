package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text normalization and PII redaction — the cleaning passes a training-data
 * pipeline runs before dedup/quality filtering (SURVEY §2.6 extension set;
 * the reference has no text processing at all, these are capability
 * extensions alongside [[TextFns]]).
 *
 * All pure Column work (codegen'd regexp/string expressions — no UDFs), so
 * the passes are narrow maps: no shuffle, pushdown-transparent, and at
 * 100 TB they run at scan speed. Patterns are deliberately restricted to
 * syntax shared by Java regex and RE2 (no backreferences, no lookaround) so
 * engines and oracles can't drift.
 */
object TextClean {

  /** Email address (conservative, RE2-compatible). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (syntactic — no octet range check). */
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Long digit runs (ids, phone-ish numbers, SSNs without separators). */
  val LongNumRe = "[0-9]{7,}"

  /**
   * Canonical text normalization: lowercase, collapse whitespace runs to a
   * single space, trim. The standard pre-pass before hashing/shingling so
   * that case and spacing differences don't defeat dedup.
   */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /**
   * PII redaction: emails, then IPv4s, then long digit runs are replaced
   * with stable tokens. Order matters — emails and IPs contain digit runs,
   * so they must be consumed before the catch-all number pass.
   */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      LongNumRe, "<NUM>")

  /** Count of non-overlapping matches of `re` in the column. */
  def countMatches(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0)))

  /** Query parameters dropped by [[canonicalizeUrl]] — the standard
    * tracking set. Anchored; a bare name (no `=`) is dropped too. */
  val TrackingParamRe = "^(utm_[^=]*|gclid|fbclid|ref)(=.*)?$"

  /** The block-level tags whose boundaries become newlines in
    * [[htmlExtract]] — shared with the oracle builder so both sides
    * derive the pattern from one list. */
  val HtmlBlockTags: Seq[String] = Seq(
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5",
    "h6", "tr", "td", "th", "table", "blockquote", "pre", "section",
    "article", "header", "footer")

  /** The entity decode table of [[htmlExtract]], in APPLICATION ORDER
    * (`&amp;` last, so `&amp;lt;` decodes to the literal `&lt;` — the
    * standard double-escape behavior). Shared with the oracle. */
  val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#34;" -> "\"",
    "&apos;" -> "'", "&#39;" -> "'", "&nbsp;" -> " ", "&#160;" -> " ",
    "&amp;" -> "&")

  /**
   * HTML → text extraction — the FIRST stage of every real crawl
   * pipeline (round-13 verdict task 5): [[graft.functions.Dedup]]'s
   * line-level pass strips repeated boilerplate, but nothing removed
   * markup. The FULL rule, stated once (the DuckDB oracle mirrors it
   * regex-for-regex and the property model re-implements it as an
   * independent char-level walk):
   *
   *  1. drop `<!-- … -->` comments (non-greedy, dot-matches-newline; an
   *     unclosed comment stays — the rule never invents structure);
   *  2. drop script/style/noscript SUBTREES: an opening
   *     `<tag\b[^>]*>` through the nearest `</tag[ws]*>`, case-
   *     insensitive; an opening with no close stays and falls through
   *     to the tag strip (content kept — conservative for dedup);
   *  3. block-tag boundaries ([[HtmlBlockTags]], opening or closing,
   *     any attributes, self-closing included) become `\n`;
   *  4. every remaining `<…>` tag is dropped (a `<` with no closing
   *     `>` is TEXT and stays);
   *  5. entity decode, [[HtmlEntities] order (`&amp;` last);
   *  6. whitespace: runs of space/tab/CR/FF collapse to one space,
   *     spaces hug into newlines, 3+ newlines collapse to 2, and the
   *     result is trimmed of leading/trailing spaces/newlines.
   *
   * Pure Column work (codegen'd regexp/string expressions, the
   * [[normalize]] precedent — RE2∩Java syntax only: no backreferences,
   * no lookaround, explicit whitespace classes because Java's and
   * RE2's `\s` disagree on `\x0B`): a narrow map, no shuffle,
   * scan-speed at 100 TB. Deliberately REGEX-shaped, not a parser —
   * no CDATA, no conditional comments, no nested same-tag subtrees
   * (`<div>` nesting is irrelevant: every block boundary is a newline
   * regardless of depth); malformed markup degrades to keeping text,
   * never to dropping it. Null → empty string.
   */
  def htmlExtract(html: Column): Column = {
    val noComments =
      regexp_replace(coalesce(html, lit("")), "(?s)<!--.*?-->", "")
    val noSubtrees = Seq("script", "style", "noscript")
      .foldLeft(noComments)((c, t) =>
        regexp_replace(c, s"(?is)<$t\\b[^>]*>.*?</$t[ \\t\\n\\r]*>", ""))
    val blocks = regexp_replace(noSubtrees,
      s"(?i)</?(${HtmlBlockTags.mkString("|")})\\b[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", "")
    val decoded = HtmlEntities.foldLeft(noTags) { case (c, (e, v)) =>
      replace(c, lit(e), lit(v))
    }
    val oneSpace = regexp_replace(decoded, "[ \\t\\r\\f]+", " ")
    val tightNl = regexp_replace(oneSpace, " ?\\n ?", "\n")
    val twoNl = regexp_replace(tightNl, "\\n{3,}", "\n\n")
    regexp_replace(twoNl, "^[ \\n]+|[ \\n]+$", "")
  }

  /**
   * Canonical URL normalization — the crawl-corpus dedup key (round-12
   * verdict task 7): re-encoded links to the same resource ("tracking
   * params, fragments, host case, default ports") should collide.
   * Rules, in order (each mirrored expression-for-expression by the
   * DuckDB oracle):
   *
   *  1. strip the fragment (`#` to end);
   *  2. split off the query at the FIRST `?`;
   *  3. lowercase the scheme and the host; the path keeps its case
   *     (paths are case-sensitive on most origins);
   *  4. drop the port when empty or the scheme default (http:80,
   *     https:443); keep any other port;
   *  5. drop tracking params ([[TrackingParamRe]]), sort the remaining
   *     params byte-wise, rejoin with `&`; a query left empty drops its
   *     `?` entirely.
   *
   * Pure Column work (regexp/string/array builtins — the [[normalize]]
   * precedent): a narrow map, no shuffle, scan-speed at 100 TB.
   * Deliberately SYNTACTIC — no percent-decoding, no IDN/punycode, no
   * userinfo or IPv6 bracket handling (a `user@host` or `[::1]`
   * authority passes through textually); those need a real URI parser
   * and are out of scope for a dedup KEY, where a canonicalization
   * that is merely consistent still groups correctly.
   */
  def canonicalizeUrl(u: Column): Column = {
    val stripped = regexp_replace(u, "#.*$", "")
    val halves = split(stripped, "\\?", 2)
    val pre = get(halves, lit(0))
    val query = coalesce(get(halves, lit(1)), lit(""))
    val scheme = lower(regexp_extract(pre, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = regexp_extract(pre, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)
    val hp = split(hostport, ":")
    val host = lower(get(hp, lit(0)))
    val port = coalesce(get(hp, lit(1)), lit(""))
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_extract(pre, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$", 1)
    val kept = array_sort(filter(split(query, "&"),
      p => !p.rlike(TrackingParamRe)))
    val qPart = when(query === "" || size(kept) === 0, lit(""))
      .otherwise(concat(lit("?"), array_join(kept, "&")))
    concat(scheme, lit("://"), host, portPart, path, qPart)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML → outlink extraction — the crawl's DISCOVERY half
  * ([[HtmlExtract]] extracts a page's text; this extracts where the
  * crawl goes next). One single-pass scanner per document, the same
  * tag-walk discipline as [[HtmlExtract]] (comments/PI skipped,
  * raw-text elements opaque, quoted attribute values honored), exposed
  * as a native Catalyst expression so frontier expansion over a 100 TB
  * crawl is a pure scan projection feeding [[UrlOps.resolveUrl]] +
  * [[UrlOps.canonicalizeUrl]] — map-only until the seen-set anti-join.
  *
  * Reference analog: the engine's core capability is a user map
  * function emitting keys from raw documents
  * (`/root/reference/Projector/indexjs.go:73-191`); link
  * extraction is the map function a crawler registers over fetched
  * pages. Re-expressed here as a first-class native operator.
  *
  * Extraction CONTRACT (deterministic, oracle-replayable):
  *
  *  1. Only `<a>` start tags contribute links; the value of their
  *     `href` attribute (ASCII-case-insensitive name match) is taken
  *     in DOCUMENT ORDER, one entry per tag carrying the attribute
  *     (an `<a>` without `href` is an anchor target, not a link).
  *  2. The FIRST `<base href>` in the document supplies the base
  *     (WHATWG: later base elements are ignored); it is returned
  *     separately — resolution policy (against the fetch URL, then
  *     links against that) belongs to the caller.
  *  3. Attribute syntax per the WHATWG start-tag states: names end at
  *     `=`, whitespace, `/` or `>`; values are `"…"`, `'…'` or
  *     unquoted-until-whitespace/`>`; a `>` inside a quoted value does
  *     not close the tag. Valueless attributes parse (and contribute
  *     nothing).
  *  4. Character references in attribute values decode with
  *     [[HtmlExtract]]'s reference rules (numeric dec/hex, the common
  *     named set, `;`-terminated within a 12-char window) — `&amp;` in
  *     query strings is the single most common entity in real hrefs.
  *  5. The decoded value is cleaned per the WHATWG URL pre-parse:
  *     every TAB/LF/CR is removed, then leading/trailing C0 controls
  *     and spaces strip. An empty cleaned value is still a link (it
  *     names the page itself); a missing attribute is not.
  *  6. Comments, doctype, processing instructions and raw-text element
  *     content (`script`, `style`, …) can never contribute links —
  *     `<a href>` inside a script string literal is data, not markup.
  */
object HtmlLinks {

  def htmlLinks(html: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      HtmlLinksExpr(org.apache.spark.sql.GraftBridge.expression(html)))

  /** `struct<base, anchors>` — [[HtmlExtract.anchorsWithBase]], the
    * anchor-text + base capture riding the block scanner's pass.
    */
  def htmlAnchors(html: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      HtmlAnchorsExpr(org.apache.spark.sql.GraftBridge.expression(html)))

  /** Decode character references in an attribute value —
    * [[HtmlExtract.charRef]]'s rules verbatim (one shared decoder, so
    * the text and link scanners cannot drift).
    */
  private[functions] def decodeAttr(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val r = HtmlExtract.charRef(s, i)
        if (r != null) { out.append(r._1); i = r._2 }
        else { out.append('&'); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** WHATWG URL pre-parse cleanup: remove every TAB/LF/CR, strip
    * leading/trailing C0 controls and spaces.
    */
  private[functions] def cleanUrlValue(s: String): String = {
    val noTabNl = {
      if (s.indexOf('\t') < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0) s
      else {
        val b = new java.lang.StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c != '\t' && c != '\n' && c != '\r') b.append(c)
          i += 1
        }
        b.toString
      }
    }
    var from = 0
    var to = noTabNl.length
    while (from < to && noTabNl.charAt(from) <= ' ') from += 1
    while (to > from && noTabNl.charAt(to - 1) <= ' ') to -= 1
    noTabNl.substring(from, to)
  }

  /** Parse the attribute region of a start tag (`from` = first char
    * after the tag name, exclusive end = the tag's `>` at `end`) and
    * return the raw value of the attribute named `want`, or null when
    * absent. `found(0)` is set true when the attribute exists at all
    * (even valueless).
    */
  private[functions] def attrIn(html: String, from: Int, end: Int, want: String,
                     found: Array[Boolean]): String = {
    var i = from
    while (i < end) {
      // skip whitespace and stray '/' between attributes
      while (i < end && (Character.isWhitespace(html.charAt(i)) ||
        html.charAt(i) == '/')) i += 1
      if (i >= end) return null
      val nameStart = i
      while (i < end && html.charAt(i) != '=' && html.charAt(i) != '/' &&
        !Character.isWhitespace(html.charAt(i))) i += 1
      val name = html.substring(nameStart, i).toLowerCase
      if (i >= end || name.isEmpty) {
        if (name == want) { found(0) = true; return "" }
        if (name.isEmpty) i += 1
      } else {
        // optional '=' value
        var j = i
        while (j < end && Character.isWhitespace(html.charAt(j))) j += 1
        if (j < end && html.charAt(j) == '=') {
          j += 1
          while (j < end && Character.isWhitespace(html.charAt(j))) j += 1
          var value: String = ""
          if (j < end && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
            val q = html.charAt(j)
            val close = html.indexOf(q, j + 1)
            val stop = if (close < 0 || close > end) end else close
            value = html.substring(j + 1, stop)
            j = if (stop == end) end else stop + 1
          } else {
            val vs = j
            while (j < end && !Character.isWhitespace(html.charAt(j))) j += 1
            value = html.substring(vs, j)
          }
          if (name == want) { found(0) = true; return value }
          i = j
        } else {
          // valueless attribute
          if (name == want) { found(0) = true; return "" }
          i = j
        }
      }
    }
    null
  }

  /** The shared single-pass tag walk ([[HtmlExtract]] discipline:
    * comments/PI skipped, quoted attribute values honored, raw-text
    * element content opaque). `onStartTag(name, attrsFrom, tagEnd)`
    * sees every START tag with its attribute region — both the link
    * scanner and the page-meta scanner ride it, so their markup
    * handling cannot drift.
    */
  private def walkTags(html: String)(
      onStartTag: (String, Int, Int) => Unit): Unit = {
    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n &&
          (html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!' ||
           html.charAt(i + 1) == '?' ||
           HtmlExtract.isLetter(html.charAt(i + 1)))) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 2)
            i = if (e < 0) n else e + 3
          } else {
            val e = html.indexOf('>', i)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else {
          val closing = c1 == '/'
          val nameStart = i + (if (closing) 2 else 1)
          val j = HtmlExtract.tagNameEnd(html, nameStart)
          val name = html.substring(nameStart, j).toLowerCase
          // find the tag's '>', honoring quoted attribute values
          // (same walk as HtmlExtract: '>' inside quotes is data)
          var quote = 0.toChar
          var end = -1
          var k = j
          while (k < n && end < 0) {
            val ch = html.charAt(k)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') end = k
            k += 1
          }
          val tagEnd = if (end < 0) n else end
          if (!closing && name.nonEmpty) {
            onStartTag(name, j, tagEnd)
            if (HtmlExtract.rawTextTags.contains(name)) {
              // raw-text content is opaque: skip to the matching
              // close tag with the same appropriate-end-tag check as
              // HtmlExtract (a '</scripts>' does not end a script)
              i = tagEnd + 1
              var at = HtmlExtract.indexOfIgnoreCase(html, "</" + name, i)
              while (at >= 0 && {
                val after = at + 2 + name.length
                after < n && html.charAt(after) != '>' &&
                  html.charAt(after) != '/' &&
                  !Character.isWhitespace(html.charAt(after))
              }) at = HtmlExtract.indexOfIgnoreCase(html, "</" + name,
                at + 1)
              if (at < 0) { i = n }
              else {
                val e2 = html.indexOf('>', at)
                i = if (e2 < 0) n else e2 + 1
              }
              // the raw-text skip already advanced i past the close
              // tag; fall through without the normal advance below
              end = -2
            }
          }
          if (end != -2) i = if (end < 0) n else end + 1
        }
      } else i += 1
    }
  }

  /** Extract per the contract: (base href or null, hrefs in document
    * order).
    */
  def links(html: String): (String, Array[String]) = {
    var base: String = null
    val out = Seq.newBuilder[String]
    walkTags(html) { (name, attrsFrom, tagEnd) =>
      if (name == "a" || name == "base") {
        val found = new Array[Boolean](1)
        val raw = attrIn(html, attrsFrom, tagEnd, "href", found)
        if (found(0)) {
          val cleaned = cleanUrlValue(decodeAttr(raw))
          if (name == "a") out += cleaned
          else if (base == null) base = cleaned
        }
      }
    }
    (base, out.result().toArray)
  }

  /** Page-level crawl directives the DISCOVERY tier consumes —
    * (canonical href or null, noindex):
    *  - canonical: the FIRST `<link>` whose `rel` value's
    *    whitespace-separated token list contains `canonical`
    *    (ASCII-case-insensitive) and that carries a non-empty `href`
    *    (cleaned/entity-decoded like every link; resolution against
    *    the fetch URL is the caller's step, the [[links]] base
    *    discipline);
    *  - noindex: true when ANY `<meta>` whose `name` is `robots`
    *    (trimmed, case-insensitive) has a `content` whose
    *    COMMA-separated token list contains `noindex` (the robots
    *    meta grammar; `none` — the noindex+nofollow shorthand —
    *    counts too).
    * Comments, PIs and raw-text content can never contribute (the
    * shared [[walkTags]] discipline).
    */
  /** [[pageMeta]]'s facts: the canonical alias, the robots-meta
    * verdict, and the DECLARATIVE REFRESH redirect (`<meta
    * http-equiv=refresh content="N; url=U">` — the third redirect
    * mechanism real pages use after 3xx and rel=canonical):
    * `refreshSecs`/`refreshUrl` are null-state (-1 / null) when the
    * page declares none, or declares a refresh WITHOUT a url (that is
    * a self-reload, not a redirect). The consumer decides the delay
    * cutoff (crawlers treat small-N refreshes as redirects and long
    * ones as auto-reloading pages).
    */
  final case class PageMeta(canonical: String, noindex: Boolean,
                            refreshSecs: Int, refreshUrl: String)

  /** The refresh content grammar, the WHATWG shared declarative
    * refresh steps in deterministic form: integer seconds (leading
    * digits; a fractional tail is truncated), then after the first
    * `;` or `,` an optional case-insensitive `url=` with an
    * optionally quoted value. Returns (secs, url) or null.
    */
  private def parseRefresh(content: String): (Int, String) = {
    val c = content.trim
    var i = 0
    while (i < c.length && c.charAt(i) >= '0' && c.charAt(i) <= '9') i += 1
    if (i == 0 || i > 9) return null // no digits, or absurd
    val secs = c.substring(0, i).toInt
    // skip a fractional part the grammar allows
    if (i < c.length && c.charAt(i) == '.') {
      i += 1
      while (i < c.length && c.charAt(i) >= '0' && c.charAt(i) <= '9')
        i += 1
    }
    val rest = c.substring(i).trim
    if (rest.isEmpty) return null // refresh-to-self, not a redirect
    if (rest.charAt(0) != ';' && rest.charAt(0) != ',') return null
    var u = rest.substring(1).trim
    if (u.toLowerCase(java.util.Locale.ROOT).startsWith("url")) {
      val after = u.substring(3).trim
      // WHATWG's shared declarative-refresh steps: 'url' followed by
      // '=' strips the prefix; 'url' NOT followed by '=' jumps back to
      // parse with the full remainder as the URL (a bare
      // '2;urlencoded.html' keeps its redirect edge)
      if (after.startsWith("=")) u = after.substring(1).trim
    }
    if (u.length >= 2 &&
        ((u.charAt(0) == '"' && u.charAt(u.length - 1) == '"') ||
         (u.charAt(0) == '\'' && u.charAt(u.length - 1) == '\'')))
      u = u.substring(1, u.length - 1).trim
    if (u.isEmpty) null else (secs, u)
  }

  def pageMeta(html: String): PageMeta = {
    var canonical: String = null
    var noindex = false
    var refreshSecs = -1
    var refreshUrl: String = null
    walkTags(html) { (name, attrsFrom, tagEnd) =>
      if (name == "link" && canonical == null) {
        val relFound = new Array[Boolean](1)
        val rel = attrIn(html, attrsFrom, tagEnd, "rel", relFound)
        if (relFound(0) && rel != null && rel.toLowerCase
            .split("\\s+").contains("canonical")) {
          val hrefFound = new Array[Boolean](1)
          val href = attrIn(html, attrsFrom, tagEnd, "href", hrefFound)
          if (hrefFound(0)) {
            val cleaned = cleanUrlValue(decodeAttr(href))
            if (cleaned.nonEmpty) canonical = cleaned
          }
        }
      } else if (name == "meta") {
        if (!noindex) {
          val nameFound = new Array[Boolean](1)
          val metaName = attrIn(html, attrsFrom, tagEnd, "name", nameFound)
          if (nameFound(0) && metaName != null &&
              metaName.trim.equalsIgnoreCase("robots")) {
            val cFound = new Array[Boolean](1)
            val content = attrIn(html, attrsFrom, tagEnd, "content", cFound)
            if (cFound(0) && content != null) {
              val toks = content.toLowerCase.split(",").map(_.trim)
              if (toks.contains("noindex") || toks.contains("none"))
                noindex = true
            }
          }
        }
        if (refreshUrl == null) {
          val eqFound = new Array[Boolean](1)
          val httpEquiv =
            attrIn(html, attrsFrom, tagEnd, "http-equiv", eqFound)
          if (eqFound(0) && httpEquiv != null &&
              httpEquiv.trim.equalsIgnoreCase("refresh")) {
            val cFound = new Array[Boolean](1)
            val content = attrIn(html, attrsFrom, tagEnd, "content", cFound)
            if (cFound(0) && content != null) {
              val parsed = parseRefresh(decodeAttr(content))
              if (parsed != null) {
                val cleaned = cleanUrlValue(parsed._2)
                if (cleaned.nonEmpty) {
                  refreshSecs = parsed._1
                  refreshUrl = cleaned
                }
              }
            }
          }
        }
      }
    }
    PageMeta(canonical, noindex, refreshSecs, refreshUrl)
  }

}

/** `html_links(html)` → struct<base: string, links: array<string>> —
  * the [[HtmlLinks]] contract as a native expression: one scanner pass
  * per row inside the scan projection (the [[HtmlExtractExpr]]
  * discipline — no UDF, no DOM).
  */
case class HtmlLinksExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("base", StringType, nullable = true),
    StructField("links", ArrayType(StringType, containsNull = false),
      nullable = false)))
  override def prettyName: String = "html_links"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string child",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val (base, links) =
      HtmlLinks.links(input.asInstanceOf[UTF8String].toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (base == null) null else UTF8String.fromString(base),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          links.map(UTF8String.fromString(_)).toArray[Any])))
  }

  override protected def withNewChildInternal(newChild: Expression): HtmlLinksExpr =
    copy(child = newChild)
}

/** `html_anchors(html)` → struct<base, anchors: array<struct<href,
  * text>>> — the [[HtmlExtract.anchorsWithBase]] capture as a native
  * expression: every href-carrying anchor with its decoded, collapsed
  * text, in document order, PLUS the page's first `<base href>` — one
  * scanner pass serves the whole link-graph projection.
  */
case class HtmlAnchorsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("base", StringType, nullable = true),
    StructField("anchors", ArrayType(StructType(Seq(
      StructField("href", StringType, nullable = false),
      StructField("text", StringType, nullable = false))),
      containsNull = false), nullable = false)))
  override def prettyName: String = "html_anchors"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string child",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val (base, as) = HtmlExtract.anchorsWithBase(
      input.asInstanceOf[UTF8String].toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (base == null) null else UTF8String.fromString(base),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          as.map { a =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](UTF8String.fromString(a.href),
                UTF8String.fromString(a.text)))
          }.toArray[Any])))
  }

  override protected def withNewChildInternal(newChild: Expression): HtmlAnchorsExpr =
    copy(child = newChild)
}

/** `html_page_meta(html)` → struct<canonical: string, noindex:
  * boolean, refresh_secs: int, refresh_url: string> — the
  * [[HtmlLinks.pageMeta]] contract as a native expression (one
  * scanner pass per row in the scan projection); the refresh pair is
  * null when the page declares no url-bearing refresh.
  */
case class HtmlPageMetaExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("canonical", StringType, nullable = true),
    StructField("noindex", BooleanType, nullable = false),
    StructField("refresh_secs", IntegerType, nullable = true),
    StructField("refresh_url", StringType, nullable = true)))
  override def prettyName: String = "html_page_meta"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string child",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val m = HtmlLinks.pageMeta(input.asInstanceOf[UTF8String].toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (m.canonical == null) null
        else UTF8String.fromString(m.canonical),
        m.noindex,
        if (m.refreshUrl == null) null else m.refreshSecs,
        if (m.refreshUrl == null) null
        else UTF8String.fromString(m.refreshUrl)))
  }

  override protected def withNewChildInternal(newChild: Expression): HtmlPageMetaExpr =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML → text extraction — the FIRST stage of a crawl-corpus pipeline
  * (the CCNet / C4 / RefinedWeb pre-step): every downstream text
  * operator in this engine (quality, language id, dedup, BPE, LM
  * scoring) assumes clean text, but a real 100 TB crawl arrives as
  * markup. One single-pass scanner per document, no allocation beyond
  * the output buffers, exposed as a native Catalyst expression so a
  * corpus-wide extraction is a pure scan projection (map-only, no
  * shuffle, fused into the parquet read's projection like the rest of
  * the text tier).
  *
  * Reference analog: the engine's core capability is a user map
  * function over raw schemaless documents
  * (`/root/reference/Projector/indexjs.go:73-191`) —
  * markup extraction is the canonical map function a crawl pipeline
  * registers. Re-expressed here as a first-class native operator.
  *
  * The extraction CONTRACT (deterministic, byte-replayable — the
  * `text_extract_html` oracle plants a known wrapper and verifies the
  * extracted bytes via md5):
  *
  *  1. Comments (`<!-- … -->`), doctype/CDATA-ish (`<! … >`) and
  *     processing instructions (`<? … >`) are removed. The abruptly
  *     closed comments `<!-->` and `<!--->` are complete, empty
  *     comments (WHATWG); an unterminated comment swallows the rest
  *     of the input (parse-error recovery: everything after the open
  *     is comment data).
  *  2. Raw-text / metadata elements drop with their CONTENT:
  *     `script, style, noscript, template, title, textarea, iframe`.
  *     Per the HTML raw-text rules, `<` inside them never opens a tag;
  *     content ends only at the matching case-insensitive close tag —
  *     `</name` followed by whitespace, `/`, `>` or end of input, so
  *     `</scripts>` inside a script does not terminate it.
  *  3. Remaining tags are stripped. `>` inside quoted attribute values
  *     does not terminate a tag; a stray `<` not followed by `/`, `!`,
  *     `?` or an ASCII letter is literal text. A trailing `/` before
  *     `>` is ignored (WHATWG start-tag state): `<a/>` opens an
  *     anchor, `<script/>` opens script raw text.
  *  4. Block-level tags (open OR close: p, div, h1-h6, li, ul, ol, br,
  *     hr, table, tr, td, th, thead, tbody, tfoot, caption,
  *     blockquote, pre, nav, header, footer, aside, article, section,
  *     main, form, fieldset, figure, figcaption, dl, dt, dd, address)
  *     are BLOCK BOUNDARIES; inline tags (a, b, i, em, strong, span,
  *     …) concatenate their text into the enclosing block.
  *  5. Character references decode AFTER tag structure is resolved
  *     (a decoded `&lt;` can never re-open a tag): numeric decimal
  *     (`&#65;`), numeric hex (`&#x41;`), and the common named set
  *     (amp lt gt quot apos nbsp copy mdash ndash hellip lsquo rsquo
  *     ldquo rdquo middot). Numeric refs to NUL, surrogates or past
  *     U+10FFFF are consumed as U+FFFD (WHATWG — a lone surrogate
  *     would silently round-trip as `?` through UTF-8).
  *     `&nbsp;` decodes to a PLAIN space (U+00A0
  *     is not Java whitespace, and a non-breaking space surviving the
  *     collapse would be an invisible cross-engine hazard). Unknown
  *     references stay literal.
  *  6. Per block: whitespace runs collapse to one space, trimmed.
  *     Empty blocks vanish silently (they are structure, not content).
  *  7. BOILERPLATE heuristic (the text-density rule of
  *     Boilerpipe/jusText, reduced to its deterministic core): a block
  *     whose anchor-text share exceeds half its text — counted as
  *     non-whitespace decoded chars inside `<a>` vs total, strictly
  *     `2·anchor > total` — is link furniture (nav bars, read-more
  *     stubs, footer link rows) and is DROPPED, counted in
  *     `n_dropped`. Kept blocks join with `\n` in document order.
  */
object HtmlExtract {

  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul",
      "ol", "br", "hr", "table", "tr", "td", "th", "thead", "tbody",
      "tfoot", "caption", "blockquote", "pre", "nav", "header",
      "footer", "aside", "article", "section", "main", "form",
      "fieldset", "figure", "figcaption", "dl", "dt", "dd", "address")
      .foreach(s.add)
    s
  }

  private[functions] val rawTextTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("script", "style", "noscript", "template", "title", "textarea",
      "iframe").foreach(s.add)
    s
  }

  private[functions] val namedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("amp", "&"); m.put("lt", "<"); m.put("gt", ">")
    m.put("quot", "\""); m.put("apos", "'"); m.put("nbsp", " ")
    m.put("copy", "©"); m.put("mdash", "—")
    m.put("ndash", "–"); m.put("hellip", "…")
    m.put("lsquo", "‘"); m.put("rsquo", "’")
    m.put("ldquo", "“"); m.put("rdquo", "”")
    m.put("middot", "·")
    m
  }

  private[functions] def isLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Scan a tag name starting at `from` (the first name char): per
    * the WHATWG tag-name state it runs until whitespace, `/` or `>`
    * — so `<a-card>` is the custom element `a-card`, never the
    * anchor `a`, and `<base-select>` can never hijack the document
    * base. Returns the exclusive end index.
    */
  private[functions] def tagNameEnd(html: String, from: Int): Int = {
    val n = html.length
    var j = from
    while (j < n && {
      val c = html.charAt(j)
      c != '/' && c != '>' && !Character.isWhitespace(c)
    }) j += 1
    j
  }

  /** Decode one character reference at `amp` (the `&`): numeric
    * dec/hex with the WHATWG NUL/surrogate/out-of-range → U+FFFD
    * rule, the shared named set, `;` required within a 12-char
    * window. Returns (decoded text, index after the `;`), or null
    * when the `&` is literal. Shared by the text extractor and the
    * attribute-value decoder so the two scanners cannot drift.
    */
  private[functions] def charRef(s: String, amp: Int): (String, Int) = {
    val n = s.length
    var semi = -1
    var k = amp + 1
    val limit = math.min(n, amp + 12)
    while (k < limit && semi < 0) {
      val ch = s.charAt(k)
      if (ch == ';') semi = k
      else if (ch == '&' || ch == '<' ||
        Character.isWhitespace(ch)) k = limit
      k += 1
    }
    if (semi <= amp + 1) return null
    val body = s.substring(amp + 1, semi)
    if (body.charAt(0) == '#') {
      val hex = body.length > 1 &&
        (body.charAt(1) == 'x' || body.charAt(1) == 'X')
      val digits = if (hex) body.substring(2) else body.substring(1)
      try {
        // Long: '&#xFFFFFFFF;' must reach the > 0x10FFFF branch
        // (U+FFFD), not overflow Int and stay literal; the 12-char
        // window bounds the digit run so Long cannot itself overflow
        val cp = java.lang.Long.parseLong(digits, if (hex) 16 else 10)
        if (cp < 0) null // '&#-5;' is not a numeric ref: literal
        else if (cp == 0 || cp > 0x10FFFF ||
          (cp >= 0xD800 && cp <= 0xDFFF)) ("�", semi + 1)
        else (new String(Character.toChars(cp.toInt)), semi + 1)
      } catch { case _: NumberFormatException => null }
    } else {
      val named = namedEntities.get(body)
      if (named != null) (named, semi + 1) else null
    }
  }

  /** Case-insensitive ASCII search for `needle` (lowercase) in
    * `hay` from `from` — the raw-text close-tag scan. Only ASCII
    * letters fold, which is all a tag name can contain.
    */
  private[functions] def indexOfIgnoreCase(hay: String, needle: String,
                                from: Int): Int = {
    val n = hay.length; val m = needle.length
    var i = math.max(0, from)
    while (i + m <= n) {
      var j = 0
      while (j < m && {
        val c = hay.charAt(i + j)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        lc == needle.charAt(j)
      }) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  /** One content block from the shared tag-walk: collapsed text,
    * non-whitespace char count, the anchor-text share of it, and
    * whether the block was OPENED by an `h1`–`h6` start tag (the
    * heading signal the main-content classifier
    * ([[MainContent]]) needs — a heading belongs to the section it
    * introduces, not to the furniture around it).
    */
  final case class Block(text: String, nonws: Int, anchorChars: Int,
                         heading: Boolean)

  /** Extract per the contract above: (text, n_blocks kept, n_dropped
    * boilerplate blocks). Consumes [[blocks]] — the same scan the
    * main-content classifier reads, so the two surfaces cannot drift.
    */
  def extract(html: String): (String, Int, Int) = {
    val bs = blocks(html)
    val out = new java.lang.StringBuilder(html.length / 2)
    var nKept = 0
    var nDropped = 0
    var i = 0
    while (i < bs.length) {
      val b = bs(i)
      if (2 * b.anchorChars > b.nonws) nDropped += 1
      else {
        if (nKept > 0) out.append('\n')
        out.append(b.text)
        nKept += 1
      }
      i += 1
    }
    (out.toString, nKept, nDropped)
  }

  /** One captured link: its cleaned href and the collapsed DECODED
    * text between the `<a>` and whatever closed it (`</a>`, an
    * implicit close by the next `<a>`, or a block boundary — the
    * unclosed-anchor bound the block scanner already enforces).
    * Anchors without an `href` are targets, not links, and are never
    * emitted ([[HtmlLinks]] contract); image-only links emit with
    * empty text.
    */
  final case class Anchor(href: String, text: String)

  /** The block-level scan behind [[extract]] and the main-content
    * classifier: every non-empty collapsed block in document order
    * with its anchor-share and heading facts, NO boilerplate decision
    * applied (that is the consumer's policy, not the scanner's).
    */
  def blocks(html: String): IndexedSeq[Block] = scan(html, null, null)

  /** Per-link anchor text — the classic web-corpus relevance signal
    * (how the WEB describes a page, vs how the page describes
    * itself): every `href`-carrying anchor in document order with its
    * decoded, whitespace-collapsed text. SAME scanner pass as
    * [[blocks]] — the anchor-share the boilerplate rule counts and
    * the text this emits cannot drift apart.
    */
  def anchors(html: String): IndexedSeq[Anchor] =
    anchorsWithBase(html)._2

  /** [[anchors]] plus the page's first `<base href>` (cleaned like
    * every link, or null) — captured in the SAME pass, so the
    * link-graph projection needs exactly one walk per page.
    */
  def anchorsWithBase(html: String): (String, IndexedSeq[Anchor]) = {
    val out = IndexedSeq.newBuilder[Anchor]
    val base = new Array[String](1)
    scan(html, out, base)
    (base(0), out.result())
  }

  private def collapseWs(sb: java.lang.StringBuilder): String = {
    val collapsed = new java.lang.StringBuilder(sb.length)
    var i = 0
    var pendingSpace = false
    while (i < sb.length) {
      val c = sb.charAt(i)
      if (Character.isWhitespace(c)) pendingSpace = collapsed.length > 0
      else {
        if (pendingSpace) { collapsed.append(' '); pendingSpace = false }
        collapsed.append(c)
      }
      i += 1
    }
    collapsed.toString
  }

  private def scan(html: String,
                   anchorsOut: scala.collection.mutable.Builder[
                     Anchor, IndexedSeq[Anchor]],
                   baseOut: Array[String]): IndexedSeq[Block] = {
    val n = html.length
    val out = IndexedSeq.newBuilder[Block]
    val block = new java.lang.StringBuilder(64)
    var anchorDepth = 0
    var anchorChars = 0 // non-whitespace decoded chars inside <a>
    var totalChars = 0  // non-whitespace decoded chars in the block
    // heading latch: true while the block being accumulated was opened
    // by an h1-h6 start tag (any other block boundary clears it)
    var curHeading = false

    // anchor-text capture (only when a collector rides the scan)
    var curHref: String = null
    val anchorBuf = new java.lang.StringBuilder(32)

    def emitAnchor(): Unit = {
      if (anchorsOut != null && curHref != null)
        anchorsOut += Anchor(curHref, collapseWs(anchorBuf))
      anchorBuf.setLength(0)
      curHref = null
    }

    def appendText(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (!Character.isWhitespace(c)) {
          totalChars += 1
          if (anchorDepth > 0) anchorChars += 1
        }
        i += 1
      }
      if (anchorDepth > 0 && anchorsOut != null) anchorBuf.append(s)
      block.append(s)
    }

    def appendChar(c: Char): Unit = {
      if (!Character.isWhitespace(c)) {
        totalChars += 1
        if (anchorDepth > 0) anchorChars += 1
      }
      if (anchorDepth > 0 && anchorsOut != null) anchorBuf.append(c)
      block.append(c)
    }

    def flush(): Unit = {
      val collapsed = collapseWs(block)
      if (collapsed.length > 0)
        out += Block(collapsed, totalChars, anchorChars, curHeading)
      // anchorDepth resets with the block: an anchor left open when a
      // block boundary hits must not mark every LATER block as link
      // text (the unclosed-<a> document shape is ubiquitous in crawl
      // HTML; browsers reconstruct the anchor, extractors bound it) —
      // and the SAME boundary bounds its captured text
      emitAnchor()
      block.setLength(0); anchorChars = 0; totalChars = 0
      anchorDepth = 0
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n &&
          (html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!' ||
           html.charAt(i + 1) == '?' || isLetter(html.charAt(i + 1)))) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          if (html.startsWith("<!--", i)) {
            // search from i+2 so the abruptly-closed comments <!-->
            // and <!---> (WHATWG: complete, empty) end at their '>'
            // instead of swallowing the rest of the document; a
            // normal comment's opening '--' can't match because the
            // char after it is not '>'
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
          val j = tagNameEnd(html, nameStart)
          val name = html.substring(nameStart, j).toLowerCase
          // find the tag's '>', honoring quoted attribute values
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
          // a trailing '/' before '>' is IGNORED in HTML content
          // (WHATWG start-tag state): '<a href=http://x/>' opens an
          // anchor whose unquoted value ends in '/', and '<script/>'
          // opens script raw text — honoring '/>' as self-closing
          // would leak link furniture past the boilerplate rule and
          // emit script data as corpus text
          i = if (end < 0) n else end + 1
          if (name.nonEmpty) {
            if (!closing && rawTextTags.contains(name)) {
              // raw-text content: ends only at the MATCHING close tag
              // — '</name' followed by whitespace, '/', '>' or EOF
              // (WHATWG appropriate-end-tag check), so '</scripts>'
              // inside a script does not terminate it
              var at = indexOfIgnoreCase(html, "</" + name, i)
              while (at >= 0 && {
                val after = at + 2 + name.length
                after < n && html.charAt(after) != '>' &&
                  html.charAt(after) != '/' &&
                  !Character.isWhitespace(html.charAt(after))
              }) at = indexOfIgnoreCase(html, "</" + name, at + 1)
              if (at < 0) i = n
              else {
                val e2 = html.indexOf('>', at)
                i = if (e2 < 0) n else e2 + 1
              }
            } else {
              if (name == "base" && !closing && baseOut != null &&
                  baseOut(0) == null) {
                // first <base href> wins (HtmlLinks discipline)
                val found = new Array[Boolean](1)
                val raw = HtmlLinks.attrIn(html, j, math.max(j, i - 1),
                  "href", found)
                if (found(0))
                  baseOut(0) =
                    HtmlLinks.cleanUrlValue(HtmlLinks.decodeAttr(raw))
              }
              if (name == "a") {
                if (closing) {
                  emitAnchor()
                  anchorDepth = math.max(0, anchorDepth - 1)
                } else {
                  // a new <a> while one is open IMPLICITLY CLOSES it
                  // (WHATWG "a in in-body"): nested anchors cannot
                  // exist in a DOM, and counting depth would let one
                  // unclosed <a> — ubiquitous in crawl HTML — poison
                  // every later block as boilerplate
                  emitAnchor()
                  anchorDepth = 1
                  if (anchorsOut != null) {
                    val found = new Array[Boolean](1)
                    val raw = HtmlLinks.attrIn(html, j, math.max(j, i - 1),
                      "href", found)
                    // href-less <a> is a target, not a link (never
                    // emitted); cleaning matches HtmlLinks verbatim so
                    // anchor rows JOIN against the link rows
                    curHref =
                      if (found(0))
                        HtmlLinks.cleanUrlValue(HtmlLinks.decodeAttr(raw))
                      else null
                  }
                }
              }
              if (blockTags.contains(name)) {
                flush()
                // the NEXT block is a heading block iff this boundary
                // is an OPENING h1-h6; any other boundary clears it
                curHeading = !closing && name.length == 2 &&
                  name.charAt(0) == 'h' &&
                  name.charAt(1) >= '1' && name.charAt(1) <= '6'
              }
            }
          }
        }
      } else if (c == '&') {
        // character reference (shared [[charRef]] rules), else literal
        val r = charRef(html, i)
        if (r != null) { appendText(r._1); i = r._2 }
        else { appendChar('&'); i += 1 }
      } else {
        appendChar(c)
        i += 1
      }
    }
    flush()
    out.result()
  }
}

/** `html_extract(html)` → struct<text, n_blocks, n_dropped> — the
  * [[HtmlExtract]] contract as a native expression: one scanner pass
  * per row inside the scan projection, like the rest of the text tier
  * (`TokenStatsExpr` discipline — no UDF, no per-row SQL tree walk).
  */
case class HtmlExtractExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_blocks", IntegerType, nullable = false),
    StructField("n_dropped", IntegerType, nullable = false)))
  override def prettyName: String = "html_extract"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "a string child",
      (child.dataType.catalogString, TextExprTypes.isString(child.dataType)))

  override protected def nullSafeEval(input: Any): Any = {
    val (text, kept, dropped) =
      HtmlExtract.extract(input.asInstanceOf[UTF8String].toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(text), kept, dropped))
  }

  override protected def withNewChildInternal(newChild: Expression): HtmlExtractExpr =
    copy(child = newChild)
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bytes → text: charset sniffing + decode — the step BETWEEN the
  * crawl container (WARC bodies are bytes) and the HTML extractor
  * (which wants a string). A real 100 TB crawl is not UTF-8: legacy
  * pages arrive as windows-1252 (most of the pre-UTF-8 web and most
  * mislabeled "iso-8859-1"/"ascii" content), UTF-16 with BOMs, and a
  * long tail of labels. Decoding them all as UTF-8 silently corrupts
  * every high byte — which then poisons hashes, shingles, n-gram LMs
  * and tokenizers downstream. One pass per row, map-only, exposed as
  * a native expression so it fuses into the same scan projection as
  * [[HtmlExtract]].
  *
  * Reference analog: the engine's map stage receives raw document
  * BYTES from the feed and must produce typed values before any key
  * is built (`/root/reference/Projector/indexjs.go:73-191`);
  * charset resolution is the first such typing decision a crawl's map
  * function makes.
  *
  * The DETECTION contract — the WHATWG encoding-sniffing algorithm
  * (https://html.spec.whatwg.org §13.2.3, https://encoding.spec.whatwg.org)
  * reduced to a deterministic, offline-verifiable core, in precedence
  * order. Each row reports WHICH step decided (`method`):
  *
  *  1. `bom` — a byte-order mark wins over every label (WHATWG:
  *     "honor the BOM over anything else"): EF BB BF → utf-8,
  *     FF FE → utf-16le, FE FF → utf-16be. BOM bytes are excluded
  *     from the decoded text.
  *  2. `header` — the transport label: the `charset=` parameter of
  *     the Content-Type hint (ASCII-case-insensitive, optional
  *     quotes).
  *  3. `meta` — in-content label: the first `charset=` occurrence
  *     that sits INSIDE an open `<meta …` tag within the first 1024
  *     bytes (the WHATWG prescan window), covering both
  *     `<meta charset=…>` and
  *     `<meta http-equiv=… content="…; charset=…">` shapes. The
  *     prescan here is the deterministic core (find `charset`,
  *     optional spaces, `=`, optional spaces, a quoted or unquoted
  *     token), not the full state machine — but occurrences in a
  *     comment, script body, or visible text are skipped, as the real
  *     prescan only reads `<meta>` attributes. A UTF-16 label found by
  *     the prescan is changed to UTF-8 (WHATWG §13.2.3.2: the label
  *     was read as ASCII, so the body cannot be UTF-16 — honoring it
  *     would mojibake the page).
  *  4. `valid-utf8` — no label anywhere: if the whole body is
  *     STRICTLY valid UTF-8 (no overlongs, no surrogates, no
  *     > U+10FFFF), it is UTF-8. Valid-looking multi-byte UTF-8 by
  *     accident in another encoding is statistically negligible —
  *     this is the standard sniffing heuristic.
  *  5. `fallback` — windows-1252, the WHATWG default for unlabeled
  *     legacy content in most locales.
  *
  * LABELS honored, normalized per the WHATWG Encoding label table:
  * utf-8/utf8/unicode-1-1-utf-8 → utf-8; utf-16/utf-16le → utf-16le
  * (WHATWG maps bare "utf-16" to LE); utf-16be → utf-16be; and the
  * whole windows-1252 alias family (windows-1252, cp1252, x-cp1252,
  * iso-8859-1, iso8859-1, latin1, l1, ascii, us-ascii, iso-ir-100,
  * ibm819 — WHATWG maps ALL of these to windows-1252, which is why a
  * page labeled iso-8859-1 still decodes 0x80–0x9F as € ‚ ƒ …).
  * Any OTHER label (shift_jis, gbk, koi8-r, …) is an HONEST
  * REJECTION, by name: `text` is NULL, `charset` carries the
  * normalized unknown label, `method` = `unsupported-label`. A
  * misdecoded Japanese page is worse than a null — the null is
  * auditable, the mojibake silently poisons every downstream
  * fingerprint. (The rejected long-tail codecs need their full
  * mapping tables, which cannot be verified in this offline build.)
  *
  * DECODE is total and deterministic: windows-1252 through the
  * explicit WHATWG index table below (the JDK's cp1252 is not pinned
  * on the five undefined positions — WHATWG maps 0x81 8D 8F 90 9D to
  * the same-valued C1 controls); utf-8/utf-16 with each malformed
  * unit replaced by U+FFFD (the JDK REPLACE action; fixtures plant
  * only isolated bad bytes, where every conformant "maximal subpart"
  * policy yields exactly one replacement). An odd trailing byte in
  * utf-16 is one U+FFFD.
  */
object CharsetDecode {

  /** WHATWG windows-1252 index table for 0x80–0x9F (bytes 0x00–0x7F
    * and 0xA0–0xFF map to the identical codepoint). Five positions
    * (81 8D 8F 90 9D) are the same-valued C1 controls per WHATWG.
    */
  private val w1252: Array[Char] = Array(
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178).map(_.toChar)

  /** Normalize a charset label per the WHATWG Encoding label table
    * (the subset this decoder honors); None for an unknown label.
    */
  def normalizeLabel(raw: String): Option[String] = {
    // WHATWG strips ASCII whitespace and lowercases before lookup.
    val l = raw.trim.toLowerCase(java.util.Locale.ROOT)
    l match {
      case "utf-8" | "utf8" | "unicode-1-1-utf-8" => Some("utf-8")
      case "utf-16" | "utf-16le" => Some("utf-16le")
      case "utf-16be" => Some("utf-16be")
      case "windows-1252" | "cp1252" | "x-cp1252" | "iso-8859-1" |
          "iso8859-1" | "iso88591" | "iso_8859-1" | "iso_8859-1:1987" |
          "latin1" | "l1" | "ascii" | "us-ascii" | "ansi_x3.4-1968" |
          "iso-ir-100" | "ibm819" | "cp819" | "csisolatin1" =>
        Some("windows-1252")
      case _ => None
    }
  }

  /** The `charset=` parameter of a Content-Type value, or None.
    * ASCII-case-insensitive name, optional single/double quotes,
    * value ends at `;`, whitespace or (for quoted) the close quote.
    */
  def charsetParam(contentType: String): Option[String] = {
    val lower = contentType.toLowerCase(java.util.Locale.ROOT)
    var i = lower.indexOf("charset")
    while (i >= 0) {
      // parameter-name boundary: 'charset' must start a parameter
      // (after ';' or whitespace), or 'internal-charset=sjis' would
      // donate a label the header never carried
      val bounded = i == 0 || {
        val prev = lower.charAt(i - 1)
        prev == ';' || prev == ' ' || prev == '\t'
      }
      if (bounded) {
        var j = i + 7
        while (j < lower.length &&
          (lower(j) == ' ' || lower(j) == '\t')) j += 1
        if (j < lower.length && lower(j) == '=') {
          j += 1
          while (j < lower.length &&
            (lower(j) == ' ' || lower(j) == '\t')) j += 1
          if (j < lower.length) {
            val quote = lower(j)
            if (quote == '"' || quote == '\'') {
              val end = lower.indexOf(quote, j + 1)
              if (end > j + 1) return Some(contentType.substring(j + 1, end))
            } else {
              var end = j
              while (end < lower.length && lower(end) != ';' &&
                lower(end) != ' ' && lower(end) != '\t' &&
                lower(end) != '\r' && lower(end) != '\n') end += 1
              if (end > j) return Some(contentType.substring(j, end))
            }
          }
        }
      }
      i = lower.indexOf("charset", i + 7)
    }
    None
  }

  private val prescanWindow = 1024

  /** Is position `at` inside an open `<meta …` tag? — scan backwards
    * to the nearest `<` or `>`: a `>` first means the occurrence sits
    * in text/script content between tags; a `<` must open `meta`
    * (ASCII-case-insensitive) followed by a tag-name boundary
    * (whitespace or `/`). This keeps a `charset=` mention in an early
    * comment, script literal or visible text from donating a label
    * the page's markup never carried (WHATWG's prescan only reads
    * attributes of `<meta>` tags).
    */
  private def inMetaTag(body: Array[Byte], at: Int): Boolean = {
    var p = at - 1
    while (p >= 0) {
      val c = body(p)
      if (c == '>') return false
      if (c == '<') {
        val m = "meta"
        var k = 0
        while (k < 4 && p + 1 + k < at &&
          (body(p + 1 + k) | 0x20) == m(k).toInt) k += 1
        if (k < 4) return false
        val b = if (p + 5 < at) body(p + 5) else -1
        // WHATWG tag-name boundary = any ASCII whitespace or '/':
        // space, tab, CR, LF, FORM FEED (0x0C)
        return b == ' ' || b == '\t' || b == '\r' || b == '\n' ||
          b == '\f' || b == '/'
      }
      p -= 1
    }
    false
  }

  /** Window bytes inside an HTML comment (`<!--` … `-->`; an
    * unterminated comment runs to the window end) — the real prescan
    * skips comments entirely, so a commented-OUT meta tag must not
    * donate its label ([[inMetaTag]] alone cannot see this: the
    * commented `<meta` is still the nearest `<`). The close scan
    * starts after the full 4-byte opener, so the `<!-->` overlap
    * curiosity stays open to the window end — over-masking only ever
    * falls back to the sniffing steps, never honors a wrong label.
    */
  private def commentMask(body: Array[Byte], n: Int): Array[Boolean] = {
    val mask = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (i + 3 < n && body(i) == '<' && body(i + 1) == '!' &&
        body(i + 2) == '-' && body(i + 3) == '-') {
        var j = i + 4
        var end = n
        while (end == n && j + 2 < n) {
          if (body(j) == '-' && body(j + 1) == '-' && body(j + 2) == '>')
            end = j + 3
          j += 1
        }
        var k = i
        while (k < end) { mask(k) = true; k += 1 }
        i = end
      } else i += 1
    }
    mask
  }

  /** The first charset label found inside a `<meta` tag in the byte
    * prescan window — the deterministic core of the WHATWG meta
    * prescan: the literal `charset` (ASCII-case-insensitive), optional
    * spaces, `=`, optional spaces, then a quoted or unquoted label
    * token. Bytes are compared as ASCII; a label containing non-ASCII
    * is ignored; an occurrence NOT inside an open `<meta` tag (a
    * comment — including a commented-out meta tag — a script body, or
    * visible text) is skipped.
    */
  def metaCharset(body: Array[Byte]): Option[String] = {
    val n = math.min(body.length, prescanWindow)
    val target = "charset"
    val inComment = commentMask(body, n)
    var i = 0
    while (i + target.length <= n) {
      var k = 0
      while (k < target.length &&
        (body(i + k) | 0x20) == target(k).toInt) k += 1
      if (k == target.length && !inComment(i) && inMetaTag(body, i)) {
        var j = i + target.length
        while (j < n && (body(j) == ' ' || body(j) == '\t')) j += 1
        if (j < n && body(j) == '=') {
          j += 1
          while (j < n && (body(j) == ' ' || body(j) == '\t')) j += 1
          if (j < n) {
            val quote = body(j)
            val sb = new java.lang.StringBuilder()
            if (quote == '"' || quote == '\'') {
              j += 1
              var ok = true
              while (j < n && body(j) != quote && ok) {
                if (body(j) < 0x20 || body(j) >= 0x7F) ok = false
                else { sb.append(body(j).toChar); j += 1 }
              }
              if (ok && j < n && sb.length > 0) return Some(sb.toString)
            } else {
              while (j < n && body(j) > 0x20 && body(j) < 0x7F &&
                body(j) != ';' && body(j) != '>' && body(j) != '"' &&
                body(j) != '\'' && body(j) != '/') {
                sb.append(body(j).toChar); j += 1
              }
              // a token cut off by the WINDOW edge (not by the body
              // end or a delimiter) is a truncated label — returning
              // 'utf' for 'utf-8' would NULL-reject a decodable page;
              // fall through to the sniffing steps instead
              if (sb.length > 0 && !(j == n && n < body.length))
                return Some(sb.toString)
            }
          }
        }
      }
      i += 1
    }
    None
  }

  /** Strict UTF-8 validity: no overlongs, no surrogate codepoints,
    * nothing above U+10FFFF, no truncated sequences.
    */
  def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else if (c < 0xC2) return false // continuation or overlong lead
      else if (c < 0xE0) { // 2-byte
        if (i + 1 >= n || (b(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (c < 0xF0) { // 3-byte
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xFF
        if ((c1 & 0xC0) != 0x80 || (b(i + 2) & 0xC0) != 0x80) return false
        if (c == 0xE0 && c1 < 0xA0) return false // overlong
        if (c == 0xED && c1 >= 0xA0) return false // surrogate
        i += 3
      } else if (c < 0xF5) { // 4-byte
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xFF
        if ((c1 & 0xC0) != 0x80 || (b(i + 2) & 0xC0) != 0x80 ||
          (b(i + 3) & 0xC0) != 0x80) return false
        if (c == 0xF0 && c1 < 0x90) return false // overlong
        if (c == 0xF4 && c1 >= 0x90) return false // > U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  private def decodeW1252(b: Array[Byte], from: Int): String = {
    val sb = new java.lang.StringBuilder(b.length - from)
    var i = from
    while (i < b.length) {
      val c = b(i) & 0xFF
      if (c >= 0x80 && c <= 0x9F) sb.append(w1252(c - 0x80))
      else sb.append(c.toChar)
      i += 1
    }
    sb.toString
  }

  private def decodeJdk(b: Array[Byte], from: Int,
      cs: java.nio.charset.Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(b, from, b.length - from)).toString
  }

  private def decodeAs(name: String, b: Array[Byte], from: Int): String =
    name match {
      case "windows-1252" => decodeW1252(b, from)
      case "utf-8" =>
        decodeJdk(b, from, java.nio.charset.StandardCharsets.UTF_8)
      case "utf-16le" =>
        decodeJdk(b, from, java.nio.charset.StandardCharsets.UTF_16LE)
      case "utf-16be" =>
        decodeJdk(b, from, java.nio.charset.StandardCharsets.UTF_16BE)
      case other => throw new IllegalStateException(
        s"unreachable: unhandled charset $other")
    }

  private def labeled(raw: String, body: Array[Byte], method: String,
      legacy: EncodingStore.LegacyTables): (String, String, String) =
    normalizeLabel(raw) match {
      case Some(cs0) =>
        // WHATWG HTML §13.2.3.2: a UTF-16 label found by the META
        // prescan is changed to UTF-8 — the prescan READ the label as
        // ASCII, which proves the body is not UTF-16 (a real UTF-16
        // page declares itself by BOM, handled before any label).
        // Honoring the label literally would mojibake the whole page.
        val cs = if (method == "meta" &&
          (cs0 == "utf-16le" || cs0 == "utf-16be")) "utf-8" else cs0
        (decodeAs(cs, body, 0), cs, method)
      case None =>
        // the legacy multi-byte families decode IFF a pinned
        // EncodingStore artifact carries their index — the embedded
        // ladder alone keeps the honest named rejection
        val legacyName =
          if (legacy == null) None
          else EncodingStore.normalizeLegacyLabel(raw)
            .filter(legacy.supports)
        legacyName match {
          case Some(enc) => (legacy.decode(enc, body, 0), enc, method)
          case None => (null,
            raw.trim.toLowerCase(java.util.Locale.ROOT),
            "unsupported-label")
        }
    }

  /** Sniff + decode with the embedded ladder only. */
  def sniffDecode(body: Array[Byte],
      contentType: String): (String, String, String) =
    sniffDecode(body, contentType, null)

  /** Sniff + decode. Returns (text-or-null, charset, method); when
    * `legacy` is non-null, labels naming a legacy multi-byte encoding
    * whose index the pinned artifact carries decode through the
    * [[EncodingStore.LegacyTables]] state machines instead of
    * rejecting.
    */
  def sniffDecode(body: Array[Byte], contentType: String,
      legacy: EncodingStore.LegacyTables): (String, String, String) = {
    // 1. BOM
    if (body.length >= 3 && (body(0) & 0xFF) == 0xEF &&
      (body(1) & 0xFF) == 0xBB && (body(2) & 0xFF) == 0xBF)
      return (decodeAs("utf-8", body, 3), "utf-8", "bom")
    if (body.length >= 2 && (body(0) & 0xFF) == 0xFF &&
      (body(1) & 0xFF) == 0xFE)
      return (decodeAs("utf-16le", body, 2), "utf-16le", "bom")
    if (body.length >= 2 && (body(0) & 0xFF) == 0xFE &&
      (body(1) & 0xFF) == 0xFF)
      return (decodeAs("utf-16be", body, 2), "utf-16be", "bom")
    // 2. transport label
    if (contentType != null) charsetParam(contentType) match {
      case Some(raw) => return labeled(raw, body, "header", legacy)
      case None => ()
    }
    // 3. in-content label (prescan window)
    metaCharset(body) match {
      case Some(raw) => return labeled(raw, body, "meta", legacy)
      case None => ()
    }
    // 4. strict UTF-8 validity
    if (isValidUtf8(body))
      return (decodeAs("utf-8", body, 0), "utf-8", "valid-utf8")
    // 5. the legacy default
    (decodeAs("windows-1252", body, 0), "windows-1252", "fallback")
  }
}

/** `charset_decode(body, content_type)` → struct<text, charset,
  * method> — the [[CharsetDecode]] contract as a native expression:
  * one sniff+decode pass per row in the scan projection, composing
  * with [[WarcParseExpr]] upstream and [[HtmlExtractExpr]] downstream
  * so WARC bytes reach clean text without leaving the projection.
  * `text` is NULL only for the named unsupported-label rejection;
  * a NULL body nulls the whole struct, a NULL content_type just
  * skips the transport-label step.
  */
case class CharsetDecodeExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("charset", StringType, nullable = false),
    StructField("method", StringType, nullable = false)))
  override def prettyName: String = "charset_decode"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "(binary body, string contentType)",
      (left.dataType.catalogString, left.dataType == BinaryType),
      (right.dataType.catalogString, TextExprTypes.isString(right.dataType)))

  // Null contract differs from the default BinaryExpression (a null
  // content-type must NOT null the row — it only skips step 2), so
  // eval is overridden rather than nullSafeEval.
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bodyAny = left.eval(input)
    if (bodyAny == null) return null
    val ctAny = right.eval(input)
    val ct = if (ctAny == null) null
      else ctAny.asInstanceOf[UTF8String].toString
    val (text, cs, method) =
      CharsetDecode.sniffDecode(bodyAny.asInstanceOf[Array[Byte]], ct)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (text == null) null else UTF8String.fromString(text),
        UTF8String.fromString(cs), UTF8String.fromString(method)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CharsetDecodeExpr =
    copy(left = newLeft, right = newRight)
}

/** `charset_decode_from_artifact(body, content_type)` — the
  * [[CharsetDecodeExpr]] contract with a PINNED
  * [[EncodingStore.LegacyTables]] baked in at construction: the same
  * detection ladder, but labels naming
  * shift_jis/euc-jp/gbk/gb18030/big5/euc-kr decode through the pinned
  * artifact's index tables (WHATWG state machines) instead of
  * rejecting. Labels whose index the pin does NOT carry stay honest
  * `unsupported-label` rejections — so two pins of different versions
  * can give the same row different verdicts, which is the whole point
  * of construction-time pinning. The tables ship inside the plan (the
  * PSL / language-profile / tokenizer artifact discipline).
  */
case class CharsetDecodeArtifactExpr(left: Expression, right: Expression,
    tables: EncodingStore.LegacyTables)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("charset", StringType, nullable = false),
    StructField("method", StringType, nullable = false)))
  override def prettyName: String = "charset_decode_from_artifact"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "(binary body, string contentType)",
      (left.dataType.catalogString, left.dataType == BinaryType),
      (right.dataType.catalogString, TextExprTypes.isString(right.dataType)))

  // same null contract as CharsetDecodeExpr: a null content-type only
  // skips the transport-label step
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bodyAny = left.eval(input)
    if (bodyAny == null) return null
    val ctAny = right.eval(input)
    val ct = if (ctAny == null) null
      else ctAny.asInstanceOf[UTF8String].toString
    val (text, cs, method) = CharsetDecode.sniffDecode(
      bodyAny.asInstanceOf[Array[Byte]], ct, tables)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (text == null) null else UTF8String.fromString(text),
        UTF8String.fromString(cs), UTF8String.fromString(method)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CharsetDecodeArtifactExpr =
    copy(left = newLeft, right = newRight)
}

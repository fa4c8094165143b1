package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML → text extraction for the crawl-ingest path (the step every
  * web-corpus pipeline runs between the WARC reader and the curation
  * stack — CCNet/RefinedWeb strip markup before any quality gate).
  * Implemented as a codegen-friendly column-expression chain (regexp
  * passes restricted to the regex subset Java and RE2 share, plus one
  * native single-pass expression), so the semantics are replayable in
  * the DuckDB oracle dialect:
  *
  *  1. drop `<script>…</script>` and `<style>…</style>` blocks whole
  *     (their CONTENT is code, not text — a tag-only pass would leak
  *     it, the classic naive-stripper bug);
  *  2. drop `<!-- … -->` comments;
  *  3. drop every remaining tag `<[^>]*>`;
  *  4. decode character references in ONE left-to-right pass
  *     ([[graft.plans.HtmlEntityExpression]] — numeric dec/hex
  *     charrefs plus `amp lt gt quot apos nbsp`; `&amp;lt;` decodes to
  *     the literal text `&lt;` exactly like a real entity decoder,
  *     `&nbsp;` to U+00A0 which ASCII-whitespace tokenizers keep);
  *  5. collapse ASCII-whitespace runs and trim.
  *
  * Scope: extraction, not sanitization — strict HTML correctness is not
  * assumed (crawl HTML never parses cleanly); the scanner semantics are
  * differential-tested against an independent character-walker in
  * HtmlOpsSpec.
  *
  * The byte side of the same ingest step lives here too: splitting a
  * WARC response's HTTP message and sniffing the charset that decides
  * whether the body's bytes decode at all. Those run scan-side in the
  * WARC flatMap (the bytes are in hand there), not as columns.
  */
object HtmlOps {

  /** Drop the non-content regions — script/style blocks whole (their
    * content is code; a tag-only pass would leak it) and comments.
    * Shared by [[stripHtml]] and the block-level extractors, which must
    * run it BEFORE block segmentation (a `<p>` inside a script string
    * is the classic trap).
    */
  def dropInvisible(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  def stripHtml(c: Column): Column = {
    val noTags = regexp_replace(dropInvisible(c), "<[^>]*>", " ")
    val decoded = graft.plans.HtmlEntityExpression.decodeHtmlEntities(noTags)
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** A parsed HTTP/1.x message: the status code a crawl consumer must
    * gate on (real crawls are 20–30 % 3xx/4xx/5xx whose bodies are
    * redirect stubs and error pages), the raw header block, and the
    * body with transfer framing REMOVED — a WARC `response` record
    * stores the raw bytes on the wire (ISO 28500 §6.3), so a
    * `Transfer-Encoding: chunked` capture carries chunk-size lines
    * inside the body that would otherwise leak into extracted text.
    */
  final case class HttpMessage(status: Int, headers: String,
      body: Array[Byte])

  private val StatusLine = "^HTTP/\\d[.\\d]* (\\d{3})".r

  /** Parse an HTTP/1.x response message: status line (code extracted),
    * CRLFCRLF header/body split, chunked-framing removal when the
    * headers declare `Transfer-Encoding: chunked` (RFC 9112 §7.1), and
    * content-coding removal per the `Content-Encoding` list (RFC 9110
    * §8.4 — codings are listed in the order applied, so the receiver
    * undoes them in REVERSE; transfer framing wraps the content coding,
    * so de-chunk FIRST, then decode). Codings decoded by the
    * engine's codecs over `java.util.zip`: `gzip`/`x-gzip` (RFC 1952,
    * CRC-32/ISIZE-verified), `deflate` (RFC 1950 zlib, with the raw
    * RFC 1951 fallback real servers ship), `identity` (no-op). Strict:
    * a missing/malformed status line, no separator, broken chunk
    * framing, a corrupt coded stream, or an UNKNOWN coding (`br`,
    * `zstd`, …) → None (not a usable HTTP message — skip the record,
    * never let coded bytes flow downstream as text).
    */
  def httpParse(payload: Array[Byte]): Option[HttpMessage] = {
    val probe = math.min(payload.length, 16)
    val head = new String(payload, 0, probe,
      java.nio.charset.StandardCharsets.US_ASCII)
    val status = StatusLine.findFirstMatchIn(head) match {
      case Some(m) => m.group(1).toInt
      case None => return None
    }
    var i = 0
    while (i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n') {
        val headers = new String(payload, 0, i,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val raw =
          java.util.Arrays.copyOfRange(payload, i + 4, payload.length)
        val deframed =
          if (ChunkedRe.findFirstIn(headers).isDefined)
            deChunk(raw) match {
              case Some(b) => b
              case None => return None
            }
          else raw
        var body = deframed
        val codings = ContentEncodingRe.findFirstMatchIn(headers).toSeq
          .flatMap(_.group(1).split(','))
          .map(_.trim.toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty)
        codings.reverseIterator.foreach {
          case "gzip" | "x-gzip" =>
            body = gunzip(body) match {
              case Some(b) => b
              case None => return None
            }
          case "deflate" =>
            body = inflateBody(body) match {
              case Some(b) => b
              case None => return None
            }
          case "identity" => ()
          case _ => return None // br, zstd, unknown: skip the record
        }
        return Some(HttpMessage(status, headers, body))
      }
      i += 1
    }
    None
  }

  // anchored to line start: a header NAME merely ending in the field
  // name (`X-Orig-Transfer-Encoding: chunked`) must not false-positive
  private val ChunkedRe =
    "(?mi)^transfer-encoding:[^\\r\\n]*\\bchunked\\b".r
  private val ContentEncodingRe =
    "(?mi)^content-encoding:([^\\r\\n]*)".r
  private val LocationRe =
    "(?mi)^location:[ \\t]*([^\\r\\n]+)".r

  /** The `Location` header of a redirect response — the frontier edge a
    * recrawl follows (RFC 9110 §10.2.2). Trimmed verbatim value;
    * resolution/canonicalization is the caller's.
    */
  def location(headers: String): Option[String] =
    LocationRe.findFirstMatchIn(headers).map(_.group(1).trim)
      .filter(_.nonEmpty)

  private val RetryAfterRe =
    "(?mi)^retry-after:[ \\t]*([^\\r\\n]+)".r
  private val HttpDateRe =
    "(?mi)^date:[ \\t]*([^\\r\\n]+)".r

  /** IMF-fixdate (RFC 9110 §5.6.7) → epoch seconds; None on anything
    * unparseable.
    */
  private def imfFixdateEpoch(s: String): Option[Long] =
    try Some(java.time.ZonedDateTime.parse(s.trim,
      java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
      .toEpochSecond)
    catch { case _: java.time.format.DateTimeParseException => None }

  /** The response's own `Date` header (RFC 9110 §6.6.1) as epoch
    * seconds — the anchor an HTTP-date `Retry-After` is relative to.
    */
  def httpDate(headers: String): Option[Long] =
    HttpDateRe.findFirstMatchIn(headers).map(_.group(1))
      .flatMap(imfFixdateEpoch)

  /** `Retry-After` (RFC 9110 §10.2.3): `Left(deltaSeconds)` for the
    * delta form, `Right(epochSeconds)` for the HTTP-date form; None
    * when absent or unparseable (a junk value fails open to the
    * caller's default backoff, the same stance as unparseable robots
    * fields).
    */
  def retryAfter(headers: String): Option[Either[Long, Long]] =
    RetryAfterRe.findFirstMatchIn(headers).map(_.group(1).trim)
      .flatMap { v =>
        if (v.nonEmpty && v.forall(_.isDigit)) v.toLongOption.map(Left(_))
        else imfFixdateEpoch(v).map(Right(_))
      }

  private val ContentTypeRe =
    "(?mi)^content-type:[ \\t]*([^\\r\\n]+)".r

  /** The declared media-type ESSENCE of a response (RFC 9110 §8.3):
    * the `Content-Type` value with its parameters (`; charset=…`)
    * stripped, lowercased, trimmed — the routing key a multimodal
    * pipeline compares against the sniffed type. None when the header
    * is absent or empty.
    */
  def contentType(headers: String): Option[String] =
    ContentTypeRe.findFirstMatchIn(headers)
      .map(_.group(1).takeWhile(_ != ';').trim
        .toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)

  private val LinkHeaderRe =
    "(?mi)^link:[ \\t]*([^\\r\\n]+)".r

  /** RFC 8288 §3 link-value scanner over one `Link` header value:
    * `<target>; p=v; q="v 2", <t2>; …` — quote-aware (a `,` or `;`
    * inside a quoted param value does not split, `\"`-escapes
    * unescape), param names lower-cased. Returns (target, params) per
    * link-value; duplicate params are kept in order so the caller can
    * apply §3.3's first-occurrence rule.
    */
  private def linkValues(s: String): Seq[(String, Seq[(String, String)])] = {
    val out = Seq.newBuilder[(String, Seq[(String, String)])]
    val n = s.length
    var i = 0
    def skipWs(): Unit =
      while (i < n && (s.charAt(i) == ' ' || s.charAt(i) == '\t')) i += 1
    while (i < n) {
      skipWs()
      if (i < n && s.charAt(i) == '<') {
        val end = s.indexOf('>', i + 1)
        if (end < 0) i = n
        else {
          val target = s.substring(i + 1, end).trim
          i = end + 1
          val params = Seq.newBuilder[(String, String)]
          var more = true
          while (more) {
            skipWs()
            if (i < n && s.charAt(i) == ';') {
              i += 1; skipWs()
              val ns = i
              while (i < n && s.charAt(i) != '=' && s.charAt(i) != ';' &&
                s.charAt(i) != ',') i += 1
              val name = s.substring(ns, i).trim
                .toLowerCase(java.util.Locale.ROOT)
              var value = ""
              if (i < n && s.charAt(i) == '=') {
                i += 1; skipWs()
                if (i < n && s.charAt(i) == '"') {
                  val sb = new StringBuilder
                  i += 1
                  while (i < n && s.charAt(i) != '"') {
                    if (s.charAt(i) == '\\' && i + 1 < n) {
                      sb.append(s.charAt(i + 1)); i += 2
                    } else { sb.append(s.charAt(i)); i += 1 }
                  }
                  if (i < n) i += 1
                  value = sb.toString
                } else {
                  val vs = i
                  while (i < n && s.charAt(i) != ';' && s.charAt(i) != ',')
                    i += 1
                  value = s.substring(vs, i).trim
                }
              }
              if (name.nonEmpty) params += ((name, value))
            } else more = false
          }
          out += ((target, params.result()))
          skipWs()
          if (i < n && s.charAt(i) == ',') i += 1
        }
      } else {
        val c = s.indexOf(',', i)
        i = if (c < 0) n else c + 1
      }
    }
    out.result()
  }

  /** The canonical target declared via an HTTP `Link` header
    * (RFC 8288) with `rel="canonical"` — the header-level alias signal
    * production pipelines read BEFORE the HTML (it survives non-HTML
    * content types and is what CDNs inject). First matching link-value
    * across all `Link` header lines wins; `rel` is a space-separated
    * list, quoted or bare, matched case-insensitively, and only a
    * link-value's FIRST `rel` param counts (§3.3) — a non-rel param
    * whose quoted value contains "rel=canonical" never false-positives
    * because params are tokenized, not regex-searched. Verbatim
    * target; resolution/canonicalization is the caller's.
    */
  def linkHeaderCanonical(headers: String): Option[String] =
    LinkHeaderRe.findAllMatchIn(headers)
      .flatMap(hm => linkValues(hm.group(1)))
      .collectFirst {
        case (target, params) if target.nonEmpty &&
          params.find(_._1 == "rel").exists(_._2.split("\\s+")
            .exists(_.equalsIgnoreCase("canonical"))) => target
      }

  private val LinkTagRe = "(?is)<link\\b[^>]*>".r
  private val BaseTagRe = "(?is)<base\\b[^>]*>".r

  /** Attribute value inside an HTML start tag: double-quoted,
    * single-quoted, or the HTML5-legal UNQUOTED form (terminated by
    * whitespace or `>`).
    */
  private def tagAttr(tag: String, name: String): Option[String] = {
    // (?<![-\w]): `data-href=` must not satisfy a lookup of `href`
    val re = ("(?i)(?<![-\\w])" + name +
      "\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))").r
    re.findFirstMatchIn(tag)
      .map(m => Option(m.group(1))
        .orElse(Option(m.group(2))).getOrElse(m.group(3)))
  }

  /** The canonical target declared via an HTML
    * `<link rel="canonical" href="…">` element — attribute order
    * independent, double-/single-/un-quoted values, `rel` matched as a
    * case-insensitive space-separated token list (a
    * `rel="alternate canonical"` counts; `rel="alternate"` does not).
    * First declaring tag wins (the de-facto rule engines apply to
    * conflicting declarations). Verbatim href; resolution is the
    * caller's — compose with [[baseHref]] first when honoring the
    * document base. NOTE: runs on the raw HTML — callers gate on
    * status 200 first, the same contract as the link extractor.
    */
  def canonicalLink(html: String): Option[String] =
    LinkTagRe.findAllIn(html).toSeq.iterator.flatMap { tag =>
      if (tagAttr(tag, "rel").exists(_.split("\\s+")
        .exists(_.equalsIgnoreCase("canonical"))))
        tagAttr(tag, "href").filter(_.nonEmpty)
      else None
    }.nextOption()

  /** The document's `<base href="…">` (HTML §4.2.3: the FIRST base
    * element with an href wins) — relative references in the document,
    * the canonical href included, resolve against it, itself resolved
    * against the page URI. A pipeline that ignores it mis-targets
    * every relative declaration on base-bearing pages.
    */
  def baseHref(html: String): Option[String] =
    BaseTagRe.findAllIn(html).toSeq.iterator
      .flatMap(tag => tagAttr(tag, "href").filter(_.nonEmpty))
      .nextOption()

  /** All `<link rel="alternate" hreflang="…" href="…">` declarations
    * of the document, in order — the language-edition graph the
    * hreflang protocol publishes (Google's multilingual annotation;
    * the W3C `alternate` link type + BCP 47 tags). `rel` is matched as
    * a token list (an `alternate` among other tokens counts), all
    * three attributes accept the quoted/unquoted forms, and a
    * rel=alternate link WITHOUT an hreflang (an RSS feed link) is not
    * an edition edge. Verbatim (hreflang, href) pairs; resolution is
    * the caller's.
    */
  def hreflangLinks(html: String): Seq[(String, String)] =
    LinkTagRe.findAllIn(html).toSeq.flatMap { tag =>
      if (tagAttr(tag, "rel").exists(_.split("\\s+")
        .exists(_.equalsIgnoreCase("alternate"))))
        for {
          lang <- tagAttr(tag, "hreflang").filter(_.nonEmpty)
          href <- tagAttr(tag, "href").filter(_.nonEmpty)
        } yield (lang, href)
      else None
    }

  private val EtagRe =
    "(?mi)^etag:[ \\t]*([^\\r\\n]+)".r
  private val LastModifiedRe =
    "(?mi)^last-modified:[ \\t]*([^\\r\\n]+)".r

  /** The `ETag` validator of a response (RFC 9110 §8.8.3) — what a
    * revalidating recrawl sends back as `If-None-Match`. Verbatim
    * (weak `W/"…"` prefixes included — weak validators are still
    * validators for GET revalidation), anchored at line start.
    */
  def etag(headers: String): Option[String] =
    EtagRe.findFirstMatchIn(headers).map(_.group(1).trim)
      .filter(_.nonEmpty)

  /** The `Last-Modified` validator (RFC 9110 §8.8.2) — the
    * `If-Modified-Since` revalidation anchor. Verbatim value; date
    * parsing is the caller's concern (equality semantics suffice for
    * revalidation accounting).
    */
  def lastModified(headers: String): Option[String] =
    LastModifiedRe.findFirstMatchIn(headers).map(_.group(1).trim)
      .filter(_.nonEmpty)

  /** gzip body → bytes: CRC-32/ISIZE-verified from-spec walk; a gzip
    * body is one stream but multi-member is legal — payloads
    * concatenate (single pre-sized buffer; a many-member body must not
    * pay a quadratic array-append walk).
    */
  private def gunzip(data: Array[Byte]): Option[Array[Byte]] =
    graft.multimodal.GzipCodec.members(data, 1 << 24) match {
      case Some(ms) if ms.nonEmpty =>
        if (ms.length == 1) Some(ms.head.payload)
        else {
          val out = new java.io.ByteArrayOutputStream(
            ms.iterator.map(_.payload.length).sum)
          ms.foreach(m => out.write(m.payload, 0, m.payload.length))
          Some(out.toByteArray)
        }
      case _ => None
    }

  /** `deflate` content coding (RFC 9110 §8.4.1.2): a zlib stream
    * (RFC 1950) — but a large class of real servers ship RAW DEFLATE
    * (RFC 1951) under the same name, so the standard receiver heuristic
    * applies: inflate as zlib (header and Adler-32 trailer verified,
    * bytes after the trailer ignored); if that fails, inflate raw from
    * offset 0. Both paths run [[graft.multimodal.InflateCodec]] with a
    * 16 MiB bound.
    */
  private[text] def inflateBody(data: Array[Byte]): Option[Array[Byte]] =
    graft.multimodal.InflateCodec.zlibUnknown(data, 1 << 24).orElse(
      graft.multimodal.InflateCodec.inflateUnknown(data, 0, 1 << 24)
        .map(_._1))

  /** Remove RFC 9112 §7.1 chunked framing: `hex-size[;ext]CRLF data
    * CRLF` repeated, terminated by a 0-size chunk (trailer section
    * ignored). Leading zeros on the size are legal and seen in the wild
    * (`0000000A`), so they skip BEFORE the 8-significant-hex-digit
    * overflow cap; BWS between the size and the extension/CRLF is
    * tolerated (real servers emit it). None on any malformation —
    * truncated chunk, missing CRLF, non-hex size, oversized size.
    */
  private[text] def deChunk(body: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    var i = 0
    while (true) {
      // chunk-size line: hex digits, optional ;extension, CRLF
      var j = i
      var size = 0L
      var digits = 0
      while (j < body.length && body(j) == '0') j += 1 // leading zeros
      val sawZero = j > i
      while (j < body.length && Character.digit(body(j).toChar, 16) >= 0 &&
        digits < 8) {
        size = size * 16 + Character.digit(body(j).toChar, 16)
        digits += 1
        j += 1
      }
      if (digits == 0 && !sawZero) return None
      // BWS after the size (before ';' or CRLF)
      while (j < body.length && (body(j) == ' ' || body(j) == '\t')) j += 1
      if (j < body.length && body(j) == ';') // chunk extension: skip to CR
        while (j < body.length && body(j) != '\r') j += 1
      if (j + 1 >= body.length || body(j) != '\r' || body(j + 1) != '\n')
        return None
      j += 2
      if (size == 0) return Some(out.toByteArray) // trailers ignored
      if (j + size + 2 > body.length) return None
      out.write(body, j, size.toInt)
      j += size.toInt
      if (body(j) != '\r' || body(j + 1) != '\n') return None
      i = j + 2
    }
    None // unreachable
  }

  private val HeaderCharset =
    "(?i)content-type:[^\\r\\n]*charset=\"?([A-Za-z0-9_\\-]+)".r
  private val MetaCharset =
    "(?i)<meta[^>]*charset=\"?'?([A-Za-z0-9_\\-]+)".r

  /** Charset sniff, the order real crawl pipelines use: the HTTP
    * `Content-Type` header's charset parameter wins; else a
    * `<meta charset=…>` / `<meta http-equiv … content=…charset=…>` in
    * the first 1024 body bytes (read as ASCII superset — the HTML5
    * prescan); else UTF-8 (the modern-web default; a mis-sniff shows up
    * as mojibake the fixture plants non-ASCII text to catch). Unknown
    * or unsupported names also fall back to UTF-8.
    */
  def sniffCharset(httpHeaders: String,
      body: Array[Byte]): java.nio.charset.Charset = {
    val fromHeader = HeaderCharset.findFirstMatchIn(httpHeaders).map(_.group(1))
    val name = fromHeader.orElse {
      val probe = new String(body, 0, math.min(body.length, 1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      MetaCharset.findFirstMatchIn(probe).map(_.group(1))
    }
    name.map(_.toLowerCase) match {
      case Some("utf-8") | Some("utf8") =>
        java.nio.charset.StandardCharsets.UTF_8
      case Some("iso-8859-1") | Some("latin1") | Some("latin-1") =>
        java.nio.charset.StandardCharsets.ISO_8859_1
      case Some("windows-1252") | Some("cp1252") =>
        java.nio.charset.Charset.forName("windows-1252")
      case Some("us-ascii") | Some("ascii") =>
        java.nio.charset.StandardCharsets.US_ASCII
      case Some(other) =>
        // any other IANA name the JVM knows (Shift_JIS, GBK, EUC-KR,
        // KOI8-R… — real crawls carry them all); unknown names fall to
        // UTF-8, and decoding itself never throws (malformed input
        // becomes U+FFFD, which the quality gates then see)
        try {
          if (java.nio.charset.Charset.isSupported(other))
            java.nio.charset.Charset.forName(other)
          else java.nio.charset.StandardCharsets.UTF_8
        } catch {
          case _: java.nio.charset.IllegalCharsetNameException =>
            java.nio.charset.StandardCharsets.UTF_8
        }
      case None => java.nio.charset.StandardCharsets.UTF_8
    }
  }
}

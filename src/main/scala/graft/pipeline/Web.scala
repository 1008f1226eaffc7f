package graft.pipeline

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}

/** Web-archive ingest: the front end of every crawl-scale corpus
  * pipeline (C4, CCNet, RefinedWeb all start from Common Crawl WARC
  * files) — absent from the reference, whose corpus arrives as
  * database rows, but a first-class stage for a 100 TB training-data
  * engine.
  *
  * Three real layers, no stubs:
  *  - **WARC/1.0 container** (ISO 28500): [[encodeCaptures]] writes
  *    genuine multi-record WARC streams (warcinfo + request +
  *    response, CRLF header framing, `Content-Length` payload
  *    framing, optional per-record gzip members exactly as Common
  *    Crawl ships them); [[warcRecords]] walks them back, sniffing
  *    and inflating gzip transparently.
  *  - **HTTP message split**: response records hold a full HTTP/1.1
  *    message; [[httpBody]] splits head from entity body at the
  *    blank line, the WET-conversion step.
  *  - **HTML → text extraction**: [[htmlBlocks]] tokenizes markup,
  *    prunes non-content subtrees structurally (head/nav/footer/
  *    aside/form + script/style, the readability/trafilatura move),
  *    segments at block-level tags, decodes entities, and scores
  *    each block by word count and link density — the jusText /
  *    Kohlschütter boilerplate signal (Pomikálek 2011; Kohlschütter
  *    et al., WSDM 2010). [[extractPage]] keeps blocks with ≥
  *    `minWords` words and link density ≤ 1/3.
  *
  * Scale design: every layer is a per-row transform over the payload
  * column — encode, walk, inflate, extract all happen inside the task
  * that holds the bytes; nothing but small typed fields (ids, counts,
  * digests, extracted text) ever enters an exchange. On a cluster the
  * same code fans out per input split and payload bytes are read
  * exactly once.
  */
object Web {

  /** One captured page: a (possibly gzipped) WARC stream of
    * warcinfo + request + response records.
    */
  case class WebCapture(doc_id: Long, warc: Array[Byte])

  /** One parsed WARC record, payload reduced to typed facts. */
  case class WarcRecordRow(
      doc_id: Long,
      rec_idx: Int,
      warc_type: String,
      target_uri: String,
      content_length: Long,
      payload_md5: String)

  /** Extraction result: block census + the recovered main text. */
  case class WebText(
      doc_id: Long,
      n_blocks: Long,
      n_kept: Long,
      n_words: Long,
      text: String)

  private[graft] def md5Hex(b: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(b).map("%02x".format(_)).mkString
  }

  private val Crlf = "\r\n"

  /** Deterministic RFC-4122-shaped record id — uniqueness from
    * (doc_id, rec_idx), replayable in closed form by any engine.
    */
  private def recordId(docId: Long, recIdx: Int): String =
    f"<urn:uuid:00000000-0000-4000-8000-${docId * 4 + recIdx}%012d>"

  private[graft] def targetUri(docId: Long): String =
    s"http://corpus.example/doc/$docId"

  /** The synthetic page for one document — content paragraphs wrapped
    * in the boilerplate every real page carries: link-only nav, a
    * short heading, a link-dense share block, an entity-laden footer.
    * Paragraph 2 exercises entity decoding in KEPT text (`&amp;`).
    * Kept closed-form replayable: pure concatenation of literals,
    * `doc_id`, and the source text (see the p192–p194 oracles).
    */
  private[graft] def htmlPage(docId: Long, text: String): String =
    "<!DOCTYPE html><html><head><title>Doc " + docId +
      "</title><style>body{margin:0}</style><script>var x=1;</script>" +
      "</head><body>" +
      "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a> " +
      "<a href=\"/doc/" + (docId + 1) + "\">next</a></nav>" +
      "<h1>Document " + docId + "</h1>" +
      "<p>" + text + "</p>" +
      "<p>archived &amp; verified copy of record " + docId +
      " from crawl segment " + (docId % 10) + ".</p>" +
      "<div class=\"share\"><a href=\"#\">share</a> <a href=\"#\">tweet</a></div>" +
      "<footer>&copy; 2026 corpus example &middot; all rights reserved</footer>" +
      "</body></html>"

  private def warcHeader(wtype: String, docId: Long, recIdx: Int,
      uri: String, contentType: String, contentLength: Int): String = {
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(Crlf)
    sb.append("WARC-Type: ").append(wtype).append(Crlf)
    sb.append("WARC-Record-ID: ").append(recordId(docId, recIdx)).append(Crlf)
    sb.append("WARC-Date: 2026-01-01T00:00:00Z").append(Crlf)
    if (uri.nonEmpty)
      sb.append("WARC-Target-URI: ").append(uri).append(Crlf)
    sb.append("Content-Type: ").append(contentType).append(Crlf)
    sb.append("Content-Length: ").append(contentLength).append(Crlf)
    sb.append(Crlf)
    sb.toString
  }

  /** One record as raw bytes: CRLF-framed header block,
    * `Content-Length` content bytes, the two-CRLF record separator.
    */
  private def record(wtype: String, docId: Long, recIdx: Int, uri: String,
      contentType: String, content: Array[Byte]): Array[Byte] = {
    val head = warcHeader(wtype, docId, recIdx, uri, contentType,
      content.length).getBytes(UTF_8)
    val out = new Array[Byte](head.length + content.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(content, 0, out, head.length, content.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 2 + 32)
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** Encode one capture: warcinfo + request + response records. With
    * `gzip = true` each record becomes its own gzip member and the
    * members are concatenated — byte-for-byte how Common Crawl ships
    * `.warc.gz` (so a reader can seek to a record and inflate it
    * alone).
    */
  private[graft] def captureBytes(docId: Long, text: String,
      gzip: Boolean): Array[Byte] = {
    val uri = targetUri(docId)
    val wi = ("software: graft-web/1.0" + Crlf +
      "format: WARC file version 1.0" + Crlf).getBytes(UTF_8)
    val rq = ("GET /doc/" + docId + " HTTP/1.1" + Crlf +
      "Host: corpus.example" + Crlf +
      "User-Agent: graft-web/1.0" + Crlf +
      "Accept: text/html" + Crlf + Crlf).getBytes(UTF_8)
    val html = htmlPage(docId, text).getBytes(UTF_8)
    val rs = (("HTTP/1.1 200 OK" + Crlf +
      "Content-Type: text/html; charset=utf-8" + Crlf +
      "Content-Length: " + html.length + Crlf + Crlf)
      .getBytes(UTF_8)) ++ html
    val recs = Seq(
      record("warcinfo", docId, 0, "", "application/warc-fields", wi),
      record("request", docId, 1, uri,
        "application/http; msgtype=request", rq),
      record("response", docId, 2, uri,
        "application/http; msgtype=response", rs))
    val parts = if (gzip) recs.map(gzipMember) else recs
    val out = new ByteArrayOutputStream(parts.map(_.length).sum)
    parts.foreach(out.write)
    out.toByteArray
  }

  /** Fixture machinery: one WARC capture per document; even doc_ids
    * are written gzipped (per-record members), odd ones plain, so
    * both reader paths are always exercised.
    */
  def encodeCaptures(docs: Dataset[(Long, String)]): Dataset[WebCapture] = {
    import docs.sparkSession.implicits._
    docs.map { case (id, text) =>
      WebCapture(id, captureBytes(id, text, gzip = id % 2 == 0))
    }
  }

  /** Parsed record: headers + content bytes (internal — the public
    * surfaces reduce content to typed facts before anything shuffles).
    */
  private[graft] case class RawRecord(headers: Map[String, String],
      content: Array[Byte])

  private def inflateIfGzip(b: Array[Byte]): Array[Byte] =
    if (b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) {
      // multi-member stream: JDK GZIPInputStream concatenates members
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(b))
      val out = new ByteArrayOutputStream(b.length * 4)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } else b

  /** Walk a WARC stream: version line, CRLF header lines to the blank
    * line, `Content-Length` content bytes, two-CRLF separator —
    * strict framing, loud failure on a malformed stream (a silently
    * resynchronizing reader hides corruption).
    */
  private[graft] def parseWarc(bytes: Array[Byte]): Seq[RawRecord] = {
    val b = inflateIfGzip(bytes)
    val recs = ArrayBuffer.empty[RawRecord]
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos + 1 < b.length && !(b(pos) == '\r' && b(pos + 1) == '\n'))
        pos += 1
      require(pos + 1 < b.length, "WARC: unterminated header line")
      val s = new String(b, start, pos - start, UTF_8)
      pos += 2
      s
    }
    while (pos < b.length) {
      val version = line()
      require(version == "WARC/1.0", s"WARC: bad version line '$version'")
      var headers = Map.empty[String, String]
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        require(i > 0, s"WARC: malformed header '$h'")
        headers += (h.substring(0, i).trim.toLowerCase ->
          h.substring(i + 1).trim)
        h = line()
      }
      val len = headers.getOrElse("content-length",
        sys.error("WARC: missing Content-Length")).toInt
      require(pos + len + 4 <= b.length, "WARC: truncated content")
      val content = java.util.Arrays.copyOfRange(b, pos, pos + len)
      pos += len
      require(b(pos) == '\r' && b(pos + 1) == '\n' &&
        b(pos + 2) == '\r' && b(pos + 3) == '\n',
        "WARC: missing record separator")
      pos += 4
      recs += RawRecord(headers, content)
    }
    recs.toSeq
  }

  /** Record census of a capture corpus: one row per WARC record with
    * its type, target, framed length, and payload digest — the
    * "is every record accounted for, byte-exactly" card. Per-row
    * walk, zero exchange; payloads never leave the task.
    */
  def warcRecords(captures: Dataset[WebCapture]): Dataset[WarcRecordRow] = {
    import captures.sparkSession.implicits._
    captures.flatMap { c =>
      parseWarc(c.warc).zipWithIndex.map { case (r, i) =>
        WarcRecordRow(c.doc_id, i,
          r.headers.getOrElse("warc-type", ""),
          r.headers.getOrElse("warc-target-uri", ""),
          r.content.length.toLong,
          md5Hex(r.content))
      }
    }
  }

  /** HTTP entity body: everything past the first blank line of the
    * message — the WET-conversion split.
    */
  private[graft] def httpBody(msg: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i + 3 < msg.length && !(msg(i) == '\r' && msg(i + 1) == '\n' &&
        msg(i + 2) == '\r' && msg(i + 3) == '\n')) i += 1
    require(i + 3 < msg.length, "HTTP: no header/body split")
    java.util.Arrays.copyOfRange(msg, i + 4, msg.length)
  }

  /** The charset the HTTP head declares (`Content-Type: …;
    * charset=x`), defaulting to UTF-8 — the mojibake guard: a
    * latin-1 page decoded as UTF-8 corrupts every non-ASCII byte, so
    * the decode charset must come from the message, not assumption.
    */
  private[graft] def httpCharset(msg: Array[Byte]): java.nio.charset.Charset = {
    val headEnd = {
      var i = 0
      while (i + 3 < msg.length && !(msg(i) == '\r' && msg(i + 1) == '\n' &&
          msg(i + 2) == '\r' && msg(i + 3) == '\n')) i += 1
      i
    }
    // HTTP header field names/params are ASCII; latin-1-decode the head
    val head = new String(msg, 0, math.min(headEnd, msg.length),
      java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
    val ci = head.indexOf("charset=")
    if (ci < 0) UTF_8
    else {
      val cs = head.substring(ci + 8)
        .takeWhile(c => !c.isWhitespace && c != ';' && c != ',')
        .stripPrefix("\"").stripSuffix("\"")
      try java.nio.charset.Charset.forName(cs)
      catch { case _: Exception => UTF_8 }
    }
  }

  // ------------------------------------------------- HTML extraction

  /** Subtrees dropped wholesale — non-content by structure. */
  private val PrunedTags = Set("head", "nav", "footer", "aside", "form")

  /** Raw-text elements whose content is skipped to the closing tag. */
  private val RawTextTags = Set("script", "style")

  /** Tags that terminate the current text block. */
  private val BlockTags = Set("p", "div", "h1", "h2", "h3", "h4", "h5",
    "h6", "li", "ul", "ol", "table", "tr", "td", "th", "blockquote",
    "pre", "section", "article", "header", "main", "body", "html", "br")

  private val Entities = Map("amp" -> "&", "lt" -> "<", "gt" -> ">",
    "quot" -> "\"", "apos" -> "'", "nbsp" -> " ", "copy" -> "©",
    "middot" -> "·")

  private def decodeEntity(name: String): String =
    if (name.startsWith("#x") || name.startsWith("#X"))
      try Character.toString(Integer.parseInt(name.drop(2), 16))
      catch { case _: NumberFormatException => "&" + name + ";" }
    else if (name.startsWith("#"))
      try Character.toString(Integer.parseInt(name.drop(1)))
      catch { case _: NumberFormatException => "&" + name + ";" }
    else Entities.getOrElse(name, "&" + name + ";")

  /** One segmented text block with the boilerplate-scoring counts. */
  private[graft] case class Block(text: String, words: Int, linkWords: Int)

  // In-text markers for <a> boundaries (private-use plane — cannot
  // occur in page text), so flush() can attribute words to links
  // after whitespace normalization.
  private final val LinkOpen = '\uE000'
  private final val LinkClose = '\uE001'

  /** Tokenize markup into text blocks: structural prune
    * (head/nav/footer/aside/form subtrees, script/style content),
    * block segmentation at block-level tags, entity decoding,
    * whitespace normalization, and per-block word / link-word counts
    * (words inside `<a>` — the link-density numerator).
    */
  private[graft] def htmlBlocks(html: String): Seq[Block] = {
    val blocks = ArrayBuffer.empty[Block]
    val cur = new StringBuilder
    var pruneDepth = 0
    var i = 0
    val n = html.length
    lazy val lower = html.toLowerCase

    def flush(): Unit = {
      // normalize: collapse whitespace runs, trim; count words and
      // link words (a word is a link word iff it starts inside <a>)
      val s = cur.toString; cur.clear()
      val sb = new StringBuilder
      var words = 0; var linkWords = 0
      var j = 0; var inWs = true; var inLink = false
      while (j < s.length) {
        val c = s.charAt(j)
        if (c == LinkOpen) inLink = true
        else if (c == LinkClose) inLink = false
        else if (Character.isWhitespace(c)) inWs = true
        else {
          if (inWs && sb.nonEmpty) sb.append(' ')
          if (inWs) {
            words += 1
            if (inLink) linkWords += 1
          }
          sb.append(c)
          inWs = false
        }
        j += 1
      }
      if (words > 0) blocks += Block(sb.toString, words, linkWords)
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        // tag: find the closing '>'
        val close = html.indexOf('>', i + 1)
        if (close < 0) { i = n } // trailing junk: drop
        else {
          val inner = html.substring(i + 1, close).trim
          val closing = inner.startsWith("/")
          val name = inner.dropWhile(_ == '/').takeWhile(ch =>
            Character.isLetterOrDigit(ch)).toLowerCase
          i = close + 1
          if (!closing && RawTextTags.contains(name)) {
            // skip raw text to the matching close tag
            val end = lower.indexOf(s"</$name", i)
            i = if (end < 0) n else {
              val gt = html.indexOf('>', end)
              if (gt < 0) n else gt + 1
            }
          } else if (PrunedTags.contains(name)) {
            if (closing) { if (pruneDepth > 0) pruneDepth -= 1 }
            else { if (pruneDepth == 0) flush(); pruneDepth += 1 }
          } else if (pruneDepth == 0) {
            if (name == "a") {
              cur.append(if (closing) LinkClose else LinkOpen)
            } else if (BlockTags.contains(name)) {
              flush()
            }
          }
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          if (pruneDepth == 0)
            cur.append(decodeEntity(html.substring(i + 1, semi)))
          i = semi + 1
        } else {
          if (pruneDepth == 0) cur.append(c)
          i += 1
        }
      } else {
        if (pruneDepth == 0) cur.append(c)
        i += 1
      }
    }
    flush()
    blocks.toSeq
  }

  /** Main-text extraction from one page: keep blocks with at least
    * `minWords` words and link density ≤ 1/3 (integer form:
    * `3·linkWords ≤ words` — no float thresholds), join with '\n'.
    */
  private[graft] def extractPage(docId: Long, html: String,
      minWords: Int): WebText = {
    val bs = htmlBlocks(html)
    val kept = bs.filter(b => b.words >= minWords && b.linkWords * 3 <= b.words)
    WebText(docId, bs.size.toLong, kept.size.toLong,
      kept.map(_.words.toLong).sum, kept.map(_.text).mkString("\n"))
  }

  // ------------------------------------------------ URL canonicalization

  /** Query parameters that never change page identity — the classic
    * tracking families a crawl frontier strips before dedup.
    */
  private def isTrackingParam(name: String): Boolean =
    name.startsWith("utm_") || name == "fbclid" || name == "gclid" ||
      name == "msclkid" || name == "ref_src"

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** RFC 3986 §6.2.2 percent-encoding normalization: decode escapes
    * of unreserved characters, uppercase the hex of the rest.
    */
  private def normalizeEscapes(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try {
          val v = Integer.parseInt(hex, 16).toChar
          if (isUnreserved(v)) sb.append(v)
          else sb.append('%').append(hex.toUpperCase)
          i += 3
        } catch {
          case _: NumberFormatException => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** RFC 3986 §5.2.4 dot-segment removal over a rooted path. */
  private def removeDotSegments(path: String): String = {
    val out = ArrayBuffer.empty[String]
    path.split("/", -1).foreach {
      case "" | "." => // skip (leading "" re-added below)
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case seg => out += seg
    }
    val trailingSlash = path.endsWith("/") || path.endsWith("/.") ||
      path.endsWith("/..")
    "/" + out.mkString("/") +
      (if (trailingSlash && out.nonEmpty) "/" else "")
  }

  /** Canonical form of a crawl URL — the frontier-dedup key (RFC 3986
    * §6 normalizations plus the fleet-standard tracking-param strip):
    * lowercase scheme/host, default port dropped, fragment dropped,
    * dot-segments resolved, percent-escapes normalized, tracking
    * params removed and the survivors sorted by name (stable on
    * value). Pure per-row string math — canonicalization never
    * shuffles; only the grouped key does.
    */
  def canonicalizeUrl(url: String): String = {
    val noFrag = url.indexOf('#') match {
      case -1 => url
      case i => url.substring(0, i)
    }
    val si = noFrag.indexOf("://")
    require(si > 0, s"url: no scheme in '$url'")
    val scheme = noFrag.substring(0, si).toLowerCase
    val rest = noFrag.substring(si + 3)
    val slash = rest.indexOf('/')
    val (auth, pathq) =
      if (slash < 0) (rest, "/") else (rest.substring(0, slash),
        rest.substring(slash))
    val (pathRaw, queryRaw) = pathq.indexOf('?') match {
      case -1 => (pathq, "")
      case i => (pathq.substring(0, i), pathq.substring(i + 1))
    }
    val hostPort = auth.toLowerCase
    val (host, port) = hostPort.lastIndexOf(':') match {
      case -1 => (hostPort, "")
      case i => (hostPort.substring(0, i), hostPort.substring(i + 1))
    }
    val defaultPort = scheme match {
      case "http" => "80"; case "https" => "443"; case _ => ""
    }
    val portPart =
      if (port.isEmpty || port == defaultPort) "" else ":" + port
    val path = removeDotSegments(normalizeEscapes(pathRaw))
    val query =
      if (queryRaw.isEmpty) ""
      else {
        val kept = queryRaw.split("&", -1).filter(_.nonEmpty)
          .map(normalizeEscapes)
          .filterNot(p => isTrackingParam(p.takeWhile(_ != '=')))
          .sortBy(p => (p.takeWhile(_ != '='), p))
        if (kept.isEmpty) "" else "?" + kept.mkString("&")
      }
    scheme + "://" + host + portPart + path + query
  }

  /** Full ingest: WARC walk → response record → HTTP body → HTML
    * extraction, per capture. One row of typed output per page; the
    * only bytes that survive the task are the extracted text.
    */
  def extractCaptures(captures: Dataset[WebCapture],
      minWords: Int = 5): Dataset[WebText] = {
    import captures.sparkSession.implicits._
    captures.map { c =>
      val resp = parseWarc(c.warc).find(
        _.headers.get("warc-type").contains("response")).getOrElse(
        sys.error(s"capture ${c.doc_id}: no response record"))
      // decode with the charset the HTTP head DECLARES (mojibake guard)
      extractPage(c.doc_id,
        new String(httpBody(resp.content), httpCharset(resp.content)),
        minWords)
    }
  }

  /** Charset fixture: one response-only capture per document; odd
    * doc_ids are served as ISO-8859-1 — the HTTP head SAYS so — and
    * even as UTF-8, with accented words planted in the content so the
    * wire bytes genuinely differ (é is one byte in latin-1, two in
    * UTF-8) while the correctly-decoded content is identical. A
    * reader that ignores the declared charset mojibakes every odd
    * document.
    */
  def encodeCharsetCaptures(
      docs: Dataset[(Long, String)]): Dataset[WebCapture] = {
    import docs.sparkSession.implicits._
    docs.map { case (id, text) =>
      val latin = id % 2 == 1
      val cs =
        if (latin) java.nio.charset.StandardCharsets.ISO_8859_1 else UTF_8
      val csName = if (latin) "iso-8859-1" else "utf-8"
      val body = htmlPage(id, text + " résumé café")
        .getBytes(cs)
      val rs = (("HTTP/1.1 200 OK" + Crlf +
        "Content-Type: text/html; charset=" + csName + Crlf +
        "Content-Length: " + body.length + Crlf + Crlf)
        .getBytes(UTF_8)) ++ body
      WebCapture(id, record("response", id, 0, targetUri(id),
        "application/http; msgtype=response", rs))
    }
  }

  /** WET derivative export: the extracted text re-archived as WARC
    * `conversion` records — exactly Common Crawl's WET product
    * (text/plain content, `WARC-Refers-To` naming the response record
    * it was converted from). Closes the archive loop: WARC in →
    * extract → WET out, both ends walkable by the same parser.
    */
  def encodeWet(extracted: Dataset[WebText]): Dataset[WebCapture] = {
    import extracted.sparkSession.implicits._
    extracted.map { w =>
      val content = w.text.getBytes(UTF_8)
      val head = new StringBuilder
      head.append("WARC/1.0").append(Crlf)
      head.append("WARC-Type: conversion").append(Crlf)
      head.append("WARC-Record-ID: ").append(recordId(w.doc_id, 3))
        .append(Crlf)
      head.append("WARC-Refers-To: ").append(recordId(w.doc_id, 2))
        .append(Crlf)
      head.append("WARC-Date: 2026-01-01T00:00:00Z").append(Crlf)
      head.append("WARC-Target-URI: ").append(targetUri(w.doc_id))
        .append(Crlf)
      head.append("Content-Type: text/plain").append(Crlf)
      head.append("Content-Length: ").append(content.length).append(Crlf)
      head.append(Crlf)
      val hb = head.toString.getBytes(UTF_8)
      val out = new Array[Byte](hb.length + content.length + 4)
      System.arraycopy(hb, 0, out, 0, hb.length)
      System.arraycopy(content, 0, out, hb.length, content.length)
      out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
      out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
      WebCapture(w.doc_id, out)
    }
  }

  // --------------------------------------------------- robots.txt (RFC 9309)

  /** One robots.txt group: its user-agent product tokens and ordered
    * (allow?, path-pattern) rules.
    */
  private[graft] case class RobotsGroup(agents: Seq[String],
      rules: Seq[(Boolean, String)])

  /** Parse robots.txt lines into groups (RFC 9309 §2.2): consecutive
    * `User-agent` lines open a group that collects the following
    * `Allow`/`Disallow` rules; keys are case-insensitive; `#` starts
    * a comment; unknown keys are ignored. An empty Disallow value is
    * the classic "allow everything" idiom and contributes no rule.
    */
  private[graft] def parseRobots(txt: String): Seq[RobotsGroup] = {
    val groups = ArrayBuffer.empty[RobotsGroup]
    var agents = ArrayBuffer.empty[String]
    var rules = ArrayBuffer.empty[(Boolean, String)]
    var inAgents = false
    def close(): Unit =
      if (agents.nonEmpty) {
        groups += RobotsGroup(agents.toSeq, rules.toSeq)
        agents = ArrayBuffer.empty; rules = ArrayBuffer.empty
      }
    txt.split("\n", -1).foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (!inAgents) close()
            inAgents = true
            agents += value.toLowerCase
          case "allow" | "disallow" =>
            inAgents = false
            if (value.nonEmpty) rules += ((key == "allow", value))
          case _ => inAgents = false // crawl-delay, sitemap, …
        }
      }
    }
    close()
    groups.toSeq
  }

  /** RFC 9309 §2.2.2 path-pattern match: literal octets, `*` matches
    * any run, a terminal `$` anchors the end; otherwise the pattern
    * is a prefix. Iterative DP — no backtracking blowup on
    * adversarial patterns.
    */
  private[graft] def robotsPatternMatches(pattern: String,
      path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    // reachable[s] = pattern prefix consumed can end at path offset s
    var reachable = collection.immutable.BitSet(0)
    p.foreach { pc =>
      reachable =
        if (pc == '*')
          if (reachable.isEmpty) reachable
          else collection.immutable.BitSet(
            reachable.min to path.length: _*)
        else
          collection.immutable.BitSet(reachable.toSeq.collect {
            case s if s < path.length && path.charAt(s) == pc => s + 1
          }: _*)
    }
    if (anchored) reachable.contains(path.length) else reachable.nonEmpty
  }

  /** Group selection (RFC 9309 §2.2.1): the group naming our product
    * token (case-insensitive) wins; otherwise the `*` group; no
    * group → everything allowed.
    */
  private[graft] def selectRobotsGroup(groups: Seq[RobotsGroup],
      agent: String): Option[RobotsGroup] = {
    val a = agent.toLowerCase
    groups.find(_.agents.contains(a))
      .orElse(groups.find(_.agents.contains("*")))
  }

  /** The access decision for one path (RFC 9309 §2.2.2): among the
    * selected group's matching rules the LONGEST pattern wins; a
    * length tie goes to allow; no matching rule → allowed. Returns
    * the verdict and the deciding pattern ('' when none matched).
    */
  def robotsDecision(robotsTxt: String, agent: String,
      path: String): (Boolean, String) =
    selectRobotsGroup(parseRobots(robotsTxt), agent) match {
      case None => (true, "")
      case Some(g) =>
        val hits = g.rules.filter { case (_, pat) =>
          robotsPatternMatches(pat, path)
        }
        if (hits.isEmpty) (true, "")
        else {
          val (allow, pat) = hits.maxBy { case (al, pat) =>
            (pat.length, al) // longest pattern; tie -> allow
          }
          (allow, pat)
        }
    }

  /** Admission verdict over EXTRACTED text (a frame with `doc_id` and
    * `text`): language ID + composite quality score (the p08/p09
    * projections, identical op order) and the crawl-admission rule —
    * predicted English AND score ≥ 0.5. ONE shared projection for the
    * batch card (p194) and the streaming ingest twin, so stream and
    * batch decisions cannot drift. All codegen'd column math.
    */
  def admissionVerdicts(extracted: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val toks = TextFunctions.tokens(col("text"))
    extracted
      .withColumn("toks", toks)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("mean_len",
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x))
          .cast("double") / col("n_toks").cast("double"))
      .withColumn("punct_ratio",
        TextFunctions.punctRatio(TextFunctions.punctCount(col("text")),
          length(col("text"))))
      .withColumn("stop_ratio",
        TextFunctions.stopwordHits(col("toks"),
          TextFunctions.stopwords.head._2).cast("double") /
          col("n_toks").cast("double"))
      .withColumn("score",
        TextFunctions.qualityScore(col("n_toks"), col("mean_len"),
          col("punct_ratio"), col("stop_ratio")))
      .withColumn("lang_pred", TextFunctions.langId(col("toks")))
      .select(
        col("doc_id"), col("lang_pred"),
        floor(col("score") * 1e6).cast("long").as("score_micro"),
        when(col("lang_pred") === "en" && col("score") >= 0.5, 1L)
          .otherwise(0L).as("admitted"))
  }
}

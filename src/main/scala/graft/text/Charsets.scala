package graft.text

import java.nio.charset.{Charset, StandardCharsets}

/** HTML payload charset detection — the WHATWG encoding-sniffing
  * algorithm's deterministic core (BOM > transport declaration > in-body
  * `<meta>` within the first 1024 bytes > UTF-8 fallback). The reference
  * never faces this (its inputs are PDFs through PyMuPDF), but the
  * north-rule input domain is Common-Crawl-style web pages, where a
  * meaningful fraction declares windows-1251/1252, Shift_JIS, GBK etc. —
  * hard-coded UTF-8 decodes those to mojibake.
  *
  * Everything is pure byte inspection over a bounded prefix; no charset
  * auto-detection heuristics (chardet-style statistics are
  * non-deterministic across library versions — out of scope).
  */
object Charsets {

  /** WHATWG label → canonical Java charset mapping for the labels that
    * dominate crawls; unknown labels fall back to UTF-8 (never throw —
    * crawl metadata is adversarial).
    */
  def forLabel(label: String): Option[Charset] = {
    val l = label.trim.toLowerCase.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'").trim
    val canonical = l match {
      case "" => return None
      case "utf8" | "utf-8" | "unicode-1-1-utf-8" => "UTF-8"
      case "latin1" | "latin-1" | "iso8859-1" | "iso-8859-1" | "l1" => "windows-1252" // WHATWG: latin1 means cp1252
      case "ascii" | "us-ascii" => "windows-1252"
      case "shift_jis" | "shift-jis" | "sjis" | "ms_kanji" => "Shift_JIS"
      case "euc-jp" | "eucjp" => "EUC-JP"
      case "gbk" | "gb2312" | "gb_2312" | "chinese" => "GBK"
      case "big5" | "big5-hkscs" => "Big5"
      case "euc-kr" | "korean" => "EUC-KR"
      case "koi8-r" | "koi8" => "KOI8-R"
      case "utf-16" | "utf-16le" => "UTF-16LE"
      case "utf-16be" => "UTF-16BE"
      case other => other // windows-125x, iso-8859-x pass through
    }
    try {
      if (Charset.isSupported(canonical)) Some(Charset.forName(canonical)) else None
    } catch { case _: Exception => None }
  }

  /** BOM detection (UTF-8 / UTF-16LE / UTF-16BE), highest priority per
    * WHATWG: a BOM overrides any declaration.
    */
  def bom(b: Array[Byte]): Option[Charset] = {
    if (b.length >= 3 && b(0) == 0xef.toByte && b(1) == 0xbb.toByte && b(2) == 0xbf.toByte)
      Some(StandardCharsets.UTF_8)
    else if (b.length >= 2 && b(0) == 0xff.toByte && b(1) == 0xfe.toByte)
      Some(StandardCharsets.UTF_16LE)
    else if (b.length >= 2 && b(0) == 0xfe.toByte && b(1) == 0xff.toByte)
      Some(StandardCharsets.UTF_16BE)
    else None
  }

  private val MetaCharset =
    java.util.regex.Pattern.compile(
      """(?i)<meta[^>]*?charset\s*=\s*["']?\s*([a-zA-Z0-9._\-]+)""")

  /** Cheap byte-level scan for the ASCII token "charset" in the first
    * `limit` bytes — the hot-path gate that lets the overwhelming
    * majority of pages (no declaration) skip the String + regex work.
    */
  private def hasCharsetToken(b: Array[Byte], limit: Int): Boolean = {
    val n = math.min(b.length, limit)
    var i = 0
    while (i + 7 <= n) {
      // match "charset" case-insensitively at i
      if ((b(i) | 0x20) == 'c' && (b(i + 1) | 0x20) == 'h' && (b(i + 2) | 0x20) == 'a' &&
          (b(i + 3) | 0x20) == 'r' && (b(i + 4) | 0x20) == 's' && (b(i + 5) | 0x20) == 'e' &&
          (b(i + 6) | 0x20) == 't') return true
      i += 1
    }
    false
  }

  /** In-body declaration: scan the first `limit` bytes (decoded
    * ASCII-compatibly) for `<meta charset=…>` or the `http-equiv`
    * `content="…; charset=…"` form — the single regex covers both since
    * each carries a literal `charset=` token. A byte-level pre-scan
    * keeps the no-declaration common case regex-free.
    */
  def metaCharset(b: Array[Byte], limit: Int = 1024): Option[Charset] = {
    val n = math.min(b.length, limit)
    if (n == 0 || !hasCharsetToken(b, limit)) return None
    val prefix = new String(b, 0, n, StandardCharsets.ISO_8859_1)
    val m = MetaCharset.matcher(prefix)
    if (m.find()) forLabel(m.group(1)).map { cs =>
      // WHATWG meta prescan: a UTF-16 label found by an ASCII byte scan
      // is a lie by construction (real UTF-16 bytes wouldn't match the
      // scan) — the spec maps it to UTF-8.
      if (cs == StandardCharsets.UTF_16LE || cs == StandardCharsets.UTF_16BE)
        StandardCharsets.UTF_8
      else cs
    } else None
  }

  /** Full sniff: BOM > transport (HTTP Content-Type) charset > meta tag
    * > UTF-8. The `transport` argument carries the HTTP header value a
    * WARC reader saw, if any.
    */
  def sniff(b: Array[Byte], transport: Option[String] = None): Charset =
    bom(b)
      .orElse(transport.flatMap(forLabel))
      .orElse(metaCharset(b))
      .getOrElse(StandardCharsets.UTF_8)

  /** Decode with the sniffed charset; the BOM itself is dropped (it is
    * framing, not content). Malformed sequences decode to U+FFFD
    * (Java's REPLACE action) — never throws.
    */
  def decode(b: Array[Byte], transport: Option[String] = None): String = {
    if (b == null || b.isEmpty) return ""
    val cs = sniff(b, transport)
    val skip = bom(b) match {
      case Some(StandardCharsets.UTF_8) => 3
      case Some(_) => 2
      case None => 0
    }
    new String(b, skip, b.length - skip, cs)
  }
}

package graft.html

/** WAT-style outlink extraction — the crawl-graph construction stage.
  * Common Crawl ships exactly this as the WAT sidecar of every WARC:
  * per-page (resolved target URL, anchor text) records, from which the
  * host graph (q89's PageRank input), anchor-text corpora, and frontier
  * scheduling are all derived. The reference service has no link stage
  * (PDFs), so this is a graft-native web operator like q89/q90.
  *
  * Uses the tokenizer with `<a>` attribute retention switched ON via
  * `keepAttrsFor` — the kernel's img-only fast path is untouched; the
  * cost of decoding href attributes is paid only by this operator
  * (the parameterization exists for exactly this consumer).
  *
  * Deterministic throughout: tokenizer, whitespace collapse, and RFC
  * 3986 resolution via `java.net.URI` are all pure functions of the
  * payload bytes.
  */
object Links {

  /** (href, anchor) pairs in document order. Anchor text = the
    * entity-decoded text between an `<a href>` and its first matching
    * `</a>` (HTML forbids nested anchors; browsers auto-close at the
    * next `<a>` or `</a>`, which the first-close rule matches),
    * whitespace-collapsed. Anchors without an href contribute nothing;
    * nested markup inside the anchor (`<b>`, `<span>`) keeps its text.
    */
  def outlinks(html: String): Seq[(String, String)] = {
    val toks = HtmlTokenizer.tokenize(html, keepAttrsFor = Set("a"))
    val out = Seq.newBuilder[(String, String)]
    val n = toks.length
    var i = 0
    while (i < n) {
      toks(i) match {
        case StartTag("a", attrs, selfClosing) if attrs.getOrElse("href", "").nonEmpty =>
          val href = attrs("href")
          if (selfClosing) out += ((href, ""))
          else {
            val sb = new java.lang.StringBuilder
            var j = i + 1
            var open = true
            while (j < n && open) {
              toks(j) match {
                case EndTag("a") => open = false
                case StartTag("a", _, _) => open = false; j -= 1 // re-scan: browsers auto-close here
                case TextTok(t) => sb.append(' ').append(t)
                case _ => ()
              }
              j += 1
            }
            out += ((href, collapseWs(sb.toString)))
            i = j - 1 // outer loop's i += 1 lands on the close (or the new <a>)
          }
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  private def collapseWs(s: String): String =
    s.split("\\s+").filter(_.nonEmpty).mkString(" ")

  /** Resolve `href` against the page URL per RFC 3986 (java.net.URI —
    * JVM stdlib, deterministic). Fragments are dropped (a crawl target
    * is fragment-less); non-fetchable schemes (mailto:, javascript:,
    * data:, tel:) and unparseable hrefs resolve to None. Schemes match
    * case-insensitively (RFC 3986 §3.1) and are emitted lowercase, so
    * `HTTP://h/a` and `http://h/a` are one target key.
    */
  def resolve(baseUrl: String, href: String): Option[String] = {
    val noFrag = { val h = href.indexOf('#'); if (h >= 0) href.substring(0, h) else href }
    if (noFrag.isEmpty) None
    else try {
      val r = new java.net.URI(baseUrl).resolve(new java.net.URI(noFrag))
      val scheme = Option(r.getScheme).map(_.toLowerCase(java.util.Locale.ROOT))
      scheme match {
        case Some(sc @ ("http" | "https")) if r.getHost != null =>
          Some(sc + r.toString.substring(sc.length))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** True when the payload can be HTML at all — the link stage must
    * skip binary families (PDF, images) without decoding them.
    */
  def looksHtml(payload: Array[Byte]): Boolean =
    payload.length > 0 &&
      !(payload.length >= 5 && payload(0) == '%' && payload(1) == 'P' &&
        payload(2) == 'D' && payload(3) == 'F' && payload(4) == '-') &&
      !(payload.length >= 4 && (payload(0) & 0xff) == 0x89 && payload(1) == 'P') && // PNG
      !(payload.length >= 2 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8) // JPEG

  /** Per-page link records: decode (charset-sniffed), tokenize, resolve.
    * One page → N (target, anchor) rows; non-HTML payloads → zero rows.
    */
  def records(url: String, payload: Array[Byte]): Seq[(String, String)] =
    if (!looksHtml(payload)) Seq.empty
    else outlinks(graft.text.Charsets.decode(payload))
      .flatMap { case (href, anchor) => resolve(url, href).map(t => (t, anchor)) }
}

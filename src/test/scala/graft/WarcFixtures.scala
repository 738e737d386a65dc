package graft.sources

import graft.model.Page
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** WARC test fixtures: the co-evolved writer (`write`, and `writeGz`
  * for the Common-Crawl per-record gzip layout) and the whole-archive
  * reader (`parse` over `gunzipIfNeeded`) that `Warc.streamPages`
  * replaced. The reader stays as the streaming reader's oracle: both
  * build pages through `Warc.buildPage` and must agree record for
  * record (WarcSpec).
  */
object WarcFixtures {

  private val Iso = java.time.format.DateTimeFormatter.ISO_INSTANT

  /** Write pages as a WARC byte stream (fixture/round-trip writer). */
  def write(pages: Seq[Page]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    pages.foreach { p =>
      // No charset parameter: fixture pages self-describe their encoding
      // (meta/BOM), and a transport claim that disagreed would make the
      // reader's normalizeCharset transcode them — the round-trip must be
      // byte-identical.
      val httpHead =
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
      val payload = httpHead.getBytes(ISO_8859_1) ++
        (if (p.html == null) Array.emptyByteArray else p.html)
      val date = Iso.format(java.time.Instant.ofEpochMilli(
        if (p.warc_ts == null) 0L else p.warc_ts.getTime))
      val head =
        s"""WARC/1.0\r
           |WARC-Type: response\r
           |WARC-Target-URI: ${p.url}\r
           |WARC-Date: $date\r
           |Content-Length: ${payload.length}\r
           |\r
           |""".stripMargin
      out.write(head.getBytes(ISO_8859_1))
      out.write(payload)
      out.write("\r\n\r\n".getBytes(ISO_8859_1))
    }
    out.toByteArray
  }

  /** Parse a WARC byte stream into pages (response records only). */
  def parse(bytes: Array[Byte]): Vector[Page] = {
    val out = Vector.newBuilder[Page]
    var i = 0
    val n = bytes.length

    def lineEnd(from: Int): Int = {
      var j = from
      while (j < n && bytes(j) != '\n') j += 1
      j
    }
    def lineAt(from: Int): (String, Int) = {
      val e = lineEnd(from)
      val raw = new String(bytes, from, e - from, ISO_8859_1)
      (raw.stripSuffix("\r"), math.min(e + 1, n))
    }

    while (i < n) {
      // Seek the next record marker.
      val (first, afterFirst) = lineAt(i)
      if (!first.startsWith("WARC/")) { i = afterFirst }
      else {
        // WARC headers until blank line.
        var j = afterFirst
        var url = ""; var date = ""; var tpe = ""; var len = -1L
        var halted = false
        var blank = false
        while (!blank && !halted && j < n) {
          val (line, next) = lineAt(j)
          j = next
          if (line.isEmpty) blank = true
          else {
            val c = line.indexOf(':')
            if (c > 0) {
              val k = line.substring(0, c).trim.toLowerCase
              val v = line.substring(c + 1).trim
              k match {
                case "warc-type" => tpe = v
                case "warc-target-uri" => url = v
                case "warc-date" => date = v
                case "content-length" =>
                  len = try v.toLong catch { case _: Exception => halted = true; -1L }
                case _ =>
              }
            }
          }
        }
        if (halted || len < 0 || j + len > n) {
          // Malformed record: skip to next line and rescan.
          i = j
        } else {
          if (tpe.equalsIgnoreCase("response") && url.nonEmpty) {
            val payload = java.util.Arrays.copyOfRange(bytes, j, (j + len).toInt)
            out += Warc.buildPage(url, date, payload)
          }
          i = (j + len).toInt
        }
      }
    }
    out.result()
  }

  /** Transparent gunzip: Common Crawl ships `.warc.gz` with one gzip
    * member PER RECORD (so archives are splittable by member);
    * GZIPInputStream consumes concatenated members, so a full-file
    * inflate yields the whole record stream. Non-gzip bytes pass
    * through.
    *
    * Inflated output is materialized as one array, so the hard ceiling
    * is ~2 GB inflated per archive (JVM array limit) — this is the
    * FIXTURE path; real archives go through `Warc.streamPages`/`readPages`,
    * which inflate record-at-a-time with no such ceiling. Initial
    * capacity is clamped so the `length * 4` estimate can't overflow
    * Int for multi-hundred-MB inputs.
    */
  def gunzipIfNeeded(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 2 || bytes(0) != 0x1f.toByte || bytes(1) != 0x8b.toByte)
      return bytes
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 64 * 1024)
    val cap = math.min(math.max(bytes.length.toLong * 4, 64L * 1024),
      Int.MaxValue.toLong - 16).toInt
    val out = new ByteArrayOutputStream(cap)
    val buf = new Array[Byte](64 * 1024)
    try {
      var r = in.read(buf)
      while (r >= 0) { if (r > 0) out.write(buf, 0, r); r = in.read(buf) }
    } catch { case _: java.io.IOException => /* truncated member: keep what inflated */ }
    finally in.close()
    out.toByteArray
  }

  /** Gzip pages as per-record members (the CC layout). */
  def writeGz(pages: Seq[Page]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    pages.foreach { p =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(write(Seq(p)))
      gz.finish()
    }
    out.toByteArray
  }
}

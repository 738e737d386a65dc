package graft.sources

import graft.model.Page
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.Timestamp

/** From-scratch WARC 1.0 reader — the Common-Crawl container format,
  * so the engine ingests crawl archives directly instead of requiring a
  * pre-converted pages table. Its co-evolved fixture writer and the
  * whole-archive reader it replaced live with the tests (`WarcFixtures`,
  * SURVEY.md §5.2's fixture philosophy); documented subset:
  *
  *  - records with `WARC-Type: response` become pages; other types
  *    (warcinfo, request, metadata) are skipped;
  *  - the record payload is an HTTP response: status line + headers are
  *    stripped (case-insensitive header handling, \r\n or \n endings)
  *    and the body becomes `Page.html`;
  *  - `WARC-Target-URI` → url, `WARC-Date` (ISO-8601 Z) → warc_ts;
  *  - `Content-Length` is authoritative for the payload span; malformed
  *    records are skipped, never thrown — crawl archives are
  *    adversarial.
  */
object Warc {

  private val Iso = java.time.format.DateTimeFormatter.ISO_INSTANT

  /** Response-record payload → Page: HTTP header strip + charset
    * normalization + WARC-Date parse (shared by the streaming reader and
    * the whole-archive reader the tests keep as its oracle,
    * `WarcFixtures.parse` — both MUST stay byte-identical).
    */
  private[graft] def buildPage(url: String, date: String, payload: Array[Byte]): Page = {
    val (transportCharset, mediaType, rawBody) = splitHttpPayload(payload)
    val body = normalizeCharset(rawBody, transportCharset, mediaType)
    val ts = try new Timestamp(java.time.Instant.from(Iso.parse(date)).toEpochMilli)
      catch { case _: Exception => new Timestamp(0L) }
    Page(url, ts, body, "", "")
  }

  /** Strip the HTTP status line + headers from a response payload; a
    * payload that doesn't start with `HTTP/` is returned as-is.
    */
  def stripHttpHeaders(payload: Array[Byte]): Array[Byte] =
    splitHttpPayload(payload)._3

  private val CharsetParam =
    java.util.regex.Pattern.compile("(?i)charset\\s*=\\s*\"?([a-zA-Z0-9._\\-]+)")

  /** Split an HTTP response payload into (Content-Type charset param,
    * body). A payload that doesn't start with `HTTP/` is returned whole
    * with no charset.
    */
  def splitHttpPayload(payload: Array[Byte]): (Option[String], Option[String], Array[Byte]) = {
    if (payload.length < 5 ||
        !new String(payload, 0, 5, ISO_8859_1).equals("HTTP/")) return (None, None, payload)
    // Find the first blank line (\r\n\r\n or \n\n).
    var i = 0
    val n = payload.length
    while (i < n) {
      if (payload(i) == '\n') {
        val bodyStart =
          if (i + 1 < n && payload(i + 1) == '\n') i + 2
          else if (i + 2 < n && payload(i + 1) == '\r' && payload(i + 2) == '\n') i + 3
          else -1
        if (bodyStart > 0) {
          val head = new String(payload, 0, i, ISO_8859_1)
          val ctLine = head.split('\n').iterator.map(_.stripSuffix("\r"))
            .find(_.toLowerCase.startsWith("content-type:"))
          val cs = ctLine.flatMap { ct =>
            val m = CharsetParam.matcher(ct)
            if (m.find()) Some(m.group(1)) else None
          }
          val mediaType = ctLine.map(
            _.substring("content-type:".length).trim
              .takeWhile(_ != ';').trim.toLowerCase)
          return (cs, mediaType, java.util.Arrays.copyOfRange(payload, bodyStart, n))
        }
      }
      i += 1
    }
    (None, None, payload) // headers never ended — treat whole payload as body
  }

  /** Is this Content-Type media type textual (charset applies)? Crawl
    * servers routinely emit bogus `charset=` params on binaries; a
    * transcode there irreversibly corrupts the payload, so charset
    * normalization is gated on the media type actually being text.
    */
  def isTextualMediaType(mt: String): Boolean =
    mt.startsWith("text/") || mt.endsWith("+xml") || mt.endsWith("+json") ||
      mt == "application/xml" || mt == "application/json" ||
      mt == "application/javascript" || mt == "application/ecmascript"

  /** Charset normalization at the ingestion edge: when the TRANSPORT
    * (HTTP Content-Type) charset makes the page decode differently than
    * the payload alone would (BOM/meta/UTF-8 fallback — what the kernel
    * sniffs downstream, graft.text.Charsets), the body is transcoded to
    * UTF-8 and tagged with a UTF-8 BOM. The BOM has top sniffing
    * priority (WHATWG), so a stale in-body `<meta charset=…>` from the
    * original encoding can no longer cause a double-decode. Pages whose
    * self-description already matches the transport pass through
    * byte-identical.
    */
  def normalizeCharset(body: Array[Byte], transport: Option[String],
      mediaType: Option[String] = None): Array[Byte] = {
    import graft.text.Charsets
    if (body.isEmpty || graft.pdf.PdfParser.isPdf(body)) return body
    // A transport charset only means anything on a textual media type —
    // never transcode a binary because its server lied about charset.
    if (mediaType.exists(mt => !isTextualMediaType(mt))) return body
    val effective = Charsets.sniff(body, transport)
    val selfSniff = Charsets.sniff(body, None)
    if (effective == selfSniff) body
    else {
      val utf8 = Charsets.decode(body, transport)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new Array[Byte](utf8.length + 3)
      out(0) = 0xef.toByte; out(1) = 0xbb.toByte; out(2) = 0xbf.toByte
      System.arraycopy(utf8, 0, out, 3, utf8.length)
      out
    }
  }

  /** Hard cap on a single materialized record payload: a `Content-Length`
    * past this can't be held in one JVM array, so the streaming reader
    * treats the record as malformed (continues line-scanning without
    * consuming the payload — same recovery as a garbage length).
    */
  val MaxRecordBytes: Long = Int.MaxValue.toLong - 16

  /** Buffered byte reader over an InputStream with line reads, exact-N
    * reads, and pushback — the streaming equivalent of the whole-archive
    * `WarcFixtures.parse` needs all three (pushback replays a truncated
    * final payload through the line scanner, matching `parse`'s rescan
    * of those bytes). IO errors surface as EOF: crawl archives are
    * adversarial and a truncated gzip member must yield the records
    * that did inflate, never throw.
    */
  private final class RecordStream(in: java.io.InputStream) {
    private var buf = new Array[Byte](64 * 1024)
    private var start = 0
    private var end = 0
    private var eof = false

    private def fill(): Boolean = {
      if (start < end) return true
      if (eof) return false
      start = 0; end = 0
      val r = try in.read(buf) catch { case _: java.io.IOException => -1 }
      if (r < 0) { eof = true; false }
      else { end = r; if (r > 0) true else fill() }
    }

    /** Next line (up to `\n`, exclusive), ISO-8859-1; null at EOF with
      * nothing pending. Memory is O(line) — bounded by record payloads
      * in practice since header lines are short.
      */
    def readLine(): String = {
      if (!fill()) return null
      val acc = new ByteArrayOutputStream(128)
      var done = false
      while (!done && fill()) {
        var j = start
        while (j < end && buf(j) != '\n') j += 1
        acc.write(buf, start, j - start)
        if (j < end) { start = j + 1; done = true } else start = end
      }
      val s = new String(acc.toByteArray, ISO_8859_1)
      if (s.nonEmpty && s.charAt(s.length - 1) == '\r') s.substring(0, s.length - 1) else s
    }

    /** Read exactly `n` bytes; second element is false when EOF cut the
      * read short (the returned array holds what was read).
      */
    def readN(n: Int): (Array[Byte], Boolean) = {
      val out = new Array[Byte](n)
      var got = 0
      while (got < n && fill()) {
        val take = math.min(n - got, end - start)
        System.arraycopy(buf, start, out, got, take)
        start += take; got += take
      }
      if (got == n) (out, true)
      else (java.util.Arrays.copyOf(out, got), false)
    }

    /** Prepend bytes so the next reads see them first (truncated-payload
      * rescan; only ever called at EOF, so sizes stay modest).
      */
    def pushBack(bytes: Array[Byte]): Unit = {
      val pending = end - start
      val merged = new Array[Byte](bytes.length + pending)
      System.arraycopy(bytes, 0, merged, 0, bytes.length)
      System.arraycopy(buf, start, merged, bytes.length, pending)
      buf = merged; start = 0; end = merged.length
    }
  }

  /** Stream pages from a WARC InputStream — the scale-path reader.
    * Memory is O(single record), never O(archive): Common-Crawl
    * archives (~1 GB gzip, 3-5 GB inflated) stream record-at-a-time
    * where a whole-file inflate would need the inflated archive in one
    * ~2 GB-capped array. Gzip input (leading 1f 8b) is inflated on the
    * fly; GZIPInputStream consumes CC's per-record concatenated members
    * transparently. Record semantics are identical to the whole-archive
    * `WarcFixtures.parse` (same header handling, same malformed-record
    * recovery — a truncated final payload is replayed through the line
    * scanner),
    * except a `Content-Length` > ~2 GB is skipped as malformed instead
    * of materialized. The stream is closed when the iterator exhausts.
    */
  def streamPages(in0: java.io.InputStream): Iterator[Page] = {
    val pb = new java.io.PushbackInputStream(in0, 2)
    val head = new Array[Byte](2)
    var got = 0
    var headEof = false
    while (!headEof && got < 2) {
      val r = try pb.read(head, got, 2 - got)
        catch { case _: java.io.IOException => -1 }
      if (r < 0) headEof = true else got += r
    }
    if (got > 0) pb.unread(head, 0, got)
    val in: java.io.InputStream =
      if (got == 2 && head(0) == 0x1f.toByte && head(1) == 0x8b.toByte)
        // The constructor eagerly reads the gzip header: a file whose
        // first two bytes happen to be 1f 8b but whose header is
        // truncated/corrupt must degrade to an empty record stream
        // (never-throw contract), not kill the Spark task.
        try new java.util.zip.GZIPInputStream(pb, 64 * 1024)
        catch { case _: java.io.IOException =>
          try pb.close() catch { case _: java.io.IOException => }
          java.io.InputStream.nullInputStream()
        }
      else pb

    val rs = new RecordStream(in)
    var closed = false
    def closeQuietly(): Unit = if (!closed) {
      closed = true
      try in.close() catch { case _: java.io.IOException => }
    }

    new Iterator[Page] {
      private var nextPage: Page = _

      private def advance(): Unit = {
        while (nextPage == null) {
          val first = rs.readLine()
          if (first == null) { closeQuietly(); return }
          if (first.startsWith("WARC/")) {
            var url = ""; var date = ""; var tpe = ""; var len = -1L
            var halted = false
            var blank = false
            var line = rs.readLine()
            while (!blank && !halted && line != null) {
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
                if (!blank && !halted) line = rs.readLine()
              }
            }
            // blank not required: parse also accepts a len-0 record whose
            // headers end at EOF; a len>0 record there reads short below
            // and takes the same rescan path parse does.
            if (!halted && len >= 0 && len <= MaxRecordBytes) {
              val (payload, complete) = rs.readN(len.toInt)
              if (!complete) rs.pushBack(payload) // parse's j+len>n rescan
              else if (tpe.equalsIgnoreCase("response") && url.nonEmpty)
                nextPage = buildPage(url, date, payload)
            }
            // halted / negative / oversized length: continue line-scanning
            // without consuming payload — parse's malformed-record path.
          }
        }
      }

      override def hasNext: Boolean = {
        if (nextPage == null && !closed) advance()
        nextPage != null
      }
      override def next(): Page = {
        if (!hasNext) throw new NoSuchElementException("WARC stream exhausted")
        val p = nextPage; nextPage = null; p
      }
    }
  }

  /** Read a directory or glob of `.warc` / `.warc.gz` archives into a
    * pages Dataset, one task per archive streaming record-at-a-time
    * (`streamPages`) — per-task memory is O(largest record), not
    * O(archive), so real Common-Crawl segments (~1 GB gzip, 3-5 GB
    * inflated) ingest where the old whole-file `binaryFile` path hit
    * the 2 GB array ceiling. WARC archives are the crawl's split
    * granularity, so cluster parallelism = archive count; listing uses
    * the Hadoop FileSystem API and the driver's Hadoop conf is shipped
    * to executors, so hdfs:/s3a: paths work unchanged.
    */
  def readPages(spark: org.apache.spark.sql.SparkSession, path: String):
      org.apache.spark.sql.Dataset[Page] = {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(hconf)
    // Recursive listing (Common-Crawl segments nest archives in
    // subdirectories) and LOUD failure on a missing path or a glob
    // matching nothing — a typo'd --input must not complete as a
    // zero-page "success" (the old binaryFile source also threw).
    // Hidden/underscore names are skipped at EVERY path level (Hadoop's
    // hiddenFileFilter convention): a recursive listFiles would descend
    // into `_temporary`/`.staging` and ingest in-progress or aborted
    // output of a concurrent writer as live WARC input.
    def isHiddenName(n: String): Boolean = n.startsWith(".") || n.startsWith("_")
    def leafFiles(p: HPath): Seq[HPath] = {
      val out = Seq.newBuilder[HPath]
      def walk(dir: HPath): Unit =
        fs.listStatus(dir).foreach { st =>
          if (!isHiddenName(st.getPath.getName)) {
            if (st.isDirectory) walk(st.getPath) else out += st.getPath
          }
        }
      walk(p)
      out.result()
    }
    val roots =
      if (fs.isDirectory(root)) Seq(root)
      else {
        val matched = Option(fs.globStatus(root)).map(_.toSeq).getOrElse(Seq.empty)
        require(matched.nonEmpty, s"WARC input path does not exist or matches nothing: $path")
        matched.map(_.getPath)
      }
    val files = roots
      .flatMap(r => if (fs.isDirectory(r)) leafFiles(r) else Seq(r))
      .filterNot(p => isHiddenName(p.getName))
      .map(_.toString).sorted
    require(files.nonEmpty, s"no WARC archives found under: $path")
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.SerializableWritable(hconf))
    spark.createDataset(files)
      .repartition(math.max(files.length, 1))
      .flatMap { f =>
        val p = new HPath(f)
        val stream = p.getFileSystem(confBc.value.value).open(p)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try stream.close() catch { case _: java.io.IOException => }))
        streamPages(stream)
      }
  }
}

package graft

import graft.model.Page
import graft.sources.{Warc, WarcFixtures}
import graft.synth.PageGen
import java.sql.Timestamp

/** WARC reader/writer: round-trip fidelity, HTTP header stripping,
  * malformed-record resilience, and pipeline equivalence (extraction
  * from WARC == extraction from the parquet table).
  */
class WarcSpec extends SparkSuite {

  private def page(url: String, html: String, ts: Long = 1700000000000L) =
    Page(url, new Timestamp(ts), html.getBytes("UTF-8"), "", "en")

  test("round-trip: write → parse preserves url, timestamp, payload bytes") {
    val pages = (0L until 50L).map(id => PageGen.row(42L, id))
    val parsed = WarcFixtures.parse(WarcFixtures.write(pages))
    assert(parsed.length == 50)
    parsed.zip(pages).foreach { case (a, b) =>
      assert(a.url == b.url)
      assert(a.warc_ts.getTime == b.warc_ts.getTime)
      assert(java.util.Arrays.equals(a.html, b.html), a.url)
    }
  }

  test("HTTP headers are stripped; headerless payloads pass through") {
    val body = "<html><body><p>x</p></body></html>"
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
    assert(new String(Warc.stripHttpHeaders(http.getBytes("UTF-8")), "UTF-8") == body)
    assert(new String(Warc.stripHttpHeaders(body.getBytes("UTF-8")), "UTF-8") == body)
    // LF-only header endings
    val lf = s"HTTP/1.1 200 OK\nContent-Type: text/html\n\n$body"
    assert(new String(Warc.stripHttpHeaders(lf.getBytes("UTF-8")), "UTF-8") == body)
  }

  test("transport charset honored: cp1252 and Shift_JIS bodies extract byte-correct") {
    val german = "Straßenmaß über Gebühr — äöüß École."
    val jp = "日本語のテスト文です。"
    def record(url: String, charset: String, body: Array[Byte]): Array[Byte] = {
      val head = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=$charset\r\n\r\n")
        .getBytes("ISO-8859-1")
      val payload = head ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"WARC-Date: 2023-11-14T22:13:20Z\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    // Body declares NO meta charset — only the HTTP header knows.
    val cpBody = s"<html><body><article><p>$german</p></article></body></html>"
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    // Body declares a STALE meta (windows-1252) but transport says sjis —
    // transport must win, and the normalized page must not double-decode.
    val sjBody = (s"""<html><head><meta charset="windows-1252"></head>""" +
      s"<body><article><p>$jp</p></article></body></html>")
      .getBytes(java.nio.charset.Charset.forName("Shift_JIS"))
    val parsed = WarcFixtures.parse(
      record("https://de.example/a", "windows-1252", cpBody) ++
      record("https://jp.example/b", "shift_jis", sjBody))
    assert(parsed.length == 2)
    val proc = graft.extract.Processor.default
    val rDe = proc.extract(parsed(0), "accurate")
    assert(rDe.text.contains(german), rDe.text.take(200))
    val rJp = proc.extract(parsed(1), "accurate")
    assert(rJp.text.contains(jp), rJp.text.take(200))
    assert(!rDe.text.contains("�") && !rJp.text.contains("�"))
    // A plain UTF-8 page with matching transport passes through byte-identical.
    val utf8Body = "<html><body><p>plain</p></body></html>".getBytes("UTF-8")
    val p3 = WarcFixtures.parse(record("https://c.example/c", "utf-8", utf8Body))
    assert(java.util.Arrays.equals(p3(0).html, utf8Body))
  }

  test("binary payloads with bogus transport charset are never transcoded") {
    // Real crawl servers emit charset params on binaries; transcoding
    // would corrupt every byte >= 0x80.
    def record(ct: String, body: Array[Byte]): Array[Byte] = {
      val head = (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n").getBytes("ISO-8859-1")
      val payload = head ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://x.example/i\r\n" +
        s"WARC-Date: 2023-11-14T22:13:20Z\r\nContent-Length: ${payload.length}\r\n\r\n")
        .getBytes("ISO-8859-1") ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    val gif = graft.media.MediaGen.gif(40, 30, seed = 9)
    val parsed = WarcFixtures.parse(record("image/gif; charset=iso-8859-1", gif))
    assert(java.util.Arrays.equals(parsed(0).html, gif),
      "GIF bytes were transcoded by a bogus transport charset")
    // Textual media types still normalize.
    val cp = "<p>Straße</p>".getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val txt = WarcFixtures.parse(record("text/html; charset=windows-1252", cp))
    assert(new String(txt(0).html, "UTF-8").contains("Straße"))
  }

  test("non-response records and malformed garbage are skipped") {
    val good = WarcFixtures.write(Seq(page("https://a.example/x", "<p>keep</p>")))
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n")
      .getBytes("ISO-8859-1")
    val junk = "complete garbage\nnot a record\n".getBytes("ISO-8859-1")
    val truncated = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://b.example/y\r\n" +
      "Content-Length: 999999\r\n\r\nshort").getBytes("ISO-8859-1")
    val parsed = WarcFixtures.parse(junk ++ info ++ good ++ truncated)
    assert(parsed.length == 1 && parsed(0).url == "https://a.example/x")
  }

  test("pipeline from WARC == pipeline from parquet (end to end)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pages = (0L until 300L).map(id => PageGen.row(42L, id))
    val dir = tmpDir("warc_in")
    // Two archive files, read via binaryFile source.
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"),
      WarcFixtures.write(pages.take(150)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.warc"),
      WarcFixtures.write(pages.drop(150)))

    val proc = graft.extract.Processor.default
    val fromWarc = Warc.readPages(spark, dir)
      .mapPartitions(it => it.map(p => proc.extract(p, "balanced")))
      .select("url", "text", "word_count").orderBy("url").collect()
    val fromTable = PageGen.generate(spark, 300)
      .mapPartitions(it => it.map(p => proc.extract(p, "balanced")))
      .select("url", "text", "word_count").orderBy("url").collect()
    assert(fromWarc.length == 300)
    assert(fromWarc.sameElements(fromTable))
  }

  test("gzipped archives (per-record members, the CC layout) round-trip") {
    import org.apache.spark.sql.functions._
    val pages = (0L until 80L).map(id => PageGen.row(42L, id))
    val gz = WarcFixtures.writeGz(pages)
    assert(gz(0) == 0x1f.toByte && gz(1) == 0x8b.toByte)
    val parsed = WarcFixtures.parse(WarcFixtures.gunzipIfNeeded(gz))
    assert(parsed.length == 80)
    assert(parsed.zip(pages).forall { case (a, b) =>
      a.url == b.url && java.util.Arrays.equals(a.html, b.html) })
    // Through the Spark source too.
    val dir = tmpDir("warc_gz")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc.gz"), gz)
    assert(Warc.readPages(spark, dir).count() == 80)
  }

  private def pagesEqual(a: Seq[Page], b: Seq[Page]): Unit = {
    assert(a.length == b.length, s"page counts differ: ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) =>
      assert(x.url == y.url)
      assert(x.warc_ts.getTime == y.warc_ts.getTime)
      assert(java.util.Arrays.equals(x.html, y.html), x.url)
    }
  }

  test("streamPages == parse on plain and per-member-gzip archives") {
    val pages = (0L until 120L).map(id => PageGen.row(7L, id))
    val plain = WarcFixtures.write(pages)
    pagesEqual(
      Warc.streamPages(new java.io.ByteArrayInputStream(plain)).toVector,
      WarcFixtures.parse(plain))
    val gz = WarcFixtures.writeGz(pages)
    pagesEqual(
      Warc.streamPages(new java.io.ByteArrayInputStream(gz)).toVector,
      WarcFixtures.parse(WarcFixtures.gunzipIfNeeded(gz)))
  }

  test("streaming inflates past the whole-array reader's 4x estimate byte-identically") {
    // Highly repetitive bodies → inflation ratio >> 4×, the regime where
    // the old whole-archive path's `length * 4` capacity estimate
    // under-sized and (at ~2 GB inflated) failed outright.
    val filler = "lorem ipsum dolor sit amet " * 3000 // ~80 KB of repetition
    val pages = (0 until 64).map(i =>
      page(s"https://big.example/$i", s"<html><body><p>doc$i $filler</p></body></html>"))
    val gz = WarcFixtures.writeGz(pages)
    val inflated = WarcFixtures.gunzipIfNeeded(gz)
    assert(inflated.length.toLong > 4L * gz.length,
      s"fixture not compressible enough: ${inflated.length} inflated / ${gz.length} gz")
    pagesEqual(
      Warc.streamPages(new java.io.ByteArrayInputStream(gz)).toVector,
      WarcFixtures.parse(inflated))
  }

  test("streamPages == parse on malformed mixes; giant Content-Length skipped not materialized") {
    val good = WarcFixtures.write(Seq(page("https://a.example/x", "<p>keep</p>")))
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
      .getBytes("ISO-8859-1")
    val junk = "complete garbage\nnot a record\n".getBytes("ISO-8859-1")
    val truncated = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://b.example/y\r\n" +
      "Content-Length: 999999\r\n\r\nshort").getBytes("ISO-8859-1")
    val badLen = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://c.example/z\r\n" +
      "Content-Length: banana\r\n\r\n").getBytes("ISO-8859-1")
    // A payload whose BODY contains WARC/-looking lines must not resync
    // mid-record (Content-Length spans it in both readers).
    val embedded = WarcFixtures.write(Seq(page("https://d.example/w",
      "<pre>WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 0\r\n\r\n</pre>")))
    for (mix <- Seq(
        junk ++ info ++ good ++ truncated,
        badLen ++ good,
        embedded ++ good,
        truncated,
        Array.emptyByteArray)) {
      pagesEqual(
        Warc.streamPages(new java.io.ByteArrayInputStream(mix)).toVector,
        WarcFixtures.parse(mix))
    }
    // A declared Content-Length past the array ceiling is skipped as
    // malformed (no 3 GB allocation attempt); the next record still parses.
    val giant = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://g.example/g\r\n" +
      "WARC-Date: 2023-11-14T22:13:20Z\r\nContent-Length: 3000000000\r\n\r\ntiny\r\n\r\n")
      .getBytes("ISO-8859-1")
    val got = Warc.streamPages(new java.io.ByteArrayInputStream(giant ++ good)).toVector
    assert(got.map(_.url) == Vector("https://a.example/x"))
  }

  test("streaming reads lazily: first page consumes only a prefix of the archive") {
    val filler = (0 until 2500).map(i => s"w$i").mkString(" ") // ~15 KB, incompressible-ish
    val pages = (0 until 100).map(i =>
      page(s"https://lazy.example/$i", s"<html><body><p>$filler</p></body></html>"))
    val plain = WarcFixtures.write(pages)
    var bytesRead = 0L
    val counting = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(plain)
      override def read(): Int = { val r = in.read(); if (r >= 0) bytesRead += 1; r }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = in.read(b, off, len); if (r > 0) bytesRead += r; r
      }
    }
    val it = Warc.streamPages(counting)
    assert(it.next().url == "https://lazy.example/0")
    assert(bytesRead < plain.length / 4,
      s"read $bytesRead of ${plain.length} bytes for the first of 100 records — not streaming")
    assert(it.size == 99) // rest still arrives
  }

  test("truncated gzip member yields the records that inflated, never throws") {
    val pages = (0L until 40L).map(id => PageGen.row(11L, id))
    val gz = WarcFixtures.writeGz(pages)
    val cut = java.util.Arrays.copyOf(gz, gz.length * 3 / 5)
    val streamed = Warc.streamPages(new java.io.ByteArrayInputStream(cut)).toVector
    pagesEqual(streamed, WarcFixtures.parse(WarcFixtures.gunzipIfNeeded(cut)))
    assert(streamed.nonEmpty && streamed.length < 40)
  }

  test("readPages streams a directory mixing plain and gzip archives") {
    val dir = tmpDir("warc_mixed")
    val a = (0L until 30L).map(id => PageGen.row(3L, id))
    val b = (30L until 70L).map(id => PageGen.row(3L, id))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"), WarcFixtures.write(a))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.warc.gz"), WarcFixtures.writeGz(b))
    // Hidden/metadata files are ignored, as the binaryFile source did.
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_SUCCESS"), Array.emptyByteArray)
    val got = Warc.readPages(spark, dir).collect().map(_.url).sorted
    assert(got.toSeq == (a ++ b).map(_.url).sorted)
  }

  test("multi-GB archive streams end-to-end (env-gated: SPARK_GRAFT_BIG_WARC=1)") {
    // Proves the former whole-archive-byte-array ceiling (2 GB = the
    // JVM array max that round 2's reader hit) is gone at REALISTIC
    // size, not just in unit fixtures: a plain .warc larger than any
    // possible byte[] streams through readPages with O(largest-record)
    // memory. Gated because it writes ~2.4 GB to /tmp (~40 s round
    // trip on the sandbox disk).
    assume(sys.env.get("SPARK_GRAFT_BIG_WARC").contains("1"),
      "set SPARK_GRAFT_BIG_WARC=1 to run the multi-GB smoke")
    val dir = tmpDir("warc_big")
    val n = 2400
    val bodyLen = 1000000
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/big.warc"), 1 << 20)
    try {
      var i = 0
      while (i < n) {
        val body = new Array[Byte](bodyLen)
        java.util.Arrays.fill(body, ('a' + i % 26).toByte)
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
          .getBytes("ISO-8859-1")
        val payload = http ++ body
        out.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: https://big.example/$i\r\n" +
          s"WARC-Date: 2023-11-14T22:13:20Z\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1"))
        out.write(payload)
        out.write("\r\n\r\n".getBytes("ISO-8859-1"))
        i += 1
      }
    } finally out.close()
    val fileBytes = new java.io.File(s"$dir/big.warc").length()
    assert(fileBytes > Int.MaxValue.toLong,
      s"fixture must exceed the 2 GB byte[] ceiling, was $fileBytes")
    import org.apache.spark.sql.functions._
    val agg = Warc.readPages(spark, dir)
      .agg(count(lit(1)), sum(length(col("html")).cast("long"))).collect()(0)
    assert(agg.getLong(0) == n.toLong)
    assert(agg.getLong(1) == n.toLong * bodyLen, "payload bytes must survive intact")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("corrupt gzip header (1f 8b + garbage) yields empty, never throws") {
    val junk = Array[Byte](0x1f.toByte, 0x8b.toByte, 0x7f, 0x00)
    assert(Warc.streamPages(new java.io.ByteArrayInputStream(junk)).isEmpty)
    assert(Warc.streamPages(new java.io.ByteArrayInputStream(
      Array[Byte](0x1f.toByte, 0x8b.toByte))).isEmpty)
  }

  test("readPages fails LOUDLY on a missing path and lists subdirectories recursively") {
    intercept[IllegalArgumentException] {
      Warc.readPages(spark, "/tmp/does_not_exist_graft_warc_*")
    }
    // Nested segment layout (CC-style dir/segment/archive).
    val dir = tmpDir("warc_nested")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/seg0"))
    val a = (0L until 20L).map(id => PageGen.row(5L, id))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/seg0/a.warc"), WarcFixtures.write(a))
    assert(Warc.readPages(spark, dir).count() == 20)
    // A directory with no archives at all is loud too.
    val empty = tmpDir("warc_empty")
    intercept[IllegalArgumentException] { Warc.readPages(spark, empty) }
  }

  test("ExtractJob ingests WARC archives directly (--input-format warc)") {
    import graft.app.ExtractJob
    val in = tmpDir("warc_job_in")
    val out = tmpDir("warc_job_out")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/c.warc"),
      WarcFixtures.write((0L until 200L).map(id => PageGen.row(42L, id))))
    val rows = ExtractJob.run(spark,
      ExtractJob.Args(input = in, inputFormat = "warc", out = out, buckets = 8))
    assert(rows.map(_.docs).sum == 200)
    assert(spark.read.parquet(out).count() == 200)
  }
}

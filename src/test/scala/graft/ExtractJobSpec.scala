package graft

import graft.app.ExtractJob
import graft.app.ExtractJob.Args
import graft.extract.{PayloadMemo, Processor}
import graft.jobs.Checkpoint
import graft.model.{ExtractionRecord, KernelPage}
import graft.synth.{Fixtures, PageGen}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pipeline-level specs: generator determinism, end-to-end extraction,
  * idempotent checkpoint resume (north rule), parallelism invariance.
  */
class ExtractJobSpec extends SparkSuite {

  private val N = 400L

  test("PageGen is a pure function of (seed, id): partitioning-invariant") {
    import spark.implicits._
    val a = PageGen.generate(spark, N).repartition(7)
      .map(p => (p.url, java.util.Arrays.hashCode(p.html), p.lang, p.warc_ts.getTime))
      .collect().sortBy(_._1)
    val b = PageGen.generate(spark, N).repartition(2)
      .map(p => (p.url, java.util.Arrays.hashCode(p.html), p.lang, p.warc_ts.getTime))
      .collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.length == N)
  }

  test("host distribution is skewed (Zipfian) but buckets stay balanced") {
    import spark.implicits._
    val pages = PageGen.generate(spark, 2000L)
    val hostCounts = pages.map(p => new java.net.URI(p.url).getHost)
      .groupByKey(identity).count().collect().map(_._2)
    assert(hostCounts.max >= 20 * hostCounts.min || hostCounts.min == 1,
      s"expected skew, got max=${hostCounts.max} min=${hostCounts.min}")
    val bucketCounts = pages.toDF().select(ExtractJob.bucketExpr(16).as("bucket"))
      .groupBy("bucket").count().collect().map(_.getLong(1))
    assert(bucketCounts.max.toDouble / bucketCounts.min < 2.0,
      s"buckets unbalanced: ${bucketCounts.mkString(",")}")
  }

  test("end-to-end job: all rows extracted, error rows isolated, output matches kernel") {
    val out = tmpDir("xjob-out")
    val rows = ExtractJob.run(spark, Args(rows = N, out = out, buckets = 8))
    assert(rows.map(_.docs).sum == N)
    assert(rows.forall(_.status == "completed"))

    val res = spark.read.parquet(out)
    assert(res.count() == N)
    // Corrupted family rows become error records; everything else succeeds.
    val failed = res.where(!col("success")).select("url").collect().map(_.getString(0))
    assert(failed.forall(_.contains("/corrupted/")))
    assert(res.where(col("success")).count() == N - failed.length)

    // Byte-identical text per url vs a direct kernel call (per-row invariant).
    val sample = res.where(col("success"))
      .select("url", "text", "word_count").orderBy("url").limit(30).collect()
    sample.foreach { r =>
      val url = r.getString(0)
      val id = url.substring(url.lastIndexOf("/p") + 2, url.length - 5).toLong
      val rec = Processor.default.extract(PageGen.row(42L, id), "balanced")
      assert(rec.text == r.getString(1), s"text mismatch for $url")
      assert(rec.word_count == r.getInt(2))
    }
  }

  test("multi-wave run stages input once, matches single-wave output, cleans up staging") {
    val outOne = tmpDir("xjob-wave1")
    val outMany = tmpDir("xjob-wave4")
    ExtractJob.run(spark, Args(rows = N, out = outOne, buckets = 8))
    val rows = ExtractJob.run(spark,
      Args(rows = N, out = outMany, buckets = 8, waveSize = 2, runId = "waved"))
    assert(rows.map(_.docs).sum == N)
    // The bucketed staging table is deleted after the run, directory and all.
    val outFile = new java.io.File(outMany)
    val left = outFile.getParentFile.list().filter(_.startsWith(s"${outFile.getName}_staging"))
    assert(left.isEmpty, s"staging left behind: ${left.mkString(", ")}")
    // Output tables are identical row-for-row.
    val a = spark.read.parquet(outOne).select("url", "text", "word_count", "success")
      .orderBy("url").collect()
    val b = spark.read.parquet(outMany).select("url", "text", "word_count", "success")
      .orderBy("url").collect()
    assert(a.length == b.length && a.sameElements(b))
    // The bucket exchange leaves every bucket one file, one wave or many.
    for (out <- Seq(outOne, outMany)) {
      val files = parquetFilesPerBucket(out)
      assert(files.size == 8 && files.values.forall(_ == 1), s"$out: $files")
    }
  }

  test("lineage rows equal a groupBy over the written table, zero-row buckets included") {
    // Input with no row in bucket 3, so the zero-row path is always hit.
    val input = tmpDir("xjob-lineage-in")
    PageGen.generate(spark, N).toDF().where(ExtractJob.bucketExpr(4) =!= 3)
      .write.mode("overwrite").parquet(input)
    val base = Args(input = input, buckets = 4)
    Seq(
      "single wave" -> base,
      "multi-wave" -> base.copy(waveSize = 2),
      "two-pass" -> base.copy(twoPass = true)
    ).foreach { case (name, a) =>
      val out = tmpDir("xjob-lineage")
      val rows = ExtractJob.run(spark, a.copy(out = out))
      val expected = spark.read.parquet(out).groupBy("bucket")
        .agg(count(lit(1)), sum(when(col("success"), 1L).otherwise(0L)),
          sum(col("word_count").cast("long")))
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(1) - r.getLong(2), r.getLong(3))).toMap
      assert(rows.map(_.bucket).sorted == (0 until 4), name)
      assert(!expected.contains(3) && rows.map(_.error_docs).sum > 0, name)
      rows.foreach { l =>
        assert(l.status == "completed", name)
        assert((l.docs, l.ok_docs, l.error_docs, l.words) ==
          expected.getOrElse(l.bucket, (0L, 0L, 0L, 0L)), s"$name, bucket ${l.bucket}")
      }
    }
  }

  test("a hybrid page: accurate OCRs it, balanced reads it direct, two-pass keeps accurate") {
    import spark.implicits._
    // src/test/resources/hybrid_page.html: one page with two text blocks
    // and an <img alt>, the mixed page neither PageGen nor Fixtures
    // plants (they feed the goldens and the benchmark inputs).
    val html = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(getClass.getResource("/hybrid_page.html").toURI))
    val url = "https://news.example/harbour.html"
    val input = tmpDir("xjob-hybrid-in")
    PageGen.generate(spark, 24)
      .union(Seq(graft.model.Page(url, new java.sql.Timestamp(0L), html, "", "en")).toDS())
      .write.mode("overwrite").parquet(input)
    def job(a: Args): Map[String, org.apache.spark.sql.Row] = {
      val out = tmpDir("xjob-hybrid")
      ExtractJob.run(spark, a.copy(input = input, out = out, buckets = 2))
      spark.read.parquet(out).drop("bucket").collect()
        .map(r => r.getAs[String]("url") -> r).toMap
    }
    val balanced = job(Args(quality = "balanced"))
    val accurate = job(Args(quality = "accurate"))
    val twoPass = job(Args(twoPass = true))

    val (b, a) = (balanced(url), accurate(url))
    assert(b.getAs[scala.collection.Seq[Int]]("hybrid_pages").toSeq == Seq(1), b)
    assert(b.getAs[String]("extraction_method") == "direct", b)
    assert(b.getAs[Int]("attempted_pages") == 0, b)
    assert(a.getAs[String]("extraction_method") == "hybrid (direct + llm_ocr)", a)
    assert(a.getAs[Int]("attempted_pages") == 1, a)
    assert(a.getAs[String]("text").contains("(OCR: llm_ocr)"), a)

    // Every other url reads the same under both qualities.
    def without(r: org.apache.spark.sql.Row, column: String): Seq[String] =
      r.schema.fieldNames.toSeq.filter(_ != column).map(f => String.valueOf(r.getAs[Any](f)))
    assert(balanced.keySet == accurate.keySet && balanced.size == 25)
    (balanced.keySet - url).foreach { u =>
      assert(without(balanced(u), "quality") == without(accurate(u), "quality"), u)
    }

    // The cascade flags the page and keeps its accurate record.
    val t = twoPass(url)
    assert(t.getAs[Int]("pass") == 2, t)
    assert(without(t, "pass") == without(a, "pass"), t)
  }

  test("a run whose waves match no row returns one zero lineage row per bucket") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val a = Args(rows = 50, out = tmpDir("xjob-empty"), buckets = 4, lang = "zz")
    val rows = Await.result(Future(ExtractJob.run(spark, a))(ExecutionContext.global), 3.minutes)
    assert(rows.sortBy(_.bucket).map(l => (l.bucket, l.status, l.docs, l.ok_docs, l.error_docs,
      l.words)) == (0 until 4).map(b => (b, "completed", 0L, 0L, 0L, 0L)))
  }

  test("checkpoint given as a file:// URI: resume skips done buckets, retention runs") {
    import graft.jobs.LineageRow
    val out = tmpDir("xjob-uri")
    val ckpt = new java.io.File(tmpDir("xjob-uri-ckpt"), "lineage").toURI.toString
    assert(ckpt.startsWith("file:"))
    val a = Args(rows = 100, out = out, checkpoint = ckpt, runId = "u1", buckets = 4)
    assert(ExtractJob.run(spark, a).map(_.bucket).sorted == (0 until 4))
    assert(ExtractJob.run(spark, a) == Nil)

    val old = new java.sql.Timestamp(System.currentTimeMillis() - 48L * 3600 * 1000)
    Checkpoint.append(spark, ckpt, Seq(LineageRow("u0", 0, "completed", 1, 1, 0, 1, "balanced", old)))
    assert(Checkpoint.cleanupExpired(spark, ckpt, ttlHours = 24) == 1)
    assert(spark.read.parquet(ckpt).where(col("run_id") === "u0").count() == 0)
    assert(Checkpoint.completedBuckets(spark, ckpt, "u1") == (0 until 4).toSet)
  }

  /** Every non-hidden file under `dir` with its length and mtime. */
  private def fileStamps(dir: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => (f.getPath, f.length(), f.lastModified())).toSet
  }

  test("an unreadable checkpoint table fails the run naming its path, rewriting no bucket") {
    val out = tmpDir("xjob-badckpt")
    val ckpt = tmpDir("xjob-badckpt-ckpt") + "/lineage"
    val a = Args(rows = 100, out = out, checkpoint = ckpt, runId = "t1", buckets = 4)
    assert(ExtractJob.run(spark, a).map(_.bucket).sorted == (0 until 4))
    // Truncate the lineage file to half its bytes (a torn copy), and drop
    // its checksum so the parquet reader, not the checksum, meets it.
    val parts = new java.io.File(ckpt).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2))
      new java.io.File(f.getParent, s".${f.getName}.crc").delete()
    }
    // A rewritten bucket would get new part files (fresh names).
    val before = fileStamps(out)
    val e = intercept[Exception](ExtractJob.run(spark, a))
    assert(e.getMessage.contains(ckpt), e.getMessage)
    assert(fileStamps(out) == before)
  }

  test("a checkpoint with no committed lineage (absent, or only _temporary) runs every bucket") {
    for (killedAppend <- Seq(false, true)) {
      val ckpt = tmpDir("xjob-newckpt") + "/lineage"
      // What a first append killed after the committer started leaves.
      if (killedAppend) assert(new java.io.File(ckpt, "_temporary/0").mkdirs())
      val a = Args(rows = 100, out = tmpDir("xjob-newckpt-out"), checkpoint = ckpt,
        runId = "t2", buckets = 4)
      assert(Checkpoint.completedBuckets(spark, ckpt, "t2") == Set.empty)
      assert(ExtractJob.run(spark, a).map(_.bucket).sorted == (0 until 4), s"killedAppend=$killedAppend")
      assert(Checkpoint.completedBuckets(spark, ckpt, "t2") == (0 until 4).toSet)
    }
  }

  test("--slim job: flat schema, same per-document values as the full run") {
    val outFull = tmpDir("xjob-full")
    val outSlim = tmpDir("xjob-slim")
    ExtractJob.run(spark, Args(rows = 400, out = outFull, buckets = 4))
    ExtractJob.run(spark, Args(rows = 400, out = outSlim, buckets = 4, slim = true))
    val slim = spark.read.parquet(outSlim)
    // Flat schema: no nested arrays/structs anywhere.
    assert(slim.schema.fields.forall(f =>
      !f.dataType.typeName.contains("array") && !f.dataType.typeName.contains("struct")),
      slim.schema.treeString)
    // Shared columns carry identical values per url.
    val cols = Seq("url", "success", "pdf_type", "total_pages", "text",
      "word_count", "confidence", "extraction_method")
    val a = spark.read.parquet(outFull).select(cols.head, cols.tail: _*)
      .orderBy("url").collect().toSeq
    val b = slim.select(cols.head, cols.tail: _*).orderBy("url").collect().toSeq
    assert(a == b)
  }

  test("a table with only url, html and lang gives the same rows as the full table") {
    val full = tmpDir("pages_full")
    val narrow = tmpDir("pages_narrow")
    PageGen.generate(spark, 200).toDF().write.mode("overwrite").parquet(full)
    spark.read.parquet(full).select("url", "html", "lang").write.mode("overwrite").parquet(narrow)
    def rows(input: String): Seq[Row] = {
      val out = tmpDir("xjob-cols")
      ExtractJob.run(spark, Args(input = input, out = out, buckets = 4))
      spark.read.parquet(out).collect().sortBy(_.getString(0)).toSeq
    }
    val a = rows(full)
    assert(a.length == 200)
    assert(rows(narrow) == a)
  }

  test("--notify writes an atomic completion summary (I4 seam)") {
    val out = tmpDir("xjob-notify")
    val notifyPath = tmpDir("xjob-notify-dir") + "/done.json"
    val rows = ExtractJob.run(spark,
      Args(rows = 200, out = out, buckets = 4, notifyPath = notifyPath))
    val f = new java.io.File(notifyPath)
    assert(f.exists())
    assert(!new java.io.File(notifyPath + ".tmp").exists()) // rename, not partial write
    val json = scala.io.Source.fromFile(f).mkString
    assert(json.contains(""""status":"completed""""))
    assert(json.contains(s""""docs":${rows.map(_.docs).sum}"""))
    assert(json.contains(""""buckets_done":4"""))
    // A complete-checkpoint rerun is a noop and reports it as such.
    val ckpt = tmpDir("xjob-notify-ckpt")
    ExtractJob.run(spark, Args(rows = 200, out = out, buckets = 4,
      checkpoint = ckpt, notifyPath = notifyPath))
    ExtractJob.run(spark, Args(rows = 200, out = out, buckets = 4,
      checkpoint = ckpt, notifyPath = notifyPath))
    val json2 = scala.io.Source.fromFile(f).mkString
    assert(json2.contains(""""status":"noop""""))
  }

  test("--notify-url POSTs the completion summary (I4 webhook parity)") {
    // Local-socket receiver (JDK HttpServer, loopback only) — the
    // reference's webhook contract (service/jobs.py:231-247) without
    // external network.
    val received = new java.util.concurrent.LinkedBlockingQueue[(String, String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/hook", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      received.put((ex.getRequestMethod,
        ex.getRequestHeaders.getFirst("Content-Type"), body))
      ex.sendResponseHeaders(200, 2)
      val os = ex.getResponseBody; os.write("ok".getBytes); os.close()
    })
    server.start()
    try {
      val out = tmpDir("xjob-hook")
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/hook"
      val rows = ExtractJob.run(spark,
        Args(rows = 200, out = out, buckets = 4, notifyUrl = url))
      val (method, ctype, body) = received.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(method == "POST")
      assert(ctype == "application/json")
      assert(body.contains(""""job":"extract""""))
      assert(body.contains(""""status":"completed""""))
      assert(body.contains(s""""docs":${rows.map(_.docs).sum}"""))

      // A dead receiver is non-fatal: the job still completes (the
      // reference swallows webhook failures the same way).
      server.stop(0)
      val out2 = tmpDir("xjob-hook2")
      val rows2 = ExtractJob.run(spark,
        Args(rows = 100, out = out2, buckets = 2, notifyUrl = url))
      assert(rows2.nonEmpty && spark.read.parquet(out2).count() > 0)
    } finally server.stop(0)
  }

  test("lang filter is pushed before the kernel and respected") {
    val out = tmpDir("xjob-lang")
    ExtractJob.run(spark, Args(rows = N, out = out, buckets = 4, lang = "de"))
    val res = spark.read.parquet(out)
    assert(res.count() > 0)
    assert(res.where(col("lang") =!= "de").count() == 0)
  }

  test("--buckets < 1 is rejected by parseArgs and by Args, naming the flag") {
    for (b <- Seq("0", "-3")) {
      val e = intercept[IllegalArgumentException](
        ExtractJob.parseArgs(Array("--rows", "10", "--out", "o", "--buckets", b)))
      assert(e.getMessage.contains("--buckets"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](Args(rows = 10, out = "o", buckets = 0))
    assert(e.getMessage.contains("--buckets"), e.getMessage)
    assert(ExtractJob.parseArgs(Array("--rows", "10", "--out", "o", "--buckets", "1")).buckets == 1)
  }

  test("an unknown --input-format is rejected by parseArgs and by Args, naming the flag") {
    val e = intercept[IllegalArgumentException](
      ExtractJob.parseArgs(Array("--input", "in", "--out", "o", "--input-format", "parquet")))
    assert(e.getMessage.contains("--input-format"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Args(input = "in", out = "o", inputFormat = "WARC"))
    assert(e2.getMessage.contains("--input-format"), e2.getMessage)
    // WARC flag combinations that would silently drop a flag: --lang
    // (WARC pages carry no lang) and no --input (PageGen rows instead),
    // rejected by parseArgs and by run before any Spark work.
    for ((argv, bad, flags) <- Seq(
        (Seq("--input", "in", "--lang", "de"), Args(input = "in", lang = "de"),
          Seq("--lang", "--input-format")),
        (Seq("--rows", "10"), Args(rows = 10), Seq("--input-format", "--input")))) {
      val e3 = intercept[IllegalArgumentException](ExtractJob.parseArgs(
        (argv ++ Seq("--out", "o", "--input-format", "warc")).toArray))
      assert(flags.forall(e3.getMessage.contains), e3.getMessage)
      val out = tmpDir("xjob-warc-flags") + "/out"
      val e4 = intercept[IllegalArgumentException](
        ExtractJob.run(spark, bad.copy(out = out, inputFormat = "warc")))
      assert(flags.forall(e4.getMessage.contains), e4.getMessage)
      assert(!new java.io.File(out).exists())
    }
    // Flag order does not matter: --input may follow --input-format.
    assert(ExtractJob.parseArgs(Array("--input-format", "warc", "--input", "in",
      "--out", "o")).inputFormat == "warc")
    for (f <- Seq("table", "warc"))
      assert(ExtractJob.parseArgs(
        Array("--input", "in", "--out", "o", "--input-format", f)).inputFormat == f)
  }

  test("invalid quality normalizes to balanced at the job boundary") {
    val out = tmpDir("xjob-q")
    val rows = ExtractJob.run(spark, Args(rows = 50, out = out, buckets = 2, quality = "turbo"))
    assert(rows.forall(_.quality == "balanced"))
  }

  test("extractKernel normalizes an invalid quality to balanced, row for row") {
    import spark.implicits._
    val pages = PageGen.generate(spark, 120L)
    val full = Seq("bogus", "balanced").map(q =>
      ExtractJob.extractKernel(pages, q).as[ExtractionRecord].collect().sortBy(_.url).toSeq)
    assert(full(0) == full(1))
    val slim = Seq("bogus", "balanced").map(q =>
      ExtractJob.slim(ExtractJob.extractKernel(pages, q)).collect().sortBy(_.getString(0)).toSeq)
    assert(slim(0) == slim(1))
    assert(slim(0).forall(_.getAs[String]("quality") == "balanced"))
  }

  test("payload memo in the kernel stage: repeats under many urls/langs, past the cap, == direct calls") {
    import spark.implicits._
    val (n, bFrom, pad) = (1000, 900, 80000)
    // One task sees more bytes of repeated payloads than the production
    // cap, so the memo fills and then stops admitting (payload B arrives
    // after that).
    val repeatedBytes = (0 until bFrom by 4).map(i => ExtractJobSpec.memoRow(i + 2, bFrom, pad).html)
      .map(_.length.toLong).sum
    assert(repeatedBytes > PayloadMemo.CapBytes)
    val rows = spark.range(0, n, 1, 1).map(i => ExtractJobSpec.memoRow(i.toInt, bFrom, pad))
    val direct = (0 until n)
      .map(i => Processor.default.extract(ExtractJobSpec.memoRow(i, bFrom, pad), "balanced"))
      .sortBy(_.url)
    val full = ExtractJob.extractKernel(rows, "balanced").as[ExtractionRecord].collect().sortBy(_.url)
    assert(full.toSeq == direct)
    val slim = ExtractJob.slim(ExtractJob.extractKernel(rows, "balanced"))
      .collect().sortBy(_.getString(0))
    assert(slim.toSeq == direct.map(r => Row(r.url, r.success, r.pdf_type, r.total_pages, r.text,
      r.word_count, r.confidence, r.extraction_method, r.quality, r.lang, r.error.getOrElse(""))))
  }

  test("payload memo: a hit reuses the record, the cap stops admission, results == direct calls") {
    val (n, bFrom, pad) = (400, 300, 2000)
    val cap = 64L * 1024
    val memo = new PayloadMemo(Processor.default.extract(_, "balanced"), capBytes = cap)
    val got = (0 until n).map { i =>
      val p = ExtractJobSpec.memoRow(i, bFrom, pad)
      val r = memo.extract(p)
      assert(r == Processor.default.extract(p, "balanced"), s"row $i")
      (p, r)
    }
    assert(memo.retainedBytes <= cap && memo.retainedBytes > cap / 2)
    // A was admitted at its second sighting: every later copy shares
    // that record's text. B (first seen after the cap filled, larger
    // than the room left) was not: each copy is a fresh extraction.
    def texts(payload: Array[Byte]) = got.collect {
      case (p, r) if java.util.Arrays.equals(p.html, payload) => r.text
    }
    val (a, b) = (texts(ExtractJobSpec.SharedA), texts(ExtractJobSpec.SharedB))
    assert(a.size == 100 && !(a(0) eq a(1)) && a.drop(2).forall(_ eq a(1)))
    assert(b.size == 25 && b.tail.forall(t => !(t eq b.head)))
    assert(memo.size < got.map(x => java.nio.ByteBuffer.wrap(x._1.html)).distinct.size)
  }

  test("payload memo: payloads whose hashes collide never share an entry") {
    val memo = new PayloadMemo(Processor.default.extract(_, "balanced"), hash = _ => 42)
    val (a, b) = (Fixtures.textSimpleHtml, Fixtures.germanInvoiceHtml)
    val pages = Seq(a, a, b, b, a, b).zipWithIndex.map { case (h, i) =>
      KernelPage(s"https://c.example/$i", h.clone(), Seq("en", "de", "")(i % 3))
    }
    val got = pages.map(memo.extract)
    assert(got == pages.map(p => Processor.default.extract(p, "balanced")))
    assert(got(0).text != got(2).text)
    assert(memo.size == 2)
  }

  test("idempotent resume: killed-midway rerun produces identical results table") {
    val outFull = tmpDir("xjob-full")
    val outResume = tmpDir("xjob-resume")
    val ckpt = tmpDir("xjob-ckpt") + "/lineage"

    // Reference run: everything in one go.
    ExtractJob.run(spark, Args(rows = N, out = outFull, buckets = 8))

    // Interrupted run: first wave of 3 buckets completes + checkpoints...
    val a = Args(rows = N, out = outResume, checkpoint = ckpt, runId = "r1", buckets = 8, waveSize = 3)
    val firstWave = ExtractJob.run(spark, a.copy(waveSize = 3)) // full run in waves
    assert(firstWave.map(_.bucket).toSet == (0 until 8).toSet)

    // ...simulate a crash after wave 1: drop lineage for buckets >2 and
    // tear their result partitions (every data file gone).
    val keep = spark.read.parquet(ckpt).where(col("bucket") < 3)
    val ckpt2 = tmpDir("xjob-ckpt2") + "/lineage"
    keep.write.parquet(ckpt2)
    (3 until 8).foreach { b =>
      val dir = new java.io.File(s"$outResume/bucket=$b")
      if (dir.exists()) dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    }
    assert(spark.read.parquet(outResume).count() < N)

    // Resume with the surviving checkpoint: buckets 0-2 must be skipped,
    // 3-7 rewritten atomically.
    val resumed = ExtractJob.run(spark, a.copy(checkpoint = ckpt2))
    assert(resumed.map(_.bucket).toSet == (3 until 8).toSet)

    val full = spark.read.parquet(outFull)
      .select("url", "text", "word_count", "pdf_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    val res = spark.read.parquet(outResume)
      .select("url", "text", "word_count", "pdf_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(res.length == N)
    assert(full.toSeq == res.toSeq)
    // A rerun bucket is rewritten whole, as one file.
    val files = parquetFilesPerBucket(outResume)
    assert(files.size == 8 && files.values.forall(_ == 1), files)

    // Re-running with complete checkpoint is a no-op.
    val noop = ExtractJob.run(spark, a.copy(checkpoint = ckpt2))
    assert(noop.isEmpty)
  }

  test("same job at local parallelism 1 vs 4 yields identical output (scaling correctness)") {
    import spark.implicits._
    val pages = PageGen.generate(spark, 120L)
    val one = ExtractJob.extractKernel(pages.repartition(1), "balanced")
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    val four = ExtractJob.extractKernel(pages.repartition(4), "balanced")
      .select("url", "text").as[(String, String)].collect().sortBy(_._1)
    assert(one.toSeq == four.toSeq)
  }

  test("extractKernel on a stored pages table reads only url/html/lang") {
    val dir = tmpDir("kernel_pages")
    PageGen.generate(spark, 50).toDF().write.mode("overwrite").parquet(dir)
    val plan = ExtractJob.extractKernel(spark.read.parquet(dir), "fast")
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html") &&
      readSchema.contains("lang"), plan)
    assert(!readSchema.contains("text:"), s"text not pruned: $readSchema")
    assert(!readSchema.contains("warc_ts"), s"warc_ts not pruned: $readSchema")
  }

  test("extractKernel composes with downstream relational ops") {
    val dir = tmpDir("kernel_pages_agg")
    PageGen.generate(spark, 200).toDF().write.mode("overwrite").parquet(dir)
    val stats = ExtractJob.extractKernel(spark.read.parquet(dir), "balanced")
      .where(col("success"))
      .groupBy("pdf_type").agg(count(lit(1)).as("n"), sum("word_count").as("words"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = PageGen.generate(spark, 200).collect().toSeq
      .map(p => Processor.default.extract(p, "balanced")).filter(_.success)
      .groupBy(_.pdf_type)
      .map { case (t, rs) => t -> (rs.length.toLong, rs.map(_.word_count.toLong).sum) }
    assert(stats == expected)
  }

  test("checkpoint retention delete drops only expired lineage rows") {
    import graft.jobs.{Checkpoint, LineageRow}
    val path = tmpDir("ckpt_ttl") + "/lineage"
    val now = System.currentTimeMillis()
    val old = new java.sql.Timestamp(now - 48L * 3600 * 1000)
    val fresh = new java.sql.Timestamp(now)
    Checkpoint.append(spark, path, Seq(
      LineageRow("r1", 0, "completed", 10, 10, 0, 100, "balanced", old),
      LineageRow("r1", 1, "completed", 10, 10, 0, 100, "balanced", fresh)))
    val dropped = Checkpoint.cleanupExpired(spark, path, ttlHours = 24)
    assert(dropped == 1)
    val left = spark.read.parquet(path).collect()
    assert(left.length == 1 && left(0).getAs[Int]("bucket") == 1)
  }

  test("lang filter reaches the parquet scan (pushdown before the kernel)") {
    import graft.app.ExtractJob
    val dir = tmpDir("pages_pd")
    graft.synth.PageGen.generate(spark, 500).toDF().write.mode("overwrite").parquet(dir)
    val ds = ExtractJob.loadPages(spark, ExtractJob.Args(input = dir, out = "/x", lang = "de"))
    val plan = ds.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,de)"), plan)
  }
}

object ExtractJobSpec {
  private def padded(id: Long, pad: Int): Array[Byte] =
    PageGen.articleHtmlString(3L, id).replace("</body>", s"<!-- ${"x" * pad} -->\n</body>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  val SharedA: Array[Byte] = Fixtures.hybrid2pPdf
  val SharedB: Array[Byte] = padded(-1L, 8192)

  /** Row `i` of the payload-memo specs, each with its own url: every
    * 4th row repeats payload A under a cycling lang; from row `bFrom` on,
    * rows ≡ 1 mod 4 repeat payload B (an 8 KB article); the other rows
    * of each group of 4 carry that group's own article, padded with a
    * `pad`-byte comment (seen 2-3 times, so the memo admits it).
    */
  def memoRow(i: Int, bFrom: Int, pad: Int): KernelPage = {
    val html =
      if (i % 4 == 0) SharedA.clone()
      else if (i % 4 == 1 && i >= bFrom) SharedB.clone()
      else padded(i / 4L, pad)
    val lang = Vector("en", "de", "ja", "")(i / 4 % 4)
    KernelPage(s"https://memo$i.example/p$i.html", html, lang)
  }
}

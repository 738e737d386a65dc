package graft

import graft.extract._
import graft.model._
import graft.synth.{Fixtures, PageGen}
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Extraction-kernel semantics: fallback cascade, composition rules and
  * golden outputs — ports reference tests/unit/test_processor.py:267-668
  * and the integration pipeline assertions
  * (tests/integration/test_pipeline.py:22-158).
  */
class ProcessorSpec extends AnyFunSuite {

  /** Mirrors MockOCRBackend (test_processor.py:30-66). */
  final class MockBackend(
      val name: String = "mock",
      val method: String = Enums.LlmOcr,
      available: Boolean = true,
      returnText: String = "mock OCR text",
      shouldFail: Boolean = false) extends ExtractionBackend {
    var calls: Int = 0
    def isAvailable: Boolean = available
    def extractText(doc: ParsedDoc, pageNumber: Int): String = {
      calls += 1
      if (shouldFail) throw new RuntimeException("mock backend failure")
      returnText
    }
  }

  private def pageOf(bytes: Array[Byte], url: String = "http://t.example/x") =
    Page(url, new Timestamp(0L), bytes, "", "en")

  private def extract(bytes: Array[Byte], quality: String,
                      processor: Processor = Processor.default): ExtractionRecord =
    processor.extract(pageOf(bytes), quality)

  // --- classification → record plumbing ---------------------------------

  test("text_simple balanced: pure_text, direct, page markers, word count") {
    val r = extract(Fixtures.textSimpleHtml, Enums.Balanced)
    assert(r.success && r.pdf_type == Enums.PureText)
    assert(r.total_pages == 1)
    assert(r.extraction_method == "direct")
    assert(r.text.startsWith("--- Page 1 ---\n"))
    assert(r.text.contains("Sample text content"))
    assert(r.word_count == graft.text.PyText.wordCount(r.text))
    assert(r.confidence == 1.0)
    assert(r.page_errors.isEmpty)
    assert(r.pages.map(_.confidence) == Seq(1.0))
  }

  test("image_only balanced: OCR path used, marker carries method") {
    val r = extract(Fixtures.imageOnlyHtml, Enums.Balanced)
    assert(r.pdf_type == Enums.PureImage)
    assert(r.extraction_method == s"hybrid (direct + ${Enums.LlmOcr})")
    assert(r.text.startsWith(s"--- Page 1 (OCR: ${Enums.LlmOcr}) ---\n"))
    assert(r.text.contains("Scanned invoice page"))
    assert(r.pages.map(_.confidence) == Seq(0.9))
    assert(r.attempted_pages == 1 && r.successful_pages == 1 && r.failed_pages == 0)
  }

  test("image_only fast: no OCR, empty text (processor.py:265-266)") {
    val r = extract(Fixtures.imageOnlyHtml, Enums.Fast)
    assert(r.text == "")
    assert(r.word_count == 0)
    assert(r.attempted_pages == 0)
    assert(r.extraction_method == "direct (no OCR backend available)")
  }

  test("hybrid_2p balanced: page 1 direct, page 2 OCR, parts joined by blank line") {
    val r = extract(Fixtures.hybrid2pHtml, Enums.Balanced)
    assert(r.pdf_type == Enums.Hybrid)
    assert(r.text_pages == Seq(1) && r.image_pages == Seq(2))
    val expected =
      "--- Page 1 ---\n" +
      "This is text content on page 1\nMore text here for detection\nAdditional content line\n" +
      "\n\n" +
      s"--- Page 2 (OCR: ${Enums.LlmOcr}) ---\n" +
      "Architecture diagram showing the data flow between services"
    assert(r.text == expected)
  }

  test("empty doc: pure_image (blank page → scanned), no text") {
    val r = extract(Fixtures.emptyHtml, Enums.Balanced)
    assert(r.pdf_type == Enums.PureImage)
    assert(r.total_pages == 1)
    assert(r.text == "")
    // Blank page OCR attempt fails with empty-response cascade.
    assert(r.page_errors.length == 1)
    assert(r.page_errors(0).error == "empty response from primary backend")
  }

  test("corrupted PDF: error record, success=false, job continues") {
    val r = extract(Fixtures.corruptedPdf, Enums.Balanced)
    assert(!r.success)
    assert(r.pdf_type == Enums.Unknown)
    assert(r.extraction_method == "error")
    assert(r.error.isDefined)
  }

  test("PDF and HTML variants of same family classify identically") {
    for ((h, p) <- Seq(
        (Fixtures.textSimpleHtml, Fixtures.textSimplePdf),
        (Fixtures.imageOnlyHtml, Fixtures.imageOnlyPdf),
        (Fixtures.hybrid2pHtml, Fixtures.hybrid2pPdf),
        (Fixtures.multipageHtml(3), Fixtures.multipagePdf(3)))) {
      val rh = extract(h, Enums.Balanced)
      val rp = extract(p, Enums.Balanced)
      assert(rh.pdf_type == rp.pdf_type)
      assert(rh.total_pages == rp.total_pages)
      assert(rh.text_pages == rp.text_pages && rh.image_pages == rp.image_pages)
    }
  }

  test("german invoice: umlauts and number formats survive byte-exact") {
    val r = extract(Fixtures.germanInvoiceHtml, Enums.Balanced)
    assert(r.text.contains("Müller & Söhne GmbH — Büroausstattung"))
    assert(r.text.contains("Nettobetrag: 1.000,00 EUR"))
    assert(r.text.contains("MwSt. (19%): 190,00 EUR"))
  }

  // --- fallback cascade (test_processor.py:530-668) ----------------------

  private def imgDoc = DocParser.parse(Fixtures.imageOnlyHtml).toOption.get

  test("cascade: available primary wins") {
    val primary = new MockBackend(name = "p", returnText = "primary text")
    val fallback = new MockBackend(name = "f", method = Enums.Tesseract)
    val proc = new Processor(Some(primary), Some(fallback))
    val (text, method, backend, err) = proc.extractWithOcr(imgDoc, 1)
    assert(text == "primary text" && method == Enums.LlmOcr && backend == "p" && err.isEmpty)
    assert(fallback.calls == 0)
  }

  test("cascade: empty primary → fallback used, no error") {
    val primary = new MockBackend(returnText = "")
    val fallback = new MockBackend(name = "f", method = Enums.Tesseract, returnText = "fallback text")
    val proc = new Processor(Some(primary), Some(fallback))
    val (text, method, backend, err) = proc.extractWithOcr(imgDoc, 1)
    assert(text == "fallback text" && method == Enums.Tesseract && backend == "f" && err.isEmpty)
  }

  test("cascade: failing primary, failing fallback → error from fallback") {
    val primary = new MockBackend(shouldFail = true)
    val fallback = new MockBackend(name = "f", shouldFail = true)
    val proc = new Processor(Some(primary), Some(fallback))
    val (text, _, backend, err) = proc.extractWithOcr(imgDoc, 1)
    assert(text == "" && backend == "none")
    assert(err.contains("mock backend failure"))
  }

  test("cascade: unavailable primary, no fallback → 'backend unavailable' (processor.py:332)") {
    val primary = new MockBackend(available = false)
    val proc = new Processor(Some(primary), None)
    val (text, _, _, err) = proc.extractWithOcr(imgDoc, 1)
    assert(text == "")
    assert(err.contains("backend unavailable"))
  }

  test("cascade: empty primary, no fallback → 'empty response from primary backend' (processor.py:342)") {
    val primary = new MockBackend(returnText = "")
    val proc = new Processor(Some(primary), None)
    val (_, _, _, err) = proc.extractWithOcr(imgDoc, 1)
    assert(err.contains("empty response from primary backend"))
  }

  test("cascade: fallbackOnError=false skips fallback") {
    val primary = new MockBackend(shouldFail = true)
    val fallback = new MockBackend(name = "f", returnText = "fallback text")
    val proc = new Processor(Some(primary), Some(fallback),
      config = ProcessorConfig(fallbackOnError = false))
    val (text, _, _, err) = proc.extractWithOcr(imgDoc, 1)
    assert(text == "")
    assert(err.contains("mock backend failure"))
    assert(fallback.calls == 0)
  }

  test("OCR failure falls through to direct text with error recorded (processor.py:307-309)") {
    val primary = new MockBackend(shouldFail = true)
    val proc = new Processor(Some(primary), None)
    val r = proc.extract(pageOf(Fixtures.imageOnlyHtml), Enums.Balanced)
    assert(r.page_errors.length == 1)
    // The fall-through to direct records backend="direct" with the OCR
    // error kept (processor.py:216-231 + 307-309).
    assert(r.page_errors(0).backend == "direct")
    assert(r.page_errors(0).error == "mock backend failure")
    assert(r.failed_pages == 1 && r.attempted_pages == 1 && r.successful_pages == 0)
    // Page text fell back to direct (which is empty for an image page).
    assert(r.pages(0).method == Enums.Direct)
  }

  test("F14: LlmResponseBackend unwraps ```text fences inside the cascade") {
    // Fenced response: only the fenced slice survives into the page text.
    val fenced = new MockBackend(
      returnText = "Sure! Here is the page:\n```text\nFENCED BODY\n```\nanything after")
    val r = extract(Fixtures.imageOnlyHtml, Enums.Balanced,
      new Processor(Some(new LlmResponseBackend(fenced)), None))
    assert(r.text.contains("FENCED BODY"))
    assert(!r.text.contains("```"))
    assert(!r.text.contains("Sure!"))
    // Plain response: pass-through (Python strip), cascade untouched.
    val plain = new MockBackend(returnText = "  plain ocr text \n")
    val r2 = extract(Fixtures.imageOnlyHtml, Enums.Balanced,
      new Processor(Some(new LlmResponseBackend(plain)), None))
    assert(r2.text.contains("plain ocr text"))
    // Fenced-but-empty body counts as an empty response → the cascade's
    // empty-primary handling engages exactly as for a raw empty string.
    val empty = new MockBackend(returnText = "```text\n\n```")
    val r3 = extract(Fixtures.imageOnlyHtml, Enums.Balanced,
      new Processor(Some(new LlmResponseBackend(empty)), None))
    assert(r3.page_errors.exists(_.error == "empty response from primary backend"))
  }

  test("K7: RetryBackend retries transient failures with exponential backoff") {
    // Fails twice, succeeds on the third call.
    val flaky = new ExtractionBackend {
      val name = "flaky"; val method = Enums.LlmOcr
      var calls = 0
      def isAvailable = true
      def extractText(doc: ParsedDoc, pageNumber: Int): String = {
        calls += 1
        if (calls < 3) throw new RuntimeException(s"transient io $calls")
        "recovered text"
      }
    }
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val retry = new RetryBackend(flaky, maxAttempts = 3, baseBackoffMs = 100, sleep = sleeps += _)
    val r = extract(Fixtures.imageOnlyHtml, Enums.Balanced, new Processor(Some(retry), None))
    assert(r.text.contains("recovered text"))
    assert(flaky.calls == 3)
    assert(sleeps.toSeq == Seq(100L, 200L)) // exponential: 100, 200
    // Permanent failure: last exception reaches the cascade after maxAttempts.
    val dead = new MockBackend(shouldFail = true)
    val retryDead = new RetryBackend(dead, maxAttempts = 3, baseBackoffMs = 1, sleep = _ => ())
    val r2 = extract(Fixtures.imageOnlyHtml, Enums.Balanced, new Processor(Some(retryDead), None))
    assert(dead.calls == 3)
    assert(r2.page_errors.exists(_.error == "mock backend failure"))
  }

  test("fast quality makes zero backend calls (test_processor.py)") {
    val primary = new MockBackend()
    val proc = new Processor(Some(primary), None)
    proc.extract(pageOf(Fixtures.imageOnlyHtml), Enums.Fast)
    assert(primary.calls == 0)
  }

  test("no page markers when disabled (models.py:30)") {
    val proc = new Processor(config = ProcessorConfig(includePageMarkers = false))
    val r = proc.extract(pageOf(Fixtures.textSimpleHtml), Enums.Balanced)
    assert(!r.text.contains("--- Page"))
    assert(r.text.startsWith("Sample text content"))
  }

  test("multi-backend label sorted: 'hybrid (direct + a, b)' (processor.py:449-462)") {
    val results = Seq(
      PageResult(1, "x", 1.0, Enums.Direct, 1),
      PageResult(2, "y", 0.9, Enums.Tesseract, 1),
      PageResult(3, "z", 0.9, Enums.LlmOcr, 1))
    val cls = Classification(Enums.Hybrid, 3, Seq(1), Seq(2, 3), Nil, 2, 2, Nil, 0.5)
    val label = Processor.default.determineExtractionMethod(cls, results)
    assert(label == "hybrid (direct + llm_ocr, tesseract)")
  }

  test("word_count parity: count equals Python-split length of composed text") {
    for (fam <- Fixtures.families.map(_._2)) {
      for (q <- Seq(Enums.Fast, Enums.Balanced, Enums.Accurate)) {
        val r = extract(fam, q)
        assert(r.word_count == graft.text.PyText.wordCount(r.text))
      }
    }
  }

  test("a record depends only on (html, quality): url and lang are copied through") {
    // PayloadMemo reuses one record for every row with the same payload,
    // so no other field may read url or lang.
    val sample = (0L until 2000L).map(PageGen.row(42L, _))
    def has(tag: String) = sample.exists(p =>
      new String(p.html, java.nio.charset.StandardCharsets.ISO_8859_1).contains(tag))
    assert(sample.exists(p => graft.pdf.PdfParser.isPdf(p.html)))
    assert(sample.exists(_.url.contains("/corrupted/")))
    assert(has("charset=\"windows-1252\"") && has("charset=\"shift_jis\""))
    val payloads = Fixtures.families.map(_._2) ++ sample.map(_.html)
    for (html <- payloads; q <- Seq(Enums.Fast, Enums.Balanced, Enums.Accurate)) {
      val a = Processor.default.extract(KernelPage("https://a.example/x.html", html, "en"), q)
      val b = Processor.default.extract(KernelPage("http://b.example/y?z=1", html, ""), q)
      assert(a.url == "https://a.example/x.html" && a.lang == "en")
      assert(a.copy(url = b.url, lang = b.lang) == b)
    }
  }

  // --- routing: the record fields the Router decides ----------------------

  test("routing fields of every fixture family at every quality (invalid → balanced)") {
    // (family, quality in, pdf_type, extraction_method, quality out,
    //  attempted, successful, failed, per-page methods)
    val expected = Seq(
    ("text_simple", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct")),
    ("text_simple", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("text_simple", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct")),
    ("text_simple", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("image_only", "fast", "pure_image", "direct (no OCR backend available)", "fast", 0, 0, 0, Seq("direct")),
    ("image_only", "balanced", "pure_image", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("llm_ocr")),
    ("image_only", "accurate", "pure_image", "hybrid (direct + llm_ocr)", "accurate", 1, 1, 0, Seq("llm_ocr")),
    ("image_only", "draft", "pure_image", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("llm_ocr")),
    ("hybrid_2p", "fast", "hybrid", "direct", "fast", 0, 0, 0, Seq("direct", "direct")),
    ("hybrid_2p", "balanced", "hybrid", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("direct", "llm_ocr")),
    ("hybrid_2p", "accurate", "hybrid", "hybrid (direct + llm_ocr)", "accurate", 1, 1, 0, Seq("direct", "llm_ocr")),
    ("hybrid_2p", "draft", "hybrid", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("direct", "llm_ocr")),
    ("empty", "fast", "pure_image", "direct (no OCR backend available)", "fast", 0, 0, 0, Seq("direct")),
    ("empty", "balanced", "pure_image", "direct (no OCR backend available)", "balanced", 1, 0, 1, Seq("direct")),
    ("empty", "accurate", "pure_image", "direct (no OCR backend available)", "accurate", 1, 0, 1, Seq("direct")),
    ("empty", "draft", "pure_image", "direct (no OCR backend available)", "balanced", 1, 0, 1, Seq("direct")),
    ("multipage_3", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("multipage_3", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("multipage_3", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("multipage_3", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("german_invoice", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct")),
    ("german_invoice", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("german_invoice", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct")),
    ("german_invoice", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("boilerplate", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct")),
    ("boilerplate", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("boilerplate", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct")),
    ("boilerplate", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("corrupted", "fast", "unknown", "error", "fast", 0, 0, 0, Seq()),
    ("corrupted", "balanced", "unknown", "error", "balanced", 0, 0, 0, Seq()),
    ("corrupted", "accurate", "unknown", "error", "accurate", 0, 0, 0, Seq()),
    ("corrupted", "draft", "unknown", "error", "balanced", 0, 0, 0, Seq()),
    ("text_simple_pdf", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct")),
    ("text_simple_pdf", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("text_simple_pdf", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct")),
    ("text_simple_pdf", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("image_only_pdf", "fast", "pure_image", "direct (no OCR backend available)", "fast", 0, 0, 0, Seq("direct")),
    ("image_only_pdf", "balanced", "pure_image", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("llm_ocr")),
    ("image_only_pdf", "accurate", "pure_image", "hybrid (direct + llm_ocr)", "accurate", 1, 1, 0, Seq("llm_ocr")),
    ("image_only_pdf", "draft", "pure_image", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("llm_ocr")),
    ("hybrid_2p_pdf", "fast", "hybrid", "direct", "fast", 0, 0, 0, Seq("direct", "direct")),
    ("hybrid_2p_pdf", "balanced", "hybrid", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("direct", "llm_ocr")),
    ("hybrid_2p_pdf", "accurate", "hybrid", "hybrid (direct + llm_ocr)", "accurate", 1, 1, 0, Seq("direct", "llm_ocr")),
    ("hybrid_2p_pdf", "draft", "hybrid", "hybrid (direct + llm_ocr)", "balanced", 1, 1, 0, Seq("direct", "llm_ocr")),
    ("multipage_3_pdf", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("multipage_3_pdf", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("multipage_3_pdf", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("multipage_3_pdf", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct", "direct", "direct")),
    ("german_invoice_pdf", "fast", "pure_text", "direct", "fast", 0, 0, 0, Seq("direct")),
    ("german_invoice_pdf", "balanced", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct")),
    ("german_invoice_pdf", "accurate", "pure_text", "direct", "accurate", 0, 0, 0, Seq("direct")),
    ("german_invoice_pdf", "draft", "pure_text", "direct", "balanced", 0, 0, 0, Seq("direct"))
    )
    assert(expected.map(e => (e._1, e._2)) ==
      (for ((f, _) <- Fixtures.families; q <- Seq("fast", "balanced", "accurate", "draft")) yield (f, q)))
    for ((family, q, pdfType, method, quality, attempted, successful, failed, pageMethods) <- expected) {
      val r = Processor.default.extract(
        KernelPage(s"https://fixtures.example/$family", Fixtures.families.toMap.apply(family), "en"), q)
      assert((r.pdf_type, r.extraction_method, r.quality, r.attempted_pages, r.successful_pages,
        r.failed_pages, r.pages.map(_.method)) ==
        (pdfType, method, quality, attempted, successful, failed, pageMethods), s"$family $q")
    }
  }

  test("property: the kernel extracts with OCR exactly the Router's OCR pages of its Detector classification") {
    import graft.classify.Detector
    import graft.route.Router
    import org.scalacheck.{Gen, Prop, Test}
    // Each page is a <section> of t text and i image blocks; no sections
    // is the empty payload, which parses to zero pages.
    val page = for {
      t <- Gen.choose(0, 3)
      i <- Gen.choose(0, 2)
    } yield (t, i)
    val docs = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, page))
    val asked = scala.collection.mutable.ArrayBuffer[Int]()
    val recording = new ExtractionBackend {
      val name = "recording"; val method = Enums.LlmOcr
      def isAvailable = true
      def extractText(doc: ParsedDoc, pageNumber: Int): String = { asked += pageNumber; "ocr" }
    }
    val proc = new Processor(Some(recording), None)
    val prop = Prop.forAllNoShrink(docs) { pages =>
      val html = if (pages.isEmpty) "" else pages.map { case (t, i) =>
        "<section>" + "<p>t</p>" * t + "<img alt=\"a\">" * i + "</section>"
      }.mkString("<body>", "", "</body>")
      val payload = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val doc = DocParser.parse(payload).toOption.get
      val c = Detector.default.classify(doc)
      doc == ParsedDoc(pages.map { case (t, i) =>
        DocPage(Vector.fill(t)(Block.text("t")) ++ Vector.fill(i)(Block.image("a")))
      }.toVector) &&
      Seq(Enums.Fast, Enums.Balanced, Enums.Accurate, "draft").forall { q =>
        asked.clear()
        val r = proc.extract(KernelPage("https://p.example/", payload, "en"), q)
        val ocr = Router.default.route(c, q).ocr_pages
        asked == ocr && r.attempted_pages == ocr.length &&
          r.quality == Router.normalizeQuality(q)
      }
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(0x0C2L), prop)
    assert(res.passed, res.status)
  }

  test("page order is preserved in composition (W1)") {
    val r = extract(Fixtures.multipageHtml(5), Enums.Balanced)
    val idx = (1 to 5).map(i => r.text.indexOf(s"--- Page $i ---"))
    assert(idx.forall(_ >= 0) && idx == idx.sorted)
    assert(r.total_pages == 5 && r.pdf_type == Enums.PureText)
  }
}

package graft.extract

import graft.boiler.Boilerplate
import graft.classify.Detector
import graft.html.BlockSegmenter
import graft.model._
import graft.pdf.PdfParser
import graft.route.Router
import graft.text.PyText

/** Payload dispatch: `%PDF-` magic → PDF text-layer parse, else HTML
  * (the reference's `.pdf` suffix gate, service/main.py:434-435, becomes
  * a payload-magic gate per SURVEY.md §2.1 S2). HTML bytes are decoded
  * with WHATWG-style charset sniffing (BOM > in-body `<meta charset=…>`
  * > UTF-8 fallback, graft.text.Charsets) — a meaningful fraction of
  * crawl pages is windows-125x / Shift_JIS / GBK, which a hard-coded
  * UTF-8 decode turns into mojibake. Transport (HTTP header) charset is
  * honored upstream by the WARC reader, which normalizes disagreeing
  * payloads to BOM-tagged UTF-8 (sources.Warc).
  */
object DocParser {
  def parse(payload: Array[Byte]): Either[String, ParsedDoc] =
    if (payload == null || payload.isEmpty) Right(ParsedDoc(Vector.empty))
    else if (PdfParser.isPdf(payload)) PdfParser.parse(payload)
    else
      // The DOM path is the one HTML segmenter: with the tokenizer no
      // longer allocating per-tag attribute maps, the tree build +
      // recursive walk measured ~35% faster than a frame-stack stream
      // replay on the mixed corpus (5.4 vs 8.4 µs/doc). The replay is
      // kept in the test tree as StreamSegmenterSpec's differential
      // oracle.
      try Right(BlockSegmenter.parseHtml(graft.text.Charsets.decode(payload)))
      catch { case e: Exception => Left(s"HTML parse error: ${e.getMessage}") }
}

/** Extraction backend abstraction — the rebuild's `BaseOCRBackend`
  * (reference: src/text_extraction/backends/base.py:68-118). Backends are
  * deterministic Scala kernels instead of remote OCR calls; the routing,
  * availability and fallback semantics around them are preserved
  * verbatim.
  */
trait ExtractionBackend extends Serializable {
  def name: String
  /** ExtractionMethod value recorded on page results (base.py:15-20). */
  def method: String
  def isAvailable: Boolean
  /** Extract text for one 1-indexed page. May throw (exceptions feed the
    * fallback cascade exactly like the reference, processor.py:343-363).
    */
  def extractText(doc: ParsedDoc, pageNumber: Int): String
}

/** Primary "OCR" stand-in: boilerplate-stripped main content + image alt
  * text (SURVEY.md §2.8 K2 — same pipeline role as the LLM OCR backends:
  * an expensive, higher-quality extraction for low-text-signal pages).
  */
final class BoilerplateBackend(
    boiler: Boilerplate = Boilerplate.default) extends ExtractionBackend {
  val name = "boilerplate"
  val method = Enums.LlmOcr
  def isAvailable: Boolean = true
  def extractText(doc: ParsedDoc, pageNumber: Int): String =
    if (pageNumber < 1 || pageNumber > doc.totalPages) ""
    else boiler.extract(doc.pages(pageNumber - 1))
}

/** F14 decorator: unwraps ```` ```text ```` fenced blocks from a
  * backend's raw response (reference
  * examples/two_pass_ocr_processor_original.py:352-371 — LLM OCR models
  * often wrap their transcription in a markdown code fence; the fence is
  * transport framing, not content). Opt-in wrapper so deterministic
  * backends whose output never carries fences keep byte-identical
  * results.
  */
final class LlmResponseBackend(inner: ExtractionBackend) extends ExtractionBackend {
  def name: String = inner.name
  def method: String = inner.method
  def isAvailable: Boolean = inner.isAvailable
  def extractText(doc: ParsedDoc, pageNumber: Int): String =
    PyText.unwrapTextFence(inner.extractText(doc, pageNumber))
}

/** K7: kernel-local retry for transient backend IO (reference
  * backends/gemini.py:151-179 — exponential backoff around the remote
  * OCR call). `spark.task.maxFailures` alone rereads the WHOLE partition
  * on one bad call; this row-level wrapper retries just the failing
  * extractText. After `maxAttempts` the last exception propagates into
  * the normal fallback cascade. The sleeper is injectable so tests are
  * deterministic and sleep-free.
  */
final class RetryBackend(
    inner: ExtractionBackend,
    maxAttempts: Int = 3,
    baseBackoffMs: Long = 100L,
    sleep: Long => Unit = Thread.sleep) extends ExtractionBackend {
  require(maxAttempts >= 1)
  def name: String = inner.name
  def method: String = inner.method
  def isAvailable: Boolean = inner.isAvailable
  def extractText(doc: ParsedDoc, pageNumber: Int): String = {
    var attempt = 1
    var result: String = null
    while (result == null) {
      try {
        val t = inner.extractText(doc, pageNumber)
        result = if (t == null) "" else t
      } catch {
        case e: Exception =>
          if (attempt >= maxAttempts) throw e
          sleep(baseBackoffMs << (attempt - 1)) // 100, 200, 400, …
          attempt += 1
      }
    }
    result
  }
}

/** Fallback "OCR" stand-in: raw image alt text only (the cheap local path
  * — plays the reference's Tesseract role, backends/tesseract.py:67-131).
  */
final class AltTextBackend extends ExtractionBackend {
  val name = "alttext"
  val method = Enums.Tesseract
  def isAvailable: Boolean = true
  def extractText(doc: ParsedDoc, pageNumber: Int): String =
    if (pageNumber < 1 || pageNumber > doc.totalPages) ""
    else doc.pages(pageNumber - 1).blocks
      .filter(b => b.tpe == Block.ImageType && !PyText.isBlank(b.alt))
      .map(b => PyText.normalizeSpaces(b.alt))
      .mkString("\n")
}

/** Direct text-layer read — the analog of PyMuPDF `page.get_text()`
  * (processor.py:308-313): every text block's text, one block per line,
  * each followed by a newline; empty page → "".
  */
object DirectExtract {
  def pageText(doc: ParsedDoc, pageNumber: Int): String = {
    if (pageNumber < 1 || pageNumber > doc.totalPages) return ""
    val sb = new java.lang.StringBuilder()
    doc.pages(pageNumber - 1).blocks.foreach { b =>
      if (b.tpe == Block.TextType && b.text.nonEmpty) {
        sb.append(b.text).append('\n')
      }
    }
    sb.toString
  }
}

/** The two-pass extraction processor — classification → routing
  * (route.Router normalizes the quality and picks the OCR pages) →
  * extract with fallback cascade → byte-exact composition.
  * Direct port of the reference's `TwoPassProcessor` semantics
  * (src/text_extraction/processor.py:39-472) over parsed payloads.
  *
  * Invariant: `extract`'s record is a pure function of `(html, quality)`
  * in every field except `url` and `lang`, which are copied from the
  * input row. PayloadMemo reuses one record for every row carrying the
  * same payload, so the kernel must never read `url` or `lang` (for
  * example to resolve links against the url); ProcessorSpec pins this.
  */
final class Processor(
    primaryBackend: Option[ExtractionBackend] = Some(new BoilerplateBackend()),
    fallbackBackend: Option[ExtractionBackend] = Some(new AltTextBackend()),
    config: ProcessorConfig = ProcessorConfig(),
    detector: Detector = Detector.default) extends Serializable {

  /** Fallback cascade (processor.py:315-386). Returns
    * (text, method, backendName, error).
    */
  def extractWithOcr(doc: ParsedDoc, pageNumber: Int): (String, String, String, Option[String]) = {
    var primaryError = "backend unavailable"
    primaryBackend match {
      case Some(b) if b.isAvailable =>
        try {
          val text = b.extractText(doc, pageNumber)
          if (!PyText.isBlank(text)) return (text, b.method, b.name, None)
          primaryError = "empty response from primary backend"
        } catch { case e: Exception => primaryError = errStr(e) }
      case _ =>
    }
    if (config.fallbackOnError) fallbackBackend match {
      case Some(b) if b.isAvailable =>
        try {
          val text = b.extractText(doc, pageNumber)
          if (!PyText.isBlank(text)) return (text, b.method, b.name, None)
        } catch { case e: Exception => return ("", Enums.Direct, "none", Some(errStr(e))) }
      case _ =>
    }
    ("", Enums.Direct, "none", Some(primaryError))
  }

  private def errStr(e: Exception): String =
    if (e.getMessage == null) e.getClass.getSimpleName else e.getMessage

  /** Per-page extract (processor.py:278-313). */
  def extractPageText(
      doc: ParsedDoc,
      pageNumber: Int,
      needsOcr: Boolean): (String, String, String, Option[String]) = {
    if (needsOcr && primaryBackend.isDefined) {
      val (text, method, backendName, error) = extractWithOcr(doc, pageNumber)
      if (!PyText.isBlank(text)) return (text, method, backendName, None)
      // OCR failed or empty — fall through to direct with the error kept.
      val direct = DirectExtract.pageText(doc, pageNumber)
      return (direct, Enums.Direct, "direct", error)
    }
    (DirectExtract.pageText(doc, pageNumber), Enums.Direct, "direct", None)
  }

  /** Per-page loop (processor.py:177-246): page results in order plus
    * error records for OCR-needing pages that errored. A page needs OCR
    * when the Router sends it to OCR (route.Router.ocrPages).
    */
  def processPages(
      doc: ParsedDoc,
      classification: Classification,
      quality: String): (Vector[PageResult], Vector[PageError]) =
    processPages(doc, Router.default.ocrPages(classification, quality))

  private def processPages(
      doc: ParsedDoc,
      ocrPages: Vector[Int]): (Vector[PageResult], Vector[PageError]) = {
    val results = Vector.newBuilder[PageResult]
    val errors = Vector.newBuilder[PageError]
    var pageNumber = 1
    while (pageNumber <= doc.totalPages) {
      val needsOcr = ocrPages.contains(pageNumber)
      val (text, method, backendName, error) = extractPageText(doc, pageNumber, needsOcr)
      if (error.isDefined && needsOcr)
        errors += PageError(pageNumber, backendName, error.get)
      results += PageResult(
        page_number = pageNumber,
        text = text,
        confidence = if (method == Enums.Direct) 1.0 else 0.9, // processor.py:239
        method = method,
        word_count = if (text.nonEmpty) PyText.wordCount(text) else 0)
      pageNumber += 1
    }
    (results.result(), errors.result())
  }

  /** Overall method label (processor.py:434-472). */
  def determineExtractionMethod(
      classification: Classification,
      pageResults: Seq[PageResult]): String = {
    val backendsUsed = pageResults.collect {
      case r if r.method != Enums.Direct => r.method
    }.toSet
    if (backendsUsed.nonEmpty)
      s"hybrid (direct + ${backendsUsed.toVector.sorted.mkString(", ")})"
    else if (classification.pdf_type == Enums.PureImage && primaryBackend.isDefined)
      "direct (no OCR backend available)"
    else "direct"
  }

  /** Full extraction of one input-table row (projection convenience). */
  def extract(p: Page, quality: String): ExtractionRecord =
    extract(KernelPage(p.url, p.html, p.lang), quality)

  /** Full extraction of one payload row (processor.py:61-175). Takes the
    * narrow kernel projection — url/html/lang are the only input columns
    * extraction reads (model.KernelPage).
    */
  def extract(page: KernelPage, qualityRaw: String): ExtractionRecord = {
    val quality = Router.normalizeQuality(qualityRaw)
    DocParser.parse(page.html) match {
      case Left(err) =>
        ExtractionRecord(
          url = page.url, success = false, pdf_type = Enums.Unknown,
          total_pages = 0, text = "", word_count = 0, confidence = 0.0,
          extraction_method = "error", quality = quality, lang = page.lang,
          text_pages = Nil, image_pages = Nil, hybrid_pages = Nil,
          pages = Nil, page_errors = Nil,
          attempted_pages = 0, successful_pages = 0, failed_pages = 0,
          error = Some(err))
      case Right(doc) =>
        val classification = detector.classify(doc)
        val ocrPages = Router.default.ocrPages(classification, quality)
        val (pageResults, pageErrors) = processPages(doc, ocrPages)
        // Backend counters (processor.py:116-124).
        val attempted = ocrPages.length
        val failed = pageErrors.length
        // Text composition (processor.py:403-432) in one pass, byte-
        // identical to the reference's "\n\n".join(parts): blank pages
        // are skipped, and each kept page is its marker
        // (`--- Page {n} ---` or `--- Page {n} (OCR: {method}) ---`) +
        // "\n" + its text, or its bare text with markers off.
        // The word count accumulates as marker words + the already-
        // computed per-page counts — exact, because the "\n" / "\n\n"
        // joins are whitespace and Python split can never merge words
        // across them, and a blank-skipped page contributes 0.
        val sb = new java.lang.StringBuilder()
        var wc = 0
        var firstPart = true
        pageResults.foreach { r =>
          if (!PyText.isBlank(r.text)) {
            if (!firstPart) sb.append("\n\n")
            firstPart = false
            if (config.includePageMarkers) {
              if (r.method == Enums.Direct) {
                sb.append("--- Page ").append(r.page_number).append(" ---")
                wc += 4 // "---", "Page", "<n>", "---"
              } else {
                // OCR pages are the rare branch: count the short marker
                // exactly (a method label carrying whitespace would make
                // a hardcoded 6 wrong).
                val marker = "--- Page " + r.page_number + " (OCR: " + r.method + ") ---"
                sb.append(marker)
                wc += PyText.wordCount(marker)
              }
              sb.append('\n')
            }
            sb.append(r.text)
            wc += r.word_count
          }
        }
        val fullText = sb.toString
        ExtractionRecord(
          url = page.url,
          success = true,
          pdf_type = classification.pdf_type,
          total_pages = classification.total_pages,
          text = fullText,
          word_count = wc,
          confidence = classification.confidence,
          extraction_method = determineExtractionMethod(classification, pageResults),
          quality = quality,
          lang = page.lang,
          text_pages = classification.text_pages,
          image_pages = classification.image_pages,
          hybrid_pages = classification.hybrid_pages,
          pages = pageResults,
          page_errors = pageErrors,
          attempted_pages = attempted,
          successful_pages = attempted - failed,
          failed_pages = failed,
          error = None)
    }
  }
}

object Processor {
  val default = new Processor()
}

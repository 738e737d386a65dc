package graft.model

import java.sql.Timestamp

/** Data model for the extraction pipeline (SURVEY.md §1.2/§1.3).
  *
  * Enums from the reference are carried as their `.value` strings so that
  * outputs, filters and golden files stay trivially comparable
  * (reference: src/text_extraction/detector.py:44-49,
  * backends/base.py:15-20, router.py:36-40).
  */
object Enums {
  // PDFType (detector.py:44-49) — "doc type" here since payloads are also HTML.
  val PureText = "pure_text"
  val PureImage = "pure_image"
  val Hybrid = "hybrid"
  val Unknown = "unknown"

  // ExtractionMethod (backends/base.py:15-20).
  val Direct = "direct"
  val LlmOcr = "llm_ocr" // role filled by the deterministic boilerplate kernel
  val Tesseract = "tesseract"

  // RoutingStrategy (router.py:36-40).
  val DirectOnly = "direct_only"
  val OcrAll = "ocr_all"
  val OcrSelective = "ocr_selective"

  // Quality (models.py:15-20).
  val Fast = "fast"
  val Balanced = "balanced"
  val Accurate = "accurate"
  val Qualities: Set[String] = Set(Fast, Balanced, Accurate)
}

/** One Common-Crawl-style web page — the input-table row
  * (BASELINE.json input_hint).
  */
case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** The kernel's input projection: the ONLY columns extraction reads.
  * Scanning `Page`'s full width decodes `text` (the reference-parity
  * golden column, often as large as the payload) and `warc_ts` per row
  * just to drop them — at 10^12 rows that is a double-digit share of
  * scan bytes. Jobs project to this before the opaque kernel so the
  * parquet reader never materializes the unused columns.
  */
case class KernelPage(
    url: String,
    html: Array[Byte],
    lang: String)

/** Per-unit (page) analysis (detector.py:52-61). */
case class PageAnalysis(
    page_number: Int, // 1-indexed
    text_blocks: Int,
    image_blocks: Int,
    total_blocks: Int,
    is_text_dominant: Boolean,
    is_image_dominant: Boolean,
    has_mixed_content: Boolean)

/** Document classification result (detector.py:64-79). */
case class Classification(
    pdf_type: String,
    total_pages: Int,
    text_pages: Seq[Int],
    image_pages: Seq[Int],
    hybrid_pages: Seq[Int],
    total_text_blocks: Int,
    total_image_blocks: Int,
    page_analyses: Seq[PageAnalysis],
    confidence: Double)

/** Routing decision (router.py:59-72). */
case class RoutingDecision(
    pdf_type: String,
    strategy: String,
    direct_pages: Seq[Int],
    ocr_pages: Seq[Int],
    estimated_cost: Double,
    estimated_time_seconds: Double,
    quality: String,
    total_pages: Int,
    reasoning: String)

/** Cost/time estimate (router.py:43-56). */
case class CostEstimate(
    ocr_cost_eur: Double,
    direct_cost_eur: Double,
    total_cost_eur: Double,
    ocr_time_seconds: Double,
    direct_time_seconds: Double,
    total_time_seconds: Double)

/** Per-page extraction result (backends/base.py:39-47). */
case class PageResult(
    page_number: Int,
    text: String,
    confidence: Double, // 1.0 direct / 0.9 OCR-path (processor.py:239)
    method: String,
    word_count: Int)

/** Per-page error record (models.py:47-53). */
case class PageError(page_number: Int, backend: String, error: String)

/** Processor configuration (models.py:23-31). */
case class ProcessorConfig(
    fallbackOnError: Boolean = true,
    includePageMarkers: Boolean = true)

/** Whole-document extraction output — the results-table row
  * (models.py:56-78 minus wall-clock fields, which go to the metrics
  * table instead so golden outputs stay deterministic). The kernel stage
  * emits only this type; `ExtractJob --slim` writes a projection of its
  * flat per-document columns (ExtractJob.slim).
  */
case class ExtractionRecord(
    url: String,
    success: Boolean,
    pdf_type: String,
    total_pages: Int,
    text: String,
    word_count: Int,
    confidence: Double,
    extraction_method: String,
    quality: String,
    lang: String,
    text_pages: Seq[Int],
    image_pages: Seq[Int],
    hybrid_pages: Seq[Int],
    pages: Seq[PageResult],
    page_errors: Seq[PageError],
    attempted_pages: Int,
    successful_pages: Int,
    failed_pages: Int,
    error: Option[String])

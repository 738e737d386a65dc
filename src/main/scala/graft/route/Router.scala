package graft.route

import graft.model._

/** Quality × doc-type routing — matrix, page selection, cost model and
  * reasoning string ported verbatim from the reference
  * (src/text_extraction/router.py:75-329).
  *
  * |  type      | fast        | balanced      | accurate       |
  * |------------|-------------|---------------|----------------|
  * | pure_text  | DIRECT_ONLY | DIRECT_ONLY   | DIRECT_ONLY    |
  * | pure_image | DIRECT_ONLY | OCR_ALL       | OCR_ALL        |
  * | hybrid     | DIRECT_ONLY | OCR_SELECTIVE | OCR_SELECTIVE  |
  * | unknown    | DIRECT_ONLY | DIRECT_ONLY   | DIRECT_ONLY    |
  */
final class Router(
    hasOcrBackend: Boolean = true,
    costPerOcrPage: Double = Router.DefaultCostPerOcrPage,
    timePerOcrPage: Double = Router.DefaultTimePerOcrPage,
    timePerDirectPage: Double = Router.DefaultTimePerDirectPage) extends Serializable {

  def route(classification: Classification, qualityRaw: String): RoutingDecision = {
    val quality = Router.normalizeQuality(qualityRaw)
    val (strategy, directPages, ocrPages) = selectPages(classification, quality)
    val est = estimateCost(ocrPages.length, directPages.length)
    val reasoning = generateReasoning(
      classification.pdf_type, quality, strategy, directPages, ocrPages)

    RoutingDecision(
      pdf_type = classification.pdf_type,
      strategy = strategy,
      direct_pages = directPages,
      ocr_pages = ocrPages,
      estimated_cost = est.total_cost_eur,
      estimated_time_seconds = est.total_time_seconds,
      quality = quality,
      total_pages = classification.total_pages,
      reasoning = reasoning)
  }

  /** The pages `route` sends to OCR, sorted: the kernel's per-page OCR
    * decision (processor.py:248-276) is membership in this set.
    */
  def ocrPages(classification: Classification, quality: String): Vector[Int] =
    selectPages(classification, Router.normalizeQuality(quality))._3

  /** Cost model (router.py:173-197): direct extraction is free. */
  def estimateCost(ocrPageCount: Int, directPageCount: Int = 0): CostEstimate = {
    val ocrCost = ocrPageCount * costPerOcrPage
    val ocrTime = ocrPageCount * timePerOcrPage
    val directTime = directPageCount * timePerDirectPage
    CostEstimate(
      ocr_cost_eur = ocrCost,
      direct_cost_eur = 0.0,
      total_cost_eur = ocrCost + 0.0,
      ocr_time_seconds = ocrTime,
      direct_time_seconds = directTime,
      total_time_seconds = ocrTime + directTime)
  }

  /** Strategy matrix (router.py:212-245). */
  def determineStrategy(docType: String, quality: String): String =
    if (quality == Enums.Fast) Enums.DirectOnly
    else if (docType == Enums.PureText) Enums.DirectOnly
    else if (docType == Enums.PureImage) Enums.OcrAll
    else if (docType == Enums.Hybrid) Enums.OcrSelective
    else Enums.DirectOnly

  /** Strategy and page selection (router.py:142-143, 247-283) for a
    * normalized quality: (strategy, direct pages, OCR pages). No OCR
    * backend forces direct only; OCR_SELECTIVE sends image pages to OCR,
    * text pages direct; hybrid pages follow quality (accurate → OCR,
    * balanced → direct); outputs sorted.
    */
  private def selectPages(classification: Classification,
      quality: String): (String, Vector[Int], Vector[Int]) = {
    val strategy =
      if (hasOcrBackend) determineStrategy(classification.pdf_type, quality) else Enums.DirectOnly
    val allPages = (1 to classification.total_pages).toVector
    strategy match {
      case Enums.DirectOnly => (strategy, allPages, Vector.empty)
      case Enums.OcrAll => (strategy, Vector.empty, allPages)
      case _ =>
        var direct = classification.text_pages.toVector
        var ocr = classification.image_pages.toVector
        if (quality == Enums.Accurate) ocr = ocr ++ classification.hybrid_pages
        else direct = direct ++ classification.hybrid_pages
        (strategy, direct.sorted, ocr.sorted)
    }
  }

  /** Human-readable reasoning (router.py:285-329); page lists print in
    * Python list syntax `[1, 2]`, lists longer than 5 print as a count.
    */
  def generateReasoning(
      docType: String,
      quality: String,
      strategy: String,
      directPages: Seq[Int],
      ocrPages: Seq[Int]): String = {
    val parts = Vector.newBuilder[String]
    parts += s"PDF type: $docType"
    parts += s"Quality: $quality"
    parts += s"Strategy: $strategy"
    def pyList(xs: Seq[Int]): String = xs.mkString("[", ", ", "]")
    if (directPages.nonEmpty)
      parts += (if (directPages.length <= 5) s"Direct extraction: pages ${pyList(directPages)}"
                else s"Direct extraction: ${directPages.length} pages")
    if (ocrPages.nonEmpty)
      parts += (if (ocrPages.length <= 5) s"OCR extraction: pages ${pyList(ocrPages)}"
                else s"OCR extraction: ${ocrPages.length} pages")
    if (ocrPages.isEmpty) parts += "No OCR required"
    else if (!hasOcrBackend) parts += "(OCR backend unavailable, using direct only)"
    parts.result().mkString(" | ")
  }
}

object Router {
  // Default cost assumptions (router.py:91-93).
  val DefaultCostPerOcrPage = 0.005
  val DefaultTimePerOcrPage = 3.0
  val DefaultTimePerDirectPage = 0.1
  val default = new Router()

  /** API-boundary quality gate (reference service/main.py:390-394 regex;
    * router.py:134-136 normalization): invalid → balanced.
    */
  def normalizeQuality(q: String): String =
    if (Enums.Qualities.contains(q)) q else Enums.Balanced
}

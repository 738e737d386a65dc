package graft.boiler

import graft.model.{Block, DocPage}
import graft.text.PyText

/** Deterministic main-content extraction over the block model — the
  * rebuild's stand-in for the reference's remote LLM-OCR backends
  * (SURVEY.md §2.8 K2): "expensive, better extraction for low-text-signal
  * units". Text-density / link-density scoring in the spirit of
  * Boilerpipe's NumWordsRulesClassifier and Readability's link-density
  * pruning, made fully deterministic and golden-file-testable.
  *
  * Classification per block:
  *  1. Blocks inside nav/header/footer/aside context are boilerplate.
  *  2. Blocks with link density > maxLinkDensity are boilerplate.
  *  3. Surviving blocks with ≥ minContentWords words are content.
  *  4. Smoothing: a short surviving block (including headings) is kept if
  *     an adjacent block (ignoring image blocks) was kept by rule 3 —
  *     one forward + one backward pass, so short lead-ins/captions around
  *     real content survive while isolated snippets drop.
  */
final class Boilerplate(
    maxLinkDensity: Double = 0.33,
    minContentWords: Int = 10) extends Serializable {

  def linkDensity(b: Block): Double =
    if (b.text.isEmpty) 0.0 else b.anchorChars.toDouble / b.text.length

  /** Rule 1+2 candidate gate. */
  def isCandidate(b: Block): Boolean =
    b.tpe == Block.TextType && b.ctx.isEmpty && linkDensity(b) <= maxLinkDensity

  /** Content mask over a page's blocks (image blocks always false). */
  def contentMask(blocks: Vector[Block]): Vector[Boolean] = {
    val n = blocks.length
    val cand = blocks.map(isCandidate)
    val words = blocks.map(b => PyText.wordCount(b.text))
    val core = Array.tabulate(n)(i => cand(i) && words(i) >= minContentWords)
    val kept = core.clone()
    // Forward then backward smoothing over text blocks only.
    var prevKept = false
    var i = 0
    while (i < n) {
      if (blocks(i).tpe == Block.TextType) {
        if (!kept(i) && cand(i) && words(i) > 0 && prevKept) kept(i) = true
        prevKept = core(i)
      }
      i += 1
    }
    prevKept = false
    i = n - 1
    while (i >= 0) {
      if (blocks(i).tpe == Block.TextType) {
        if (!kept(i) && cand(i) && words(i) > 0 && prevKept) kept(i) = true
        prevKept = core(i)
      }
      i -= 1
    }
    kept.toVector
  }

  /** Main-content text of a page: kept text blocks in order, plus image
    * alt text (the deterministic "OCR" of the page's images), joined with
    * newlines.
    */
  def extract(page: DocPage): String = {
    val mask = contentMask(page.blocks)
    val parts = Vector.newBuilder[String]
    var i = 0
    while (i < page.blocks.length) {
      val b = page.blocks(i)
      if (b.tpe == Block.TextType) { if (mask(i)) parts += b.text }
      else if (b.tpe == Block.ImageType && b.ctx.isEmpty && !PyText.isBlank(b.alt))
        parts += PyText.normalizeSpaces(b.alt)
      i += 1
    }
    parts.result().mkString("\n")
  }
}

object Boilerplate {
  val default = new Boilerplate()
}

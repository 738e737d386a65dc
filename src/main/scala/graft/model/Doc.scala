package graft.model

/** Parsed in-memory form of one payload — the analog of PyMuPDF's
  * block-dict view (reference: src/text_extraction/detector.py:147-156).
  * Produced by the HTML DOM block segmenter or the PDF content-stream
  * parser; consumed by classifier + extraction kernels. Never persisted.
  */
final case class Block(
    /** 0 = text block, 1 = image block (detector.py:153-156). */
    tpe: Int,
    /** Visible text of the block, whitespace-normalized ("" for images). */
    text: String,
    /** Characters inside anchors — for link-density boilerplate scoring. */
    anchorChars: Int,
    /** Innermost boilerplate-ish ancestor ("nav"/"header"/"footer"/
      * "aside"), or "" when in main content flow.
      */
    ctx: String,
    /** Alt/description text for image blocks (deterministic OCR target). */
    alt: String)

object Block {
  val TextType = 0
  val ImageType = 1
  def text(t: String, anchorChars: Int = 0, ctx: String = ""): Block =
    Block(TextType, t, anchorChars, ctx, "")
  def image(alt: String, ctx: String = ""): Block =
    Block(ImageType, "", 0, ctx, alt)
}

/** One unit/page of a parsed document. */
final case class DocPage(blocks: Vector[Block]) {
  def textBlocks: Int = blocks.count(_.tpe == Block.TextType)
  def imageBlocks: Int = blocks.count(_.tpe == Block.ImageType)
}

/** A fully parsed payload: ordered pages of typed blocks. */
final case class ParsedDoc(pages: Vector[DocPage]) {
  def totalPages: Int = pages.length
}

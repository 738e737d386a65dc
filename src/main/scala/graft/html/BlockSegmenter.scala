package graft.html

import graft.model.{Block, DocPage, ParsedDoc}
import graft.text.PyText
import scala.collection.mutable.ArrayBuffer

/** DOM → typed block model, the HTML analog of PyMuPDF's
  * `page.get_text("dict")["blocks"]` view that the reference classifies
  * on (reference: src/text_extraction/detector.py:147-156).
  *
  * Contract (deterministic, documented subset):
  *  - Pages: the `<body>`'s direct `<section>` children, in document
  *    order, are the document's pages; a body without sections is one
  *    single page. (Mirrors the reference's PDF page axis for multi-page
  *    fixtures, tests/conftest.py:141-214.)
  *  - A text block (type 0) is a maximal run of inline content inside one
  *    block-level element, whitespace-collapsed; empty runs emit nothing.
  *  - An `<img>` emits an image block (type 1) carrying its alt text.
  *  - `script`/`style`/`head`/`noscript`/`template`/`svg`/`iframe`
  *    subtrees are invisible.
  *  - Each block records its enclosing boilerplate context
  *    (nav/header/footer/aside) and its anchored-character count for
  *    link-density scoring downstream.
  */
object BlockSegmenter {

  private val skipTags = Set("script", "style", "head", "noscript",
    "template", "svg", "iframe", "object", "select", "datalist")

  private val boilerCtxTags = Set("nav", "header", "footer", "aside")

  val blockTags = Set("p", "div", "section", "article", "main", "aside",
    "nav", "header", "footer", "h1", "h2", "h3", "h4", "h5", "h6", "ul",
    "ol", "li", "dl", "dt", "dd", "table", "thead", "tbody", "tfoot",
    "tr", "td", "th", "blockquote", "pre", "figure", "figcaption",
    "form", "fieldset", "address", "details", "summary", "caption",
    "hr", "body", "html")

  private final class BlockBuf {
    val sb = new java.lang.StringBuilder()
    var anchorChars = 0
    var ctx = ""
  }

  /** Segment a page-root element into blocks. */
  def segment(pageRoot: Element): Vector[Block] = {
    val out = new ArrayBuffer[Block](16)
    val buf = new BlockBuf

    def flush(): Unit = {
      // Single-pass normalize straight off the builder (no toString,
      // no token vector) — this is the segmentation hot path.
      val norm = PyText.normalizeSpaces(buf.sb)
      if (norm.nonEmpty)
        out += Block(Block.TextType, norm, math.min(buf.anchorChars, norm.length), buf.ctx, "")
      buf.sb.setLength(0)
      buf.anchorChars = 0
    }

    // Iterative pre/post-order walk with an explicit heap stack: DOM depth
    // is attacker-controlled in crawl HTML (10k+ nested opens in a few
    // hundred KB), and a recursive walk would StackOverflowError past the
    // JVM thread stack — an Error the kernel's Exception recovery cannot
    // catch. Frame exit actions replay exactly what the recursive form
    // did after its recursive call (block: flush + buf restore; inline:
    // trailing space), so the emitted blocks are byte-identical.
    val stack = new ArrayBuffer[WalkFrame](16)
    stack += new WalkFrame(pageRoot, initialCtx(pageRoot), 0, WalkFrame.ExitNone, null)
    while (stack.nonEmpty) {
      val f = stack(stack.length - 1)
      if (f.idx < f.el.children.length) {
        val node = f.el.children(f.idx)
        f.idx += 1
        node match {
          case TextNode(t) =>
            buf.sb.append(t)
            if (f.anchorDepth > 0) buf.anchorChars += PyText.normalizedLength(t)
          case child: Element =>
            val tag = child.tag
            if (skipTags.contains(tag)) ()
            else if (tag == "img") {
              flush()
              out += Block(Block.ImageType, "", 0, f.ctx, child.attr("alt"))
            } else if (tag == "br" || tag == "hr") {
              buf.sb.append(' ')
            } else if (blockTags.contains(tag)) {
              flush()
              val childCtx = if (boilerCtxTags.contains(tag)) tag else f.ctx
              stack += new WalkFrame(child, childCtx, f.anchorDepth,
                WalkFrame.ExitBlock, buf.ctx)
              buf.ctx = childCtx
            } else {
              // Inline element (a, b, i, em, strong, span, ...).
              val depth = if (tag == "a") f.anchorDepth + 1 else f.anchorDepth
              buf.sb.append(' ')
              stack += new WalkFrame(child, f.ctx, depth, WalkFrame.ExitInline, null)
            }
        }
      } else {
        stack.remove(stack.length - 1)
        f.exitKind match {
          case WalkFrame.ExitBlock =>
            flush()
            buf.ctx = f.prevCtx
          case WalkFrame.ExitInline =>
            buf.sb.append(' ')
          case _ => ()
        }
      }
    }
    flush()
    out.toVector
  }

  private object WalkFrame {
    final val ExitNone = 0
    final val ExitBlock = 1
    final val ExitInline = 2
  }
  private final class WalkFrame(
      val el: Element, val ctx: String, val anchorDepth: Int,
      val exitKind: Int, val prevCtx: String) {
    var idx = 0
  }

  private def initialCtx(el: Element): String =
    if (boilerCtxTags.contains(el.tag)) el.tag else ""

  /** Full HTML payload → pages of blocks. */
  def parseHtml(html: String): ParsedDoc = {
    val root = Dom.parse(html)
    val body = Dom.find(root, "body").getOrElse(root)
    val sections = body.children.collect { case e: Element if e.tag == "section" => e }
    val pageRoots = if (sections.nonEmpty) sections.toVector else Vector(body)
    ParsedDoc(pageRoots.map(r => DocPage(segment(r))))
  }
}

package graft.html

import graft.model.{Block, DocPage, ParsedDoc}
import graft.text.PyText
import scala.collection.mutable.ArrayBuffer

/** Token-stream → blocks, skipping the DOM materialization entirely.
  * Produces output EXACTLY equal to `BlockSegmenter.parseHtml`: the
  * recursive walk over the Dom tree visits nodes in token order, so an
  * explicit frame stack that replays `Dom.parse`'s push/auto-close/pop
  * rules can apply the same buffer actions without allocating
  * Element/TextNode objects. HISTORY: this was the production kernel
  * path while the tokenizer allocated per-tag attribute maps (the DOM
  * carried that cost twice); once attribute retention became img-only
  * the DOM path measured ~35% FASTER (frame/emit bookkeeping here
  * outweighs the slimmed tree build), so production flipped back to
  * `BlockSegmenter` and this implementation is retained as the
  * independently-derived differential counterpart. Differential fuzz +
  * the golden suite pin the equivalence (`StreamSegmenterSpec`).
  *
  * Page-axis subtlety: pages are the direct `<section>` children of the
  * page root, where the page root is the FIRST `<body>` element if one
  * exists anywhere, else the document root — but whether a body exists
  * is only known at end-of-stream, so blocks carry BOTH candidate
  * section assignments (body-rooted and root-rooted) and the axis is
  * chosen at assembly.
  */
object StreamSegmenter {

  private val skipTags = Set("script", "style", "head", "noscript",
    "template", "svg", "iframe", "object", "select", "datalist")
  private val boilerCtxTags = Set("nav", "header", "footer", "aside")

  // Frame kinds.
  private final val KBlock = 0
  private final val KInline = 1
  private final val KSkip = 2

  private final class Frame(
      val tag: String,
      val kind: Int,
      // Block frames: saved buffer ctx to restore on close.
      val savedCtx: String,
      // Inline frames: +1 when this frame is an <a>.
      val anchorDelta: Int,
      // The (single) page-root body frame: restores outer state on close.
      val isBodyRoot: Boolean,
      val savedAnchorDepth: Int,
      val savedSkipDepth: Int,
      // ≥0 when this frame is a top-level section on either axis.
      val bodySectionIdx: Int,
      val rootSectionIdx: Int)

  /** One emitted block + page-assignment metadata. */
  private final class Emitted(
      val block: Block,
      val insideBody: Boolean,
      val bodySectionIdx: Int,  // -1 = not inside a body-rooted top section
      val rootSectionIdx: Int)  // -1 = not inside a root-rooted top section

  def parseHtml(html: String): ParsedDoc = {
    val toks = HtmlTokenizer.tokenize(html)
    val out = new ArrayBuffer[Emitted](16)

    val stack = new ArrayBuffer[Frame](16)
    var skipDepth = 0
    var anchorDepth = 0
    var ctx = "" // innermost boiler ancestor below the page root
    val sb = new java.lang.StringBuilder()
    var anchorChars = 0
    var bodyFrame: Frame = null // the open page-root body frame, if any
    var bodySeen = false // any <body> element (even self-closing)
    var nBodySections = 0
    var nRootSections = 0
    var curBodySection = -1
    var curRootSection = -1

    def flush(): Unit = {
      val norm = PyText.normalizeSpaces(sb)
      if (norm.nonEmpty) {
        out += new Emitted(
          Block(Block.TextType, norm, math.min(anchorChars, norm.length), ctx, ""),
          bodyFrame != null, curBodySection, curRootSection)
      }
      sb.setLength(0)
      anchorChars = 0
    }

    def pop(): Unit = {
      val f = stack.remove(stack.length - 1)
      f.kind match {
        case KBlock =>
          if (skipDepth == 0) {
            flush()
            ctx = f.savedCtx
          }
          if (f.bodySectionIdx >= 0) curBodySection = -1
          if (f.rootSectionIdx >= 0) curRootSection = -1
          if (f.isBodyRoot) {
            bodyFrame = null
            anchorDepth = f.savedAnchorDepth
            skipDepth = f.savedSkipDepth
          }
        case KInline =>
          if (skipDepth == 0) sb.append(' ')
          anchorDepth -= f.anchorDelta
        case KSkip =>
          skipDepth -= 1
      }
    }

    toks.foreach {
      case TextTok(t) =>
        if (skipDepth == 0 && t.nonEmpty) {
          sb.append(t)
          if (anchorDepth > 0) anchorChars += PyText.normalizedLength(t)
        }

      case StartTag(name, attrs, selfClosing) =>
        // Dom.parse auto-close: an opener implicitly closes matching
        // tops. getOrElse(null) instead of get: Map.get allocates a
        // Some per start tag, and <p>/<li> openers are the bulk of an
        // article's tag stream.
        val closes = Dom.autoClose.getOrElse(name, null)
        if (closes != null) {
          while (stack.nonEmpty && closes.contains(stack(stack.length - 1).tag)) pop()
        }
        val pushed = !selfClosing && !Dom.voidTags.contains(name)
        if (skipTags.contains(name)) {
          if (pushed) {
            stack += new Frame(name, KSkip, "", 0, false, 0, 0, -1, -1)
            skipDepth += 1
          }
        } else if (name == "img") {
          if (skipDepth == 0) {
            flush()
            out += new Emitted(
              Block(Block.ImageType, "", 0, ctx, attrs.getOrElse("alt", "")),
              bodyFrame != null, curBodySection, curRootSection)
          }
        } else if (name == "br" || name == "hr") {
          if (skipDepth == 0) sb.append(' ')
        } else if (BlockSegmenter.blockTags.contains(name)) {
          val isBodyRoot = name == "body" && !bodySeen && pushed
          if (name == "body") bodySeen = true
          val isBodySection = name == "section" && bodyFrame != null &&
            stack.nonEmpty && (stack(stack.length - 1) eq bodyFrame)
          val isRootSection = name == "section" && stack.isEmpty
          if (skipDepth == 0 || isBodyRoot) {
            // The page root flushes even from inside an invisible
            // subtree: pre-body buffer residue must not contaminate the
            // first in-body block (the residue block is emitted with
            // insideBody=false and dropped at assembly if body wins).
            flush()
            if (pushed) {
              val f = new Frame(name, KBlock,
                savedCtx = ctx,
                anchorDelta = 0,
                isBodyRoot = isBodyRoot,
                savedAnchorDepth = anchorDepth, savedSkipDepth = skipDepth,
                bodySectionIdx = if (isBodySection) nBodySections else -1,
                rootSectionIdx = if (isRootSection) nRootSections else -1)
              stack += f
              if (isBodyRoot) {
                // The body-axis walk is rooted AT body: fresh ctx, anchor
                // and skip state (body may sit under anchors, boiler
                // ancestors or invisible markup).
                bodyFrame = f
                ctx = ""
                anchorDepth = 0; skipDepth = 0
              } else {
                if (isBodySection) { curBodySection = nBodySections; nBodySections += 1 }
                if (isRootSection) { curRootSection = nRootSections; nRootSections += 1 }
                if (boilerCtxTags.contains(name)) ctx = name
              }
            }
            if (!pushed) {
              // Self-closing block: childless — flush happened, no
              // ctx change survives. A self-closed top-level
              // SECTION is still a (block-less) page on its axis: the
              // DOM version collects section elements regardless of
              // whether they nested children.
              if (isBodySection) nBodySections += 1
              if (isRootSection) nRootSections += 1
            }
          } else if (pushed) {
            // Structural bookkeeping inside an invisible subtree.
            stack += new Frame(name, KBlock, ctx, 0, false, 0, 0, -1, -1)
          }
        } else {
          // Inline element.
          if (skipDepth == 0) sb.append(' ')
          if (pushed) {
            val delta = if (name == "a") 1 else 0
            stack += new Frame(name, KInline, "", delta, false, 0, 0, -1, -1)
            anchorDepth += delta
          } else {
            if (skipDepth == 0) sb.append(' ') // childless: trailing space now
          }
        }

      case EndTag(name) =>
        // Dom.parse: pop to the matching open element; ignore if none.
        var idx = stack.length - 1
        while (idx >= 0 && stack(idx).tag != name) idx -= 1
        if (idx >= 0) {
          while (stack.length > idx) pop()
        }
    }
    // Unwind everything still open (walk() unwinds implicitly).
    while (stack.nonEmpty) pop()
    flush()

    // Page assembly — mirror BlockSegmenter.parseHtml:
    //   pageRoot = first <body> element if any, else the document root;
    //   pages = pageRoot's direct <section> children, else pageRoot.
    if (bodySeen) {
      if (nBodySections > 0) {
        ParsedDoc(Vector.tabulate(nBodySections) { i =>
          DocPage(out.iterator.filter(e => e.insideBody && e.bodySectionIdx == i)
            .map(_.block).toVector)
        })
      } else {
        ParsedDoc(Vector(DocPage(
          out.iterator.filter(_.insideBody).map(_.block).toVector)))
      }
    } else if (nRootSections > 0) {
      ParsedDoc(Vector.tabulate(nRootSections) { i =>
        DocPage(out.iterator.filter(_.rootSectionIdx == i)
          .map(_.block).toVector)
      })
    } else {
      ParsedDoc(Vector(DocPage(out.iterator.map(_.block).toVector)))
    }
  }
}

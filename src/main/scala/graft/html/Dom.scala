package graft.html

import scala.collection.mutable.ArrayBuffer

/** Minimal DOM built from the token stream — jsoup-style tree shape, from
  * scratch. Handles void elements and the common auto-close rules
  * (`<p>`/`<li>`/`<tr>`/`<td>`... implicitly closed by a sibling opener);
  * stray end tags are ignored. Never throws on malformed input.
  */
sealed trait DomNode
final class Element(
    val tag: String,
    val attrs: Map[String, String],
    val children: ArrayBuffer[DomNode] = new ArrayBuffer[DomNode](4)) extends DomNode {
  /** Attribute lookup, "" when absent — NOTE: with the default
    * tokenizer configuration only `<img>` elements carry attributes at
    * all (StartTag contract), so e.g. `attr("href")` on an `<a>` built
    * from `HtmlTokenizer.tokenize(html)` returns "" regardless of the
    * markup; widen `keepAttrsFor` at tokenize time to consume others.
    */
  def attr(name: String): String = attrs.getOrElse(name, "")
}
final case class TextNode(text: String) extends DomNode

object Dom {

  val voidTags = Set("area", "base", "br", "col", "embed", "hr", "img",
    "input", "link", "meta", "param", "source", "track", "wbr")

  /** Openers that implicitly close an open element of the given tags.
    * (Also read by the DOM-free differential segmenter in the test
    * tree, which replays these rules without materializing the tree.)
    */
  val autoClose: Map[String, Set[String]] = Map(
    "p" -> Set("p"),
    "li" -> Set("li"),
    "dt" -> Set("dt", "dd"),
    "dd" -> Set("dt", "dd"),
    "tr" -> Set("tr", "td", "th"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    "option" -> Set("option"),
    // Block-level openers also close an open <p> (HTML5 parsing rule).
    "div" -> Set("p"), "section" -> Set("p"), "article" -> Set("p"),
    "aside" -> Set("p"), "nav" -> Set("p"), "header" -> Set("p"),
    "footer" -> Set("p"), "main" -> Set("p"), "ul" -> Set("p"),
    "ol" -> Set("p"), "table" -> Set("p"), "blockquote" -> Set("p"),
    "pre" -> Set("p"), "h1" -> Set("p"), "h2" -> Set("p"),
    "h3" -> Set("p"), "h4" -> Set("p"), "h5" -> Set("p"), "h6" -> Set("p"))

  /** Parse an HTML string into a synthetic root element. */
  def parse(html: String): Element = {
    val root = new Element("#root", Map.empty)
    val stack = new ArrayBuffer[Element](16)
    stack += root

    def top: Element = stack(stack.length - 1)

    HtmlTokenizer.tokenize(html).foreach {
      case TextTok(t) =>
        if (t.nonEmpty) top.children += TextNode(t)
      case StartTag(name, attrs, selfClosing) =>
        autoClose.get(name).foreach { closes =>
          while (stack.length > 1 && closes.contains(top.tag)) stack.remove(stack.length - 1)
        }
        val el = new Element(name, attrs)
        top.children += el
        if (!selfClosing && !voidTags.contains(name)) stack += el
      case EndTag(name) =>
        // Pop to the matching open element, if any; else ignore.
        var idx = stack.length - 1
        while (idx > 0 && stack(idx).tag != name) idx -= 1
        if (idx > 0) stack.remove(idx, stack.length - idx)
    }
    root
  }

  /** First descendant element with the given tag (depth-first).
    * Iterative: tree depth is input-controlled in crawl HTML, so the
    * traversal must not consume JVM stack per level.
    */
  def find(node: Element, tag: String): Option[Element] = {
    val stack = new ArrayBuffer[Element](16)
    stack += node
    while (stack.nonEmpty) {
      val el = stack.remove(stack.length - 1)
      if (el.tag == tag) return Some(el)
      // Push children in reverse so the leftmost is visited first
      // (preorder, same order as the recursive form).
      var i = el.children.length - 1
      while (i >= 0) {
        el.children(i) match {
          case e: Element => stack += e
          case _ =>
        }
        i -= 1
      }
    }
    None
  }
}

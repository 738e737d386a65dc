package graft

import graft.html.{BlockSegmenter, StreamSegmenter}
import graft.synth.{Fixtures, PageGen}
import org.scalatest.funsuite.AnyFunSuite

/** Differential proof: the stream (DOM-free) segmenter produces EXACTLY
  * the DOM reference's output — on every fixture family, on the
  * synthetic corpus, and on adversarial fuzz. The DOM path stays in the
  * tree as the executable specification.
  */
class StreamSegmenterSpec extends AnyFunSuite {

  private def assertSame(html: String, label: String): Unit = {
    val a = BlockSegmenter.parseHtml(html)
    val b = StreamSegmenter.parseHtml(html)
    assert(b == a, s"$label:\n$html")
  }

  test("equality on every HTML fixture family") {
    Fixtures.families.foreach { case (name, bytes) =>
      if (!graft.pdf.PdfParser.isPdf(bytes)) {
        assertSame(new String(bytes, java.nio.charset.StandardCharsets.UTF_8), name)
      }
    }
  }

  test("equality on 4000 synthetic corpus rows (all families, encodings)") {
    (0L until 4000L).foreach { id =>
      val p = PageGen.row(42L, id)
      if (!graft.pdf.PdfParser.isPdf(p.html)) {
        val html = graft.text.Charsets.decode(p.html)
        assertSame(html, s"row $id")
      }
    }
  }

  test("equality on targeted structural edge cases") {
    val cases = Seq(
      "",
      "just text, no tags",
      "<p>unclosed paragraph",
      "<p>a<p>b<p>c",                                   // auto-close chain
      "<ul><li>one<li>two</ul>after",
      "<div><p>para</div>trailing",                      // p closed by div end
      "<body><section><p>s1</p></section><section>s2</section></body>",
      "<body><section>direct text</section></body>",     // text directly in a page
      "<body>before<section>in</section>between<section>in2</section>after</body>",
      "<body><div><section>nested, not a page</section></div></body>",
      "<body><section><section>inner</section></section></body>",
      "<html><head><title>t</title></head><body><p>x</p></body></html>",
      "<body/>content after self-closed body",
      "<div><body/></div><body><p>real?</p></body>",     // first body wins
      "<a href='/'><div>block inside anchor</div></a>",
      "<nav><ul><li><a href='/'>x</a></li></ul></nav><article><p>y</p></article>",
      "<script>var x = '<p>not content</p>';</script><p>real</p>",
      "<select><option>a<option>b</select><p>visible</p>",
      "<object><body><p>body inside object</p></body></object>",
      "<table><tr><td>a<td>b<tr><td>c</table>",
      "<p>text <b>bold <i>both</i></b> tail</p>",
      "<p>a<br>b<hr>c</p>",
      "<img alt='standalone'><p>x<img alt='inline img'>y</p>",
      "<P>UPPER<DIV>CASE</DIV>",
      "</p></div>stray closers<p>ok",
      "<body></body><p>after closed body</p>",
      "<aside><p>boiler ctx</p></aside>",
      "<textarea><p>raw text</p></textarea><p>after</p>",
      "<br/><input type='text'/><p>voids</p>",
      "<section>no body, section is not a page</section>")
    cases.zipWithIndex.foreach { case (html, i) => assertSame(html, s"case $i") }
  }

  test("differential fuzz: 3000 seeded random tag soups") {
    val rnd = new scala.util.Random(0x5E63E47)
    val tags = Array("p", "div", "section", "body", "html", "head", "nav", "aside",
      "footer", "a", "b", "span", "em", "ul", "li", "table", "tr", "td",
      "script", "style", "object", "select", "img", "br", "hr", "input",
      "article", "h1", "textarea", "option", "dt", "dd", "blockquote")
    val words = Array("alpha", "beta gamma", "  spaced  ", "x", "&amp;", "&#65;", "ümlaut")
    (1 to 3000).foreach { rep =>
      val sb = new StringBuilder()
      val n = rnd.nextInt(40)
      (0 until n).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb.append('<').append(tags(rnd.nextInt(tags.length)))
            .append(if (rnd.nextBoolean()) " class='c'" else "")
            .append(if (rnd.nextInt(5) == 0) "/>" else ">")
          case 1 => sb.append("</").append(tags(rnd.nextInt(tags.length))).append('>')
          case 2 | 3 | 4 => sb.append(words(rnd.nextInt(words.length)))
          case 5 => sb.append(Seq("<", ">", "<!", "<!-- c -->", "<?pi?>", "&bad;")(rnd.nextInt(6)))
        }
      }
      assertSame(sb.toString, s"fuzz rep $rep")
    }
  }

  test("adversarial depth: 60k nested opens segment without stack overflow, paths equal") {
    // Crawl HTML is attacker-controlled: unclosed opens nest the DOM one
    // level each, so a few hundred KB can build a 60k-deep tree. The
    // production walk (and Dom.find) must be heap-stack iterative — a
    // recursive walk dies on StackOverflowError here, which the kernel's
    // Exception recovery cannot catch.
    val deepBlocks = "<body>" + ("<div>" * 60000) + "deep text" // unclosed: auto-depth
    assertSame(deepBlocks, "60k nested divs")
    val deepInline = "<body><p>" + ("<span>" * 60000) + "x" + ("</span>" * 60000) + "</p>"
    assertSame(deepInline, "60k nested spans")
    val deepAnchors = "<body><p>" + ("<a>" * 30000) + "link text" // anchor depth counter
    assertSame(deepAnchors, "30k nested anchors")
    // And end-to-end through the kernel: parse must return Right, not die.
    val parsed = graft.extract.DocParser.parse(
      deepBlocks.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(parsed.isRight)
    assert(parsed.toOption.get.pages.head.blocks.exists(_.text.contains("deep text")))
  }
}

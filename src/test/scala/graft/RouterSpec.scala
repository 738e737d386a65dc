package graft

import graft.model._
import graft.route.Router
import org.scalatest.funsuite.AnyFunSuite

/** Routing matrix + edge cases ported 1:1 from reference
  * tests/unit/test_router.py:354-723 (SURVEY.md §5.2 matrix tests).
  */
class RouterSpec extends AnyFunSuite {
  private val r = new Router(hasOcrBackend = true)
  private val noBackend = new Router(hasOcrBackend = false)

  private def cls(tpe: String, total: Int,
                  text: Seq[Int] = Nil, image: Seq[Int] = Nil, hybrid: Seq[Int] = Nil) =
    Classification(tpe, total, text, image, hybrid, 0, 0, Nil, 1.0)

  private val textCls = cls(Enums.PureText, 3, text = Seq(1, 2, 3))
  private val imageCls = cls(Enums.PureImage, 3, image = Seq(1, 2, 3))
  private val hybridCls = cls(Enums.Hybrid, 4, text = Seq(1, 3), image = Seq(2), hybrid = Seq(4))

  test("strategy matrix — fast always direct_only (router.py:229-230)") {
    for (t <- Seq(Enums.PureText, Enums.PureImage, Enums.Hybrid, Enums.Unknown))
      assert(r.determineStrategy(t, Enums.Fast) == Enums.DirectOnly)
  }

  test("strategy matrix — balanced/accurate (router.py:233-245)") {
    for (q <- Seq(Enums.Balanced, Enums.Accurate)) {
      assert(r.determineStrategy(Enums.PureText, q) == Enums.DirectOnly)
      assert(r.determineStrategy(Enums.PureImage, q) == Enums.OcrAll)
      assert(r.determineStrategy(Enums.Hybrid, q) == Enums.OcrSelective)
      assert(r.determineStrategy(Enums.Unknown, q) == Enums.DirectOnly)
    }
  }

  test("invalid quality normalizes to balanced (router.py:134-136)") {
    val d = r.route(imageCls, "turbo")
    assert(d.quality == Enums.Balanced)
    assert(d.strategy == Enums.OcrAll)
  }

  test("no OCR backend forces direct_only (router.py:142-143)") {
    val d = noBackend.route(imageCls, Enums.Balanced)
    assert(d.strategy == Enums.DirectOnly)
    assert(d.direct_pages == Seq(1, 2, 3) && d.ocr_pages.isEmpty)
    assert(d.reasoning.contains("No OCR required"))
  }

  test("page selection: direct_only → all direct; ocr_all → all ocr (router.py:266-270)") {
    val d1 = r.route(textCls, Enums.Balanced)
    assert(d1.direct_pages == Seq(1, 2, 3) && d1.ocr_pages.isEmpty)
    val d2 = r.route(imageCls, Enums.Balanced)
    assert(d2.direct_pages.isEmpty && d2.ocr_pages == Seq(1, 2, 3))
  }

  test("ocr_selective balanced: hybrid pages go direct (router.py:277-283)") {
    val d = r.route(hybridCls, Enums.Balanced)
    assert(d.direct_pages == Seq(1, 3, 4))
    assert(d.ocr_pages == Seq(2))
  }

  test("ocr_selective accurate: hybrid pages go OCR (router.py:277-279)") {
    val d = r.route(hybridCls, Enums.Accurate)
    assert(d.direct_pages == Seq(1, 3))
    assert(d.ocr_pages == Seq(2, 4))
  }

  test("selected pages are sorted (router.py:283)") {
    val messy = cls(Enums.Hybrid, 5, text = Seq(5, 1), image = Seq(4, 2), hybrid = Seq(3))
    val d = r.route(messy, Enums.Balanced)
    assert(d.direct_pages == Seq(1, 3, 5))
    assert(d.ocr_pages == Seq(2, 4))
  }

  test("cost model (router.py:91-93,188-197)") {
    val e = r.estimateCost(ocrPageCount = 10, directPageCount = 4)
    assert(math.abs(e.ocr_cost_eur - 0.05) < 1e-12)
    assert(e.direct_cost_eur == 0.0)
    assert(math.abs(e.total_cost_eur - 0.05) < 1e-12)
    assert(math.abs(e.ocr_time_seconds - 30.0) < 1e-12)
    assert(math.abs(e.direct_time_seconds - 0.4) < 1e-12)
    assert(math.abs(e.total_time_seconds - 30.4) < 1e-12)
    val z = r.estimateCost(0, 0)
    assert(z.total_cost_eur == 0.0 && z.total_time_seconds == 0.0)
  }

  test("decision carries cost/time for ocr pages (router.py:150-171)") {
    val d = r.route(imageCls, Enums.Balanced)
    assert(math.abs(d.estimated_cost - 3 * 0.005) < 1e-12)
    assert(math.abs(d.estimated_time_seconds - 3 * 3.0) < 1e-12)
  }

  test("reasoning string format, short lists in Python list syntax (router.py:285-329)") {
    val d = r.route(hybridCls, Enums.Balanced)
    assert(d.reasoning ==
      "PDF type: hybrid | Quality: balanced | Strategy: ocr_selective | " +
      "Direct extraction: pages [1, 3, 4] | OCR extraction: pages [2]")
  }

  test("reasoning truncates lists longer than 5 to counts (router.py:312-322)") {
    val big = cls(Enums.PureText, 9, text = (1 to 9))
    val d = r.route(big, Enums.Fast)
    assert(d.reasoning.contains("Direct extraction: 9 pages"))
    assert(d.reasoning.contains("No OCR required"))
    assert(!d.reasoning.contains("["))
  }

  test("zero-page classification routes empty (test_router.py:497)") {
    val d = r.route(cls(Enums.Unknown, 0), Enums.Balanced)
    assert(d.direct_pages.isEmpty && d.ocr_pages.isEmpty)
    assert(d.estimated_cost == 0.0)
  }

  test("custom cost knobs (test_router.py:292)") {
    val custom = new Router(hasOcrBackend = true, costPerOcrPage = 0.01,
      timePerOcrPage = 5.0, timePerDirectPage = 0.2)
    val e = custom.estimateCost(2, 3)
    assert(math.abs(e.total_cost_eur - 0.02) < 1e-12)
    assert(math.abs(e.total_time_seconds - (10.0 + 0.6)) < 1e-12)
  }

  test("ocrPages is route's OCR page list; an invalid quality normalizes to balanced") {
    for (router <- Seq(r, noBackend); c <- Seq(textCls, imageCls, hybridCls, cls(Enums.Unknown, 0));
         q <- Seq(Enums.Fast, Enums.Balanced, Enums.Accurate, "draft"))
      assert(router.ocrPages(c, q) == router.route(c, q).ocr_pages, s"${c.pdf_type} $q")
    assert(Seq(Enums.Fast, Enums.Balanced, Enums.Accurate, "draft", "", "FAST")
      .map(Router.normalizeQuality) ==
      Seq(Enums.Fast, Enums.Balanced, Enums.Accurate, Enums.Balanced, Enums.Balanced, Enums.Balanced))
  }
}

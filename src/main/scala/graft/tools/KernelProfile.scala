package graft.tools

import graft.extract.{DocParser, PayloadMemo, Processor}
import graft.model.KernelPage
import graft.synth.PageGen

/** No-Spark micro-profile of the extraction kernel: stage-level ns/doc
  * over the synthetic family mix. Iteration aid for kernel
  * optimization:
  *   sbt -batch "runMain graft.tools.KernelProfile [nDocs]"
  */
object KernelProfile {
  def main(args: Array[String]): Unit = {
    val n0 = if (args.nonEmpty) args(0).toInt else 50000
    // Optional family filter (arg 2): stage profile over one family only.
    val fam = if (args.length > 1) args(1) else ""
    val all = (0L until n0.toLong).map(id => PageGen.row(42L, id))
    val payloads =
      if (fam.isEmpty) all.toArray
      else (0 until 4).flatMap(_ => all.filter(_.url.contains(s"/$fam/"))).toArray
    val n = payloads.length
    if (fam.nonEmpty) println(s"[profile] family=$fam n=$n")
    val distinct = payloads.iterator.map(p => java.nio.ByteBuffer.wrap(p.html)).toSet.size
    println(f"[profile] distinct payloads $distinct of $n (${100.0 * distinct / n}%.1f%%)")

    def time(label: String)(f: => Unit): Unit = {
      f; f // warmup (JIT)
      val best = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); f; System.nanoTime() - t0
      }.min
      val perDoc = best.toDouble / n
      println(f"[profile] $label%-22s ${perDoc / 1000}%8.2f µs/doc  (${1e9 / perDoc}%9.0f docs/s/core)")
    }

    val htmlStrings = payloads.map(p => new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
    time("utf8 decode") {
      var i = 0
      while (i < n) { new String(payloads(i).html, java.nio.charset.StandardCharsets.UTF_8); i += 1 }
    }
    time("charset sniff+decode") {
      var i = 0
      while (i < n) { graft.text.Charsets.decode(payloads(i).html); i += 1 }
    }
    time("tokenize") {
      var i = 0; while (i < n) { graft.html.HtmlTokenizer.tokenize(htmlStrings(i)); i += 1 }
    }
    time("dom build") {
      var i = 0; while (i < n) { graft.html.Dom.parse(htmlStrings(i)); i += 1 }
    }
    time("segment") {
      var i = 0; while (i < n) { graft.html.BlockSegmenter.parseHtml(htmlStrings(i)); i += 1 }
    }
    time("parse (tokenize+DOM)") {
      var i = 0; while (i < n) { DocParser.parse(payloads(i).html); i += 1 }
    }
    val parsed = payloads.map(p => DocParser.parse(p.html))
    time("classify") {
      var i = 0
      while (i < n) {
        parsed(i).foreach(d => graft.classify.Detector.default.classify(d)); i += 1
      }
    }
    val proc = Processor.default
    time("extract (balanced)") {
      var i = 0; while (i < n) { proc.extract(payloads(i), "balanced"); i += 1 }
    }
    // As one Spark task over the whole sample: a fresh memo per pass.
    time("extract (memoized)") {
      val memo = new PayloadMemo("balanced")
      var i = 0
      while (i < n) {
        val p = payloads(i)
        memo.extract(KernelPage(p.url, p.html, p.lang)); i += 1
      }
    }
    time("extract (fast)") {
      var i = 0; while (i < n) { proc.extract(payloads(i), "fast"); i += 1 }
    }

    // Per-family cost attribution (where does the corpus's µs/doc go?).
    // Only meaningful on the unfiltered mix (indexes are row ids there).
    val byFamily = if (fam.nonEmpty) Map.empty[String, Array[(graft.model.Page, Int)]]
    else payloads.zipWithIndex
      .groupBy { case (_, i) => PageGen.familyFor(42L, PageGen.contentId(42L, i.toLong)) }
    byFamily.toSeq.sortBy(_._1).foreach { case (fam, rowsIdx) =>
      val rows = rowsIdx.map(_._1)
      val m = rows.length
      def f(): Unit = { var i = 0; while (i < m) { proc.extract(rows(i), "balanced"); i += 1 } }
      f()
      val best = (1 to 3).map { _ => val t0 = System.nanoTime(); f(); System.nanoTime() - t0 }.min
      val perDoc = best.toDouble / m
      val share = perDoc * m / n
      println(f"[family] $fam%-20s ${perDoc / 1000}%8.2f µs/doc  n=$m%-6d  weighted ${share / 1000}%6.2f µs")
    }
  }
}

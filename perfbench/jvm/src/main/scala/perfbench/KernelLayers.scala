package perfbench

import graft.classify.Detector
import graft.extract.{DocParser, Processor}
import graft.html.BlockSegmenter
import graft.model.KernelPage
import graft.pdf.PdfParser
import graft.text.Charsets

/** Per-document kernel budget from direct calls into the kernel's public
  * functions, on rows drawn from the workload's own input. Every layer
  * is timed as a whole pass over the same sample and divided by the
  * sample size, so layers that only touch some rows (HTML decode, PDF
  * parse) are weighted by their share and the parts add up per document.
  */
object KernelLayers {

  def measure(sample: Array[KernelPage], passes: Int): Seq[(String, Double)] = {
    val n = sample.length.toDouble
    val html = sample.filter(p => p.html != null && p.html.nonEmpty && !PdfParser.isPdf(p.html))
    val pdfs = sample.filter(p => p.html != null && PdfParser.isPdf(p.html))
    val decoded = html.map(p => Charsets.decode(p.html))
    val parsed = sample.map(p => DocParser.parse(p.html)).collect { case Right(d) => d }
    val det = Detector.default
    val classes = parsed.map(det.classify)
    val proc = Processor.default

    var sink = 0L
    val layers: Seq[(String, () => Int)] = Seq(
      "Charsets.decode_us" -> (() => { var i = 0; var s = 0; while (i < html.length) { s += Charsets.decode(html(i).html).length; i += 1 }; s }),
      "BlockSegmenter.parseHtml_us" -> (() => { var i = 0; var s = 0; while (i < decoded.length) { s += BlockSegmenter.parseHtml(decoded(i)).totalPages; i += 1 }; s }),
      "PdfParser.parse_us" -> (() => { var i = 0; var s = 0; while (i < pdfs.length) { s += PdfParser.parse(pdfs(i).html).fold(_.length, _.totalPages); i += 1 }; s }),
      "DocParser.parse_us" -> (() => { var i = 0; var s = 0; while (i < sample.length) { s += DocParser.parse(sample(i).html).fold(_.length, _.totalPages); i += 1 }; s }),
      "Detector.classify_us" -> (() => { var i = 0; var s = 0; while (i < parsed.length) { s += det.classify(parsed(i)).total_pages; i += 1 }; s }),
      "Processor.processPages_us" -> (() => { var i = 0; var s = 0; while (i < parsed.length) { s += proc.processPages(parsed(i), classes(i), "balanced")._1.length; i += 1 }; s }),
      "Processor.extract_us" -> (() => { var i = 0; var s = 0; while (i < sample.length) { s += proc.extract(sample(i), "balanced").word_count; i += 1 }; s }),
      "Processor.extract_fast_us" -> (() => { var i = 0; var s = 0; while (i < sample.length) { s += proc.extract(sample(i), "fast").word_count; i += 1 }; s }))
    // One warm-up round, then `passes` rounds that time every layer once
    // each, so drift during the measurement spreads over all layers.
    layers.foreach { case (_, f) => sink += f() }
    val rounds = (1 to passes).map { _ =>
      layers.map { case (name, f) =>
        val t0 = System.nanoTime(); sink += f(); name -> (System.nanoTime() - t0) / 1e3 / n
      }
    }
    if (sink == 42L) System.err.print("") // keeps the results live for the JIT
    val us = layers.map { case (name, _) => name -> Phase.median(rounds.map(_.toMap.apply(name))) }.toMap
    val (decodeUs, segUs, pdfUs, parseUs) =
      (us("Charsets.decode_us"), us("BlockSegmenter.parseHtml_us"), us("PdfParser.parse_us"), us("DocParser.parse_us"))
    val (classifyUs, pagesUs, extractUs) =
      (us("Detector.classify_us"), us("Processor.processPages_us"), us("Processor.extract_us"))

    val parts = decodeUs + segUs + pdfUs + classifyUs + pagesUs
    layers.map { case (name, _) => name -> us(name) } ++ Seq(
      // What extract spends outside parse and classify: the page loop,
      // the fallback cascade and text composition.
      "Processor.cascade_us" -> (extractUs - parseUs - classifyUs),
      // Parse measured whole against its measured parts.
      "kernel.parse_gap_us" -> (parseUs - decodeUs - segUs - pdfUs),
      // Share of extract that the separately timed layers do not cover.
      "kernel.parse_residual_frac" -> (if (extractUs > 0) (extractUs - parts) / extractUs else 0.0))
  }
}

package graft.synth

import graft.model.Page
import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp
import java.nio.charset.StandardCharsets.UTF_8

/** Deterministic synthetic Common-Crawl-style page table
  * (BASELINE.json input_hint — synthesize at small scale, no external
  * data). Every field is a pure function of (seed, row id): the table is
  * identical regardless of partitioning, executor count, or scheduling —
  * the property the two-parallelism scaling benchmark and the
  * checkpoint-resume tests rely on.
  *
  * Host distribution is deliberately Zipfian (exponent ~1.07, like web
  * crawls) so partition-skew handling is exercised (FIXTURES.md
  * skewed_host_corpus; SURVEY.md §7.5 risk 4).
  */
object PageGen {

  val NumHosts = 1000
  val ZipfS = 1.07

  /** Cumulative Zipf weights over host ranks (computed once per JVM). */
  lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(NumHosts)(i => 1.0 / math.pow(i + 1.0, ZipfS))
    val total = w.sum
    val cdf = new Array[Double](NumHosts)
    var acc = 0.0
    var i = 0
    while (i < NumHosts) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(NumHosts - 1) = 1.0
    cdf
  }

  /** splitmix64 — stable 64-bit mixer (public-domain construction). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** [[mix64]] as DuckDB select items over the UBIGINT expression `in`:
    * the `<p>z1`..`<p>z3` steps (wrapped to 64 bits through HUGEINT),
    * one per line, then `wrap` of the final `xor(<p>z3, <p>z3 >> 31)`.
    * The oracle SQL of q43, q46 and q52 re-derives PageGen's draws with it.
    */
  def mix64Sql(in: String, p: String)(wrap: String => String): String =
    s"""CAST((CAST($in AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS ${p}z1,
       |CAST((CAST(xor(${p}z1, ${p}z1 >> 30) AS UHUGEINT) * 13787848793156543929) % 18446744073709551616 AS UBIGINT) AS ${p}z2,
       |CAST((CAST(xor(${p}z2, ${p}z2 >> 27) AS UHUGEINT) * 10723151780598845931) % 18446744073709551616 AS UBIGINT) AS ${p}z3,
       |${wrap(s"xor(${p}z3, ${p}z3 >> 31)")}""".stripMargin

  private def unitDouble(h: Long): Double = ((h >>> 11).toDouble / (1L << 53).toDouble)

  def hostFor(seed: Long, id: Long): Int = {
    val u = unitDouble(mix64(seed ^ mix64(id ^ 0x686f7374L)))
    val idx = java.util.Arrays.binarySearch(zipfCdf, u)
    val r = if (idx >= 0) idx else -idx - 1
    math.min(r, NumHosts - 1)
  }

  // Family mix: mostly text-ish web pages, some images/hybrids/PDFs, a
  // trickle of corrupted rows (error-path coverage at scale).
  private val familyMix: Vector[(String, Double)] = Vector(
    "text_simple" -> 0.30,
    "article" -> 0.25, // generated long-form page with boilerplate
    "hybrid_2p" -> 0.10,
    "image_only" -> 0.07,
    "multipage_3" -> 0.08,
    "german_invoice" -> 0.04,
    "boilerplate" -> 0.05,
    "empty" -> 0.02,
    "text_simple_pdf" -> 0.04,
    "hybrid_2p_pdf" -> 0.02,
    "image_only_pdf" -> 0.01,
    "german_invoice_pdf" -> 0.01,
    "corrupted" -> 0.01)
  private val familyCdf: Vector[(String, Double)] = {
    var acc = 0.0
    familyMix.map { case (k, w) => acc += w; (k, acc) }
  }

  def familyFor(seed: Long, id: Long): String = {
    val u = unitDouble(mix64(seed ^ mix64(id ^ 0x66616d696cL))) * familyCdf.last._2
    familyCdf.find(_._2 >= u).map(_._1).getOrElse(familyCdf.last._1)
  }

  private val langs = Vector("en", "en", "en", "de", "de", "fr", "es", "it")
  def langFor(seed: Long, id: Long, family: String): String =
    if (family.startsWith("german")) "de"
    else langs(((mix64(seed ^ mix64(id ^ 0x6c616e67L)) >>> 33) % langs.length).toInt)

  private val wordPool: Vector[String] = Vector(
    "data", "pipeline", "crawl", "index", "page", "content", "signal",
    "market", "report", "quarter", "growth", "system", "service", "cloud",
    "model", "table", "query", "engine", "batch", "stream", "article",
    "science", "energy", "climate", "policy", "health", "sports", "music",
    "travel", "culture", "история", "datos", "straße", "café", "naïve")

  private def sentence(rng: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder()
    var h = rng
    var i = 0
    while (i < len) {
      h = mix64(h)
      if (i > 0) sb.append(' ')
      sb.append(wordPool(((h >>> 17) % wordPool.length).toInt.abs))
      i += 1
    }
    sb.append('.')
    sb.toString
  }

  /** A generated long-form article page: unique content paragraphs framed
    * by common boilerplate (nav/footer/related links) — the workhorse
    * family for boilerplate-stripping and dedup ops at scale.
    */
  def articleHtmlString(seed: Long, id: Long, paraScale: Int = 1,
      metaCharset: String = "", extraSentence: String = ""): String = {
    val h0 = mix64(seed ^ mix64(id ^ 0x61727469636cL))
    val nPara = (2 + ((h0 >>> 7) % 4).toInt.abs) * paraScale
    val paras = (0 until nPara).map { p =>
      s"<p>${sentence(mix64(h0 ^ p), 14 + ((h0 >>> (p + 3)) % 9).toInt.abs)}</p>"
    }.mkString("\n")
    val title = sentence(mix64(h0 ^ 0x7469L), 5).dropRight(1)
    val meta = if (metaCharset.isEmpty) "" else s"""<meta charset="$metaCharset">"""
    val extra = if (extraSentence.isEmpty) "" else s"\n<p>$extraSentence</p>"
    s"""<html><head>$meta<title>$title</title></head><body>
       |<nav><ul><li><a href="/">Home</a></li><li><a href="/a">News</a></li><li><a href="/b">Archive</a></li></ul></nav>
       |<article>
       |<h1>$title</h1>
       |$paras$extra
       |</article>
       |<aside><ul><li><a href="/r1">Related one</a></li><li><a href="/r2">Related two</a></li></ul></aside>
       |<footer><a href="/about">About</a> <a href="/terms">Terms</a></footer>
       |</body></html>""".stripMargin
  }

  def articleHtml(seed: Long, id: Long, paraScale: Int = 1): Array[Byte] =
    articleHtmlString(seed, id, paraScale).getBytes(UTF_8)

  /** Non-UTF-8 article variants (~4% of article content ids): the same
    * generated article re-encoded in a legacy charset with an in-body
    * `<meta charset=…>` declaration and one charset-exercising non-ASCII
    * sentence — so the decode path (graft.text.Charsets meta sniffing)
    * is part of the standard corpus, like real crawls. Keyed by CONTENT
    * id, so duplicate-cluster members stay byte-identical and dedup
    * ground truth is unchanged.
    */
  val Cp1252Sentence = "Straßenmaß über Gebühr — äöüß École."
  val SjisSentence = "日本語のテスト文です。"

  def encodingVariant(seed: Long, cid: Long): Int =
    math.floorMod(mix64(seed ^ mix64(cid ^ 0x656e63L)), 50).toInt

  def articleHtmlEncoded(seed: Long, id: Long, paraScale: Int, variant: Int): Array[Byte] =
    variant match {
      case 0 => articleHtmlString(seed, id, paraScale, "windows-1252", Cp1252Sentence)
        .getBytes(java.nio.charset.Charset.forName("windows-1252"))
      case 1 => articleHtmlString(seed, id, paraScale, "shift_jis", SjisSentence)
        .getBytes(java.nio.charset.Charset.forName("Shift_JIS"))
      case _ => articleHtml(seed, id, paraScale)
    }

  /** Exact-duplicate clusters: ~6% of rows replay the payload of the
    * cluster head (id rounded down to a multiple of 32) — gives the dedup
    * operators real duplicate mass with deterministic ground truth.
    */
  def contentId(seed: Long, id: Long): Long = {
    val u = unitDouble(mix64(seed ^ mix64(id ^ 0x64757065L)))
    if (u < 0.06 && id >= 32) (id / 32) * 32 else id
  }

  def payloadFor(seed: Long, id: Long, paraScale: Int = 1): (String, Array[Byte]) = {
    val cid = contentId(seed, id)
    val family = familyFor(seed, cid)
    val payload = family match {
      case "article" => articleHtmlEncoded(seed, cid, paraScale, encodingVariant(seed, cid))
      // PDF families: half the content ids re-emit the SAME document in
      // the PDF 1.5+ layout (xref stream + ObjStm, rotating content
      // filters) — the majority container shape of real crawls. Keyed by
      // content id so dup clusters stay byte-identical.
      case f if f.endsWith("_pdf") && Fixtures.modernPdfVariants.contains(f) =>
        val v = math.floorMod(mix64(seed ^ mix64(cid ^ 0x706466L)), 10).toInt
        if (v < 5) Fixtures.modernPdfVariants(f)(v)
        else Fixtures.families.find(_._1 == f).map(_._2).getOrElse(Fixtures.textSimpleHtml)
      case f => Fixtures.families.find(_._1 == f).map(_._2).getOrElse(Fixtures.textSimpleHtml)
    }
    (family, payload)
  }

  /** Deterministic row for (seed, id). `paraScale` multiplies article
    * length (bench realism knob: real crawl pages are 10-100× larger
    * than the unit-test fixtures); 1 = the pinned test corpus.
    */
  def row(seed: Long, id: Long, paraScale: Int = 1): Page = {
    val host = hostFor(seed, id)
    val (family, payload) = payloadFor(seed, id, paraScale)
    val ts = new Timestamp(1700000000000L + (mix64(seed ^ id) >>> 24))
    Page(
      url = s"https://host$host.example/$family/p$id.html",
      warc_ts = ts,
      html = payload,
      text = "", // raw legacy crawl text — unused by the pipeline
      lang = langFor(seed, id, family))
  }

  /** Distributed generation: pure function of the range, safe at any
    * parallelism.
    */
  def generate(spark: SparkSession, rows: Long, seed: Long = 42L,
      paraScale: Int = 1): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, rows).mapPartitions(_.map(id => row(seed, id, paraScale)))
  }
}

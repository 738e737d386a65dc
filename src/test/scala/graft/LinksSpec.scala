package graft

import graft.html.Links
import org.apache.spark.sql.functions.col

/** Outlink/anchor extraction (html.Links) + the x65 link-record query:
  * unit semantics (anchor capture, auto-close, entity decode, URL
  * resolution) and a golden pin of the aggregate on the deterministic
  * 1200-page corpus.
  */
class LinksSpec extends SparkSuite {

  test("outlinks: anchor text captured through nested markup, whitespace collapsed") {
    val html = """<p><a href="/x">  One <b>two</b>
                 |  three </a> tail <a href="/y">four</a></p>""".stripMargin
    assert(Links.outlinks(html) == Seq(("/x", "One two three"), ("/y", "four")))
  }

  test("outlinks: unterminated <a> auto-closes at the next <a> (browser rule)") {
    val html = """<a href="/x">one <a href="/y">two</a>"""
    assert(Links.outlinks(html) == Seq(("/x", "one"), ("/y", "two")))
  }

  test("outlinks: href-less anchors skipped; entities decoded in href and text") {
    val html = """<a name="top">not a link</a><a href="/q?a=1&amp;b=2">A &amp; B</a>"""
    assert(Links.outlinks(html) == Seq(("/q?a=1&b=2", "A & B")))
  }

  test("resolve: absolute, protocol-relative, rooted, relative, dotdot, fragment, schemes") {
    val base = "https://host5.example/article/p7.html"
    assert(Links.resolve(base, "https://other.example/z") == Some("https://other.example/z"))
    assert(Links.resolve(base, "//cdn.example/a.js") == Some("https://cdn.example/a.js"))
    assert(Links.resolve(base, "/about") == Some("https://host5.example/about"))
    assert(Links.resolve(base, "next.html") == Some("https://host5.example/article/next.html"))
    assert(Links.resolve(base, "../up.html") == Some("https://host5.example/up.html"))
    assert(Links.resolve(base, "/about#team") == Some("https://host5.example/about"))
    assert(Links.resolve(base, "#frag") == None)
    assert(Links.resolve(base, "mailto:x@example.com") == None)
    assert(Links.resolve(base, "javascript:void(0)") == None)
    assert(Links.resolve(base, "ht tp://bad") == None)
  }

  test("resolve: http/https schemes match case-insensitively and are emitted lowercase") {
    val base = "HTTP://Host5.example/article/p7.html"
    assert(Links.resolve(base, "HTTPS://other.example/z") == Some("https://other.example/z"))
    assert(Links.resolve(base, "next.html") == Some("http://Host5.example/article/next.html"))
    assert(Links.resolve(base, "//cdn.example/a.js") == Some("http://cdn.example/a.js"))
    assert(Links.resolve(base, "MAILTO:x@example.com") == None)
  }

  test("records: binary payloads produce zero rows, HTML resolves against its own host") {
    assert(Links.records("https://h.example/d.pdf", "%PDF-1.4 x".getBytes) == Seq.empty)
    assert(Links.records("https://h.example/p", Array[Byte]()) == Seq.empty)
    val recs = Links.records("https://h.example/a/p.html",
      """<a href="/r1">Related</a>""".getBytes("UTF-8"))
    assert(recs == Seq(("https://h.example/r1", "Related")))
  }

  test("x65 path key: every key is rooted at / and keeps its query string") {
    import spark.implicits._
    val targets = Seq("https://h.example", "https://h.example?x=1",
      "https://h.example/a/b?x=1", "http://h.example:8080")
    val paths = targets.toDF("target")
      .select(graft.queries.PipelineOps.linkPath(col("target")))
      .as[String].collect().toSeq
    assert(paths == Seq("/", "/?x=1", "/a/b?x=1", "/"))
  }

  test("x65 golden: link-record aggregate over the deterministic 1200-page corpus") {
    val rows = SparkEntry.queries("x65_link_records")(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // Every synthesized link is root-relative boilerplate nav/aside/
    // footer, so paths and anchors form a small fixed set; counts are a
    // pure function of (seed=42, 1200 rows, family mix).
    val byPath = rows.groupBy(_._1)
    assert(byPath.keySet.forall(_.startsWith("/")), s"non-rooted path in ${byPath.keySet}")
    // The seven article-frame targets must all be present.
    Seq("/", "/a", "/b", "/r1", "/r2", "/about", "/terms").foreach(p =>
      assert(byPath.contains(p), s"missing target $p"))
    // Anchor text is constant per target in the frame.
    val anchors = rows.map(r => r._1 -> r._2).toMap
    assert(anchors("/about") == "About" && anchors("/") == "Home")
    rows.foreach { case (p, a, n, h) =>
      assert(n >= h && h >= 1, s"($p,$a): n_links=$n n_hosts=$h")
    }
    // Golden pin of the full aggregate (deterministic function of
    // PageGen's output, seed 42, 1200 rows — regenerate from the
    // failure diff if the generator ever changes). Articles contribute
    // the 7-target frame; the boilerplate family its 8-target frame.
    val golden = Seq(
      ("/", "Home", 359L, 126L), ("/a", "News", 306L, 115L),
      ("/about", "About", 359L, 126L), ("/b", "Archive", 306L, 115L),
      ("/contact", "Contact", 53L, 27L), ("/news", "News", 53L, 27L),
      ("/r1", "Related one", 306L, 115L), ("/r2", "Related two", 306L, 115L),
      ("/rel1", "Related: market wrap", 53L, 27L),
      ("/rel2", "Related: sector movers", 53L, 27L),
      ("/share/fb", "Share on FB", 53L, 27L), ("/share/x", "Post", 53L, 27L),
      ("/sports", "Sports", 53L, 27L), ("/tech", "Tech", 53L, 27L),
      ("/terms", "Terms", 359L, 126L))
    assert(rows.toSeq == golden, s"golden drift:\n${rows.toSeq}\nvs\n$golden")
  }
}

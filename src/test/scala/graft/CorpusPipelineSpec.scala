package graft

import graft.app.CorpusPipeline
import graft.app.CorpusPipeline.Args
import graft.synth.PageGen
import org.apache.spark.sql.functions._

/** The one-command training-data pipeline: stage monotonicity, dedup
  * completeness, window well-formedness, decontamination, determinism.
  */
class CorpusPipelineSpec extends SparkSuite {

  test("end-to-end: stages shrink monotonically, output is dedup-clean and well-formed") {
    import spark.implicits._
    val out = tmpDir("cp_out")
    val stages = CorpusPipeline.run(spark, Args(rows = 800, out = out)).toMap
    // Flow: pages ≥ extracted ≥ quality ≥ exact ≥ near ≥ decontaminated.
    assert(stages("pages") == 800)
    assert(stages("extracted") <= stages("pages"))
    assert(stages("quality") <= stages("extracted"))
    assert(stages("exact_dedup") <= stages("quality"))
    assert(stages("near_dedup") <= stages("exact_dedup"))
    assert(stages("decontaminated") == stages("near_dedup")) // no eval set given
    // PageGen plants ~6% dup clusters → dedup must remove something.
    assert(stages("near_dedup") < stages("quality"))
    // Chunking expands, sampling shrinks.
    assert(stages("windows") >= stages("decontaminated"))
    assert(stages("sampled") < stages("windows"))

    val ws = spark.read.parquet(s"$out/training_windows")
    assert(ws.count() == stages("sampled"))
    // Windows are ≤50 tokens and text matches the token count.
    val bad = ws.where(col("n_toks") > 50 ||
      size(split(col("window_text"), " ")) =!= col("n_toks")).count()
    assert(bad == 0)
    // No duplicate (url, win_id) keys.
    assert(ws.select("url", "win_id").distinct().count() == ws.count())

    // Determinism: a rerun writes the identical sample.
    val out2 = tmpDir("cp_out2")
    CorpusPipeline.run(spark, Args(rows = 800, out = out2))
    val a = ws.select("url", "win_id", "window_text").as[(String, Int, String)]
      .collect().sorted
    val b = spark.read.parquet(s"$out2/training_windows")
      .select("url", "win_id", "window_text").as[(String, Int, String)]
      .collect().sorted
    assert(a.toSeq == b.toSeq)
  }

  test("--host-cap bounds every host's surviving docs and is a strict subset stage") {
    import spark.implicits._
    val out = tmpDir("cp_cap")
    val k = 3
    val stages = CorpusPipeline.run(spark, Args(rows = 800, out = out, hostCap = k)).toMap
    assert(stages.contains("host_capped"))
    assert(stages("host_capped") <= stages("near_dedup"))
    assert(stages("host_capped") < stages("near_dedup"),
      "PageGen's Zipf hosts must exceed a cap of 3 somewhere")
    assert(stages("decontaminated") == stages("host_capped"))
    // No host exceeds the cap in the shipped windows (url → host).
    val hosts = spark.read.parquet(s"$out/training_windows")
      .select(graft.queries.QueryUtil.urlHost(col("url")).as("host"), col("url"))
      .distinct().groupBy("host").count().as[(String, Long)].collect()
    assert(hosts.nonEmpty && hosts.forall(_._2 <= k),
      s"over-cap hosts: ${hosts.filter(_._2 > k).toSeq}")
  }

  test("--pack materializes fixed-length sequences that conserve every token") {
    import spark.implicits._
    val out = tmpDir("cp_pack")
    val stages = CorpusPipeline.run(spark,
      Args(rows = 600, out = out, window = 64, pack = true)).toMap
    val seqs = spark.read.parquet(s"$out/packed_sequences")
    assert(seqs.count() == stages("packed") && stages("packed") > 0)
    val rows = seqs.select("seq_id", "n_toks", "sequence_text").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    // Sequence ids are dense 0..n-1; every sequence except the last has
    // exactly L tokens; the text matches its own count.
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong))
    rows.init.foreach { case (id, n, txt) =>
      assert(n == 64, s"seq $id length"); assert(txt.split(" ").length == 64)
    }
    assert(rows.last._2 >= 1 && rows.last._2 <= 64)
    // Token conservation: packed token total == cleaned-corpus total.
    val packedToks = rows.map(_._2.toLong).sum
    val expected = (stages("packed") - 1) * 64 + rows.last._2
    assert(packedToks == expected)
    // Determinism: a rerun packs byte-identically.
    val out2 = tmpDir("cp_pack2")
    CorpusPipeline.run(spark, Args(rows = 600, out = out2, window = 64, pack = true))
    val again = spark.read.parquet(s"$out2/packed_sequences")
      .orderBy("seq_id").collect().map(_.toSeq).toSeq
    assert(again == seqs.orderBy("seq_id").collect().map(_.toSeq).toSeq)
  }

  test("--cluster collapses a transitive near-dup star to one representative; union-drop keeps the leaves") {
    import spark.implicits._
    // Star topology on 3-gram shingles: C shares >50% with A (common
    // prefix) and with B (common suffix), but A and B only share the
    // middle run (<50%). Verified pairs: (a,c),(b,c); no (a,b).
    val core = (1 to 40).map(i => s"core$i")
    def art(title: String, words: Seq[String]): String =
      s"""<html><head><title>$title</title></head><body>
         |<nav><ul><li><a href="/">Home</a></li><li><a href="/a">News</a></li></ul></nav>
         |<article><h1>$title</h1>
         |<p>${words.mkString(" ")}.</p>
         |</article>
         |<footer><a href="/about">About</a></footer>
         |</body></html>""".stripMargin
    val docs = Seq(
      ("https://x.example/a", art("alphadoc", core.take(32) ++ (1 to 8).map(i => s"aext$i"))),
      ("https://x.example/b", art("betadoc", core.drop(8) ++ (1 to 8).map(i => s"bext$i"))),
      ("https://x.example/c", art("gammadoc", core)),
      ("https://x.example/s1", art("soloone", (1 to 40).map(i => s"sone$i"))),
      ("https://x.example/s2", art("solotwo", (1 to 40).map(i => s"stwo$i"))),
      ("https://x.example/s3", art("solothree", (1 to 40).map(i => s"sthree$i"))))
    val inDir = tmpDir("cp_star_in")
    docs.toDF("url", "h").select(col("url"),
        col("h").cast("binary").as("html"), lit("en").as("lang"))
      .write.mode("overwrite").parquet(inDir)

    val greedy = CorpusPipeline.run(spark,
      Args(input = inDir, out = tmpDir("cp_star_g"))).toMap
    val clust = CorpusPipeline.run(spark,
      Args(input = inDir, out = tmpDir("cp_star_c"), cluster = true)).toMap
    assert(greedy("exact_dedup") == 6 && clust("exact_dedup") == 6)
    // Union-drop removes c (the larger url of both verified pairs) and
    // keeps a AND b — they are not near-dups of each other.
    assert(greedy("near_dedup") == 5, s"greedy stages: $greedy")
    // Components merge {a,b,c} transitively and keep only min-url a.
    assert(clust("near_dedup") == 4, s"cluster stages: $clust")
  }

  test("--span-dedup keeps one global copy of a repeated paragraph (C4 keep-first)") {
    import spark.implicits._
    // Three long docs sharing one exact boilerplate paragraph plus
    // unique bulk; the repeated paragraph must survive exactly once
    // corpus-wide, shrinking total window volume but dropping no docs.
    val sharedPara = (1 to 40).map(i => s"shared$i").mkString(" ")
    def art(tag: String): String = {
      val unique = (1 to 3).map(p =>
        s"<p>${(1 to 40).map(i => s"${tag}w${p}x$i").mkString(" ")}.</p>").mkString("\n")
      s"""<html><head><title>${tag}doc</title></head><body>
         |<article><h1>${tag}doc</h1>
         |<p>$sharedPara.</p>
         |$unique
         |</article>
         |</body></html>""".stripMargin
    }
    val docs = Seq("alpha", "beta", "gamma").map(t => (s"https://sp.example/$t", art(t)))
    val inDir = tmpDir("cp_span_in")
    docs.toDF("url", "h").select(col("url"),
        col("h").cast("binary").as("html"), lit("en").as("lang"))
      .write.mode("overwrite").parquet(inDir)

    val off = CorpusPipeline.run(spark,
      Args(input = inDir, out = tmpDir("cp_span_off"))).toMap
    val on = CorpusPipeline.run(spark,
      Args(input = inDir, out = tmpDir("cp_span_on"), spanDedup = true)).toMap
    assert(!off.contains("span_dedup"))
    // No doc is all-duplicates, so the stage drops paragraphs, not docs.
    assert(on("span_dedup") == on("near_dedup"), s"stages: $on")
    // Two of the three shared-paragraph copies are gone -> fewer windows.
    assert(on("windows") < off("windows"), s"on: $on / off: $off")
    // Determinism: a rerun reproduces the same stage counts.
    val on2 = CorpusPipeline.run(spark,
      Args(input = inDir, out = tmpDir("cp_span_on2"), spanDedup = true)).toMap
    assert(on2 == on)
  }

  test("decontamination stage drops exactly the eval-overlapping docs") {
    import spark.implicits._
    val out = tmpDir("cp_eval_out")
    val evalDir = tmpDir("cp_eval")
    // Build the eval set FROM two extracted documents — guaranteed overlap.
    val base = CorpusPipeline.run(spark, Args(rows = 300, out = out)).toMap
    val twoTexts = spark.read.parquet(s"$out/training_windows")
      .select(col("window_text").as("text")).limit(2)
    twoTexts.write.mode("overwrite").parquet(evalDir)

    val out2 = tmpDir("cp_eval_out2")
    val stages = CorpusPipeline.run(spark,
      Args(rows = 300, out = out2, evalPath = evalDir)).toMap
    assert(stages("decontaminated") < stages("near_dedup"),
      s"eval overlap must drop documents: $stages")
    assert(base("near_dedup") == stages("near_dedup")) // same corpus upstream
  }

  test("--stats persists well-formed, mass-conserving HLL/CMS sketch tables") {
    val out = tmpDir("cp_stats")
    val stages = CorpusPipeline.run(spark, Args(rows = 400, out = out, stats = true)).toMap
    assert(stages.contains("stats_hll_registers") && stages.contains("stats_cms_cells"))

    val regs = spark.read.parquet(s"$out/stats/hll_registers")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(regs.nonEmpty && regs.length == stages("stats_hll_registers"))
    regs.foreach { case (lang, bucket, r) =>
      assert(lang.nonEmpty && bucket >= 0 && bucket < 64 && r >= 1 && r <= 61,
        s"bad register ($lang, $bucket, $r)")
    }
    // ≤ 64 registers per lang, each (lang, bucket) key unique.
    assert(regs.distinct.length == regs.length)
    regs.groupBy(_._1).foreach { case (l, rs) => assert(rs.length <= 64, l) }

    val cells = spark.read.parquet(s"$out/stats/cms_counters")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(cells.nonEmpty && cells.length == stages("stats_cms_cells"))
    assert(cells.forall { case (row, cell, c) =>
      row >= 0 && row < 4 && cell >= 0 && cell < 256 && c > 0 })
    // Mass conservation: each CMS row counts every token exactly once,
    // so all 4 per-row sums are equal (= the cleaned corpus token count).
    val mass = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(mass.keySet == Set(0, 1, 2, 3))
    assert(mass.values.toSet.size == 1, s"unequal row masses: $mass")
  }

  test("--links writes the WAT sidecar for every page, pre-filtering, matching html.Links") {
    import spark.implicits._
    val out = tmpDir("cp_links")
    val stages = CorpusPipeline.run(spark, Args(rows = 400, out = out, links = true)).toMap
    val links = spark.read.parquet(s"$out/links")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(links.length == stages("links"))
    // Sidecar covers PRE-filter pages: recompute directly from the
    // generator and compare the full multiset.
    val expect = graft.synth.PageGen.generate(spark, 400)
      .collect().flatMap(p => graft.html.Links.records(p.url, p.html)
        .map { case (t, a) => (p.url, t, a) })
    assert(links.sorted.toSeq == expect.sorted.toSeq)
    // Binary/corrupted families contribute zero rows but HTML families
    // dominate the mix: the sidecar must be non-trivially populated.
    assert(links.length > 400, s"only ${links.length} links from 400 pages")
    // Every target resolved absolute against its source host.
    links.foreach { case (src, t, _) =>
      assert(t.startsWith("https://") || t.startsWith("http://"), s"$src -> $t")
    }
  }

  test("--provenance: dropped and surviving urls partition the input; dedup rows name a smaller representative") {
    val out = tmpDir("cp_prov")
    val stages = CorpusPipeline.run(spark,
      Args(rows = 800, out = out, provenance = true, cluster = true)).toMap
    val prov = spark.read.parquet(s"$out/provenance")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(prov.length.toLong == stages("provenance_drops"))
    // Every url is dropped AT MOST once (the first stage that drops it).
    assert(prov.map(_._1).distinct.length == prov.length, "url dropped twice")
    // Partition: drops + survivors == all input pages, disjoint by
    // construction (survivor count == the decontaminated stage).
    val allUrls = graft.synth.PageGen.generate(spark, 800).collect().map(_.url).toSet
    val dropped = prov.map(_._1).toSet
    assert(dropped.subsetOf(allUrls))
    assert((allUrls.size - dropped.size).toLong == stages("decontaminated"),
      s"${allUrls.size} - ${dropped.size} != ${stages("decontaminated")}")
    // Stage labels are the pipeline's own; dedup rows carry a STRICTLY
    // SMALLER representative url (min-url keep rule, both dedup stages),
    // which is itself an input url.
    val stagesSeen = prov.map(_._2).toSet
    assert(stagesSeen.subsetOf(Set("extract", "quality", "exact_dup", "near_dup")))
    // PageGen's planted dup clusters are byte-identical, so exact dedup
    // catches them all here (near-dup drops need near-but-not-exact
    // twins — the dedicated --cluster test plants those).
    assert(stagesSeen("exact_dup"),
      s"planted dup clusters must produce exact_dup drops, saw $stagesSeen")
    prov.filter(p => p._2 == "exact_dup" || p._2 == "near_dup").foreach {
      case (url, st, rep) =>
        assert(rep.nonEmpty && rep < url && allUrls(rep), s"$st $url -> '$rep'")
    }
    // The flag must not change the corpus: rerun without it and compare
    // the written sample.
    val out2 = tmpDir("cp_prov_off")
    CorpusPipeline.run(spark, Args(rows = 800, out = out2, cluster = true))
    val a = spark.read.parquet(s"$out/training_windows")
    val b = spark.read.parquet(s"$out2/training_windows")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("planted near-copies of PageGen articles: near_dedup drops exactly the copies, provenance names the originals") {
    import spark.implicits._
    // PageGen alone has no near-but-not-exact twins: its dup clusters are
    // byte-identical, so exact dedup takes them all before stage 4.
    val baseOut = tmpDir("cp_near_base")
    val base = CorpusPipeline.run(spark, Args(rows = 300, out = baseOut, provenance = true)).toMap
    assert(base("near_dedup") == base("exact_dedup"), s"base stages: $base")
    val dropped = spark.read.parquet(s"$baseOut/provenance").select("url")
      .as[String].collect().toSet
    // Four surviving UTF-8 articles, each copied under a larger url with
    // one added three-token paragraph (a verified pair at Jaccard ~0.9).
    val seed = 42L
    val picked = (0L until 300L).map(id => PageGen.contentId(seed, id) -> PageGen.row(seed, id))
      .filter { case (cid, p) => p.url.contains("/article/") && !dropped(p.url) &&
        PageGen.encodingVariant(seed, cid) >= 2 }
      .take(4)
    assert(picked.size == 4)
    val originals = picked.map(_._2)
    val copies = picked.map { case (cid, p) =>
      p.copy(url = p.url + "?near=1",
        html = PageGen.articleHtmlString(seed, cid, extraSentence = "planted kestrel marmot.")
          .getBytes("UTF-8"))
    }
    val inDir = tmpDir("cp_near_in")
    (PageGen.generate(spark, 300, seed).collect().toSeq ++ copies).toDS()
      .write.mode("overwrite").parquet(inDir)
    val out = tmpDir("cp_near")
    val stages = CorpusPipeline.run(spark, Args(input = inDir, out = out, provenance = true)).toMap
    assert(stages("exact_dedup") == base("exact_dedup") + 4, s"stages: $stages")
    assert(stages("near_dedup") == base("near_dedup"), s"stages: $stages")
    val near = spark.read.parquet(s"$out/provenance").where(col("stage") === "near_dup")
      .select("url", "detail").as[(String, String)].collect().toMap
    assert(near == copies.zip(originals).map { case (c, o) => c.url -> o.url }.toMap, near)
    // Each representative survives the whole run.
    val allDropped = spark.read.parquet(s"$out/provenance").select("url")
      .as[String].collect().toSet
    assert(originals.forall(o => !allDropped(o.url)))
  }

  test("--window/--stride < 1 are rejected by parseArgs and by Args, naming the flag") {
    for ((flag, v) <- Seq("--window" -> "0", "--stride" -> "0", "--stride" -> "-1")) {
      val e = intercept[IllegalArgumentException](
        CorpusPipeline.parseArgs(Array("--rows", "10", "--out", "o", flag, v)))
      assert(e.getMessage.contains(flag), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](Args(rows = 10, out = "o", stride = 0))
    assert(e.getMessage.contains("--stride"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](Args(rows = 10, out = "o", window = 0, pack = true))
    assert(e2.getMessage.contains("--window"), e2.getMessage)
  }

  test("every flag on: exact stage counts and output digests are pinned") {
    // Values taken from the pipeline before its stages were shared with
    // the queries; a change here is a change to the corpus.
    // Eval set: the extracted text of three of the corpus's own first
    // pages (PageGen is a pure function of (seed, id)).
    val evalDir = tmpDir("cp_pin_eval")
    graft.app.ExtractJob.extractKernel(graft.synth.PageGen.generate(spark, 40), "balanced")
      .where(col("success") && length(col("text")) > 0)
      .orderBy("url").limit(3).select("text")
      .write.mode("overwrite").parquet(evalDir)
    val out = tmpDir("cp_pin")
    val stages = CorpusPipeline.run(spark, Args(rows = 600, out = out, evalPath = evalDir,
      cluster = true, spanDedup = true, pack = true, hostCap = 5, stats = true,
      links = true, provenance = true))
    // Order-free digest of a dataset: its schema plus its sorted rows.
    def digest(dir: String): String = {
      val df = spark.read.parquet(s"$out/$dir")
      val rows = df.collect().map(_.mkString("\u0001")).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update((df.schema.simpleString +: rows).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest().map("%02x".format(_)).mkString
    }
    val digests = Seq("links", "provenance", "training_windows", "packed_sequences",
      "stats/hll_registers", "stats/cms_counters").map(d => d -> digest(d))
    assert(stages == Seq[(String, Long)]("pages" -> 600, "links" -> 1418,
      "extracted" -> 578, "quality" -> 438, "exact_dedup" -> 146, "near_dedup" -> 146,
      "host_capped" -> 102, "span_dedup" -> 102, "decontaminated" -> 101,
      "stats_hll_registers" -> 320, "stats_cms_cells" -> 283, "windows" -> 183,
      "sampled" -> 92, "packed" -> 131, "provenance_drops" -> 499), stages)
    assert(digests == Seq(
      "links" -> "342779167f8ea2f209305057af3a92b1",
      "provenance" -> "03ddf3468afa34e85037e374f71510ca",
      "training_windows" -> "8440fb4ede4a30def34ccb0945841a68",
      "packed_sequences" -> "9748e15a5cb45462836c596279ca189e",
      "stats/hll_registers" -> "9567b7c857f8e651aea5c0aa0a9d50fa",
      "stats/cms_counters" -> "c8b753374a6af22110e4c93a0fd0d4e9"), digests)
  }

  test("rerun without --provenance clears a stale provenance sidecar") {
    val out = tmpDir("cp_prov_rerun")
    CorpusPipeline.run(spark, Args(rows = 200, out = out, provenance = true))
    assert(new java.io.File(s"$out/provenance").exists(), "first run must write the sidecar")
    CorpusPipeline.run(spark, Args(rows = 200, out = out))
    assert(!new java.io.File(s"$out/provenance").exists(),
      "stale provenance sidecar survived a run without --provenance")
  }
}

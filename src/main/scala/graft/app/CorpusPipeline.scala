package graft.app

import graft.queries.QueryUtil._
import graft.queries.Sketch
import graft.synth.PageGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full training-data pipeline as ONE spark-submit command — the
  * composition every individual operator in this library exists for:
  *
  *   pages → extract (kernel) → quality filter (Gopher subset)
  *         → exact dedup (md5 groupBy) → near-dup dedup (MinHash-LSH +
  *           exact-Jaccard verify) → paragraph-span dedup (C4
  *           keep-first, optional) → decontaminate (eval 5-gram
  *           overlap, optional) → token-window chunking → stratified
  *           sampling → training_windows parquet + per-stage row counts
  *
  * Every stage is the operator shape verified by the q-series oracles
  * (q22/q24p/q53/q56/q57/q58/q60/q62); this main wires them into the
  * one-command path a corpus run actually executes, with stage metrics
  * for the lineage record. Scale shapes are inherited: the kernel is
  * map-only, dedup shuffles only compact digests/signatures, the eval
  * shingle set broadcasts, chunking/sampling are map-only.
  *
  * Usage:
  *   CorpusPipeline (--rows N [--seed S] | --input path) --out DIR
  *     [--eval path] [--window W] [--stride S] [--quality q] [--cluster]
  *     [--span-dedup] [--pack] [--host-cap K] [--stats] [--links]
  *     [--provenance]
  */
object CorpusPipeline {

  final case class Args(
      rows: Long = 0L,
      seed: Long = 42L,
      input: String = "",
      out: String = "",
      evalPath: String = "",
      window: Int = 50,
      stride: Int = 40,
      quality: String = "balanced",
      cluster: Boolean = false,
      spanDedup: Boolean = false,
      pack: Boolean = false,
      hostCap: Int = 0,
      stats: Boolean = false,
      links: Boolean = false,
      provenance: Boolean = false)

  def parseArgs(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--rows" => a = a.copy(rows = argv(i + 1).toLong); i += 2
        case "--seed" => a = a.copy(seed = argv(i + 1).toLong); i += 2
        case "--input" => a = a.copy(input = argv(i + 1)); i += 2
        case "--out" => a = a.copy(out = argv(i + 1)); i += 2
        case "--eval" => a = a.copy(evalPath = argv(i + 1)); i += 2
        case "--window" => a = a.copy(window = argv(i + 1).toInt); i += 2
        case "--stride" => a = a.copy(stride = argv(i + 1).toInt); i += 2
        case "--quality" => a = a.copy(quality = argv(i + 1)); i += 2
        case "--cluster" => a = a.copy(cluster = true); i += 1
        case "--span-dedup" => a = a.copy(spanDedup = true); i += 1
        case "--pack" => a = a.copy(pack = true); i += 1
        case "--host-cap" => a = a.copy(hostCap = argv(i + 1).toInt); i += 2
        case "--stats" => a = a.copy(stats = true); i += 1
        case "--links" => a = a.copy(links = true); i += 1
        case "--provenance" => a = a.copy(provenance = true); i += 1
        case other => throw new IllegalArgumentException(s"unknown arg: $other")
      }
    }
    require(a.out.nonEmpty, "--out is required")
    require(a.rows > 0 || a.input.nonEmpty, "--rows or --input is required")
    a
  }

  /** Run the pipeline; returns (stage → surviving row count), in order. */
  def run(spark: SparkSession, a: Args): Seq[(String, Long)] = {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val stages = Vector.newBuilder[(String, Long)]

    val pagesDf =
      if (a.input.nonEmpty) TableIO.read(spark, a.input)
      else PageGen.generate(spark, a.rows, a.seed).toDF()
    // Count the UNTYPED frame: for a parquet input Spark answers this
    // from footer metadata without materializing a single row (the
    // typed count would deserialize the whole table just for a metric).
    stages += "pages" -> pagesDf.count()

    // 0.5. Link-record sidecar (optional, --links): the WAT analog —
    // per-page (resolved target, anchor) records written beside the
    // corpus BEFORE any filtering: the crawl graph wants EVERY page,
    // including ones quality/dedup will drop (q89's PageRank and
    // frontier scheduling consume this table; x65 is the query twin).
    // Map-only flatMap over the payload — nothing shuffles; the write
    // is the whole cost.
    if (a.links) {
      pagesDf.select("url", "html").as[(String, Array[Byte])]
        .flatMap { case (url, html) => graft.html.Links.records(url, html)
          .map { case (t, anchor) => (url, t, anchor) } }
        .toDF("src_url", "target", "anchor")
        .write.mode("overwrite").parquet(s"${a.out}/links")
      stages += "links" -> spark.read.parquet(s"${a.out}/links").count()
    }

    // Provenance sidecar (optional, --provenance): one row per DROPPED
    // document naming the stage that dropped it and — for the dedup
    // stages — the surviving representative, the audit record corpus
    // governance needs ("why is this url not in the training set?").
    // Each piece is APPENDED while its stage's inputs are still cached,
    // so the flag never recomputes the kernel; drop detection is a
    // url-keyed anti-join per stage (the honest cost of the audit).
    // Every run clears the sidecar first, flag or no flag: an earlier
    // run's rows would otherwise sit beside this run's corpus and read
    // as its drops.
    val provPath = s"${a.out}/provenance"
    val provDir = new org.apache.hadoop.fs.Path(provPath)
    provDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(provDir, true)
    def recordDrops(df: DataFrame): Unit =
      if (a.provenance)
        df.select("url", "stage", "detail").write.mode("append").parquet(provPath)
    def diffDrops(before: DataFrame, after: DataFrame, stage: String): Unit =
      if (a.provenance)
        recordDrops(before.select("url")
          .join(after.select("url"), Seq("url"), "left_anti")
          .withColumn("stage", lit(stage)).withColumn("detail", lit("")))

    // 1. Extraction (slim schema — the corpus path).
    val extracted = ExtractJob.extractKernel(pagesDf, a.quality, slim = true)
      .where(col("success") && length(col("text")) > 0)
      .select("url", "lang", "text", "word_count").persist()
    stages += "extracted" -> extracted.count()
    diffDrops(pagesDf, extracted, "extract")

    // 2. Quality filter — a deliberately LOOSER Gopher-style subset than
    // the oracle-verified q56 operator: mean_word_len bounds [2,12] here
    // vs q56's [3,10], and q56's symbol-ratio/ellipsis filters are
    // omitted. The pipeline keeps marginal docs that downstream dedup
    // would drop anyway; use queries.WebOps q56 for the strict filter.
    val withToks = extracted.withColumn("toks", tokens(col("text")))
      .withColumn("n_toks", size(col("toks")))
      .where(col("n_toks") >= 5)
      // greatest(…,1): predicate pushdown may reorder the quality
      // predicates before the n_toks filter; under ANSI (Spark 4
      // default) a zero divisor then throws instead of filtering.
      .withColumn("mean_word_len",
        aggregate(col("toks"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
          greatest(col("n_toks"), lit(1)))
      .withColumn("alpha_frac",
        size(filter(col("toks"), x => x.rlike("[a-z]"))).cast("double") /
          greatest(col("n_toks"), lit(1)))
    val quality = withToks
      .where(col("mean_word_len") >= 2 && col("mean_word_len") <= 12 &&
        col("alpha_frac") >= 0.8)
      .select("url", "lang", "text", "toks").persist()
    stages += "quality" -> quality.count()
    diffDrops(extracted, quality, "quality")
    extracted.unpersist()

    // 3. Exact dedup: one shuffle on the 128-bit digest, min url
    // survives (the whole-partition min window == the previous
    // row_number-over-url form — url is the table's identity key per
    // the north rule, as app.TwoPass documents; duplicate-url input is
    // malformed — and it names the representative the provenance rows
    // record).
    val ranked = quality
      .withColumn("digest", md5(col("text")))
      .withColumn("rep", min("url").over(
        org.apache.spark.sql.expressions.Window.partitionBy("digest")))
    val exact = ranked.where(col("url") === col("rep"))
      .drop("rep", "digest").persist()
    stages += "exact_dedup" -> exact.count()
    recordDrops(ranked.where(col("url") =!= col("rep"))
      .select(col("url"), lit("exact_dup").as("stage"), col("rep").as("detail")))
    quality.unpersist()

    // 4. Near-dup dedup: q24p sketch (xxhash64 minhash, 8 bands × 2) →
    // exact-Jaccard verify → drop the larger url of every verified pair
    // (deterministic union-drop; the clustering variant is q35).
    // Semantics note — the union-drop and the --cluster variant differ on
    // TRANSITIVE families. Union-drop removes the larger url of every
    // verified pair: the survivor set contains no verified pair, but a
    // doc may be dropped "for" a doc that was itself dropped (A~B~C with
    // A!~C keeps only A even though C is no near-dup of A), and a star
    // (A~C, B~C, A!~B) keeps both A and B. --cluster routes the verified
    // pairs through q35's connected-components logic and keeps exactly
    // ONE representative (min url) per transitive component — the
    // standard corpus-dedup choice (collapses the star to A alone).
    // The pairs are q24p's, keyed by url (queries.Sketch owns the hash
    // family, the band join and the verify).
    val sk = Sketch.sketch(exact, idCol = "url").localCheckpoint()
    val verified = Sketch.nearDupPairs(sk, Sketch.bandRows(sk, idCol = "url"),
      "url", "url_a", "url_b")
    // Drop set carries the representative: cluster mode's label IS the
    // kept min-url representative; union-drop names the smallest
    // verified partner (which may itself have been dropped for another
    // — the documented union-drop chain semantics).
    val dropDetailed =
      (if (a.cluster)
        connectedComponents(verified)
          .where(col("node") =!= col("label"))
          .select(col("node").as("url"), col("label").as("detail"))
      else verified.groupBy("url_b").agg(min("url_a").as("detail"))
        .withColumnRenamed("url_b", "url")).distinct()
    val dropUrls = dropDetailed.select("url")
    val nearDeduped0 = exact.join(dropUrls, Seq("url"), "left_anti").persist()
    stages += "near_dedup" -> nearDeduped0.count()
    recordDrops(dropDetailed.withColumn("stage", lit("near_dup")))
    exact.unpersist()

    // 4.5. Per-host cap (optional, q80 shape): at most --host-cap docs
    // per url host, chosen by deterministic md5(url) rank — RefinedWeb-
    // style domain balancing so one mega-host can't dominate the
    // training mix. One shuffle on host; q80's in-file note covers the
    // algebraic top-K replacement for the window at 10^12 scale.
    val nearDeduped = if (a.hostCap <= 0) nearDeduped0 else {
      import org.apache.spark.sql.expressions.Window
      val kept = nearDeduped0
        // Shared canonicalizer-grade host key (QueryUtil.urlHost):
        // lowercase + www/port strip so case/www twins share one quota,
        // and schemeless urls stay their own key instead of collapsing
        // into a single ""-host that a cap would silently decimate.
        .withColumn("host", urlHost(col("url")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("host").orderBy(md5(col("url")), col("url"))))
        .where(col("rk") <= a.hostCap).drop("rk", "host").persist()
      stages += "host_capped" -> kept.count()
      diffDrops(nearDeduped0, kept, "host_cap")
      nearDeduped0.unpersist()
      kept
    }

    // 5. Paragraph-span dedup (optional, q62 shape): C4's "discard all
    // but one of any span occurring more than once", at paragraph
    // granularity over the extracted text's real line breaks. Keep-first
    // = the single global row_number()==1 occurrence per paragraph
    // ordered by (url, pidx) — unique paragraphs are their own first
    // occurrence, so one window handles both. Docs whose every
    // paragraph was a repeat drop out with the empty-text filter.
    val spanned = if (!a.spanDedup) nearDeduped else {
      import org.apache.spark.sql.expressions.Window
      val paras = nearDeduped
        .select(col("url"), col("lang"), posexplode(filter(
          transform(split(col("text"), "\n"), p => trim(p)), p => p =!= ""))
          .as(Seq("pidx", "para")))
      val w0 = Window.partitionBy("para").orderBy("url", "pidx")
      val rebuilt = paras.withColumn("occ", row_number().over(w0))
        .where(col("occ") === 1)
        .groupBy("url", "lang")
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pidx"), col("para")))),
          t => t.getField("para"))).as("text"))
        .where(length(col("text")) > 0)
        .withColumn("toks", tokens(col("text")))
        .persist()
      stages += "span_dedup" -> rebuilt.count()
      // Only FULL drops (every paragraph was a repeat) are provenance
      // rows; surviving docs with some paragraphs removed keep their
      // url in the corpus and are not "dropped".
      diffDrops(nearDeduped, rebuilt, "span_dedup")
      nearDeduped.unpersist()
      rebuilt
    }

    // 6. Decontamination (optional): drop docs sharing a 5-gram with the
    // eval set; the eval shingle set broadcasts (q60 shape).
    val clean = if (a.evalPath.nonEmpty) {
      val evalSh = spark.read.parquet(a.evalPath)
        // Materialize toks first (inlining tokens(text) into the shingle
        // lambda re-runs the regex per element_at) and explode_OUTER so
        // Catalyst doesn't re-inline the shingle pipeline into an
        // inferred size()>0 scan filter — the q60 pathology, BENCH.md.
        .withColumn("toks", tokens(col("text")))
        .select(explode_outer(shingles5(col("toks"))).as("shingle"))
        .where(col("shingle").isNotNull).distinct()
      val contaminated = spanned
        .select(col("url"), explode_outer(shingles5(col("toks"))).as("shingle"))
        .join(broadcast(evalSh), Seq("shingle"))
        .select("url").distinct()
      recordDrops(contaminated
        .withColumn("stage", lit("decontaminated")).withColumn("detail", lit("")))
      spanned.join(contaminated, Seq("url"), "left_anti").persist()
    } else spanned
    stages += "decontaminated" -> clean.count()

    // 6.5. Corpus-statistics sketches (optional, q82/q83 shape): the
    // HLL register table (per-lang distinct-shingle summary) and CMS
    // counter table (term-frequency summary) of the FINAL cleaned
    // corpus, persisted under $out/stats/. These are the mergeable
    // fixed-size summaries downstream mixture design reads instead of
    // re-scanning the corpus; a later incremental run folds its own
    // tables in by register-max / counter-sum (SketchStats scaladoc,
    // StreamingSketchSpec proves the fold). Cost: one pass over toks,
    // output a few hundred rows.
    if (a.stats) {
      import graft.queries.SketchStats
      val sh = clean
        .select(col("lang"), explode_outer(shingles3(col("toks"))).as("g"))
        .where(col("g").isNotNull)
      SketchStats.hllRegisters(sh, "g", "lang")
        .write.mode("overwrite").parquet(s"${a.out}/stats/hll_registers")
      SketchStats.cmsCounters(
        clean.select(explode(col("toks")).as("term")), "term")
        .write.mode("overwrite").parquet(s"${a.out}/stats/cms_counters")
      stages += "stats_hll_registers" ->
        spark.read.parquet(s"${a.out}/stats/hll_registers").count()
      stages += "stats_cms_cells" ->
        spark.read.parquet(s"${a.out}/stats/cms_counters").count()
    }

    // 7. Token-window chunking (q57 shape).
    val w = a.window; val st = a.stride
    val windows = clean
      .withColumn("n", size(col("toks")))
      .withColumn("win_id", explode(sequence(lit(0),
        ceil(greatest(col("n") - w, lit(0)).cast("double") / st).cast("int"))))
      .withColumn("win", slice(col("toks"), col("win_id") * st + 1, lit(w)))
      .select(col("url"), col("lang"), col("win_id"),
        size(col("win")).as("n_toks"),
        concat_ws(" ", col("win")).as("window_text")).persist()
    stages += "windows" -> windows.count()

    // 8. Stratified sampling (q58 thresholds: en 80% / de 50% / * 20%),
    // keyed on (url, win_id) so the sample is reproducible.
    val h = substring(md5(concat(col("url"), lit("#"), col("win_id"))), 1, 2)
    val sampled = windows.where(
      when(col("lang") === "en", h < "cc")
        .when(col("lang") === "de", h < "80")
        .otherwise(h < "33"))
    sampled.write.mode("overwrite").parquet(s"${a.out}/training_windows")
    val nSampled = spark.read.parquet(s"${a.out}/training_windows").count()
    stages += "sampled" -> nSampled

    // 9. Sequence PACKING (optional, q75 shape, materialized): all
    // cleaned docs concatenated in a deterministic order and chopped
    // into fixed --window-token training sequences — the padding-free
    // alternative to per-doc windows. Order key = md5(url) (urls are
    // not dense ids, so the q75 doc_id buckets become the digest's
    // first 4 hex chars — 65,536 uniformly-filled buckets that
    // PARTITION the order: ~15M docs/bucket at the 10^12 design point,
    // one parallel window task each, while the global window sees only
    // the 65,536 bucket rows); offsets come from the same two-level
    // distributed prefix sum, then tokens regroup by global position
    // div L. One token-level shuffle — the honest cost of materializing
    // packed sequences.
    if (a.pack) {
      import org.apache.spark.sql.expressions.Window
      val L = a.window
      val t = clean
        .withColumn("okey", md5(col("url")))
        .withColumn("bucket", conv(substring(col("okey"), 1, 4), 16, 10).cast("long"))
        .withColumn("n_toks", size(col("toks")))
      val bp = t.groupBy("bucket").agg(sum("n_toks").as("btoks"))
        .withColumn("bucket_offset", coalesce(sum("btoks").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "bucket_offset")
      val wOff = Window.partitionBy("bucket").orderBy("okey", "url")
        .rowsBetween(Window.unboundedPreceding, -1)
      val seqs = t.join(broadcast(bp), "bucket")
        .withColumn("tok_offset",
          col("bucket_offset") + coalesce(sum("n_toks").over(wOff), lit(0L)))
        .select(col("tok_offset"), posexplode(col("toks")).as(Seq("tidx", "tok")))
        .withColumn("seq_id", expr(s"(tok_offset + tidx) div $L"))
        .withColumn("gpos", col("tok_offset") + col("tidx"))
        .groupBy("seq_id")
        .agg(count(lit(1)).cast("int").as("n_toks"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("gpos"), col("tok")))),
            x => x.getField("tok"))).as("sequence_text"))
      seqs.write.mode("overwrite").parquet(s"${a.out}/packed_sequences")
      stages += "packed" -> spark.read.parquet(s"${a.out}/packed_sequences").count()
    }

    if (a.provenance) {
      // Explicit schema: a run that dropped nothing appends no part
      // files, and schema inference over a _SUCCESS-only dir would fail.
      import org.apache.spark.sql.types._
      val provSchema = StructType(Seq(StructField("url", StringType),
        StructField("stage", StringType), StructField("detail", StringType)))
      stages += "provenance_drops" ->
        spark.read.schema(provSchema).parquet(provPath).count()
    }

    windows.unpersist(); clean.unpersist()
    if (clean ne spanned) spanned.unpersist()
    // nearDeduped is unpersisted inside the span stage when it ran.

    stages.result()
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = SparkUtil.session("graft-corpus-pipeline")
    val t0 = System.nanoTime()
    val stages = run(spark, a)
    val secs = (System.nanoTime() - t0) / 1e9
    val stageJson = stages.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(f"""{"pipeline":"corpus","stages":{$stageJson},"sec":$secs%.3f}""")
    spark.stop()
  }
}

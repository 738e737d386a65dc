package graft.app

import graft.model.ExtractionRecord
import graft.queries.QueryUtil._
import graft.queries.{PipelineOps, Sketch, TextOps, TrainOps}
import graft.synth.PageGen
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
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
  * Shared stages call their query's one oracle-checked implementation:
  *  - links sidecar: PipelineOps.linkRecords (x65);
  *  - near-dup dedup: Sketch.sketch / bandRows / nearDupPairs (q24p);
  *  - host cap: TrainOps.hostRank (q80, q84);
  *  - span dedup: TextOps.firstParagraphs / joinParagraphs (q62), on
  *    line-break paragraphs joined by "\n", not q62's 10-token runs;
  *  - decontamination: TrainOps.shingleSet / shingleHits (q60);
  *  - windows: TrainOps.tokenWindows (q57), at --window/--stride;
  *  - sampling: TrainOps.sampleKept (q58), keyed on url#win_id;
  *  - packing: TrainOps.prefixOffsets (q75), bucketed on md5(url).
  * Two stages differ from their query on purpose: the quality filter is
  * looser than q56's, and exact dedup keys on the raw md5(text), not
  * q22's normalized digest. Scale shapes are inherited: the kernel is
  * map-only, dedup shuffles only compact digests/signatures, the eval
  * shingle set broadcasts, chunking/sampling are map-only.
  *
  * Each stage is one call to `run`'s local `stage` step, the one owner of
  * the protocol: cache the kept frame, count it, write its drops to
  * provenance (`recordDrops`, the one writer), release the frame it
  * replaced. The sidecar outputs go through one `sidecar` step: write,
  * then count by reading back. A `finally` releases whatever the run
  * cached, also when a stage throws. The order of the run's Spark
  * actions is a contract: perfbench's `corpus_pipeline` maps the
  * non-provenance actions to stages by position and spots provenance
  * writes by the `recordDrops` frame on their call stack.
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
      provenance: Boolean = false) {
    // A zero stride or window divides by zero in the windows and
    // packing stages, after extraction and every dedup stage has run.
    require(window >= 1, s"--window must be >= 1, got $window")
    require(stride >= 1, s"--stride must be >= 1, got $stride")
    // 0 means "no cap"; a negative cap would read as no cap too.
    require(hostCap >= 0, s"--host-cap must be >= 0, got $hostCap")
  }

  // Usage:
  //   CorpusPipeline (--rows N [--seed S] | --input path) --out DIR
  //     [--eval path] [--window W] [--stride S] [--quality q] [--cluster]
  //     [--span-dedup] [--pack] [--host-cap K] [--stats] [--links]
  //     [--provenance]
  private val flags: Map[String, Flags.Flag[Args]] = Map(
    "--rows" -> Flags.Valued((a, v) => a.copy(rows = v.long)),
    "--seed" -> Flags.Valued((a, v) => a.copy(seed = v.long)),
    "--input" -> Flags.Valued((a, v) => a.copy(input = v.str)),
    "--out" -> Flags.Valued((a, v) => a.copy(out = v.str)),
    "--eval" -> Flags.Valued((a, v) => a.copy(evalPath = v.str)),
    "--window" -> Flags.Valued((a, v) => a.copy(window = v.int)),
    "--stride" -> Flags.Valued((a, v) => a.copy(stride = v.int)),
    "--quality" -> Flags.Valued((a, v) => a.copy(quality = v.str)),
    "--cluster" -> Flags.Switch(_.copy(cluster = true)),
    "--span-dedup" -> Flags.Switch(_.copy(spanDedup = true)),
    "--pack" -> Flags.Switch(_.copy(pack = true)),
    "--host-cap" -> Flags.Valued((a, v) => a.copy(hostCap = v.int)),
    "--stats" -> Flags.Switch(_.copy(stats = true)),
    "--links" -> Flags.Switch(_.copy(links = true)),
    "--provenance" -> Flags.Switch(_.copy(provenance = true)))

  def parseArgs(argv: Array[String]): Args = {
    val a = Flags.parse(argv, Args(), flags)
    require(a.out.nonEmpty, "--out is required")
    require(a.rows > 0 || a.input.nonEmpty, "--rows or --input is required")
    a
  }

  /** Run the pipeline; returns (stage → surviving row count), in order. */
  def run(spark: SparkSession, a: Args): Seq[(String, Long)] = {
    val stages = Vector.newBuilder[(String, Long)]
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // Provenance sidecar (optional, --provenance): one row per DROPPED
    // url naming the stage that dropped it and, for dedup, the surviving
    // representative. Each piece is appended while its stage's inputs
    // are still cached (a url-keyed anti-join per stage; the kernel never
    // reruns).
    val provPath = s"${a.out}/provenance"
    def recordDrops(df: => DataFrame): Unit =
      if (a.provenance)
        df.select("url", "stage", "detail").write.mode("append").parquet(provPath)

    // Cache `kept` (a pass-through, `kept` eq `prev`, is only counted) and
    // count it. A stage that drops rows records them, the explicit `drops`
    // or, labelled `lost`, every url of `prev` that `kept` lacks, and then
    // releases `prev` if this run cached it; any other stage keeps `prev`.
    def stage(name: String, prev: DataFrame, kept: DataFrame,
        lost: String = "", drops: Option[DataFrame] = None): DataFrame = {
      if (kept ne prev) cached += kept.persist()
      stages += name -> kept.count()
      if (lost.nonEmpty || drops.nonEmpty) {
        recordDrops(drops.getOrElse(prev.select("url")
          .join(kept.select("url"), Seq("url"), "left_anti")
          .withColumn("stage", lit(lost)).withColumn("detail", lit(""))))
        val i = cached.indexWhere(_ eq prev)
        if (i >= 0) cached.remove(i).unpersist()
      }
      kept
    }

    // Sidecar outputs (name, df, dir): write every `df` under $out/`dir`,
    // then count each by reading it back (--stats writes both tables
    // before either read-back).
    def sidecar(outs: (String, DataFrame, String)*): Unit = {
      for ((_, df, dir) <- outs) df.write.mode("overwrite").parquet(s"${a.out}/$dir")
      for ((name, _, dir) <- outs) stages += name -> spark.read.parquet(s"${a.out}/$dir").count()
    }

    try {
      val pagesDf =
        if (a.input.nonEmpty) TableIO.read(spark, a.input)
        else PageGen.generate(spark, a.rows, a.seed).toDF()
      // Count the UNTYPED frame: for a parquet input Spark answers this
      // from footer metadata without materializing a single row (the
      // typed count would deserialize the whole table just for a metric).
      stage("pages", pagesDf, pagesDf)

      // 0.5. Link-record sidecar (optional, --links): the WAT analog, over
      // EVERY page before any filtering — the crawl graph (q89's PageRank,
      // frontier scheduling) wants the pages quality/dedup will drop too.
      if (a.links) sidecar(("links", PipelineOps.linkRecords(pagesDf), "links"))

      // Every run clears the provenance sidecar first, flag or no flag, so
      // an earlier run's rows never read as this run's drops.
      val provDir = new org.apache.hadoop.fs.Path(provPath)
      provDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(provDir, true)

      // 1. Extraction. The typed filter runs on the kernel's records
      // before they are encoded, so the select sits right on the encoder
      // and Spark encodes only its four columns. A column filter would
      // sit between them and keep the nested per-page columns encoded.
      val extracted = stage("extracted", pagesDf,
        ExtractJob.extractKernel(pagesDf, a.quality).as(Encoders.product[ExtractionRecord])
          .filter(r => r.success && r.text.nonEmpty)
          .select("url", "lang", "text", "word_count"), lost = "extract")

      // 2. Quality filter, deliberately LOOSER than q56: mean_word_len in
      // [2,12] vs [3,10], no symbol-ratio/ellipsis filters. Marginal docs
      // that dedup would drop anyway stay; WebOps q56 is the strict filter.
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
      val quality = stage("quality", extracted, withToks
        .where(col("mean_word_len") >= 2 && col("mean_word_len") <= 12 &&
          col("alpha_frac") >= 0.8)
        .select("url", "lang", "text", "toks"), lost = "quality")

      // 3. Exact dedup on the raw md5(text), not q22's normalized digest:
      // one shuffle on the digest; the min url survives (url is this
      // pipeline's row key: provenance and near-dup pairs are keyed by it)
      // and is the provenance representative.
      val ranked = quality
        .withColumn("digest", md5(col("text")))
        .withColumn("rep", min("url").over(
          org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      val exact = stage("exact_dedup", quality,
        ranked.where(col("url") === col("rep")).drop("rep", "digest"),
        drops = Some(ranked.where(col("url") =!= col("rep"))
          .select(col("url"), lit("exact_dup").as("stage"), col("rep").as("detail"))))

      // 4. Near-dup dedup: q24p's verified pairs keyed by url. Default
      // union-drop removes the larger url of every verified pair: no
      // verified pair survives, but a doc may be dropped "for" a dropped
      // doc (A~B~C, A!~C keeps only A) and a star (A~C, B~C, A!~B) keeps A
      // and B. --cluster keeps ONE representative (min url) per connected
      // component (q35's logic), the standard corpus-dedup choice.
      val sk = Sketch.sketch(exact, idCol = "url").localCheckpoint()
      val verified = Sketch.nearDupPairs(sk, Sketch.bandRows(sk, idCol = "url"),
        "url", "url_a", "url_b")
      // The drop detail is the representative: the component label, or
      // the smallest verified partner (which may itself be dropped).
      val dropDetailed =
        (if (a.cluster)
          connectedComponents(verified)
            .where(col("node") =!= col("label"))
            .select(col("node").as("url"), col("label").as("detail"))
        else verified.groupBy("url_b").agg(min("url_a").as("detail"))
          .withColumnRenamed("url_b", "url")).distinct()
      val nearDeduped0 = stage("near_dedup", exact,
        exact.join(dropDetailed.select("url"), Seq("url"), "left_anti"),
        drops = Some(dropDetailed.withColumn("stage", lit("near_dup"))))

      // 4.5. Per-host cap (optional, q80's rank): at most --host-cap docs
      // per host by md5(url) rank, so one mega-host can't dominate the mix.
      // urlHost lowercases and strips www/port, so twins share one quota
      // and schemeless urls keep their own key.
      val nearDeduped = if (a.hostCap <= 0) nearDeduped0 else
        stage("host_capped", nearDeduped0, nearDeduped0
          .withColumn("host", urlHost(col("url")))
          .withColumn("rk", TrainOps.hostRank(md5(col("url")), col("url")))
          .where(col("rk") <= a.hostCap).drop("rk", "host"), lost = "host_cap")

      // 5. Paragraph-span dedup (optional, q62's keep-first): C4's
      // "discard all but one of any span occurring more than once", at
      // paragraph granularity over the extracted text's real line breaks.
      // Docs whose every paragraph was a repeat drop out with the
      // empty-text filter; only those FULL drops are provenance rows.
      val spanned = if (!a.spanDedup) nearDeduped else {
        val paras = nearDeduped
          .select(col("url"), col("lang"), posexplode(filter(
            transform(split(col("text"), "\n"), p => trim(p)), p => p =!= ""))
            .as(Seq("pidx", "para")))
        stage("span_dedup", nearDeduped, TextOps.firstParagraphs(paras, "url")
          .groupBy("url", "lang")
          .agg(TextOps.joinParagraphs("\n").as("text"))
          .where(length(col("text")) > 0)
          .withColumn("toks", tokens(col("text"))), lost = "span_dedup")
      }

      // 6. Decontamination (optional): drop docs sharing a 5-gram with the
      // eval set; the eval shingle set broadcasts (q60's stages). toks is
      // materialized first: inlining tokens(text) into the shingle lambda
      // re-runs the regex per element_at. Without --eval the stage is a
      // pass-through, counted only.
      val clean = if (a.evalPath.isEmpty) stage("decontaminated", spanned, spanned) else {
        val evalSh = TrainOps.shingleSet(spark.read.parquet(a.evalPath)
          .withColumn("toks", tokens(col("text")))
          .withColumn("sh", shingles5(col("toks"))))
        val contaminated = TrainOps.shingleHits(
            spanned.withColumn("sh", shingles5(col("toks"))), "url", evalSh)
          .select("url").distinct()
        stage("decontaminated", spanned, spanned.join(contaminated, Seq("url"), "left_anti"),
          drops = Some(contaminated
            .withColumn("stage", lit("decontaminated")).withColumn("detail", lit(""))))
      }

      // 6.5. Corpus-statistics sketches (optional, q82/q83 shape): HLL
      // registers (per-lang distinct shingles) and CMS counters (term
      // frequency) of the final corpus under $out/stats/ — mergeable
      // fixed-size summaries a later run folds in by register-max /
      // counter-sum (CorpusOpsSpec proves both merges).
      if (a.stats) {
        import graft.queries.SketchStats
        val sh = clean
          .select(col("lang"), explode_outer(shingles3(col("toks"))).as("g"))
          .where(col("g").isNotNull)
        sidecar(
          ("stats_hll_registers", SketchStats.hllRegisters(sh, "g", "lang"),
            "stats/hll_registers"),
          ("stats_cms_cells", SketchStats.cmsCounters(
            clean.select(explode(col("toks")).as("term")), "term"), "stats/cms_counters"))
      }

      // 7. Token-window chunking (q57's windows). Drops nothing, so
      // `clean` stays cached for the packing stage.
      val windows = stage("windows", clean, TrainOps.tokenWindows(
          clean.withColumn("n", size(col("toks"))), a.window, a.stride)
        .select(col("url"), col("lang"), col("win_id"),
          size(col("win")).as("n_toks"),
          concat_ws(" ", col("win")).as("window_text")))

      // 8. Stratified sampling (q58's rates: en 80% / de 50% / * 20%),
      // keyed on (url, win_id) so the sample is reproducible.
      sidecar(("sampled", windows.where(TrainOps.sampleKept(col("lang"),
        concat(col("url"), lit("#"), col("win_id")))), "training_windows"))

      // 9. Sequence PACKING (optional, q75's prefix sum): cleaned docs
      // concatenated in md5(url) order and chopped into --window-token
      // sequences, the padding-free alternative to per-doc windows. The
      // buckets are the digest's first 4 hex chars: 65,536 uniform buckets
      // that partition the order (~15M docs each at 10^12). One
      // token-level shuffle regroups the tokens by position div L.
      if (a.pack) {
        val L = a.window
        val t = clean
          .withColumn("okey", md5(col("url")))
          .withColumn("bucket", conv(substring(col("okey"), 1, 4), 16, 10).cast("long"))
          .withColumn("n_toks", size(col("toks")))
        sidecar(("packed", TrainOps.prefixOffsets(t, col("okey"), col("url"))
          .select(col("tok_offset"), posexplode(col("toks")).as(Seq("tidx", "tok")))
          .withColumn("seq_id", expr(s"(tok_offset + tidx) div $L"))
          .withColumn("gpos", col("tok_offset") + col("tidx"))
          .groupBy("seq_id")
          .agg(count(lit(1)).cast("int").as("n_toks"),
            concat_ws(" ", transform(
              array_sort(collect_list(struct(col("gpos"), col("tok")))),
              x => x.getField("tok"))).as("sequence_text")), "packed_sequences"))
      }

      // Explicit schema: a run that dropped nothing appends no part
      // files, and schema inference over a _SUCCESS-only dir would fail.
      if (a.provenance) stages += "provenance_drops" ->
        spark.read.schema("url STRING, stage STRING, detail STRING").parquet(provPath).count()

      stages.result()
    } finally {
      // Newest first: no frame is uncached while a cached frame built on
      // it remains (Spark re-checks such dependents on every uncache).
      cached.reverseIterator.foreach(_.unpersist())
    }
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

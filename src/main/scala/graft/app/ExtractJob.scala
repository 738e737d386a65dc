package graft.app

import graft.extract.{PayloadMemo, Processor}
import graft.jobs.{Checkpoint, LineageRow}
import graft.json.PyJson
import graft.model.{Enums, ExtractionRecord, KernelPage, Page}
import graft.synth.PageGen
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The extraction pipeline as a spark-submit batch job (SURVEY.md §3.1's
  * Spark lifecycle + §4.4 physical plan of record):
  *
  *   scan(pages, pushed filters) → project → [map-only] ExtractKernel
  *     → exchange(bucket) → observe(lineage) → write results
  *       partitionBy(bucket) → append lineage rows
  *
  * Scale design decisions (10^12-row design point):
  *  - **No payload shuffle.** Extraction is embarrassingly parallel; the
  *    html payload column dominates bytes, so the kernel stage is map-only
  *    — the scan's input splits are the parallelism. The only exchange is
  *    of compact post-kernel records, clustering output files by bucket:
  *    each wave writes exactly one file per bucket.
  *  - **Explicit bucket partitioning** for lineage/resume: bucket =
  *    pmod(xxhash64(url), B). xxhash64 spreads Zipfian hosts uniformly,
  *    so bucket sizes are balanced regardless of host skew; skew in
  *    per-row work is handled by input-split granularity + AQE.
  *  - **Idempotent resume** (north rule): results are written with
  *    dynamic partition overwrite per bucket; a bucket's lineage row is
  *    appended only after its results are durable. On restart, completed
  *    buckets are skipped (driver-side isin filter — never a join/shuffle
  *    since B is small); incomplete buckets are rewritten atomically.
  *    Waves (`--wave-size`) bound how much work one commit covers.
  *  - **Lineage from the write.** A wave's per-bucket counts (docs,
  *    ok_docs, words) are observed in the write job's result stage, not
  *    read back from the table afterwards. They are exactly the committed
  *    rows: Spark merges a result task's accumulator updates once per
  *    partition and ignores later attempts of a finished partition;
  *    failed attempts' updates are never merged; a write task succeeds
  *    only once its commit is authorized; and a failed job commit throws
  *    before any lineage row is built.
  *  - **Per-task payload memo.** Each kernel task keeps the record of a
  *    payload it sees a second time and reuses it for later copies,
  *    with `url` and `lang` taken from the row (extract.PayloadMemo).
  *    The saving scales with the share of a task's rows that repeat an
  *    earlier payload byte for byte: 76.5% on the standard PageGen
  *    table, 5.9% on its crawl-size rows, unmeasured on real crawls.
  *    Payloads seen once are not kept, which spares the GC on
  *    low-repeat input. It is exact: a hit needs the full payload bytes
  *    to be equal, and a record depends only on `(html, quality)` apart
  *    from `url` and `lang`, an invariant ProcessorSpec pins. Admission
  *    stops once the entries' estimated heap (payload, texts and a
  *    per-entry allowance) reaches a fixed 16 MB per task. Copies that
  *    land in different tasks are not shared.
  */
object ExtractJob {

  final case class Args(
      rows: Long = 0L,
      seed: Long = 42L,
      input: String = "",
      out: String = "",
      checkpoint: String = "",
      runId: String = "run-default",
      quality: String = "balanced",
      lang: String = "",
      buckets: Int = 64,
      waveSize: Int = 0, // 0 → all remaining buckets in one wave
      inputFormat: String = "table", // table (parquet/iceberg via TableIO) | warc
      // Corpus-scale output schema: flat per-document columns only
      // (model.SlimRecord) — drops the nested per-page structs whose
      // encoding is pure lineage-debug detail at 10^12 rows.
      slim: Boolean = false,
      // I4 completion notification (reference service/jobs.py:231-247
      // fire-and-forget webhook): on job completion a one-line JSON
      // summary is written ATOMICALLY (tmp + rename) to this path. The
      // filesystem is the sandbox-safe delivery seam — in a cluster
      // deployment the same payload goes to the webhook URL; consumers
      // watch for the file exactly as they would receive the POST.
      notifyPath: String = "",
      // I4 transport parity with the reference's fire-and-forget webhook
      // (service/jobs.py:231-247 POSTs {job_id,status,...} and ignores
      // failures): POST the same one-line JSON summary to this URL.
      // Independent of --notify; both may be set. Failures are logged,
      // never fatal, and never retried — exactly the reference's
      // contract. (Orchestrators that can't receive HTTP use the file
      // seam instead.)
      notifyUrl: String = "",
      // K6 two-pass cascade (TwoPass.extract): cheap `fast` kernel over
      // everything, `accurate` re-extraction of the docs pass 1 flags,
      // better result kept per document (adds a `pass` column to the
      // output schema).
      twoPass: Boolean = false) {
    // Zero buckets would leave no work: the job would write nothing and
    // report success. Any other format would silently be read as a table.
    // --wave-size defaults to 0 (one wave); a negative value would
    // silently mean the same.
    require(buckets >= 1, s"--buckets must be >= 1, got $buckets")
    require(inputFormat == "table" || inputFormat == "warc",
      s"--input-format must be table or warc, got '$inputFormat'")
    require(waveSize >= 0, s"--wave-size must be >= 0, got $waveSize")
  }

  /** WARC pages carry no lang until the kernel runs, and WARC without
    * --input would generate PageGen rows: either way a flag would be
    * ignored. These checks span two fields, so they run on the finished
    * Args (parseArgs, run), not in its constructor: `Flags.parse` builds
    * Args one flag at a time, and `--input-format warc --input x` passes
    * through a copy with no input yet.
    */
  private def requireWarcFlags(a: Args): Unit = if (a.inputFormat == "warc") {
    require(a.input.nonEmpty, "--input-format warc needs --input (a WARC file or directory)")
    require(a.lang.isEmpty, "--lang does not apply to --input-format warc (WARC pages carry no lang)")
  }

  // Usage:
  //   ExtractJob (--rows N [--seed S] | --input path) --out DIR
  //     [--checkpoint DIR] [--run-id ID] [--quality q] [--lang xx]
  //     [--buckets B] [--wave-size W] [--input-format table|warc] [--slim]
  //     [--notify PATH] [--notify-url URL] [--two-pass]
  private val flags: Map[String, Flags.Flag[Args]] = Map(
    "--rows" -> Flags.Valued((a, v) => a.copy(rows = v.long)),
    "--seed" -> Flags.Valued((a, v) => a.copy(seed = v.long)),
    "--input" -> Flags.Valued((a, v) => a.copy(input = v.str)),
    "--out" -> Flags.Valued((a, v) => a.copy(out = v.str)),
    "--checkpoint" -> Flags.Valued((a, v) => a.copy(checkpoint = v.str)),
    "--run-id" -> Flags.Valued((a, v) => a.copy(runId = v.str)),
    "--quality" -> Flags.Valued((a, v) => a.copy(quality = v.str)),
    "--lang" -> Flags.Valued((a, v) => a.copy(lang = v.str)),
    "--buckets" -> Flags.Valued((a, v) => a.copy(buckets = v.int)),
    "--wave-size" -> Flags.Valued((a, v) => a.copy(waveSize = v.int)),
    "--input-format" -> Flags.Valued((a, v) => a.copy(inputFormat = v.str)),
    "--slim" -> Flags.Switch(_.copy(slim = true)),
    "--notify" -> Flags.Valued((a, v) => a.copy(notifyPath = v.str)),
    "--notify-url" -> Flags.Valued((a, v) => a.copy(notifyUrl = v.str)),
    "--two-pass" -> Flags.Switch(_.copy(twoPass = true)))

  def parseArgs(argv: Array[String]): Args = {
    val a = Flags.parse(argv, Args(), flags)
    require(a.out.nonEmpty, "--out is required")
    require(a.rows > 0 || a.input.nonEmpty, "--rows or --input is required")
    requireWarcFlags(a)
    a
  }

  /** API-boundary quality gate (reference service/main.py:390-394 regex;
    * router.py:134-136 normalization): invalid → balanced.
    */
  def normalizeQuality(q: String): String =
    if (Enums.Qualities.contains(q)) q else Enums.Balanced

  def bucketExpr(buckets: Int): Column = pmod(xxhash64(col("url")), lit(buckets)).cast("int")

  /** The extraction kernel stage — the one place Spark runs the kernel.
    * Takes any frame carrying url/html/lang and projects to exactly those
    * columns (model.KernelPage) before the stage, so a parquet scan's
    * ReadSchema never includes the unused golden `text` or `warc_ts`.
    * The stage is opaque to Catalyst: every other pruning or filtering
    * must happen before this call (SURVEY.md §4.2 obligation 1).
    * `quality` is normalized here, so every caller's rows carry a valid
    * quality.
    */
  def extractKernel(pages: Dataset[_], quality: String,
      slim: Boolean = false): DataFrame = {
    val q = normalizeQuality(quality)
    kernelStage(pages, Processor.default.extract(_, q), slim)
  }

  /** The stage itself, running `kernel` once per row: one extraction at
    * a fixed quality (extractKernel) or the two-pass cascade
    * (TwoPass.extract). `kernel` must be pure in `html` apart from the
    * `url` and `lang` it copies from the row (extract.PayloadMemo).
    */
  private[app] def kernelStage(pages: Dataset[_],
      kernel: KernelPage => ExtractionRecord, slim: Boolean): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val in = pages.select("url", "html", "lang").as[KernelPage]
    // One payload memo per task (extract.PayloadMemo): a repeated
    // payload is extracted once, and the memo is dropped with the task.
    if (slim)
      in.mapPartitions { it =>
        val memo = new PayloadMemo(kernel)
        it.map(p => memo.extract(p).toSlim)
      }.toDF()
    else
      in.mapPartitions { it =>
        val memo = new PayloadMemo(kernel)
        it.map(memo.extract)
      }.toDF()
  }

  def loadPages(spark: SparkSession, a: Args): Dataset[Page] = {
    import spark.implicits._
    val df =
      if (a.inputFormat == "warc")
        // Raw crawl archives: one task per archive file (WARC is the
        // crawl's natural split granularity); no lang column until the
        // kernel runs, so requireWarcFlags rejects --lang with it.
        graft.sources.Warc.readPages(spark, a.input).toDF()
      else if (a.input.nonEmpty) TableIO.read(spark, a.input)
      else PageGen.generate(spark, a.rows, a.seed).toDF()
    // Pushed-down predicates + projection BEFORE the opaque kernel.
    val filtered = if (a.lang.nonEmpty) df.where(col("lang") === a.lang) else df
    filtered.select("url", "warc_ts", "html", "text", "lang").as[Page]
  }

  /** Run the job; returns per-wave lineage rows (also appended to the
    * checkpoint table when one is configured).
    */
  def run(spark: SparkSession, a0: Args): Seq[LineageRow] = {
    requireWarcFlags(a0)
    val a = a0.copy(quality = normalizeQuality(a0.quality))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val pages = loadPages(spark, a)
    val done = if (a.checkpoint.nonEmpty)
      Checkpoint.completedBuckets(spark, a.checkpoint, a.runId) else Set.empty[Int]
    val remaining = (0 until a.buckets).filterNot(done)
    if (remaining.isEmpty) {
      notifyCompletion(a, Nil)
      return Nil
    }

    val waveSize = if (a.waveSize <= 0) remaining.size else a.waveSize
    val waves = remaining.grouped(waveSize).toVector
    val allRows = Vector.newBuilder[LineageRow]

    // Multi-wave runs previously re-scanned the FULL input once per wave
    // (ceil(B/w) scans with --wave-size w — each wave's isin() filter
    // still reads everything). One staging pass now derives the bucket
    // column and writes the projected kernel input partitioned by
    // bucket; each wave then reads ONLY its bucket directories
    // (partition pruning). Cost: one extra write of the projected
    // input; win: input scans drop from ceil(B/w) to one — the
    // difference between unusable and fine at 100 TB with small waves
    // (and for WARC input the archives are parsed once, not per wave).
    // Single-wave runs — the default — keep the direct path: no staging
    // write, exactly one input scan.
    val staging: Option[String] =
      if (waves.length <= 1) None
      else {
        // One directory per run, beside the output: the finally below
        // removes all of it, and never another run's staging.
        val dir = s"${a.out}_staging_${a.runId}"
        pages.toDF()
          .select(col("url"), col("html"), col("lang"))
          .withColumn("bucket", bucketExpr(a.buckets))
          // Cluster rows by bucket before the partitionBy write so file
          // count ≈ B, not tasks × B.
          .repartition(col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
        Some(dir)
      }

    try waves.foreach { wave =>
      val waveSet = wave.toSet
      val sub = staging match {
        case Some(dir) =>
          spark.read.parquet(dir)
            .where(col("bucket").isin(wave.map(Integer.valueOf): _*))
        case None =>
          pages.toDF().where(
            if (waveSet.size == a.buckets) lit(true)
            else bucketExpr(a.buckets).isin(wave.map(Integer.valueOf): _*))
      }
      // --two-pass is the fast→accurate cascade the Args doc promises:
      // pass 2 always runs `accurate`. --quality governs the single-pass
      // path only.
      val recs0 = (if (a.twoPass) TwoPass.extract(sub, slim = a.slim)
                   else extractKernel(sub, a.quality, a.slim))
        .withColumn("bucket", bucketExpr(a.buckets))
      // Cluster output files by bucket: one exchange of the COMPACT
      // post-kernel records (raw html never shuffles — it's dropped by
      // the kernel). Without this, a partitionBy write from T tasks
      // produces T×B files — at 10^5 tasks that's millions of tiny
      // files; with it, one file per bucket. AQE coalesces the exchange.
      val (recs, lineage) = observeLineage(recs0, a.buckets)

      // dynamic overwrite: only this wave's buckets are replaced
      val tWrite0 = System.nanoTime()
      TableIO.overwritePartitions(recs, a.out, "bucket")
      val tWrite = (System.nanoTime() - tWrite0) / 1e9

      // Lineage from the write's own result stage, complete once the
      // write returns: no read-back. Exactly the committed rows: each
      // partition's update merges once, failed attempts' never do, and
      // a failed job commit has thrown before this line.
      val totals = lineage.get("totals").asInstanceOf[Seq[Long]]
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      // Buckets with zero rows still count as completed.
      val rows = wave.map { b =>
        val (docs, ok) = (totals(3 * b), totals(3 * b + 1))
        LineageRow(a.runId, b, "completed", docs, ok, docs - ok, totals(3 * b + 2),
          if (a.twoPass) TwoPass.Quality else a.quality, now)
      }
      // Phase diagnostics (stderr, ops-only): the kernel+write job's wall
      // time and what it committed.
      System.err.println(
        f"[extract-job] wave ${wave.head}-${wave.last}: write ${tWrite}%.1f s, " +
        s"docs ${rows.map(_.docs).sum}, ok ${rows.map(_.ok_docs).sum}, " +
        s"errors ${rows.map(_.error_docs).sum}, words ${rows.map(_.words).sum}")
      if (a.checkpoint.nonEmpty) Checkpoint.append(spark, a.checkpoint, rows)
      allRows ++= rows
    }
    // finally: a failed wave must not leak the staging copy of the
    // input (near-input-sized — tens of TB at the design point). A
    // checkpoint-resume rerun rebuilds staging from the source, so
    // deleting it on failure loses no state.
    finally staging.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val result = allRows.result()
    notifyCompletion(a, result)
    result
  }

  /** One wave's write frame: `recs` clustered by bucket under a fresh
    * observation of its per-bucket totals. The observation sits above the
    * exchange, so it runs in the write job's result stage and counts the
    * rows that stage commits.
    */
  private[app] def observeLineage(recs: DataFrame, buckets: Int): (DataFrame, Observation) = {
    val obs = Observation()
    val totals = udaf(new BucketTotals(buckets)).apply(col("bucket"), col("success"), col("word_count"))
    (recs.repartition(col("bucket")).observe(obs, totals.as("totals")), obs)
  }

  /** (bucket, success, word_count) rows summed per bucket into one array:
    * slot 3b holds bucket b's docs, 3b+1 its ok_docs, 3b+2 its words.
    */
  private final class BucketTotals(buckets: Int)
      extends Aggregator[(Int, Boolean, Int), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](3 * buckets)
    def reduce(acc: Array[Long], r: (Int, Boolean, Int)): Array[Long] = {
      val i = 3 * r._1
      acc(i) += 1
      if (r._2) acc(i + 1) += 1
      acc(i + 2) += r._3
      acc
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(acc: Array[Long]): Array[Long] = acc
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** I4: deliver the completion notification over the configured
    * transports — atomic file write (`--notify`) and/or HTTP POST
    * (`--notify-url`, the reference's webhook contract,
    * service/jobs.py:231-247). Each transport fails independently and
    * non-fatally: notification is fire-and-forget on both paths.
    */
  private[app] def notifyCompletion(a: Args, rows: Seq[LineageRow]): Unit = {
    if (a.notifyPath.isEmpty && a.notifyUrl.isEmpty) return
    val docs = rows.map(_.docs).sum
    val errors = rows.map(_.error_docs).sum
    val status = if (rows.nonEmpty) "completed" else "noop"
    // run_id/out are caller-supplied: unescaped, a quote in a path
    // produces an unparseable notification for a job that succeeded.
    val json =
      s"""{"job":"extract","run_id":${PyJson.quote(a.runId)},"status":"$status",""" +
      s""""docs":$docs,"error_docs":$errors,"buckets_done":${rows.length},""" +
      s""""out":${PyJson.quote(a.out)}}"""
    if (a.notifyPath.nonEmpty) try {
      val target = java.nio.file.Paths.get(a.notifyPath)
      if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Exception =>
        System.err.println(s"[extract] notify failed (non-fatal): ${e.getMessage}")
    }
    if (a.notifyUrl.nonEmpty) try {
      val conn = new java.net.URL(a.notifyUrl).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      // Bounded timeouts: a dead receiver must not hang job completion —
      // the reference's POST is equally best-effort.
      conn.setConnectTimeout(5000)
      conn.setReadTimeout(5000)
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val body = json.getBytes("UTF-8")
      conn.setFixedLengthStreamingMode(body.length)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val code = conn.getResponseCode // forces the exchange
      if (code < 200 || code >= 300)
        System.err.println(s"[extract] notify-url returned $code (non-fatal)")
      conn.disconnect()
    } catch {
      case e: Exception =>
        System.err.println(s"[extract] notify-url failed (non-fatal): ${e.getMessage}")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val spark = SparkUtil.session("graft-extract")
    val t0 = System.nanoTime()
    val rows = run(spark, a)
    val secs = (System.nanoTime() - t0) / 1e9
    val docs = rows.map(_.docs).sum
    println(f"""{"job":"extract","run_id":${PyJson.quote(a.runId)},"docs":$docs,"buckets_done":${rows.length},"sec":$secs%.3f,"docs_per_sec":${docs / math.max(secs, 1e-9)}%.1f}""")
    spark.stop()
  }
}

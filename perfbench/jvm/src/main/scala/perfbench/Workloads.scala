package perfbench

import graft.app.{CorpusPipeline, ExtractJob, TableIO}
import graft.extract.Processor
import graft.model.KernelPage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one closed-loop operation of a workload produced, reduced to the
  * values its output checks compare.
  */
final case class RepOut(summary: Map[String, Any])

/** A benchmark workload: seeded input, one repeatable operation, output
  * checks, and the attribution of a traced operation's Spark stages to the
  * workload's phases.
  */
trait Workload {
  def name: String
  /** Input rows one operation processes (the numerator of `docs_per_s`). */
  def rows: Long
  /** Operations timed per run at least, however short `--seconds` is. */
  def minReps: Int
  /** Discarded operations before timing starts. */
  def warmups: Int
  /** A traced run's (untraced, traced) operation pairs. */
  def tracedPairs: Int = 2
  /** Where this run's pinned values sit in the expected file: a group
    * and a key in it.
    */
  def pinKey(seed: Long): (String, String) = name -> s"$rows:$seed"
  /** Writes the seeded input table. */
  def generate(spark: SparkSession, seed: Long, input: String): Unit
  /** Opens the input, as a fresh session's first action. */
  def open(spark: SparkSession, input: String): Unit = TableIO.read(spark, input).count()
  /** Input properties recorded beside the results. */
  def properties(spark: SparkSession, input: String): Map[String, Any] = Inputs.properties(spark, input)
  def run(spark: SparkSession, input: String, out: String): RepOut
  /** Called once per run, before any rep is checked. */
  def prepareChecks(spark: SparkSession, input: String, pin: Option[Map[String, Any]]): Seq[String]
  /** Problems with this rep's output; empty when it is correct. */
  def check(spark: SparkSession, out: String, rep: RepOut): Seq[String]
  /** Proves the checks catch a one-byte change in one url's output. */
  def selfTest(spark: SparkSession, out: String): Boolean
  /** Values pinned per seed in the expected file. */
  def pinValues: Map[String, Any]
  /** Per-layer metrics of one traced operation. */
  def attribute(spark: SparkSession, rec: Recorder, t0Ms: Long, t1Ms: Long, out: String): Seq[(String, Double)]
  /** Per-layer metrics an untraced operation carries in its own output. */
  def repLayers(rep: RepOut): Seq[(String, Double)] = Nil
  /** Per-layer metrics measured once, after the traced operations, given
    * the medians of the traced ones.
    */
  def directLayers(spark: SparkSession, input: String, layers: Map[String, Double]): Seq[(String, Double)] = Nil
  /** Whether a traced run also times one operation in a local[1] session. */
  def scaling: Boolean = false
}

/** A workload over a page table (url, html, lang, ...): its traced run
  * also times the kernel by direct calls on rows of its own input.
  */
abstract class PageWorkload extends Workload {
  override def scaling: Boolean = true
  def kernelSampleSize: Int
  /** In-Spark task seconds of the stage that runs the kernel. */
  def kernelTaskS(layers: Map[String, Double]): Double

  /** Rows for the direct-call kernel budget. */
  def kernelSample(spark: SparkSession, input: String, n: Int): Array[KernelPage] = {
    import spark.implicits._
    val total = rows max 1L
    val k = math.max(1L, total / n)
    TableIO.read(spark, input).where(pmod(xxhash64(col("url")), lit(k)) === 0)
      .select("url", "html", "lang").as[KernelPage].collect().take(n)
  }

  override def directLayers(spark: SparkSession, input: String, layers: Map[String, Double]): Seq[(String, Double)] = {
    val scanS = Phase.median((1 to 2).map { _ =>
      val t0 = Main.now()
      TableIO.read(spark, input).select("url", "html", "lang")
        .write.format("noop").mode("overwrite").save()
      Main.now() - t0
    })
    val kernel = KernelLayers.measure(kernelSample(spark, input, kernelSampleSize), 5)
    val inSparkUs = kernelTaskS(layers) / rows * 1e6
    val directUs = kernel.toMap.apply("Processor.extract_us")
    kernel ++ Seq(
      "TableIO.scan_s" -> scanS,
      "kernel.spark_overhead_frac" -> (if (inSparkUs > 0) 1.0 - directUs / inSparkUs else 0.0))
  }
}

object Workloads {
  /** `tables` is the table directory the query workloads read. */
  def byName(name: String, tables: String): Option[Workload] = name match {
    case "extract_mixed" => Some(new ExtractWorkload(name, 100000L, crawl = false, 4000))
    case "extract_crawlsize" => Some(new ExtractWorkload(name, 3000L, crawl = true, 300))
    case "corpus_pipeline" => Some(new CorpusWorkload(250L))
    case "query_suite" => Some(new QueryWorkload(name, tables, QueryWorkload.timed))
    case "query_suite_all" => Some(new QueryWorkload(name, tables, QueryWorkload.all))
    case _ => None
  }

  def files(cpus: Int): Int = 4 * cpus

  /** Parquet files under `path`, recursively. */
  def parquetFiles(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}

/** `ExtractJob.run` (slim, 64 buckets, one wave) over a seeded table. */
final class ExtractWorkload(val name: String, val rows: Long, crawl: Boolean,
    val kernelSampleSize: Int) extends PageWorkload {
  val minReps = 4
  val warmups = 3

  private var refDigest = ""

  def generate(spark: SparkSession, seed: Long, input: String): Unit = {
    val files = Workloads.files(spark.sparkContext.defaultParallelism)
    Inputs.write(if (crawl) Inputs.crawl(spark, rows, seed, files)
                 else Inputs.mixed(spark, rows, seed, files), input)
  }

  def run(spark: SparkSession, input: String, out: String): RepOut = {
    val lineage = ExtractJob.run(spark, ExtractJob.Args(input = input, out = out,
      buckets = 64, slim = true))
    RepOut(Map("lineage_docs" -> lineage.map(_.docs).sum, "buckets" -> lineage.size))
  }

  /** Reference digest from direct kernel calls on every input row, outside
    * the job (no bucketing, exchange, write or read-back).
    */
  def prepareChecks(spark: SparkSession, input: String, pin: Option[Map[String, Any]]): Seq[String] = {
    import spark.implicits._
    val direct = TableIO.read(spark, input).select("url", "html", "lang").as[KernelPage]
      .mapPartitions { it =>
        val proc = Processor.default
        it.map { p => val r = proc.extract(p, "balanced"); (r.url, r.success, r.text, r.word_count) }
      }.toDF(Checks.ExtractCols: _*)
    refDigest = Checks.digest(direct, Checks.ExtractCols)
    pin.flatMap(_.get("digest")).map(_.toString).filter(_ != refDigest)
      .map(p => s"direct-call digest $refDigest differs from pinned $p").toSeq
  }

  def check(spark: SparkSession, out: String, rep: RepOut): Seq[String] = {
    val got = Checks.digest(TableIO.read(spark, out), Checks.ExtractCols)
    Seq(
      Option.when(rep.summary("lineage_docs") != rows)(s"lineage docs ${rep.summary("lineage_docs")} != $rows"),
      Option.when(rep.summary("buckets") != 64)(s"lineage buckets ${rep.summary("buckets")} != 64"),
      Option.when(got != refDigest)(s"output digest $got != reference $refDigest")).flatten
  }

  def selfTest(spark: SparkSession, out: String): Boolean =
    Checks.digest(Checks.flipOneByte(TableIO.read(spark, out)), Checks.ExtractCols) != refDigest

  def pinValues: Map[String, Any] = Map("digest" -> refDigest)

  /** The operation's wall time split into contiguous phases bounded by
    * listener events: `plan` (start → first stage: input listing, schema
    * read, planning), `extract_stage` (the stage that scans, runs the
    * kernel and writes shuffle output), `write_stage` (the stages that
    * write files), `commit` (last write task → end of the write action:
    * job commit and file moves) and `lineage` (end of the write action →
    * end of the operation: output listing and the lineage roll-up). The
    * gap between the kernel and write stages (adaptive re-planning) and
    * anything else left over is `app.unattributed_frac`.
    */
  def attribute(spark: SparkSession, rec: Recorder, t0Ms: Long, t1Ms: Long, out: String): Seq[(String, Double)] = {
    val ss = rec.stages
    val writes = ss.filter(_.outputMb > 0)
    val firstWrite = if (writes.isEmpty) Int.MaxValue else writes.map(_.id).min
    val extract = ss.filter(s => s.id < firstWrite && s.shuffleWriteMb > 0)
    val writeDone = if (writes.isEmpty) t1Ms else writes.map(_.completeMs).max
    val writeAction = rec.actions.find(_.jobs.exists(_.stageIds.contains(firstWrite)))
    val actionDone = writeAction.map(a => math.max(a.endMs, writeDone)).getOrElse(writeDone)
    val lineage = ss.filter(_.submitMs >= actionDone)
    val firstStage = (extract ++ writes).map(_.submitMs).minOption.getOrElse(t1Ms)
    val planS = (firstStage - t0Ms) / 1e3
    val commitS = (actionDone - writeDone) / 1e3
    val lineageS = (t1Ms - actionDone) / 1e3
    val wallS = (t1Ms - t0Ms) / 1e3
    val attributed = planS + Phase.spanS(extract) + Phase.spanS(writes) + commitS + lineageS
    Phase.metrics("extract_stage", extract) ++ Phase.metrics("write_stage", writes) ++
      Phase.metrics("lineage", lineage).map {
        case ("lineage.wall_s", _) => "lineage.wall_s" -> lineageS
        case kv => kv
      } ++ Seq(
        "commit.wall_s" -> commitS,
        "plan.wall_s" -> planS,
        "app.unattributed_frac" -> (if (wallS > 0) 1.0 - attributed / wallS else 0.0),
        "TableIO.write_mb" -> writes.map(_.outputMb).sum,
        "TableIO.write_files" -> Workloads.parquetFiles(spark, out).toDouble,
        "exchange.shuffle_write_mb" -> ss.map(_.shuffleWriteMb).sum,
        "exchange.spill_mb" -> ss.map(_.spillMb).sum)
  }

  def kernelTaskS(layers: Map[String, Double]): Double = layers.getOrElse("extract_stage.task_s", 0.0)
}

/** `CorpusPipeline.run --provenance` over crawl-size pages. */
final class CorpusWorkload(val rows: Long) extends PageWorkload {
  val name = "corpus_pipeline"
  // Operations still get faster for several runs after the warm-ups; a
  // median of four is steadier on that curve than more warm-ups are.
  val minReps = 4
  val warmups = 2
  val kernelSampleSize = 200

  private var pin: Option[Map[String, Any]] = None
  private var first: Option[Map[String, Any]] = None

  def generate(spark: SparkSession, seed: Long, input: String): Unit =
    Inputs.write(Inputs.crawl(spark, rows, seed,
      Workloads.files(spark.sparkContext.defaultParallelism)), input)

  def run(spark: SparkSession, input: String, out: String): RepOut = {
    val stages = CorpusPipeline.run(spark, CorpusPipeline.Args(input = input, out = out,
      provenance = true))
    RepOut(Map("stages" -> stages.toMap))
  }

  def prepareChecks(spark: SparkSession, input: String, p: Option[Map[String, Any]]): Seq[String] = {
    pin = p; first = None; Nil
  }

  private def outputs(spark: SparkSession, out: String, rep: RepOut): Map[String, Any] = Map(
    "stages" -> rep.summary("stages"),
    "training_windows" -> Checks.digest(spark.read.parquet(s"$out/training_windows"), Checks.WindowCols),
    "provenance" -> Checks.digest(spark.read.parquet(s"$out/provenance"), Checks.ProvenanceCols))

  def check(spark: SparkSession, out: String, rep: RepOut): Seq[String] = {
    val got = outputs(spark, out, rep)
    val st = got("stages").asInstanceOf[Map[String, Long]]
    def s(k: String) = st.getOrElse(k, -1L)
    val invariants = Seq(
      Option.when(s("pages") != rows)(s"pages ${s("pages")} != $rows"),
      Option.when(!(s("extracted") >= s("quality") && s("quality") >= s("exact_dedup") &&
        s("exact_dedup") >= s("near_dedup") && s("near_dedup") > 0))(s"stage counts not monotone: $st"),
      Option.when(s("provenance_drops") != s("pages") - s("near_dedup"))(
        s"provenance rows ${s("provenance_drops")} != dropped urls ${s("pages") - s("near_dedup")}"))
    if (first.isEmpty) first = Some(got)
    val stable = Option.when(first.get != got)(s"outputs differ between reps: ${first.get} vs $got")
    val pinned = pin.toSeq.flatMap { p =>
      got.keys.toSeq.sorted.flatMap(k => p.get(k).filter(_ != normalise(got(k)))
        .map(v => s"$k ${normalise(got(k))} != pinned $v"))
    }
    invariants.flatten ++ stable ++ pinned
  }

  private def normalise(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> x.toString }
    case x => x.toString
  }

  def selfTest(spark: SparkSession, out: String): Boolean = {
    val tw = spark.read.parquet(s"$out/training_windows").withColumnRenamed("window_text", "text")
    Checks.digest(Checks.flipOneByte(tw).withColumnRenamed("text", "window_text"), Checks.WindowCols) !=
      first.map(_("training_windows")).getOrElse("")
  }

  def pinValues: Map[String, Any] = first.map(_.map { case (k, v) => k -> normalise(v) }).getOrElse(Map.empty)

  /** Pipeline stages are the actions `CorpusPipeline.run` takes, in order.
    * Actions whose call stack passes through the provenance helpers are
    * the provenance sidecar; the remaining SQL actions, in order, are the
    * row counts (and the sample write) that close each stage. A job run
    * outside SQL belongs to the stage of the next SQL action.
    */
  private val plan: Seq[String] = Seq("extract", "extract", "quality", "exact_dedup",
    "near_dedup", "near_dedup", "near_dedup", "windows", "sample_write", "sample_write", "provenance")
  val stageNames: Seq[String] =
    Seq("extract", "quality", "exact_dedup", "near_dedup", "windows", "sample_write", "provenance")

  def attribute(spark: SparkSession, rec: Recorder, t0Ms: Long, t1Ms: Long, out: String): Seq[(String, Double)] = {
    val actions = rec.actions
    def isProv(a: Action) = a.details.contains("recordDrops") || a.details.contains("diffDrops")
    val main = actions.filter(a => a.sql && !isProv(a))
    val mapped = main.size == plan.size
    val stageOf: Map[Action, String] =
      if (!mapped) Map.empty
      else {
        val sqlStage = main.zip(plan).toMap
        actions.map { a =>
          a -> (if (isProv(a)) "provenance"
                else sqlStage.getOrElse(a, main.find(_.startMs >= a.startMs).map(sqlStage).getOrElse(plan.last)))
        }.toMap
      }
    val stages = rec.stages.map(s => s.id -> s).toMap
    val wallS = (t1Ms - t0Ms) / 1e3
    val counts = first.map(_("stages").asInstanceOf[Map[String, Long]]).getOrElse(Map.empty)
    val rowsOut = Map("extract" -> "extracted", "quality" -> "quality",
      "exact_dedup" -> "exact_dedup", "near_dedup" -> "near_dedup", "windows" -> "windows",
      "sample_write" -> "sampled", "provenance" -> "provenance_drops")
    val perStage = stageNames.map { st =>
      val acts = actions.filter(a => stageOf.get(a).contains(st))
      val ss = acts.flatMap(_.jobs).flatMap(_.stageIds).distinct.flatMap(stages.get)
      val durs = ss.flatMap(_.taskDurS)
      val wall = acts.map(_.wallS).sum
      wall -> Seq(
        s"corpus.$st.wall_s" -> wall,
        s"corpus.$st.task_s" -> durs.sum,
        s"corpus.$st.gc_s" -> ss.map(_.gcS).sum,
        s"corpus.$st.shuffle_mb" -> ss.map(_.shuffleWriteMb).sum,
        s"corpus.$st.spill_mb" -> ss.map(_.spillMb).sum,
        s"corpus.$st.task_max_s" -> durs.maxOption.getOrElse(0.0),
        s"corpus.$st.rows_out" -> counts.getOrElse(rowsOut(st), 0L).toDouble)
    }
    val attributed = perStage.map(_._1).sum
    val all = rec.stages
    perStage.flatMap(_._2) ++ Seq(
      "corpus.kernel_input_rows" -> counts.getOrElse("pages", 0L).toDouble,
      "app.unattributed_frac" -> (if (wallS > 0) 1.0 - attributed / wallS else 0.0),
      "TableIO.write_mb" -> all.map(_.outputMb).sum,
      "TableIO.write_files" -> Workloads.parquetFiles(spark, out).toDouble,
      "exchange.shuffle_write_mb" -> all.map(_.shuffleWriteMb).sum,
      "exchange.spill_mb" -> all.map(_.spillMb).sum)
  }

  def kernelTaskS(layers: Map[String, Double]): Double = layers.getOrElse("corpus.extract.task_s", 0.0)
}

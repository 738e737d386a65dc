package perfbench

import graft.queries.{CorpusOps, PipelineOps, Relational, TextOps, TrainOps, VectorOps, WebOps}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `SparkEntry.queries` entries over a fixed table directory, one after
  * another, each into a noop sink that counts the query's output rows on
  * the way (`Dataset.observe`). One operation is one pass over the
  * workload's queries. The tables do not depend on the seed.
  *
  * There is no warm-up pass: a timed pass is each query's first run in a
  * session whose tables are open, as when the suite is run once. A warm
  * pass after a warm-up one takes twice as long per run as the time
  * budget leaves, and at this table size its per-query times are
  * planning, code generation and job scheduling either way.
  *
  * A query that throws fails its pass: the pass is counted as failed and
  * its time is not used. Every pass's row counts must equal the first
  * pass's and, when the expected file pins this table directory, the
  * pinned counts.
  */
final class QueryWorkload(val name: String, tables: String, queries: Seq[QueryWorkload.Q])
    extends Workload {
  import QueryWorkload._

  val minReps = 1
  val warmups = 0
  override def tracedPairs: Int = 1

  private val tableFiles: Seq[java.io.File] =
    Option(new java.io.File(tables).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
  private var tableRows: Map[String, Long] = Map.empty
  private var pin: Option[Map[String, Any]] = None
  private var first: Option[Map[String, Long]] = None

  /** Rows of the documents table, the corpus a pass reads. */
  def rows: Long = tableRows.getOrElse("documents", 0L)

  /** Both query workloads check against the counts pinned per table directory. */
  override def pinKey(seed: Long): (String, String) = "query_suite" -> new java.io.File(tables).getName

  def generate(spark: SparkSession, seed: Long, input: String): Unit =
    require(tableFiles.nonEmpty, s"no parquet tables in $tables")

  override def open(spark: SparkSession, input: String): Unit =
    tableRows = tableFiles.map(f => f.getName.stripSuffix(".parquet") -> spark.read.parquet(f.getPath).count()).toMap

  override def properties(spark: SparkSession, input: String): Map[String, Any] = Map(
    "tables" -> tables,
    "table_rows" -> tableRows.to(scala.collection.immutable.TreeMap),
    "table_bytes" -> tableFiles.map(_.length).sum,
    "queries" -> queries.map(_._2))

  def run(spark: SparkSession, input: String, out: String): RepOut = {
    val res = queries.map { case (_, qname, fn) =>
      val t0 = Main.now()
      val rows = try {
        val obs = Observation(s"rows_$qname")
        fn(spark, tables).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        Right(obs.get("rows").asInstanceOf[Long])
      } catch { case e: Exception => Left(s"$qname failed: $e") }
      (qname, rows, Main.now() - t0)
    }
    RepOut(Map(
      "rows" -> res.collect { case (q, Right(n), _) => q -> n }.toMap,
      "seconds" -> res.map(r => r._1 -> r._3).toMap,
      "failures" -> res.collect { case (_, Left(e), _) => e }))
  }

  def prepareChecks(spark: SparkSession, input: String, p: Option[Map[String, Any]]): Seq[String] = {
    pin = p; first = None; Nil
  }

  private def countProblems(rows: Map[String, Long]): Seq[String] =
    queries.map(_._2).flatMap { q =>
      val got = rows.get(q)
      first.flatMap(_.get(q)).filter(f => !got.contains(f)).map(f => s"$q rows $got != first pass $f") ++
        pin.flatMap(_.get(q)).map(_.toString).filter(p => !got.map(_.toString).contains(p))
          .map(p => s"$q rows $got != pinned $p")
    }

  def check(spark: SparkSession, out: String, rep: RepOut): Seq[String] = {
    val failures = rep.summary("failures").asInstanceOf[Seq[String]]
    val rows = rep.summary("rows").asInstanceOf[Map[String, Long]]
    if (first.isEmpty && failures.isEmpty) first = Some(rows)
    failures ++ countProblems(rows)
  }

  /** The check must reject a pass whose row count differs by one in one query. */
  def selfTest(spark: SparkSession, out: String): Boolean =
    first.exists { f =>
      val (q, n) = f.minBy(_._1)
      countProblems(f.updated(q, n + 1)).nonEmpty
    }

  def pinValues: Map[String, Any] =
    first.map(_.map { case (k, v) => k -> v.toString }).getOrElse(Map.empty)

  /** Queries run one after another, so the root SQL executions and the
    * jobs run outside SQL (actions some queries take while they are built,
    * and jobs Spark starts on its own threads) should cover the pass.
    */
  def attribute(spark: SparkSession, rec: Recorder, t0Ms: Long, t1Ms: Long, out: String): Seq[(String, Double)] = {
    val wallS = (t1Ms - t0Ms) / 1e3
    val ss = rec.stages
    Seq(
      "app.unattributed_frac" ->
        (if (wallS > 0) 1.0 - Phase.unionS(rec.actions.map(a => (a.startMs, a.endMs))) / wallS else 0.0),
      "exchange.shuffle_write_mb" -> ss.map(_.shuffleWriteMb).sum,
      "exchange.spill_mb" -> ss.map(_.spillMb).sum)
  }

  /** Per-query seconds of one pass, summed per module, for the named
    * queries, and their p50 / p90 over the pass.
    */
  override def repLayers(rep: RepOut): Seq[(String, Double)] = {
    val ok = rep.summary("rows").asInstanceOf[Map[String, Long]].keySet
    val secs = rep.summary("seconds").asInstanceOf[Map[String, Double]]
    val done = queries.filter(q => ok.contains(q._2)).map(q => (q._1, short(q._2), secs(q._2)))
    val times = done.map(_._3)
    Seq("query_p50_s" -> percentile(times, 0.5), "query_p90_s" -> percentile(times, 0.9)) ++
      modules.map(_._1).filter(m => queries.exists(_._1 == m)).map(m =>
        s"queries.${m}_s" -> done.filter(_._1 == m).map(_._3).sum) ++
      named.flatMap(n => done.find(_._2 == n).map(d => s"query.${n}_s" -> d._3))
  }
}

object QueryWorkload {
  /** (module, query name, query). */
  type Q = (String, String, (SparkSession, String) => DataFrame)

  val modules: Seq[(String, Seq[(String, (SparkSession, String) => DataFrame, Option[String])])] = Seq(
    "Relational" -> Relational.defs, "TextOps" -> TextOps.defs, "VectorOps" -> VectorOps.defs,
    "WebOps" -> WebOps.defs, "TrainOps" -> TrainOps.defs, "CorpusOps" -> CorpusOps.defs,
    "PipelineOps" -> PipelineOps.defs)

  /** Every `SparkEntry.queries` entry, by name. */
  val all: Seq[Q] = modules.flatMap { case (m, qs) => qs.map(q => (m, q._1, q._2)) }.sortBy(_._2)

  /** Queries the open scale items rewrite; each gets its own metric. */
  val named: Seq[String] =
    Seq("q23", "q53s", "q35", "q87", "q30p", "q74p", "q85", "q73", "q92", "q90", "q86")

  /** One query of each module the named ones leave out: a star join
    * (Relational), decontamination (TrainOps) and dedup of extracted
    * text (PipelineOps).
    */
  val perModule: Seq[String] = Seq("q04", "q60", "q43")

  def short(name: String): String = name.takeWhile(_ != '_')

  /** The timed pass: the named queries plus `perModule`, so every module
    * is measured.
    */
  val timed: Seq[Q] = {
    val want = named ++ perModule
    val picked = all.filter(q => want.contains(short(q._2)))
    require(picked.map(q => short(q._2)).sorted == want.sorted, s"query names not found: $want")
    require(modules.forall(m => picked.exists(_._1 == m._1)), "a module has no timed query")
    picked
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }
}

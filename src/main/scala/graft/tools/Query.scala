package graft.tools

import graft.SparkEntry
import graft.app.{ExtractJob, SparkUtil}
import graft.extract.Processor
import graft.model.Page
import graft.synth.Fixtures
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** The diagnostics, one main over SparkEntry.queries and the kernel:
  *   sbt -batch "runMain graft.tools.Query time|plan|explain [--sf DIR] [name...]"
  *   sbt -batch "runMain graft.tools.Query kernel FAMILY [QUALITY]"
  *
  *  - `time`: run each query into a noop sink that counts its output
  *    rows on the way; print seconds and rows per query.
  *  - `plan`: execute each query and print its FINAL adaptive physical
  *    plan (exchange-reuse / join-strategy checks).
  *  - `explain`: write PLANS.md, the formatted physical plan of each
  *    query, for plan review (pushdown present? joins broadcast?
  *    codegen spans wide?). Regenerate after plan-affecting changes.
  *  - `kernel`: run the extraction kernel on a `Fixtures.families`
  *    payload and print its record (see `kernel`); no session starts.
  *
  * No names means the `headline` queries; `--sf` defaults to the
  * sf0.001 tables the specs use. The mode and every name are checked
  * before the session starts: an unknown name fails with its nearest
  * names.
  * Parallelism follows SPARK_GRAFT_CPUS (app.SparkUtil.session).
  */
object Query {

  val headline = Seq(
    "q01_pricing_summary", "q02_filter_range", "q03_broadcast_join",
    "q04_join_snowflake", "q06_anti_join", "q07_window_topk",
    "q22_dedup_exact", "q23_neardup_jaccard", "q24_minhash_lsh",
    "q24p_minhash_prod", "q29_cosine_topk", "q30_lsh_buckets",
    "q35_dup_clusters", "q37_asof_join", "q38_range_join",
    "q44_json_repair", "q47_user_stats_salted", "q48_routing_plan",
    "q49_eval_quality", "q53_incremental_dedup", "q53s_dedup_store",
    "q57_token_windows", "q60_decontamination", "q62_span_dedup",
    "q67_inverted_index", "q68_tfidf_terms", "q70_dup_span_coverage",
    "q71_bloom_dedup", "q72_lm_perplexity", "q73_simhash_hamming",
    "q74_embedding_neardup_lsh", "q74p_embedding_neardup_banded",
    "q30p_lsh_ortables", "q75_sequence_packing",
    "q76_quality_classifier", "q77_url_revisit", "q78_length_stats",
    "q79_salted_skew_join", "q80_host_cap", "q81_snapshot_diff",
    "q82_hll_distinct", "q83_cms_heavy_hitters", "q84_host_cap_topk",
    "q85_dup_span_bloom", "q86_lm_broadcast_scoring",
    "q87_containment_dedup", "q88_dsir_weights", "q89_host_pagerank",
    "q90_robots_filter", "q91_sketch_drift", "q92_semantic_dedup",
    "q92p_semantic_dedup_scaled", "q93_bpe_pair_counts",
    "x40_extract_balanced", "x50_extract_operator", "x65_link_records")

  private val Usage = "usage: Query time|plan|explain [--sf DIR] [name...]\n" +
    "       Query kernel FAMILY [QUALITY]"

  def main(args: Array[String]): Unit = run(args, SparkUtil.session("graft-query"))

  /** Checks `args`, then builds `session` and runs the mode; `kernel`
    * never builds it.
    */
  def run(args: Array[String], session: => SparkSession): Unit = args.toSeq match {
    case Seq("kernel", rest @ _*) => print(kernel(rest))
    case _ => runQueries(args, session)
  }

  private def runQueries(args: Array[String], session: => SparkSession): Unit = {
    def usage = throw new IllegalArgumentException(Usage)
    val (mode, sfDir, named) = args.toSeq match {
      case Seq(m, "--sf", dir, names @ _*) => (m, dir, names)
      case Seq(m, names @ _*) => (m, "/root/testdata/sf0.001", names)
      case _ => usage
    }
    if ((sfDir +: named).exists(_.startsWith("--"))) usage
    val act: (SparkSession, String, Seq[String]) => Unit = mode match {
      case "time" => time
      case "plan" => plan
      case "explain" => explain
      case _ => usage
    }
    val names = lookup(if (named.isEmpty) headline else named)
    val spark = session
    spark.sparkContext.setLogLevel("ERROR")
    try act(spark, sfDir, names) finally spark.stop()
  }

  /** `names` when each is a SparkEntry query; otherwise fails naming every
    * unknown one with the three known names nearest to it (same query id
    * first, then by edit distance).
    */
  def lookup(names: Seq[String]): Seq[String] = {
    val known = SparkEntry.queries.keySet.toSeq
    val unknown = names.filterNot(known.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(unknown.map { n =>
      val id = n.takeWhile(_ != '_')
      val near = known.sortBy(k => (!k.startsWith(id),
        UTF8String.fromString(n).levenshteinDistance(UTF8String.fromString(k)), k)).take(3)
      s"unknown query '$n' (nearest: ${near.mkString(", ")})"
    }.mkString("\n"))
    names
  }

  /** The kernel's record for the named fixture family, one field per line,
    * then its text between `---- text ----` and `---- end ----`. The
    * quality is normalized as the kernel stage normalizes it, so the
    * record is the one `ExtractJob` writes (an invalid quality reads
    * `balanced`). A missing or unknown family fails listing the families.
    */
  def kernel(args: Seq[String]): String = {
    val families = Fixtures.families.map(_._1).mkString(", ")
    val (family, quality) = args match {
      case Seq(f) => (f, "balanced")
      case Seq(f, q) => (f, q)
      case _ => throw new IllegalArgumentException(
        s"usage: Query kernel FAMILY [QUALITY]; families: $families")
    }
    val payload = Fixtures.families.toMap.getOrElse(family, throw new IllegalArgumentException(
      s"unknown family '$family'; one of: $families"))
    val page = Page(s"https://fixtures.example/$family", new Timestamp(0L), payload, "", "en")
    val r = Processor.default.extract(page, ExtractJob.normalizeQuality(quality))
    Seq(
      s"url:               ${r.url}",
      s"success:           ${r.success}",
      s"pdf_type:          ${r.pdf_type}",
      s"total_pages:       ${r.total_pages}",
      s"quality:           ${r.quality}",
      s"extraction_method: ${r.extraction_method}",
      s"confidence:        ${r.confidence}",
      s"word_count:        ${r.word_count}",
      s"text_pages:        ${r.text_pages.mkString(",")}  image_pages: ${r.image_pages.mkString(",")}  hybrid_pages: ${r.hybrid_pages.mkString(",")}",
      s"page_errors:       ${r.page_errors}",
      s"error:             ${r.error.getOrElse("-")}",
      "---- text ----", r.text, "---- end ----").mkString("", "\n", "\n")
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val obs = Observation(s"rows_$name")
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name%-32s $secs%8.3f s  (${obs.get("rows")} rows)")
    }

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // collect() (not .write) so THIS plan executes and the printed
      // AdaptiveSparkPlan is the final one (isFinalPlan=true).
      df.collect()
      println(s"## $name\n${df.queryExecution.executedPlan}")
    }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of the headline queries (auto-generated)\n\n"
    sb ++= "Generated by `graft.tools.Query explain` against " + sfDir + ".\n"
    sb ++= "Audit criteria: filters/projection reach the parquet scan " +
      "(`PushedFilters`, narrow `ReadSchema`); dimension joins are " +
      "`BroadcastHashJoin`; aggregation is partial (`HashAggregate` " +
      "before the exchange); codegen spans (`WholeStageCodegen`) cover " +
      "the hot path; the extraction kernel sits behind a pruned project " +
      "(Catalyst cannot see past `MapPartitions`).\n\n"
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"## $name\n\n```\n"
      sb ++= shortenBloomLiterals(
        df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb ++= "\n```\n\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${names.size} plans)")
  }

  private val BloomLiteral = """might_contain\(0x([0-9A-Fa-f]{32})([0-9A-Fa-f]+)""".r

  /** A bloom filter's serialized literal inside `might_contain(…)` is
    * megabytes of hex; keep a 16-byte prefix plus its byte length.
    */
  def shortenBloomLiterals(plan: String): String =
    BloomLiteral.replaceAllIn(plan, m =>
      s"might_contain(0x${m.group(1)}…[${(m.group(1).length + m.group(2).length) / 2} bytes]")
}

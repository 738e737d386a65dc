package graft.tools

import graft.SparkEntry
import graft.app.SparkUtil
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query,
  * for plan review (pushdown present? joins broadcast? codegen spans
  * wide?). Regenerate after plan-affecting changes:
  *   sbt -batch "runMain graft.tools.ExplainDump [sfDir]"
  */
object ExplainDump {

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

  private val BloomLiteral = """might_contain\(0x([0-9A-Fa-f]{32})([0-9A-Fa-f]+)""".r

  /** A bloom filter's serialized literal inside `might_contain(…)` is
    * megabytes of hex; keep a 16-byte prefix plus its byte length.
    */
  def shortenBloomLiterals(plan: String): String =
    BloomLiteral.replaceAllIn(plan, m =>
      s"might_contain(0x${m.group(1)}…[${(m.group(1).length + m.group(2).length) / 2} bytes]")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkUtil.session("graft-explain-dump")
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical plans of the headline queries (auto-generated)\n\n"
    sb ++= "Generated by `graft.tools.ExplainDump` against " + sfDir + ".\n"
    sb ++= "Audit criteria: filters/projection reach the parquet scan " +
      "(`PushedFilters`, narrow `ReadSchema`); dimension joins are " +
      "`BroadcastHashJoin`; aggregation is partial (`HashAggregate` " +
      "before the exchange); codegen spans (`WholeStageCodegen`) cover " +
      "the hot path; the extraction kernel sits behind a pruned project " +
      "(Catalyst cannot see past `MapPartitions`).\n\n"
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"## $name\n\n```\n"
      sb ++= shortenBloomLiterals(
        df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb ++= "\n```\n\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${headline.size} plans)")
    spark.stop()
  }
}

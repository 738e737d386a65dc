package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.SparkFiles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the driver-checked query surface (SparkEntry).
  *
  * Cross-engine parity rules (Spark result is hash-compared against a
  * DuckDB oracle by the driver):
  *  - every aggregate / computed column is aliased identically on both
  *    sides;
  *  - floating-point aggregates are rounded (sums 2dp, ratios 6dp) so
  *    accumulation-order ulp differences can't flip the hash;
  *  - counts/sums of integers are cast to BIGINT on the DuckDB side
  *    (DuckDB widens integer sums to HUGEINT, Spark keeps LongType);
  *  - every query ends in a total ORDER BY on both sides;
  *  - timestamps are formatted to strings before output.
  */
object QueryUtil {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A fresh directory `name<random>` for a query's intermediate table,
    * under the root scratch directory of `s`'s SparkContext, which Spark
    * creates per context and deletes on `stop()`; so a query keeps no
    * state between runs. Driver-local, like the queries' local-mode
    * sessions.
    */
  def scratchDir(s: SparkSession, name: String): String =
    Files.createTempDirectory(Paths.get(SparkFiles.getRootDirectory()), name).toString

  /** Lower-cased whitespace-run tokens — the byte-exact analog of the
    * reference's Python `str.split()` word model (processor.py:129) as a
    * codegen'd column expression; DuckDB side:
    * `regexp_extract_all(lower(text), '\S+')`.
    */
  def tokens(c: Column): Column = regexp_extract_all(lower(c), lit("\\S+"), lit(0))

  /** The `documents` table with its `tokens` of `text` as `toks`. */
  def docToks(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents").withColumn("toks", tokens(col("text")))

  /** Distinct word 3-gram shingles over `tokens`; `< 3` tokens → empty.
    * DuckDB side uses `list_transform(range(1, greatest(len-1,1)), ...)`
    * (1-based, exclusive end) which yields the same `n-2` shingles.
    */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ",
          element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word 5-gram shingles over `tokens`, built like
    * `shingles3`; `< 5` tokens → empty. The decontamination n-gram
    * (q60 and CorpusPipeline's eval-overlap stage).
    */
  def shingles5(toks: Column): Column =
    when(size(toks) >= 5,
      array_distinct(transform(sequence(lit(0), size(toks) - 5),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3), element_at(toks, i + 4), element_at(toks, i + 5)))))
      .otherwise(array().cast("array<string>"))

  /** Jaccard similarity of two distinct-element arrays (reference
    * tests/conftest.py:352-362 word-set Jaccard, generalized to shingle
    * sets). Single IEEE division of two exact ints — bit-identical across
    * engines.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Connected components over an undirected edge list by iterative
    * min-label propagation, run to convergence (the q35 core, shared
    * with CorpusPipeline --cluster). Input: a DataFrame whose `src`/
    * `dst` columns hold one direction of each edge (any orderable
    * type); both directions are derived here. Output: (node, label)
    * where label = min node id of the component. Plan depth stays O(1)
    * across rounds via localCheckpoint. A label moves one hop per round,
    * so convergence takes O(component diameter) rounds, each a join plus
    * a `count`; the `maxIters = 1000` cap is a runaway guard that fails
    * LOUDLY through the `require` below. An O(log n)-round form is
    * ROADMAP direction 3.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 1000): DataFrame = {
    val Seq(srcCol, dstCol) = pairs.columns.toSeq.take(2).map(col)
    val edges = pairs.select(srcCol.as("src"), dstCol.as("dst"))
      .union(pairs.select(dstCol.as("src"), srcCol.as("dst"))).persist()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).persist()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val nbrMin = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min("label").as("nbr_label"))
      val next = labels.join(nbrMin, col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      val nextCp = next.localCheckpoint()
      changed = nextCp.join(labels.withColumnRenamed("label", "old"), Seq("node"))
        .where(col("label") =!= col("old")).count()
      labels.unpersist()
      labels = nextCp
      iters += 1
    }
    require(changed == 0,
      s"label propagation did not converge in $maxIters rounds")
    edges.unpersist()
    labels
  }

  /** Lower-cased, www-/default-port-stripped host of a url — the same
    * normalization as the q54 canonicalizer (WebOps), extracted as the
    * single owner for every host-keyed stage (per-host cap, host
    * stats). Urls with no recognizable scheme://host fall back to the
    * whole (lower-cased) url, so each unparseable string is its OWN
    * key — a grouped cap can never collapse millions of schemeless
    * urls into one empty-string pseudo-host and silently drop them.
    */
  def urlHost(u: Column): Column = {
    val h = regexp_replace(
      regexp_replace(
        lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
        "^www\\.", ""),
      ":(80|443)$", "")
    when(length(h) > 0, h).otherwise(lower(u))
  }

  /** Guard for the O(n²) brute-force baselines (q23/q31): they broadcast
    * the FULL corpus to every executor, which is correct and fast as a
    * small-scale verifier but OOMs at production scale. Refuse loudly
    * instead of silently melting a cluster; the scale paths are q24
    * (MinHash-LSH) and q30/q32/q33 (LSH/IVF buckets). The count is a
    * parquet metadata-only scan — effectively free.
    */
  def requireBaselineScale(s: SparkSession, dir: String, table: String,
      query: String, maxRows: Long = 200000L): Unit = {
    val n = tbl(s, dir, table).count()
    require(n <= maxRows,
      s"$query is an O(n^2) full-corpus-broadcast correctness baseline, " +
      s"limited to $maxRows rows ($table has $n). Use the bucketed scale " +
      "path (q24 MinHash-LSH / q30 LSH / q32-q33 IVF) at this size.")
  }
}

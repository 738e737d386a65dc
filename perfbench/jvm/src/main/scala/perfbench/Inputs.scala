package perfbench

import graft.model.Page
import graft.synth.PageGen
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The program only ever sees the parquet table
  * written here; the seed never reaches it.
  */
object Inputs {

  /** Crawl-size article pages: every row is a `PageGen.articleHtmlEncoded`
    * article at paraScale 40 (~19.6 KB, ~4% legacy charsets). The only
    * shared payloads are `PageGen.contentId`'s ~6% duplicate clusters,
    * so byte-identical copies give the kernel no free ride.
    */
  val CrawlParaScale = 40

  def crawlRow(seed: Long, id: Long): Page = {
    val cid = PageGen.contentId(seed, id)
    Page(
      url = s"https://host${PageGen.hostFor(seed, id)}.example/article/p$id.html",
      warc_ts = new java.sql.Timestamp(1700000000000L + (PageGen.mix64(seed ^ id) >>> 24)),
      html = PageGen.articleHtmlEncoded(seed, cid, CrawlParaScale, PageGen.encodingVariant(seed, cid)),
      text = "",
      lang = PageGen.langFor(seed, id, "article"))
  }

  /** Rows are generated in `files` ranges, one output file each. */
  def crawl(spark: SparkSession, rows: Long, seed: Long, files: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, rows, 1, files).mapPartitions(_.map(id => crawlRow(seed, id)))
  }

  /** The standard mixed table (13 families, small documents): the same
    * rows as `PageGen.generate`.
    */
  def mixed(spark: SparkSession, rows: Long, seed: Long, files: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, rows, 1, files).mapPartitions(_.map(id => PageGen.row(seed, id)))
  }

  def write(ds: Dataset[Page], path: String): Unit =
    ds.write.mode("overwrite").parquet(path)

  /** Input properties the workload's behaviour depends on: how much work
    * rows share, payload size, and the family / PDF mix.
    */
  def properties(spark: SparkSession, path: String): Map[String, Any] = {
    val df = spark.read.parquet(path)
    val sizes = df.select(octet_length(col("html"))).collect().map(_.getInt(0)).sorted
    val rows = sizes.length
    val n = math.max(rows, 1).toDouble
    def pct(p: Double) = if (rows == 0) 0 else sizes(math.min(rows - 1, (p * rows).toInt))
    val distinct = df.select(md5(col("html"))).distinct().count()
    val isPdf = hex(substring(col("html"), 1, 5)) === "255044462D"
    val mix = df.groupBy(regexp_extract(col("url"), "\\.example/([A-Za-z0-9_]+)/", 1).as("f"), isPdf.as("pdf"))
      .count().collect()
    Map(
      "rows" -> rows,
      "distinct_payloads" -> distinct,
      "identical_payload_share" -> (1.0 - distinct / n),
      "payload_bytes_p50" -> pct(0.5),
      "payload_bytes_p99" -> pct(0.99),
      "payload_bytes_mean" -> sizes.map(_.toLong).sum / n,
      "pdf_share" -> mix.filter(_.getBoolean(1)).map(_.getLong(2)).sum / n,
      "family_share" -> mix.groupBy(_.getString(0)).map { case (f, rs) => f -> rs.map(_.getLong(2)).sum / n }
        .to(scala.collection.immutable.TreeMap))
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent table digests: row count, XOR and 32-bit sum of a
  * per-row xxhash64 over the named columns. One changed byte in one row
  * changes the XOR; a dropped or duplicated row changes the count.
  */
object Checks {
  def digest(df: DataFrame, cols: Seq[String]): String = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL)))).head()
    val n = r.getLong(0)
    if (n == 0) "0" else f"$n:${r.getLong(1)}%016x:${r.getLong(2)}%x"
  }

  val ExtractCols: Seq[String] = Seq("url", "success", "text", "word_count")
  val WindowCols: Seq[String] = Seq("url", "lang", "win_id", "n_toks", "window_text")
  val ProvenanceCols: Seq[String] = Seq("url", "stage", "detail")

  /** The same table with one byte of one url's text changed: the last
    * character of the smallest url whose text ends in a printable ASCII
    * character is swapped for another ASCII character.
    */
  def flipOneByte(df: DataFrame): DataFrame = {
    val victim = df.where(col("text").rlike("[ -~]$")).agg(min("url")).head().getString(0)
    val body = expr("substring(text, 1, length(text) - 1)")
    val swapped = when(expr("right(text, 1)") === "a", lit("b")).otherwise(lit("a"))
    df.withColumn("text", when(col("url") === victim, concat(body, swapped))
      .otherwise(col("text")))
  }
}

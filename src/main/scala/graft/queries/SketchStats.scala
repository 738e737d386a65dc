package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single owner of the corpus-statistics sketch math shared by the
  * oracle-checked queries (q82/q83/q91) and the `CorpusPipeline --stats`
  * stage. Everything here is integer-exact and order-free (register
  * max / counter sum), which is what makes the sketches both mergeable
  * across partitions/days AND bit-identical between Spark and the
  * DuckDB oracle.
  *
  * HLL (Flajolet et al. 2007): m=64 registers; bucket = first md5 byte
  * mod 64, rho = leading-zero rank of the next 60 bits (15 hex chars),
  * encoded as 61 - bitlength(v) so v=0 ⇒ 61.
  * CMS (Cormode & Muthukrishnan 2005): d=4 × w=256 counters; row i's
  * cell = 28 md5 bits of "i:term" mod 256.
  */
object SketchStats {

  val HllM = 64

  /** α_m bias-correction constant (Flajolet et al. 2007 §4/Table): the
    * small-m table values, the published closed form above 128. Derived
    * from HllM so the estimator can never silently diverge from the
    * register layout.
    */
  val HllAlphaM: Double = HllM match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case m => 0.7213 / (1 + 1.079 / m)
  }

  val CmsDepth = 4
  val CmsWidth = 256

  /** (bucket, rho) pair columns from an md5-hex column. */
  def hllBucket(hx: Column): Column =
    conv(substring(hx, 1, 2), 16, 10).cast("long") % HllM
  def hllRho(hx: Column): Column = {
    val v = conv(substring(hx, 3, 15), 16, 10).cast("long")
    when(v === 0, lit(61)).otherwise(lit(61) - length(bin(v)))
  }

  /** HLL register table over (keyCols…, value) rows: one register max
    * per (keyCols…, bucket). Duplicate values are harmless — max over a
    * multiset equals max over the distinct set — so callers never need
    * a distinct (or, streaming, any cross-batch dedup state) first.
    */
  def hllRegisters(values: DataFrame, valueCol: String, keyCols: String*): DataFrame = {
    val hx = md5(col(valueCol))
    values
      .select(keyCols.map(col) :+ hllBucket(hx).as("bucket") :+ hllRho(hx).as("rho"): _*)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max("rho").as("r"))
  }

  /** Aggregate: Σ 2^(61 - r) over the non-null registers `r`, summed as
    * exact decimals (no float-summation-order drift) and cast to double
    * once.
    */
  def hllWeightSum(r: Column): Column =
    sum(call_function("shiftleft", lit(1L), lit(61) - r).cast("decimal(38,0)"))
      .cast("double")

  /** Raw HLL estimate α_m · m² · 2^61 / (Σ_hit + (m − hits) · 2^61) from
    * an `hllWeightSum` and the registers hit, with no small-range
    * correction: one double expression, bit-identical to the oracle's.
    */
  def hllEstimate(weightSum: Column, hits: Column): Column = {
    val p61 = 1L << 61
    lit(HllAlphaM) * lit(HllM.toLong * HllM) * lit(p61) /
      (weightSum + (lit(HllM) - hits) * lit(p61.toDouble))
  }

  /** The d CMS (row, cell) coordinates of a term, as a posexplode
    * generator — select alongside other columns with
    * `.as(Seq("row", "cell"))`.
    */
  def cmsCells(term: Column): Column =
    posexplode(array((0 until CmsDepth).map(i =>
      conv(substring(md5(concat(lit(s"$i:"), term)), 1, 7), 16, 10)
        .cast("long") % CmsWidth): _*))

  /** CMS counter table over (termCol) rows: d×w cells, each the count
    * of occurrences hashing into it. Partials merge by cell-wise sum.
    */
  def cmsCounters(terms: DataFrame, termCol: String): DataFrame =
    terms
      .select(cmsCells(col(termCol)).as(Seq("row", "cell")))
      .groupBy("row", "cell").agg(count(lit(1)).as("c"))
}

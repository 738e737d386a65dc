package graft.tools

import graft.app.SparkUtil

/** Smoke-check that `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * installs the engine's functions into a plain spark-submit session:
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions \
  *     --class graft.tools.SqlSmoke <jar>
  */
object SqlSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkUtil.session("graft-sql-smoke")
    val r = spark.sql(
      """SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS c,
         vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
         minhash_md5(array('a b c')) AS mh,
         simhash_md5(array('tok')) AS sh""").collect()(0)
    println(s"""{"smoke":"extensions","intersect":${r.getInt(0)},"dot":${r.getDouble(1)},""" +
      s""""minhash_len":${r.getSeq[String](2).size},"simhash_bits":${r.getString(3).length}}""")
    assert(r.getInt(0) == 2 && r.getDouble(1) == 11.0)
    assert(r.getSeq[String](2).size == 16 && r.getString(3).length == 32)
    // Bloom build + probe (q71's native pair): a key in the filter hits,
    // a key outside it — at this size, with near-certainty — misses.
    // The bloom argument of might_contain must be a constant or scalar
    // subquery (Spark's own analyzer rule) — q71 passes a collected
    // literal; here the scalar-subquery form exercises the SQL surface.
    val b = spark.sql(
      """SELECT graft_might_contain(
           (SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 10000L)
            FROM (SELECT explode(sequence(1, 1000)) AS v)),
           xxhash64(CAST(500 AS STRING))) AS hit,
         graft_might_contain(
           (SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 10000L)
            FROM (SELECT explode(sequence(1, 1000)) AS v)),
           xxhash64('definitely-absent-key')) AS miss""").collect()(0)
    println(s"""{"smoke":"bloom","hit":${b.getBoolean(0)},"miss":${b.getBoolean(1)}}""")
    assert(b.getBoolean(0) && !b.getBoolean(1))
    spark.stop()
  }
}

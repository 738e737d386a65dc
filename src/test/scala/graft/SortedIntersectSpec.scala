package graft

import org.apache.spark.sql.functions._

/** SortedIntersectCount: agreement with array_intersect on both element
  * types, across interpreted and codegen paths.
  */
class SortedIntersectSpec extends SparkSuite {

  test("string variant equals size(array_intersect) on random sets") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { _ =>
      def set() = Seq.fill(rng.nextInt(30))(s"w${rng.nextInt(40)}").distinct.sorted
      (set(), set())
    }
    val df = rows.toDF("a", "b")
      .withColumn("fast", call_function("sorted_intersect_count", col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
    assert(df.where(col("fast") =!= col("ref")).count() == 0)
  }

  test("long variant equals size(array_intersect) on random sets") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 200).map { _ =>
      def set() = Seq.fill(rng.nextInt(30))(rng.nextInt(50).toLong).distinct.sorted
      (set(), set())
    }
    val df = rows.toDF("a", "b")
      .withColumn("fast", call_function("sorted_intersect_count", col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))))
    assert(df.where(col("fast") =!= col("ref")).count() == 0)
  }

  test("empty/null inputs and SQL surface") {
    import spark.implicits._
    val df = Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(1L), Seq.empty[Long]))
      .toDF("a", "b")
    val c = df.select(call_function("sorted_intersect_count", col("a"), col("b"))).collect()
    assert(c.forall(_.getInt(0) == 0))
    val viaSql = spark.sql(
      "SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d'))").collect()
    assert(viaSql(0).getInt(0) == 2)
    val nul = df.select(
      call_function("sorted_intersect_count", lit(null).cast("array<bigint>"), col("b"))).collect()
    assert(nul.forall(_.isNullAt(0)))
  }

  test("type mismatch is rejected at analysis") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq("a"))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("sorted_intersect_count", col("a"), col("b"))).collect()
    }
  }

  test("graft_might_contain: constant negative probe survives codegen with fallback disabled") {
    // Regression for the Janino `(Long)<negative literal>` parse bug in
    // Spark's own BloomFilterMightContain (it drops to interpreted mode;
    // with fallback disabled it would ERROR) — GraftBloomProbe must
    // compile the constant-folded probe shape. xxhash64 of these strings
    // folds to NEGATIVE longs, the trigger.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = spark.sql(
        """SELECT graft_might_contain(
             (SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 10000L)
              FROM (SELECT explode(sequence(1, 1000)) AS v)),
             xxhash64(CAST(500 AS STRING))) AS hit,
           graft_might_contain(
             (SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 10000L)
              FROM (SELECT explode(sequence(1, 1000)) AS v)),
             xxhash64('definitely-absent-key')) AS miss""").collect()(0)
      assert(r.getBoolean(0) && !r.getBoolean(1))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("graft_might_contain: Spark null semantics (null bloom -> null, null value -> null)") {
    import spark.implicits._
    val nullBloom = spark.sql(
      "SELECT graft_might_contain(CAST(NULL AS BINARY), 42L)").collect()(0)
    assert(nullBloom.isNullAt(0))
    // Null VALUE against a real bloom (column probe — the q71/q85 shape).
    val bloomBytes = spark.sql(
      """SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 1000L)
         FROM (SELECT explode(sequence(1, 100)) AS v)""").collect()(0).getAs[Array[Byte]](0)
    val out = Seq(Some(1L), None).toDF("k")
      .select(call_function("graft_might_contain", lit(bloomBytes), col("k"))).collect()
    assert(!out(0).isNullAt(0) && out(1).isNullAt(0))
    // Non-constant bloom is rejected at analysis, as in Spark's impl.
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array[Byte](1, 2), 1L)).toDF("b", "k")
        .select(call_function("graft_might_contain", col("b"), col("k"))).collect()
    }
  }
}

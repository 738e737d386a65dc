package graft

import org.apache.spark.sql.functions._

/** MinhashMd5 / SimhashMd5: byte-equality with the built-in-functions
  * pipelines they replaced in q24/q35/q25, across interpreted and
  * codegen paths, plus edge cases. The reference pipelines below are
  * verbatim what the queries used before the single-pass kernels — so a
  * green run here plus the unchanged DuckDB oracles pins the semantics
  * from both sides.
  */
class HashSketchSpec extends SparkSuite {

  private def refMinhash = (sh: org.apache.spark.sql.Column) =>
    transform(sequence(lit(0), lit(15)),
      j => array_min(transform(sh, t => md5(concat(j.cast("string"), lit(":"), t)))))

  test("minhash_md5 equals the transform/array_min pipeline on random shingles") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val words = Vector("the", "quick", "brown", "fox", "Straße", "日本語", "emoji🦊", "x")
    val rows = (1 to 300).map { _ =>
      Seq.fill(1 + rng.nextInt(40))(
        Seq.fill(3)(words(rng.nextInt(words.size))).mkString(" ")).distinct
    }.map(Tuple1(_))
    val df = rows.toDF("shingles")
      .withColumn("fast", call_function("minhash_md5", col("shingles")))
      .withColumn("ref", refMinhash(col("shingles")))
    assert(df.where(not(col("fast") <=> col("ref"))).count() == 0)
  }

  test("minhash_md5 on real corpus texts equals the pipeline") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("text").rlike("\\S+\\s+\\S+\\s+\\S+"))
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"), array_distinct(filter(
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))),
        x => x.isNotNull)).as("shingles"))
    val df = docs
      .withColumn("fast", call_function("minhash_md5", col("shingles")))
      .withColumn("ref", refMinhash(col("shingles")))
    assert(df.count() > 0)
    assert(df.where(not(col("fast") <=> col("ref"))).count() == 0)
  }

  test("minhash_md5 edge cases: empty array, null input, SQL surface") {
    import spark.implicits._
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("sh")
      .select(call_function("minhash_md5", col("sh"))).collect()
    // Matches transform(seq, j -> array_min(empty)) = 16 nulls.
    assert(empty(0).getSeq[String](0) == Seq.fill(16)(null))
    val nul = Seq(Tuple1(Seq("a"))).toDF("sh")
      .select(call_function("minhash_md5", lit(null).cast("array<string>"))).collect()
    assert(nul(0).isNullAt(0))
    val viaSql = spark.sql("SELECT minhash_md5(array('a b c'))").collect()
    assert(viaSql(0).getSeq[String](0).size == 16)
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq(1L))).toDF("sh")
        .select(call_function("minhash_md5", col("sh"))).collect()
    }
  }

  private def refSimhash = (hashes: org.apache.spark.sql.Column) =>
    concat_ws("", transform(sequence(lit(1), lit(32)),
      j => when(aggregate(hashes, lit(0),
          (acc, h) => acc + (ascii(substring(h, j, lit(1))) % 2 * 2 - 1)) > 0,
        lit("1")).otherwise(lit("0"))))

  test("simhash_md5 equals the 32-aggregate pipeline on random token sets") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val words = Vector("alpha", "beta", "Gamma", "δέλτα", "день", "42", "!?")
    val rows = (1 to 300).map { _ =>
      Seq.fill(rng.nextInt(50))(words(rng.nextInt(words.size))).distinct
    }.map(Tuple1(_))
    val df = rows.toDF("toks")
      .withColumn("fast", call_function("simhash_md5", col("toks")))
      .withColumn("ref", refSimhash(transform(col("toks"), t => md5(t))))
    assert(df.where(not(col("fast") <=> col("ref"))).count() == 0)
  }

  test("simhash_md5 on real corpus texts equals the pipeline; empty → all zeros") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        array_distinct(split(lower(col("text")), "\\s+")).as("toks"))
    val df = docs
      .withColumn("fast", call_function("simhash_md5", col("toks")))
      .withColumn("ref", refSimhash(transform(col("toks"), t => md5(t))))
    assert(df.count() > 0)
    assert(df.where(not(col("fast") <=> col("ref"))).count() == 0)
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("toks")
      .select(call_function("simhash_md5", col("toks"))).collect()
    assert(empty(0).getString(0) == "0" * 32)
  }
}

package graft

import graft.app.{ExtractJob, TwoPass}
import graft.extract.Processor
import graft.model.{Enums, ExtractionRecord, KernelPage}
import graft.synth.PageGen
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{Join, MapPartitions, Window}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** K6 two-pass cascade (app.TwoPass): pass-1 output selects which
  * documents get pass 2; the better extraction of each is kept.
  */
class TwoPassSpec extends SparkSuite {

  private def kernelPages(n: Long): Dataset[KernelPage] = {
    import spark.implicits._
    PageGen.generate(spark, n).map(p => KernelPage(p.url, p.html, p.lang))
  }

  test("two-pass: pass 2 runs exactly on the flagged subset and never regresses a doc") {
    import spark.implicits._
    val kp = kernelPages(600).cache()
    val pass1 = ExtractJob.extractKernel(kp, "fast").as[ExtractionRecord].cache()
    val flagged = pass1.collect().filter(TwoPass.needsSecondPass).map(_.url).toSet
    assert(flagged.nonEmpty, "corpus must flag some docs for the second pass")
    assert(flagged.size < 600, "cascade must not flag everything")

    val merged = TwoPass.extract(kp).cache()
    // One row per url, url set preserved.
    assert(merged.count() == 600)
    assert(merged.select("url").distinct().count() == 600)
    // pass=2 rows appear only for flagged urls.
    val pass2Urls = merged.where(col("pass") === 2)
      .select("url").collect().map(_.getString(0)).toSet
    assert(pass2Urls.subsetOf(flagged), s"pass-2 escaped the flag gate: ${pass2Urls.diff(flagged).take(3)}")
    // Monotone improvement: every merged row has word_count >= its
    // pass-1 word_count (the merge keeps the max).
    val regressed = merged.alias("m")
      .join(pass1.select(col("url"), col("word_count").as("p1_words")), "url")
      .where(col("word_count") < col("p1_words"))
    assert(regressed.count() == 0)
    // Unflagged docs are the untouched pass-1 rows.
    val unflaggedPass = merged.where(!col("url").isin(flagged.toSeq: _*))
      .select("pass").distinct().collect().map(_.getInt(0)).toSet
    assert(unflaggedPass == Set(1))
    // The accurate pass genuinely rescues documents: some flagged doc
    // gains words (PageGen plants image/hybrid pages the fast path
    // skips and the accurate path OCR-substitutes).
    val improved = merged.where(col("pass") === 2)
      .join(pass1.select(col("url"), col("word_count").as("p1_words")), "url")
      .where(col("word_count") > col("p1_words")).count()
    assert(improved > 0, "second pass should improve at least one flagged doc")
    kp.unpersist(); pass1.unpersist(); merged.unpersist()
  }

  test("revisit snapshots of one url each get their own cascade result and pass") {
    import spark.implicits._
    val pages = kernelPages(200).collect().toSeq
    def fast(p: KernelPage) = Processor.default.extract(p, Enums.Fast)
    // One page the cascade leaves at pass 1, one it takes to pass 2.
    val kept = pages.find(p => TwoPass.cascade(p) == fast(p)).get
    val rescued = pages.find(p => TwoPass.cascade(p) != fast(p)).get
    // A second snapshot of kept's url carrying rescued's payload.
    val input = pages :+ rescued.copy(url = kept.url)
    val out = TwoPass.extract(spark.createDataset(input))
    val got = out.select(struct(out.columns.filter(_ != "pass").map(col): _*).as("_1"),
      col("pass").as("_2")).as[(ExtractionRecord, Int)].collect().toSeq
    val want = input.map { p =>
      val r = TwoPass.cascade(p)
      (r, if (r == fast(p)) 1 else 2)
    }
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
    assert(got.filter(_._1.url == kept.url).map(_._2).sorted == Seq(1, 2))
  }

  test("the cascade is one map-only kernel stage: no join, window or checkpoint") {
    import spark.implicits._
    val pages = spark.createDataset(kernelPages(20).collect().toSeq)
    val plan = TwoPass.extract(pages).queryExecution.optimizedPlan
    assert(plan.collect { case m: MapPartitions => m }.size == 1, plan)
    assert(plan.collect {
      case j: Join => j
      case w: Window => w
      case r: LogicalRDD => r
    }.isEmpty, plan)
  }

  test("x64 query surface: deterministic, tagged, ordered") {
    val df = SparkEntry.queries("x64_two_pass")(spark, "/unused")
    val rows = df.collect()
    assert(rows.length == 900)
    assert(rows.map(_.getAs[Int]("pass")).toSet.subsetOf(Set(1, 2)))
    // Deterministic across runs (the driver's rows-only check relies on it).
    val again = SparkEntry.queries("x64_two_pass")(spark, "/unused").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("ExtractJob --two-pass: job output carries the pass column, matches the library merge") {
    import spark.implicits._
    val out = tmpDir("xjob-2p")
    val lineage = ExtractJob.run(spark, ExtractJob.Args(rows = 400, out = out, buckets = 2,
      quality = "accurate", twoPass = true))
    val job = spark.read.parquet(out)
    assert(job.columns.contains("pass"))
    assert(job.count() == 400)
    // Lineage names the two passes, not the single-pass --quality.
    assert(lineage.nonEmpty && lineage.forall(_.quality == "fast+accurate"),
      lineage.map(_.quality))
    val qualities = job.select("quality").distinct().as[String].collect().toSet
    assert(qualities.subsetOf(Set("fast", "accurate")), qualities)
    val files = parquetFilesPerBucket(out)
    assert(files.size == 2 && files.values.forall(_ == 1), files)
    val lib = TwoPass.extract(kernelPages(400))
    val a = job.select("url", "pass", "word_count").orderBy("url")
      .collect().map(_.toString).toSeq
    val b = lib.select("url", "pass", "word_count").orderBy("url")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }
}

package graft.app

import graft.SparkSuite
import graft.synth.PageGen
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** `--slim` is a projection of the kernel's full record: the projection
  * must keep the nested per-page serializers out of the kernel stage's
  * generated code, or the flat schema would cost as much to encode as
  * the full one.
  */
class SlimCodegenSpec extends SparkSuite {

  test("the --slim write frame never evaluates the nested serializers") {
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val recs = ExtractJob.slim(ExtractJob.extractKernel(PageGen.generate(spark, 40), "fast"))
        .withColumn("bucket", ExtractJob.bucketExpr(4))
      val frame = ExtractJob.observeLineage(recs, 4)._1
      assert(frame.collect().length == 40)
      // After the action, the adaptive plan is the final one.
      val stages = codegenStringSeq(frame.queryExecution.executedPlan)
      // The whole-stage-codegen stage (`*(n)`) that encodes the record.
      val fused = """\*\(\d+\) SerializeFromObject .*graft\.model\.ExtractionRecord""".r
      val serialize = stages.filter(s => fused.findFirstIn(s._1).isDefined)
      assert(serialize.length == 1, stages.map(_._1).mkString("\n\n"))
      val code = serialize.head._2
      // Accessor calls, dot included: `total_pages()` is a flat column.
      assert(code.contains(".url()"), code)
      for (nested <- Seq(".pages()", ".page_errors()", ".text_pages()"))
        assert(!code.contains(nested), s"$nested in\n$code")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }
}

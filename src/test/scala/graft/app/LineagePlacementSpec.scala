package graft.app

import graft.SparkSuite
import graft.synth.PageGen
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan, RepartitionByExpression}

/** Where ExtractJob's lineage observation sits in a wave's write frame. */
class LineagePlacementSpec extends SparkSuite {

  private def bucketExchanges(p: LogicalPlan): Seq[RepartitionByExpression] =
    p.collect { case r: RepartitionByExpression
      if r.partitionExpressions.exists(_.references.exists(_.name == "bucket")) => r }

  test("lineage observation sits above the bucket exchange, in the write's result stage") {
    val recs = ExtractJob.extractKernel(PageGen.generate(spark, 20), "fast", slim = true)
      .withColumn("bucket", ExtractJob.bucketExpr(4))
    val plan = ExtractJob.observeLineage(recs, 4)._1.queryExecution.analyzed
    val observed = plan.collect { case c: CollectMetrics => c }
    assert(observed.length == 1, plan.treeString)
    assert(bucketExchanges(observed.head.child).length == 1, plan.treeString)
    assert(bucketExchanges(plan).length == 1, plan.treeString)
  }
}

package graft.tools

import graft.SparkEntry
import graft.app.SparkUtil

/** Execute one query and print its FINAL adaptive physical plan
  * (iteration aid for exchange-reuse / join-strategy checks):
  *   sbt -batch "runMain graft.tools.PlanProbe <name> [sfDir]"
  * Parallelism follows SPARK_GRAFT_CPUS (app.SparkUtil.session).
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkUtil.session("graft-plan-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    // collect() (not .write) so THIS plan executes and the printed
    // AdaptiveSparkPlan is the final one (isFinalPlan=true).
    df.collect()
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}

package graft.tools

import graft.SparkEntry
import graft.app.SparkUtil
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** Time SparkEntry queries one after another, each into a noop sink that
  * counts its output rows on the way (iteration aid):
  *   sbt -batch "runMain graft.tools.TimeQuery <sfDir> <name...>"
  * Parallelism follows SPARK_GRAFT_CPUS (app.SparkUtil.session).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQuery <sfDir> <name...>")
    val sfDir = args(0)
    val spark = SparkUtil.session("graft-time-query")
    spark.sparkContext.setLogLevel("ERROR")
    try args.drop(1).foreach { name =>
      val obs = Observation(s"rows_$name")
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name%-32s $secs%8.3f s  (${obs.get("rows")} rows)")
    } finally spark.stop()
  }
}

package graft

import graft.app.TableIO
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, RelationProvider, TableScan}
import org.apache.spark.sql.types.StructType

/** A minimal registered data source that is NOT parquet: proves
  * TableIO's format seam routes every read/append through
  * `spark.read.format(F)` / `df.write.format(F)` with F taken from the
  * configuration, which is exactly the call shape an Iceberg deployment
  * uses (`SPARK_GRAFT_TABLE_FORMAT=iceberg` + catalog jars on the
  * submit classpath). The Iceberg jars themselves are not in the
  * sandbox — this boundary is documented in TableIO — so the seam is
  * exercised against this stand-in format instead of being left
  * compile-time-only.
  */
class TestTableFormat extends RelationProvider with CreatableRelationProvider {
  private def rel(ctx: SQLContext, path: String): BaseRelation = {
    val df = ctx.sparkSession.read.parquet(path)
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
      override def buildScan(): RDD[Row] = df.rdd
    }
  }
  override def createRelation(ctx: SQLContext,
      params: Map[String, String]): BaseRelation =
    rel(ctx, params("path"))
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      params: Map[String, String], data: DataFrame): BaseRelation = {
    data.write.mode(mode).parquet(params("path"))
    rel(ctx, params("path"))
  }
}

class TableFormatSpec extends SparkSuite {

  test("TableIO read/append route through the configured non-parquet format") {
    import spark.implicits._
    val dir = tmpDir("tablefmt") + "/t"
    sys.props("graft.table.format") = classOf[TestTableFormat].getName
    try {
      assert(TableIO.format == classOf[TestTableFormat].getName)
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      TableIO.append(df, dir)
      TableIO.append(df.withColumn("id", org.apache.spark.sql.functions.col("id") + 10), dir)
      val back = TableIO.read(spark, dir)
      assert(back.count() == 4)
      assert(back.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 11L, 12L))
      // The read genuinely went through the custom source, not parquet.
      assert(back.queryExecution.logical.toString.toLowerCase
        .contains("testtableformat"))
    } finally sys.props.remove("graft.table.format")
  }

  test("format default stays parquet") {
    assert(TableIO.format == "parquet")
  }
}

package graft.app

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The single seam between the engine and its table format (SURVEY.md
  * §7.5 risk 6). In the sandbox this is partitioned Parquet; a cluster
  * deployment sets `SPARK_GRAFT_TABLE_FORMAT=iceberg` (jars + catalog
  * conf provided by spark-submit) and every read/write below switches
  * format without touching pipeline code. The semantics the pipeline
  * relies on — idempotent per-partition overwrite, append-only lineage,
  * status-filtered reads — match Iceberg's snapshot-append/dynamic-
  * overwrite behavior by construction.
  */
object TableIO {

  /** Format resolution: JVM property first (test seam — env vars can't
    * be set in-process), then the deployment env var, then parquet.
    * A cluster run sets SPARK_GRAFT_TABLE_FORMAT=iceberg on the driver
    * and executors via spark-submit conf.
    */
  def format: String =
    sys.props.getOrElse("graft.table.format",
      sys.env.getOrElse("SPARK_GRAFT_TABLE_FORMAT", "parquet"))

  /** Read a table (input pages, results, lineage) in the configured format. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(format).load(path)

  /** Append rows (lineage/metrics tables). */
  def append(df: DataFrame, path: String): Unit =
    df.write.format(format).mode(SaveMode.Append).save(path)

  /** Dynamic-overwrite a partitioned results table: only the partitions
    * present in `df` are replaced (requires
    * spark.sql.sources.partitionOverwriteMode=dynamic, set by the job).
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.format(format).mode(SaveMode.Overwrite)
      .partitionBy(partitionCol).save(path)
}

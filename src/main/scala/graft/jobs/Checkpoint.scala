package graft.jobs

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Per-bucket lineage row appended to the checkpoint table after a
  * bucket's results are durably written (SURVEY.md §2.9 I5 — the
  * graft-added idempotent-resume requirement; the reference's in-memory
  * `InMemoryJobStore`, service/jobs.py:104-135, loses jobs on restart).
  *
  * Sandbox realization: parquet append keyed by (run_id, bucket). In
  * production the same rows land in an Iceberg table whose snapshot
  * append gives atomic visibility; the write calls are isolated here so
  * the swap is one-file (SURVEY.md §7.5 risk 6).
  */
final case class LineageRow(
    run_id: String,
    bucket: Int,
    status: String, // "completed" (rows only appear once durable)
    docs: Long,
    ok_docs: Long,
    error_docs: Long,
    words: Long,
    quality: String,
    completed_ts: java.sql.Timestamp)

object Checkpoint {

  /** Buckets already completed for this run_id. Small by construction
    * (≤ numBuckets rows) — collected to the driver and broadcast as an
    * isin filter, never a shuffle.
    *
    * Empty only when no lineage was ever committed: the table is absent,
    * or its directory holds nothing but `_`/`.`-prefixed entries (a
    * first `append` killed after the committer made `_temporary/`). Any
    * other read failure (a corrupt footer, a permission error, a schema
    * change) stops the job naming the path: treating it as "nothing
    * done" would rerun and overwrite every bucket.
    */
  def completedBuckets(spark: SparkSession, path: String, runId: String): Set[Int] = {
    if (!hasData(spark, path)) return Set.empty
    try {
      graft.app.TableIO.read(spark, path)
        .where(col("run_id") === runId && col("status") === "completed")
        .select("bucket").distinct()
        .collect().map(_.getInt(0)).toSet
    } catch {
      case e: Exception =>
        throw new java.io.IOException(s"checkpoint table unreadable at $path: ${e.getMessage}", e)
    }
  }

  /** Append lineage rows for buckets whose results were just written. */
  def append(spark: SparkSession, path: String, rows: Seq[LineageRow]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      graft.app.TableIO.append(rows.toDF().coalesce(1), path)
  }

  /** Retention delete analog of the reference's 24h job expiry
    * (service/jobs.py:125-135): rewrite the table keeping young rows.
    * (Iceberg: `DELETE WHERE completed_ts < now() - INTERVAL 24 HOURS`.)
    */
  def cleanupExpired(spark: SparkSession, path: String, ttlHours: Int = 24): Long = {
    if (!hasData(spark, path)) return 0L
    val df = graft.app.TableIO.read(spark, path).cache()
    try {
      val cutoff = new java.sql.Timestamp(System.currentTimeMillis() - ttlHours * 3600L * 1000L)
      val keep = df.where(col("completed_ts") >= lit(cutoff))
      val dropped = df.count() - keep.count()
      if (dropped > 0) {
        val tmp = path + ".tmp"
        keep.write.format(graft.app.TableIO.format).mode(SaveMode.Overwrite).save(tmp)
        val live = new Path(path)
        val bak = new Path(path + ".old")
        val fs = fileSystem(spark, live)
        // A Hadoop rename onto an existing directory moves the source
        // into it, so the second rename must not run after a failed first.
        if (!fs.rename(live, bak) || !fs.rename(new Path(tmp), live))
          throw new java.io.IOException(s"checkpoint swap failed at $path")
        fs.delete(bak, true)
      }
      dropped
    } finally df.unpersist()
  }

  // Paths go through the Hadoop FileSystem, so a `file:`, `hdfs:` or
  // `s3a:` checkpoint resolves like a plain local path does.
  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Hidden entries (`_temporary`, `_SUCCESS`, `.crc` files) are what
  // Hadoop's committer and checksummed filesystem leave; readers skip them.
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fileSystem(spark, p)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }
}

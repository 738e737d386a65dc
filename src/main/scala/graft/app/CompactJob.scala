package graft.app

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for the bucket-partitioned results layout
  * (`bucket=NN/part-*.parquet`) that ExtractJob writes — the standard
  * table-maintenance pass a long-lived 100 TB corpus needs once other
  * writers leave buckets fragmented (ExtractJob itself writes one file
  * per bucket per wave). Per bucket, if the file count exceeds
  * ceil(bytes / targetBytes), the partition is rewritten into that many
  * files.
  *
  * Commit protocol (directory renames — atomic on HDFS/POSIX; object
  * stores take the Iceberg table format through TableIO, which owns
  * its own commits):
  *   1. write the rewritten partition to `.bucket=NN.compact_tmp`;
  *   2. rename live → `.bucket=NN.compact_old`;
  *   3. rename tmp → live;
  *   4. delete old.
  * The work dirs start with `.`, so Spark's file index skips them as it
  * skips its own `.spark-staging-*` dirs. A plain reader of the table
  * root therefore sees the bucket's old rows up to step 2, no rows of
  * that bucket between steps 2 and 3, and the new rows from step 3 on:
  * never both, and every other bucket unchanged throughout. (Without the
  * dot, a `bucket=NN.compact_tmp` sibling is read as one more partition
  * value: every row twice and `bucket` typed as a string.) The job must
  * own the table during the swap for readers to never see the gap.
  *
  * A crash between 2 and 3 leaves only the old dir; recovery (run at
  * every start) renames it back. A crash after 3 leaves a stale old dir
  * next to a complete live dir; recovery deletes it, and any tmp dir.
  * Data loss would need a crash INSIDE a rename.
  *
  * Scale shape: planning is pure file-listing (driver, O(files));
  * each rewrite is one narrow read→coalesce→write job per bucket, no
  * shuffle; buckets rewrite independently, so a scheduler can spread
  * them across a cluster or run them incrementally.
  */
object CompactJob {

  final case class Plan(bucket: String, files: Int, bytes: Long, outFiles: Int)

  /** A bucket's swap work dirs, (tmp, old). */
  private[graft] def workDirs(root: Path, bucket: String): (Path, Path) =
    (new Path(root, s".$bucket.compact_tmp"), new Path(root, s".$bucket.compact_old"))

  private val WorkDir = """\.(bucket=.+)\.compact_(tmp|old)""".r

  def recover(fs: FileSystem, root: Path): Int = {
    var restored = 0
    fs.listStatus(root).filter(_.isDirectory).foreach { s =>
      s.getPath.getName match {
        case WorkDir(bucket, "old") =>
          val live = new Path(root, bucket)
          if (!fs.exists(live)) { fs.rename(s.getPath, live); restored += 1 }
          else fs.delete(s.getPath, true)
        // An orphaned tmp dir is always safe to drop: the live dir
        // still holds the data (tmp only replaces it at step 3).
        case WorkDir(_, "tmp") => fs.delete(s.getPath, true)
        case _ =>
      }
    }
    restored
  }

  private def parquetFiles(fs: FileSystem, bucketDir: Path): Seq[FileStatus] =
    fs.listStatus(bucketDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.getName)

  def plan(fs: FileSystem, root: Path, targetBytes: Long): Seq[Plan] =
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap { dir =>
        val parts = parquetFiles(fs, dir.getPath)
        val bytes = parts.map(_.getLen).sum
        val outFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        if (parts.length > outFiles)
          Some(Plan(dir.getPath.getName, parts.length, bytes, outFiles))
        else None
      }.toSeq.sortBy(_.bucket)

  /** Compacts in place; returns (bucketsCompacted, filesBefore, filesAfter).
    *
    * `sortCols` additionally CLUSTERS each rewritten partition
    * (sortWithinPartitions) — compaction is the one moment the data is
    * being rewritten anyway, so locality comes shuffle-free: sorted
    * row groups give parquet min/max stats that let later scans with
    * a predicate on the sort key skip row groups wholesale (the same
    * reason Iceberg/Delta pair rewrite-files with a sort order).
    */
  def run(spark: SparkSession, inDir: String,
      targetBytes: Long = DefaultTargetBytes,
      sortCols: Seq[String] = Nil): (Int, Int, Int) = {
    // 0 would plan Int.MaxValue output files (nothing compacts) and a
    // negative target one file per bucket.
    require(targetBytes > 0, s"--target-bytes must be > 0, got $targetBytes")
    // Compaction reads and writes parquet bucket directories itself; under
    // any other table format it would find no buckets and report success.
    require(TableIO.format == "parquet",
      s"compaction needs the parquet table format, got '${TableIO.format}'")
    val root = new Path(inDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, root)
    val todo = plan(fs, root, targetBytes)
    todo.foreach { p =>
      val live = new Path(root, p.bucket)
      val (tmp, old) = workDirs(root, p.bucket)
      val df = spark.read.parquet(parquetFiles(fs, live).map(_.getPath.toString): _*)
        .coalesce(p.outFiles)
      (if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
       else df)
        .write.mode("overwrite").parquet(tmp.toString)
      require(fs.rename(live, old), s"rename live->old failed for ${p.bucket}")
      require(fs.rename(tmp, live), s"rename tmp->live failed for ${p.bucket}")
      fs.delete(old, true)
    }
    (todo.size, todo.map(_.files).sum, todo.map(_.outFiles).sum)
  }

  private val DefaultTargetBytes: Long = 128L * 1024 * 1024

  // Usage: CompactJob --in DIR [--target-bytes N] [--sort c1,c2]
  // (default target 128 MiB; --sort clusters each rewritten partition)
  private final case class Args(in: String = "", targetBytes: Long = DefaultTargetBytes,
      sort: Seq[String] = Nil)

  private val flags: Map[String, Flags.Flag[Args]] = Map(
    "--in" -> Flags.Valued((a, v) => a.copy(in = v.str)),
    "--target-bytes" -> Flags.Valued((a, v) => a.copy(targetBytes = v.long)),
    "--sort" -> Flags.Valued((a, v) => a.copy(sort = v.str.split(",").toSeq)))

  def main(argv: Array[String]): Unit = {
    val a = Flags.parse(argv, Args(), flags)
    require(a.in.nonEmpty, "--in is required")
    val spark = SparkUtil.session("graft-compact")
    val t0 = System.nanoTime()
    val (n, before, after) = run(spark, a.in, a.targetBytes, a.sort)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"compact","buckets_compacted":$n,"files_before":$before,"files_after":$after,"sec":$secs%.3f}""")
    spark.stop()
  }
}

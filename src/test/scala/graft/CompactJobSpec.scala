package graft

import graft.app.{CompactJob, TableIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Small-file compaction: row-set preservation, idempotence, the
  * rename protocol as readers see it, and crash recovery.
  */
class CompactJobSpec extends SparkSuite {

  private def mkFragmented(dir: String, buckets: Int, filesPer: Int): Unit = {
    import spark.implicits._
    (0 until buckets).foreach { b =>
      val df = (0 until 40).map(i => (b.toLong * 1000 + i, s"doc-$b-$i")).toDF("id", "text")
      df.repartition(filesPer).write.mode("overwrite").parquet(s"$dir/bucket=$b")
    }
  }

  private def partFiles(dir: String): Seq[String] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter(_.isDirectory).flatMap(d =>
      fs.listStatus(d.getPath).filter(f => f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)).toSeq
  }

  test("compaction preserves the row set, shrinks file count, and is idempotent") {
    import spark.implicits._
    val dir = tmpDir("compact_in")
    mkFragmented(dir, buckets = 6, filesPer = 5)
    assert(partFiles(dir).size == 30)
    val before = spark.read.parquet(s"$dir/bucket=*")
      .as[(Long, String)].collect().toSet

    val (n, fb, fa) = CompactJob.run(spark, dir)
    assert(n == 6 && fb == 30 && fa == 6)
    assert(partFiles(dir).size == 6)
    val after = spark.read.parquet(s"$dir/bucket=*").as[(Long, String)].collect().toSet
    assert(after == before)

    // Second run: nothing left to do.
    val (n2, _, _) = CompactJob.run(spark, dir)
    assert(n2 == 0)
    assert(partFiles(dir).size == 6)
  }

  test("--target-bytes <= 0 is rejected naming the flag, and the table is left as it was") {
    // At 0 the plan asked for Int.MaxValue files per bucket (nothing
    // compacted); at -1 for one file per bucket.
    val dir = tmpDir("compact_bad_target")
    mkFragmented(dir, buckets = 2, filesPer = 3)
    val files = partFiles(dir).toSet
    for (t <- Seq(0L, -1L)) {
      val e = intercept[IllegalArgumentException](CompactJob.run(spark, dir, targetBytes = t))
      assert(e.getMessage.contains("--target-bytes"), e.getMessage)
      assert(partFiles(dir).toSet == files)
    }
  }

  test("--sort clusters each rewritten partition (rows come back ordered)") {
    import spark.implicits._
    val dir = tmpDir("compact_sort")
    mkFragmented(dir, buckets = 3, filesPer = 4)
    val (n, _, _) = CompactJob.run(spark, dir, sortCols = Seq("text"))
    assert(n == 3)
    (0 until 3).foreach { b =>
      // One file per bucket after compaction → read order is file
      // order; the sort key must be non-decreasing, which is what
      // gives parquet row-group min/max stats their pruning power.
      val texts = spark.read.parquet(s"$dir/bucket=$b").select("text")
        .as[String].collect().toSeq
      assert(texts == texts.sorted, s"bucket $b not clustered")
    }
    assert(spark.read.parquet(s"$dir/bucket=*").count() == 120)
  }

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("recovery restores a bucket stranded mid-swap and drops stale tmp/old dirs") {
    val dir = tmpDir("compact_rec")
    mkFragmented(dir, buckets = 2, filesPer = 3)
    val root = new Path(dir)
    val fs = fsOf(dir)
    val (_, old0) = CompactJob.workDirs(root, "bucket=0")
    val (tmp1, old1) = CompactJob.workDirs(root, "bucket=1")

    // Crash between rename(live -> old) and rename(tmp -> live):
    // only the old dir exists for bucket=0.
    fs.rename(new Path(dir, "bucket=0"), old0)
    // Crash after step 3 for bucket=1: live is intact, a stale old
    // copy remains; plus an orphaned tmp dir that must be dropped.
    fs.mkdirs(old1)
    fs.mkdirs(tmp1)

    val (n, _, _) = CompactJob.run(spark, dir) // runs recover() first
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(names == Set("bucket=0", "bucket=1"), names.toString)
    assert(n >= 1) // the restored fragmented bucket gets compacted
    assert(spark.read.parquet(s"$dir/bucket=*").count() == 80)
  }

  test("readers of the table root see old or new rows, never both, at every step of the swap") {
    val dir = tmpDir("compact_swap")
    mkFragmented(dir, buckets = 2, filesPer = 3)
    val root = new Path(dir)
    val fs = fsOf(dir)
    val live = new Path(root, "bucket=0")
    val (tmp, old) = CompactJob.workDirs(root, "bucket=0")
    // (id, text, bucket) multiset, sorted; `bucket` as its string form
    // so a mistyped column still compares.
    def rows(df: DataFrame): Seq[String] =
      df.select(concat_ws("|", col("id"), col("text"), col("bucket").cast("string")))
        .collect().map(_.getString(0)).toSeq.sorted
    val all = rows(spark.read.parquet(dir))
    assert(all.size == 80)
    def readersSee(expected: Seq[String], step: String): Unit =
      for ((reader, df) <- Seq("spark.read.parquet" -> spark.read.parquet(dir),
          "TableIO.read" -> TableIO.read(spark, dir))) {
        val got = rows(df)
        val (extra, missing) = (got.diff(expected), expected.diff(got))
        assert(extra.isEmpty && missing.isEmpty, s"$reader after $step: ${got.size} rows, " +
          s"${extra.size} unexpected (${extra.take(2)}), ${missing.size} missing (${missing.take(2)})")
        assert(df.schema("bucket").dataType == IntegerType, s"$reader after $step: ${df.schema}")
      }

    // Step 1: the rewrite lands in the tmp dir, exactly as run() writes it.
    spark.read.parquet(fs.listStatus(live).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toIndexedSeq: _*)
      .coalesce(1).write.parquet(tmp.toString)
    readersSee(all, "tmp is written")
    // Step 2: live parked as old; only bucket 0 is missing.
    assert(fs.rename(live, old))
    readersSee(all.filterNot(_.endsWith("|0")), "live is renamed to old")
    // Step 3: tmp is live, old not yet deleted.
    assert(fs.rename(tmp, live))
    readersSee(all, "tmp is renamed to live")
    assert(fs.listStatus(live).count(_.getPath.getName.endsWith(".parquet")) == 1)
  }

  test("compaction refuses a non-parquet table format before writing anything") {
    val dir = tmpDir("compact_fmt")
    mkFragmented(dir, buckets = 2, filesPer = 3)
    val files = partFiles(dir).toSet
    val fmt = classOf[TestTableFormat].getName
    sys.props("graft.table.format") = fmt
    try {
      val e = intercept[IllegalArgumentException](CompactJob.run(spark, dir))
      assert(e.getMessage.contains(fmt), e.getMessage)
      assert(partFiles(dir).toSet == files)
    } finally sys.props.remove("graft.table.format")
  }
}

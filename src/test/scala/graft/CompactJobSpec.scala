package graft

import graft.app.CompactJob
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Small-file compaction: row-set preservation, idempotence, and the
  * crash-recovery rename protocol.
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

  test("ExtractJob --compact-target folds compaction into the job run") {
    import graft.app.ExtractJob
    val frag = tmpDir("xjob_frag")
    val tidy = tmpDir("xjob_tidy")
    // no-write-shuffle + repartition fragments each bucket (one file
    // per input partition) — the layout an incremental corpus accretes.
    ExtractJob.run(spark, ExtractJob.Args(rows = 600, out = frag, buckets = 4,
      writeShuffle = false, repartition = 5))
    assert(partFiles(frag).size > 4)
    ExtractJob.run(spark, ExtractJob.Args(rows = 600, out = tidy, buckets = 4,
      writeShuffle = false, repartition = 5, compactTarget = 128L * 1024 * 1024))
    assert(partFiles(tidy).size == 4, partFiles(tidy).mkString(","))
    // Identical content either way.
    val a = spark.read.parquet(s"$frag/bucket=*").select("url").collect().map(_.getString(0)).sorted
    val b = spark.read.parquet(s"$tidy/bucket=*").select("url").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("recovery restores a bucket stranded mid-swap and drops stale tmp/old dirs") {
    val dir = tmpDir("compact_rec")
    mkFragmented(dir, buckets = 2, filesPer = 3)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Crash between rename(live -> old) and rename(tmp -> live):
    // only the .compact_old dir exists for bucket=0.
    fs.rename(new Path(dir, "bucket=0"), new Path(dir, "bucket=0.compact_old"))
    // Crash after step 3 for bucket=1: live is intact, a stale old
    // copy remains; plus an orphaned tmp dir that must be dropped.
    fs.mkdirs(new Path(dir, "bucket=1.compact_old"))
    fs.mkdirs(new Path(dir, "bucket=1.compact_tmp"))

    val (n, _, _) = CompactJob.run(spark, dir) // runs recover() first
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(names == Set("bucket=0", "bucket=1"), names.toString)
    assert(n >= 1) // the restored fragmented bucket gets compacted
    assert(spark.read.parquet(s"$dir/bucket=*").count() == 80)
  }

  // ---- manifest commit mode (object-store-safe protocol) ----

  import graft.app.{ManifestIO, TableIO}

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("manifest mode: row set preserved, manifest authoritative, idempotent") {
    import spark.implicits._
    val dir = tmpDir("compact_m")
    mkFragmented(dir, buckets = 4, filesPer = 5)
    val before = TableIO.read(spark, dir).select("id", "text")
      .as[(Long, String)].collect().toSet

    val (n, fb, fa) = CompactJob.run(spark, dir, commitMode = "manifest")
    assert(n == 4 && fb == 20 && fa == 4)
    val fs = fsOf(dir)
    (0 until 4).foreach { b =>
      val bd = new Path(dir, s"bucket=$b")
      val manifest = ManifestIO.readManifest(fs, bd)
      assert(manifest.isDefined, s"bucket $b missing manifest")
      // Manifest lists exactly the on-disk parquet files (old ones gone).
      val onDisk = fs.listStatus(bd)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.getName).toSet
      assert(manifest.get.toSet == onDisk, s"bucket $b manifest/on-disk drift")
      assert(onDisk.size == 1 && onDisk.forall(_.startsWith("compact-")))
    }
    val after = TableIO.read(spark, dir).select("id", "text")
      .as[(Long, String)].collect().toSet
    assert(after == before)
    // The `bucket` partition column survives the manifest-aware read.
    assert(TableIO.read(spark, dir).select("bucket").distinct().count() == 4)
    val (n2, _, _) = CompactJob.run(spark, dir, commitMode = "manifest")
    assert(n2 == 0)
  }

  test("manifest mode crash before commit (m2): reader sees OLD data, recovery sweeps stage debris") {
    import spark.implicits._
    val dir = tmpDir("compact_m_pre")
    mkFragmented(dir, buckets = 1, filesPer = 4)
    val fs = fsOf(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val bd = new Path(dir, "bucket=0")
    val before = TableIO.read(spark, dir).select("id").as[Long].collect().toSet

    // Reconstruct the m0–m2 crash state: manifest adopted the legacy
    // files, the rewrite landed in the live dir as unreferenced
    // compact-* files, and _manifest.tmp was being written when the
    // job died.
    val legacy = ManifestIO.liveFiles(fs, bd).map(_.getName)
    ManifestIO.commit(conf, fs, bd, legacy) // m0
    spark.read.parquet(bd.toString).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bucket=0.compact_stage") // m1
    val staged = fs.listStatus(new Path(s"$dir/bucket=0.compact_stage"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(staged, new Path(bd, "compact-deadbeef-00000.parquet")) // m2
    val tmpManifest = new Path(bd, ManifestIO.ManifestFile + ".tmp")
    fs.create(tmpManifest, true).close()

    // Readers at this instant: old manifest authoritative — same rows,
    // no duplicates, despite the staged file sitting in the live dir.
    assert(TableIO.read(spark, dir).select("id").as[Long].collect().toSet == before)
    assert(TableIO.read(spark, dir).count() == 40) // would be 80 if duplicated

    // Recovery (any later CompactJob.run) sweeps the unreferenced file,
    // the tmp manifest, and the stage dir; data unchanged.
    CompactJob.run(spark, dir, commitMode = "manifest")
    assert(!fs.exists(new Path(bd, "compact-deadbeef-00000.parquet")))
    assert(!fs.exists(tmpManifest))
    assert(!fs.exists(new Path(s"$dir/bucket=0.compact_stage")))
    assert(TableIO.read(spark, dir).select("id").as[Long].collect().toSet == before)
  }

  test("manifest read ignores debris dirs still holding parquet (m1 crash / concurrent rewrite)") {
    import spark.implicits._
    val dir = tmpDir("compact_m_m1")
    mkFragmented(dir, buckets = 2, filesPer = 2)
    val fs = fsOf(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val bd = new Path(dir, "bucket=0")
    val before = TableIO.read(spark, dir).select("id").as[Long].collect().toSet

    // m0 committed, then the job died DURING m1: the stage dir still
    // holds the full rewritten parquet — nothing moved into the live
    // dir yet. Plus rename-mode debris beside the other bucket. Both
    // dir names start with "bucket=", which a prefix match would count
    // as extra legacy buckets and double the rows.
    ManifestIO.commit(conf, fs, bd, ManifestIO.liveFiles(fs, bd).map(_.getName))
    spark.read.parquet(bd.toString).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bucket=0.compact_stage")
    spark.read.parquet(s"$dir/bucket=1").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bucket=1.compact_old")

    // A reader at this instant sees exactly the committed sets.
    assert(TableIO.read(spark, dir).count() == 80, "debris parquet surfaced as extra buckets")
    assert(TableIO.read(spark, dir).select("id").as[Long].collect().toSet == before)
    assert(TableIO.read(spark, dir).select("bucket").distinct().count() == 2)

    // Recovery sweeps both debris dirs; data unchanged.
    CompactJob.run(spark, dir, commitMode = "manifest")
    assert(!fs.exists(new Path(s"$dir/bucket=0.compact_stage")))
    assert(!fs.exists(new Path(s"$dir/bucket=1.compact_old")))
    assert(TableIO.read(spark, dir).select("id").as[Long].collect().toSet == before)
  }

  test("manifest mode crash after commit (m3): reader sees NEW data, recovery deletes old files") {
    import spark.implicits._
    val dir = tmpDir("compact_m_post")
    mkFragmented(dir, buckets = 1, filesPer = 4)
    val fs = fsOf(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val bd = new Path(dir, "bucket=0")
    val before = TableIO.read(spark, dir).select("id").as[Long].collect().toSet
    val oldNames = ManifestIO.liveFiles(fs, bd).map(_.getName)

    // Reconstruct the m3→m4 crash state: compacted file moved in AND
    // manifest committed to it, but the old files were never deleted.
    spark.read.parquet(bd.toString).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/bucket=0.compact_stage")
    val staged = fs.listStatus(new Path(s"$dir/bucket=0.compact_stage"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(staged, new Path(bd, "compact-cafebabe-00000.parquet"))
    fs.delete(new Path(s"$dir/bucket=0.compact_stage"), true)
    ManifestIO.commit(conf, fs, bd, Seq("compact-cafebabe-00000.parquet"))

    // Readers: new manifest authoritative — same row set through the
    // new file only, old files invisible (no duplicates).
    assert(TableIO.read(spark, dir).count() == 40)
    assert(TableIO.read(spark, dir).select("id").as[Long].collect().toSet == before)

    CompactJob.run(spark, dir, commitMode = "manifest")
    oldNames.foreach(nm => assert(!fs.exists(new Path(bd, nm)), s"stale $nm survived"))
    assert(TableIO.read(spark, dir).select("id").as[Long].collect().toSet == before)
  }

  test("partition overwrite reverts a manifested bucket to legacy layout consistently") {
    import graft.app.ExtractJob
    val out = tmpDir("compact_m_xjob")
    ExtractJob.run(spark, ExtractJob.Args(rows = 300, out = out, buckets = 2,
      writeShuffle = false, repartition = 4))
    CompactJob.run(spark, out, commitMode = "manifest")
    val fs = fsOf(out)
    assert(ManifestIO.readManifest(fs, new Path(out, "bucket=0")).isDefined)
    val docs = TableIO.read(spark, out).count()

    // Re-extraction overwrites both buckets dynamically: the manifests
    // vanish with the partition dirs and reads stay exact.
    ExtractJob.run(spark, ExtractJob.Args(rows = 300, out = out, buckets = 2,
      writeShuffle = false, repartition = 4))
    assert(ManifestIO.readManifest(fs, new Path(out, "bucket=0")).isEmpty)
    assert(TableIO.read(spark, out).count() == docs)
    // And the lineage metrics path (TableIO.read inside the job) saw no
    // duplicates either: urls are unique.
    val d = TableIO.read(spark, out)
    assert(d.select("url").distinct().count() == d.count())
  }
}

package graft.app

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file compaction for the bucket-partitioned results layout
  * (`bucket=NN/part-*.parquet`) that ExtractJob writes — the standard
  * table-maintenance pass a long-lived 100 TB corpus needs: every
  * incremental wave/run appends its own part files, and a year of
  * appends turns scans into open-file storms. Per bucket, if the file
  * count exceeds ceil(bytes / targetBytes), the partition is rewritten
  * into that many files.
  *
  * Crash safety (filesystem-rename based — HDFS/local; object stores
  * want the commit-protocol variant, noted below):
  *   1. write the rewritten partition to `bucket=NN.compact_tmp`;
  *   2. rename live → `bucket=NN.compact_old`;
  *   3. rename tmp → live;
  *   4. delete old.
  * A crash between 2 and 3 leaves only the .compact_old dir; recovery
  * (run at every startup) renames it back. A crash after 3 leaves a
  * stale .compact_old next to a complete live dir; recovery deletes
  * it. At no point can a reader observe duplicates, and data loss
  * would need a crash INSIDE a rename, which HDFS/POSIX make atomic.
  * NOTE: between steps 2 and 3 a concurrent reader of the table ROOT
  * observes the bucket transiently absent — the job must own the table
  * during the swap (ExtractJob --compact-target satisfies this: it
  * compacts before the completion notification, so --notify consumers
  * only ever see the final layout).
  *
  * `--commit-mode manifest` replaces the directory renames with the
  * object-store-safe protocol (rename there is per-key copy+delete):
  *   m0. legacy bucket? commit a manifest of the CURRENT files first
  *       (pure metadata — readers see the same data);
  *   m1. write the rewrite to `bucket=NN.compact_stage`;
  *   m2. move staged parts INTO the live dir under unique
  *       `compact-<token>-*.parquet` names (unreferenced ⇒ invisible
  *       to manifest-aware readers, so non-atomic per-file moves are
  *       safe);
  *   m3. commit: atomically swap `_manifest` to list the new names
  *       (single small file — ManifestIO);
  *   m4. delete the previously-live files.
  * A crash before m3 leaves the old manifest authoritative (readers:
  * old data, no duplicates, bucket never absent); after m3 the new one
  * is (readers: new data); recovery deletes whatever the manifest
  * doesn't reference. TableIO.read resolves manifests transparently,
  * and ExtractJob's dynamic partition overwrite deletes the bucket dir
  * wholesale (manifest included) so re-extraction reverts the bucket
  * to the legacy layout. In a real S3 deployment the same protocol is
  * Iceberg's rewrite-files action; this variant makes its crash points
  * executable in the sandbox (CompactJobSpec).
  *
  * Scale shape: planning is pure file-listing (driver, O(files));
  * each rewrite is one narrow read→coalesce→write job per bucket, no
  * shuffle; buckets rewrite independently, so a scheduler can spread
  * them across a cluster or run them incrementally.
  */
object CompactJob {

  final case class Plan(bucket: String, files: Int, bytes: Long, outFiles: Int)

  def recover(fs: FileSystem, root: Path): Int = {
    val st = fs.listStatus(root)
    var restored = 0
    st.filter(s => s.isDirectory && s.getPath.getName.endsWith(".compact_old")).foreach { s =>
      val live = new Path(root, s.getPath.getName.stripSuffix(".compact_old"))
      if (!fs.exists(live)) { fs.rename(s.getPath, live); restored += 1 }
      else fs.delete(s.getPath, true)
    }
    // Orphaned tmp/stage dirs are always safe to drop: the live dir
    // still holds the data (tmp only replaces it at rename step 3;
    // staged files only become live once MOVED and manifest-committed).
    st.filter(s => s.isDirectory && (s.getPath.getName.endsWith(".compact_tmp")
        || s.getPath.getName.endsWith(".compact_stage")))
      .foreach(s => fs.delete(s.getPath, true))
    restored
  }

  /** Manifest-mode debris sweep: uncommitted `_manifest.tmp`, and — in
    * buckets WITH a committed manifest — any parquet file the manifest
    * doesn't reference (covers both crash-after-m2 staged files and
    * crash-after-m3 not-yet-deleted old files). Buckets without a
    * manifest are untouched: every file there is live by definition.
    * Returns the number of files deleted.
    */
  def recoverManifest(fs: FileSystem, root: Path): Int = {
    var deleted = 0
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .foreach { dir =>
        val tmp = new Path(dir.getPath, ManifestIO.ManifestFile + ".tmp")
        if (fs.exists(tmp)) { fs.delete(tmp, false); deleted += 1 }
        ManifestIO.readManifest(fs, dir.getPath).foreach { names =>
          val live = names.toSet
          fs.listStatus(dir.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")
              && !live(f.getPath.getName))
            .foreach { f => fs.delete(f.getPath, false); deleted += 1 }
        }
      }
    deleted
  }

  def plan(fs: FileSystem, root: Path, targetBytes: Long): Seq[Plan] =
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap { dir =>
        // Live set via the bucket's manifest when one is committed —
        // identical to a plain *.parquet listing otherwise.
        val parts = ManifestIO.liveFiles(fs, dir.getPath)
          .map(p => fs.getFileStatus(p))
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
      sortCols: Seq[String] = Nil,
      commitMode: String = "rename"): (Int, Int, Int) = {
    // 0 would plan Int.MaxValue output files (nothing compacts) and a
    // negative target one file per bucket.
    require(targetBytes > 0, s"--target-bytes must be > 0, got $targetBytes")
    require(commitMode == "rename" || commitMode == "manifest",
      s"unknown --commit-mode: $commitMode")
    val root = new Path(inDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    // Both recoveries always run: a table may carry debris from either
    // mode's history, and each is a no-op on the other's clean state.
    recover(fs, root)
    recoverManifest(fs, root)
    val todo = plan(fs, root, targetBytes)
    def rewrite(files: Seq[Path], outFiles: Int, dest: Path): Unit = {
      val df = spark.read.parquet(files.map(_.toString): _*).coalesce(outFiles)
      (if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
       else df)
        .write.mode("overwrite").parquet(dest.toString)
    }
    todo.foreach { p =>
      val live = new Path(root, p.bucket)
      if (commitMode == "rename") {
        val tmp = new Path(root, p.bucket + ".compact_tmp")
        val old = new Path(root, p.bucket + ".compact_old")
        rewrite(ManifestIO.liveFiles(fs, live), p.outFiles, tmp)
        require(fs.rename(live, old), s"rename live->old failed for ${p.bucket}")
        require(fs.rename(tmp, live), s"rename tmp->live failed for ${p.bucket}")
        fs.delete(old, true)
      } else {
        val oldFiles = ManifestIO.liveFiles(fs, live)
        // m0: a legacy bucket gets a metadata-only manifest of its
        // current files FIRST, so the staged files moved in at m2 are
        // unreferenced (invisible) rather than duplicating data for
        // listing-based resolution after a crash.
        if (ManifestIO.readManifest(fs, live).isEmpty)
          ManifestIO.commit(conf, fs, live, oldFiles.map(_.getName))
        val stage = new Path(root, p.bucket + ".compact_stage")
        rewrite(oldFiles, p.outFiles, stage) // m1
        val token = java.util.UUID.randomUUID().toString.take(8)
        val staged = fs.listStatus(stage)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).sortBy(_.getName)
        val names = staged.zipWithIndex.map { case (f, i) =>
          val n = f"compact-$token-$i%05d.parquet"
          require(fs.rename(f, new Path(live, n)), // m2
            s"staged move failed for ${p.bucket}/$n")
          n
        }.toSeq
        fs.delete(stage, true)
        ManifestIO.commit(conf, fs, live, names) // m3: THE commit
        oldFiles.foreach(f => fs.delete(f, false)) // m4: cleanup
      }
    }
    (todo.size, todo.map(_.files).sum, todo.map(_.outFiles).sum)
  }

  private val DefaultTargetBytes: Long = 128L * 1024 * 1024

  // Usage: CompactJob --in DIR [--target-bytes N] [--sort c1,c2]
  //   [--commit-mode rename|manifest]
  // (default target 128 MiB; --sort clusters each rewritten partition)
  private final case class Args(in: String = "", targetBytes: Long = DefaultTargetBytes,
      sort: Seq[String] = Nil, commitMode: String = "rename")

  private val flags: Map[String, Flags.Flag[Args]] = Map(
    "--in" -> Flags.Valued((a, v) => a.copy(in = v.str)),
    "--target-bytes" -> Flags.Valued((a, v) => a.copy(targetBytes = v.long)),
    "--sort" -> Flags.Valued((a, v) => a.copy(sort = v.str.split(",").toSeq)),
    "--commit-mode" -> Flags.Valued((a, v) => a.copy(commitMode = v.str)))

  def main(argv: Array[String]): Unit = {
    val a = Flags.parse(argv, Args(), flags)
    require(a.in.nonEmpty, "--in is required")
    val spark = SparkUtil.session("graft-compact")
    val t0 = System.nanoTime()
    val (n, before, after) = run(spark, a.in, a.targetBytes, a.sort, a.commitMode)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"compact","buckets_compacted":$n,"files_before":$before,"files_after":$after,"sec":$secs%.3f}""")
    spark.stop()
  }
}

package graft
import graft.app.SparkUtil
import graft.json.PyJson
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(sf, out) => (sf, out)
      case _ => throw new IllegalArgumentException("usage: Verify SF_DIR OUT_DIR")
    }
    prepareOut(outDir)
    val spark = SparkUtil.session("graft-verify")
    // Builder-iteration aid: SPARK_GRAFT_ONLY=q67_inverted_index,q73_…
    // dumps just those queries (the driver never sets it — full surface).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${PyJson.quote(k)}: ${PyJson.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Clean slate: a reused outDir must not keep results of queries that
    * no longer exist (renames would leave stale dirs beside the fresh
    * ones and misread as live surface). But NEVER wipe a directory this
    * tool didn't write: a mistyped --out pointing at a data directory
    * must refuse, not destroy. A previous Verify run is recognized by
    * its marker file; only then (or when empty) is the dir cleaned.
    * `main` runs this before the session starts, so a refused directory
    * fails before any Spark work.
    */
  def prepareOut(outDir: String): Unit = {
    val outRoot = new java.io.File(outDir)
    val marker = new java.io.File(outRoot, ".graft_verify")
    if (outRoot.exists()) {
      val entries = Option(outRoot.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      // A previous Verify output is recognized by its marker, or — for
      // outputs written before the marker existed — by shape: nothing
      // but per-query result dirs (q*/x* holding parquet) and
      // oracle_sql.json. Anything else (a data directory, a mistyped
      // path) refuses rather than being destroyed.
      // Query-key shape is strict (q01_pricing_summary, q53s_dedup_store,
      // x40_extract_balanced …): a bare "q1"/"quarterly" Spark output
      // dir must NOT match — only <q|x><digits>[letter]_<slug> does.
      val queryDirName = "^[qx][0-9]+[a-z]?_[a-z0-9_]+$".r
      def looksLikeVerifyArtifact(f: java.io.File): Boolean =
        f.getName == "oracle_sql.json" || f.getName == ".graft_verify" ||
          (f.isDirectory && queryDirName.matches(f.getName) &&
            Option(f.list()).exists(_.forall(n =>
              n.endsWith(".parquet") || n.endsWith(".crc") || n.startsWith("_") || n.startsWith("."))))
      // Unmarked dirs additionally require oracle_sql.json — every prior
      // Verify run wrote it, and a user data directory of coincidentally
      // query-shaped parquet dirs won't have it (ADVICE r4).
      val unmarkedIsVerifyOutput = entries.forall(looksLikeVerifyArtifact) &&
        entries.exists(_.getName == "oracle_sql.json")
      require(entries.isEmpty || marker.exists() || unmarkedIsVerifyOutput,
        s"refusing to clean non-empty $outDir: it is not a previous Verify " +
          "output (no .graft_verify marker, and no oracle_sql.json beside " +
          "query-shaped dirs). Pick an empty or fresh directory.")
      import scala.reflect.io.Directory
      entries.foreach(f => new Directory(f).deleteRecursively())
    }
    outRoot.mkdirs()
    Files.write(marker.toPath, Array.emptyByteArray)
  }
}

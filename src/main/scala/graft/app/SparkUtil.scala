package graft.app

import java.net.URI

import graft.plans.{GraftExtensions, GraftFunctions}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Session factory with the scale-relevant defaults applied in one place
  * (SURVEY.md §4.2): AQE with skew handling + partition coalescing, UTC
  * session time, shuffle partitions sized to the local core count
  * (cluster deployments override via spark-submit conf). It also installs
  * the engine's SQL functions (`GraftExtensions`), so every session it
  * builds, and every `newSession()` of one, can run the queries. An
  * active session built elsewhere is returned as it is by `getOrCreate`,
  * without those functions; the factory rejects it rather than let a
  * query fail later on an unresolved routine.
  */
object SparkUtil {

  /** `conf` entries are set after the defaults and override them;
    * `"spark.master"` there overrides an existing master too.
    */
  def session(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", cpus)
      // Spill safety at the 100 TB design point: 128 MB input splits
      // (default, made explicit) keep ~payload-dominated partitions well
      // under executor memory even with the kernel's transient DOM; the
      // only wide stages shuffle compact post-kernel records, sized by
      // shuffle.partitions ≈ cores (AQE coalesces further).
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      // Parquet output codec: zstd over snappy trades abundant CPU for
      // scarce memory-channel/storage bytes — measured on the job bench
      // (8M rows, local[16]): 19.4 s → 17.0 s (+12% throughput) and 4→16
      // scaling 0.70 → 0.82, because the parquet write's memcpy traffic
      // is the job's non-scaling term (BENCH.md, "Output codec A/B").
      // On a real cluster the same trade cuts storage + replication
      // bytes.
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // `file:` writes without a forked `chmod` per output file and
      // directory (no native libhadoop in the Spark jars); see LocalFs.
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
    // Respect an existing master (spark-submit); default to local[cpus].
    val withMaster =
      if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER"))
        b
      else b.master(s"local[$cpus]")
    val spark = conf.foldLeft(withMaster) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    val missing = GraftFunctions.entries.map(_._1.funcName).filterNot(spark.catalog.functionExists)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"the active Spark session lacks ${missing.mkString(", ")}: it was built without " +
        "this factory; build it with --conf spark.sql.extensions=graft.plans.GraftExtensions")
    spark.sparkContext.setLogLevel("WARN")
    // Hadoop caches one `file:` instance per user, whatever conf asked for
    // it: a stock one cached before this session was built would win.
    // Closing it evicts it (and runs its deleteOnExit paths now), so the
    // next lookup builds the configured class.
    val hconf = spark.sparkContext.hadoopConfiguration
    val local = FileSystem.get(URI.create("file:///"), hconf)
    if (hconf.get("fs.file.impl") == classOf[LocalFs].getName && !local.isInstanceOf[LocalFs])
      local.close()
    spark
  }
}

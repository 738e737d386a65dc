package graft

import graft.app.SparkUtil
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for Spark-level specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.shared

  /** A fresh temp directory, deleted with its contents at JVM exit. */
  def tmpDir(prefix: String): String = SparkSuite.tmpDir(prefix)

  /** `*.parquet` file count of each `bucket=NN` directory under `dir`. */
  def parquetFilesPerBucket(dir: String): Map[String, Int] =
    new java.io.File(dir).listFiles().filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(d => d.getName -> d.list().count(_.endsWith(".parquet"))).toMap
}

object SparkSuite {
  /** The production session factory (Kryo, zstd, AQE), pinned to four
    * local cores whatever SPARK_GRAFT_CPUS says.
    */
  lazy val shared: SparkSession = {
    val s = SparkUtil.session("graft-test", "4", Map("spark.master" -> "local[4]"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // File.deleteOnExit skips a non-empty directory, so the created
  // directories are deleted recursively by one shutdown hook instead.
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(created.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    created.add(d)
    d.getAbsolutePath
  }
}

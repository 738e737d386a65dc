package graft.app

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col

/** The session's fork-free `file:` filesystem leaves the same files with the
  * same modes as Hadoop's stock `LocalFileSystem`, and every `file:` lookup
  * through the session's conf resolves to it.
  */
class LocalFsSpec extends SparkSuite {

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Full mode bits (sticky included, which `PosixFilePermission` cannot show). */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & oct("7777")

  /** Every path under `root` → its mode, with the write's job uuid masked. */
  private def tree(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator.asScala.map { p =>
      r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") -> mode(p)
    }.toMap finally s.close()
  }

  /** A 4-bucket `TableIO.overwritePartitions` through `impl`, on a fresh
    * (uncached) instance whose umask is 027, so that modes Hadoop sets
    * differ from the ones the process umask would leave.
    */
  private def write(impl: String): Map[String, Int] = {
    val s = spark.newSession()
    s.conf.set("fs.file.impl", impl)
    s.conf.set("fs.file.impl.disable.cache", "true")
    s.conf.set("fs.permissions.umask-mode", "027")
    val out = tmpDir("localfs-") + "/t"
    TableIO.overwritePartitions(s.range(0, 40, 1, 4).withColumn("bucket", col("id") % 4), out, "bucket")
    tree(out)
  }

  test("a bucketed write leaves the same paths with the same modes as the stock filesystem") {
    val ours = write(classOf[LocalFs].getName)
    val stock = write(classOf[LocalFileSystem].getName)
    assert(ours == stock)
    val names = ours.keySet
    assert(names.count(_.matches("bucket=\\d")) == 4, names)
    assert(names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".parquet.crc")), names)
    assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"), names)
    // The 027 umask shows: files 0640, directories 0750.
    assert(ours.values.toSet == Set(oct("640"), oct("750")), ours)
  }

  test("setPermission round-trips plain modes and matches stock for the sticky bit") {
    val conf = new Configuration()
    val ours = new LocalFs
    ours.initialize(URI.create("file:///"), conf)
    val stock = new LocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    for (m <- Seq("640", "750", "1777")) {
      val (a, b) = (tmpDir("localfs-ours-"), tmpDir("localfs-stock-"))
      ours.setPermission(new Path(a), new FsPermission(oct(m).toShort))
      stock.setPermission(new Path(b), new FsPermission(oct(m).toShort))
      assert(mode(Paths.get(a)) == mode(Paths.get(b)), m)
      assert(mode(Paths.get(a)) == oct(m), m)
    }
  }

  test("file: lookups through the session's conf resolve to LocalFs, also after a stock instance was cached") {
    val hconf = spark.sparkContext.hadoopConfiguration
    def resolved = Seq(FileSystem.get(URI.create("file:///"), hconf),
      new Path(tmpDir("localfs-out-")).getFileSystem(hconf))
    assert(resolved.forall(_.isInstanceOf[LocalFs]), resolved)
    // Evict it and cache a stock instance, as code that runs before the
    // session would: the cache is keyed by scheme and user, not by conf.
    FileSystem.get(URI.create("file:///"), hconf).close()
    val cached = FileSystem.get(URI.create("file:///"), new Configuration())
    assert(!cached.isInstanceOf[LocalFs])
    assert(resolved.forall(_ eq cached))
    SparkUtil.session("graft-test", "4", Map("spark.master" -> "local[4]"))
    spark.sparkContext.setLogLevel("ERROR")
    assert(resolved.forall(_.isInstanceOf[LocalFs]), resolved)
  }
}

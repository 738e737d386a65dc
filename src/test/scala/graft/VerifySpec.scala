package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump main (graft.Verify): a wrong argument count or an
  * unknown query name fails before any session starts, and `prepareOut`
  * cleans only a directory an earlier Verify run wrote.
  */
class VerifySpec extends AnyFunSuite {

  test("Verify rejects a wrong argument count with its usage") {
    for (args <- Seq(Array.empty[String], Array("sf"))) {
      val e = intercept[IllegalArgumentException](Verify.main(args))
      assert(e.getMessage == "usage: Verify SF_DIR OUT_DIR [name...]", args.mkString(" "))
    }
  }

  test("Verify rejects an unknown query name before creating OUT_DIR") {
    val out = Paths.get(SparkSuite.tmpDir("verify_names")).resolve("out")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array("sf", out.toString, "q48_routing_plan", "extra")))
    assert(e.getMessage.startsWith("unknown query 'extra' (nearest: "), e.getMessage)
    assert(!Files.exists(out))
  }

  /** A fresh directory holding an empty file at each relative path. */
  private def outDirWith(files: String*): Path = {
    val dir = Paths.get(SparkSuite.tmpDir("verify_out"))
    files.foreach { f =>
      val p = dir.resolve(f)
      Files.createDirectories(p.getParent)
      Files.createFile(p)
    }
    dir
  }

  private def entries(dir: Path): Set[String] = dir.toFile.list().toSet

  private def assertRefused(dir: Path): Unit = {
    val before = entries(dir)
    val e = intercept[IllegalArgumentException](Verify.prepareOut(dir.toString))
    assert(e.getMessage.contains(s"refusing to clean non-empty $dir"), e.getMessage)
    assert(entries(dir) == before, "a refused directory keeps its files")
  }

  test("prepareOut refuses a non-empty unmarked directory and leaves its files") {
    val dir = outDirWith("notes.txt")
    assertRefused(dir)
    assert(Files.exists(dir.resolve("notes.txt")))
  }

  test("prepareOut empties a marked earlier output and marks it again") {
    val dir = outDirWith(".graft_verify", "q01_x/part-0.parquet", "oracle_sql.json",
      "stray.txt", "data/part-0.csv")
    Verify.prepareOut(dir.toString)
    assert(entries(dir) == Set(".graft_verify"))
  }

  test("prepareOut cleans an unmarked earlier output recognized by its shape") {
    val dir = outDirWith("q01_x/part-0.parquet", "oracle_sql.json")
    Verify.prepareOut(dir.toString)
    assert(entries(dir) == Set(".graft_verify"))
  }

  test("prepareOut refuses query-shaped dirs without oracle_sql.json") {
    val dir = outDirWith("q01_x/part-0.parquet")
    assertRefused(dir)
    assert(Files.exists(dir.resolve("q01_x/part-0.parquet")))
  }

  test("prepareOut refuses a q1 or quarterly dir beside oracle_sql.json") {
    for (name <- Seq("q1", "quarterly")) {
      val dir = outDirWith(s"$name/part-0.parquet", "oracle_sql.json")
      assertRefused(dir)
      assert(Files.exists(dir.resolve(s"$name/part-0.parquet")), name)
    }
  }
}

package graft

import graft.app.{CorpusPipeline, ExtractJob}
import org.scalatest.funsuite.AnyFunSuite

/** The jobs' shared flag parser (app.Flags), driven through the jobs'
  * own `parseArgs`: every flag reaches its `Args` field, and every bad
  * command line fails with a message that names the flag.
  */
class FlagsSpec extends AnyFunSuite {

  private def rejected(parse: Array[String] => Any, argv: String*): String =
    intercept[IllegalArgumentException](parse(argv.toArray)).getMessage

  private val parsers = Seq[(String, Array[String] => Any)](
    "ExtractJob" -> ExtractJob.parseArgs, "CorpusPipeline" -> CorpusPipeline.parseArgs)

  test("an unknown flag fails naming it") {
    for ((job, parse) <- parsers) {
      val m = rejected(parse, "--rows", "10", "--out", "o", "--rowz", "5")
      assert(m.contains("--rowz"), s"$job: $m")
    }
  }

  test("a valued flag with no value fails naming it, at the end of argv or before another flag") {
    for ((job, parse) <- parsers) {
      val m = rejected(parse, "--rows", "10", "--out")
      assert(m.contains("--out"), s"$job: $m")
      val m2 = rejected(parse, "--out", "--rows", "10")
      assert(m2.contains("--out"), s"$job: $m2")
    }
  }

  test("a number flag with a non-number value fails naming the flag and the value") {
    for ((job, parse) <- parsers) {
      val m = rejected(parse, "--rows", "abc", "--out", "o")
      assert(m.contains("--rows") && m.contains("abc"), s"$job: $m")
    }
    val m = rejected(ExtractJob.parseArgs, "--rows", "10", "--out", "o", "--buckets", "1.5")
    assert(m.contains("--buckets"), m)
  }

  test("a negative value for a flag where 0 means off is rejected, naming the flag") {
    val m0 = rejected(ExtractJob.parseArgs, "--rows", "10", "--out", "o", "--wave-size", "-1")
    assert(m0.contains("--wave-size"), m0)
    ExtractJob.parseArgs(Array("--rows", "10", "--out", "o", "--wave-size", "0"))
    val m = rejected(CorpusPipeline.parseArgs, "--rows", "10", "--out", "o", "--host-cap", "-2")
    assert(m.contains("--host-cap"), m)
    assert(CorpusPipeline.parseArgs(Array("--rows", "10", "--out", "o", "--host-cap", "0")).hostCap == 0)
  }

  test("every ExtractJob flag sets its Args field; a repeated flag's last value wins") {
    val a = ExtractJob.parseArgs(Array("--rows", "7", "--seed", "3", "--input", "in",
      "--out", "x", "--checkpoint", "ck", "--run-id", "r1", "--quality", "fast",
      "--lang", "de", "--buckets", "8", "--wave-size", "2", "--input-format", "table",
      "--slim", "--notify", "n.json", "--notify-url", "http://localhost:1/hook",
      "--two-pass", "--out", "o"))
    assert(a == ExtractJob.Args(rows = 7, seed = 3, input = "in", out = "o",
      checkpoint = "ck", runId = "r1", quality = "fast", lang = "de", buckets = 8,
      waveSize = 2, inputFormat = "table", slim = true, notifyPath = "n.json",
      notifyUrl = "http://localhost:1/hook", twoPass = true))
    assert(ExtractJob.parseArgs(Array("--rows", "10", "--out", "o")) ==
      ExtractJob.Args(rows = 10, out = "o"))
  }

  test("every CorpusPipeline flag sets its Args field") {
    val a = CorpusPipeline.parseArgs(Array("--rows", "7", "--seed", "3", "--input", "in",
      "--out", "o", "--eval", "ev", "--window", "64", "--stride", "32",
      "--quality", "accurate", "--cluster", "--span-dedup", "--pack", "--host-cap", "4",
      "--stats", "--links", "--provenance"))
    assert(a == CorpusPipeline.Args(rows = 7, seed = 3, input = "in", out = "o",
      evalPath = "ev", window = 64, stride = 32, quality = "accurate", cluster = true,
      spanDedup = true, pack = true, hostCap = 4, stats = true, links = true,
      provenance = true))
    assert(CorpusPipeline.parseArgs(Array("--rows", "10", "--out", "o")) ==
      CorpusPipeline.Args(rows = 10, out = "o"))
  }
}

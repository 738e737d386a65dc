package perfbench

import graft.app.SparkUtil
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one client in one JVM at
  * local[nproc], operations back to back for `--seconds`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --tables DIR [--expected FILE]
  *
  * Prints two lines on stdout: `PERFBENCH_REPORT {…}` (input properties,
  * every sample, host noise, check details) and `PERFBENCH_RESULT {…}`
  * (correct / attempted / failed / metrics). With `--trace 1` the metrics
  * are the per-layer budget of a traced run instead of the end-to-end
  * figures.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", tables: String = "", expected: String = "")

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--tables" :: v :: t => parse(t, o.copy(tables = v))
    case "--expected" :: v :: t => parse(t, o.copy(expected = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown argument: ${other.head}")
  }

  /** Stop starting new operations after this long, once `minReps` have
    * run, so a slow host still finishes the run inside its time limit.
    */
  private val Budget = 120.0

  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def json(v: Any): String = mapper.writeValueAsString(v)

  def now(): Double = System.nanoTime() / 1e9

  def session(name: String, cpus: Int): SparkSession = {
    val s = SparkUtil.session(s"perfbench-$name", cpus.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  final case class Sample(wallS: Double, cpuS: Double, steal: Double, iowait: Double, ok: Boolean,
      heapMb: Double)

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    val wl = Workloads.byName(o.workload, o.tables).getOrElse {
      System.err.println(s"unknown workload: ${o.workload}"); sys.exit(2)
    }
    require(o.work.nonEmpty, "--work is required")
    val tStart = now()
    val cpus = Runtime.getRuntime.availableProcessors()
    val dir = new java.io.File(o.work, wl.name).getAbsolutePath
    val (input, out) = (s"$dir/input", s"$dir/out")
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    report("workload") = wl.name; report("seed") = o.seed; report("trace") = o.trace
    report("cpus") = cpus; report("gc") = Host.gcNames
    report("loop") = s"closed loop, 1 client, local[$cpus], operations back to back"

    var spark = session(wl.name, cpus)
    report("session_s") = now() - tStart
    delete(spark, dir)
    val g0 = now()
    wl.generate(spark, o.seed, input)
    report("gen_s") = now() - g0
    val marks = scala.collection.mutable.LinkedHashMap("input" -> (now() - tStart))

    // Set-up: session start and opening the input, three times, then
    // `wl.warmups` discarded operations on the input so the JIT has
    // compiled the hot paths before anything is timed. `setup_s` is the
    // median open plus the median warm-up operation.
    val opens = (1 to 3).map { _ =>
      spark.stop()
      val s0 = now()
      spark = session(wl.name, cpus)
      wl.open(spark, input)
      now() - s0
    }
    val warmups = (1 to wl.warmups).map { _ =>
      val w0 = now(); delete(spark, out); wl.run(spark, input, out); now() - w0
    }
    report("setup_open_s_all") = opens
    report("warmup_s_all") = warmups
    marks("setup") = now() - tStart

    // Input properties and the reference outputs for the checks, before
    // anything is timed.
    report("input") = wl.properties(spark, input)
    val (pinGroup, pinKey) = wl.pinKey(o.seed)
    val pin = Expected.lookup(o.expected, pinGroup, pinKey)
    val errors = Vector.newBuilder[String]
    errors ++= wl.prepareChecks(spark, input, pin)
    report("pinned") = pin.isDefined
    marks("reference") = now() - tStart

    var attempted = 0
    var failed = 0
    var selfTest: Option[Boolean] = None
    /** One operation, timed, then checked outside the timed window. Its
      * per-layer metrics: the listener's attribution when traced, else
      * what the operation's output carries.
      */
    def rep(s: SparkSession, traced: Option[Recorder]): (Sample, Seq[(String, Double)]) = {
      delete(s, out)
      attempted += 1
      traced.foreach { r => r.clear(); s.sparkContext.addSparkListener(r) }
      val st0 = Host.procStat(); val c0 = Host.cpuSeconds()
      val w0 = System.currentTimeMillis(); val n0 = now()
      val result = try Right(wl.run(s, input, out)) catch { case e: Exception => Left(e) }
      val wall = now() - n0; val w1 = System.currentTimeMillis()
      val cpu = Host.cpuSeconds() - c0
      val (steal, iowait) = Host.noise(st0, Host.procStat())
      val layers = traced match {
        case Some(r) =>
          r.drain(s.sparkContext); s.sparkContext.removeSparkListener(r)
          report("spans") = r.spans(w0) :+ Map("operation_end_s" -> (w1 - w0) / 1e3)
          if (result.isRight) wl.attribute(s, r, w0, w1, out) else Nil
        case None => result.toSeq.flatMap(wl.repLayers)
      }
      val problems = result match {
        case Left(e) => Seq(s"operation failed: $e")
        case Right(r) =>
          try wl.check(s, out, r) catch { case e: Exception => Seq(s"check failed: $e") }
      }
      if (problems.nonEmpty) { failed += 1; errors ++= problems }
      if (selfTest.isEmpty && result.isRight)
        selfTest = Some(try wl.selfTest(s, out) catch { case _: Exception => false })
      val heap = Host.collectAndSample()
      (Sample(wall, cpu, steal, iowait, problems.isEmpty, heap), layers)
    }

    Host.collectAndSample()
    Host.resetPeak()
    // Untraced: operations back to back. Traced: first the operation an
    // untraced run times first (the layers its own output carries come
    // from it), then (untraced, traced) pairs, compared with each other
    // for the tracing cost.
    val timed = Vector.newBuilder[(Sample, Seq[(String, Double)])]
    val paired = Vector.newBuilder[(Sample, Seq[(String, Double)])]
    val traced = Vector.newBuilder[(Sample, Seq[(String, Double)])]
    val m0 = now()
    if (!o.trace) {
      var n = 0
      while (n < wl.minReps || (now() - m0 < o.seconds && now() - tStart < Budget)) {
        timed += rep(spark, None); n += 1
      }
    } else {
      timed += rep(spark, None)
      val r = new Recorder
      (1 to wl.tracedPairs).foreach { _ =>
        paired += rep(spark, None)
        traced += rep(spark, Some(r))
      }
    }
    def medians(ops: Seq[(Sample, Seq[(String, Double)])]): Map[String, Double] = {
      val ok = ops.filter(_._1.ok).map(_._2)
      ok.flatMap(_.map(_._1)).distinct.map(k => k -> Phase.median(ok.flatMap(_.toMap.get(k)))).toMap
    }
    val samples = (timed.result() ++ paired.result()).map(_._1)
    val opLayers = medians(timed.result())
    if (opLayers.nonEmpty) report("op_layers") = opLayers.to(scala.collection.immutable.TreeMap)
    marks("measure") = now() - tStart
    val okWalls = samples.filter(_.ok).map(_.wallS)
    val wallS = Phase.median(okWalls)
    report("wall_s_all") = samples.map(_.wallS)
    report("cpu_s_all") = samples.map(_.cpuS)
    report("heap_mb_all") = samples.map(_.heapMb)
    report("samples") = okWalls.size
    report("host") = Map(
      "steal_frac" -> samples.map(_.steal), "iowait_frac" -> samples.map(_.iowait))

    val metrics: Seq[(String, Double)] =
      if (!o.trace) Seq(
        "setup_s" -> (Phase.median(opens) + Phase.median(warmups)),
        "wall_s" -> wallS,
        "docs_per_s" -> (if (wallS > 0) wl.rows / wallS else 0.0),
        "cpu_s" -> Phase.median(samples.filter(_.ok).map(_.cpuS)),
        "peak_live_heap_mb" -> Host.peakLiveHeapMb,
        "ok_frac" -> (attempted - failed).toDouble / math.max(attempted, 1))
      else {
        val tr = traced.result()
        val tracedWall = Phase.median(tr.filter(_._1.ok).map(_._1.wallS))
        val pairedWall = Phase.median(paired.result().map(_._1).filter(_.ok).map(_.wallS))
        val layers = medians(tr)
        report("traced_wall_s_all") = tr.map(_._1.wallS)
        val direct = wl.directLayers(spark, input, layers)

        // Scaling: the same operation in a fresh local[1] session.
        val one = Option.when(wl.scaling) {
          spark.stop()
          spark = session(wl.name, 1)
          val s1 = rep(spark, None)._1
          report("local1_wall_s") = s1.wallS
          s1
        }
        val all = samples ++ tr.map(_._1) ++ one
        layers.toSeq ++ opLayers.toSeq ++ direct ++ Seq(
          "app.untraced_wall_s" -> pairedWall,
          "app.traced_wall_s" -> tracedWall,
          "app.trace_overhead_s" -> (tracedWall - pairedWall),
          "host.steal_frac" -> all.map(_.steal).sum / all.size,
          "host.iowait_frac" -> all.map(_.iowait).sum / all.size) ++
          one.filter(s1 => s1.ok && pairedWall > 0).map(s1 => "app.scaling_eff" -> s1.wallS / (cpus * pairedWall))
      }

    if (!selfTest.contains(true)) errors += "self-test: a changed output was not caught"
    if (!o.trace && samples.count(_.ok) < wl.minReps) errors += s"only ${samples.count(_.ok)} good operations, fewer than ${wl.minReps}"
    val errs = errors.result().distinct
    report("self_test_caught") = selfTest.contains(true)
    report("errors") = errs.take(20)
    report("failed_frac") = failed.toDouble / math.max(attempted, 1)
    report("pins") = wl.pinValues
    marks("end") = now() - tStart
    report("elapsed_s") = marks
    val result = scala.collection.immutable.ListMap(
      "correct" -> (errs.isEmpty && failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
    delete(spark, dir)
    spark.stop()
    println("PERFBENCH_REPORT " + json(report))
    println("PERFBENCH_RESULT " + json(result))
  }
}

/** Values pinned per group (a workload) and key (`rows:seed` for seeded
  * inputs) in the expected file.
  */
object Expected {
  def lookup(path: String, group: String, key: String): Option[Map[String, Any]] = {
    val f = new java.io.File(path)
    if (path.isEmpty || !f.exists()) None
    else {
      import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
      import scala.jdk.CollectionConverters._
      def conv(n: JsonNode): Any =
        if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
        else n.asText()
      val node = new ObjectMapper().readTree(f).path(group).path(key)
      if (node.isMissingNode) None else Some(conv(node).asInstanceOf[Map[String, Any]])
    }
  }
}

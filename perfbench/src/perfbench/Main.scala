package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per process.
  *
  * {{{
  *   perfbench.Main --workload <live-tail|catchup|snapshot-serve> --seed N
  *                  --seconds S --trace 0|1 [--cores N]
  * }}}
  * Prints human-readable metric lines, then one JSON object as the last
  * line. Exits 1 when a correctness check failed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int)

  /** An end-to-end metric as the workload measured it. `label` is the
    * workload-specific name of the same quantity (e.g. `lag_p50_ms`). */
  final case class Metric(name: String, label: String, value: Double, unit: String)

  /** What a workload hands back: operations attempted/failed (failed
    * includes correctness-check failures), its end-to-end metrics, extra
    * report lines and its per-layer numbers. */
  final case class Result(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
      metrics: Seq[Metric], notes: Seq[String], layers: Map[String, Double])

  /** Timestamps every workload shares: set-up ends when the first timed
    * operation starts. */
  final class Clock {
    val jvmStartMs: Long =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    @volatile var setupEndMs: Long = 0L
    private val marks = Vector.newBuilder[(String, Long)]
    /** Note the end of a set-up phase (reported as a breakdown line). */
    def mark(phase: String): Unit = marks += phase -> System.currentTimeMillis()
    def markSetupDone(): Unit = { setupEndMs = System.currentTimeMillis(); mark("warm-up") }
    def breakdown: String = {
      val ms = marks.result()
      val starts = jvmStartMs +: ms.map(_._2)
      ms.zip(starts).map { case ((n, t), t0) => f"$n ${(t - t0) / 1000.0}%.2f s" }
        .mkString("set-up: ", ", ", "")
    }
    def setupS: Double = (setupEndMs - jvmStartMs) / 1000.0
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val clock = new Clock
    val args = parse(argv)
    val work = Paths.get(".bench_work", s"${args.workload}-${args.seed}-${ProcessHandle.current().pid()}")
      .toAbsolutePath
    Files.createDirectories(work)
    Trace.enabled = args.trace
    Trace.runId = s"${args.workload}-${args.seed}"
    val spark = session(args.cores)
    clock.mark("session")
    val actions = new Actions
    if (args.trace) spark.listenerManager.register(actions)
    val res =
      try args.workload match {
        case "live-tail" => LiveTail.run(spark, args, work, clock)
        case "catchup" => Catchup.run(spark, args, work, clock, actions)
        case "snapshot-serve" => SnapshotServe.run(spark, args, work, clock, actions)
        case w => sys.error(s"unknown workload $w")
      } finally {
        spark.stop()
      }
    val rssMb = peakRssMb()
    val metrics = res.metrics ++ Seq(
      Metric("setup_s", "setup_s", clock.setupS, "s"),
      Metric("peak_rss_mb", "peak_rss_mb", rssMb, "MiB"))
    val correct = res.checks.forall(_._2)
    val errorRatio = res.failed.toDouble / math.max(1L, res.attempted)

    res.checks.foreach { case (name, ok) => println(s"check $name: ${if (ok) "ok" else "FAILED"}") }
    res.notes.foreach(println)
    println(clock.breakdown)
    metrics.foreach { m =>
      val alias = if (m.label != m.name) s" (${m.label})" else ""
      println(f"metric ${m.name}%-18s ${m.value}%14.3f ${m.unit}$alias")
    }
    println(f"metric error_ratio        $errorRatio%14.6f ratio (${res.failed}/${res.attempted})")

    val out: Seq[(String, Double, String)] =
      if (!args.trace) metrics.map(m => (m.name, m.value, m.unit))
      else {
        val self = Trace.selfMsByLayer
        val layers = Trace.layerValues ++ res.layers ++
          Spec.perLayer.filter(_._1.endsWith(".self_ms")).map { case (n, _) =>
            n -> self.getOrElse(n.stripSuffix(".self_ms"), 0.0) } ++
          Map("trace.spans" -> Trace.all.size.toDouble) ++
          res.metrics.map(m => s"traced.${m.name}" -> m.value)
        val traceDir = Files.createDirectories(Paths.get(".bench_trace"))
        Trace.writeSpans(traceDir.resolve(s"spans-${Trace.runId}.jsonl"))
        Spec.perLayer.map { case (n, unit) => (n, layers.getOrElse(n, 0.0), unit) }
      }
    if (out.exists(m => m._2.isNaN || m._2.isInfinite))
      System.err.println("non-finite metric: " + out.filter(m => m._2.isNaN || m._2.isInfinite))
    val json = out.map { case (n, v, u) =>
      val vv = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n":{"value":$vv,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":{$json}}""")
    deleteTree(work)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  // ── helpers ──────────────────────────────────────────────────────────

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Nearest-rank percentile of sorted samples. */
  def pct(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(q / 100.0 * sorted.length).toInt - 1)))

  /** The highest of the usual percentiles that still has at least ten
    * samples beyond it, for `n` samples. */
  def tailQ(n: Int): Double =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(q => n - math.ceil(q / 100.0 * n) >= 10).getOrElse(50.0)

  /** File names directly under `dir`. */
  def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def dirFiles(p: Path, suffix: String = ""): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def ms(ns: Long): Double = ns / 1e6
}

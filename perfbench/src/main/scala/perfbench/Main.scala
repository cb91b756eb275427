package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <etl_interactive|curate|ingest_upsert> --seed <n>
  *      --seconds <s> --trace <0|1>
  * }}}
  *
  * Set-up runs [[SetupReps]] times, stopping the session in between:
  * a session start plus a warm-up cycle, then session restarts each
  * warmed up to a first result ([[Workload.rewarm]]); `setup_s` is the
  * median. Then `round(seconds / cycleSeconds)` whole cycles run: a fixed
  * amount of work per run, which lasts about `--seconds` on the 4-core
  * machine the cycle times were taken on. The last line
  * of standard output is the JSON result; the exit code is 1 when any
  * output check failed. With `--trace 1` every call into a layer is a
  * span, and the per-layer metrics and a span file
  * `.bench_out/trace-<workload>-<seed>.json` are written instead of the
  * end-to-end metrics. */
object Main {
  val SetupReps = 3
  val Workloads = Seq("etl_interactive", "curate", "ingest_upsert")
  val UnitSpan = Map("etl_interactive" -> "etl.job", "curate" -> "curate.pass",
    "ingest_upsert" -> "ingest.batch")

  /** Every span, in the order the per-layer metrics list them. */
  val LayerSpans: Seq[String] = Seq(
    "etl.SmartLoad.load", "etl.RuleJson.parse", "etl.RuleCompiler.run", "etl.preview",
    "etl.Sinks.csvSingleFile",
    "ext.TextAnalysis.qualityFilters", "ext.Dedup.exact", "ext.Dedup.minhash",
    "ext.Dedup.components", "ext.Similarity.ivfTopK",
    "streaming.StreamingOps.applyUpsertBatch", "ops.Manifest.fileSizes",
    "ops.Manifest.compactionPlan", "ops.Manifest.compact", "ops.Manifest.statsManifest",
    "ops.Manifest.prunedFiles", "ingest.scan")

  /** Workload figures every traced run reports (0 where not produced). */
  val Figures: Seq[(String, String)] = Seq(
    "etl.rule_errors" -> "count", "etl.write_amp" -> "bytes/byte",
    "curate.dedup_recall" -> "fraction", "curate.topk_recall" -> "fraction",
    "ingest.read_s_p50" -> "s", "ingest.write_amp" -> "bytes/byte",
    "ingest.files_read_ratio" -> "fraction")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be positive")
    Args(w, need("seed").toLong, seconds, m.getOrElse("trace", "0") == "1")
  }

  def session(scratch: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(a: Args, dir: Path): Workload = a.workload match {
    case "etl_interactive" => new EtlWorkload(a.seed, dir)
    case "curate" => new CurateWorkload(a.seed, dir)
    case "ingest_upsert" => new IngestWorkload(a.seed, dir)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = try parseArgs(argv) catch {
      case NonFatal(e) => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val out = Paths.get(".bench_out").toAbsolutePath
    val dir = out.resolve(s"${a.workload}-${a.seed}")
    FileOps.deleteRecursively(dir.toFile)
    Files.createDirectories(dir)
    val code = try run(a, out, dir) finally FileOps.deleteRecursively(dir.toFile)
    sys.exit(code)
  }

  private def run(a: Args, out: Path, dir: Path): Int = {
    val tr = new Tracer(a.trace)
    val w = workload(a, dir.resolve("data"))
    val unitSpan = UnitSpan(a.workload)
    val results = mutable.ArrayBuffer.empty[UnitResult]
    def guarded(body: => UnitResult): UnitResult =
      try body catch { case NonFatal(e) => UnitResult(0, 0, 0, Some(s"threw $e")) }
    def unit(spark: SparkSession, i: Int): UnitResult = guarded(tr.span(unitSpan)(w.runUnit(spark, tr, i)))

    val setups = mutable.ArrayBuffer.empty[Double]
    var untimed = 0L
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(dir)
      tr.attach(spark.sparkContext)
      if (rep == 0) {
        val g0 = System.nanoTime()
        w.prepare(spark)
        untimed = System.nanoTime() - g0
        (0 until w.cycle).foreach(i => results += unit(spark, i))
      } else results += guarded(w.rewarm(spark, tr))
      setups += (System.nanoTime() - t0 - (if (rep == 0) untimed else 0L)) / 1e9
    }

    w.reset()
    val warm = results.size
    var trace = 0L
    val cycles = math.max(1, math.round(a.seconds / w.cycleSeconds).toInt)
    for (_ <- 0 until cycles; i <- 0 until w.cycle) {
      tr.trace = trace
      results += unit(spark, i)
      trace += 1
    }
    val measured = results.drop(warm).toSeq
    val failures = results.flatMap(_.check)
    failures.distinct.take(5).foreach(f => System.err.println(s"perfbench: check failed: $f"))

    val jobs = measured.map(_.jobS)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("job_s_p50", Stats.percentile(jobs, 0.5), "s"),
        ("job_s_p90", Stats.percentile(jobs, 0.9), "s"),
        ("preview_s_p50", Stats.median(measured.map(_.previewS)), "s"),
        ("rows_per_s", measured.map(_.rows).sum / jobs.sum, "rows/s"),
        ("rss_mb", peakRssMb(), "MB"))
      else layerMetrics(tr, w, measured, a, out)
    spark.stop()

    println(s"perfbench: ${a.workload} seed=${a.seed} units=${measured.size} " +
      s"(cycle=${w.cycle}, warm-up $warm) inputs=${f3(untimed / 1e9)}s " +
      s"setups=${setups.map(f3).mkString(",")}s measured=${f3(measured.map(_.jobS).sum)}s")
    metrics.foreach { case (n, v, u) => println(f"metric $n%-48s ${f3(v)}%14s $u") }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${results.size}, """ +
      s""""failed": ${results.count(_.check.isDefined)}, "metrics": $json}""")
    if (failures.isEmpty) 0 else 1
  }

  private def f3(v: Double) = String.format(Locale.ROOT, "%.4f", Double.box(v))
  private def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** Per-layer metrics of a traced run: per span, wall, task, GC seconds,
    * jobs and shuffle MB per measured unit; plus the workload figures and
    * the traced job_s_p50 (minus the untraced one: tracing overhead). */
  private def layerMetrics(tr: Tracer, w: Workload, measured: Seq[UnitResult], a: Args,
      out: Path): Seq[(String, Double, String)] = {
    tr.flush()
    val spans = tr.recorded.filter(_.trace >= 0)
    val work = tr.work()
    val units = math.max(1, measured.size).toDouble
    val byName = spans.groupBy(_.name)
    val perSpan = LayerSpans.flatMap { n =>
      val ss = byName.getOrElse(n, Seq.empty)
      val wk = ss.map(s => work.getOrElse(s.id, Work.zero)).foldLeft(Work.zero)(_ + _)
      Seq((s"$n.s", ss.map(_.seconds).sum / units, "s"),
        (s"$n.task_s", wk.taskS / units, "s"),
        (s"$n.jobs", wk.jobs / units, "count"),
        (s"$n.shuffle_mb", wk.shuffleMb / units, "MB"),
        (s"$n.gc_s", wk.gcS / units, "s"))
    }
    val figures = w.layerFigures.map(f => f._1 -> f._2).toMap
    writeTrace(out.resolve(s"trace-${a.workload}-${a.seed}.json"), spans, work)
    perSpan ++ Figures.map { case (n, u) => (n, figures.getOrElse(n, 0.0), u) } :+
      (("traced.job_s_p50", Stats.median(measured.map(_.jobS)), "s"))
  }

  /** Span file: every measured span with its self time (wall minus the
    * part its children cover) and Spark work, plus per-name totals. */
  private def writeTrace(path: Path, spans: Seq[Span], work: Map[Int, Work]): Unit = {
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Seq.empty).map(_.seconds).sum
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val rows = spans.sortBy(_.startNs).map { s =>
      val wk = work.getOrElse(s.id, Work.zero)
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "trace": ${s.trace}, """ +
        s""""start_s": ${(s.startNs - t0) / 1e9}, "end_s": ${(s.endNs - t0) / 1e9}, """ +
        s""""self_s": ${self(s)}, "jobs": ${wk.jobs}, "task_s": ${wk.taskS}, """ +
        s""""gc_s": ${wk.gcS}, "shuffle_mb": ${wk.shuffleMb}}"""
    }
    val layers = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s""""$n": {"calls": ${ss.size}, "wall_s": ${ss.map(_.seconds).sum}, """ +
        s""""self_s": ${ss.map(self).sum}}"""
    }
    Files.createDirectories(path.getParent)
    FileOps.writeLines(path, Iterator(
      s"""{"layers": ${layers.mkString("{", ", ", "}")},""",
      s""" "spans": [""", rows.mkString(",\n"), "]}"))
  }
}

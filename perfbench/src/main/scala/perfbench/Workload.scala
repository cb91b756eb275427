package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Outcome of one unit of work: one pipeline job, curation pass or
  * micro-batch commit. Times in seconds; `check` is None when every output
  * check passed, else what failed. */
final case class UnitResult(jobS: Double, previewS: Double, rows: Long,
    check: Option[String])

/** A benchmark workload. Inputs are generated from the seed before any
  * timing; the engine sees only the generated files. Units run in whole
  * cycles so every run measures the same mix of work. */
trait Workload {
  /** Units per cycle. */
  def cycle: Int

  /** Wall seconds of one warm cycle, checks included, on 4 cores; sizes
    * the number of cycles a run measures. */
  def cycleSeconds: Double

  /** Generate the inputs (untimed). Called once, with the first session. */
  def prepare(spark: SparkSession): Unit

  /** Run unit `i` (0 <= i < cycle) and check its outputs. */
  def runUnit(spark: SparkSession, tr: Tracer, i: Int): UnitResult

  /** Warm-up of a restarted session, up to its first result: unit 0 unless
    * a unit is too long to repeat in every set-up. */
  def rewarm(spark: SparkSession, tr: Tracer): UnitResult = runUnit(spark, tr, 0)

  /** Workload-specific per-layer figures: name -> (value, unit). */
  def layerFigures: Seq[(String, Double, String)]

  /** Forget the figures gathered so far (called when measuring starts). */
  def reset(): Unit
}

object FileOps {
  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w: BufferedWriter = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Total bytes of the regular files under `f`. */
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else if (f.isFile) f.length() else 0L

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(c => copyTree(c, new File(dst, c.getName))))
    } else Files.copy(src.toPath, dst.toPath)
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rnd: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

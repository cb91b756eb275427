package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.ops.Manifest
import graft.streaming.StreamingOps

/** `ingest_upsert`: writes beside reads, with a background-work tail. A
  * seeded event stream with Zipf-skewed keys and a fixed share of inserts
  * is cut into micro-batches; each is upserted into a versioned snapshot
  * seeded from a bulk base load. Every `compactEvery`-th batch, Manifest
  * compaction rewrites the new version's files. After each commit a range
  * read runs over the snapshot, pruned by the min/max manifest. A cycle
  * is one episode of `batches` commits starting from the base snapshot. */
object IngestWorkload {
  final case class Size(baseKeys: Int, batchEvents: Int, batches: Int, compactEvery: Int,
      insertShare: Double, rangeWidth: Int)

  val DefaultSize: Size = Size(baseKeys = 60000, batchEvents = 4000, batches = 4,
    compactEvery = 4, insertShare = 0.3, rangeWidth = 2000)

  val TargetBytes: Long = 64L << 20
  val Keys = Seq("key")

  val Schema: StructType = StructType(Seq(
    StructField("key", LongType, false), StructField("seq", LongType, false),
    StructField("amount", DoubleType, false), StructField("status", StringType, false),
    StructField("cnt", IntegerType, false), StructField("note", StringType, false)))

  val Statuses = Array("new", "open", "held", "shipped", "closed")

  def rowText(r: Row): String =
    s"${r.getLong(0)},${r.getLong(1)},${java.lang.Double.toString(r.getDouble(2))}," +
      s"${r.getString(3)},${r.getInt(4)},${r.getString(5)}"

  /** Expected result of a range read after a commit. */
  final case class Range(lo: Long, hi: Long, rows: Int, digest: Long)

  final case class Stream(base: Seq[Row], batches: Seq[Seq[Row]], ranges: Seq[Range],
      finalRows: Int, finalDigest: Long)

  /** The base load and the batches, with the expected range-read result
    * after each batch and the last-wins-by-key state after the last. */
  def stream(rnd: Random, s: Size): Stream = {
    val zipf = new Zipf(s.baseKeys, 1.1)
    val latest = mutable.LongMap.empty[Row]
    var seq = 0L
    def event(key: Long): Row = {
      val note = Array.fill(24)(('a' + rnd.nextInt(26)).toChar).mkString
      val r = Row(key, seq, rnd.nextInt(10000000) / 100.0, Statuses(rnd.nextInt(Statuses.length)),
        rnd.nextInt(1000), note)
      seq += 1
      latest(key) = r
      r
    }
    val base = (0 until s.baseKeys).map(k => event(k.toLong))
    var nKeys = s.baseKeys.toLong
    val ranges = mutable.ArrayBuffer.empty[Range]
    val batches = (0 until s.batches).map { _ =>
      val b = (0 until s.batchEvents).map { _ =>
        if (rnd.nextDouble() < s.insertShare) { nKeys += 1; event(nKeys - 1) }
        else event(zipf.sample(rnd).toLong)
      }
      val lo = rnd.nextInt((nKeys - s.rangeWidth).toInt).toLong
      val hi = lo + s.rangeWidth - 1
      val in = (lo to hi).flatMap(latest.get)
      ranges += Range(lo, hi, in.size, in.map(r => Digest.line(rowText(r))).sum)
      b
    }
    Stream(base, batches, ranges.toSeq, latest.size, latest.values.map(r => Digest.line(rowText(r))).sum)
  }
}

final class IngestWorkload(seed: Long, dir: Path) extends Workload {
  import IngestWorkload._

  private val size = DefaultSize
  private var stream: Stream = _
  private var batchPaths = Seq.empty[String]
  private var batchBytes = Seq.empty[Long]
  private var baseSnap: File = _
  private var snap: File = _
  private var episode = 0
  private var written = 0L
  private var input = 0L
  private val reads = mutable.ArrayBuffer.empty[Double]
  private val readRatios = mutable.ArrayBuffer.empty[Double]

  def cycle: Int = size.batches
  def cycleSeconds: Double = 6.5

  private def write(spark: SparkSession, rows: Seq[Row], path: String): Unit =
    spark.createDataFrame(rows.asJava, Schema).coalesce(1).write.mode("overwrite").parquet(path)

  def prepare(spark: SparkSession): Unit = {
    stream = IngestWorkload.stream(new Random(seed), size)
    val basePath = dir.resolve("base.parquet").toString
    write(spark, stream.base, basePath)
    batchPaths = stream.batches.indices.map(i => dir.resolve(s"batch_$i.parquet").toString)
    stream.batches.zip(batchPaths).foreach { case (b, p) => write(spark, b, p) }
    batchBytes = batchPaths.map(p => FileOps.bytesUnder(new File(p)))
    baseSnap = dir.resolve("base_snapshot").toFile
    StreamingOps.applyUpsertBatch(spark.read.parquet(basePath), 0L, Keys, "seq", baseSnap.toString)
  }

  /** Collect a small frame and rebuild it locally, so the next
    * layer's span does not re-run this one's work. */
  private def local(spark: SparkSession, df: DataFrame): (Array[Row], DataFrame) = {
    val rows = df.collect()
    (rows, spark.createDataFrame(rows.toSeq.asJava, df.schema))
  }

  def runUnit(spark: SparkSession, tr: Tracer, i: Int): UnitResult = {
    if (i == 0) {
      if (snap != null) FileOps.deleteRecursively(snap)
      episode += 1
      snap = dir.resolve(s"snapshot_$episode").toFile
      FileOps.copyTree(baseSnap, snap)
    }
    val version = i + 1
    val vdir = new File(snap, s"v$version")
    val batch = spark.read.parquet(batchPaths(i))
    val t0 = System.nanoTime()
    tr.span("streaming.StreamingOps.applyUpsertBatch") {
      StreamingOps.applyUpsertBatch(batch, version.toLong, Keys, "seq", snap.toString)
    }
    val t1 = System.nanoTime()
    val first = spark.read.parquet(vdir.toString).limit(100).collect()
    val t2 = System.nanoTime()
    var bytes = FileOps.bytesUnder(vdir)
    if (version % size.compactEvery == 0) bytes += compact(spark, tr, vdir)
    val t3 = System.nanoTime()

    val range = stream.ranges(i)
    val (manifest, manifestDf) = tr.span("ops.Manifest.statsManifest") {
      local(spark, Manifest.statsManifest(spark, vdir.toString, Keys))
    }
    val files = tr.span("ops.Manifest.prunedFiles") {
      Manifest.prunedFiles(manifestDf, "key", lit(range.lo), lit(range.hi)).collect().map(_.getString(0))
    }
    val rows = tr.span("ingest.scan") {
      if (files.isEmpty) Array.empty[Row]
      else spark.read.parquet(files.toIndexedSeq: _*)
        .filter(col("key").between(range.lo, range.hi)).collect()
    }
    val t4 = System.nanoTime()

    written += bytes
    input += batchBytes(i)
    reads += (t4 - t3) / 1e9
    readRatios += files.length.toDouble / math.max(1, manifest.length)
    val check =
      if (first.length != 100) Some(s"snapshot preview has ${first.length} rows")
      else if (rows.length != range.rows || rows.map(r => Digest.line(rowText(r))).sum != range.digest)
        Some(s"range read [${range.lo}, ${range.hi}] after batch $version differs from the model")
      else if (version == size.batches) {
        val all = spark.read.parquet(vdir.toString).collect()
        if (all.length != stream.finalRows || all.map(r => Digest.line(rowText(r))).sum != stream.finalDigest)
          Some(s"final snapshot has ${all.length} rows, expected ${stream.finalRows}, or differs " +
            "from last-wins-by-key")
        else None
      } else None
    UnitResult(((t1 - t0) + (t3 - t2)) / 1e9, (t2 - t0) / 1e9, size.batchEvents.toLong, check)
  }

  /** Compact version directory `vdir` in place: Manifest plans and
    * rewrites the small files into `<vdir>.compact`; the rewritten group
    * files and the files left alone then replace the version's files.
    * Returns the bytes the rewrite wrote. */
  private def compact(spark: SparkSession, tr: Tracer, vdir: File): Long = {
    val (_, sizes) = tr.span("ops.Manifest.fileSizes") {
      local(spark, Manifest.fileSizes(spark, vdir.toString))
    }
    val (plan, planDf) = tr.span("ops.Manifest.compactionPlan") {
      local(spark, Manifest.compactionPlan(sizes, TargetBytes))
    }
    val out = new File(vdir.getPath + ".compact")
    tr.span("ops.Manifest.compact")(Manifest.compact(spark, planDf, out.toString).collect())
    val bytes = FileOps.bytesUnder(out)
    val staged = new File(vdir.getPath + ".staged")
    staged.mkdirs()
    Option(out.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).foreach { g =>
      g.listFiles().filter(f => f.getName.startsWith("part-")).foreach { f =>
        Files.move(f.toPath, new File(staged, s"${g.getName}-${f.getName}").toPath)
      }
    }
    plan.filter(_.isNullAt(plan.head.fieldIndex("group_id"))).foreach { r =>
      val f = Paths.get(new java.net.URI(r.getString(r.fieldIndex("file"))))
      Files.move(f, staged.toPath.resolve(f.getFileName))
    }
    val old = new File(vdir.getPath + ".old")
    Files.move(vdir.toPath, old.toPath, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staged.toPath, vdir.toPath, StandardCopyOption.ATOMIC_MOVE)
    FileOps.deleteRecursively(old)
    FileOps.deleteRecursively(out)
    bytes
  }

  def reset(): Unit = { written = 0L; input = 0L; reads.clear(); readRatios.clear() }

  def layerFigures: Seq[(String, Double, String)] = Seq(
    ("ingest.read_s_p50", if (reads.isEmpty) 0.0 else Stats.median(reads.toSeq), "s"),
    ("ingest.write_amp", if (input == 0) 0.0 else written.toDouble / input, "bytes/byte"),
    ("ingest.files_read_ratio", Stats.mean(readRatios.toSeq), "fraction"))
}

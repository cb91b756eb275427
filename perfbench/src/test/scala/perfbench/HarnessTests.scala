package perfbench

import java.nio.file.Paths

import scala.io.Source
import scala.util.Random

import graft.etl.{RuleCompiler, RuleJson, Sinks, SmartLoad}

/** Tests of the harness itself: seeded generation, the rule evaluator
  * against the engine, and the percentile code. Run with
  * `python3 perfbench/run.py --test`; exits non-zero on a failure. */
object HarnessTests {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    percentiles()
    seeds()
    evaluatorMatchesEngine()
    println(if (failures == 0) "all harness tests passed" else s"$failures harness test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    check("median of an even sample interpolates") { near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5) }
    check("median of an odd sample is its middle") { near(Stats.median(Seq(5.0, 1.0, 3.0)), 3.0) }
    check("p90 of 1..10 is 9.1") { near(Stats.percentile((1 to 10).map(_.toDouble), 0.9), 9.1) }
    check("p0 and p100 are min and max") {
      val xs = Seq(7.0, -2.0, 3.5)
      near(Stats.percentile(xs, 0.0), -2.0) && near(Stats.percentile(xs, 1.0), 7.0)
    }
    check("percentile of one sample is that sample") { near(Stats.percentile(Seq(0.25), 0.9), 0.25) }
    check("an empty sample is refused") {
      try { Stats.percentile(Seq.empty, 0.5); false } catch { case _: IllegalArgumentException => true }
    }
  }

  def seeds(): Unit = {
    def etl(seed: Long) = {
      val rnd = new Random(seed)
      val t = EtlWorkload.mainTable(rnd, 500)
      val rs = EtlWorkload.rules(rnd, 30, legacy = false)
      val maps = Map("cust_map" -> EtlWorkload.mapping(rnd, (0 until 300).map(i => f"C$i%05d"), 100,
        "cust_key", Seq(("segment", "SEG_", 4)), intKeys = false))
      (SpecJson.live(rs), RuleEval.expected(t, maps, rs))
    }
    check("etl: same seed, same spec and expected digest") { etl(7) == etl(7) }
    check("etl: another seed, another digest") { etl(7)._2.digest != etl(8)._2.digest }

    val size = CurateWorkload.Size(docs = 600, exactGroups = 20, nearPairs = 20, vectors = 200,
      dim = 8, clusters = 5, queries = 5)
    def curate(seed: Long) = {
      val rnd = new Random(seed)
      val c = CurateWorkload.corpus(rnd, size)
      (c.texts.toSeq, c.plantedCopies, c.nearPairs, CurateWorkload.vectors(rnd, size).map(_.toSeq).toSeq)
    }
    check("curate: same seed, same corpus, plants and vectors") { curate(7) == curate(7) }
    check("curate: another seed, another corpus") { curate(7)._1 != curate(8)._1 }
    check("curate: planted copies are exactly the normalized duplicates") {
      val c = curate(7)
      c._1.size - c._1.map(CurateWorkload.normalize).distinct.size == c._2
    }

    val isize = IngestWorkload.Size(baseKeys = 1000, batchEvents = 200, batches = 3,
      compactEvery = 3, insertShare = 0.3, rangeWidth = 50)
    def ingest(seed: Long) = {
      val s = IngestWorkload.stream(new Random(seed), isize)
      (s.batches.flatten.map(IngestWorkload.rowText), s.ranges, s.finalRows, s.finalDigest)
    }
    check("ingest: same seed, same events and digests") { ingest(7) == ingest(7) }
    check("ingest: another seed, another final digest") { ingest(7)._4 != ingest(8)._4 }
    check("ingest: final state holds every inserted key once") {
      ingest(7)._3 == 1000 + (ingest(7)._1.map(_.takeWhile(_ != ',').toLong).toSet -- (0L until 1000L)).size
    }
  }

  /** The evaluator and RuleCompiler.run agree line for line on a small
    * spec in both spec shapes, including rules that name a missing
    * column, null operands and duplicate mapping keys. */
  def evaluatorMatchesEngine(): Unit = {
    val dir = Paths.get(".bench_out", "harness-tests").toAbsolutePath
    FileOps.deleteRecursively(dir.toFile)
    val spark = Main.session(dir)
    try {
      val rnd = new Random(11)
      val maps = Map(
        "cust_map" -> EtlWorkload.mapping(rnd, (0 until 15000).map(i => f"C$i%05d"), 500, "cust_key",
          Seq(("segment", "SEG_", 40), ("tier", "TIER_", 5)), intKeys = false),
        "prod_map" -> EtlWorkload.mapping(rnd, (1 to 2000).map(_.toString), 300, "prod_code",
          Seq(("category", "CAT_", 60), ("brand", "BR_", 300)), intKeys = true))
      val mapDfs = maps.map { case (n, t) =>
        n -> SmartLoad.load(spark, EtlWorkload.writeTable(spark, t, dir.resolve(n), "csv"))
      }
      for (ext <- Seq("csv", "txt", "json", "parquet"); legacy <- Seq(false, true)) {
        val t = EtlWorkload.mainTable(rnd, 400)
        val rs = EtlWorkload.rules(rnd, 25, legacy)
        val path = EtlWorkload.writeTable(spark, t, dir.resolve(s"main_$ext$legacy"), ext)
        val (rules, parseErrors) = RuleJson.parse(if (legacy) SpecJson.legacy(rs) else SpecJson.live(rs))
        val result = RuleCompiler.run(SmartLoad.load(spark, path), rules, mapDfs)
        val out = dir.resolve(s"out_$ext$legacy.csv").toString
        Sinks.csvSingleFile(result.output, out)
        val got = Source.fromFile(out).getLines().toVector
        val (header, rows) = RuleEval.rows(t, maps, rs)
        check(s"evaluator == RuleCompiler.run on $ext (${if (legacy) "legacy" else "live"} spec)") {
          parseErrors.isEmpty && result.errors.size == rs.count(!RuleEval.valid(t, maps, _)) &&
            got.head == header.mkString(",") &&
            got.tail.sorted == rows.map(RuleEval.csvLine).toVector.sorted
        }
      }
    } finally {
      spark.stop()
      FileOps.deleteRecursively(dir.toFile)
    }
  }
}

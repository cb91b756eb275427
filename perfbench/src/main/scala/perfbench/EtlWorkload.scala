package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.{RuleCompiler, RuleJson, Sinks, SmartLoad}

/** `etl_interactive`: the reference tool's one job — load an uploaded
  * file, apply a JSON rule list, show a 100-row preview, write one CSV.
  * Five main tables in the four reference formats, each with its own rule
  * spec; one cycle runs one job per table. */
object EtlWorkload {
  /** (file extension, rows, rules, legacy spec shape) per table slot. */
  final case class Slot(ext: String, rows: Int, rules: Int, legacy: Boolean)

  /** One table's job: its file, spec, expected output and input bytes. */
  final case class Job(path: String, spec: String, expected: RuleEval.Expected, inputBytes: Long)

  val DefaultSlots: Seq[Slot] = Seq(
    Slot("csv", 10000, 10, legacy = false),
    Slot("txt", 10000, 15, legacy = false),
    Slot("json", 5000, 10, legacy = true),
    Slot("parquet", 20000, 15, legacy = false),
    Slot("csv", 15000, 20, legacy = false))

  val Statuses = Array("Active", "Inactive", "Pending", "Closed", "Review")
  val Regions = Array("North", "South", "East", "West", "Central")
  val Words = Array("alpha", "bravo", "delta", "echo", "gamma", "kilo", "lima", "omega",
    "sierra", "tango", "zulu", "nova")
  val CustKeys = 18000 // mapping covers the first 15000: the rest miss
  val ProdCodes = 2400 // mapping covers 1..2000

  def mainTable(rnd: Random, n: Int): Table = {
    val amountNull = Array.fill(n)(rnd.nextDouble() < 0.03)
    new Table(n, IndexedSeq(
      new IntCol("id", Array.tabulate(n)(i => i + 1)),
      new DoubleCol("amount", Array.fill(n)(rnd.nextInt(1000000) / 100.0), amountNull),
      new IntCol("qty", Array.fill(n)(1 + rnd.nextInt(50))),
      new StrCol("status", Array.fill(n)(
        if (rnd.nextDouble() < 0.04) null else Statuses(rnd.nextInt(Statuses.length)))),
      new StrCol("region", Array.fill(n)(Regions(rnd.nextInt(Regions.length)))),
      new StrCol("cust_key", Array.fill(n)(f"C${rnd.nextInt(CustKeys)}%05d")),
      new IntCol("prod_code", Array.fill(n)(1 + rnd.nextInt(ProdCodes))),
      new IntCol("score", Array.fill(n)(rnd.nextInt(101))),
      new BoolCol("active", Array.fill(n)(rnd.nextBoolean())),
      new StrCol("note", Array.fill(n)(
        Words(rnd.nextInt(Words.length)) + " " + Words(rnd.nextInt(Words.length))))))
  }

  /** Mapping with duplicate keys: every key once, then `dups` repeats. */
  def mapping(rnd: Random, keys: IndexedSeq[String], dups: Int, keyCol: String,
      valCols: Seq[(String, String, Int)], intKeys: Boolean): Table = {
    val order = rnd.shuffle(keys) ++ IndexedSeq.fill(dups)(keys(rnd.nextInt(keys.size)))
    val n = order.size
    val key: Col =
      if (intKeys) new IntCol(keyCol, order.map(_.toInt).toArray)
      else new StrCol(keyCol, order.toArray)
    new Table(n, key +: valCols.toIndexedSeq.map { case (name, prefix, card) =>
      new StrCol(name, Array.fill(n)(prefix + rnd.nextInt(card)))
    })
  }

  /** A rule list of `n` rules: ~40% Conditional, ~15% Lookup, ~5% naming a
    * missing column, the rest Direct Map. Legacy specs hold only Lookup
    * and single-group Conditional rules. */
  def rules(rnd: Random, n: Int, legacy: Boolean): Seq[HRule] = {
    val missing = math.max(1, math.round(n * 0.05).toInt)
    val lookups = math.max(1, math.round(n * 0.15).toInt)
    val conds = if (legacy) n - missing - lookups else math.round(n * 0.4).toInt
    val kinds = rnd.shuffle(Seq.fill(missing)('x') ++ Seq.fill(lookups)('l') ++
      Seq.fill(conds)('c') ++ Seq.fill(n - missing - lookups - conds)('d'))
    val sources = Seq("id", "amount", "qty", "status", "region", "cust_key", "prod_code",
      "score", "active", "note")
    def lookup(name: String): HLookup =
      if (rnd.nextBoolean()) HLookup(name, "cust_map", "cust_key", "cust_key",
        if (rnd.nextBoolean()) "segment" else "tier")
      else HLookup(name, "prod_map", "prod_code", "prod_code",
        if (rnd.nextBoolean()) "category" else "brand")
    def cmp(): Cmp = rnd.nextInt(5) match {
      case 0 => Cmp("amount", Seq(">", ">=", "<", "<=")(rnd.nextInt(4)),
        Left(rnd.nextInt(1000000) / 100.0))
      case 1 => Cmp("qty", Seq("==", "!=", ">", "<=")(rnd.nextInt(4)), Left(1 + rnd.nextInt(50)))
      case 2 => Cmp("score", Seq(">", ">=", "<", "<=")(rnd.nextInt(4)), Left(rnd.nextInt(101)))
      case 3 => Cmp("status", "==", Right(Statuses(rnd.nextInt(Statuses.length))))
      case _ => Cmp("region", Seq("==", "!=")(rnd.nextInt(2)), Right(Regions(rnd.nextInt(Regions.length))))
    }
    def cond(name: String): HCond = {
      val groups = if (legacy) 1 else 1 + rnd.nextInt(2)
      HCond(name, Seq.fill(groups)(Seq.fill(1 + rnd.nextInt(3))(cmp())),
        s"T${rnd.nextInt(10)}", s"F${rnd.nextInt(10)}")
    }
    kinds.zipWithIndex.map { case (k, i) =>
      val name = s"out_$i"
      k match {
        case 'd' => HDirect(name, sources(rnd.nextInt(sources.size)))
        case 'c' => cond(name)
        case 'l' => lookup(name)
        case _ => rnd.nextInt(3) match {
          case 0 if !legacy => HDirect(name, "legacy_code")
          case 1 => HCond(name, Seq(Seq(Cmp("discount", ">", Left(5)))), "Y", "N")
          case _ => HLookup(name, "cust_map", "sku", "cust_key", "segment")
        }
      }
    }
  }

  private def csvText(t: Table, sep: String): Iterator[String] =
    Iterator.single(t.cols.map(_.name).mkString(sep)) ++
      Iterator.range(0, t.n).map(r => t.cols.map(c => Option(c.text(r)).getOrElse("")).mkString(sep))

  private def jsonRecords(t: Table): Iterator[String] = {
    def value(c: Col, r: Int): String = c match {
      case s: StrCol => Option(s.values(r)).map("\"" + _ + "\"").getOrElse("null")
      case other => Option(other.text(r)).getOrElse("null")
    }
    Iterator.single("[") ++ Iterator.range(0, t.n).map { r =>
      t.cols.map(c => "\"" + c.name + "\":" + value(c, r)).mkString("{", ",", "}") +
        (if (r < t.n - 1) "," else "")
    } ++ Iterator.single("]")
  }

  private def sparkType(c: Col): DataType = c match {
    case _: IntCol => IntegerType
    case _: DoubleCol => DoubleType
    case _: StrCol => StringType
    case _: BoolCol => BooleanType
  }

  private def writeParquet(spark: SparkSession, t: Table, dir: String): Unit = {
    val schema = StructType(t.cols.map(c => StructField(c.name, sparkType(c), nullable = true)))
    val rows = new java.util.ArrayList[Row](t.n)
    (0 until t.n).foreach { r =>
      rows.add(Row.fromSeq(t.cols.map {
        case c: IntCol => c.values(r)
        case c: DoubleCol => if (c.nulls(r)) null else c.values(r)
        case c: StrCol => c.values(r)
        case c: BoolCol => c.values(r)
      }))
    }
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Write `t` as `<base>.<ext>` in the format the extension names. */
  def writeTable(spark: SparkSession, t: Table, base: Path, ext: String): String = {
    val path = base.resolveSibling(base.getFileName.toString + "." + ext)
    ext match {
      case "csv" => FileOps.writeLines(path, csvText(t, ","))
      case "txt" => FileOps.writeLines(path, csvText(t, "|"))
      case "json" => FileOps.writeLines(path, jsonRecords(t))
      case "parquet" => writeParquet(spark, t, path.toString)
    }
    path.toString
  }
}

final class EtlWorkload(seed: Long, dir: Path) extends Workload {
  import EtlWorkload._

  private var jobs: IndexedSeq[Job] = IndexedSeq.empty
  private var mapPaths: Map[String, String] = Map.empty
  private var ruleErrors = 0L
  private var outBytes = 0L
  private var inBytes = 0L

  def cycle: Int = DefaultSlots.size
  def cycleSeconds: Double = 6.5

  def prepare(spark: SparkSession): Unit = {
    val rnd = new Random(seed)
    Files.createDirectories(dir)
    val maps = Map(
      "cust_map" -> mapping(rnd, (0 until 15000).map(i => f"C$i%05d"), 5000, "cust_key",
        Seq(("segment", "SEG_", 40), ("tier", "TIER_", 5)), intKeys = false),
      "prod_map" -> mapping(rnd, (1 to 2000).map(_.toString), 1000, "prod_code",
        Seq(("category", "CAT_", 60), ("brand", "BR_", 300)), intKeys = true))
    mapPaths = maps.map { case (name, t) => name -> writeTable(spark, t, dir.resolve(name), "csv") }
    jobs = DefaultSlots.zipWithIndex.map { case (slot, i) =>
      val t = mainTable(rnd, slot.rows)
      val rs = rules(rnd, slot.rules, slot.legacy)
      val path = writeTable(spark, t, dir.resolve(s"main_$i"), slot.ext)
      val spec = if (slot.legacy) SpecJson.legacy(rs) else SpecJson.live(rs)
      Job(path, spec, RuleEval.expected(t, maps, rs), FileOps.bytesUnder(new File(path)))
    }.toIndexedSeq
  }

  def runUnit(spark: SparkSession, tr: Tracer, i: Int): UnitResult = {
    val job = jobs(i)
    val out = dir.resolve(s"out_$i.csv").toString
    val t0 = System.nanoTime()
    val main = tr.span("etl.SmartLoad.load")(SmartLoad.load(spark, job.path))
    val maps = mapPaths.map { case (name, p) => name -> tr.span("etl.SmartLoad.load")(SmartLoad.load(spark, p)) }
    val (rules, parseErrors) = tr.span("etl.RuleJson.parse")(RuleJson.parse(job.spec))
    val result = tr.span("etl.RuleCompiler.run")(RuleCompiler.run(main, rules, maps))
    val preview = tr.span("etl.preview")(result.output.limit(100).collect())
    val t1 = System.nanoTime()
    tr.span("etl.Sinks.csvSingleFile")(Sinks.csvSingleFile(result.output, out))
    val t2 = System.nanoTime()

    units += 1
    ruleErrors += result.errors.size
    val written = new File(out).length()
    outBytes += written
    inBytes += job.inputBytes
    val e = job.expected
    val check =
      if (parseErrors.nonEmpty) Some(s"spec parse errors: $parseErrors")
      else if (result.errors.size != e.errors)
        Some(s"${result.errors.size} rule errors, expected ${e.errors}")
      else if (preview.length != math.min(100, e.rows)) Some(s"preview has ${preview.length} rows")
      else {
        val (header, rows, digest) = readCsv(out)
        if (header != e.header) Some(s"header $header, expected ${e.header}")
        else if (rows != e.rows) Some(s"$rows output rows, expected ${e.rows}")
        else if (digest != e.digest) Some("output digest differs from the rule evaluator")
        else None
      }
    UnitResult((t2 - t0) / 1e9, (t1 - t0) / 1e9, e.rows.toLong, check)
  }

  private def readCsv(path: String): (Seq[String], Int, Long) = {
    val r = Files.newBufferedReader(new File(path).toPath, StandardCharsets.UTF_8)
    try {
      val header = Option(r.readLine()).map(_.split(",", -1).toSeq).getOrElse(Seq.empty)
      var n = 0
      var digest = 0L
      var line = r.readLine()
      while (line != null) { n += 1; digest += Digest.line(line); line = r.readLine() }
      (header, n, digest)
    } finally r.close()
  }

  private var units = 0L

  def reset(): Unit = { ruleErrors = 0L; outBytes = 0L; inBytes = 0L; units = 0L }

  def layerFigures: Seq[(String, Double, String)] = Seq(
    ("etl.rule_errors", if (units == 0) 0.0 else ruleErrors.toDouble / units, "count"),
    ("etl.write_amp", if (inBytes == 0) 0.0 else outBytes.toDouble / inBytes, "bytes/byte"))
}

package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Similarity, TextAnalysis}

/** `curate`: the LLM-data layer. A seeded corpus with a Zipfian vocabulary
  * and planted exact and near-duplicate clusters, and embeddings with
  * planted clusters. One pass runs the quality filters, exact dedup,
  * MinHash near-dup pairs, their connected components and IVF top-k
  * search over a query sample. */
object CurateWorkload {
  final case class Size(docs: Int, exactGroups: Int, nearPairs: Int, vectors: Int,
      dim: Int, clusters: Int, queries: Int)

  val DefaultSize: Size = Size(docs = 3000, exactGroups = 60, nearPairs = 60,
    vectors = 6000, dim = 64, clusters = 40, queries = 20)

  val K = 10
  /** Recall below these floors fails the pass: speed must not be bought
    * with recall. */
  val MinDedupRecall = 0.95
  val MinTopkRecall = 0.8

  /** The engine's exact-dedup key: lower-cased, trimmed, whitespace runs
    * collapsed (TextAnalysis.fingerprint before hashing). */
  def normalize(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).trim.replaceAll("[ \\t\\n\\r\\f\\x0B]+", " ")

  final case class Corpus(texts: Array[String], plantedCopies: Int, nearPairs: Set[(Long, Long)])

  /** Docs of 60-120 words in sentences; 3% carry a quality-filter marker.
    * Exact copies (some upper-cased or with doubled spaces) and near
    * duplicates (one or two words replaced) of distinct base docs are
    * planted at random positions. */
  def corpus(rnd: Random, s: Size): Corpus = {
    val words = mutable.LinkedHashSet.empty[String]
    while (words.size < 6000) words += Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    val vocab = words.toArray
    val zipf = new Zipf(vocab.length, 1.07)
    def doc(): Array[String] = Array.fill(60 + rnd.nextInt(61))(vocab(zipf.sample(rnd)))
    def render(words: Array[String]): String = {
      val sb = new StringBuilder
      var inSentence = 0
      words.indices.foreach { i =>
        if (i > 0) sb.append(' ')
        sb.append(words(i))
        inSentence += 1
        if (inSentence >= 8 && (rnd.nextInt(5) == 0 || i == words.length - 1)) { sb.append('.'); inSentence = 0 }
        else if (i == words.length - 1) sb.append('.')
      }
      val t = sb.toString
      rnd.nextInt(100) match {
        case 0 => t + " lorem ipsum dolor."
        case 1 => t + " {code}."
        case 2 => t + " enable javascript."
        case _ => t
      }
    }
    val slots = rnd.shuffle((0 until s.docs).toVector)
    val texts = new Array[String](s.docs)
    var next = 0
    def take(): Int = { val i = slots(next); next += 1; i }
    var copies = 0
    (0 until s.exactGroups).foreach { _ =>
      val base = render(doc())
      texts(take()) = base
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        texts(take()) = rnd.nextInt(3) match {
          case 0 => base.toUpperCase(java.util.Locale.ROOT)
          case 1 => base.replaceFirst(" ", "  ")
          case _ => base
        }
        copies += 1
      }
    }
    val near = (0 until s.nearPairs).map { _ =>
      val a = take()
      texts(a) = render(doc())
      // replace one or two words of the rendered text, keeping punctuation
      val tokens = texts(a).split(' ')
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val p = rnd.nextInt(tokens.length)
        val word = tokens(p).stripSuffix(".")
        val other = vocab((vocab.indexOf(word) + 1 + rnd.nextInt(vocab.length - 1)) % vocab.length)
        tokens(p) = other + tokens(p).drop(word.length)
      }
      val b = take()
      texts(b) = tokens.mkString(" ")
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.toSet
    while (next < s.docs) texts(take()) = render(doc())
    Corpus(texts, copies, near)
  }

  /** Vectors around `clusters` random centres. */
  def vectors(rnd: Random, s: Size): Array[Array[Double]] = {
    val centres = Array.fill(s.clusters, s.dim)(rnd.nextGaussian())
    Array.fill(s.vectors) {
      val c = centres(rnd.nextInt(s.clusters))
      Array.tabulate(s.dim)(d => c(d) + 0.35 * rnd.nextGaussian())
    }
  }

  /** Exact top-k cosine neighbours of `q` (itself excluded), ties by id. */
  def exactTopK(vs: Array[Array[Double]], q: Int, k: Int): Seq[Long] = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val qv = vs(q)
    val qn = norm(qv)
    vs.indices.iterator.filter(_ != q).map { i =>
      val v = vs(i)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * qv(d); d += 1 }
      (i.toLong, dot / (norm(v) * qn))
    }.toSeq.sortBy { case (i, sim) => (-sim, i) }.take(k).map(_._1)
  }
}

final class CurateWorkload(seed: Long, dir: Path) extends Workload {
  import CurateWorkload._

  private val size = DefaultSize
  private var docsPath = ""
  private var vecPath = ""
  private var expectedCopies = 0L
  private var nearPairs = Set.empty[(Long, Long)]
  private var queryIds = Seq.empty[Long]
  private var exact = Map.empty[Long, Set[Long]]
  private val dedupRecalls = mutable.ArrayBuffer.empty[Double]
  private val topkRecalls = mutable.ArrayBuffer.empty[Double]

  def cycle: Int = 1
  def cycleSeconds: Double = 7.5

  def prepare(spark: SparkSession): Unit = {
    val rnd = new Random(seed)
    val c = corpus(rnd, size)
    val distinct = c.texts.iterator.map(normalize).toSet.size
    expectedCopies = size.docs - distinct
    require(expectedCopies == c.plantedCopies,
      s"generator: $expectedCopies normalized copies, ${c.plantedCopies} planted")
    nearPairs = c.nearPairs
    val parts = spark.sparkContext.defaultParallelism
    docsPath = dir.resolve("docs.parquet").toString
    val docSchema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.texts.indices.map(i => Row(i.toLong, c.texts(i))), parts), docSchema)
      .write.mode("overwrite").parquet(docsPath)

    val vs = vectors(rnd, size)
    vecPath = dir.resolve("embeddings.parquet").toString
    val vecSchema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(DoubleType, false), false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.indices.map(i => Row(i.toLong, vs(i).toSeq)), parts), vecSchema)
      .write.mode("overwrite").parquet(vecPath)
    queryIds = rnd.shuffle(vs.indices.toVector).take(size.queries).map(_.toLong)
    exact = queryIds.map(q => q -> exactTopK(vs, q.toInt, K).toSet).toMap
  }

  def runUnit(spark: SparkSession, tr: Tracer, i: Int): UnitResult = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(docsPath)
    val (preview, tPreview, kept) = tr.span("ext.TextAnalysis.qualityFilters") {
      val q = TextAnalysis.qualityFilters(docs, "text").filter(col("keep"))
      val preview = q.limit(100).collect()
      (preview, System.nanoTime(), q.count())
    }
    val copies = tr.span("ext.Dedup.exact") {
      val r = Dedup.exact(docs).filter(col("n_copies") > 1)
        .agg(sum(col("n_copies") - 1)).collect().head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val pairs = tr.span("ext.Dedup.minhash") {
      Dedup.minhash(docs).select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val pairsDf = spark.createDataFrame(pairs.toSeq).toDF("a_id", "b_id")
    val clusters = tr.span("ext.Dedup.components") {
      Dedup.components(pairsDf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val vecs = spark.read.parquet(vecPath)
    val queries = vecs.filter(col("vec_id").isin(queryIds: _*))
    val neighbours = tr.span("ext.Similarity.ivfTopK") {
      Similarity.ivfTopK(vecs, queries, K).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupMap(_._1)(_._2)
    }
    val t1 = System.nanoTime()

    val dedupRecall = nearPairs.count(pairs.toSet).toDouble / nearPairs.size
    val topkRecall = queryIds.map(q => neighbours.getOrElse(q, Array.empty[Long])
      .count(exact(q))).sum.toDouble / (queryIds.size * K)
    dedupRecalls += dedupRecall
    topkRecalls += topkRecall
    val check =
      if (preview.length != 100 || kept < size.docs / 2)
        Some(s"quality filters kept $kept docs, preview ${preview.length} rows")
      else if (copies != expectedCopies) Some(s"Dedup.exact found $copies copies, planted $expectedCopies")
      else if (pairs.exists { case (a, b) => clusters.get(a) != clusters.get(b) || !clusters.contains(a) })
        Some("a MinHash pair spans two components")
      else if (queryIds.exists(q => neighbours.get(q).forall(_.length != K)))
        Some(s"ivfTopK returned other than $K neighbours for a query")
      else if (dedupRecall < MinDedupRecall) Some(f"dedup recall $dedupRecall%.4f < $MinDedupRecall")
      else if (topkRecall < MinTopkRecall) Some(f"top-k recall $topkRecall%.4f < $MinTopkRecall")
      else None
    UnitResult((t1 - t0) / 1e9, (tPreview - t0) / 1e9, size.docs.toLong, check)
  }

  /** A pass is too long to repeat in every set-up: a restarted session
    * warms up to the pass's first result, the quality-filtered preview. */
  override def rewarm(spark: SparkSession, tr: Tracer): UnitResult = {
    val t0 = System.nanoTime()
    val preview = TextAnalysis.qualityFilters(spark.read.parquet(docsPath), "text")
      .filter(col("keep")).limit(100).collect()
    val s = (System.nanoTime() - t0) / 1e9
    UnitResult(s, s, preview.length.toLong,
      if (preview.length == 100) None else Some(s"quality preview has ${preview.length} rows"))
  }

  def reset(): Unit = { dedupRecalls.clear(); topkRecalls.clear() }

  def layerFigures: Seq[(String, Double, String)] = Seq(
    ("curate.dedup_recall", Stats.mean(dedupRecalls.toSeq), "fraction"),
    ("curate.topk_recall", Stats.mean(topkRecalls.toSeq), "fraction"))
}

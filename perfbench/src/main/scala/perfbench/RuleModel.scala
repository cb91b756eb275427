package perfbench

import scala.util.hashing.MurmurHash3

/** A generated column, held on the harness side for the evaluator. `text`
  * renders a value the way the engine's CSV sink writes it; null for a
  * null value. */
sealed trait Col {
  def name: String
  def text(r: Int): String
  def isNull(r: Int): Boolean = text(r) == null
}

final class IntCol(val name: String, val values: Array[Int]) extends Col {
  def text(r: Int): String = values(r).toString
}

/** Doubles with a null mask. */
final class DoubleCol(val name: String, val values: Array[Double], val nulls: Array[Boolean])
    extends Col {
  def text(r: Int): String = if (nulls(r)) null else java.lang.Double.toString(values(r))
}

/** Strings; a null entry is a null value. */
final class StrCol(val name: String, val values: Array[String]) extends Col {
  def text(r: Int): String = values(r)
}

final class BoolCol(val name: String, val values: Array[Boolean]) extends Col {
  def text(r: Int): String = values(r).toString
}

final class Table(val n: Int, val cols: IndexedSeq[Col]) {
  private val byName = cols.map(c => c.name -> c).toMap
  def col(name: String): Option[Col] = byName.get(name)
}

/** The harness's own rule model. The spec JSON the engine parses is
  * rendered from it, and [[RuleEval]] computes the expected output from
  * it without the engine. */
sealed trait HRule { def name: String }

final case class HDirect(name: String, source: String) extends HRule

/** `column op literal`; the literal is a number (Left) or a string (Right). */
final case class Cmp(column: String, op: String, literal: Either[Double, String]) {
  def literalText: String = literal match {
    case Left(d) if d == math.rint(d) => d.toLong.toString
    case Left(d) => java.lang.Double.toString(d)
    case Right(s) => s"'$s'"
  }
  def expression: String = s"(`$column` $op $literalText)"
}

/** Condition = OR of AND-groups of comparisons. */
final case class HCond(name: String, anyOf: Seq[Seq[Cmp]], thenV: String, elseV: String)
    extends HRule {
  def expression: String = anyOf.map(_.map(_.expression).mkString(" & ")).mkString(" | ")
}

final case class HLookup(name: String, mapName: String, inCol: String, keyCol: String,
    valCol: String) extends HRule

/** Order-independent digest of CSV lines: the wrapping sum of a 64-bit
  * hash of each line. */
object Digest {
  def line(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x0dd).toLong & 0xffffffffL)
}

/** Harness-side evaluator of a rule list, independent of the engine.
  * Covers what the generator emits: comparisons of a column with a
  * literal joined by `&` / `|` (a null operand makes a comparison false,
  * so the row takes the else branch), and Lookup with keys compared as
  * strings and the last occurrence of a duplicate key winning. A rule
  * naming a column its table lacks is an error and produces no column. */
object RuleEval {

  final case class Expected(header: Seq[String], errors: Int, rows: Int, digest: Long)

  def valid(t: Table, maps: Map[String, Table], r: HRule): Boolean = r match {
    case HDirect(_, s) => t.col(s).isDefined
    case c: HCond => c.anyOf.flatten.forall(x => t.col(x.column).isDefined)
    case l: HLookup =>
      t.col(l.inCol).isDefined &&
        maps.get(l.mapName).exists(m => m.col(l.keyCol).isDefined && m.col(l.valCol).isDefined)
  }

  /** Output rows as CSV field texts (null for a null value). */
  def rows(t: Table, maps: Map[String, Table], rules: Seq[HRule]): (Seq[String], Iterator[Array[String]]) = {
    val ok = rules.filter(valid(t, maps, _))
    val cells: Seq[Int => String] = ok.map {
      case HDirect(_, s) => val c = t.col(s).get; (r: Int) => c.text(r)
      case c: HCond =>
        val groups = c.anyOf.map(_.map(x => (t.col(x.column).get, x)))
        (r: Int) =>
          if (groups.exists(_.forall { case (col, x) => holds(col, r, x) })) c.thenV else c.elseV
      case l: HLookup =>
        val m = maps(l.mapName)
        val k = m.col(l.keyCol).get
        val v = m.col(l.valCol).get
        // later rows overwrite earlier ones: last occurrence wins
        val dict = (0 until m.n).iterator.filterNot(k.isNull).map(i => k.text(i) -> v.text(i)).toMap
        val in = t.col(l.inCol).get
        (r: Int) => Option(in.text(r)).flatMap(dict.get).orNull
    }
    (ok.map(_.name), Iterator.range(0, t.n).map(r => cells.map(_(r)).toArray))
  }

  def csvLine(fields: Array[String]): String = fields.map(f => if (f == null) "" else f).mkString(",")

  def expected(t: Table, maps: Map[String, Table], rules: Seq[HRule]): Expected = {
    val (header, it) = rows(t, maps, rules)
    var digest = 0L
    it.foreach(f => digest += Digest.line(csvLine(f)))
    Expected(header, rules.count(!valid(t, maps, _)), t.n, digest)
  }

  private def holds(c: Col, r: Int, x: Cmp): Boolean = {
    val s = c.text(r)
    if (s == null) false
    else x.literal match {
      case Left(lit) =>
        val v = c match {
          case i: IntCol => i.values(r).toDouble
          case d: DoubleCol => d.values(r)
          case other => throw new IllegalArgumentException(s"numeric comparison on ${other.name}")
        }
        compare(java.lang.Double.compare(v, lit), x.op)
      case Right(lit) => compare(s.compareTo(lit), x.op)
    }
  }

  private def compare(c: Int, op: String): Boolean = op match {
    case "==" => c == 0
    case "!=" => c != 0
    case ">" => c > 0
    case ">=" => c >= 0
    case "<" => c < 0
    case "<=" => c <= 0
  }
}

/** Renders rule lists in the two spec shapes the engine imports. */
object SpecJson {
  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Live schema: an array of flat rule objects. */
  def live(rules: Seq[HRule]): String = rules.map {
    case HDirect(n, s) => s"""{"name":${q(n)},"type":"Direct Map","source":${q(s)}}"""
    case c: HCond =>
      s"""{"name":${q(c.name)},"type":"Conditional","expression":${q(c.expression)},""" +
        s""""then":${q(c.thenV)},"else":${q(c.elseV)}}"""
    case l: HLookup =>
      s"""{"name":${q(l.name)},"type":"Lookup","map_name":${q(l.mapName)},""" +
        s""""in_col":${q(l.inCol)},"key_col":${q(l.keyCol)},"val_col":${q(l.valCol)}}"""
  }.mkString("[\n", ",\n", "\n]")

  /** Legacy `examples.json` shape: lookups and single AND-group conditions. */
  def legacy(rules: Seq[HRule]): String = rules.map {
    case l: HLookup =>
      s"""{"name":${q(l.name)},"lookup":{"mapping_file":${q(l.mapName)},""" +
        s""""input_col":${q(l.inCol)},"key_col":${q(l.keyCol)},"target_col":${q(l.valCol)}}}"""
    case c: HCond if c.anyOf.size == 1 =>
      val clauses = c.anyOf.head.map { x =>
        val v = x.literal.fold(_ => x.literalText, s => q(s))
        s"""{"input_col":${q(x.column)},"operator":${q(x.op)},"value":$v}"""
      }
      s"""{"name":${q(c.name)},"condition":{"if":[${clauses.mkString(",")}],""" +
        s""""then":${q(c.thenV)},"else":${q(c.elseV)}}}"""
    case other => throw new IllegalArgumentException(s"no legacy form for $other")
  }.mkString("{\"output_columns\":[\n", ",\n", "\n]}")
}

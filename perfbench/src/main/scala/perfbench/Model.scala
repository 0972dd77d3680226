package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

/**
 * The workloads' filter semantics, stated once for the checks: keep
 * tables matching `keep` and not `drop` (patterns `schema.table`,
 * `schema.*`, bare `table`), normalize the kind case-insensitively
 * (unknown kinds are skipped), and drop INSERT/UPDATE payloads whose
 * `dropCol` value equals `dropValue`.
 */
final case class FilterSpec(keep: Seq[String], drop: Seq[String],
                            dropCol: String, dropValue: String) {
  private def matches(p: String, schema: String, table: String): Boolean =
    p.split("\\.", 2) match {
      case Array(s, "*") => s == schema
      case Array(s, t) => s == schema && t == table
      case Array(t) => t == table
    }

  /** The normalized kind of `c`, or None when the filters drop it. */
  def admit(schema: String, c: GenChange): Option[String] = {
    val tableOk = (keep.isEmpty || keep.exists(matches(_, schema, c.table))) &&
      !drop.exists(matches(_, schema, c.table))
    val kind = c.action.toUpperCase
    val dropped = c.cols.exists(v => v.name == dropCol && v.json == Json.str(dropValue))
    if (tableOk && Set("INSERT", "UPDATE", "DELETE")(kind) && !dropped) Some(kind)
    else None
  }
}

/**
 * Plain-Scala serial apply of a change stream, one change at a time in
 * id order: INSERT skips a live key, UPDATE upserts, DELETE removes.
 * Rows are kept as column → JSON value text.
 */
final class SerialModel(schema: String, pk: String, filter: FilterSpec) {
  val rows: mutable.Map[String, Map[String, String]] = mutable.HashMap.empty

  def apply(c: GenChange): Unit = filter.admit(schema, c) match {
    case Some("INSERT") =>
      val r = c.cols.map(v => v.name -> v.json).toMap
      if (!rows.contains(r(pk))) rows(r(pk)) = r
    case Some("UPDATE") =>
      val r = c.cols.map(v => v.name -> v.json).toMap
      rows(r(pk)) = r
    case Some("DELETE") =>
      c.oldKey.foreach(k => rows.remove(k.json))
    case _ => ()
  }

  def applyAll(cs: Iterable[GenChange]): this.type = { cs.foreach(apply); this }
}

/** Conversions between JSON value text and typed Spark values. */
object Canon {
  private val mapper = new ObjectMapper()

  def typed(t: DataType, json: String): Any = {
    val n = mapper.readTree(json)
    if (n == null || n.isNull) null else node(t, n)
  }

  def node(t: DataType, n: JsonNode): Any = t match {
    case LongType => n.asText.toLong
    case DoubleType => n.asText.toDouble
    case _ => n.asText
  }

  /** A model row as typed values in `schema` order. */
  def row(schema: StructType, r: Map[String, String]): Seq[Any] =
    schema.fields.toSeq.map(f => r.get(f.name).map(typed(f.dataType, _)).orNull)

  def rows(schema: StructType, m: Iterable[Map[String, String]]): Set[Seq[Any]] =
    m.iterator.map(row(schema, _)).toSet
}

/**
 * Replays a recorded `JdbcApplySink` statement stream against an
 * in-memory table, reading the SQL the way a Postgres target would:
 * `INSERT ... ON CONFLICT DO NOTHING` inserts unless the key exists,
 * `INSERT ... ON CONFLICT (pk) DO UPDATE` upserts, `DELETE ... WHERE
 * "pk" = :pk` removes, and `SELECT setval(...)` is ignored. Parameters
 * `:name` bind from the statement's payload JSON.
 */
final class StatementReplayer(schema: StructType, pk: String) {
  private val mapper = new ObjectMapper()
  private val Insert = """INSERT INTO "([^"]+)"\."([^"]+)" \(([^)]*)\) VALUES \(([^)]*)\) ON CONFLICT DO NOTHING""".r
  private val Upsert = """INSERT INTO "([^"]+)"\."([^"]+)" \(([^)]*)\) VALUES \(([^)]*)\) ON CONFLICT \(([^)]*)\) DO UPDATE SET .*""".r
  private val Delete = """DELETE FROM "([^"]+)"\."([^"]+)" WHERE (.*)""".r

  val tables: mutable.Map[(String, String), mutable.Map[Any, Seq[Any]]] =
    mutable.HashMap.empty

  private def table(s: String, t: String) =
    tables.getOrElseUpdate((s, t), mutable.HashMap.empty)

  private def bind(payload: String): Map[String, JsonNode] = {
    val n = mapper.readTree(payload)
    val it = n.fieldNames()
    val b = Map.newBuilder[String, JsonNode]
    while (it.hasNext) { val f = it.next(); b += f -> n.get(f) }
    b.result()
  }

  private def typedRow(p: Map[String, JsonNode]): Seq[Any] =
    schema.fields.toSeq.map(f => p.get(f.name).filterNot(_.isNull)
      .map(Canon.node(f.dataType, _)).orNull)

  private def keyOf(p: Map[String, JsonNode]): Any =
    Canon.node(schema(pk).dataType, p(pk))

  def apply(sql: String, payload: String): Unit = sql match {
    case Insert(s, t, _, _) =>
      val p = bind(payload)
      val tab = table(s, t)
      if (!tab.contains(keyOf(p))) tab(keyOf(p)) = typedRow(p)
    case Upsert(s, t, _, _, _) =>
      val p = bind(payload)
      table(s, t)(keyOf(p)) = typedRow(p)
    case Delete(s, t, where) =>
      require(where == s""""$pk" = :$pk""", s"unexpected DELETE predicate: $where")
      table(s, t).remove(keyOf(bind(payload)))
    case s if s.startsWith("SELECT setval(") => ()
    case other => throw new IllegalArgumentException(s"unexpected statement: $other")
  }
}

/**
 * Bloom membership as `StreamOps.prepPipelineTo` sizes it, derived here
 * from the textbook formulas and Spark's public xxHash64 primitive:
 * m = -n·ln p / ln²2 rounded up to a multiple of 64 (at least 64),
 * k = round(m/n·ln 2) in [1, 32], bit i of a key at
 * pmod(xxhash64(key, i), m) with Spark's default hash seed 42.
 */
final class BloomModel(keys: Iterable[String], fpp: Double) {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform

  val n: Int = math.max(1, keys.size)
  val m: Long = {
    val ln2 = math.log(2)
    val m0 = math.ceil(-n * math.log(fpp) / (ln2 * ln2)).toLong
    math.max(64L, ((m0 + 63) / 64) * 64)
  }
  val k: Int = math.min(32, math.max(1, math.round(m.toDouble / n * math.log(2)).toInt))

  private def positions(key: String): Seq[Long] = {
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    (0 until k).map(i => java.lang.Math.floorMod(XXH64.hashInt(i, h), m))
  }

  private val bits: java.util.BitSet = {
    val s = new java.util.BitSet(m.toInt)
    keys.foreach(key => positions(key).foreach(p => s.set(p.toInt)))
    s
  }

  def mightContain(key: String): Boolean = positions(key).forall(p => bits.get(p.toInt))
}

/** One admitted row of the corpus output. */
final case class Admitted(id: Long, text: String, split: String)

/** Per-split accounting row of the corpus output. */
final case class SplitCount(split: String, docs: Long, tokens: Long)

/**
 * Property checks of one corpus_prep drain, made from the generator's
 * record of each document: no blocklisted or junk text is admitted, no
 * text is admitted twice, the per-split accounting sums to the admitted
 * documents (and their whitespace token counts), and every unique
 * document that was not admitted is one the Bloom model predicts as a
 * false positive. Returns the failed checks (empty when all hold).
 */
object CorpusChecks {
  def check(offered: Seq[Doc], blocklist: Set[String], bloom: BloomModel,
            admitted: Seq[Admitted], accounting: Seq[SplitCount]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val byId = offered.map(d => d.id -> d).toMap
    val unknown = admitted.filterNot(a => byId.get(a.id).exists(_.text == a.text))
    if (unknown.nonEmpty)
      errs += s"${unknown.size} admitted rows do not match an offered document"
    val blocked = admitted.count(a => blocklist(a.text))
    if (blocked > 0) errs += s"$blocked blocklisted texts admitted"
    val junk = admitted.count(a => byId.get(a.id).exists(_.kind == Doc.Junk))
    if (junk > 0) errs += s"$junk junk documents admitted"
    val twice = admitted.size - admitted.map(_.text).distinct.size
    if (twice > 0) errs += s"$twice texts admitted more than once"
    val ids = admitted.map(_.id).toSet
    val lost = offered.filter(d => d.kind == Doc.Unique && !ids(d.id) &&
      !bloom.mightContain(d.text))
    if (lost.nonEmpty)
      errs += s"${lost.size} unique documents dropped that are no Bloom false positive"
    val want = admitted.groupBy(_.split).map { case (s, as) =>
      SplitCount(s, as.size.toLong, as.map(_.text.split(" ").length.toLong).sum)
    }.toSet
    val got = accounting.groupBy(_.split).map { case (s, cs) =>
      SplitCount(s, cs.map(_.docs).sum, cs.map(_.tokens).sum)
    }.toSet
    if (want != got) errs += s"split accounting $got differs from admitted docs $want"
    errs.result()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Wal2Json

class Wal2JsonSpec extends AnyFunSuite {
  import SparkTestSession._

  // the exact wire sample from the reference docs (db/wal2json.go shape)
  private val updateMsg =
    """{"change":[{"kind":"update","schema":"public","table":"users",
      |"columnnames":["id","first_name","last_name","email"],
      |"columntypes":["integer","text","text","text"],
      |"columnvalues":["2","Leia","Solo","leia@test.com"],
      |"oldkeys":{"keynames":["id"],"keytypes":["integer"],"keyvalues":["2"]}}],
      |"nextlsn":"0/16B5A60"}""".stripMargin.replace("\n", "")

  private val insertMsg =
    """{"change":[{"kind":"insert","schema":"public","table":"pets",
      |"columnnames":["id","name"],"columntypes":["integer","text"],
      |"columnvalues":["7","Rex"]}],"nextlsn":"0/16B5B00"}"""
      .stripMargin.replace("\n", "")

  test("wal2json messages decode to the changeset shape") {
    import spark.implicits._
    val raw = Seq((1L, updateMsg), (2L, insertMsg)).toDF("seq", "msg")
    val cs = Wal2Json.decode(raw, "seq", "msg").orderBy("id").collect()
    assert(cs.length == 2)
    val upd = cs(0)
    assert(upd.getAs[String]("action") == "UPDATE")
    assert(upd.getAs[String]("schema_name") == "public")
    assert(upd.getAs[String]("table_name") == "users")
    assert(upd.getAs[String]("new_values").contains("\"first_name\":\"Leia\""))
    // integer-typed values are re-encoded UNQUOTED — audit-mode
    // row_to_json parity (changeset.go:57-61)
    assert(upd.getAs[String]("old_values").contains("\"id\":2"))
    assert(upd.getAs[String]("new_values").contains("\"id\":2"))
    assert(upd.getAs[String]("lsn") == "0/16B5A60")
    val ins = cs(1)
    assert(ins.getAs[String]("action") == "INSERT")
    assert(ins.getAs[String]("old_values") == null)
    assert(ins.getAs[String]("new_values").contains("\"name\":\"Rex\""))
  }

  test("typed view preserves column order, types, and value JSON") {
    import spark.implicits._
    // numeric/bool/json values unquoted + nested json carried verbatim
    val msg =
      """{"change":[{"kind":"insert","schema":"public","table":"t",
        |"columnnames":["id","price","ok","meta","note","jstr","jnum"],
        |"columntypes":["bigint","numeric(10,2)","boolean","jsonb","text","jsonb","json"],
        |"columnvalues":[9,12.5,true,{"tags":["a,b","c}"]},"he said \"hi\"","plain text",7]}],
        |"nextlsn":"1/A0"}""".stripMargin.replace("\n", "")
    val out = Wal2Json.decodeTyped(Seq((3L, msg)).toDF("seq", "msg"),
      "seq", "msg").collect().head

    // order-preserving array<struct<column,value,type>> (changeset.go:77-81)
    val cols = out.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("new_cols").toSeq
    assert(cols.map(_.getString(0)) ==
      Seq("id", "price", "ok", "meta", "note", "jstr", "jnum"))
    assert(cols.map(_.getString(2)) ==
      Seq("bigint", "numeric(10,2)", "boolean", "jsonb", "text", "jsonb", "json"))
    assert(cols(3).getString(1) == """{"tags":["a,b","c}"]}""")

    // payload JSON is typed: numbers/bools/json raw, strings escaped
    val nv = out.getAs[String]("new_values")
    assert(nv.contains("\"id\":9"))
    assert(nv.contains("\"price\":12.5"))
    assert(nv.contains("\"ok\":true"))
    assert(nv.contains("\"meta\":{\"tags\":[\"a,b\",\"c}\"]}"))
    assert(nv.contains("\"note\":\"he said \\\"hi\\\"\""))
    // a jsonb SCALAR string must be re-escaped (raw would be invalid JSON);
    // a json scalar number stays raw
    assert(nv.contains("\"jstr\":\"plain text\""))
    assert(nv.contains("\"jnum\":7"))
    // the full payload stays parseable JSON
    assert(graft.model.Changeset(1L, None, "INSERT", "public", "t", None,
      Some(nv), None).newValue("jstr").contains("plain text"))
    // the typed payload is parseable and round-trips through a typed
    // projection (PgTypes consumption)
    import org.apache.spark.sql.functions.{col, get_json_object}
    val typed = Wal2Json.decodeTyped(Seq((3L, msg)).toDF("seq", "msg"),
      "seq", "msg")
      .select(
        Wal2Json.typedColumn(col("new_cols"), "id", "bigint").as("id2"),
        Wal2Json.typedColumn(col("new_cols"), "price", "numeric(10,2)").as("p"),
        Wal2Json.typedColumn(col("new_cols"), "ok", "boolean").as("ok"))
      .collect().head
    assert(typed.getLong(0) == 9L)
    assert(typed.getDecimal(1) == new java.math.BigDecimal("12.50"))
    assert(typed.getBoolean(2))
    assert(get_json_object(org.apache.spark.sql.functions.lit(nv), "$.note") != null)
  }

  test("lsn resume ≡ id resume on a decoded stream (startFromLsn wiring)") {
    import spark.implicits._
    val raw = Seq((1L, updateMsg), (2L, insertMsg)).toDF("seq", "msg")
    val decoded = Wal2Json.decode(raw, "seq", "msg")
    // resume from message 1's nextlsn ≡ resume from message 2's first id
    val byLsn = Graft(spark).startFromLsn("0/16B5A60").replay(decoded)
      .select("id").collect().map(_.getLong(0)).toSeq
    val byId = Graft(spark).startFromId(2L << 20).replay(decoded)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(byLsn == byId && byLsn.nonEmpty)
    // and lsn ordering is numeric, not lexicographic: "0/16B5A60" < "1/A0"
    val cmp = spark.range(1).select(
      (Wal2Json.lsnToLong(org.apache.spark.sql.functions.lit("1/A0")) >
        Wal2Json.lsnToLong(org.apache.spark.sql.functions.lit("0/16B5A60")))
        .as("gt")).collect().head.getBoolean(0)
    assert(cmp)
    // malformed user tokens fail loudly at the facade, not in a column
    intercept[IllegalArgumentException] {
      Graft(spark).startFromLsn("16B5A60")
    }
    // full-32-bit hi must not overflow (decimal arithmetic)
    val big = spark.range(1).select(
      (Wal2Json.lsnToLong(org.apache.spark.sql.functions.lit("FFFFFFFF/FF")) >
        Wal2Json.lsnToLong(org.apache.spark.sql.functions.lit("7FFFFFFF/FF")))
        .as("gt")).collect().head.getBoolean(0)
    assert(big)
    // rows with NULL lsn are kept on an lsn resume (cannot be positioned —
    // at-least-once bias, never silent loss)
    import spark.implicits._
    val mixed = Wal2Json.decode(raw, "seq", "msg")
      .unionByName(Wal2Json.decode(raw, "seq", "msg")
        .limit(1).withColumn("lsn",
          org.apache.spark.sql.functions.lit(null).cast("string")))
    val kept = Graft(spark).startFromLsn("0/16B5A60").replay(mixed).count()
    assert(kept == byId.length + 1)
  }

  test("decoded stream flows through the standard pipeline stages") {
    import spark.implicits._
    val raw = Seq((1L, updateMsg), (2L, insertMsg)).toDF("seq", "msg")
    val filtered = graft.operators.TableFilters.whitelist(Seq("public.users"))(
      Wal2Json.decode(raw, "seq", "msg"))
    assert(filtered.count() == 1)
    assert(filtered.collect().head.getAs[String]("table_name") == "users")
  }

  // -- number fidelity, loud failures, parity with the composed reference

  private def frames(msgs: (Long, String)*) = {
    import spark.implicits._
    msgs.toDF("seq", "msg")
  }

  /** Every message in the cause chain of `e`. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def insert(cols: String): String =
    s"""{"change":[{"kind":"insert","schema":"public","table":"t",$cols}],"nextlsn":"0/A0"}"""

  test("number tokens keep their wire text (no double re-render)") {
    val msg = insert(
      """"columnnames":["big","price","e"],"columntypes":["numeric(30,2)","numeric(10,2)",""" +
        """"double precision"],"columnvalues":[12345678901234567.89,1.50,1e3]""")
    val out = Wal2Json.decodeTyped(frames(5L -> msg), "seq", "msg")
    val r = out.select(col("new_values"),
      Wal2Json.typedColumn(col("new_cols"), "big", "numeric(30,2)").as("big"),
      Wal2Json.typedColumn(col("new_cols"), "price", "numeric(10,2)").as("price"))
      .collect().head
    assert(r.getString(0) == """{"big":12345678901234567.89,"price":1.50,"e":1e3}""")
    assert(r.getDecimal(1) == new java.math.BigDecimal("12345678901234567.89"))
    assert(r.getDecimal(2) == new java.math.BigDecimal("1.50"))
    // nested json keeps its source text, whitespace and digits included
    val nested = insert(""""columnnames":["j"],"columntypes":["jsonb"],""" +
      """"columnvalues":[{"a": 1.50, "b": [1e3, "x"]}]""")
    assert(Wal2Json.decode(frames(6L -> nested), "seq", "msg").collect().head
      .getAs[String]("new_values") == """{"j":{"a": 1.50, "b": [1e3, "x"]}}""")
  }

  test("numeric string tokens that are no JSON number are quoted, not emitted raw") {
    import spark.implicits._
    val msg = insert(
      """"columnnames":["id","x","f","ok"],"columntypes":["integer","numeric(10,2)",""" +
        """"double precision","boolean"],"columnvalues":["2","NaN","-Infinity","true"]""")
    val out = Wal2Json.decode(frames(7L -> msg), "seq", "msg").select("new_values")
    assert(out.as[String].collect().toSeq ==
      Seq("""{"id":2,"x":"NaN","f":"-Infinity","ok":true}"""))
    // the payload is valid JSON: it parses back to the same four fields
    val parsed = out.select(from_json(col("new_values"), MapType(StringType, StringType)))
      .as[Map[String, String]].collect().head
    assert(parsed == Map("id" -> "2", "x" -> "NaN", "f" -> "-Infinity", "ok" -> "true"))
  }

  test("ragged column arrays fail the query with the message id") {
    val ragged = Seq(
      insert(""""columnnames":["id","name"],"columntypes":["integer","text"],""" +
        """"columnvalues":[1,"a","EXTRA"]"""),
      insert(""""columnnames":["id","name","z"],"columntypes":["integer","text","text"],""" +
        """"columnvalues":[1,"a"]"""),
      insert(""""columnnames":["id"],"columnvalues":[1]"""),
      insert(""""columnnames":["id"],"columntypes":["integer"],"columnvalues":[1],""" +
        """"oldkeys":{"keynames":["id"],"keytypes":["integer","text"],"keyvalues":[1]}"""))
    ragged.foreach { m =>
      Seq[(DataFrame, String, String) => DataFrame](
        Wal2Json.decode, Wal2Json.decodeTyped).foreach { dec =>
        val e = intercept[Exception](dec(frames(1L -> insertMsg, 41L -> m), "seq", "msg").collect())
        assert(messages(e).contains("wal2json message 41:"), messages(e))
      }
    }
  }

  test("malformed frames fail before any statement runs; in-contract edge frames decode") {
    import graft.streaming.JdbcApplySink
    val pks = Map(("public", "users") -> Seq("id"), ("public", "pets") -> Seq("id"))
    val malformed = Seq(
      updateMsg + """ trailing""",
      updateMsg.take(updateMsg.indexOf("\"Solo\"")),
      """[{"change":[]}]""",
      """{"change":[{"kind":"insert"},7]}""",
      """{"change":[{"kind":"insert","columnnames":[1],"columntypes":["integer"],"columnvalues":[1]}]}""")
    // one call per batch, and chunks of one changeset: no chunk runs
    // ahead of the failing frame
    for (m <- malformed; bound <- Seq(JdbcApplySink.DefaultMaxRowsPerBatch, 1)) {
      val seen = scala.collection.mutable.ArrayBuffer.empty[JdbcApplySink.Statement]
      val write = JdbcApplySink.writer(pks, Map.empty, st => seen ++= st, bound)
      val e = intercept[Exception](
        write(Wal2Json.decode(frames(1L -> insertMsg, 77L -> m), "seq", "msg"), 0L))
      assert(messages(e).contains("wal2json message 77"), messages(e))
      assert(seen.isEmpty, s"bound $bound")
    }
    // a null message, a DML-free transaction, unknown fields and
    // logical-decoding messages keep the composed decoder's output
    val kept = frames(
      1L -> null,
      2L -> """{"change":[]}""",
      3L -> ("""{"xid":12,"timestamp":"2020-01-01","change":[{"kind":"insert","schema":"public",""" +
        """"table":"pets","columnnames":["id"],"columntypes":["integer"],"columnvalues":[3],""" +
        """"extra":{"x":[1,2]}}],"nextlsn":"0/B0"}"""),
      4L -> ("""{"change":[{"kind":"message","transactional":false,"prefix":"p",""" +
        """"content":"hello"}],"nextlsn":"0/C0"}"""))
    val native = Wal2Json.decodeTyped(kept, "seq", "msg").orderBy("id").collect().toSeq
    val reference = Wal2JsonReference.decodeTyped(kept, "seq", "msg").orderBy("id").collect().toSeq
    assert(native == reference)
    assert(native.map(_.getAs[String]("action")) == Seq("INSERT", "MESSAGE"))
    assert(native.head.getAs[String]("new_values") == """{"id":3}""")
  }

  test("native decode equals the composed reference on generated messages") {
    val msgs = Wal2JsonGen.messages(300, seed = 20261019L)
    def check(s: SparkSession): Unit = {
      import s.implicits._
      val raw = msgs.zipWithIndex.map { case (m, i) => (i.toLong + 1, m) }.toDF("seq", "msg")
      Seq[(DataFrame => DataFrame, DataFrame => DataFrame)](
        (Wal2Json.decode(_, "seq", "msg"), Wal2JsonReference.decode(_, "seq", "msg")),
        (Wal2Json.decodeTyped(_, "seq", "msg"), Wal2JsonReference.decodeTyped(_, "seq", "msg"))
      ).foreach { case (nat, ref) =>
        val a = nat(raw).orderBy("id").collect()
        val b = ref(raw).orderBy("id").collect()
        assert(a.length == b.length && a.length > msgs.length)
        a.zip(b).foreach { case (x, y) =>
          assert(x == y, s"message ${x.getLong(0) >> 20}: ${msgs((x.getLong(0) >> 20).toInt - 1)}")
        }
      }
    }
    check(spark)
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    check(interpreted)
  }
}

/** Seeded wal2json messages inside the inputs where the native decoder
  * and [[Wal2JsonReference]] agree: several changes per message, kinds
  * in mixed case, names and values with quotes, backslashes, control
  * characters and non-ASCII text (escaped on the wire in varying ways),
  * NULLs, json/jsonb values as strings, numbers, objects and arrays,
  * and changes without `columnnames` or `oldkeys`. Numbers are texts
  * that survive a double round trip; nested values are compact and
  * escaped as Jackson writes them, since the reference re-renders both. */
object Wal2JsonGen {
  private val pieces = Array("a", "Z", "q", " ", "\"", "\\", "/", "\n", "\t", "\r", "\b", "\f",
    "\u0001", "\u001f", "\u007f", "é", "日本", "😀", "{", "}", ",", ":", "[")

  private val types = Array("integer", "bigint", "INT8", "numeric(12,2)", "double precision",
    "boolean", "text", "character varying", "date", "json", "jsonb", "JSONB")

  // string texts that read as JSON literals, or almost do
  private val literals = Array("123", " -1.5", "true", "null", "{\"a\":1}", "[1,", "{x")

  private val kinds = Array("insert", "UPDATE", "Delete", "iNsErT", "update", "message")

  def messages(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(_ => message(r))
  }

  private def text(r: scala.util.Random): String =
    (0 until r.nextInt(6)).map(_ => pieces(r.nextInt(pieces.length))).mkString

  /** A string token as a producer may write it: control characters
    * escaped (sometimes as \u00xx), and other characters sometimes
    * escaped as \uXXXX or \/. */
  private def wire(s: String, r: scala.util.Random): String = {
    val b = new StringBuilder("\"")
    s.foreach { c =>
      if (c == '"') b ++= "\\\""
      else if (c == '\\') b ++= "\\\\"
      else if (c == '/' && r.nextBoolean()) b ++= "\\/"
      else if (c < ' ' || (c > '~' && r.nextInt(3) == 0)) b ++= f"\\u${c.toInt}%04x"
      else b += c
    }
    b += '"'
    b.result()
  }

  /** A string token as Jackson copies it (the reference's nested form),
    * which escapes each half of a surrogate pair. */
  private def canonical(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\b' => b ++= "\\b"
      case '\t' => b ++= "\\t"
      case '\n' => b ++= "\\n"
      case '\f' => b ++= "\\f"
      case '\r' => b ++= "\\r"
      case c if c < ' ' || Character.isSurrogate(c) => b ++= f"\\u${c.toInt}%04X"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  private def number(r: scala.util.Random): String =
    if (r.nextBoolean()) (r.nextLong() >> r.nextInt(60)).toString
    else (r.nextDouble() * math.pow(10, r.nextInt(12) - 4) * (if (r.nextBoolean()) 1 else -1)).toString

  private def nested(r: scala.util.Random, depth: Int): String = r.nextInt(if (depth > 1) 3 else 5) match {
    case 0 => canonical(text(r))
    case 1 => number(r)
    case 2 => if (r.nextBoolean()) "true" else "null"
    case 3 => (0 until r.nextInt(3)).map(_ => canonical(text(r)) + ":" + nested(r, depth + 1))
      .mkString("{", ",", "}")
    case _ => (0 until r.nextInt(3)).map(_ => nested(r, depth + 1)).mkString("[", ",", "]")
  }

  private def value(t: String, r: scala.util.Random): String =
    if (r.nextInt(7) == 0) "null"
    else t.toLowerCase match {
      case "integer" | "bigint" | "int8" =>
        val v = (r.nextLong() >> r.nextInt(63)).toString
        if (r.nextInt(4) == 0) "\"" + v + "\"" else v
      case "numeric(12,2)" | "double precision" => number(r)
      case "boolean" => if (r.nextBoolean()) "true" else "false"
      case "json" | "jsonb" => r.nextInt(6) match {
        case 0 => wire("s" + text(r), r)
        case 1 => wire(literals(r.nextInt(literals.length)), r)
        case 2 => number(r)
        case 3 => if (r.nextBoolean()) "true" else "false"
        case _ =>
          val v = nested(r, 0)
          if (v.startsWith("{") || v.startsWith("[")) v else "[" + v + "]"
      }
      case _ => wire(text(r), r)
    }

  private def triple(n: String, t: String, v: String, k: Int, r: scala.util.Random): String = {
    val ts = (0 until k).map(_ => types(r.nextInt(types.length)))
    s""""$n":${(0 until k).map(_ => wire(text(r) + "c", r)).mkString("[", ",", "]")},""" +
      s""""$t":${ts.map(x => wire(x, r)).mkString("[", ",", "]")},""" +
      s""""$v":${ts.map(value(_, r)).mkString("[", ",", "]")}"""
  }

  private def change(r: scala.util.Random): String = {
    val kind = kinds(r.nextInt(kinds.length))
    val fields = Seq.newBuilder[String]
    fields += s""""kind":${wire(kind, r)}"""
    if (kind != "message") {
      fields += s""""schema":${wire("public" + text(r), r)}"""
      fields += s""""table":${wire("t" + text(r), r)}"""
    } else fields += s""""prefix":"p","content":${wire(text(r), r)}"""
    if (r.nextInt(4) != 0) fields += triple("columnnames", "columntypes", "columnvalues", r.nextInt(5), r)
    if (r.nextInt(3) == 0) fields += s""""oldkeys":{${triple("keynames", "keytypes", "keyvalues", 1 + r.nextInt(2), r)}}"""
    if (r.nextInt(5) == 0) fields += """"extra":{"x":[1,{"y":null}]}"""
    r.shuffle(fields.result()).mkString("{", ",", "}")
  }

  private def message(r: scala.util.Random): String = {
    val fields = Seq.newBuilder[String]
    fields += (0 until 1 + r.nextInt(4)).map(_ => change(r)).mkString("\"change\":[", ",", "]")
    if (r.nextInt(5) != 0) fields += s""""nextlsn":"${r.nextInt(16).toHexString}/${r.nextInt().toHexString.toUpperCase}""""
    if (r.nextInt(4) == 0) fields += """"xid":1234"""
    r.shuffle(fields.result()).mkString("{", ",", "}")
  }
}

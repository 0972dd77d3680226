package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser,
  JsonProcessingException, JsonToken, StreamReadConstraints}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * wal2json wire-format decoder (reference: db/wal2json.go:4-26 — the
 * logical-replication message shape `{change: [{kind, schema, table,
 * columnnames[], columntypes[], columnvalues[], oldkeys{...}}], nextlsn}`),
 * i.e. the LR-mode ingestion path (lr_listener.go:214-255) re-expressed as
 * a declarative transformation: a DataFrame of raw wal2json message strings
 * becomes a changeset-schema DataFrame.
 *
 * Two views:
 *  - [[decode]]: payloads re-encoded as JSON objects, TYPE-AWARE — numeric/
 *    boolean/json columns stay unquoted, so the result is byte-compatible
 *    with audit-mode `row_to_json` payloads (both capture modes produce
 *    type-identical streams, changeset.go:57-61).
 *  - [[decodeTyped]]: additionally carries the order-preserving,
 *    type-tagged `array<struct<column,value,type>>` view of each change
 *    (changeset.go:77-81 `ChangesetColumn` parity) plus the message `lsn`,
 *    feeding [[graft.model.PgTypes.toSpark]] for typed projections.
 *
 * One native expression ([[Wal2JsonDecode]]) streams each message once
 * and yields its changes; `posexplode` turns them into rows. Value text
 * is carried as it arrived: a number keeps its wire digits (`1.50`,
 * `1e3`, `12345678901234567.89` — nothing passes through a double) and a
 * nested json/jsonb object or array keeps its source text, so no value
 * information is lost before the type-aware re-encode. A message that is
 * not well-formed JSON, or whose column arrays disagree in length, fails
 * the query with its message id instead of decoding to fewer rows.
 */
object Wal2Json {

  /** Escape a string column into a JSON string literal (quotes included). */
  def jsonStringLiteral(c: Column): Column = {
    val arr = to_json(array(c)) // ["escaped"] — reuse Spark's JSON writer
    arr.substr(lit(2), length(arr) - 2)
  }

  /** Composite id: one message can carry many changes. 2^20 changes per
   *  message keeps composite ids unique and ordered for message ids up to
   *  2^43 (a transaction touching >1M rows in one wal2json message would
   *  need chunked output upstream anyway). */
  private def compositeId(msgId: Column, chgIdx: Column): Column =
    shiftleft(msgId, 20) + chgIdx

  /**
   * Decode raw wal2json messages (`msgCol`, with monotonically increasing
   * message id `idCol` ≅ LSN order) into the changeset shape + `lsn`
   * (the message's nextlsn — the resume token for [[lsnToLong]] filters).
   */
  def decode(raw: DataFrame, idCol: String, msgCol: String): DataFrame =
    decoded(raw, idCol, msgCol, typed = false)

  /**
   * Decode with the order-preserving typed column views retained:
   * changeset columns + `lsn` + `new_cols`/`old_cols` as
   * `array<struct<column,value,type>>`. Use [[typedColumn]] to project a
   * column at its declared PG type.
   */
  def decodeTyped(raw: DataFrame, idCol: String, msgCol: String): DataFrame =
    decoded(raw, idCol, msgCol, typed = true)

  private def decoded(raw: DataFrame, idCol: String, msgCol: String,
                      typed: Boolean): DataFrame = {
    val id = col(idCol).cast("long")
    val changes = ColumnBridge.column(Wal2JsonDecode(
      ColumnBridge.expression(id), ColumnBridge.expression(col(msgCol)), typed))
    val views = if (typed) Seq(col("c.new_cols"), col("c.old_cols")) else Nil
    raw.select(id.as("msg_id"), posexplode(changes).as(Seq("chg_idx", "c")))
      .select(Seq(
        compositeId(col("msg_id"), col("chg_idx")).as("id"),
        lit(null).cast("timestamp").as("ts"),
        col("c.action"), col("c.schema_name"), col("c.table_name"),
        lit(0L).as("relid"),
        col("c.new_values"), col("c.old_values"), col("c.lsn")) ++ views: _*)
  }

  /** A typed cols view as a name→value map — alias it once when
   *  projecting several columns (map_from_entries is non-cheap, so
   *  CollapseProject keeps the aliased map out of the projections). */
  def colsMap(colsCol: Column): Column =
    map_from_entries(transform(colsCol, e =>
      struct(e.getField("column"), e.getField("value"))))

  /** Project one column of a typed cols view at its declared PG type
   *  (feeds [[graft.model.PgTypes.toSpark]]). */
  def typedColumn(colsCol: Column, name: String, pgType: String): Column =
    element_at(colsMap(colsCol), name)
      .cast(graft.model.PgTypes.toSpark(pgType))

  /** Parse a Postgres LSN string `hi/lo` (hex) into an orderable number.
   *  Decimal(20,0) arithmetic: hi can be the full 32 bits, so hi·2^32+lo
   *  does not fit a signed long (ANSI would raise on overflow).
   *  try_element_at: a malformed/partial token yields null, not an ANSI
   *  array-index error killing the whole query. */
  def lsnToLong(lsn: Column): Column = {
    val parts = split(lsn, "/")
    // hex-validate each part before conv: Spark's conv follows MySQL
    // semantics and maps garbage to 0, which would make a corrupted token
    // order as the SMALLEST lsn (silently dropped by resume filters)
    // instead of null (kept)
    def hexPart(i: Int): Column = {
      val p = try_element_at(parts, lit(i))
      when(p.rlike("^[0-9a-fA-F]{1,8}$"), conv(p, 16, 10)).otherwise(lit(null))
    }
    (hexPart(1).cast("decimal(20,0)") * lit(4294967296L) +
      hexPart(2).cast("decimal(20,0)"))
  }

  private val LsnPattern = "^[0-9A-Fa-f]{1,8}/[0-9A-Fa-f]{1,8}$".r

  /** Validate a user-supplied LSN resume token eagerly (fail loudly in the
   *  driver, not silently in a column expression). */
  def requireValidLsn(lsn: String): String = {
    require(LsnPattern.matches(lsn),
      s"malformed LSN '$lsn' — expected hex hi/lo like 0/16B5A60")
    lsn
  }
}

/**
 * Native Catalyst expression behind [[Wal2Json.decode]]: one wal2json
 * message (with its message id, for error reports) → the array of its
 * changes, each a struct of `action` (the kind upper-cased), schema and
 * table name, the type-aware `new_values`/`old_values` payloads and the
 * message's `lsn`; with `typed`, also the `new_cols`/`old_cols` views.
 *
 * A custom expression for the same reason as
 * [[graft.functions.DeflateLen]]: the decode is the per-batch cost of
 * the LR capture path, and the composed form it replaced (`from_json` →
 * `posexplode` → interpreted `zip_with`/`transform` lambdas calling
 * `to_json` once per column name and value) took three times as long
 * per change as this single Jackson pass, job overhead included.
 * Codegen calls the companion's static routine.
 *
 * Contract of the routine, checked by Wal2JsonSpec against that composed
 * form (kept in the tests as the reference):
 *  - a null message, a message without `change`, and `{"change":[]}`
 *    decode to no changes; unknown fields are skipped; entries of other
 *    kinds (wal2json's `kind:"message"`) decode like any change;
 *  - a payload renders numeric and boolean columns unquoted (quoted
 *    when a string token's text is no JSON number or boolean, such as
 *    `NaN`), json/jsonb columns unquoted when the value is a JSON
 *    number, boolean, object or array (or a string whose text is a JSON
 *    literal), every other value as a JSON string, and JSON null for
 *    NULL;
 *  - number tokens and nested objects/arrays keep their wire text;
 *  - anything else fails the query naming the message id: text that is
 *    not one JSON object, trailing content, a `change` that is not an
 *    array of objects, column names or types that are not strings, and
 *    `columnnames`/`columntypes`/`columnvalues` (or the `oldkeys`
 *    triple) not present together with equal lengths.
 */
case class Wal2JsonDecode(msgId: Expression, message: Expression, typed: Boolean)
    extends BinaryExpression {
  override def left: Expression = msgId
  override def right: Expression = message
  override def dataType: DataType = Wal2JsonDecode.dataType(typed)
  override def nullable: Boolean = true
  override def prettyName: String = "wal2json_decode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (msgId.dataType == LongType && message.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes (bigint, string), got " +
      s"(${msgId.dataType.simpleString}, ${message.dataType.simpleString})")

  // a null id still decodes (its composite ids come out null); only a
  // null message is no changes
  override def eval(input: InternalRow): Any = {
    val m = message.eval(input)
    if (m == null) null
    else {
      val id = msgId.eval(input)
      Wal2JsonDecode.decode(id == null, if (id == null) 0L else id.asInstanceOf[Long],
        m.asInstanceOf[UTF8String], typed)
    }
  }

  // MODULE$ call, as in DeflateLen
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val id = msgId.genCode(ctx)
    val m = message.genCode(ctx)
    ev.copy(code = code"""
      ${id.code}
      ${m.code}
      boolean ${ev.isNull} = ${m.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.sources.Wal2JsonDecode$$.MODULE$$.decode(
          ${id.isNull}, ${id.value}, ${m.value}, $typed);
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Wal2JsonDecode =
    copy(msgId = newLeft, message = newRight)
}

object Wal2JsonDecode {
  private val colsType = ArrayType(StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("value", StringType),
    StructField("type", StringType, nullable = false))), containsNull = false)

  private def dataType(typed: Boolean): DataType = {
    val base = Seq("action", "schema_name", "table_name", "new_values", "old_values", "lsn")
      .map(StructField(_, StringType))
    val views =
      if (typed) Seq(StructField("new_cols", colsType), StructField("old_cols", colsType))
      else Nil
    ArrayType(StructType(base ++ views), containsNull = false)
  }

  // no size limits beyond the message's own: a wide row or a large
  // text value must decode, not trip Jackson's default string cap
  private val factory: JsonFactory = new JsonFactoryBuilder()
    .streamReadConstraints(StreamReadConstraints.builder()
      .maxStringLength(Int.MaxValue).maxNumberLength(Int.MaxValue).build())
    .build()

  private final class Malformed(msg: String) extends RuntimeException(msg)

  def decode(idIsNull: Boolean, id: Long, msg: UTF8String, typed: Boolean): ArrayData = {
    val bytes = msg.getBytes
    val p = factory.createParser(bytes)
    def where = "wal2json message " + (if (idIsNull) "null" else id.toString)
    try new GenericArrayData(new Decoder(p, bytes, typed).message())
    catch {
      case e: Malformed =>
        throw new IllegalArgumentException(s"$where: ${e.getMessage}")
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"$where is not well-formed JSON: " +
          e.getOriginalMessage, e)
    } finally p.close()
  }

  // payload rendering of a column by its declared PG type
  private final val Quoted = 0
  private final val Raw = 1
  private final val JsonText = 2

  private val rawTypes = Set("smallint", "integer", "int", "int2", "int4", "bigint",
    "int8", "serial", "bigserial", "real", "float4", "double precision", "float8",
    "boolean", "bool")

  private def typeClass(t: String): Int = {
    val lt = t.toLowerCase(Locale.ROOT)
    if (rawTypes.contains(lt) || lt.startsWith("numeric") || lt.startsWith("decimal")) Raw
    else if (lt == "json" || lt == "jsonb") JsonText
    else Quoted
  }

  /** One parsed value: its text (unescaped for a string token, wire text
    * otherwise; null for JSON null) and whether it was a string token. */
  private final class Value(val text: String, val isString: Boolean)

  private val NullValue = new Value(null, false)

  /** A triple of parallel arrays: names, types, values. */
  private final class Cols(val names: Array[String], val types: Array[String],
                           val values: Array[Value])

  private final class Decoder(p: JsonParser, bytes: Array[Byte], typed: Boolean) {
    private val sb = new java.lang.StringBuilder

    private def fail(what: String): Nothing = throw new Malformed(what)

    def message(): Array[Any] = {
      if (p.nextToken() != JsonToken.START_OBJECT) fail("not a JSON object")
      val changes = ArrayBuffer.empty[Array[Any]]
      var lsn: UTF8String = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        f match {
          case "change" =>
            p.currentToken() match {
              case JsonToken.VALUE_NULL =>
              case JsonToken.START_ARRAY =>
                while (p.nextToken() != JsonToken.END_ARRAY) {
                  if (p.currentToken() != JsonToken.START_OBJECT)
                    fail(s"change ${changes.length} is not an object")
                  changes += change(changes.length)
                }
              case _ => fail("change is not an array")
            }
          case "nextlsn" => lsn = utf8(value().text)
          case _ => p.skipChildren()
        }
      }
      if (p.nextToken() != null) fail("trailing content after the message object")
      val out = new Array[Any](changes.length)
      var i = 0
      while (i < out.length) {
        val c = changes(i)
        c(5) = lsn
        out(i) = new GenericInternalRow(c)
        i += 1
      }
      out
    }

    private def change(idx: Int): Array[Any] = {
      var kind, schema, table: String = null
      var names, types: Array[String] = null
      var values: Array[Value] = null
      var old: Cols = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val f = p.currentName()
        p.nextToken()
        f match {
          case "kind" => kind = value().text
          case "schema" => schema = value().text
          case "table" => table = value().text
          case "columnnames" => names = strings(s"change $idx columnnames")
          case "columntypes" => types = strings(s"change $idx columntypes")
          case "columnvalues" => values = valueArray(s"change $idx columnvalues")
          case "oldkeys" => old = oldKeys(idx)
          case _ => p.skipChildren()
        }
      }
      val cols = triple(s"change $idx", "columnnames", "columntypes", "columnvalues",
        names, types, values)
      val row = new Array[Any](if (typed) 8 else 6)
      row(0) = if (kind == null) null else utf8(kind.toUpperCase(Locale.ROOT))
      row(1) = utf8(schema)
      row(2) = utf8(table)
      row(3) = payload(cols)
      row(4) = payload(old)
      if (typed) {
        row(6) = view(cols)
        row(7) = view(old)
      }
      row
    }

    private def oldKeys(idx: Int): Cols = p.currentToken() match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_OBJECT =>
        var names, types: Array[String] = null
        var values: Array[Value] = null
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val f = p.currentName()
          p.nextToken()
          f match {
            case "keynames" => names = strings(s"change $idx oldkeys.keynames")
            case "keytypes" => types = strings(s"change $idx oldkeys.keytypes")
            case "keyvalues" => values = valueArray(s"change $idx oldkeys.keyvalues")
            case _ => p.skipChildren()
          }
        }
        triple(s"change $idx oldkeys", "keynames", "keytypes", "keyvalues",
          names, types, values)
      case _ => fail(s"change $idx oldkeys is not an object")
    }

    /** The three arrays come all absent (no view) or all present with
      * one length: a ragged triple has no faithful decoding. */
    private def triple(at: String, n: String, t: String, v: String,
                       names: Array[String], types: Array[String],
                       values: Array[Value]): Cols =
      if (names == null && types == null && values == null) null
      else if (names == null || types == null || values == null)
        fail(s"$at has only some of $n/$t/$v")
      else if (names.length != types.length || names.length != values.length)
        fail(s"$at $n/$t/$v lengths differ: " +
          s"${names.length}/${types.length}/${values.length}")
      else new Cols(names, types, values)

    private def strings(at: String): Array[String] = p.currentToken() match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_ARRAY =>
        val b = ArrayBuffer.empty[String]
        while (p.nextToken() != JsonToken.END_ARRAY) {
          if (p.currentToken() != JsonToken.VALUE_STRING)
            fail(s"$at[${b.length}] is not a string")
          b += p.getText
        }
        b.toArray
      case _ => fail(s"$at is not an array")
    }

    private def valueArray(at: String): Array[Value] = p.currentToken() match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.START_ARRAY =>
        val b = ArrayBuffer.empty[Value]
        while (p.nextToken() != JsonToken.END_ARRAY) b += value()
        b.toArray
      case _ => fail(s"$at is not an array")
    }

    /** The current token's value: string tokens unescaped, number tokens
      * with their wire digits, objects and arrays as their source text. */
    private def value(): Value = p.currentToken() match {
      case JsonToken.VALUE_NULL => NullValue
      case JsonToken.VALUE_STRING => new Value(p.getText, true)
      case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
        val start = p.currentTokenLocation().getByteOffset.toInt
        p.skipChildren()
        val end = p.currentLocation().getByteOffset.toInt
        new Value(new String(bytes, start, end - start, UTF_8), false)
      case _ => new Value(p.getText, false)
    }

    private def payload(c: Cols): UTF8String =
      if (c == null) null
      else {
        sb.setLength(0)
        sb.append('{')
        var i = 0
        while (i < c.names.length) {
          if (i > 0) sb.append(',')
          quote(c.names(i))
          sb.append(':')
          val v = c.values(i)
          if (v.text == null) sb.append("null")
          else typeClass(c.types(i)) match {
            case Raw if !v.isString || numberShaped(v.text) => sb.append(v.text)
            case JsonText if !v.isString || literalShaped(v.text) => sb.append(v.text)
            case _ => quote(v.text)
          }
          i += 1
        }
        sb.append('}')
        UTF8String.fromString(sb.toString)
      }

    private def view(c: Cols): ArrayData =
      if (c == null) null
      else {
        val out = new Array[Any](c.names.length)
        var i = 0
        while (i < out.length) {
          out(i) = new GenericInternalRow(
            Array[Any](utf8(c.names(i)), utf8(c.values(i).text), utf8(c.types(i))))
          i += 1
        }
        new GenericArrayData(out)
      }

    /** `s` as a JSON string literal, escaped by Jackson's encoder, the
      * one Spark's JSON writer uses. */
    private def quote(s: String): Unit = {
      sb.append('"')
      JsonStringEncoder.getInstance.quoteAsString(s, sb)
      sb.append('"')
    }
  }

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  private val NumberText = "-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?".r

  /** A numeric or boolean value that arrived as a string token is
    * emitted raw only when its text is a JSON number or true/false;
    * anything else (numeric `NaN`, float `Infinity`) is quoted, as
    * Postgres' `row_to_json` quotes it. */
  private def numberShaped(v: String): Boolean =
    NumberText.matches(v) || v == "true" || v == "false"

  /** A json/jsonb value that arrived as a string token is emitted raw
    * only when its text (after leading spaces) is itself a JSON literal:
    * a number, true/false/null, or one complete object or array. */
  private def literalShaped(v: String): Boolean = {
    var i = 0
    while (i < v.length && v.charAt(i) == ' ') i += 1
    val t = v.substring(i)
    if (t.startsWith("{") || t.startsWith("[")) parsesAsOneValue(t)
    else NumberText.matches(t) || t == "true" || t == "false" || t == "null"
  }

  private def parsesAsOneValue(t: String): Boolean = {
    val p = factory.createParser(t)
    try {
      p.nextToken()
      p.skipChildren()
      p.nextToken() == null
    } catch { case _: JsonProcessingException => false }
    finally p.close()
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Wal2Json.jsonStringLiteral

/**
 * The composed-column wal2json decoder that [[graft.sources.Wal2Json]]'s
 * native expression replaced, kept as the reference the parity property
 * compares against: `from_json` → `posexplode` → per-entry encode →
 * `concat`.
 *
 * Where the two differ on purpose the native decoder is the faithful
 * one, and the property's generator stays inside the inputs where they
 * agree: `from_json` into a string field re-renders a float token
 * through `double` (`1.50` → `1.5`) and compacts nested objects; it
 * writes a numeric or boolean column's string token unquoted even when
 * its text is no JSON number (`"NaN"` → `NaN`, which is not JSON); it
 * pads ragged column arrays with nulls; and a malformed message decodes
 * to no rows.
 */
object Wal2JsonReference {

  val messageSchema: StructType = StructType.fromDDL(
    "change array<struct<kind:string,schema:string,table:string," +
      "columnnames:array<string>,columntypes:array<string>," +
      "columnvalues:array<string>," +
      "oldkeys:struct<keynames:array<string>,keytypes:array<string>," +
      "keyvalues:array<string>>>>, nextlsn string")

  /** PG types whose JSON form is emitted raw (unquoted). */
  private def rawJsonType(t: Column): Column = {
    val lt = lower(t)
    lt.isin("smallint", "integer", "int", "int2", "int4", "bigint", "int8",
      "serial", "bigserial", "real", "float4", "double precision", "float8",
      "boolean", "bool") ||
      lt.startsWith("numeric") || lt.startsWith("decimal")
  }

  private def jsonTypeName(t: Column): Column = lower(t).isin("json", "jsonb")

  /** Is the value text itself a JSON literal? */
  private def jsonLiteralShaped(v: Column): Column = {
    val t = ltrim(v)
    (t.startsWith("{") &&
      from_json(v, MapType(StringType, StringType)).isNotNull) ||
      (t.startsWith("[") &&
        from_json(v, ArrayType(StringType)).isNotNull) ||
      t.rlike("^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$") ||
      t.isin("true", "false", "null")
  }

  private def colsView(names: Column, types: Column, values: Column): Column =
    zip_with(names, zip_with(types, values, (t, v) => struct(t.as("t"), v.as("v"))),
      (n, tv) => struct(n.as("column"), tv.getField("v").as("value"),
        tv.getField("t").as("type")))

  private def payloadJson(cols: Column): Column =
    concat(lit("{"),
      concat_ws(",", transform(cols, e =>
        concat(jsonStringLiteral(e.getField("column")), lit(":"),
          when(e.getField("value").isNull, lit("null"))
            .when(rawJsonType(e.getField("type")), e.getField("value"))
            .when(jsonTypeName(e.getField("type")) &&
              jsonLiteralShaped(e.getField("value")), e.getField("value"))
            .otherwise(jsonStringLiteral(e.getField("value")))))),
      lit("}"))

  def decode(raw: DataFrame, idCol: String, msgCol: String): DataFrame =
    decodeTyped(raw, idCol, msgCol).drop("new_cols", "old_cols")

  def decodeTyped(raw: DataFrame, idCol: String, msgCol: String): DataFrame =
    raw.select(col(idCol).cast("long").as("id"),
        from_json(col(msgCol), messageSchema).as("m"))
      .select(col("id"), col("m.nextlsn").as("lsn"),
        posexplode(col("m.change")).as(Seq("chg_idx", "c")))
      .withColumn("new_cols",
        when(col("c.columnnames").isNotNull,
          colsView(col("c.columnnames"), col("c.columntypes"),
            col("c.columnvalues"))))
      .withColumn("old_cols",
        when(col("c.oldkeys.keynames").isNotNull,
          colsView(col("c.oldkeys.keynames"), col("c.oldkeys.keytypes"),
            col("c.oldkeys.keyvalues"))))
      .select(
        (shiftleft(col("id"), 20) + col("chg_idx")).as("id"),
        lit(null).cast("timestamp").as("ts"),
        upper(col("c.kind")).as("action"),
        col("c.schema").as("schema_name"),
        col("c.table").as("table_name"),
        lit(0L).as("relid"),
        when(col("new_cols").isNotNull, payloadJson(col("new_cols")))
          .as("new_values"),
        when(col("old_cols").isNotNull, payloadJson(col("old_cols")))
          .as("old_values"),
        col("lsn"), col("new_cols"), col("old_cols"))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The transform pipeline (reference: pipeline.go:38-89 — an ordered chain of
 * stages with pass/transform/drop semantics, one goroutine + channel hop per
 * stage).
 *
 * Spark-first re-expression: a stage is just `DataFrame => DataFrame` and the
 * pipeline is function composition via `df.transform(...)`. Catalyst fuses
 * the whole chain into one whole-stage-codegen'd operator — there is no
 * per-stage handoff cost, and filter stages are pushed down/combined by the
 * optimizer (`CombineFilters`, `PushDownPredicates`), which subsumes the
 * reference's "dropped event skips remaining stages" short-circuit
 * (pipeline.go:22-26).
 */
object Pipeline {
  type Stage = DataFrame => DataFrame

  /** Compose stages left-to-right (reference: Pipeline.AddStage order). */
  def apply(stages: Stage*): Stage =
    df => stages.foldLeft(df)((acc, s) => s(acc))
}

/**
 * Table-pattern filters (reference: warp_pipe.go:97-144). Patterns are
 * `schema.table`, `schema.*`, or bare `table`; ignore takes precedence over
 * whitelist by running as a later stage (reference: config.go:29-31
 * "takes precedent").
 */
object TableFilters {

  /** Compile one pattern to a Column predicate over (schema_name, table_name). */
  def patternPredicate(pattern: String): Column = pattern.split("\\.", 2) match {
    case Array(schema, "*")   => col("schema_name") === schema
    case Array(schema, table) => col("schema_name") === schema && col("table_name") === table
    case Array(table)         => col("table_name") === table
    case _                    => lit(false)
  }

  private def matchesAny(patterns: Seq[String]): Column =
    patterns.map(patternPredicate).reduceOption(_ || _).getOrElse(lit(false))

  /** Keep only events whose table matches any pattern (warp_pipe.go:97-120). */
  def whitelist(patterns: Seq[String]): Pipeline.Stage =
    df => if (patterns.isEmpty) df else df.filter(matchesAny(patterns))

  /** Drop events whose table matches any pattern (warp_pipe.go:122-144);
   *  apply AFTER whitelist so ignore wins. */
  def ignore(patterns: Seq[String]): Pipeline.Stage =
    df => if (patterns.isEmpty) df else df.filter(!matchesAny(patterns))
}

/**
 * User-stage building blocks over the JSON `new_values` payload — the Spark
 * equivalents of the reference's canonical pipeline-test stages
 * (pipeline_test.go:15-40: project away a PII column, rewrite a field, drop
 * by value predicate) and of by-name column access
 * (changeset.go:46-74 GetNewColumnValue / GetPreviousColumnValue).
 *
 * All of these are pure Column expressions — codegen'd, no UDFs.
 */
object Stages {

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.types.{MapType, StringType, VariantType}

  /** Working column that holds the parsed payload while the "payload
   *  domain" is open (see [[openPayload]]). */
  val PayloadCol = "__payload"

  /** new_values as map<string,string> for by-name access (T9). */
  def newValuesMap: Column =
    from_json(col("new_values"), MapType(StringType, StringType))

  def oldValuesMap: Column =
    from_json(col("old_values"), MapType(StringType, StringType))

  /** new_values parsed for REWRITING: map<string,variant> keeps each
   *  value's JSON type through to_json, so `{"k":7,"p":1.5}` stays
   *  numeric (a map<string,string> round-trip quotes every value, and a
   *  typed read of the result — Materializer — then sees NULL). */
  private def payloadMap: Column =
    from_json(col("new_values"), MapType(StringType, VariantType))

  /** GetNewColumnValue(name) (changeset.go:46-54). */
  def newValue(name: String): Column = get_json_object(col("new_values"), s"$$.$name")

  /** GetPreviousColumnValue(name) (changeset.go:66-74). */
  def oldValue(name: String): Column = get_json_object(col("old_values"), s"$$.$name")

  // ---- fused payload domain -------------------------------------------
  // k stacked payload stages used to cost k parse→serialize JSON
  // round-trips per row (round-1 verdict). Open the domain once (ONE
  // from_json), run every payload stage against the parsed
  // map<string,variant>, close it once (ONE to_json). Stages detect the
  // open domain and operate on the map; outside the domain they keep the
  // standalone parse/serialize behavior, so each stage stays correct in
  // isolation (pipeline_test.go:15-40 contract).

  private def payloadOpen(df: DataFrame): Boolean = df.columns.contains(PayloadCol)

  // Keys already rewritten/removed by a stage in the open domain, carried
  // as metadata on the payload column. A predicate over an UNtouched key
  // can read the original JSON string with a cheap single-key
  // get_json_object instead of referencing the map — which matters
  // because Catalyst pushes filter predicates through the projection by
  // inlining the alias: a map-column predicate would duplicate the full
  // from_json into the Filter for every input row.
  private val TouchedKey = "graft.payload.touched"

  private def touched(df: DataFrame): Set[String] =
    df.schema.find(_.name == PayloadCol) match {
      case Some(f) if f.metadata.contains(TouchedKey) =>
        f.metadata.getStringArray(TouchedKey).toSet
      case _ => Set.empty
    }

  private def setPayload(df: DataFrame, c: Column, touchedNames: Set[String]): DataFrame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putStringArray(TouchedKey, touchedNames.toArray.sorted).build()
    df.withColumn(PayloadCol, c.as(PayloadCol, md))
  }

  /** Enter the payload domain: parse new_values ONCE into a map column. */
  def openPayload: Pipeline.Stage = df =>
    if (payloadOpen(df)) df else setPayload(df, payloadMap, Set.empty)

  /** Leave the payload domain: serialize the map back ONCE.
   *  to_json(null map) is null, matching the standalone stages'
   *  null-payload passthrough. */
  def closePayload: Pipeline.Stage = df =>
    if (!payloadOpen(df)) df
    else df.withColumn("new_values", to_json(col(PayloadCol))).drop(PayloadCol)

  /** Payload value accessor that is fusion-aware at stage-apply time:
   *  untouched keys read the original string (cheap, pushdown-friendly);
   *  touched keys must read the transformed map (its variant cast to the
   *  value as a string, as `get_json_object` gives it). */
  private def valueOf(df: DataFrame, name: String): Column =
    if (payloadOpen(df) && touched(df).contains(name))
      element_at(col(PayloadCol), name).cast(StringType)
    else newValue(name)

  /**
   * T6 — projection: remove a column from the payload (the reference's
   * `remove_pii` stage, pipeline_test.go:15-26). Done with `map_filter`, a
   * built-in higher-order function. Inside an open payload domain this is
   * a pure map op — no JSON round-trip.
   */
  def removeColumn(name: String): Pipeline.Stage = df =>
    if (payloadOpen(df))
      setPayload(df, map_filter(col(PayloadCol), (k, _) => k =!= name),
        touched(df) + name)
    else
      df.withColumn("new_values",
        when(col("new_values").isNotNull,
          to_json(map_filter(payloadMap, (k, _) => k =!= name))))

  /**
   * T7 — value map: rewrite a top-level changeset field (the reference's
   * `uppercase_tablename` stage, pipeline_test.go:28-31).
   */
  def mapColumn(name: String, f: Column => Column): Pipeline.Stage =
    df => df.withColumn(name, f(col(name)))

  /**
   * T8 — drop by payload predicate (the reference's `filter_is_test` stage,
   * pipeline_test.go:33-40: drop events whose payload column is TRUE).
   * Null-safe: events without the column pass through.
   */
  def dropWhere(pred: Column): Pipeline.Stage =
    df => df.filter(!coalesce(pred, lit(false)))

  /**
   * T8, fusion-aware form: the predicate is built from the payload value
   * column at stage-apply time — `element_at` on the parsed map inside an
   * open payload domain (no re-parse), `get_json_object` outside it.
   * Identical semantics: both yield the value as a string, null when the
   * key is absent or JSON-null.
   */
  def dropWhereValue(name: String)(pred: Column => Column): Pipeline.Stage =
    df => df.filter(!coalesce(pred(valueOf(df, name)), lit(false)))

  /** T7 over a payload value: rewrite one key's value in place. Map op
   *  inside an open payload domain; standalone parse→serialize otherwise.
   *  `f` sees the value as a string and its result keeps its own type
   *  (a string stays a JSON string, a number becomes a JSON number);
   *  every other key keeps its JSON type. */
  def mapValue(name: String, f: Column => Column): Pipeline.Stage = { df =>
    def rewrite(m: Column): Column =
      transform_values(m, (k, v) =>
        when(k === name, f(v.cast(StringType)).cast(VariantType))
          .otherwise(v))
    if (payloadOpen(df))
      setPayload(df, rewrite(col(PayloadCol)), touched(df) + name)
    else
      df.withColumn("new_values",
        when(col("new_values").isNotNull, to_json(rewrite(payloadMap))))
  }

  /** T10 — kind normalization (changeset.go:21-33): case-insensitive
   *  INSERT/UPDATE/DELETE, unknown → ''. */
  def normalizeKind: Pipeline.Stage = df =>
    df.withColumn("action",
      when(upper(col("action")).isin("INSERT", "UPDATE", "DELETE"),
        upper(col("action"))).otherwise(lit("")))
}

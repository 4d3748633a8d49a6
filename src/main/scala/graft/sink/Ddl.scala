package graft.sink

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import graft.model.{DBool, DDbl, DInt, DNull, DStr, DVal, TaskSpec}

/** Sink-side DDL (L3, reference src/indices.ts:19-57): the reference
  * creates the ES index (with an optional blue/green `indexNameSuffix`)
  * and pins the output schema with a `dynamic:false` mapping before any
  * data flows. Spark equivalent: derive the closed output StructType
  * from the task spec and `CREATE TABLE IF NOT EXISTS` in the catalog —
  * the fixed-schema contract ("dynamic in, fixed out", SURVEY.md §1.2).
  */
object Ddl {

  /** ES-mapping-style field type names -> Spark types (the subset the
    * reference's example mappings use: text/keyword/long/double/boolean/
    * date, examples/config.json:62-79). */
  def esTypeToSpark(t: String): DataType = t match {
    case "text" | "keyword" => StringType
    case "long" | "integer" => LongType
    case "double" | "float" => DoubleType
    case "boolean"          => BooleanType
    case "date"             => TimestampType
    case other              => throw new IllegalArgumentException(s"unsupported sink type: $other")
  }

  /** Infer the output StructType from the task's static seed values and
    * declared field types; mapping destinations without a declared type
    * default to StringType (stringified passthrough). */
  def outputSchema(task: TaskSpec, fieldTypes: Map[String, String] = Map.empty): StructType = {
    def typeOfStatic(v: DVal): DataType = v match {
      case _: DStr  => StringType
      case _: DInt  => LongType
      case _: DDbl  => DoubleType
      case _: DBool => BooleanType
      case DNull    => StringType
      case _        => StringType
    }
    val staticFields = task.static.fields.map { case (k, v) =>
      StructField(k, fieldTypes.get(k).map(esTypeToSpark).getOrElse(typeOfStatic(v)))
    }
    val mappedFields = task.mapping.map { case (_, dst) =>
      StructField(dst, fieldTypes.get(dst).map(esTypeToSpark).getOrElse(StringType))
    }.filterNot(f => task.static.contains(f.name))
    StructType(StructField("_id", StringType, nullable = false) +: (staticFields ++ mappedFields))
  }

  /** CREATE TABLE IF NOT EXISTS with the fixed output schema; `suffix`
    * is the blue/green versioning analog of `indexNameSuffix`
    * (reference src/config.ts:121-132). Returns the full table name. */
  def createSinkTable(
      spark: SparkSession,
      name: String,
      task: TaskSpec,
      fieldTypes: Map[String, String] = Map.empty,
      suffix: String = "",
      location: Option[String] = None,
  ): String = {
    val table = if (suffix.isEmpty) name else s"${name}_$suffix"
    val schema = outputSchema(task, fieldTypes)
    val ddlCols = schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$table` ($ddlCols) USING PARQUET$loc")
    table
  }

  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** Outcome of [[migrateSinkTable]]. */
  sealed trait Migration
  /** The new mapping produces the table's exact schema — nothing to do. */
  case object Unchanged extends Migration
  /** The new mapping only ADDED destination fields; the table was
    * widened in place and pre-existing rows read NULL for the new
    * columns. */
  final case class Widened(added: Seq[String]) extends Migration

  /** Schema evolution for a restart whose `transform.mapping` changed
    * (reference analog: put-mapping on an existing index,
    * src/indices.ts:43-49 — ES accepts ADDITIVE mapping changes and
    * rejects everything else, which is exactly the contract here):
    *
    *  - **widen-with-null** (additive change): new destination fields
    *    are appended with `ALTER TABLE ADD COLUMNS`; existing rows and
    *    the stored state docs are untouched — old docs simply lack the
    *    field, so reads (and [[publishState]]'s `from_json`) yield NULL
    *    until a later event sets it, the same sparse-doc semantics ES
    *    gives a freshly put field.
    *  - **drop-and-backfill** (destructive change — a dropped or
    *    re-typed destination): the stored docs and table rows pin the
    *    old shape, so in-place migration would silently serve stale
    *    columns. This throws, directing the operator to a new
    *    `indexNameSuffix` — the blue/green reindex the reference uses
    *    for the same situation (new suffix → new table + fresh scan;
    *    the old table stays queryable until cut-over).
    *
    * No-op ([[Unchanged]]) when the mapping already matches. */
  def migrateSinkTable(
      spark: SparkSession,
      table: String,
      task: TaskSpec,
      fieldTypes: Map[String, String] = Map.empty,
  ): Migration = {
    val want = outputSchema(task, fieldTypes)
    val have = spark.table(table).schema
    val haveTypes = have.fields.map(f => f.name -> f.dataType).toMap
    val wantNames = want.fieldNames.toSet
    val dropped = have.fieldNames.filterNot(wantNames.contains)
    val retyped = want.fields.filter(f => haveTypes.get(f.name).exists(_ != f.dataType))
    if (dropped.nonEmpty || retyped.nonEmpty)
      throw new IllegalStateException(
        s"incompatible mapping change for sink table `$table`: " +
          (if (dropped.nonEmpty) s"dropped fields [${dropped.mkString(", ")}] " else "") +
          (if (retyped.nonEmpty) s"re-typed fields [${retyped.map(_.name).mkString(", ")}] " else "") +
          "— existing rows/state docs pin the old shape. Deploy under a new " +
          "indexNameSuffix (blue/green reindex: new table + fresh scan) instead.")
    val added = want.fields.filterNot(f => haveTypes.contains(f.name))
    if (added.isEmpty) Unchanged
    else {
      val cols = added.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE `$table` ADD COLUMNS ($cols)")
      Widened(added.map(_.name).toIndexedSeq)
    }
  }

  /** Field types out of an ES put-mapping body (reference
    * examples/config.json:62-79): either `{properties: {f: {type}}}` or
    * the 6.x-era `{<type>: {properties: ...}}` nesting. */
  def fieldTypesFromMapping(body: DVal): Map[String, String] = {
    def props(o: graft.model.DObj): Map[String, String] =
      o.get("properties") match {
        case Some(p: graft.model.DObj) =>
          p.fields.collect {
            case (f, fo: graft.model.DObj) =>
              fo.get("type").collect { case DStr(t) => f -> t }
          }.flatten.toMap
        case _ => Map.empty
      }
    body match {
      case o: graft.model.DObj if o.contains("properties") => props(o)
      case o: graft.model.DObj =>
        o.fields.collectFirst { case (_, n: graft.model.DObj) if n.contains("properties") => props(n) }
          .getOrElse(Map.empty)
      case _ => Map.empty
    }
  }

  /** The reference's `Indices.init` (src/index.ts:11, src/indices.ts):
    * create every task's sink table with its mapping-declared field
    * types and the blue/green suffix, before any data flows.
    *
    * IF NOT EXISTS semantics, like the reference's index check: an
    * existing table (including its registered LOCATION) keeps its
    * storage, then passes through [[migrateSinkTable]] so a RESTART
    * whose mapping gained fields widens the table in place (put-mapping
    * semantics) and a destructive mapping change fails fast with the
    * blue/green guidance instead of silently serving the old shape.
    * Redeploying to a different baseDir still requires a new
    * `indexNameSuffix` (new suffix → new table, old one stays
    * queryable). */
  def initFromConfig(
      spark: SparkSession,
      config: graft.model.EngineConfig,
      locationBase: Option[String] = None,
  ): Seq[String] =
    config.tasks.map { td =>
      val fieldTypes = td.load.mappingBody.map(fieldTypesFromMapping).getOrElse(Map.empty)
      val table = createSinkTable(spark, td.load.index, td.transform, fieldTypes,
        suffix = config.controls.indexNameSuffix.stripPrefix("_"),
        location = locationBase.map(b => s"$b/${td.load.index}${config.controls.indexNameSuffix}"))
      migrateSinkTable(spark, table, td.transform, fieldTypes)
      table
    }

  /** Materialize the engine-owned state into the typed sink table —
    * what makes `spark.table("users")` answer the queries a mongo-es
    * user asks ES today. State docs are already sink-shaped JSON, so
    * publishing is one `from_json` against the DDL schema (fields the
    * mapping never produced stay NULL, exactly like a sparse ES doc)
    * and an overwrite into the table's location. Returns rows
    * published.
    *
    * Publication is an on-demand snapshot by design: rewriting the
    * table every 5 s trigger would re-create the O(state)-per-batch
    * cost the bucketed store exists to avoid. Serving layers that need
    * per-trigger freshness read the state store itself
    * ([[graft.cdc.StateStore.read]]); a
    * Delta/Iceberg-backed table would instead MERGE the per-batch
    * deltas. */
  def publishState(
      spark: SparkSession,
      table: String,
      stateDir: String,
  ): Long = {
    import org.apache.spark.sql.functions.{col, from_json}
    // Parse against the TABLE's catalog schema, not the task-derived
    // one: after a widening migration the added columns sit at the end
    // of the catalog order (ALTER ADD COLUMNS) while outputSchema puts
    // them in mapping order, and insertInto matches by POSITION. Fields
    // a widened mapping added stay NULL for docs written before the
    // change — sparse-doc semantics. The task/fieldTypes-derived schema
    // remains the creation-time source of truth (createSinkTable).
    val schema = spark.table(table).schema
    val typed = graft.cdc.StateStore.read(spark, stateDir)
      .select(from_json(col("doc"), schema).as("d"))
      .select(col("d.*"))
    typed.write.mode("overwrite").insertInto(table)
    spark.table(table).count()
  }

  /** [[publishState]] for every task of a config (the dir layout
    * `Runner.fromConfig` uses). Returns table -> rows. */
  def publishFromConfig(
      spark: SparkSession,
      config: graft.model.EngineConfig,
      baseDir: String,
  ): Map[String, Long] =
    config.tasks.map { td =>
      val table = td.load.index +
        (if (config.controls.indexNameSuffix.isEmpty) "" else s"_${config.controls.indexNameSuffix.stripPrefix("_")}")
      val dirName = td.name + config.controls.indexNameSuffix
      table -> publishState(spark, table, s"$baseDir/$dirName/state")
    }.toMap
}

package graft.delta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, transform, transform_keys, transform_values, when}
import org.apache.spark.sql.types._

/** Delta column mapping (reader v2 / `columnMapping` feature) resolution,
  * shared by the batch reader ([[DeltaWriter]]) and the streaming source
  * ([[graft.sources.DeltaSource]]). `mode=name` tables store data under
  * physical `col-<uuid>` names, with the logical name only in the
  * schemaString's per-field metadata — resolution matches files by
  * PHYSICAL NAME. `mode=id` tables (typically Iceberg-converted) match
  * by PARQUET FIELD ID instead (`byFieldId` on [[readMapped]], driven by
  * [[isIdMode]]): their files may carry arbitrary column names — often
  * the pre-conversion originals — and only the field ids line up, so
  * name-based matching would silently null every column. Reading such
  * files without resolving the mapping surfaces physical names — wrong
  * columns — so every scan path must come through here.
  *
  * Nested mapping resolves recursively: struct fields (at any depth,
  * including through arrays and maps) rebuild with relabeled names in
  * both directions. Partitioned mapped tables read with `basePath` so the
  * physical-named `col-<uuid>=value` dirs re-materialize, then project to
  * logical names like any other column.
  */
object ColumnMapping {

  val PhysicalNameKey = "delta.columnMapping.physicalName"
  val FieldIdKey = "delta.columnMapping.id"

  /** `columnMapping.mode=id` from a table's configuration JSON: id-mode
    * files (typically Iceberg-converted tables) are resolved by PARQUET
    * FIELD ID, not by physical name — their data files may carry
    * arbitrary column names. */
  def isIdMode(configurationJson: Option[String]): Boolean =
    configurationJson.exists { c =>
      graft.util.Jsons.optStr(graft.util.Jsons.parse(c),
        "delta.columnMapping.mode").contains("id")
    }

  def isMapped(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysicalNameKey)) ||
      hasNestedMapping(schema)

  private def physName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey) else f.name

  /** Any field whose TYPE contains a mapped nested field. */
  def hasNestedMapping(schema: StructType): Boolean =
    schema.fields.exists(f => nestedMapped(f.dataType))

  /** logical name -> physical name for every top-level field (identity
    * for unmapped fields) — the translation stats skipping and partition
    * pruning need, since file stats and `partitionValues` key on the
    * PHYSICAL names. */
  def physicalNames(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physName(f)).toMap

  /** Rename `df` (aligned to the LOGICAL `schema`, same order) to the
    * physical column names for a data-file write: delta-spark's
    * columnMapping.mode=name write shape — the parquet files carry
    * `col-<uuid>` names (nested fields included) and only the metaData
    * schema knows the logical ones. Top-level columns also carry their
    * `parquet.field.id` (Spark's `fieldId.write` emits them into the
    * footer), so files appended to a `mode=id` table resolve by field id
    * like the table's foreign originals; a nested field's id does not
    * survive the struct rebuild — an id-mode reader then refuses that
    * nested field LOUDLY rather than matching it wrong. */
  def toPhysical(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      val c = relabel(col(s"`${f.name}`"), f.dataType, toLogical = false)
      if (f.metadata.contains(FieldIdKey))
        c.as(physName(f), new MetadataBuilder()
          .putLong("parquet.field.id", f.metadata.getLong(FieldIdKey)).build())
      else c.as(physName(f))
    }: _*)

  private def nestedMapped(dt: DataType): Boolean = dt match {
    case st: StructType => st.fields.exists(f =>
      f.metadata.contains(PhysicalNameKey) || nestedMapped(f.dataType))
    case ArrayType(et, _) => nestedMapped(et)
    case MapType(k, v, _) => nestedMapped(k) || nestedMapped(v)
    case _ => false
  }

  /** The physical twin of a logical type: nested struct fields renamed to
    * their physical names, mapping metadata stripped. */
  def physicalType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(physName(f), physicalType(f.dataType), f.nullable)))
    case ArrayType(et, n) => ArrayType(physicalType(et), n)
    case MapType(k, v, n) => MapType(physicalType(k), physicalType(v), n)
    case other => other
  }

  /** Logical names with metadata stripped — the cast target for the
    * null branch of a struct rebuild. */
  private def plainType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(f.name, plainType(f.dataType), f.nullable)))
    case ArrayType(et, n) => ArrayType(plainType(et), n)
    case MapType(k, v, n) => MapType(plainType(k), plainType(v), n)
    case other => other
  }

  /** Rebuild `c` with the other name domain at every nesting level.
    * Structs reconstruct field-by-field (guarded so a NULL struct stays
    * NULL instead of becoming a struct of NULLs); arrays and maps relabel
    * their element/key/value types in place. Identity when the subtree
    * carries no mapping. */
  private def relabel(c: Column, dt: DataType, toLogical: Boolean): Column =
    dt match {
      case st: StructType if nestedMapped(st) =>
        val target = if (toLogical) plainType(st) else physicalType(st)
        val rebuilt = struct(st.fields.toSeq.map { f =>
          val from = if (toLogical) physName(f) else f.name
          val to = if (toLogical) f.name else physName(f)
          relabel(c.getField(from), f.dataType, toLogical).as(to)
        }: _*)
        when(c.isNull, lit(null).cast(target)).otherwise(rebuilt)
      case ArrayType(et, _) if nestedMapped(et) =>
        transform(c, x => relabel(x, et, toLogical))
      case MapType(k, v, _) if nestedMapped(k) || nestedMapped(v) =>
        val keyed =
          if (nestedMapped(k)) transform_keys(c, (key, _) => relabel(key, k, toLogical))
          else c
        if (nestedMapped(v))
          transform_values(keyed, (_, value) => relabel(value, v, toLogical))
        else keyed
      case _ => c
    }

  /** Scan `files` with the physical schema and project back to logical
    * names (nested fields included). `basePath` must be the table root
    * when any file lives under a hive `col-<uuid>=value` partition dir,
    * so the physical-named partition columns re-materialize before the
    * logical projection. `passthrough` columns live OUTSIDE the mapping
    * (protocol metadata columns like cdc files' `_change_type` are stored
    * under their literal names) and project through unrenamed. */
  /** The physical twin carrying `parquet.field.id` metadata at every
    * level — the request-schema shape that makes Spark's parquet reader
    * match columns BY FIELD ID (`spark.sql.parquet.fieldId.read.enabled`)
    * instead of by name: how delta-spark reads `mode=id` tables, whose
    * files may carry arbitrary column names (Iceberg-converted tables
    * keep their original names; only the ids line up). Refuses a field
    * without an id — matching it by a physical name the file doesn't
    * have would return silent nulls. */
  private def physFieldWithId(f: StructField): StructField = {
    if (!f.metadata.contains(FieldIdKey))
      throw new graft.core.PlanningError(
        s"columnMapping.mode=id table has field '${f.name}' without a " +
        s"$FieldIdKey — refusing to read (name-based matching against an " +
        "id-mode file's arbitrary column names would return wrong columns)")
    StructField(physName(f), physicalTypeWithIds(f.dataType), f.nullable,
      new MetadataBuilder()
        .putLong("parquet.field.id", f.metadata.getLong(FieldIdKey)).build())
  }

  private def physicalTypeWithIds(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(physFieldWithId))
    case ArrayType(et, n) => ArrayType(physicalTypeWithIds(et), n)
    case MapType(k, v, n) => MapType(physicalTypeWithIds(k), physicalTypeWithIds(v), n)
    case other => other
  }

  def readMapped(spark: SparkSession, files: Seq[String], declared: StructType,
      basePath: Option[String],
      passthrough: Seq[StructField] = Nil,
      keepMeta: Boolean = false,
      byFieldId: Boolean = false): DataFrame = {
    val physSchema =
      if (byFieldId) {
        // ONE-WAY LATCH, and a documented one: GraftSession sessions
        // already run with fieldId.read.enabled=true as a session
        // default; this set only fires for FOREIGN sessions that didn't
        // come through GraftSession. Spark ignores the key as a per-read
        // DataFrameReader option (FieldIdProbeSuite pins the probe), so
        // session scope is the only scope there is. Safe session-wide:
        // only request schemas carrying parquet.field.id metadata
        // resolve by id — name-mode reads are untouched (suite-pinned).
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        StructType(declared.fields.map(physFieldWithId) ++ passthrough)
      } else StructType(declared.fields.map(f =>
        StructField(physName(f), physicalType(f.dataType), f.nullable)) ++
        passthrough)
    val reader = basePath.foldLeft(spark.read)((r, b) => r.option("basePath", b))
    reader.schema(physSchema).parquet(files: _*)
      .select(declared.fields.toSeq.map(f =>
        relabel(col(s"`${physName(f)}`"), f.dataType, toLogical = true)
          .as(f.name)) ++
        passthrough.map(f => col(s"`${f.name}`")) ++
        // deletion-vector filtering needs each row's provenance; the
        // hidden scan column survives the projection only if selected
        (if (keepMeta) Seq(col("_metadata")) else Nil): _*)
  }

  /** Read `files` of the Delta table at `tablePath` under the log's
    * declared schema plus `passthrough` columns — the one table-file read
    * of the batch reader ([[DeltaWriter]]) and the streaming source
    * ([[graft.sources.DeltaSource]]). Mapped tables resolve physical names
    * ([[readMapped]]; `keepMeta` keeps `_metadata` through its projection,
    * where raw reads keep it as a hidden scan column anyway). Other tables
    * read with the declared schema, never a footer-inferred one: Spark
    * then launches no schema-inference job, and files written before a
    * `mergeSchema` append null-fill the newer columns, where inference
    * reads one file's footer and may drop them. Paths with a `col=value`
    * dir segment read with `basePath`, so hive partition columns
    * re-materialize, typed by the declared schema. A table with no
    * metaData action yet infers from the footers. */
  def readFiles(spark: SparkSession, log: DeltaLogReader, tablePath: String,
      files: Seq[String], passthrough: Seq[StructField] = Nil,
      keepMeta: Boolean = false): DataFrame = {
    val snap = log.latestSnapshot(tablePath)
    val declared = snap.flatMap(_.schema)
    val basePath =
      if (files.exists(_.split('/').dropRight(1).exists(_.contains('=')))) Some(tablePath)
      else None
    declared match {
      case Some(s) if isMapped(s) =>
        readMapped(spark, files, s, basePath, passthrough, keepMeta,
          byFieldId = isIdMode(snap.flatMap(_.configurationJson)))
      case _ =>
        val reader = basePath.foldLeft(spark.read)((r, b) => r.option("basePath", b))
        declared.map(s => StructType(s.fields ++ passthrough))
          .foldLeft(reader)((r, s) => r.schema(s)).parquet(files: _*)
    }
  }

  /** Change-file (cdc) rows for a mapped table: the table's columns
    * relabel to physical names; protocol metadata columns in `keep`
    * (`_change_type`) stay verbatim; anything else is dropped — a cdc
    * file must contain exactly the table columns plus the change type,
    * or foreign readers misparse it. */
  def cdcToPhysical(df: DataFrame, schema: StructType,
      keep: Seq[String]): DataFrame =
    df.select(schema.fields.toSeq.filter(f => df.columns.contains(f.name))
      .map { f =>
        val c = relabel(col(s"`${f.name}`"), f.dataType, toLogical = false)
        // same id carry as toPhysical: cdc files on a mode=id table must
        // resolve by field id like the data files they describe
        if (f.metadata.contains(FieldIdKey))
          c.as(physName(f), new MetadataBuilder()
            .putLong("parquet.field.id", f.metadata.getLong(FieldIdKey)).build())
        else c.as(physName(f))
      } ++
      keep.filter(df.columns.contains).map(c => col(s"`$c`")): _*)
}

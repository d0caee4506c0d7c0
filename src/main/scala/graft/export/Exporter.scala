package graft.export

import graft.operators.Explode
import graft.schema.CatalogReader
import graft.singer.SingerWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Multi-format sink router (reference to_export, etl_utils.py:561-832):
  * singer | parquet | csv | json | jsonl, with env-templated output naming.
  *
  * Formats other than singer go through Spark's native writers (parquet
  * zstd, matching the reference's compression choice — etl_utils.py:189).
  * An unknown format raises (the reference's Polars path behavior; its
  * pandas path silently fell through to CSV — we take the strict variant,
  * divergence noted in SURVEY §7.5).
  */
object Exporter {

  /** `HG_UNIFIED_OUTPUT_<NAME>` env override + `{key}` templating on the
    * prefix (reference etl_utils.py:528-558, 596-607). */
  def outputName(
      stream: String,
      prefix: String = "",
      vars: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): String = {
    val overridden = env.getOrElse(s"HG_UNIFIED_OUTPUT_${stream.toUpperCase}", stream)
    val templated = vars.foldLeft(prefix) { case (acc, (k, v)) =>
      acc.replace(s"{$k}", v)
    }
    // unresolved {placeholders} render empty (format_str_safely skip-empty)
    val cleaned = templated.replaceAll("\\{[^}]*\\}", "")
    s"$cleaned$overridden"
  }

  /** Singer export with the reference's four-source schema resolution
    * (to_singer, singer.py:494-516), in reference-code order:
    *   1. catalog — when `USE_CATALOG_SCHEMA=true` in `env` or
    *      `catalogStream` is set: forces allow_objects, parses object/array
    *      string columns per the catalog (parse_df_cols), and uses the
    *      catalog stream's schema. Under the env flag the catalog
    *      properties MERGE over the inferred header (extra df columns
    *      survive, singer.py:181-185) and records keep explicit nulls.
    *   2. unified model — `unifiedModel` StructType (the case-class /
    *      pydantic path; build with `SingerSchema.fromCaseClass` or
    *      `toStructType`). Overrides an explicit `schema` like the
    *      reference's `elif unified_model`.
    *   3. explicit `schema`.
    *   4. inference from the frame's Spark types.
    * `allowObjects=false` (the reference default) JSON-stringifies complex
    * columns; all-null columns are dropped in allow-objects mode unless
    * nulls are being kept (singer.py:496-499). */
  def toSinger(
      df: DataFrame,
      stream: String,
      outputDir: String,
      keys: Seq[String] = Nil,
      filename: String = "data.singer",
      allowObjects: Boolean = false,
      schema: Option[StructType] = None,
      unifiedModel: Option[StructType] = None,
      keepNullFields: Boolean = false,
      trimNestedNulls: Boolean = false,
      catalogStream: Option[String] = None,
      catalog: Map[String, CatalogReader.StreamCatalog] = Map.empty,
      recursiveTyping: Boolean = true,
      env: Map[String, String] = sys.env): Unit =
    singer(df, stream, s"$outputDir/$filename", singleFile = true, keys, allowObjects, schema,
      unifiedModel, keepNullFields, trimNestedNulls, catalogStream, catalog, recursiveTyping, env)

  /** The one Singer path behind [[toSinger]] and [[export]]: resolves the
    * frame, header schema and null mode, then writes one file at `target`
    * or, unless `singleFile`, a distributed export into the dir `target`.
    *
    * The null mode mirrors to_singer (singer.py:520-537): keep_nulls wins;
    * else trim_nested_nulls does a deep drop; else the reference DEFAULT
    * drops top-level null scalars only. */
  private def singer(
      df: DataFrame,
      stream: String,
      target: String,
      singleFile: Boolean,
      keys: Seq[String],
      allowObjects: Boolean,
      schema: Option[StructType],
      unifiedModel: Option[StructType],
      keepNullFields: Boolean,
      trimNestedNulls: Boolean,
      catalogStream: Option[String],
      catalog: Map[String, CatalogReader.StreamCatalog],
      recursiveTyping: Boolean,
      env: Map[String, String]): Unit = {
    val useCatalogSchema = env.get("USE_CATALOG_SCHEMA").exists(_.equalsIgnoreCase("true"))
    // INCLUDE_ALL_UNIFIED_FIELDS only applies when a unified model is in
    // play (singer.py:495): keeps all-null columns and explicit nulls
    val includeAllUnified =
      env.get("INCLUDE_ALL_UNIFIED_FIELDS").exists(_.equalsIgnoreCase("true")) &&
        unifiedModel.isDefined
    val keepNulls = useCatalogSchema || includeAllUnified || keepNullFields
    val nullMode =
      if (keepNulls) SingerWriter.NullMode.KeepAll
      else if (trimNestedNulls) SingerWriter.NullMode.DropAll
      else SingerWriter.NullMode.DropTopLevel
    val frame0 = if (allowObjects && !keepNulls) SingerWriter.dropAllNullColumns(df) else df
    val (frame, schemaOverride, mergeWith, allowObj) =
      if (useCatalogSchema || catalogStream.isDefined) {
        val streamName = catalogStream.getOrElse(stream)
        val cat = catalog.getOrElse(streamName, throw new IllegalArgumentException(
          s"No schema found in catalog for stream $streamName"))
        val parsed = Explode.parseDfCols(frame0, cat)
        if (useCatalogSchema) (parsed, None, Some(cat.schema), true)
        else (parsed, Some(cat.schema), None, true)
      }
      else if (unifiedModel.isDefined) (frame0, unifiedModel, None, allowObjects)
      else (frame0, schema, None, allowObjects)
    if (singleFile)
      SingerWriter.write(frame, stream, target, keys, schemaOverride = schemaOverride,
        allowObjects = allowObj, mergeSchemaWith = mergeWith,
        recursiveTyping = recursiveTyping, nullMode = nullMode)
    else
      SingerWriter.writeDistributed(frame, stream, target, keys, schemaOverride, allowObj,
        mergeWith, recursiveTyping, nullMode)
  }

  /** NOTE on singer defaults: `allowObjects` defaults to true here (nested
    * values stay real JSON — graft's historical behavior), and per the
    * reference's allow-objects semantics that also DROPS all-null columns
    * (one extra pass over the full dataset, on the distributed
    * path too) unless nulls are kept. At large scale pass
    * `keepNullFields=true` to skip that pass and retain all-null columns,
    * or `allowObjects=false` for the reference's stringify default. */
  def export(
      df: DataFrame,
      stream: String,
      outputDir: String,
      format: String = "singer",
      keyProperties: Seq[String] = Nil,
      prefix: String = "",
      templateVars: Map[String, String] = Map.empty,
      singleFile: Boolean = true,
      allowObjects: Boolean = true,
      keepNullFields: Boolean = false,
      trimNestedNulls: Boolean = false,
      catalogStream: Option[String] = None,
      catalog: Map[String, CatalogReader.StreamCatalog] = Map.empty,
      schema: Option[StructType] = None,
      unifiedModel: Option[StructType] = None,
      env: Map[String, String] = sys.env): Unit = {
    val name = outputName(stream, prefix, templateVars, env)
    val base = s"$outputDir/$name"
    format.toLowerCase match {
      case "singer" =>
        singer(df, name, if (singleFile) s"$base.singer" else base, singleFile, keyProperties,
          allowObjects, schema, unifiedModel, keepNullFields, trimNestedNulls, catalogStream,
          catalog, recursiveTyping = true, env)
      case "parquet" =>
        df.write.mode("overwrite").option("compression", "zstd").parquet(base)
      case "csv" =>
        df.write.mode("overwrite").option("header", "true").csv(base)
      case "json" | "jsonl" =>
        df.write.mode("overwrite").json(base)
      case other =>
        throw new IllegalArgumentException(s"Unsupported export format: $other")
    }
  }

  /** Persist error text to `errors.txt` then rethrow
    * (reference exception(), etl_utils.py:834-853). */
  def exception(e: Throwable, rootDir: String, message: Option[String] = None): Nothing = {
    val msg = message.getOrElse(Option(e.getMessage).getOrElse(e.toString))
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(rootDir, "errors.txt"),
        msg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Exception => () }
    throw e
  }
}

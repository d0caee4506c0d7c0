package graft

import graft.operators._
import graft.schema.CatalogReader
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing facade: the reference's one-import ergonomics
  * (`from gluestick import ...`) as `import graft.api._` — folder readers
  * returning named streams, plus operator syntax on DataFrame. */
object api {

  /** Folder of `Entity-<ts>.csv` files → stream-named DataFrames
    * (reference read_csv_folder, etl_utils.py:23-93). `converters` maps
    * stream → column → Column transform, applied post-read — the analogue
    * of the reference's per-entity `read_csv` converters (its canonical
    * use, `ast.literal_eval` on stringified objects, is `parsePyObjects`). */
  def readCsvFolder(
      spark: SparkSession,
      path: String,
      converters: Map[String, Map[String, Column => Column]] = Map.empty,
      ignore: Seq[String] = Nil): Map[String, DataFrame] = {
    val reader = new graft.sources.GsReader(spark, path)
    reader.inputFiles(ignore).collect {
      case (stream, file) if file.endsWith(".csv") =>
        val df = reader.get(stream).get
        val converted = converters.getOrElse(stream, Map.empty).foldLeft(df) {
          case (d, (c, f)) if d.columns.contains(c) =>
            d.withColumn(c, f(org.apache.spark.sql.functions.col(s"`$c`")))
          case (d, _) => d
        }
        stream -> converted
    }
  }

  /** The `ast.literal_eval` converter: normalize a stringified python
    * object column to strict JSON (ready for the explode operators). */
  val parsePyObjects: Column => Column = graft.functions.PyLiteral.parse_py_literal

  /** Same for parquet (reference read_parquet_folder, etl_utils.py:96-149). */
  def readParquetFolder(spark: SparkSession, path: String, ignore: Seq[String] = Nil): Map[String, DataFrame] = {
    val reader = new graft.sources.GsReader(spark, path)
    reader.inputFiles(ignore).collect {
      case (stream, file) if file.endsWith(".parquet") => stream -> reader.get(stream).get
    }
  }

  implicit class GsDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ── nested-data operators ──────────────────────────────────────────
    def explodeJsonToRows(column: String, drop: Boolean = true,
        catalog: Option[CatalogReader.StreamCatalog] = None,
        samplingRatio: Double = 1.0): DataFrame =
      Explode.explodeJsonToRows(df, column, drop, catalog, samplingRatio)

    def explodeJsonToCols(column: String, drop: Boolean = true,
        expectedKeys: Seq[String] = Nil, samplingRatio: Double = 1.0): DataFrame =
      Explode.explodeJsonToCols(df, column, drop, expectedKeys, samplingRatio)

    def jsonTupleToCols(column: String, keyProp: String = "Name",
        valueProp: String = "Value"): DataFrame =
      Explode.jsonTupleToCols(df, column, keyProp, valueProp)

    def compressRowsToCol(columnPrefix: String, pk: Seq[String]): DataFrame =
      Explode.compressRowsToCol(df, columnPrefix, pk)

    // ── projection / mapping ───────────────────────────────────────────
    def renameTo(mapping: Map[String, String]): DataFrame = Ops.rename(df, mapping)
    def selectColumns(cols: Seq[String]): DataFrame = Ops.rename(df, cols)

    def mapFields(mappingJson: String,
        otherData: Map[String, DataFrame] = Map.empty): DataFrame =
      Mapping.mapFields(df, mappingJson, otherData)

    def mapFieldsDf(mappingJson: String,
        otherData: Map[String, DataFrame] = Map.empty): DataFrame =
      Mapping.mapFieldsDf(df, mappingJson, otherData)

    // ── incremental state ──────────────────────────────────────────────
    def snapshotRecords(store: SnapshotStore, name: String, pk: Seq[String],
        justNew: Boolean = false, overwrite: Boolean = false): DataFrame =
      Snapshot.snapshotRecords(store, name, df, pk, justNew, overwrite)

    def dropRedundant(store: SnapshotStore, name: String, pk: Seq[String],
        updatedFlag: Boolean = false): DataFrame =
      Snapshot.dropRedundant(store, name, df, pk, updatedFlag)

    def rowHashColumn(cols: Seq[String]): Column = Snapshot.rowHash(df, cols)

    // ── sinks ──────────────────────────────────────────────────────────
    // reference-default nulls (drop top-level null scalars, keep nested)
    // so the facade serializes identically to Exporter.toSinger
    def toSinger(stream: String, path: String, keyProperties: Seq[String] = Nil): Unit =
      graft.singer.SingerWriter.write(df, stream, path, keyProperties,
        nullMode = graft.singer.SingerWriter.NullMode.DropTopLevel)

    def toExport(stream: String, outputDir: String, format: String = "singer",
        keyProperties: Seq[String] = Nil): Unit =
      graft.export.Exporter.export(df, stream, outputDir, format, keyProperties)

    // ── scale operators ────────────────────────────────────────────────
    /** `assumeUniqueOrder = true` (caller guarantees a row-unique order
      * column, e.g. a doc id) skips the tie-collapse shuffle and keeps
      * the key-only-shuffle plan — see Dedup.exactDedup. */
    def exactDedup(contentCols: Seq[String], orderCol: String,
        assumeUniqueOrder: Boolean = false): DataFrame =
      Dedup.exactDedup(df, contentCols, orderCol, assumeUniqueOrder)

    def nearDedup(idCol: String, textCol: String, threshold: Double = 0.7,
        assumeUniqueId: Boolean = false): DataFrame =
      Dedup.dedupPipeline(df, idCol, textCol, threshold = threshold,
        assumeUniqueId = assumeUniqueId)

    /** Cluster-aware near-dedup: one representative per connected
      * component of near-dup pairs (transitive closure), instead of
      * nearDedup's drop-the-larger-id approximation. */
    def nearDedupClustered(idCol: String, textCol: String, threshold: Double = 0.7,
        assumeUniqueId: Boolean = false): DataFrame = {
      // Not cached: minhashNearDupPairs materializes its pair result
      // eagerly (internally caching what it reuses), so the survivors are
      // walked twice total — cheaper than pinning a corpus-sized cache.
      val exact = Dedup.exactDedup(df, Seq(textCol), idCol, assumeUniqueId)
      Dedup.dedupByComponents(exact, idCol,
        Dedup.minhashNearDupPairs(exact, idCol, textCol, threshold = threshold))
    }

    def analyzeText(textCol: String): DataFrame = TextAnalysis.analyze(df, textCol)

    def topKNeighbors(queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
      Similarity.bruteForceTopK(df, queries, idCol, vecCol, k)

    def sessionized(keyCol: String, tsCol: String, gapSeconds: Long): DataFrame =
      Analytics.sessionize(df, keyCol, tsCol, gapSeconds)

    /** Deterministic key-hash sample (reproducible, partition-invariant). */
    def hashSample(keyCol: String, rate: Double): DataFrame =
      Sampling.hashSample(df, keyCol, rate)

    /** Leak-proof train/eval(/test) split by key hash. */
    def hashSplit(keyCol: String, weights: Seq[Double]): Seq[DataFrame] =
      Sampling.hashSplit(df, keyCol, weights)
  }
}

package graft.sources

import graft.operators.SnapshotStore
import graft.schema.{CatalogReader, SingerSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Stream-oriented directory reader: a folder of `Entity-<ts>.csv/.parquet`
  * files exposed as named DataFrames.
  *
  * Spark-native re-expression of the reference Reader
  * (gluestick/reader.py:11-190 and etl_utils.py:23-149): stream name is the
  * filename prefix before the last `-`; the first file per stream wins;
  * catalog schemas (Singer JSON Schema) drive read-time typing. Unlike the
  * reference (eager pandas/arrow), reads stay lazy Catalyst scans, so
  * filters/projections push down into the file format at any scale.
  */
class GsReader(
    val spark: SparkSession,
    val inputDir: String,
    val catalogPath: Option[String] = None,
    val snapshotDir: Option[String] = None) {

  private lazy val fs: FileSystem =
    new Path(inputDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  lazy val catalog: Map[String, CatalogReader.StreamCatalog] =
    catalogPath.filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .map(CatalogReader.load).getOrElse(Map.empty)

  /** `Account-20200811T121507.csv` → `Account` (reference etl_utils.py:78-84). */
  def streamName(fileName: String): String = {
    val base = fileName.substring(0, fileName.lastIndexOf('.'))
    val i = base.lastIndexOf('-')
    if (i > 0) base.substring(0, i) else base
  }

  /** Enumerate `*.csv` / `*.parquet`; first file per stream wins
    * (reference reader.py:154-190). */
  def inputFiles(ignore: Seq[String] = Nil): Map[String, String] = {
    val p = new Path(inputDir)
    if (!fs.exists(p)) return Map.empty
    // plain files (tap output) AND directories named *.parquet/*.csv
    // (Spark-written datasets) both count as one stream file
    val files = fs.listStatus(p).toSeq.map(_.getPath)
      .filter(f => f.getName.endsWith(".csv") || f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    files.foldLeft(Map.empty[String, String]) { (acc, f) =>
      val s = streamName(f.getName)
      if (ignore.contains(s) || acc.contains(s)) acc
      else acc + (s -> f.toString)
    }
  }

  def streams(ignore: Seq[String] = Nil): Seq[String] =
    inputFiles(ignore).keys.toSeq.sorted

  /** Load one stream, catalog-typed when available.
    *
    * CSV date-time columns replicate the reference's
    * `errors='coerce', utc=True` semantics (reader.py:110-116): unparseable
    * values become null, not errors — Spark's non-ANSI cast/`try_to_timestamp`.
    */
  def get(stream: String, catalogTypes: Boolean = false): Option[DataFrame] =
    inputFiles().get(stream).map(path => readFile(path, stream, catalogTypes))

  def getOrElse(stream: String, default: => DataFrame): DataFrame =
    get(stream).getOrElse(default)

  private def readFile(path: String, stream: String, catalogTypes: Boolean): DataFrame = {
    val cat = if (catalogTypes) catalog.get(stream) else None
    if (path.endsWith(".parquet")) {
      val df = spark.read.parquet(path)
      cat.map(c => castToCatalog(df, c)).getOrElse(df)
    } else {
      cat match {
        case Some(c) if c.schema.nonEmpty =>
          // Read everything as string first, then try_cast per catalog —
          // matches reference coerce-to-null (never fail a load on one bad
          // cell). Header columns absent from the catalog stay string.
          val raw = spark.read.option("header", "true").option("escape", "\"").csv(path)
          val casts = raw.columns.map { col0 =>
            c.schema.fields.find(_.name == col0) match {
              case Some(f) if f.dataType == TimestampType =>
                to_utc(col(col0)).as(col0)
              case Some(f) => col(col0).try_cast(f.dataType).as(col0)
              case None    => col(col0)
            }
          }
          raw.select(casts.toIndexedSeq: _*)
        case _ =>
          spark.read.option("header", "true").option("escape", "\"")
            .option("inferSchema", "true").csv(path)
      }
    }
  }

  private def to_utc(c: org.apache.spark.sql.Column) =
    try_to_timestamp(c) // session TZ is UTC; unparseable → null (coerce)

  /** Cast an already-typed frame to the catalog types (try_cast: bad values
    * null out, mirroring pandas `errors='coerce'`). */
  def castToCatalog(df: DataFrame, cat: CatalogReader.StreamCatalog): DataFrame = {
    val casts = df.columns.map { col0 =>
      cat.schema.fields.find(_.name == col0) match {
        case Some(f) if f.dataType != df.schema(col0).dataType =>
          col(col0).try_cast(f.dataType).as(col0)
        case _ => col(col0)
      }
    }
    df.select(casts.toIndexedSeq: _*)
  }

  /** Parquet footer key-value metadata as a Map (reference reader.py:118-128). */
  def getMetadata(stream: String): Map[String, String] =
    inputFiles().get(stream).filter(_.endsWith(".parquet")).map { path =>
      ParquetMeta.keyValueMetadata(spark, path)
    }.getOrElse(Map.empty)

  /** Primary key: parquet `key_properties` metadata, else catalog
    * `table-key-properties` (reference reader.py:130-152; we parse, never eval). */
  def getPk(stream: String): Seq[String] =
    getMetadata(stream).get("key_properties")
      .map(SingerSchema.parseKeyProperties)
      .orElse(catalog.get(stream).map(_.keyProperties).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Load the `<stream>` snapshot of `snapshotDir` (`.snapshot.parquet` or
    * `.snapshot.csv`), else None (reference etl_utils.py:152-178). Reads
    * through [[graft.operators.SnapshotStore.read]]: the committed format
    * wins over a stale dataset of the other one, a torn write's parked
    * snapshot is restored, and a parquet schema comes from the footer. */
  def readSnapshot(stream: String): Option[DataFrame] =
    snapshotDir.flatMap(new SnapshotStore(spark, _).read(stream))
}

/** Driver-side parquet footer reading (no data scan). */
object ParquetMeta {
  def keyValueMetadata(spark: SparkSession, path: String): Map[String, String] =
    footerKeyValues(new Path(path), spark.sparkContext.hadoopConfiguration)

  /** The key-value metadata in the footer of the parquet file `file`. */
  private[graft] def footerKeyValues(file: Path, conf: Configuration): Map[String, String] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try Option(reader.getFileMetaData.getKeyValueMetaData).map(_.asScala.toMap).getOrElse(Map.empty)
    finally reader.close()
  }
}

package graft

import graft.singer.SingerWriter
import graft.sources.GsReader
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Singer sink parity with the reference golden `tests/data/output/data.singer`
  * (reference tests/etl_test.py:129-182): read the campaign_performance
  * parquet (pk via file metadata), export, compare message-by-message. */
class SingerWriterSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  test("campaign_performance export matches golden data.singer") {
    val reader = new GsReader(spark, refData("input"))
    assert(reader.streams().contains("campaign_performance"))
    val df = reader.get("campaign_performance").get
    assert(reader.getPk("campaign_performance") === Seq("id"))

    val out = s"${tmpDir("singer_")}/campaign_performance.singer"
    SingerWriter.write(df, "campaign_performance", out,
      keyProperties = reader.getPk("campaign_performance"))

    val got = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out)).asScala
    val want = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(refData("output/data.singer"))).asScala
    assert(got.size === want.size) // SCHEMA + 8 RECORDs + STATE

    val gotJ = got.map(mapper.readTree)
    val wantJ = want.map(mapper.readTree)
    // SCHEMA: same stream, same key_properties, same property types
    assert(gotJ.head.get("type").asText() === "SCHEMA")
    assert(gotJ.head.get("stream") === wantJ.head.get("stream"))
    assert(gotJ.head.get("key_properties") === wantJ.head.get("key_properties"))
    val gotProps = gotJ.head.at("/schema/properties")
    val wantProps = wantJ.head.at("/schema/properties")
    assert(gotProps === wantProps)
    // RECORDs: identical parsed payloads, same order
    gotJ.tail.init.zip(wantJ.tail.init).foreach { case (g, w) => assert(g === w) }
    // STATE footer
    assert(gotJ.last.get("type").asText() === "STATE")
    assert(gotJ.last.get("value").toString === "{}")
  }

  test("append mode re-emits the schema header (reference per-call write_schema)") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("id", "v")
    val evolved = Seq((2, "b", 1.5)).toDF("id", "v", "score")
    val out = s"${tmpDir("singer_")}/t.singer"
    SingerWriter.write(df, "t", out, emitState = false)
    SingerWriter.write(evolved, "t", out, emitState = true)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out)).asScala
    val types = lines.map(l => mapper.readTree(l).get("type").asText())
    assert(types.toSeq === Seq("SCHEMA", "RECORD", "SCHEMA", "RECORD", "STATE"))
    // the second SCHEMA describes the evolved batch's columns
    val secondSchema = mapper.readTree(lines(2)).at("/schema/properties")
    assert(secondSchema.has("score"))
  }

  test("null scalars are dropped from records; timestamps serialize ISO-micros-Z") {
    import spark.implicits._
    val df = Seq((1L, Some("x"), Some(java.sql.Timestamp.valueOf("2024-05-23 20:01:07"))),
        (2L, None, None))
      .toDF("id", "s", "ts")
    val lines = df.orderBy("id")
      .select(SingerWriter.recordLine(df, "t")).collect().map(_.getString(0))
    val r1 = mapper.readTree(lines(0)).get("record")
    assert(r1.get("ts").asText() === "2024-05-23T20:01:07.000000Z")
    val r2 = mapper.readTree(lines(1)).get("record")
    assert(!r2.has("s") && !r2.has("ts")) // nulls dropped
    assert(r2.get("id").asLong() === 2L)
  }

  test("NaN doubles are null scalars in every record mode (_is_null_scalar)") {
    import spark.implicits._
    val df = Seq((1L, Double.NaN, 2.5), (2L, 1.0, Double.NaN)).toDF("id", "a", "b")
    // default / DropTopLevel: the NaN key vanishes, like None
    for (mode <- Seq(SingerWriter.NullMode.DropAll, SingerWriter.NullMode.DropTopLevel)) {
      val lines = df.orderBy("id")
        .select(SingerWriter.recordLine(df, "t", nullMode = mode))
        .collect().map(_.getString(0))
      val r1 = mapper.readTree(lines(0)).get("record")
      assert(!r1.has("a") && r1.get("b").asDouble() === 2.5, lines(0))
      val r2 = mapper.readTree(lines(1)).get("record")
      assert(r2.get("a").asDouble() === 1.0 && !r2.has("b"), lines(1))
    }
    // keep_nulls: the reference REPLACES NaN with None -> explicit JSON null
    val keep = df.orderBy("id")
      .select(SingerWriter.recordLine(df, "t", nullMode = SingerWriter.NullMode.KeepAll))
      .collect().map(_.getString(0))
    val k1 = mapper.readTree(keep(0)).get("record")
    assert(k1.has("a") && k1.get("a").isNull, keep(0))
    assert(k1.get("b").asDouble() === 2.5)
  }

  test("distributed singer export writes record parts + schema/state sidecars") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, s"v$i")).toDF("id", "v").repartition(4)
    val dir = tmpDir("singerd_")
    SingerWriter.writeDistributed(df, "t", dir)
    val records = spark.read.text(s"$dir/records").collect().map(_.getString(0))
    assert(records.length === 100)
    assert(records.forall(l => mapper.readTree(l).get("type").asText() == "RECORD"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_schema.singer")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_state.singer")))
  }

  test("export router writes parquet/csv/json and rejects unknown formats") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("id", "v")
    val dir = tmpDir("export_")
    graft.export.Exporter.export(df, "s1", dir, format = "parquet")
    assert(spark.read.parquet(s"$dir/s1").count() === 1)
    graft.export.Exporter.export(df, "s1", dir, format = "csv")
    graft.export.Exporter.export(df, "s1", dir, format = "jsonl")
    intercept[IllegalArgumentException] {
      graft.export.Exporter.export(df, "s1", dir, format = "nope")
    }
  }

  test("output name templating + env override") {
    assert(graft.export.Exporter.outputName("orders", "{TENANT}_",
      Map("TENANT" -> "acme"), env = Map.empty) === "acme_orders")
    assert(graft.export.Exporter.outputName("orders", "{MISSING}_",
      Map.empty, env = Map.empty) === "_orders")
    assert(graft.export.Exporter.outputName("orders", "",
      Map.empty, env = Map("HG_UNIFIED_OUTPUT_ORDERS" -> "renamed")) === "renamed")
  }

  test("record envelope supports version and time_extracted") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("id", "v")
    val line = df.select(SingerWriter.recordLine(df, "t",
        version = Some(3L),
        timeExtracted = Some(java.time.Instant.parse("2024-05-23T20:01:07.000123Z"))))
      .first().getString(0)
    val j = mapper.readTree(line)
    assert(j.get("version").asLong() === 3L)
    assert(j.get("time_extracted").asText() === "2024-05-23T20:01:07.000123Z")
  }

  test("fromCaseClass emits a singer schema from a typed model") {
    val node = graft.schema.SingerSchema.fromCaseClass[SingerWriterSpec.Invoice]
    val props = node.get("properties")
    assert(props.get("id").get("type").get(0).asText() === "integer")
    assert(props.get("amount").get("type").get(0).asText() === "number")
    assert(props.get("issued").get("format").asText() === "date-time")
  }

  test("export round-trip matches golden campaign_performance parquet/csv values") {
    val reader = new GsReader(spark, refData("input"))
    val df = reader.get("campaign_performance").get
    val out = tmpDir("export_rt_")
    graft.export.Exporter.export(df, "campaign_performance", out, format = "parquet")
    graft.export.Exporter.export(df, "cp_csv", out, format = "csv")

    def norm(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = d.columns.sorted
      d.select(cols.map(c => col(s"`$c`").cast("string")): _*)
        .collect().toSeq.map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) "NULL" else {
            val v = r.getString(i)
            // golden stores float32 values promoted to float64; align both
            // sides to float32 precision before comparing
            try { "%.4f".format(v.toFloat.toDouble) } catch { case _: Exception => v }
          })).sortBy(_.mkString("\u0001"))
    }
    val goldenPq = spark.read.parquet(refData("output/campaign_performance_parquet.parquet"))
    val minePq = spark.read.parquet(s"$out/campaign_performance")
    assert(minePq.columns.sorted.toSeq === goldenPq.columns.sorted.toSeq)
    assert(norm(minePq) === norm(goldenPq))

    val goldenCsv = spark.read.option("header", "true").csv(refData("output/campaign_performance_csv.csv"))
    val mineCsv = spark.read.option("header", "true").csv(s"$out/cp_csv")
    assert(mineCsv.columns.sorted.toSeq === goldenCsv.columns.sorted.toSeq)
    assert(norm(mineCsv) === norm(goldenCsv))
  }
}

object SingerWriterSpec {
  final case class Invoice(id: Long, amount: Double, issued: java.sql.Timestamp)
}

/** Four-source schema priority + serialization modes of the Singer sink
  * (reference to_singer, singer.py:494-516 and _serialize_value :72-78). */
class SingerModesSpec extends SparkSpec {
  import graft.export.Exporter
  import graft.schema.{CatalogReader, SingerSchema}
  private val mapper = new ObjectMapper()

  private val catalogJson =
    """{"streams": [{"stream": "orders",
      |  "schema": {"type": "object", "properties": {
      |    "id": {"type": ["integer", "null"]},
      |    "meta": {"type": ["object", "null"], "properties": {
      |      "k": {"type": ["string", "null"]}}},
      |    "catalog_only": {"type": ["number", "null"]}}},
      |  "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["id"]}}]}]}""".stripMargin
  private def catalog = CatalogReader.fromJson(catalogJson)

  private def df = {
    import spark.implicits._
    Seq((1L, """{"k": "v1"}""", "x")).toDF("id", "meta", "extra")
  }

  private def readLines(path: String) =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq

  test("allowObjects=false stringifies complex columns and types them string") {
    import spark.implicits._
    val nested = Seq((1L, Seq("a", "b"))).toDF("id", "tags")
      .withColumn("obj", struct(lit("v").as("k")))
    val dir = tmpDir("sm_")
    Exporter.toSinger(nested, "t", dir, allowObjects = false, env = Map.empty)
    val lines = readLines(s"$dir/data.singer").map(mapper.readTree)
    val props = lines.head.at("/schema/properties")
    assert(props.get("tags").get("type").get(0).asText() === "string")
    assert(props.get("obj").get("type").get(0).asText() === "string")
    val rec = lines(1).get("record")
    assert(rec.get("tags").isTextual && rec.get("obj").isTextual)
    assert(mapper.readTree(rec.get("tags").asText()).get(0).asText() === "a")
    assert(mapper.readTree(rec.get("obj").asText()).get("k").asText() === "v")
  }

  test("reference-default nulls: top-level null scalars drop, nested nulls stay") {
    // reference to_singer DEFAULT (singer.py:536-537): rec keys with null
    // scalar values are removed; nulls INSIDE object cells survive because
    // remove_nulls_deep only runs under trim_nested_nulls. Expected lines
    // derived by replaying that dict comprehension + json.dumps on this
    // fixture by hand.
    val df = spark.sql(
      """SELECT 1L AS id, CAST(NULL AS STRING) AS note,
        |       named_struct('a', 1L, 'b', CAST(NULL AS STRING)) AS obj
        |UNION ALL
        |SELECT 2L, 'hello', CAST(NULL AS STRUCT<a: BIGINT, b: STRING>)""".stripMargin)
    val dir = tmpDir("sm_nn_")
    Exporter.toSinger(df.orderBy("id"), "t", dir, allowObjects = true,
      keepNullFields = true, env = Map.empty) // keep all-null-col drop out of the way
    val keep = readLines(s"$dir/data.singer").map(mapper.readTree)
    // sanity: KeepAll mode serializes the top-level nulls explicitly
    assert(keep(1).get("record").has("note") && keep(1).at("/record/note").isNull)

    val dir2 = tmpDir("sm_nn2_")
    Exporter.toSinger(df.orderBy("id"), "t", dir2, allowObjects = true,
      env = Map.empty) // reference default mode
    val lines = readLines(s"$dir2/data.singer").map(mapper.readTree)
    val r1 = lines(1).get("record")
    assert(!r1.has("note"), "top-level null scalar must be dropped")
    assert(r1.get("obj").get("a").asLong === 1L)
    assert(r1.get("obj").has("b") && r1.get("obj").get("b").isNull,
      s"nested null must be KEPT (reference default), got $r1")
    val r2 = lines(2).get("record")
    assert(r2.get("note").asText === "hello")
    assert(!r2.has("obj"), "null object cell is a top-level null → dropped")
    // trim_nested_nulls=True replays remove_nulls_deep: nested null gone too
    val dir3 = tmpDir("sm_nn3_")
    Exporter.toSinger(df.orderBy("id"), "t", dir3, allowObjects = true,
      trimNestedNulls = true, env = Map.empty)
    val trimmed = readLines(s"$dir3/data.singer").map(mapper.readTree)
    assert(!trimmed(1).at("/record/obj").has("b"))
  }

  test("schemaOverride and mergeSchemaWith compose: merge bases on the override") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val df2 = Seq((1, "1.5")).toDF("id", "v")
    val overrideSchema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", DoubleType)))
    val catalogSchema = StructType(Seq(
      StructField("id", StringType), StructField("cat_extra", StringType)))
    val out = s"${tmpDir("sm_both_")}/t.singer"
    SingerWriter.write(df2, "t", out,
      schemaOverride = Some(overrideSchema), mergeSchemaWith = Some(catalogSchema))
    val props = mapper.readTree(readLines(out).head).at("/schema/properties")
    // catalog wins where it speaks: id → string; extra catalog col present
    assert(props.get("id").get("type").get(0).asText() === "string")
    assert(props.has("cat_extra"))
    // where the catalog is silent, the OVERRIDE (not inference) types it:
    // v was inferred string but overridden to number
    assert(props.get("v").get("type").get(0).asText() === "number")
  }

  test("keep-nulls export keeps nulls inside stringified complex cells") {
    val df2 = spark.sql(
      "SELECT 1L AS id, named_struct('a', 1L, 'b', CAST(NULL AS STRING)) AS obj")
    val dir = tmpDir("sm_sc_")
    Exporter.toSinger(df2, "t", dir, allowObjects = false,
      keepNullFields = true, env = Map.empty)
    val rec = readLines(s"$dir/data.singer").map(mapper.readTree).apply(1).get("record")
    assert(rec.get("obj").isTextual)
    val parsed = mapper.readTree(rec.get("obj").asText())
    assert(parsed.has("b") && parsed.get("b").isNull,
      s"stringified cell dropped nested null in keep-nulls mode: $parsed")
  }

  test("priority 1a: catalogStream uses the catalog schema wholesale and parses object cols") {
    val dir = tmpDir("sm_")
    Exporter.toSinger(df, "anything", dir, catalogStream = Some("orders"),
      catalog = catalog, env = Map.empty)
    val lines = readLines(s"$dir/data.singer").map(mapper.readTree)
    val props = lines.head.at("/schema/properties")
    // catalog schema verbatim: catalog_only present, df-only extra absent
    assert(props.has("catalog_only") && !props.has("extra"))
    // the stringified meta column was parsed to a real object per the catalog
    assert(lines(1).at("/record/meta/k").asText() === "v1")
  }

  test("priority 1b: USE_CATALOG_SCHEMA merges catalog types over inferred, keeps extras") {
    val dir = tmpDir("sm_")
    Exporter.toSinger(df, "orders", dir, catalog = catalog,
      env = Map("USE_CATALOG_SCHEMA" -> "true"))
    val lines = readLines(s"$dir/data.singer").map(mapper.readTree)
    val props = lines.head.at("/schema/properties")
    // merge: catalog-only AND df-only columns both present
    assert(props.has("catalog_only") && props.has("extra"))
    // catalog overrides meta to object; df-only extra stays inferred string
    assert(props.get("meta").get("type").get(0).asText() === "object")
    // keep_nulls mode: missing catalog_only column is absent from the frame,
    // but null scalars in present columns serialize explicitly
    assert(lines(1).at("/record/meta/k").asText() === "v1")
  }

  test("priority 2: unified model beats explicit schema (reference elif order)") {
    val unified = SingerSchema.toStructType(
      """{"type": "object", "properties": {"id": {"type": ["integer", "null"]},
        |"meta": {"type": ["string", "null"]}, "extra": {"type": ["string", "null"]},
        |"from_model": {"type": ["boolean", "null"]}}}""".stripMargin)
    val explicit = SingerSchema.toStructType(
      """{"type": "object", "properties": {"from_explicit": {"type": ["string", "null"]}}}""")
    val dir = tmpDir("sm_")
    Exporter.toSinger(df, "orders", dir, schema = Some(explicit),
      unifiedModel = Some(unified), env = Map.empty)
    val props = readLines(s"$dir/data.singer").map(mapper.readTree)
      .head.at("/schema/properties")
    assert(props.has("from_model") && !props.has("from_explicit"))
  }

  test("priority 3/4: explicit schema, else inference") {
    val explicit = SingerSchema.toStructType(
      """{"type": "object", "properties": {"from_explicit": {"type": ["string", "null"]}}}""")
    val d1 = tmpDir("sm_"); val d2 = tmpDir("sm_")
    Exporter.toSinger(df, "orders", d1, schema = Some(explicit), env = Map.empty)
    assert(readLines(s"$d1/data.singer").map(mapper.readTree)
      .head.at("/schema/properties").has("from_explicit"))
    Exporter.toSinger(df, "orders", d2, env = Map.empty)
    val inferred = readLines(s"$d2/data.singer").map(mapper.readTree)
      .head.at("/schema/properties")
    assert(inferred.has("id") && inferred.has("meta") && inferred.has("extra"))
  }

  test("allowObjects drops all-null columns unless nulls are kept") {
    import spark.implicits._
    val withNullCol = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "empty")
    val d1 = tmpDir("sm_"); val d2 = tmpDir("sm_")
    Exporter.toSinger(withNullCol, "t", d1, allowObjects = true, env = Map.empty)
    assert(!readLines(s"$d1/data.singer").map(mapper.readTree)
      .head.at("/schema/properties").has("empty"))
    Exporter.toSinger(withNullCol, "t", d2, allowObjects = true,
      keepNullFields = true, env = Map.empty)
    val lines2 = readLines(s"$d2/data.singer").map(mapper.readTree)
    assert(lines2.head.at("/schema/properties").has("empty"))
    // keep-nulls serializes the null explicitly in records
    assert(lines2(1).get("record").has("empty") && lines2(1).at("/record/empty").isNull)
  }

  test("INCLUDE_ALL_UNIFIED_FIELDS keeps null columns only with a unified model") {
    import spark.implicits._
    val withNullCol = Seq((1L, Option.empty[String])).toDF("id", "empty")
    val unified = SingerSchema.toStructType(
      """{"type": "object", "properties": {"id": {"type": ["integer", "null"]},
        |"empty": {"type": ["string", "null"]}}}""".stripMargin)
    val d1 = tmpDir("sm_"); val d2 = tmpDir("sm_")
    val envOn = Map("INCLUDE_ALL_UNIFIED_FIELDS" -> "true")
    // with the model: nulls kept, explicit null in the record
    Exporter.toSinger(withNullCol, "t", d1, allowObjects = true,
      unifiedModel = Some(unified), env = envOn)
    val l1 = readLines(s"$d1/data.singer").map(mapper.readTree)
    assert(l1(1).get("record").has("empty") && l1(1).at("/record/empty").isNull)
    // without the model the flag is inert (reference gates on unified_model)
    Exporter.toSinger(withNullCol, "t", d2, allowObjects = true, env = envOn)
    assert(!readLines(s"$d2/data.singer").map(mapper.readTree)
      .head.at("/schema/properties").has("empty"))
  }

  test("recursiveTyping=false emits fuzzy array headers (reference type_mapping)") {
    import spark.implicits._
    val nested = Seq((1L, Seq("a", "b"))).toDF("id", "tags")
    val d1 = tmpDir("sm_"); val d2 = tmpDir("sm_")
    Exporter.toSinger(nested, "t", d1, allowObjects = true, env = Map.empty)
    val recursive = readLines(s"$d1/data.singer").map(mapper.readTree)
      .head.at("/schema/properties/tags")
    assert(recursive.at("/items/type/0").asText() === "string") // real element type
    Exporter.toSinger(nested, "t", d2, allowObjects = true,
      recursiveTyping = false, env = Map.empty)
    val fuzzy = readLines(s"$d2/data.singer").map(mapper.readTree)
      .head.at("/schema/properties/tags")
    assert(fuzzy.at("/type/0").asText() === "array")
    val itemTypes = (0 until 3).map(i => fuzzy.at(s"/items/type/$i").asText())
    assert(itemTypes === Seq("object", "string", "null"))
  }

  test("distributed export honors the same serialization options as single-file") {
    import spark.implicits._
    val nested = Seq((1L, Seq("a", "b"))).toDF("id", "tags")
    val dir = tmpDir("sm_dist_")
    Exporter.export(nested, "t", dir, format = "singer", singleFile = false,
      allowObjects = false, env = Map.empty)
    val schemaLine = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/t/_schema.singer")).trim)
    // stringified complex column → typed string in the distributed header too
    assert(schemaLine.at("/schema/properties/tags/type/0").asText() === "string")
    val rec = spark.read.text(s"$dir/t/records").collect().map(_.getString(0))
    assert(mapper.readTree(rec.head).at("/record/tags").isTextual)
  }

  test("catalog stream missing raises like the reference") {
    val e = intercept[IllegalArgumentException] {
      Exporter.toSinger(df, "missing", tmpDir("sm_"),
        catalogStream = Some("missing"), catalog = catalog, env = Map.empty)
    }
    assert(e.getMessage.contains("No schema found in catalog for stream missing"))
  }
}

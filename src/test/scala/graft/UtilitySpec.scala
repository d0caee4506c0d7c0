package graft

import graft.functions.DateUtils
import graft.operators.{Explode, Ops}
import graft.schema.CatalogReader
import graft.singer.SingerWriter
import graft.sources.GsReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class UtilitySpec extends SparkSpec {
  import spark.implicits._

  /** Terms whose float sum depends on the order they are added in: group
    * `i % 3` of 300 rows spanning 17 decades, one null term in every 50
    * rows, and group 3 holding only a null term. */
  private def foldInput = (0 until 300).map { i =>
      val v = if (i % 50 == 7) None else Some(math.pow(10.0, i % 17) / (i + 3))
      (i % 3, i.toLong, v)
    } :+ ((3, 300L, Option.empty[Double]))

  test("Ops.orderedSum: the same bits in 1 and 7 shuffled partitions, nulls skipped") {
    val rows = foldInput
    val df = rows.toDF("g", "id", "v")
    def folded(parts: Int): Map[Int, java.lang.Double] =
      df.orderBy(rand(7)).repartition(parts)
        .groupBy("g").agg(Ops.orderedSum(col("v"), col("id")))
        .collect().map(r => r.getInt(0) -> r.getAs[java.lang.Double](1)).toMap
    val (one, seven) = (folded(1), folded(7))
    assert(one === seven)
    (0 until 3).foreach { g =>
      val expected = rows.filter(_._1 == g).sortBy(_._2).flatMap(_._3)
        .foldLeft(0.0)(_ + _)
      assert(java.lang.Double.doubleToRawLongBits(one(g)) ===
        java.lang.Double.doubleToRawLongBits(expected), s"group $g")
    }
    assert(one(3) === null, "a group with no non-null term sums to NULL, as sum does")
  }

  test("Ops.foldSum: production is a plain sum, the gate path the ordered fold") {
    val df = foldInput.toDF("g", "id", "v")
    def plan(deterministic: Boolean): String = df.groupBy("g")
      .agg(Ops.foldSum(deterministic, col("v"), col("id")))
      .queryExecution.executedPlan.toString
    assert(!plan(false).contains("collect_list"), plan(false))
    assert(plan(true).contains("collect_list"), plan(true))
  }

  test("localizeDatetime coerces bad strings to null (pandas errors='coerce')") {
    val df = Seq("2024-05-23 20:01:07", "not a date", null).toDF("ts")
    val out = DateUtils.localizeDatetime(df, "ts").collect()
    assert(!out(0).isNullAt(0))
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
  }

  test("localizeDatetimeStrict raises on unparseable non-null input") {
    val df = Seq("garbage").toDF("ts")
    val e = intercept[Exception] {
      DateUtils.localizeDatetimeStrict(df, "ts").collect()
    }
    assert(e.getMessage.contains("Invalid datetime"))
  }

  test("isoMicrosZ serialization matches the singer wire format") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-05-23 20:01:07.123456")).toDF("ts")
    assert(df.select(DateUtils.isoMicrosZ($"ts")).first().getString(0) ===
      "2024-05-23T20:01:07.123456Z")
  }

  test("datetimeFields reflects timestamp/date columns of a schema") {
    val st = StructType(Seq(StructField("a", StringType),
      StructField("t", TimestampType), StructField("d", DateType)))
    assert(DateUtils.datetimeFields(st) === Seq("t", "d"))
  }

  test("parseDfCols parses catalog-typed object/array string columns") {
    val cat = CatalogReader.StreamCatalog("s",
      StructType(Seq(
        StructField("obj", StructType(Seq(StructField("k", LongType)))),
        StructField("arr", ArrayType(LongType)),
        StructField("plain", StringType))),
      Nil, Nil)
    val df = Seq(("{'k': 7}", "[1, 2]", "keep")).toDF("obj", "arr", "plain")
    val out = Explode.parseDfCols(df, cat)
    assert(out.schema("obj").dataType.isInstanceOf[StructType])
    assert(out.select("obj.k").first().getLong(0) === 7L)
    assert(out.select("arr").first().getSeq[Long](0) === Seq(1L, 2L))
    assert(out.schema("plain").dataType === StringType)
  }

  test("dropAllNullColumns removes only entirely-null columns") {
    val df = Seq((1, Some("a"), None: Option[String]),
                 (2, None, None)).toDF("id", "partial", "empty")
    val out = SingerWriter.dropAllNullColumns(df)
    assert(out.columns.toSeq === Seq("id", "partial"))
  }

  test("GsReader catalog-typed CSV read coerces per catalog, bad cells null") {
    val dir = tmpDir("reader_")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/orders-20240101T000000.csv"),
      "order_id,amount,created_at,is_active\n1,9.5,2024-01-02 03:04:05,true\nbad,x,nope,maybe\n")
    val catalogPath = s"$dir/catalog.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(catalogPath),
      """{"streams": [{"stream": "orders", "schema": {"type": "object", "properties": {
        |"order_id": {"type": ["integer", "null"]},
        |"amount": {"type": ["number", "null"]},
        |"created_at": {"type": "string", "format": "date-time"},
        |"is_active": {"type": ["boolean", "null"]}}},
        |"metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["order_id"]}}]}]}""".stripMargin)
    val reader = new GsReader(spark, dir, catalogPath = Some(catalogPath))
    val df = reader.get("orders", catalogTypes = true).get
    assert(df.schema("order_id").dataType === LongType)
    assert(df.schema("created_at").dataType === TimestampType)
    val rows = df.orderBy(asc_nulls_last("order_id")).collect()
    assert(rows(0).getLong(0) === 1L && rows(0).getBoolean(3))
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2) && rows(1).isNullAt(3))
    assert(reader.getPk("orders") === Seq("order_id"))
  }

  test("GsReader snapshot read returns None when absent, data when present") {
    val dir = tmpDir("reader_")
    val snapDir = tmpDir("snaps_")
    val reader = new GsReader(spark, dir, snapshotDir = Some(snapDir))
    assert(reader.readSnapshot("orders").isEmpty)
    Seq((1, "a")).toDF("id", "v").write.parquet(s"$snapDir/orders.snapshot.parquet")
    assert(reader.readSnapshot("orders").get.count() === 1)
  }

  test("stream naming: prefix before last dash; first file per stream wins") {
    val dir = tmpDir("naming_")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/My-Stream-20240101.csv"), "a\n1\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/My-Stream-20240202.csv"), "a\n2\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/plain.csv"), "a\n3\n")
    val reader = new GsReader(spark, dir)
    assert(reader.streams() === Seq("My-Stream", "plain"))
    assert(reader.inputFiles()("My-Stream").endsWith("My-Stream-20240101.csv"))
  }
}

class ConfigSpec extends SparkSpec {
  import graft.export.PipelineConfig
  import graft.operators.Explode
  import graft.schema.CatalogReader
  import spark.implicits._

  test("establishDirectories creates the standard layout from env") {
    val root = tmpDir("pipeline_")
    val dirs = PipelineConfig.establishDirectories(Map("ROOT_DIR" -> root))
    assert(new java.io.File(dirs.input).isDirectory)
    assert(new java.io.File(dirs.snapshots).isDirectory)
    assert(dirs.input === s"$root/sync-output")
  }

  test("buildStringFormatVariables merges env + tenant, splits TENANT") {
    val vars = PipelineConfig.buildStringFormatVariables(
      Map("plan" -> "pro"),
      Map("TENANT" -> "acme_eu", "JOB_ID" -> "j1", "UNRELATED" -> "x"))
    assert(vars("ROOT_TENANT_ID") === "acme")
    assert(vars("SUB_TENANT_ID") === "eu")
    assert(vars("JOB_ID") === "j1")
    assert(vars("plan") === "pro")
    assert(!vars.contains("UNRELATED"))
  }

  test("enforceExplodedColTypes casts exploded columns per catalog") {
    import org.apache.spark.sql.types._
    val cat = CatalogReader.StreamCatalog("s",
      StructType(Seq(StructField("line", ArrayType(StructType(Seq(
        StructField("qty", LongType), StructField("ok", BooleanType))))))),
      Nil, Nil)
    val df = Seq(("7", "true"), ("8", "false")).toDF("line.qty", "line.ok")
    val out = Explode.enforceExplodedColTypes(df, "line", cat)
    assert(out.schema("line.qty").dataType === LongType)
    assert(out.schema("line.ok").dataType === BooleanType)
  }
}

class ExtensionsSpec extends SparkSpec {
  test("native expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT parse_py_literal("{'a': None}") AS j,
        |       py_float_repr(0.0005d) AS f,
        |       vector_dot(array(1.0f, 2.0f), array(3.0d, 4.0d)) AS d""".stripMargin)
      .first()
    assert(r.getString(0) === """{"a": null}""")
    assert(r.getString(1) === "0.0005")
    assert(r.getDouble(2) === 11.0)
  }

  test("round-5 expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT py_float32_repr(float(0.1)) AS f32,
        |       text_counts('the cat!').tokens AS toks,
        |       text_counts('the cat!').stop AS stop,
        |       canonical_text('A,b  C!') AS canon,
        |       word_shingles(array('a','b','c'), 2, true) AS sh,
        |       size(minhash_signature(array('a b','b c'), 8)) AS lanes,
        |       simhash_bits(array('x')) AS sim,
        |       size(winnowed_hashes(array('a','b','c','d','e','f'), 2, 3, 'xxhash64')) AS fp
        |""".stripMargin).first()
    assert(r.getString(0) === "0.1")
    assert(r.getInt(1) === 2 && r.getInt(2) === 1)
    assert(r.getString(3) === "a b c")
    assert(r.getSeq[String](4) === Seq("a b", "b c"))
    assert(r.getInt(5) === 8)
    assert(r.getLong(6) !== 0L)
    assert(r.getInt(7) >= 1)
    val rep = spark.sql(
      "SELECT repetition_stats('a b\na b').dup_line_frac AS d").first()
    assert(rep.getDouble(0) === 0.5)
    // round-6 expressions: positional k-gram hashes and CDC chunking
    val r6 = spark.sql(
      """SELECT size(kgram_hashes(array('a','b','c','d'), 2, 'xxhash64')) AS kg,
        |       aggregate(cdc_chunk_hashes(array('a','b','c','d','e'), 2, 'xxhash64'),
        |                 0, (acc, c) -> acc + c.n_tokens) AS chunk_tok_sum
        |""".stripMargin).first()
    assert(r6.getInt(0) === 3)       // 4 tokens, k=2 → 3 positions
    assert(r6.getInt(1) === 5)       // chunks partition all 5 tokens
    // non-literal config args fail loudly, not silently misbehave
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles(array('a'), cast(rand()*3 as int), true)").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("round-7 expressions are callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT strip_markup('<p>Tom &amp; co</p>') AS clean,
        |       normalize_text('Cafe\u0301\u0007  x') AS norm,
        |       size(hashed_embedding(array('a','b'), 16, 'xxhash64')) AS dim,
        |       compression_ratio(repeat('spam ', 200), 6) AS cr
        |""".stripMargin).first()
    assert(r.getString(0) === "Tom & co")
    assert(r.getString(1) === "Café x")
    assert(r.getInt(2) === 16)
    assert(r.getDouble(3) < 0.05)
  }
}

package graft

import graft.export.Exporter
import graft.singer.SingerWriter
import graft.streaming.Streaming
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Byte pins for every Singer entry point over one fixed frame carrying
  * top-level and nested nulls, NaN, float, timestamp, date, array and
  * struct columns, plus one all-null column (the allow-objects router
  * drops it). Each expected file is a SCHEMA line, a block of RECORD
  * lines and the STATE line; the entry points that share a block share
  * its bytes. */
class SingerSinkPinSpec extends SparkSpec {

  private def frame = spark.sql(
    """SELECT * FROM VALUES
      |  (1L, 'a', 1.5D, CAST(0.1 AS FLOAT), timestamp_micros(1700000000123456L),
      |   DATE '2024-01-02', array('x', NULL),
      |   named_struct('k', 1L, 's', CAST(NULL AS STRING), 't', timestamp_micros(1700000000123456L)),
      |   CAST(NULL AS STRING)),
      |  (2L, NULL, CAST('NaN' AS DOUBLE), NULL, NULL, NULL, NULL, NULL, NULL),
      |  (3L, 'c"q', -0.25D, CAST(2.5 AS FLOAT), timestamp_micros(0L),
      |   DATE '1999-12-31', array(),
      |   named_struct('k', CAST(NULL AS BIGINT), 's', 'z', 't', CAST(NULL AS TIMESTAMP)),
      |   NULL)
      |AS t(id, name, amt, f, ts, d, tags, obj, empty)""".stripMargin).coalesce(1)

  /** Every column, complex ones typed as array/object */
  private val ObjectSchema =
    """{"type": "SCHEMA", "stream": "t", "schema": {"type":["object","null"],"properties":{"id":{"type":["integer","null"]},"name":{"type":["string","null"]},"amt":{"type":["number","null"]},"f":{"type":["number","null"]},"ts":{"type":["string","null"],"format":"date-time"},"d":{"type":["string","null"],"format":"date"},"tags":{"type":["array","null"],"items":{"type":["string","null"]}},"obj":{"type":["object","null"],"properties":{"k":{"type":["integer","null"]},"s":{"type":["string","null"]},"t":{"type":["string","null"],"format":"date-time"}}},"empty":{"type":["string","null"]}}}, "key_properties": ["id"]}
      |""".stripMargin

  /** The same without the all-null column */
  private val ObjectSchemaNoEmpty =
    """{"type": "SCHEMA", "stream": "t", "schema": {"type":["object","null"],"properties":{"id":{"type":["integer","null"]},"name":{"type":["string","null"]},"amt":{"type":["number","null"]},"f":{"type":["number","null"]},"ts":{"type":["string","null"],"format":"date-time"},"d":{"type":["string","null"],"format":"date"},"tags":{"type":["array","null"],"items":{"type":["string","null"]}},"obj":{"type":["object","null"],"properties":{"k":{"type":["integer","null"]},"s":{"type":["string","null"]},"t":{"type":["string","null"],"format":"date-time"}}}}}, "key_properties": ["id"]}
      |""".stripMargin

  /** Every column, complex ones typed as JSON strings */
  private val StringSchema =
    """{"type": "SCHEMA", "stream": "t", "schema": {"type":["object","null"],"properties":{"id":{"type":["integer","null"]},"name":{"type":["string","null"]},"amt":{"type":["number","null"]},"f":{"type":["number","null"]},"ts":{"type":["string","null"],"format":"date-time"},"d":{"type":["string","null"],"format":"date"},"tags":{"type":["string","null"]},"obj":{"type":["string","null"]},"empty":{"type":["string","null"]}}}, "key_properties": ["id"]}
      |""".stripMargin

  /** `NullMode.DropAll`: nulls dropped at every depth */
  private val DropAllRecords =
    """{"type": "RECORD", "stream": "t", "record": {"id":1,"name":"a","amt":1.5,"f":0.10000000149011612,"ts":"2023-11-14T22:13:20.123456Z","d":"2024-01-02","tags":["x",null],"obj":{"k":1,"t":"2023-11-14T22:13:20.123456Z"}}}
      |{"type": "RECORD", "stream": "t", "record": {"id":2}}
      |{"type": "RECORD", "stream": "t", "record": {"id":3,"name":"c\"q","amt":-0.25,"f":2.5,"ts":"1970-01-01T00:00:00.000000Z","d":"1999-12-31","tags":[],"obj":{"s":"z"}}}
      |""".stripMargin

  /** `NullMode.KeepAll`: nulls written at every depth */
  private val KeepAllRecords =
    """{"type": "RECORD", "stream": "t", "record": {"id":1,"name":"a","amt":1.5,"f":0.10000000149011612,"ts":"2023-11-14T22:13:20.123456Z","d":"2024-01-02","tags":["x",null],"obj":{"k":1,"s":null,"t":"2023-11-14T22:13:20.123456Z"},"empty":null}}
      |{"type": "RECORD", "stream": "t", "record": {"id":2,"name":null,"amt":null,"f":null,"ts":null,"d":null,"tags":null,"obj":null,"empty":null}}
      |{"type": "RECORD", "stream": "t", "record": {"id":3,"name":"c\"q","amt":-0.25,"f":2.5,"ts":"1970-01-01T00:00:00.000000Z","d":"1999-12-31","tags":[],"obj":{"k":null,"s":"z","t":null},"empty":null}}
      |""".stripMargin

  /** `NullMode.DropTopLevel`: top-level nulls dropped, nested ones kept */
  private val TopLevelRecords =
    """{"type": "RECORD", "stream": "t", "record": {"id":1,"name":"a","amt":1.5,"f":0.10000000149011612,"ts":"2023-11-14T22:13:20.123456Z","d":"2024-01-02","tags":["x",null],"obj":{"k":1,"s":null,"t":"2023-11-14T22:13:20.123456Z"}}}
      |{"type": "RECORD", "stream": "t", "record": {"id":2}}
      |{"type": "RECORD", "stream": "t", "record": {"id":3,"name":"c\"q","amt":-0.25,"f":2.5,"ts":"1970-01-01T00:00:00.000000Z","d":"1999-12-31","tags":[],"obj":{"k":null,"s":"z","t":null}}}
      |""".stripMargin

  /** Complex cells stringified keeping their nulls, top-level nulls dropped */
  private val StringTopLevelRecords =
    """{"type": "RECORD", "stream": "t", "record": {"id":1,"name":"a","amt":1.5,"f":0.10000000149011612,"ts":"2023-11-14T22:13:20.123456Z","d":"2024-01-02","tags":"[\"x\",null]","obj":"{\"k\":1,\"s\":null,\"t\":\"2023-11-14T22:13:20.123456Z\"}"}}
      |{"type": "RECORD", "stream": "t", "record": {"id":2}}
      |{"type": "RECORD", "stream": "t", "record": {"id":3,"name":"c\"q","amt":-0.25,"f":2.5,"ts":"1970-01-01T00:00:00.000000Z","d":"1999-12-31","tags":"[]","obj":"{\"k\":null,\"s\":\"z\",\"t\":null}"}}
      |""".stripMargin

  /** Complex cells stringified, nulls written at every depth */
  private val StringKeepRecords =
    """{"type": "RECORD", "stream": "t", "record": {"id":1,"name":"a","amt":1.5,"f":0.10000000149011612,"ts":"2023-11-14T22:13:20.123456Z","d":"2024-01-02","tags":"[\"x\",null]","obj":"{\"k\":1,\"s\":null,\"t\":\"2023-11-14T22:13:20.123456Z\"}","empty":null}}
      |{"type": "RECORD", "stream": "t", "record": {"id":2,"name":null,"amt":null,"f":null,"ts":null,"d":null,"tags":null,"obj":null,"empty":null}}
      |{"type": "RECORD", "stream": "t", "record": {"id":3,"name":"c\"q","amt":-0.25,"f":2.5,"ts":"1970-01-01T00:00:00.000000Z","d":"1999-12-31","tags":"[]","obj":"{\"k\":null,\"s\":\"z\",\"t\":null}","empty":null}}
      |""".stripMargin

  /** Complex cells stringified, nulls dropped at every depth */
  private val StringTrimRecords =
    """{"type": "RECORD", "stream": "t", "record": {"id":1,"name":"a","amt":1.5,"f":0.10000000149011612,"ts":"2023-11-14T22:13:20.123456Z","d":"2024-01-02","tags":"[\"x\",null]","obj":"{\"k\":1,\"t\":\"2023-11-14T22:13:20.123456Z\"}"}}
      |{"type": "RECORD", "stream": "t", "record": {"id":2}}
      |{"type": "RECORD", "stream": "t", "record": {"id":3,"name":"c\"q","amt":-0.25,"f":2.5,"ts":"1970-01-01T00:00:00.000000Z","d":"1999-12-31","tags":"[]","obj":"{\"s\":\"z\"}"}}
      |""".stripMargin

  private val State = """{"type": "STATE", "value": {}}""" + "\n"

  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** A distributed export as one file: schema sidecar, part files in name
    * order, state sidecar. */
  private def readDistributed(dir: String): String = {
    val parts = Files.list(Paths.get(s"$dir/records")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq.sorted
    read(s"$dir/_schema.singer") + parts.map(p => read(s"$dir/records/$p")).mkString +
      read(s"$dir/_state.singer")
  }

  private def records(file: String): Seq[String] =
    file.split("\n").toSeq.filter(_.startsWith("""{"type": "RECORD""""))

  test("SingerWriter.write pins its bytes: default (DropAll) and KeepAll") {
    val d = tmpDir("pin_write_")
    SingerWriter.write(frame, "t", s"$d/w.singer", Seq("id"))
    assert(read(s"$d/w.singer") === ObjectSchema + DropAllRecords + State)
    SingerWriter.write(frame, "t", s"$d/k.singer", Seq("id"),
      nullMode = SingerWriter.NullMode.KeepAll)
    assert(read(s"$d/k.singer") === ObjectSchema + KeepAllRecords + State)
  }

  test("SingerWriter.writeDistributed pins its bytes: sidecars and parts equal write's file") {
    val d = tmpDir("pin_dist_")
    SingerWriter.writeDistributed(frame, "t", d, Seq("id"))
    assert(readDistributed(d) === ObjectSchema + DropAllRecords + State)
  }

  test("Exporter.toSinger pins its bytes: defaults, keepNullFields, trimNestedNulls") {
    val d = tmpDir("pin_to_singer_")
    Exporter.toSinger(frame, "t", s"$d/a", Seq("id"), env = Map.empty)
    assert(read(s"$d/a/data.singer") === StringSchema + StringTopLevelRecords + State)
    Exporter.toSinger(frame, "t", s"$d/b", Seq("id"), keepNullFields = true, env = Map.empty)
    assert(read(s"$d/b/data.singer") === StringSchema + StringKeepRecords + State)
    Exporter.toSinger(frame, "t", s"$d/c", Seq("id"), trimNestedNulls = true, env = Map.empty)
    assert(read(s"$d/c/data.singer") === StringSchema + StringTrimRecords + State)
  }

  test("Exporter.export pins its bytes: single file and distributed agree") {
    val d = tmpDir("pin_export_")
    Exporter.export(frame, "t", d, keyProperties = Seq("id"), env = Map.empty)
    assert(read(s"$d/t.singer") === ObjectSchemaNoEmpty + TopLevelRecords + State)
    val dd = tmpDir("pin_export_dist_")
    Exporter.export(frame, "t", dd, keyProperties = Seq("id"), singleFile = false,
      env = Map.empty)
    assert(readDistributed(s"$dd/t") === ObjectSchemaNoEmpty + TopLevelRecords + State)
  }

  test("api toSinger pins its bytes (reference-default nulls)") {
    import graft.api._
    val out = s"${tmpDir("pin_api_")}/t.singer"
    frame.toSinger("t", out, Seq("id"))
    assert(read(out) === ObjectSchema + TopLevelRecords + State)
  }

  test("streamingSinger pins its bytes; its RECORD lines equal Exporter.toSinger(allowObjects = true)'s") {
    val d = tmpDir("pin_stream_")
    frame.write.parquet(s"$d/src")
    val stream = Streaming.readParquetStream(spark, s"$d/src", frame.schema)
    Streaming.runAvailableNow(
      Streaming.streamingSinger(stream, "t", s"$d/live.singer", Seq("id")), s"$d/ckpt")
    val live = read(s"$d/live.singer")
    assert(live === ObjectSchema + TopLevelRecords + State)
    Exporter.toSinger(frame, "t", s"$d/batch", Seq("id"), allowObjects = true, env = Map.empty)
    assert(records(live) === records(read(s"$d/batch/data.singer")))
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.export.Exporter
import graft.operators._
import graft.sources.GsReader
import graft.streaming.Streaming
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed-loop workload: inputs for op `i` are staged by `prepare`,
  * `op` is the timed call sequence, `check` verifies its outputs. Only
  * `op` is timed; `prepare` and `check` run outside the measured latency. */
trait Workload {
  def setup(): Unit
  def prepare(i: Int): Unit
  /** Runs op `i` and returns the input rows it completed. */
  def op(i: Int, t: Tracer): Long
  /** Errors found in op `i`'s outputs, and per-op figures for the trace. */
  def check(i: Int): (Seq[String], Map[String, Double])
}

object Workload {
  val names: Seq[String] = Seq("etl_sync", "index_graph")

  /** The per-layer figures some workload's `check` reports. */
  val observed: Seq[String] = Seq("singer.bytes_out", "singer.records", "export.bytes_out",
    "index.store_bytes", "index.novel_frac")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload = name match {
    case "etl_sync"    => new EtlSync(spark, work, seed)
    case "index_graph" => new Sequential(new IndexIngest(spark, work, seed), new GraphRounds(spark, work, seed))
  }
}

/** Ops of several workloads run back to back as one op. */
final class Sequential(parts: Workload*) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def prepare(i: Int): Unit = parts.foreach(_.prepare(i))
  def op(i: Int, t: Tracer): Long = parts.map(_.op(i, t)).sum
  def check(i: Int): (Seq[String], Map[String, Double]) = {
    val r = parts.map(_.check(i))
    (r.flatMap(_._1), r.map(_._2).reduce(_ ++ _))
  }
}

/** Local-file helpers for checks. */
object Io {
  private val json = new ObjectMapper()

  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def bytes(dir: Path): Long = files(dir).map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }

  private def parts(dir: Path): Seq[Path] =
    files(dir).filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }

  /** Row count of a parquet dataset from its footers. */
  def parquetCount(dir: Path, spark: SparkSession): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    parts(dir).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(p.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Singer messages: one JSON object per line. */
  def singer(lines: Seq[String]): Seq[JsonNode] = lines.filter(_.nonEmpty).map(json.readTree)

  /** Errors unless `msgs` is one SCHEMA, `records` RECORDs, then one STATE. */
  def singerShape(msgs: Seq[JsonNode], records: Int): Seq[String] = {
    val types = msgs.map(_.path("type").asText())
    val ok = types.nonEmpty && types.head == "SCHEMA" && types.last == "STATE" &&
      types.length == records + 2 && types.slice(1, types.length - 1).forall(_ == "RECORD")
    if (ok) Nil
    else Seq(s"singer output is not 1 SCHEMA + $records RECORD + 1 STATE: " +
      types.groupBy(identity).map { case (k, v) => s"$k=${v.size}" }.mkString(","))
  }
}

/** gluestick's own lifecycle: a large batch through catalog-typed CSV read,
  * row hash change detection, explode, mapping with a lookup, snapshot
  * upsert, Singer and parquet export of the snapshot; then a small
  * micro-batch of line changes drained from a watched directory through
  * the streaming upsert and Singer sinks into a second snapshot. */
final class EtlSync(spark: SparkSession, work: Path, seed: Long) extends Workload {
  private val NewPerOp = 150
  private val Updates = 60
  private val Resends = 15
  private val Key = Seq("invoice_id", "line_num")

  private val root = work.resolve("etl")
  private val catalog = root.resolve("catalog.json")
  private val store = new SnapshotStore(spark, root.resolve("snapshots").toString)
  private var customers: DataFrame = _
  private def inDir(i: Int) = root.resolve(s"in/op$i")
  private def outDir(i: Int) = root.resolve(s"out/op$i")

  private val mappingJson =
    """{"invoice_id": "Id", "line_num": "Line Detail.LineNum", "customer_id": "CustomerId",
      | "customer_name": {"pick": {"objects": "Customer", "id_field": "CustomerId",
      |   "filter_ids": "rec.CustomerId", "target_fields": "Name"}},
      | "doc_number": "DocNumber", "txn_date": "TxnDate", "status": "Status",
      | "item": "Line Detail.ItemId", "qty": "Line Detail.Qty", "amount": "Line Detail.Amount"}""".stripMargin

  private final case class Expected(customerId: Long, docNumber: String, status: String,
      item: String, qty: Long, cents: Long)
  private val model = mutable.Map[(Long, Long), Expected]()
  private var batch: Seq[Gen.Invoice] = Nil

  private val LiveFresh = 20
  private val LiveUpdates = 10
  private val Live = "InvoiceLineLive"
  private val watch = root.resolve("live/in")
  private val liveSinger = root.resolve(s"live/$Live.singer")
  private val liveSchema = StructType(Seq(
    StructField("invoice_id", LongType), StructField("line_num", LongType),
    StructField("item", StringType), StructField("qty", LongType),
    StructField("amount", DoubleType), StructField("status", StringType)))
  private val liveModel = mutable.Map[(Long, Long), Gen.LiveRow]()
  private var live: Seq[Gen.LiveRow] = Nil
  /** Size of the streamed Singer file before the current op. */
  private var liveSingerBefore = 0L

  def setup(): Unit = {
    Files.createDirectories(root)
    Files.write(catalog,
      """{"streams": [{"stream": "Invoice", "tap_stream_id": "Invoice",
        |  "schema": {"type": "object", "properties": {
        |    "Id": {"type": ["integer"]}, "CustomerId": {"type": ["integer"]},
        |    "DocNumber": {"type": ["string"]},
        |    "TxnDate": {"type": ["string"], "format": "date-time"},
        |    "TotalAmt": {"type": ["number"]}, "Status": {"type": ["string"]},
        |    "Line Detail": {"type": ["string"]}}},
        |  "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["Id"]}}]}]}""".stripMargin
        .getBytes(UTF_8))
    import spark.implicits._
    val custDir = root.resolve("customers").toString
    (0 until Gen.Customers).map(c => (c.toLong, Gen.customerName(c))).toDF("CustomerId", "Name")
      .coalesce(1).write.parquet(custDir)
    customers = spark.read.parquet(custDir)
    Files.createDirectories(watch)
  }

  def prepare(i: Int): Unit = {
    batch = Gen.invoiceBatch(seed, i, NewPerOp, Updates, Resends)
    val dir = Files.createDirectories(inDir(i))
    Files.write(dir.resolve(f"Invoice-20240301T${i / 3600}%02d${i / 60 % 60}%02d${i % 60}%02d.csv"),
      Gen.invoiceCsv(batch).getBytes(UTF_8))
    for (inv <- batch; l <- inv.lines)
      model((inv.id, l.num.toLong)) = Expected(inv.customerId.toLong, inv.docNumber, inv.status,
        l.item, l.qty.toLong, l.cents)

    // the micro-batch lands in the watched directory as one complete file
    import spark.implicits._
    live = Gen.liveBatch(seed, i, LiveFresh, LiveUpdates)
    val stage = root.resolve(s"live/stage/op$i")
    live.map(r => (r.invoiceId, r.lineNum, r.item, r.qty, r.amount, r.status))
      .toDF(liveSchema.fieldNames.toSeq: _*).coalesce(1).write.parquet(stage.toString)
    val part = Io.files(stage).find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
    Files.move(part, watch.resolve(f"batch-$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    Io.deleteTree(stage)
    for (r <- live) liveModel((r.invoiceId, r.lineNum)) = r
    liveSingerBefore = if (Files.exists(liveSinger)) Files.size(liveSinger) else 0L
  }

  def op(i: Int, t: Tracer): Long = {
    val reader = new GsReader(spark, inDir(i).toString, Some(catalog.toString))
    val invoices = t.span("sources") { reader.get("Invoice", catalogTypes = true).get }
    val changed = t.span("snapshot") { Snapshot.dropRedundant(store, "Invoice", invoices, Seq("Id")) }
    val lines = t.span("explode") { Explode.explodeJsonToRows(changed, "Line Detail") }
    val mapped = t.span("mapping") { Mapping.mapFields(lines, mappingJson, Map("Customer" -> customers)) }
    val snap = t.span("snapshot") { Snapshot.snapshotRecords(store, "InvoiceLine", mapped, Key) }
    t.span("singer") {
      Exporter.export(snap, "InvoiceLine", outDir(i).toString, "singer", keyProperties = Key,
        env = Map.empty)
    }
    t.span("export") {
      Exporter.export(snap, "InvoiceLine", outDir(i).toString, "parquet", env = Map.empty)
    }
    val changes = Streaming.readParquetStream(spark, watch.toString, liveSchema)
    t.span("streaming.upsert") {
      Streaming.runAvailableNow(Streaming.streamingUpsert(changes, store, Live, Key),
        root.resolve("live/checkpoint-upsert").toString)
    }
    t.span("streaming.singer") {
      Streaming.runAvailableNow(
        Streaming.streamingSinger(changes, Live, liveSinger.toString, keyProperties = Key),
        root.resolve("live/checkpoint-singer").toString)
    }
    (batch.size + live.size).toLong
  }

  def check(i: Int): (Seq[String], Map[String, Double]) = {
    val singerFile = outDir(i).resolve("InvoiceLine.singer")
    val msgs = Io.singer(Files.readAllLines(singerFile, UTF_8).asScala.toSeq)
    val records = msgs.filter(_.path("type").asText() == "RECORD").map(_.path("record"))
    val errors = mutable.ArrayBuffer[String]()
    errors ++= Io.singerShape(msgs, model.size)
    val seen = mutable.Set[(Long, Long)]()
    for (r <- records) {
      val k = (r.path("invoice_id").asLong(), r.path("line_num").asLong())
      if (!seen.add(k)) errors += s"duplicate snapshot key $k"
      model.get(k) match {
        case None => errors += s"snapshot key $k was never written"
        case Some(e) =>
          val ok = r.path("customer_id").asLong() == e.customerId &&
            r.path("customer_name").asText() == Gen.customerName(e.customerId.toInt) &&
            r.path("doc_number").asText() == e.docNumber && r.path("status").asText() == e.status &&
            r.path("item").asText() == e.item && r.path("qty").asLong() == e.qty &&
            math.abs(r.path("amount").asDouble() * 100 - e.cents) < 1e-6
          if (!ok) errors += s"snapshot key $k holds $r, last written $e"
      }
    }
    val exported = Io.parquetCount(outDir(i).resolve("InvoiceLine"), spark)
    if (exported != model.size) errors += s"parquet export has $exported rows, snapshot ${model.size}"
    val stored = Io.parquetCount(Path.of(store.path("InvoiceLine").toUri.getPath), spark)
    if (stored != model.size) errors += s"snapshot store has $stored rows, expected ${model.size}"
    val obs = Map(
      "singer.bytes_out" -> Files.size(singerFile).toDouble,
      "singer.records" -> records.size.toDouble,
      "export.bytes_out" -> Io.bytes(outDir(i).resolve("InvoiceLine")).toDouble)
    errors ++= checkLive()
    Io.deleteTree(inDir(i))
    Io.deleteTree(outDir(i))
    (errors.take(5).toSeq, obs)
  }

  /** The streamed snapshot holds every key's last-written row, and the
    * Singer file grew by one SCHEMA, the micro-batch's RECORDs, one STATE. */
  private def checkLive(): Seq[String] = {
    val errors = mutable.ArrayBuffer[String]()
    def matches(k: (Long, Long), item: String, qty: Long, amount: Double, status: String) = {
      val e = liveModel(k)
      item == e.item && qty == e.qty && math.abs(amount * 100 - e.cents) < 1e-6 && status == e.status
    }
    val stored = store.read(Live).map(_.collect().toSeq).getOrElse(Nil)
    if (stored.size != liveModel.size)
      errors += s"streamed snapshot has ${stored.size} rows, expected ${liveModel.size}"
    for (r <- stored) {
      val k = (r.getAs[Long]("invoice_id"), r.getAs[Long]("line_num"))
      if (!liveModel.contains(k)) errors += s"streamed snapshot key $k was never written"
      else if (!matches(k, r.getAs[String]("item"), r.getAs[Long]("qty"), r.getAs[Double]("amount"),
          r.getAs[String]("status")))
        errors += s"streamed snapshot key $k holds $r, last written ${liveModel(k)}"
    }
    val bytes = Files.readAllBytes(liveSinger)
    val appended = new String(bytes, liveSingerBefore.toInt, bytes.length - liveSingerBefore.toInt, UTF_8)
    val msgs = Io.singer(appended.split("\n").toSeq)
    errors ++= Io.singerShape(msgs, live.size)
    val keys = msgs.filter(_.path("type").asText() == "RECORD").map(_.path("record")).map { r =>
      val k = (r.path("invoice_id").asLong(), r.path("line_num").asLong())
      if (liveModel.contains(k) && !matches(k, r.path("item").asText(), r.path("qty").asLong(),
          r.path("amount").asDouble(), r.path("status").asText()))
        errors += s"streamed Singer record $r, expected ${liveModel(k)}"
      k
    }
    if (keys.toSet != live.map(r => (r.invoiceId, r.lineNum)).toSet)
      errors += "streamed Singer records are not the micro-batch's keys"
    errors.toSeq
  }
}

/** The postings-index lifecycle over `BucketedSnapshotStore`: each op
  * ingests a document batch into a `NearDupIndex` and a name batch into a
  * `FuzzyIndex`, both carrying planted copies of earlier batches, then
  * probes a fixed query set read-only; every [[CompactEvery]]-th op also
  * compacts both indexes. Many small jobs, few rows. */
final class IndexIngest(spark: SparkSession, work: Path, seed: Long) extends Workload {
  private val FreshDocs = 24
  private val ExactCopies = 3
  private val NearCopies = 3
  private val FreshNames = 24
  private val NameEdits = 6
  private val Queries = 6
  private val CompactEvery = 4
  private val Threshold = 0.55
  private val ShingleSize = 3

  private val docDir = work.resolve("index/docs")
  private val nameDir = work.resolve("index/names")
  private val nearDup = new NearDupIndex(spark, docDir.toString, threshold = Threshold,
    shingleSize = ShingleSize, numBuckets = 8)
  private val fuzzy = new FuzzyIndex(spark, nameDir.toString, maxDist = 1, numBuckets = 8)

  /** What the indexes hold: the texts and names found novel so far. */
  private val docsIn = mutable.ArrayBuffer[(Long, Set[String])]()
  private val namesIn = mutable.ArrayBuffer[(Long, String)]()
  private var queries: Seq[Gen.Doc] = Nil
  private var queriesDf: DataFrame = _
  private var docs: Seq[Gen.Doc] = Nil
  private var names: Seq[Gen.Name] = Nil
  private var docsDf, namesDf: DataFrame = _
  private var got: (Set[Long], Set[Long], Seq[(Long, Long, Double)]) = _

  def setup(): Unit = {
    import spark.implicits._
    // near copies of op 0's first documents, which op 0 indexes
    queries = Gen.docBatch(seed, 1, FreshDocs, 0, 0).take(Queries).zip(Gen.docBatch(seed, 0, FreshDocs, 0, 0))
      .map { case (other, src) =>
        val words = src.text.split(' ')
        words(0) = other.text.split(' ')(0)
        Gen.Doc(-1 - src.id, words.mkString(" "), Some(src.id))
      }
    queriesDf = queries.map(d => (d.id, d.text)).toDF("id", "text")
  }

  def prepare(i: Int): Unit = {
    import spark.implicits._
    docs = Gen.docBatch(seed, i, FreshDocs, ExactCopies, NearCopies)
    names = Gen.nameBatch(seed, i, FreshNames, NameEdits)
    docsDf = docs.map(d => (d.id, d.text)).toDF("id", "text")
    namesDf = names.map(n => (n.id, n.name)).toDF("id", "name")
  }

  def op(i: Int, t: Tracer): Long = {
    val novelDocs = t.span("index.ingest") {
      nearDup.ingest(docsDf, "id", "text").select("id").collect().map(_.getLong(0)).toSet
    }
    val novelNames = t.span("index.ingest") {
      fuzzy.ingest(namesDf, "id", "name").select("id").collect().map(_.getLong(0)).toSet
    }
    val pairs = t.span("index.probe") {
      nearDup.probe(queriesDf, "id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    if (i % CompactEvery == CompactEvery - 1) t.span("index.compact") {
      nearDup.compact()
      fuzzy.compact()
    }
    got = (novelDocs, novelNames, pairs)
    (docs.size + names.size).toLong
  }

  def check(i: Int): (Seq[String], Map[String, Double]) = {
    val (novelDocs, novelNames, pairs) = got
    val errors = mutable.ArrayBuffer[String]()
    // what a complete index reports, recomputed against the benchmark's own
    // copy of the history: a document is novel unless some indexed text is
    // within the Jaccard threshold, a name unless one is within one edit
    val shingled = docs.map(d => d.id -> Reference.shingles(d.text, ShingleSize)).toMap
    val wantDocs = docs.filter(d => !docsIn.exists { case (_, h) =>
      Reference.jaccard(shingled(d.id), h) >= Threshold }).map(_.id).toSet
    val wantNames = names.filter(n => !namesIn.exists { case (_, h) =>
      Reference.levenshtein(n.name, h) <= 1 }).map(_.id).toSet
    for (d <- docs if d.source.nonEmpty && novelDocs(d.id))
      errors += s"planted copy ${d.id} of document ${d.source.get} was not reported"
    for (n <- names if n.source.nonEmpty && novelNames(n.id))
      errors += s"planted edit ${n.id} of name ${n.source.get} was not reported"
    if (novelDocs != wantDocs) errors += s"novel documents ${(novelDocs diff wantDocs).size} too many, " +
      s"${(wantDocs diff novelDocs).size} too few"
    if (novelNames != wantNames) errors += s"novel names ${(novelNames diff wantNames).size} too many, " +
      s"${(wantNames diff novelNames).size} too few"
    val history = docsIn.toMap ++ docs.filter(d => wantDocs(d.id)).map(d => d.id -> shingled(d.id))
    val reported = pairs.map(p => (p._1, p._2)).toSet
    for (q <- queries if !reported((q.id, q.source.get)))
      errors += s"probe did not report query ${q.id} against its source ${q.source.get}"
    for ((q, h, _) <- pairs) {
      val j = history.get(h).map(Reference.jaccard(Reference.shingles(queries.find(_.id == q).get.text,
        ShingleSize), _))
      if (!j.exists(_ >= Threshold)) errors += s"probe reported ($q, $h) at exact Jaccard $j"
    }
    docsIn ++= docs.filter(d => wantDocs(d.id)).map(d => d.id -> shingled(d.id))
    namesIn ++= names.filter(n => wantNames(n.id)).map(n => n.id -> n.name)
    val obs = Map(
      "index.store_bytes" -> (Io.bytes(docDir) + Io.bytes(nameDir)).toDouble,
      "index.novel_frac" -> (novelDocs.size + novelNames.size).toDouble / (docs.size + names.size))
    (errors.take(5).toSeq, obs)
  }
}

/** The iterative graph tier on small subgraphs, where each round's job
  * overhead, not data volume, sets the time. */
final class GraphRounds(spark: SparkSession, work: Path, seed: Long) extends Workload {
  private val Edges = 500
  private val Rounds = 3
  private val TopK = 10
  private val Pool = 48

  private final case class Draw(edges: IndexedSeq[(Long, Long)], rank: Map[Long, Double],
      label: Map[Long, Long], top: Seq[(Int, Long, Long, Long)])
  private var pool: IndexedSeq[Draw] = _
  private var draw: Draw = _
  private var edgesDf: DataFrame = _
  private var got: (Seq[(Long, Double)], Seq[(Long, Long)], Seq[(Int, Long, Long, Long)]) = _

  /** The subgraphs and their expected results, computed on the driver. */
  def setup(): Unit =
    pool = (0 until Pool).map { k =>
      val e = Gen.subgraph(seed, k, Edges)
      val both = Reference.bidirect(e)
      Draw(e, Reference.pageRank(both, Rounds), Reference.labelPropagation(both, Rounds),
        Reference.topTriangles(e, TopK))
    }

  def prepare(i: Int): Unit = {
    import spark.implicits._
    draw = pool(i % Pool)
    edgesDf = draw.edges.toDF("src", "dst")
  }

  def op(i: Int, t: Tracer): Long = {
    val rank = t.span("graph.pagerank") {
      Graph.pageRank(Graph.bidirect(edgesDf, "src", "dst"), "src", "dst", rounds = Rounds)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val label = t.span("graph.label_prop") {
      Graph.labelPropagation(Graph.bidirect(edgesDf, "src", "dst"), "src", "dst", rounds = Rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val top = t.span("graph.triangles") {
      Graph.triangleCounts(edgesDf, "src", "dst", topK = TopK)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    }
    got = (rank, label, top)
    draw.edges.size.toLong
  }

  def check(i: Int): (Seq[String], Map[String, Double]) = {
    val (rank, label, top) = got
    val errors = mutable.ArrayBuffer[String]()
    val rm = rank.toMap
    if (rm.keySet != draw.rank.keySet || rank.size != rm.size) errors += "pageRank node set differs"
    else for ((n, want) <- draw.rank if math.abs(rm(n) - want) > 1e-9 * math.max(1.0, want))
      errors += s"pageRank($n) = ${rm(n)}, expected $want"
    if (label.toMap != draw.label || label.size != draw.label.size)
      errors += s"labelPropagation differs on ${draw.label.count { case (n, l) => !label.toMap.get(n).contains(l) }} nodes"
    if (top != draw.top) errors += s"triangleCounts $top, expected ${draw.top}"
    (errors.take(5).toSeq, Map.empty)
  }
}

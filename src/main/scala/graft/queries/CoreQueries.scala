package graft
package queries

import graft.operators._
import graft.schema.{CatalogReader, SingerSchema}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Query specs of the Core tier: gluestick's own operator surface (SURVEY
  * §1–§2): catalog-typed sources, projections, explode and compress, the
  * mapping DSL, snapshots and the snapshot stores, Singer serialization, and
  * the store and layout utilities built on them. */
private[graft] object CoreQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── §2.1 sources: catalog-typed read ─────────────────────────────
    QuerySpec("q01_catalog_typed_read", (s, dir) => {
      val cat = CatalogReader.fromJson(eventsCatalogJson)("events")
      val reader = new graft.sources.GsReader(s, dir)
      val typed = reader.castToCatalog(T(s, dir, "events"), cat)
      typed.select(col("event_id"), col("user_id"), col("value"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS user_id, value
        |FROM events ORDER BY event_id""".stripMargin)),
    // ── §2.3 projections: rename ─────────────────────────────────────
    QuerySpec("q02_rename_project", (s, dir) => {
      Ops.rename(T(s, dir, "customer"),
          Map("c_custkey" -> "id", "c_name" -> "name", "c_acctbal" -> "balance"))
        .orderBy("id")
    }, oracle = Some(
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance
        |FROM customer ORDER BY id""".stripMargin)),
    // ── §2.6 explode object → columns ────────────────────────────────
    QuerySpec("q03_explode_json_to_cols", (s, dir) => {
      Explode.explodeJsonToCols(T(s, dir, "events"), "props")
        .select(col("event_id"), col("`props.k`"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS "props.k"
        |FROM events ORDER BY event_id""".stripMargin)),
    // ── §2.6 explode array-of-objects → rows (python-literal input) ──
    QuerySpec("q04_explode_json_to_rows", (s, dir) => {
      val withLine = T(s, dir, "events").withColumn("line",
        concat(lit("[{'n': 1, 'v': '"), col("event_type"),
          lit("'}, {'n': 2, 'v': '"), col("event_type"), lit("'}]")))
      // keys are uniform across rows → sampled inference is exact and
      // skips a full scan (PLANS.md scale note)
      Explode.explodeJsonToRows(withLine, "line", samplingRatio = 0.2)
        .select(col("event_id"), col("`line.n`"), col("`line.v`"))
        .orderBy(col("event_id"), col("`line.n`"))
    }, oracle = Some(
      """SELECT event_id, n AS "line.n", event_type AS "line.v"
        |FROM events CROSS JOIN (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT))) t(n)
        |ORDER BY event_id, n""".stripMargin)),
    // ── §2.6 json tuple → cols ───────────────────────────────────────
    QuerySpec("q05_json_tuple_to_cols", (s, dir) => {
      val withAttr = T(s, dir, "events").withColumn("attr",
        concat(lit("{'Name': '"), col("event_type"),
          lit("', 'Value': "), col("user_id"), lit("}")))
      Explode.jsonTupleToCols(withAttr, "attr")
        .select(col("event_id"), col("`attr.Name`"), col("`attr.Value`"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, event_type AS "attr.Name",
        |CAST(user_id AS VARCHAR) AS "attr.Value"
        |FROM events ORDER BY event_id""".stripMargin)),
    // ── §2.6/2.7 compress rows → nested col (inverse explode) ────────
    QuerySpec("q06_compress_rows_to_col", (s, dir) => {
      val li = T(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"),
          col("l_linenumber").as("line.l_linenumber"),
          col("l_quantity").as("line.l_quantity"))
      Explode.compressRowsToCol(li, "line", Seq("l_orderkey"))
        .select(col("l_orderkey"), to_json(col("line")).as("line"))
        .orderBy("l_orderkey")
    }, oracle = Some(
      """SELECT l_orderkey, '[' || string_agg(
        |  CAST(json_object('l_linenumber', l_linenumber,
        |                   'l_quantity', l_quantity) AS VARCHAR),
        |  ',' ORDER BY l_linenumber, l_quantity) || ']' AS line
        |FROM lineitem WHERE l_orderkey < 100
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),
    // ── §2.7 snapshot upsert (merge-by-pk, keep-last) ────────────────
    QuerySpec("q07_snapshot_upsert", (s, dir) => {
      val orders = T(s, dir, "orders")
      val snap = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val incoming = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("o_totalprice"))
      Snapshot.upsert(Some(snap), incoming, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
        |inc AS (
        |  SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0)
        |SELECT * FROM inc
        |UNION ALL
        |SELECT * FROM snap WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)
        |ORDER BY o_orderkey""".stripMargin)),
    // ── §2.7 hash CDC (drop_redundant) ───────────────────────────────
    QuerySpec("q08_drop_redundant_cdc", (s, dir) => {
      val tmp = tmpWorkDir("gs_cdc_")
      val store = new SnapshotStore(s, tmp)
      val base = T(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
      // prime the hash snapshot with the unmodified table
      Snapshot.dropRedundant(store, "customer", base, Seq("c_custkey")).count()
      val changed = base.withColumn("c_mktsegment",
        when(col("c_mktsegment") === "BUILDING", "BUILDINGX").otherwise(col("c_mktsegment")))
      Snapshot.dropRedundant(store, "customer", changed, Seq("c_custkey"), updatedFlag = true)
        .select("c_custkey", "c_mktsegment", "_updated")
        .orderBy("c_custkey")
    }, bench = Some((s, dir) => {
      val tmp = tmpWorkDir("gs_cdc_")
      val store = new SnapshotStore(s, tmp)
      val base = T(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
      Snapshot.dropRedundant(store, "customer", base, Seq("c_custkey")).count()
      val changed = base.withColumn("c_mktsegment",
        when(col("c_mktsegment") === "BUILDING", "BUILDINGX").otherwise(col("c_mktsegment")))
      () => Snapshot.dropRedundant(store, "customer", changed, Seq("c_custkey"),
          updatedFlag = true)
        .select("c_custkey", "c_mktsegment", "_updated")
        .orderBy("c_custkey")
    }), oracle = Some(
      """SELECT c_custkey, 'BUILDINGX' AS c_mktsegment, true AS _updated
        |FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin)),
    // ── §2.4 id backfill join (merge_id_from_snapshot) ───────────────
    QuerySpec("q09_merge_id_from_snapshot", (s, dir) => {
      val df = T(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast(StringType).as("externalId"))
      val ids = T(s, dir, "nation")
        .select(col("n_nationkey").cast(StringType).as("InputId"),
          (col("n_nationkey") + 1000).as("RemoteId"))
      Snapshot.mergeIdFromSnapshot(df, ids, targetCol = "Id")
        .select("c_custkey", "Id").orderBy("c_custkey")
    }, oracle = Some(
      """SELECT c_custkey, n_nationkey + 1000 AS "Id"
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin)),
    // ── §2.3 pluck_fields (filter + project) ─────────────────────────
    QuerySpec("q10_pluck_fields", (s, dir) => {
      val ids = (1 to 200 by 7).map(_.asInstanceOf[Any])
      Ops.pluckFields(T(s, dir, "part"), "p_partkey", ids,
          Seq("p_partkey", "p_name", "p_brand"))
        .orderBy("p_partkey")
    }, oracle = Some(
      ("""SELECT p_partkey, p_name, p_brand FROM part WHERE p_partkey IN (""" +
        (1 to 200 by 7).mkString(", ") + ") ORDER BY p_partkey"))),
    // ── §2.5 mapping DSL with "pick" lookup join ─────────────────────
    QuerySpec("q11_map_fields_pick", (s, dir) => {
      val mapping =
        """{"id": "c_custkey", "name": "c_name",
          |"nation_name": {"pick": {"objects": "nation",
          |  "id_field": "n_nationkey", "filter_ids": "rec.c_nationkey",
          |  "target_fields": "n_name"}}}""".stripMargin
      Mapping.mapFields(T(s, dir, "customer"), mapping,
          Map("nation" -> T(s, dir, "nation")), project = true)
        .orderBy("id")
    }, oracle = Some(
      """SELECT c_custkey AS id, c_name AS name, n_name AS nation_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY id""".stripMargin)),
    // ── §2.5 process_custom_fields ───────────────────────────────────
    QuerySpec("q12_custom_fields", (s, dir) => {
      Ops.processCustomFields(T(s, dir, "part"), Seq("p_brand", "p_type"), "cf")
        .select(col("p_partkey"), to_json(col("cf")).as("cf"))
        .orderBy("p_partkey")
    }, oracle = Some(
      """SELECT p_partkey, CAST(json_array(
        |  json_object('name', 'p_brand', 'value', p_brand),
        |  json_object('name', 'p_type', 'value', p_type)) AS VARCHAR) AS cf
        |FROM part ORDER BY p_partkey""".stripMargin)),
    // ── §2.7 row hash (MD5, sorted cols, canonical strings) ──────────
    QuerySpec("q13_row_hash", (s, dir) => {
      val c = T(s, dir, "customer")
      c.select(col("c_custkey"),
          Snapshot.rowHash(c, Seq("c_name", "c_mktsegment")).as("hash"))
        .orderBy("c_custkey")
    }, oracle = Some(
      """SELECT c_custkey, md5(c_mktsegment || c_name) AS hash
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // ── §2.9 datetime canonicalization (ISO-8601 micros + Z) ─────────
    QuerySpec("q14_localize_datetime", (s, dir) => {
      T(s, dir, "events")
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("iso"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id,
        |strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS iso
        |FROM events ORDER BY event_id""".stripMargin)),
    // ── §1.4 schema inference → Singer types ─────────────────────────
    QuerySpec("q15_singer_schema_gen", (s, dir) => {
      val schema = T(s, dir, "lineitem").schema
      val rows = schema.fields.toSeq.map { f =>
        val prop = SingerSchema.dataTypeToProperty(f.dataType)
        val tpe = prop.get("type").get(0).asText()
        val fmt = Option(prop.get("format")).map(_.asText()).getOrElse("")
        (f.name, tpe, fmt)
      }
      import s.implicits._
      rows.toDF("column_name", "singer_type", "format").orderBy("column_name")
    }, oracle = Some({
      val rows = Seq(
        ("l_orderkey", "integer", ""), ("l_partkey", "integer", ""),
        ("l_suppkey", "integer", ""), ("l_linenumber", "integer", ""),
        ("l_quantity", "number", ""), ("l_extendedprice", "number", ""),
        ("l_discount", "number", ""), ("l_tax", "number", ""),
        ("l_returnflag", "string", ""), ("l_linestatus", "string", ""),
        ("l_shipdate", "string", "date-time"))
      rows.map { case (c, t, f) =>
        s"SELECT '$c' AS column_name, '$t' AS singer_type, '$f' AS format"
      }.mkString("", " UNION ALL ", " ORDER BY column_name")
    })),
    // ── §2.2 singer sink record serialization ────────────────────────
    QuerySpec("q30_singer_records", (s, dir) => {
      val ev = T(s, dir, "events").filter(col("event_id") < 100)
        .select("event_id", "event_type", "value")
      ev.select(col("event_id"),
          graft.singer.SingerWriter.recordLine(ev, "events").as("line"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id,
        |  '{"type": "RECORD", "stream": "events", "record": ' ||
        |  CAST(json_object('event_id', event_id, 'event_type', event_type,
        |    'value', value) AS VARCHAR) || '}' AS line
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin)),
    // ── §2.6 parse_df_cols: catalog-typed object parsing ─────────────
    QuerySpec("q31_parse_df_cols", (s, dir) => {
      import org.apache.spark.sql.types._
      val cat = CatalogReader.StreamCatalog("events",
        StructType(Seq(StructField("props",
          StructType(Seq(StructField("k", LongType)))))), Nil, Nil)
      Explode.parseDfCols(T(s, dir, "events"), cat)
        .select(col("event_id"), col("props.k").as("k"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
    // ── §2.5 pickregex through the mapping DSL ───────────────────────
    QuerySpec("q32_pickregex_cf", (s, dir) => {
      val mapping =
        """{"pk": "p_partkey",
          |"CF": {"pickregex": {"regex_field": "^p_(brand|type)$",
          |                     "return_as_cf": true}}}""".stripMargin
      Mapping.mapFields(T(s, dir, "part"), mapping)
        .select(col("pk"), to_json(col("CF")).as("CF"))
        .orderBy("pk")
    }, oracle = Some(
      """SELECT p_partkey AS pk, CAST(json_array(
        |  json_object('name', 'p_brand', 'value', p_brand),
        |  json_object('name', 'p_type', 'value', p_type)) AS VARCHAR) AS CF
        |FROM part ORDER BY pk""".stripMargin)),
    // ── scale: bucketed snapshot upsert (delta-bucket rewrite only) ──
    QuerySpec("q38_bucketed_upsert", (s, dir) => {
      val store = new BucketedSnapshotStore(s,
        tmpWorkDir("gs_bsnap_"), numBuckets = 32)
      val orders = T(s, dir, "orders")
      val snap = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val incoming = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("o_totalprice"))
      store.write("orders", snap, Seq("o_orderkey"))
      store.upsert("orders", incoming, Seq("o_orderkey"))
      store.read("orders").get.orderBy("o_orderkey")
    }, bench = Some((s, dir) => {
      val store = new BucketedSnapshotStore(s,
        tmpWorkDir("gs_bsnap_"), numBuckets = 32)
      val orders = T(s, dir, "orders")
      val snap = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val incoming = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("o_totalprice"))
      store.write("orders", snap, Seq("o_orderkey"))
      () => {
        // the extract is key-unique (a filter over a pk column), so the
        // bench takes the production fast path; the sf0.01 CORRECTNESS
        // gate keeps exercising the general dedup path via `queries`
        store.upsert("orders", incoming, Seq("o_orderkey"),
          assumeUniqueKeys = true)
        store.read("orders").get.orderBy("o_orderkey")
      }
    }), oracle = Some(
      // same merge semantics as q07, exercised through the bucketed store
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
        |inc AS (
        |  SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0)
        |SELECT * FROM inc
        |UNION ALL
        |SELECT * FROM snap WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)
        |ORDER BY o_orderkey""".stripMargin)),
    // ── singer reference-default nulls (oracle: DuckDB rebuilds the same
    //    RECORD lines — concat_ws skips null fragments exactly like the
    //    isNotNull-gated fragment build; nested nulls survive via
    //    to_json(struct_pack)) ──────────────────────────────────────────
    QuerySpec("q49_singer_nested_nulls", (s, dir) => {
      val c = T(s, dir, "customer")
      val base = c.select(
        col("c_custkey"),
        when(col("c_custkey") % 3 === 0, col("c_name")).as("name"),
        when(col("c_custkey") % 5 =!= 0,
          struct(col("c_nationkey").as("nk"),
            when(col("c_custkey") % 2 === 0, col("c_mktsegment")).as("seg"))).as("obj"))
      base.select(col("c_custkey"),
          graft.singer.SingerWriter.recordLine(base, "t",
            nullMode = graft.singer.SingerWriter.NullMode.DropTopLevel).as("line"))
        .orderBy("c_custkey")
    }, oracle = Some(
      """SELECT c_custkey,
        |  '{"type": "RECORD", "stream": "t", "record": {' ||
        |  concat_ws(',',
        |    '"c_custkey":' || to_json(c_custkey),
        |    CASE WHEN c_custkey % 3 = 0 THEN '"name":' || to_json(c_name) END,
        |    CASE WHEN c_custkey % 5 <> 0 THEN '"obj":' || to_json(struct_pack(
        |      nk := c_nationkey,
        |      seg := CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment END)) END
        |  ) || '}}' AS line
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // ── use_csv snapshot lifecycle: prime a CSV snapshot, upsert a delta
    //    through snapshotRecords(useCsv=true), read the committed CSV back
    //    (header + inferSchema round-trip ⇒ explicit casts for schema
    //    parity). Same merge math as q07's oracle. ──────────────────────
    QuerySpec("q51_csv_snapshot_upsert", (s, dir) => {
      val store = new SnapshotStore(s,
        tmpWorkDir("gs_csvsnap_"))
      val orders = T(s, dir, "orders")
      val snap = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      store.write("orders", snap, useCsv = true)
      val incoming = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("o_totalprice"))
      Snapshot.snapshotRecords(store, "orders", incoming, Seq("o_orderkey"), useCsv = true)
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    }, bench = Some((s, dir) => {
      val store = new SnapshotStore(s,
        tmpWorkDir("gs_csvsnap_"))
      val orders = T(s, dir, "orders")
      val snap = orders.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      store.write("orders", snap, useCsv = true)
      val incoming = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1.0).as("o_totalprice"))
      () => Snapshot.snapshotRecords(store, "orders", incoming,
          Seq("o_orderkey"), useCsv = true)
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    }), oracle = Some(
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
        |inc AS (
        |  SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0)
        |SELECT * FROM inc
        |UNION ALL
        |SELECT * FROM snap WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)
        |ORDER BY o_orderkey""".stripMargin)),
    // ── bucketed store point lookup: readForKeys scans only the probed
    //    keys' buckets (oracle: plain semi-join over the primed snapshot) ─
    QuerySpec("q50_bucketed_point_lookup", (s, dir) => {
      import s.implicits._
      val store = new BucketedSnapshotStore(s,
        tmpWorkDir("gs_bpl_"), numBuckets = 32)
      val snap = T(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      store.write("orders", snap, Seq("o_orderkey"))
      val keys = (1L to 2000L).toDF("o_orderkey")
      store.readForKeys("orders", keys, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }, bench = Some((s, dir) => {
      import s.implicits._
      val store = new BucketedSnapshotStore(s,
        tmpWorkDir("gs_bpl_"), numBuckets = 32)
      val snap = T(s, dir, "orders").filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      store.write("orders", snap, Seq("o_orderkey"))
      val keys = (1L to 2000L).toDF("o_orderkey")
      () => store.readForKeys("orders", keys, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }), oracle = Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 0 AND o_orderkey BETWEEN 1 AND 2000
        |ORDER BY o_orderkey""".stripMargin)),
    // ── §2.2 distributed Singer sink: executor-written RECORD parts,
    //    round-tripped through a text read-back (oracle: DuckDB rebuilds
    //    the same record lines — so part-file content, not just counts,
    //    is gated; the single-file writer shares recordLine, spec'd) ─────
    QuerySpec("q52_singer_distributed", (s, dir) => {
      val ev = T(s, dir, "events").filter(col("event_id") < 1000)
        .select("event_id", "event_type", "value")
      val out = tmpWorkDir("gs_dsinger_")
      graft.singer.SingerWriter.writeDistributed(ev.repartition(8), "events", out)
      s.read.text(s"$out/records")
        .select(get_json_object(col("value"), "$.record.event_id")
          .cast("bigint").as("event_id"), col("value").as("line"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id,
        |  '{"type": "RECORD", "stream": "events", "record": ' ||
        |  CAST(json_object('event_id', event_id, 'event_type', event_type,
        |    'value', value) AS VARCHAR) || '}' AS line
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin)),
    // Bloom-accelerated first-seen ingest: history = two committed
    // generations (write + upsert → per-bucket bloom sidecars); incoming
    // mixes already-seen ids with brand-new ones. The result is EXACT
    // (bloom clears definitely-new rows, an anti-join over only the
    // candidate buckets confirms the rest), so a plain SQL anti-join is a
    // faithful oracle no matter which rows the fpp tail routes to the
    // exact path.
    // ── scale: right-to-be-forgotten — targeted delete from the bucketed
    //    store under the same generation+manifest commit protocol as
    //    upsert: delete by pk (bucket-pruned) AND by a non-bucket column
    //    (scan discovery, affected-bucket rewrite), then a full read-back;
    //    a second upsert proves forgotten keys re-ingest as new (oracle:
    //    DuckDB replays the survivor set + the re-ingest arithmetic) ──────
    QuerySpec("q312_forget_store", (s, dir) => {
      val store = new BucketedSnapshotStore(s, tmpWorkDir("gs_forget_"),
        numBuckets = 16, keyBloomFpp = 0.01)
      val d = T(s, dir, "documents").select("doc_id", "source", "n_chars")
      store.write("docs", d, Seq("doc_id"))
      // RTBF wave 1: ids ≡ 0 (mod 7), by pk → bucket-pruned delete
      store.delete("docs", d.filter(col("doc_id") % 7 === 0)
        .select("doc_id"), Seq("doc_id"), Seq("doc_id"))
      // RTBF wave 2: every doc of one source, by a NON-pk column → the
      // scan-discovery path (prunable bucket columns absent from keys)
      val bySource = d.select("source").distinct().orderBy("source").limit(1)
      store.delete("docs", bySource, Seq("source"), Seq("doc_id"))
      // forgotten ids re-ingest as brand-new rows (sidecars rebuilt)
      store.upsert("docs", d.filter(col("doc_id") % 14 === 0)
        .select(col("doc_id"), col("source"),
          (col("n_chars") + 1000000L).as("n_chars")), Seq("doc_id"))
      store.read("docs").get.orderBy("doc_id")
    }, oracle = Some(
      """WITH ms AS (SELECT min(source) AS s FROM documents),
        |keep AS (SELECT doc_id, source, n_chars FROM documents
        |  WHERE doc_id % 7 <> 0 AND source <> (SELECT s FROM ms)),
        |re AS (SELECT doc_id, source,
        |    CAST(n_chars + 1000000 AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 14 = 0)
        |SELECT * FROM keep UNION ALL SELECT * FROM re
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("q71_incremental_dedup", (s, dir) => {
      val store = new BucketedSnapshotStore(s, tmpWorkDir("gs_bloom_"),
        numBuckets = 32, keyBloomFpp = 0.01)
      val d = T(s, dir, "documents")
      store.write("docs", d.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "source", "n_chars"), Seq("doc_id"))
      store.upsert("docs", d.filter(col("doc_id") % 7 === 0)
        .select("doc_id", "source", "n_chars"), Seq("doc_id"))
      val incoming = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("source"), col("n_chars")))
      store.incrementalNew("docs", incoming, Seq("doc_id"))
        .orderBy("doc_id")
    }, bench = Some((s, dir) => {
      // q71: the history build (write + upsert + bloom sidecars) is test
      // setup; the operator under measurement is the bloom-prefiltered
      // incremental ingest of a mixed dup/new batch.
      val store = new BucketedSnapshotStore(s, tmpWorkDir("gs_bloom_"),
        numBuckets = 32, keyBloomFpp = 0.01)
      val d = T(s, dir, "documents")
      store.write("docs", d.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "source", "n_chars"), Seq("doc_id"))
      store.upsert("docs", d.filter(col("doc_id") % 7 === 0)
        .select("doc_id", "source", "n_chars"), Seq("doc_id"))
      val incoming = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("source"), col("n_chars")))
      () => store.incrementalNew("docs", incoming, Seq("doc_id"))
        .orderBy("doc_id")
    }), oracle = Some(
      """WITH hist AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 0 OR doc_id % 7 = 0),
        |inc AS (
        |  SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, source, n_chars
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT i.doc_id, i.source, i.n_chars
        |FROM inc i WHERE i.doc_id NOT IN (SELECT doc_id FROM hist)
        |ORDER BY i.doc_id""".stripMargin)),
    // ── scale: corpus version diff — release auditing between corpus
    //    snapshots: per-source added/removed/changed counts + net token
    //    drift; the diff join shuffles (id, hash, ntok) only (oracle:
    //    DuckDB full-outer text compare) ──────────────────────────────────
    QuerySpec("q97_corpus_diff", (s, dir) => {
      val v1 = T(s, dir, "documents").select("doc_id", "source", "text")
      val kept = v1.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" revised"))).otherwise(col("text")))
      val added = v1.filter(col("doc_id") < 50)
        .select((col("doc_id") + 300000).as("doc_id"), col("source"),
          concat(lit("fresh content for doc "), col("doc_id")).as("text"))
      Diff.corpusDiffReport(v1, kept.unionByName(added),
          "doc_id", "source", "text")
        .orderBy("source")
    }, oracle = Some(
      """WITH v1 AS (SELECT doc_id, source, text FROM documents),
        |v2 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' revised' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, source,
        |    'fresh content for doc ' || doc_id AS text
        |  FROM documents WHERE doc_id < 50),
        |t1 AS (SELECT doc_id, source AS g1, text AS x1,
        |         len(string_split_regex(trim(lower(text)), '\s+')) AS n1 FROM v1),
        |t2 AS (SELECT doc_id, source AS g2, text AS x2,
        |         len(string_split_regex(trim(lower(text)), '\s+')) AS n2 FROM v2),
        |j AS (SELECT coalesce(g2, g1) AS source,
        |        CASE WHEN x1 IS NULL THEN 'added'
        |             WHEN x2 IS NULL THEN 'removed'
        |             WHEN x1 = x2 THEN 'unchanged' ELSE 'changed' END AS status,
        |        n1, n2
        |      FROM t1 FULL OUTER JOIN t2 ON t1.doc_id = t2.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(sum(coalesce(n2, 0) - coalesce(n1, 0)) AS BIGINT) AS token_delta
        |FROM j GROUP BY source ORDER BY source""".stripMargin)),
    // ── scale: small-files compaction plan — bin = exclusive-prefix-sum
    //    DIV target over the file listing, the q80 distributed-cumsum
    //    idiom + a bin rollup (oracle: DuckDB replays the cumsum) ──────────
    QuerySpec("q168_compaction_plan", (s, dir) => {
      Layout.compactionPlan(
          T(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", "n_chars", targetBytes = 10000L)
        .orderBy("bin")
    }, oracle = Some(
      """WITH c AS (SELECT doc_id, n_chars,
        |    CAST(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - n_chars AS excl
        |  FROM documents)
        |SELECT excl // 10000 AS bin, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_chars) AS BIGINT) AS total_bytes,
        |  min(doc_id) AS first_file, max(doc_id) AS last_file
        |FROM c GROUP BY 1 ORDER BY bin""".stripMargin)),
    // ── scale: snapshot diff report — added/removed/changed/unchanged
    //    between two pk-unique generations ("what did this load DO";
    //    full-reload-as-increment tell: removed ≈ n_old); key+hash-width
    //    full-outer join (oracle: DuckDB direct column comparison) ─────────
    QuerySpec("q225_snapshot_diff", (s, dir) => {
      val o = T(s, dir, "orders")
      val oldGen = o.filter(pmod(col("o_orderkey"), lit(101L)) =!= 0L)
      val newGen = o
        .filter(pmod(col("o_orderkey"), lit(97L)) =!= 0L)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(89L)) === 0L,
            col("o_totalprice") + lit(1.0)).otherwise(col("o_totalprice")))
      Snapshot.diffReport(oldGen, newGen, Seq("o_orderkey"))
    }, oracle = Some(
      """WITH oldg AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0),
        |newg AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |j AS (SELECT o.o_orderkey AS ko, n.o_orderkey AS kn,
        |    CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
        |      OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |      OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |      OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
        |      OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |    THEN 1 ELSE 0 END AS diff
        |  FROM oldg o FULL OUTER JOIN newg n
        |    ON o.o_orderkey = n.o_orderkey)
        |SELECT
        |  CAST(sum(CASE WHEN ko IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_old,
        |  CAST(sum(CASE WHEN kn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(sum(CASE WHEN ko IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS added,
        |  CAST(sum(CASE WHEN kn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed,
        |  CAST(sum(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
        |    AND diff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS changed,
        |  CAST(sum(CASE WHEN ko IS NOT NULL AND kn IS NOT NULL
        |    AND diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
        |FROM j""".stripMargin)),
    // ── scale: TPC-H Q17 shape (small-quantity revenue) — the correlated
    //    per-part AVG subquery becomes one per-part aggregate broadcast
    //    back; the threshold l_quantity < 0.5·avg compares EXACTLY as
    //    2·qty·cnt < sum (quantities are integer-valued — no cross-engine
    //    double-avg boundary risk); exact cents (oracle: DuckDB same
    //    integer form) ─────────────────────────────────────────────────────
    QuerySpec("q233_tpch_q17", (s, dir) => {
      val parts = T(s, dir, "part")
        .filter(col("p_brand") === "Brand#4" && col("p_size") <= 10)
        .select("p_partkey")
      val li = T(s, dir, "lineitem")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * lit(100.0)).cast("long")
            .as("price_cents"))
      val stats = li.groupBy(col("l_partkey").as("sp_partkey"))
        .agg(count(lit(1)).as("p_cnt"), sum("qty").as("p_sum_qty"))
      li.join(Ops.broadcastIfSmall(stats),
          col("l_partkey") === col("sp_partkey"))
        .filter(lit(2L) * col("qty") * col("p_cnt") < col("p_sum_qty"))
        .agg(sum("price_cents").as("total_cents"),
          count(lit(1)).as("n_rows"))
    }, oracle = Some(
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100.0) AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#4' AND p_size <= 10),
        |stats AS (
        |  SELECT l_partkey AS sp_partkey, CAST(count(*) AS BIGINT) AS p_cnt,
        |    sum(qty) AS p_sum_qty
        |  FROM li GROUP BY 1)
        |SELECT CAST(sum(price_cents) AS BIGINT) AS total_cents,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM li JOIN stats ON l_partkey = sp_partkey
        |WHERE 2 * qty * p_cnt < p_sum_qty""".stripMargin)),
    // ── scale: snapshot time travel — read the store AS OF the first
    //    committed version after a second-generation upsert changed and
    //    added rows (the audit/debug read every incremental pipeline
    //    eventually needs); versioned manifests make it one pinned read
    //    (oracle: DuckDB reconstructs generation 1 directly) ──────────────
    QuerySpec("q265_time_travel", (s, dir) => {
      val store = new BucketedSnapshotStore(s, tmpWorkDir("gs_tt_"),
        numBuckets = 16)
      val d = T(s, dir, "documents").select("doc_id", "source", "n_chars")
      store.write("docs", d.filter(col("doc_id") % 2 === 0), Seq("doc_id"))
      val v1 = store.manifestVersion("docs").get
      store.upsert("docs",
        d.filter(col("doc_id") % 3 === 0)
          .withColumn("n_chars", col("n_chars") + 1000000L),
        Seq("doc_id"))
      store.readAt("docs", v1).get.orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin)),
    // ── scale: cohort cumulative value — purchase cents per (signup
    //    cohort week, age week) with the running cumulative (the LTV
    //    table; q112's retention counts say who came back, this says what
    //    they were worth); exact cents, first-seen from a user-keyed min,
    //    cumsum over the cohorts×ages-sized frame only (oracle: DuckDB
    //    replay) ───────────────────────────────────────────────────────────
    QuerySpec("q268_cohort_value", (s, dir) => {
      val wk = lit(604800000000L)
      val m = unix_micros(col("ts").cast("timestamp"))
      val ev = T(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          ((m - pmod(m, wk)) / wk).cast("long").as("week"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      val cents = round(col("value") * lit(100.0)).cast("long")
      val cells = ev.filter(col("event_type") === "purchase")
        .join(Ops.broadcastIfSmall(cohort), Seq("user_id"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week"))
          .as("age_weeks"))
        .agg(sum(cents).as("purchase_cents"),
          countDistinct(col("user_id")).as("n_buyers"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort_week").orderBy(col("age_weeks").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      cells.withColumn("cum_cents", sum(col("purchase_cents")).over(w))
        .orderBy("cohort_week", "age_weeks")
    }, oracle = Some(
      """WITH ev AS (SELECT user_id, event_type, value,
        |    CAST((epoch_us(ts) - epoch_us(ts) % 604800000000)
        |      // 604800000000 AS BIGINT) AS week
        |  FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |cells AS (SELECT cohort_week, week - cohort_week AS age_weeks,
        |    CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
        |      AS purchase_cents,
        |    CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_buyers
        |  FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort_week, age_weeks, purchase_cents, n_buyers,
        |  CAST(sum(purchase_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY age_weeks
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents
        |FROM cells ORDER BY cohort_week, age_weeks""".stripMargin)),
    // ── scale: data-skipping pruning report — BEFORE paying for the
    //    re-layout, measure per-probe skippable-partition fractions under
    //    the candidate zorder layout vs the natural linear sort (exact
    //    rank-bucket partitions stand in for files; per-partition min/max
    //    stand in for footer stats) (oracle: DuckDB replays the Morton
    //    key, ranks, buckets, stats, and the overlap counting) ────────────
    QuerySpec("q298_pruning_report", (s, dir) => {
      import s.implicits._
      val li = T(s, dir, "lineitem")
        .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
      val probes = Seq(
        (0L, "l_partkey", 100L, 120L),
        (1L, "l_suppkey", 50L, 55L),
        (2L, "l_partkey", 1L, 400L),
        (3L, "l_suppkey", 300L, 310L))
        .toDF("probe_id", "col_name", "lo", "hi")
      Layout.pruningReport(li, "rid", Seq("l_partkey", "l_suppkey"),
          partitions = 32, probes = probes)
        .orderBy("layout", "probe_id")
    }, oracle = Some(
      s"""WITH s AS (SELECT min(l_partkey) AS mn0, max(l_partkey) AS mx0,
         |             min(l_suppkey) AS mn1, max(l_suppkey) AS mx1
         |           FROM lineitem),
         |base AS (SELECT l_orderkey * 10 + l_linenumber AS rid,
         |           l_partkey, l_suppkey FROM lineitem),
         |b AS (SELECT rid, l_partkey, l_suppkey,
         |        ((l_partkey - mn0) * 65536) // (mx0 - mn0 + 1) AS b0,
         |        ((l_suppkey - mn1) * 65536) // (mx1 - mn1 + 1) AS b1
         |      FROM base CROSS JOIN s),
         |z AS (SELECT rid, l_partkey, l_suppkey,
         |        CAST(${zInterleaveSql(2, 16)} AS BIGINT) AS k FROM b),
         |rz AS (SELECT l_partkey, l_suppkey,
         |         row_number() OVER (ORDER BY k, rid) AS rk,
         |         count(*) OVER () AS n FROM z),
         |pz AS (SELECT ((rk - 1) * 32) // n AS p, l_partkey, l_suppkey
         |       FROM rz),
         |rl AS (SELECT l_partkey, l_suppkey,
         |         row_number() OVER (ORDER BY l_partkey, rid) AS rk,
         |         count(*) OVER () AS n FROM base),
         |pl AS (SELECT ((rk - 1) * 32) // n AS p, l_partkey, l_suppkey
         |       FROM rl),
         |st AS (
         |  SELECT 'zorder' AS layout, p, 'l_partkey' AS col_name,
         |    min(l_partkey) AS mn, max(l_partkey) AS mx FROM pz GROUP BY p
         |  UNION ALL SELECT 'zorder', p, 'l_suppkey',
         |    min(l_suppkey), max(l_suppkey) FROM pz GROUP BY p
         |  UNION ALL SELECT 'linear', p, 'l_partkey',
         |    min(l_partkey), max(l_partkey) FROM pl GROUP BY p
         |  UNION ALL SELECT 'linear', p, 'l_suppkey',
         |    min(l_suppkey), max(l_suppkey) FROM pl GROUP BY p),
         |pr AS (SELECT * FROM (VALUES
         |    (0, 'l_partkey', 100, 120), (1, 'l_suppkey', 50, 55),
         |    (2, 'l_partkey', 1, 400), (3, 'l_suppkey', 300, 310))
         |  AS t(probe_id, col_name, lo, hi))
         |SELECT layout, CAST(probe_id AS BIGINT) AS probe_id,
         |  st.col_name, CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi,
         |  CAST(count(*) AS BIGINT) AS n_partitions,
         |  CAST(sum(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_skipped,
         |  round(CAST(sum(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS skip_frac
         |FROM st JOIN pr ON st.col_name = pr.col_name
         |GROUP BY layout, probe_id, st.col_name, lo, hi
         |ORDER BY layout, probe_id""".stripMargin)),
    // ── scale: SCD2 MERGE — apply a fresh batch to the dimension table
    //    q145's scd2Intervals derives (the incremental half of the SCD2
    //    story: close changed versions, open new ones, no-op repeats,
    //    ignore late-vs-open observations under the monotone-load
    //    contract); key-width joins against current rows only, closed
    //    history rides through untouched (oracle: DuckDB replays intervals
    //    on the first 20 days + the merge CASEs for the rest) ──────────────
    QuerySpec("q281_scd2_apply", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_id"),
        col("event_type"))
      val cut = lit("2024-01-21 00:00:00").cast("timestamp")
      val dim = Snapshot.scd2Intervals(ev.filter(col("ts") < cut),
        "user_id", "ts", "event_id", "event_type")
      Snapshot.scd2Apply(dim, ev.filter(col("ts") >= cut),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_type")
    }, oracle = Some(
      """WITH f AS (SELECT user_id, ts, event_id, event_type,
        |        CASE WHEN lag(event_type) OVER w IS NULL
        |               OR lag(event_type) OVER w <> event_type
        |             THEN 1 ELSE 0 END AS chg
        |      FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, ts, event_type,
        |        sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM f),
        |g AS (SELECT user_id, run, min(ts) AS valid_from,
        |        min(event_type) AS event_type
        |      FROM r GROUP BY 1, 2),
        |dim AS (SELECT user_id, event_type, valid_from,
        |        lead(valid_from) OVER (PARTITION BY user_id
        |          ORDER BY valid_from, run) AS valid_to
        |      FROM g),
        |bb AS (SELECT user_id, event_type AS nv, ts AS nt FROM (
        |    SELECT user_id, event_type, ts, row_number() OVER (
        |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-21 00:00:00')
        |  WHERE rn = 1),
        |cur AS (SELECT * FROM dim WHERE valid_to IS NULL),
        |hist AS (SELECT user_id, event_type, valid_from, valid_to,
        |    false AS is_current FROM dim WHERE valid_to IS NOT NULL),
        |j AS (SELECT coalesce(c.user_id, b.user_id) AS user_id,
        |    c.event_type, c.valid_from, b.nv, b.nt
        |  FROM cur c FULL OUTER JOIN bb b ON c.user_id = b.user_id),
        |keepc AS (SELECT user_id, event_type, valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |  FROM j WHERE event_type IS NOT NULL AND (nt IS NULL
        |    OR nv IS NOT DISTINCT FROM event_type OR nt <= valid_from)),
        |chg2 AS (SELECT * FROM j WHERE nt IS NOT NULL
        |  AND (event_type IS NULL
        |       OR (nv IS DISTINCT FROM event_type AND nt > valid_from))),
        |closed AS (SELECT user_id, event_type, valid_from, nt AS valid_to,
        |    false AS is_current FROM chg2 WHERE event_type IS NOT NULL),
        |opened AS (SELECT user_id, nv AS event_type, nt AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |  FROM chg2),
        |allr AS (SELECT * FROM hist UNION ALL SELECT * FROM keepc
        |  UNION ALL SELECT * FROM closed UNION ALL SELECT * FROM opened)
        |SELECT user_id, event_type,
        |  CAST(valid_from AS VARCHAR) AS valid_from,
        |  CAST(valid_to AS VARCHAR) AS valid_to, is_current
        |FROM allr ORDER BY user_id, valid_from, event_type""".stripMargin)),
    // ── scale: Bloom-pruned fact⋈dim join — a 1%-fpp filter built from
    //    the filtered dim's keys kills non-matching fact rows BEFORE the
    //    exchange (at 100 TB the shuffle is the cost, and the filter is
    //    ~1.2 MB per million build keys); result-identical to the plain
    //    join for inner/semi semantics — which is exactly what the oracle
    //    checks (the bloom is invisible in the result) ─────────────────────
    QuerySpec("q280_bloom_join", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_extendedprice"), col("l_discount"))
      val ords = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey").as("okey"))
      val cents = round((col("l_extendedprice") *
        (lit(1.0) - col("l_discount"))) * lit(100.0)).cast("long")
      Ops.bloomPrunedJoin(li, ords, Seq("okey"))
        .groupBy("okey")
        .agg(sum(cents).as("rev_cents"), count(lit(1)).as("n_lines"))
        .orderBy("okey")
    }, oracle = Some(
      """SELECT l_orderkey AS okey,
        |  CAST(sum(CAST(round((l_extendedprice * (1.0 - l_discount))
        |    * 100.0) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY 1 ORDER BY okey""".stripMargin)),
    // ── scale: SCD2 interval builder — gaps-and-islands collapse of the
    //    per-user event stream into validity intervals, the dimension-
    //    history shape asofJoin consumes (oracle: DuckDB replays lag
    //    flags, run numbering, and lead closure) ───────────────────────────
    QuerySpec("q145_scd2", (s, dir) => {
      Snapshot.scd2Intervals(T(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type")
        .select(col("user_id"), col("event_type"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_type")
    }, oracle = Some(
      """WITH f AS (SELECT user_id, ts, event_id, event_type,
        |        CASE WHEN lag(event_type) OVER w IS NULL
        |               OR lag(event_type) OVER w <> event_type
        |             THEN 1 ELSE 0 END AS chg
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, ts, event_type,
        |        sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |      FROM f),
        |g AS (SELECT user_id, run, min(ts) AS valid_from,
        |        min(event_type) AS event_type
        |      FROM r GROUP BY 1, 2),
        |c AS (SELECT user_id, event_type, valid_from,
        |        lead(valid_from) OVER (PARTITION BY user_id
        |          ORDER BY valid_from, run) AS valid_to
        |      FROM g)
        |SELECT user_id, event_type,
        |  CAST(valid_from AS VARCHAR) AS valid_from,
        |  CAST(valid_to AS VARCHAR) AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM c ORDER BY user_id, valid_from, event_type""".stripMargin)),
    // ── scale: Z-order (Morton) layout keys — interleaved-bit sort key
    //    for multi-dimensional parquet min-max skipping (the OPTIMIZE
    //    ZORDER idea); stats broadcast, key is a pure integer projection
    //    (oracle: DuckDB replays buckets and the bit interleave) ──────────
    QuerySpec("q127_zorder_key", (s, dir) => {
      Layout.zorderKey(T(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          Seq("l_partkey", "l_suppkey"), "zkey", bits = 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("zkey"),
          shiftright(col("zkey"), 24).as("zbucket"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle = Some(
      s"""WITH s AS (SELECT min(l_partkey) AS mn0, max(l_partkey) AS mx0,
         |             min(l_suppkey) AS mn1, max(l_suppkey) AS mx1
         |           FROM lineitem),
         |b AS (SELECT l_orderkey, l_linenumber,
         |        ((l_partkey - mn0) * 65536) // (mx0 - mn0 + 1) AS b0,
         |        ((l_suppkey - mn1) * 65536) // (mx1 - mn1 + 1) AS b1
         |      FROM lineitem CROSS JOIN s),
         |z AS (SELECT l_orderkey, l_linenumber,
         |        CAST(${zInterleaveSql(2, 16)} AS BIGINT) AS zkey
         |      FROM b)
         |SELECT l_orderkey, l_linenumber, zkey, zkey >> 24 AS zbucket
         |FROM z ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // ── scale: TPC-H Q18 shape (large-volume customers) — orders whose
    //    line quantities exceed a threshold, with their customers; the
    //    HAVING subquery becomes an aggregate + semi-shaped join (oracle:
    //    DuckDB runs the same SQL) ──────────────────────────────────────────
    QuerySpec("q200_tpch_q18", (s, dir) => {
      val big = T(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(sum("l_quantity").cast("long").as("total_qty"))
        .filter(col("total_qty") > 300L)
      T(s, dir, "orders")
        .join(Ops.broadcastIfSmall(big), col("o_orderkey") === col("l_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"),
          round(col("o_totalprice") * lit(100.0)).cast("long")
            .as("totalprice_cents"),
          col("total_qty"))
        .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
        .limit(100)
    }, oracle = Some(
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING CAST(sum(l_quantity) AS BIGINT) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100.0) AS BIGINT) AS totalprice_cents,
        |  total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY totalprice_cents DESC, o_orderkey LIMIT 100""".stripMargin)))

  /** Catalog used by q01 to exercise JSON-Schema-driven read typing. */
  private val eventsCatalogJson =
    """{"streams": [{"stream": "events", "schema": {"type": "object",
      |"properties": {
      |  "event_id": {"type": ["integer", "null"]},
      |  "ts": {"anyOf": [{"type": "string", "format": "date-time"}, {"type": "null"}]},
      |  "user_id": {"type": ["string", "null"]},
      |  "event_type": {"type": ["string", "null"]},
      |  "value": {"type": ["number", "null"]},
      |  "props": {"type": ["string", "null"]}}},
      |"metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["event_id"]}}]}]}
      |""".stripMargin

  /** q127 Morton interleave as a SQL sum: column i's bucket bit b lands
    * at position n·b + i (bit sets are disjoint, so + ≡ |). */
  private def zInterleaveSql(n: Int, bits: Int): String =
    (0 until bits).flatMap(b => (0 until n).map(i =>
      s"(((b$i >> $b) & 1) << ${n * b + i})")).mkString(" + ")
}

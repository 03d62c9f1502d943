package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.etl._
import graft.kafsql.SchemaCol
import graft.kfs.KfsSeed
import graft.streaming.StreamDrive

/** ETL-side operators, oracle-checked end to end: the streaming pipeline
  * (S9/St1-St5), LFS claim-check resolve (S10), IDoc explode (S12), and the
  * evolving table sink (S8). Each query builds its fixture deterministically
  * from driver testdata, runs the real machinery, and exposes a result the
  * DuckDB oracle recomputes from the raw tables.
  */
object EtlPack extends QueryPack {

  private def tmp(sfDir: String, name: String): String =
    Fixtures.tmp(sfDir, name) // shared versioned root (see Fixtures)

  /** Estate with deliberately broken payloads: every 'error' event's value
    * is replaced by a non-JSON blob, so a required `$.k` extraction fails
    * for exactly those records — the dead-letter fixture. Marker-gated. */
  private def seedDlqEstate(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val root = tmp(dir, "kfs_dlq_estate")
    val marker = Paths.get(root, "_SEEDED")
    if (!Files.exists(marker)) {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(graft.kfs.KfsLayout.hadoopConf)
      fs.delete(p, true)
      fs.delete(new org.apache.hadoop.fs.Path(root + "_staging"), true)
      Tables.eventsTopic(s, dir)
        .select(lit("dlq").as("_topic"), col("_partition"), col("_offset"),
          col("_ts_ms"), col("_key").cast("binary").as("_key"),
          when(col("event_type") === "error", lit("not json"))
            .otherwise(col("_value")).cast("binary").as("_value"))
        .write.format("kfs").mode("append").option("path", root).save()
      Files.createDirectories(marker.getParent)
      Files.write(marker, Array.emptyByteArray)
    }
    root
  }

  /** e16's fixture-staging phase: wipe the changelog fixture trio and land
    * the initial bulk append (commit #1) in the Iceberg source table. The
    * `_ready` marker is written LAST and consumed (deleted) by e16's fn —
    * the operator's interleaved commits/drains mutate the table, so a
    * rerun of fn after the marker is gone re-seeds from scratch instead of
    * double-applying deletes to an already-mutated table. */
  private def seedCdcSource(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val table = tmp(dir, "cdc_stream_table")
    val marker = Paths.get(table + "_ready")
    if (Files.exists(marker)) return
    Seq(table, tmp(dir, "cdc_stream_sink"), tmp(dir, "cdc_stream_ckpt"))
      .foreach(p => TableSink.deleteRecursive(Paths.get(p)))
    val ev = Tables.eventsTopic(s, dir).select(
      col("_partition").as("partition"),
      col("_offset").as("offset"),
      get_json_object(col("_value"), "$.k").cast("long").as("k"),
      col("event_type"))
    IcebergSink.append(s, table, ev)
    Files.write(marker, Array.emptyByteArray)
  }

  override def entries: Seq[QueryDef] = Seq(

    // DEAD-LETTER QUEUE (superset of the reference's drop-and-count,
    // processor.go:209-215): records whose required column fails to
    // extract land in a quarantine table with the failing column names,
    // instead of vanishing behind a metric. Both sides of the split are
    // hash-checked — landed rows keep their payload aggregates, DLQ rows
    // keep their log coordinates and reason. Crash-replays never double
    // a quarantined record: this parquet-dir lane's DLQ append rides the
    // main sink's offset-dedup, and an Iceberg lane's replaces its own
    // batch-tagged files (EtlSpec pins both laws).
    QueryDef(
      "e27_pipeline_dlq",
      (s, dir) => {
        val root = seedDlqEstate(s, dir)
        val table = tmp(dir, "dlq_landed")
        val ckpt = tmp(dir, "dlq_ckpt")
        val dlq = tmp(dir, "dlq_quarantine")
        StreamDrive.narrow(s) {
          Pipeline.run(s, root, table, ckpt,
            schemaCols = Seq(SchemaCol("k", "long", "$.k")),
            validation = Pipeline.DeadLetter(dlq))
        }
        val landed = TableSink.read(s, table)
          .agg(count(lit(1)).as("cnt"),
            sum(col("offset")).as("off_sum"),
            sum(col("k")).as("sum_k"))
          .select(lit("landed").as("side"), col("cnt"), col("off_sum"),
            col("sum_k"), lit(null).cast("string").as("missing"))
        val quarantined = TableSink.read(s, dlq)
          .agg(count(lit(1)).as("cnt"),
            sum(col("offset")).as("off_sum"),
            max(col("missing")).as("m"))
          .select(lit("dlq").as("side"), col("cnt"), col("off_sum"),
            lit(null).cast("long").as("sum_k"), col("m").as("missing"))
        quarantined.unionAll(landed).orderBy(col("side"))
      },
      Some(Tables.withEventsTopic(
        """SELECT 'dlq' AS side, count(*) AS cnt,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(NULL AS BIGINT) AS sum_k, 'k' AS missing
          |FROM events_topic WHERE event_type = 'error'
          |UNION ALL
          |SELECT 'landed', count(*), CAST(SUM(_offset) AS BIGINT),
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT),
          |       CAST(NULL AS VARCHAR)
          |FROM events_topic WHERE event_type <> 'error'
          |ORDER BY side""".stripMargin)),
      seed = Some((s, dir) => { seedDlqEstate(s, dir); () })),

    // S9/St2/St3: KFS → streaming decode → validated extraction → table
    // sink with checkpointed exactly-once-ish progress
    QueryDef(
      "e1_stream_etl",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "etl_table")
        val ckpt = tmp(dir, "etl_ckpt")
        StreamDrive.narrow(s) {
          Pipeline.run(s, root, table, ckpt,
            schemaCols = Seq(SchemaCol("k", "int", "$.k")),
            validation = Pipeline.Lenient)
        }
        TableSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"),
            max(col("offset")).as("max_off"),
            sum(col("k").cast("long")).as("sum_k"),
            max(col("timestamp_ms")).as("max_ts"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       max(_offset) AS max_off,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
          |       max(_ts_ms) AS max_ts
          |FROM events_topic GROUP BY _partition ORDER BY partition""".stripMargin))),

    // S10: LFS claim-check resolution with SHA-256 verification
    QueryDef(
      "e2_lfs_resolve",
      (s, dir) => {
        val blobRoot = tmp(dir, "lfs_blobs")
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).collect()
        // seed: every 5th doc becomes a claim-check envelope + blob file
        val bucket = "graft-lfs"
        Files.createDirectories(Paths.get(blobRoot, bucket, "docs"))
        val rows = docs.map { r =>
          val id = r.getLong(0)
          val text = r.getString(1)
          if (id % 5 == 0) {
            val bytes = text.getBytes("UTF-8")
            Files.write(Paths.get(blobRoot, bucket, "docs", s"doc-$id"), bytes)
            (id, s"""{"kfs_lfs":1,"bucket":"$bucket","key":"docs/doc-$id",""" +
              s""""size":${bytes.length},"sha256":"${LfsResolver.sha256Hex(bytes)}",""" +
              s""""content_type":"text/plain"}""")
          } else (id, text)
        }
        import s.implicits._
        val df = rows.toSeq.toDF("id", "_value")
        LfsResolver.resolve(s, df, LfsResolver.LocalFsBlobStore(blobRoot))
          .select(col("id"), col("_lfs_resolved"),
            length(col("_value")).as("n_chars"), col("lfs_checksum"),
            col("lfs_checksum_alg"))
          .orderBy(col("id"))
      },
      Some(
        """SELECT doc_id AS id,
          |       doc_id % 5 = 0 AS _lfs_resolved,
          |       CAST(length(text) AS INTEGER) AS n_chars,
          |       CASE WHEN doc_id % 5 = 0 THEN sha256(text) ELSE NULL END AS lfs_checksum,
          |       CASE WHEN doc_id % 5 = 0 THEN 'sha256' ELSE NULL END AS lfs_checksum_alg
          |FROM documents ORDER BY id""".stripMargin)),

    // S12: IDoc XML explode — header + routed segment groups, UDTF shape
    QueryDef(
      "e3_idoc_explode",
      (s, dir) => {
        val orders = Tables.load(s, dir, "orders").filter(col("o_orderkey") < 100)
        val li = Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        val items = li.groupBy(col("l_orderkey")).agg(
          concat_ws("", sort_array(collect_list(
            concat(lit("<ITEM><LINE>"), col("l_linenumber").cast("string"),
              lit("</LINE><QTY>"), col("l_quantity").cast("int").cast("string"),
              lit("</QTY></ITEM>"))))).as("items_xml"))
        val xml = orders.join(items, col("o_orderkey") === col("l_orderkey"), "left_outer")
          .select(concat(
            lit("<IDOC><DOCNUM>"), col("o_orderkey").cast("string"), lit("</DOCNUM>"),
            lit("<STATUS>"), col("o_orderstatus"), lit("</STATUS>"),
            lit("<PARTNER><CUST>"), col("o_custkey").cast("string"), lit("</CUST></PARTNER>"),
            lit("<DATE><ORDERED>"), date_format(col("o_orderdate"), "yyyy-MM-dd"),
            lit("</ORDERED></DATE>"),
            coalesce(col("items_xml"), lit("")),
            lit("</IDOC>")).as("xml"))
        IdocExplode.explode(s, xml, "xml")
          .groupBy(col("entity"))
          .agg(count(lit(1)).as("n_records"),
            countDistinct(col("docnum")).as("n_docs"))
          .orderBy(col("entity"))
      },
      Some(
        """WITH o AS (SELECT * FROM orders WHERE o_orderkey < 100),
          |     l AS (SELECT * FROM lineitem WHERE l_orderkey < 100)
          |SELECT * FROM (
          |  SELECT 'dates' AS entity, count(*) AS n_records,
          |         count(DISTINCT o_orderkey) AS n_docs FROM o
          |  UNION ALL
          |  SELECT 'header', count(*), count(DISTINCT o_orderkey) FROM o
          |  UNION ALL
          |  SELECT 'items', count(*), count(DISTINCT l_orderkey) FROM l
          |  UNION ALL
          |  SELECT 'partners', count(*), count(DISTINCT o_orderkey) FROM o
          |  UNION ALL
          |  SELECT 'statuses', count(*), count(DISTINCT o_orderkey) FROM o)
          |ORDER BY entity""".stripMargin)),

    // S8: evolving table sink — second batch widens int->long and adds a
    // column; widening rewrite + union read-back must reconcile
    QueryDef(
      "e4_sink_evolution",
      (s, dir) => {
        val table = tmp(dir, "evo_table")
        val dataDir = Paths.get(table)
        TableSink.deleteRecursive(dataDir)
        val ev = Tables.eventsTopic(s, dir)
        val b1 = ev.filter(col("_partition") === 0)
          .select(col("_offset").as("offset"), lit(0).as("partition"),
            get_json_object(col("_value"), "$.k").cast("int").as("x"))
        val b2 = ev.filter(col("_partition") === 1)
          .select(col("_offset").as("offset"), lit(1).as("partition"),
            get_json_object(col("_value"), "$.k").cast("long").as("x"),
            col("value").as("y"))
        TableSink.append(s, table, b1)
        TableSink.append(s, table, b2)
        TableSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("x")).as("sum_x"),
            count(col("y")).as("n_y"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS INTEGER)) AS BIGINT) AS sum_x,
          |       count(CASE WHEN _partition = 1 THEN 1 END) AS n_y
          |FROM events_topic WHERE _partition IN (0, 1)
          |GROUP BY _partition ORDER BY partition""".stripMargin))),

    // Small-file compaction (table maintenance, the rewrite_data_files
    // equivalent for the parquet-fallback sink): 4 micro-batch appends
    // fragment the table, compact() rewrites it to target-size files with
    // an atomic directory swap, and the post-compaction aggregate must
    // hash-match the raw events oracle — compaction may change LAYOUT,
    // never data.
    QueryDef(
      "e8_compaction",
      (s, dir) => {
        val table = tmp(dir, "compact_table")
        val dataDir = Paths.get(table)
        TableSink.deleteRecursive(dataDir)
        val ev = Tables.eventsTopic(s, dir)
        (0 until Tables.TopicPartitions).foreach { p =>
          TableSink.append(s, table, ev.filter(col("_partition") === p)
            .select(col("_partition").as("partition"),
              col("_offset").as("offset"),
              get_json_object(col("_value"), "$.k").cast("long").as("k")))
        }
        val (nBefore, nAfter) = TableSink.compact(s, table)
        require(nAfter < nBefore,
          s"compaction must shrink the fragmented sink: $nBefore -> $nAfter")
        TableSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
          |       max(_offset) AS max_off
          |FROM events_topic GROUP BY _partition ORDER BY partition""".stripMargin))),

    // Registry-driven sink schema (iceberg.go:779-828): the pipeline's
    // columns and required-set come from a JSON-Schema document instead of
    // caller-supplied SchemaCols — integer→long (k is BIGINT in the table,
    // unlike e1's caller-declared int), optional properties (note/ratio/
    // flag) land as NULL-typed columns without failing Lenient validation,
    // and unmappable properties (nested object) are skipped entirely.
    QueryDef(
      "e9_registry_schema",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "reg_table")
        val ckpt = tmp(dir, "reg_ckpt")
        val schemaDoc =
          """{"type": "object", "required": ["k"],
            | "properties": {
            |   "k":      {"type": "integer"},
            |   "note":   {"type": ["null", "string"]},
            |   "ratio":  {"type": "number"},
            |   "flag":   {"type": "boolean"},
            |   "nested": {"type": "object"}}}""".stripMargin
        StreamDrive.narrow(s) {
          Pipeline.runWithSchemaDoc(s, root, table, ckpt, schemaDoc,
            validation = Pipeline.Lenient)
        }
        TableSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("k")).as("sum_k"), // long already — no cast needed
            count(col("note")).as("n_note"),
            count(col("ratio")).as("n_ratio"),
            count(col("flag")).as("n_flag"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       CAST(0 AS BIGINT) AS n_note,
          |       CAST(0 AS BIGINT) AS n_ratio,
          |       CAST(0 AS BIGINT) AS n_flag
          |FROM events_topic GROUP BY _partition ORDER BY partition""".stripMargin))),

    // S8 as a REAL Iceberg v2 table: two appends become two snapshots with
    // chained lineage; the second append evolves the schema (k int->long
    // promotion + a new event_type column) WITHOUT rewriting snapshot 1's
    // data files; the read plans its scan from the metadata chain (current
    // snapshot -> manifest list -> manifests -> data files) and upcasts the
    // old int32 files in place.
    QueryDef(
      "e10_iceberg_table",
      (s, dir) => {
        val table = tmp(dir, "iceberg_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("int").as("k"),
          col("event_type"))
        IcebergSink.append(s, table,
          ev.where(col("offset") % 2 === 0).drop("event_type"))
        IcebergSink.append(s, table,
          ev.where(col("offset") % 2 === 1)
            .withColumn("k", col("k").cast("long")))
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"),
            count(col("event_type")).as("n_typed"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       max(_offset) AS max_off,
          |       CAST(SUM(CASE WHEN _offset % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_typed
          |FROM events_topic GROUP BY _partition ORDER BY partition""".stripMargin))),

    // S8+S9 integration — the reference's core workflow: STREAMING
    // ingestion where every micro-batch commit lands as an Iceberg
    // snapshot (checkpointed incremental consumption + offset-dedup, so a
    // rerun appends nothing and the snapshot history stays linear). The
    // read side plans from the metadata chain, never a directory listing.
    QueryDef(
      "e11_stream_iceberg",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "iceberg_stream_table")
        val ckpt = tmp(dir, "iceberg_stream_ckpt")
        // several micro-batches -> several snapshots (~4 at ANY SF), but
        // not so many that per-commit metadata IO dominates: now that
        // AvailableNow honors admission, a fixed cap would mean ~8
        // commits at sf0.1 and only ONE at sf0.01 — scale it instead
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          Pipeline.run(s, root, table, ckpt,
            schemaCols = Seq(SchemaCol("k", "int", "$.k")),
            validation = Pipeline.Lenient,
            maxSegmentsPerTrigger = Some(math.max(2, nSegs / 4)),
            format = Pipeline.IcebergV2)
        }
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"),
            max(col("offset")).as("max_off"),
            sum(col("k").cast("long")).as("sum_k"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       max(_offset) AS max_off,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
          |FROM events_topic GROUP BY _partition ORDER BY partition""".stripMargin)),
      seed = Some((s, dir) => { KfsSeed.seededRoot(s, dir); () })),

    // CONTINUOUS KEYED UPSERT — the streaming CDC-MERGE into Iceberg
    // (S8+S9 for mutable state, where e11 is the append form): the topic
    // drains in metered micro-batches, each batch collapses to its last
    // row per (partition, key) and lands as one upsert commit
    // (equality-delete of the batch's keys + append), so the table always
    // holds every key's LATEST record. Last-write-wins order is
    // per-partition offset order — total and replayable, immune to
    // cross-partition timestamp skew — and a crash-replayed batch re-runs
    // an identical idempotent upsert. The oracle recomputes
    // last-per-(partition, key) over the whole topic in one window:
    // incremental merge ≡ one-shot merge, the St3 claim for mutable
    // state.
    QueryDef(
      "e42_stream_upsert",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "upsert_table")
        val ckpt = tmp(dir, "upsert_ckpt")
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          Pipeline.runUpsert(s, root, table, ckpt,
            maxSegmentsPerTrigger = Some(math.max(2, nSegs / 4)))
        }
        IcebergSink.read(s, table)
          .select(col("partition"), col("offset"),
            get_json_object(col("value"), "$.k").cast("long").as("k"))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1
          |GROUP BY 1 ORDER BY partition""".stripMargin)),
      seed = Some((s, dir) => { KfsSeed.seededRoot(s, dir); () })),

    // METADATA-ONLY MANIFEST COMPACTION (Iceberg's `rewrite_manifests`
    // maintenance procedure): a table built by MANY small commits — five
    // offset-sliced appends, an equality delete, a re-append (7 manifests
    // carried by the head snapshot) — is manifest-compacted and must read
    // back IDENTICALLY: entries carry as EXISTING with their original
    // sequence numbers, so the delete's strictly-older scope rule still
    // spares the re-appended rows. No data or delete file is touched
    // (IcebergSpec pins the file set); the in-query requires pin that the
    // list actually shrank and the commit was metadata-only. At 100 TB
    // this is what keeps a one-snapshot-per-micro-batch streaming table
    // plannable after thousands of commits.
    QueryDef(
      "e43_rewrite_manifests",
      (s, dir) => {
        val table = tmp(dir, "iceberg_rwm_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        (0 until 5).foreach(i =>
          IcebergSink.append(s, table, ev.where(col("offset") % 5 === i)))
        IcebergSink.deleteWhere(s, table,
          col("event_type") === "click", Seq("partition", "offset"))
        IcebergSink.append(s, table,
          ev.where(col("event_type") === "click" && col("offset") % 7 === 0))
        def manifests = IcebergSink.readAvro(s,
          IcebergSink.load(s, table).get.snapshots.last.manifestList)._2.size
        val before = manifests
        val filesBefore = IcebergSink.read(s, table).inputFiles.toSet
        IcebergSink.rewriteManifests(s, table)
        require(manifests < before,
          s"rewrite_manifests must shrink the list: $before -> $manifests")
        require(IcebergSink.read(s, table).inputFiles.toSet == filesBefore,
          "rewrite_manifests must be metadata-only: identical file set")
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k, max(off) AS max_off
          |FROM (
          |  SELECT _partition AS partition, _offset AS off,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k
          |  FROM events_topic WHERE event_type <> 'click'
          |  UNION ALL
          |  SELECT _partition, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT)
          |  FROM events_topic WHERE event_type = 'click' AND _offset % 7 = 0
          |) GROUP BY partition ORDER BY partition""".stripMargin))),

    // THE UPSERT LANE UNDER COMMIT PRESSURE: e42 with ~3x more
    // micro-batches (every batch = one row-delta snapshot = one more
    // equality-delete file), then manifest compaction. The read must plan
    // exactly ONE delete anti-join — the accumulated delete history
    // unions into one broadcast frame with per-file sequence numbers
    // (PlanSpec pins the shape; the in-query require re-checks it against
    // the REAL lane every round) — and the hashes must equal e42's
    // one-shot-merge oracle: batch cadence is invisible to the result.
    QueryDef(
      "e44_stream_upsert_compacted",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "upsert3_table")
        val ckpt = tmp(dir, "upsert3_ckpt")
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          // auto-maintenance INSIDE the lane: every 4th commit folds the
          // accumulated per-batch manifests back to O(1) metadata
          Pipeline.runUpsert(s, root, table, ckpt,
            maxSegmentsPerTrigger = Some(math.max(1, nSegs / 12)),
            maintainEvery = Some(4))
        }
        IcebergSink.rewriteManifests(s, table)
        val out = IcebergSink.read(s, table)
        val antiJoins = "LeftAnti".r
          .findAllIn(out.queryExecution.executedPlan.toString).length
        require(antiJoins == 1,
          s"accumulated deletes must fold into ONE anti-join: $antiJoins")
        out.select(col("partition"), col("offset"),
            get_json_object(col("value"), "$.k").cast("long").as("k"))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1
          |GROUP BY 1 ORDER BY partition""".stripMargin)),
      seed = Some((s, dir) => { KfsSeed.seededRoot(s, dir); () })),

    // TOMBSTONE-AWARE STREAMING UPSERT — the compacted-topic delete
    // shape through the checkpointed lane: records whose latest value
    // has k % 7 == 0 are tombstones (Kafka's canonical form is a null
    // value; the predicate is the seam), every other key LWWs by offset
    // as in e42. Each micro-batch lands as ONE row-delta snapshot whose
    // equality-delete half covers tombstoned AND replaced keys; the
    // final table must equal the per-key max-offset row MINUS keys whose
    // last record tombstoned — batch cadence invisible, replay
    // idempotent, and a takedown flows through the SAME lane as data.
    QueryDef(
      "e49_stream_upsert_tombstones",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "upsert_tomb_table")
        val ckpt = tmp(dir, "upsert_tomb_ckpt")
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          Pipeline.runUpsert(s, root, table, ckpt,
            maxSegmentsPerTrigger = Some(math.max(1, nSegs / 6)),
            deleteWhen = Some(
              get_json_object(col("value"), "$.k").cast("long") % 7 === 0))
        }
        IcebergSink.read(s, table)
          .select(col("partition"), col("offset"),
            get_json_object(col("value"), "$.k").cast("long").as("k"))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1 AND (k % 7 <> 0 OR k IS NULL)
          |GROUP BY 1 ORDER BY partition""".stripMargin)),
      seed = Some((s, dir) => { KfsSeed.seededRoot(s, dir); () })),

    // DANGLING-DELETE MAINTENANCE (Iceberg's remove-dangling-deletes
    // pass): a takedown lands as an equality-delete file; a later
    // partition-wise backfill (the realistic 100 TB compaction shape —
    // per-partition overwrite, never a whole-table rewrite) lifts every
    // live data file ABOVE the delete's sequence number, so the delete
    // scopes over nothing — yet it still costs a parquet read and a slot
    // in the broadcast delete union on EVERY scan, forever. The
    // metadata-only maintenance drops it in a replace commit: the
    // in-query requires pin the delete-file count falling to zero and
    // the read planning ZERO delete anti-joins, while the result hashes
    // unchanged against the same relational oracle as e12 (maintenance
    // is invisible to query results, like e43/e44).
    QueryDef(
      "e45_dangling_delete_maintenance",
      (s, dir) => {
        val table = tmp(dir, "iceberg_rdd_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev, partitionBy = Seq("event_type")) // seq 1
        IcebergSink.deleteWhere(s, table,
          col("event_type") === "click", Seq("partition", "offset")) // seq 2
        IcebergSink.append(s, table,
          ev.where(col("event_type") === "click" && col("offset") % 7 === 0)) // seq 3
        // backfill every partition tuple from the current view: all live
        // data files move to seq 4, so the delete at seq 2 dangles
        IcebergSink.overwritePartitions(s, table, IcebergSink.read(s, table))
        def delFiles = IcebergSink.metadataTable(s, table, "files")
          .where(col("content") =!= 0).count()
        require(delFiles == 1,
          s"backfill must leave the (now-dangling) delete file: $delFiles")
        IcebergSink.removeDanglingDeletes(s, table)
        require(delFiles == 0,
          "maintenance must drop the dangling delete file")
        val out = IcebergSink.read(s, table)
        require(!out.queryExecution.executedPlan.toString.contains("LeftAnti"),
          "zero delete files -> zero delete anti-joins in the read plan")
        out.groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k, max(off) AS max_off
          |FROM (
          |  SELECT _partition AS partition, _offset AS off,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k
          |  FROM events_topic WHERE event_type <> 'click'
          |  UNION ALL
          |  SELECT _partition, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT)
          |  FROM events_topic WHERE event_type = 'click' AND _offset % 7 = 0
          |) GROUP BY partition ORDER BY partition""".stripMargin))),

    // IN-LANE DELETE-FILE HYGIENE — the always-on upsert stream's
    // missing maintenance half: every micro-batch's row-delta leaves one
    // physical equality-delete file, and although the read plans ONE
    // anti-join at any count, each file is a parquet read in the
    // broadcast delete union on every scan, forever. `compactEvery`
    // wires Iceberg's rewrite_data_files + remove-dangling-deletes
    // cadence INTO the lane: every 4th commit the rewrite materializes
    // the accrued deletes and the dangling-drop removes anything a
    // backfill-shaped rewrite left scoped-over-nothing. The requires pin
    // the law: delete-file count stays BOUNDED (< the cadence) after
    // the drain no matter how many batches ran, falls to ZERO at the
    // next boundary, and the read then plans zero anti-joins — while
    // the hash stays equal to e42's one-shot-merge oracle (maintenance
    // is invisible to results; IcebergSpec pins that a pre-maintenance
    // time-travel read still applies the deletes).
    QueryDef(
      "e50_stream_upsert_maintained",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "upsert_mx_table")
        val ckpt = tmp(dir, "upsert_mx_ckpt")
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          Pipeline.runUpsert(s, root, table, ckpt,
            maxSegmentsPerTrigger = Some(math.max(1, nSegs / 12)),
            compactEvery = Some(4))
        }
        def delFiles = IcebergSink.metadataTable(s, table, "files")
          .where(col("content") =!= 0).count()
        require(delFiles < 4,
          s"in-lane maintenance must bound delete files below the " +
            s"cadence: $delFiles")
        // the next maintenance boundary, exactly as the lane runs it
        IcebergSink.compact(s, table)
        IcebergSink.removeDanglingDeletes(s, table)
        require(delFiles == 0,
          "maintenance boundary must pin delete-file count back to zero")
        val out = IcebergSink.read(s, table)
        require(!out.queryExecution.executedPlan.toString.contains("LeftAnti"),
          "zero delete files -> zero delete anti-joins in the read plan")
        out.select(col("partition"), col("offset"),
            get_json_object(col("value"), "$.k").cast("long").as("k"))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1
          |GROUP BY 1 ORDER BY partition""".stripMargin)),
      seed = Some((s, dir) => { KfsSeed.seededRoot(s, dir); () })),

    // THE FULL LANE POLICY — every production knob at once: tombstones
    // (deleteWhen), metadata maintenance (maintainEvery) and physical
    // delete-file hygiene (compactEvery) on ONE stream, with cadences
    // chosen coprime (3, 4) so boundaries interleave — compaction fires
    // on batches right after tombstone-heavy ones, manifest merges land
    // between and after compactions, and a delete-only delta can sit
    // directly under a maintenance boundary. The hash must equal e49's
    // tombstone oracle exactly: policies compose without touching
    // results, which is the property an operator would actually rely on
    // when turning maintenance on under a live takedown stream.
    QueryDef(
      "e51_stream_upsert_full_policy",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "upsert_full_table")
        val ckpt = tmp(dir, "upsert_full_ckpt")
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          Pipeline.runUpsert(s, root, table, ckpt,
            maxSegmentsPerTrigger = Some(math.max(1, nSegs / 8)),
            maintainEvery = Some(3),
            compactEvery = Some(4),
            deleteWhen = Some(
              get_json_object(col("value"), "$.k").cast("long") % 7 === 0))
        }
        IcebergSink.read(s, table)
          .select(col("partition"), col("offset"),
            get_json_object(col("value"), "$.k").cast("long").as("k"))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1 AND (k % 7 <> 0 OR k IS NULL)
          |GROUP BY 1 ORDER BY partition""".stripMargin)),
      seed = Some((s, dir) => { KfsSeed.seededRoot(s, dir); () })),

    // CONDITIONAL UPSERT (MERGE WHEN MATCHED AND incoming-newer) — the
    // OUT-OF-ORDER CDC landing shape: three offset-interleaved batches
    // apply in an order that is NOT recency order, so every batch carries
    // rows both newer and staler than what the table already holds; the
    // version rule (strictly-greater offset per (partition, key) wins,
    // within batch and against the table) must converge to the same
    // per-key-max state as the e42 lastrow oracle — application order is
    // invisible, which is exactly the replay/late-arrival guarantee.
    // Staleness checks broadcast the batch's keys onto one corpus scan;
    // each surviving slice lands as one atomic row-delta commit.
    QueryDef(
      "e47_versioned_upsert",
      (s, dir) => {
        val table = tmp(dir, "versioned_upsert_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_key").as("key"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        Seq(2L, 1L, 0L).foreach(m =>
          IcebergSink.upsertIfNewer(s, table,
            ev.where(col("offset") % 3 === m),
            Seq("partition", "key"), "offset"))
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1
          |GROUP BY 1 ORDER BY partition""".stripMargin))),

    // APPLY CHANGES — a CDC feed carrying upserts AND deletes (the
    // compacted-topic-with-tombstones shape): 'click' events are
    // tombstones, everything else upserts; three offset-banded batches
    // apply in feed order, each as ONE atomic row-delta snapshot whose
    // equality-delete half covers every winning key (tombstoned and
    // replaced alike) and whose data half re-inserts only survivors. The
    // final state must equal the per-key max-offset row MINUS the keys
    // whose last change was a tombstone — the compacted-topic read,
    // replayed relationally by the oracle.
    QueryDef(
      "e48_apply_changes",
      (s, dir) => {
        val table = tmp(dir, "apply_changes_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_key").as("key"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          when(col("event_type") === "click", lit("D"))
            .otherwise(lit("U")).as("op"))
        val hi = ev.agg(max(col("offset"))).collect().head.getLong(0)
        val (t1, t2) = (hi / 3, 2 * hi / 3)
        Seq(col("offset") <= t1,
            col("offset") > t1 && col("offset") <= t2,
            col("offset") > t2).foreach(band =>
          IcebergSink.applyChanges(s, table, ev.where(band),
            Seq("partition", "key"), "offset", "op"))
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("n_keys"), sum(col("offset")).as("off_sum"),
            sum(col("k")).as("k_sum"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, lastrow AS (
          |  SELECT _partition, _key, _offset, event_type,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         row_number() OVER (PARTITION BY _partition, _key
          |                            ORDER BY _offset DESC) AS rn
          |  FROM events_topic)
          |SELECT _partition AS partition, count(*) AS n_keys,
          |       CAST(SUM(_offset) AS BIGINT) AS off_sum,
          |       CAST(SUM(k) AS BIGINT) AS k_sum
          |FROM lastrow WHERE rn = 1 AND event_type <> 'click'
          |GROUP BY 1 ORDER BY partition""".stripMargin))),

    // Iceberg v2 ROW-LEVEL DELETES (equality-delete files, merge-on-read):
    // the opt-out/takedown shape of a 100 TB corpus — delete every 'click'
    // record by key WITHOUT rewriting any data file (the delete commit
    // writes only the key tuples), then re-append a subset of the deleted
    // keys to prove the spec's sequence-number scope rule (a delete applies
    // only to STRICTLY OLDER data files, so the re-appends survive). The
    // read subtracts the delete file via a broadcast null-safe anti-join —
    // the corpus is scanned once and never shuffled.
    QueryDef(
      "e12_iceberg_deletes",
      (s, dir) => {
        val table = tmp(dir, "iceberg_delete_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev)
        IcebergSink.deleteWhere(s, table,
          col("event_type") === "click", Seq("partition", "offset"))
        IcebergSink.append(s, table,
          ev.where(col("event_type") === "click" && col("offset") % 7 === 0))
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k, max(off) AS max_off
          |FROM (
          |  SELECT _partition AS partition, _offset AS off,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k
          |  FROM events_topic WHERE event_type <> 'click'
          |  UNION ALL
          |  SELECT _partition, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT)
          |  FROM events_topic WHERE event_type = 'click' AND _offset % 7 = 0
          |) GROUP BY partition ORDER BY partition""".stripMargin))),

    // Iceberg IDENTITY PARTITION SPEC: the events topic lands partitioned
    // by event_type (spec field id 1000, values in each manifest entry's
    // partition struct, data files one-partition-each per the spec's
    // invariant); a partition-scoped readPruned plans ONLY that
    // partition's files — zero data IO elsewhere, the primary pruning
    // lever at 100 TB (IcebergSpec asserts the smaller inputFiles set).
    // The residual filter keeps exactness, and the oracle recomputes the
    // same slice relationally.
    QueryDef(
      "e21_iceberg_partitioned",
      (s, dir) => {
        val table = tmp(dir, "iceberg_part_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev, partitionBy = Seq("event_type"))
        IcebergSink.readPruned(s, table,
          Seq(IcebergSink.ColumnRange("event_type",
            Some("purchase"), Some("purchase"))))
          .groupBy(col("partition"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, event_type, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       max(_offset) AS max_off
          |FROM events_topic
          |WHERE event_type = 'purchase'
          |GROUP BY 1, 2 ORDER BY partition""".stripMargin))),

    // DYNAMIC PARTITION OVERWRITE (spec snapshot op `overwrite` — the
    // idempotent-backfill primitive: re-running a corrected pipeline for
    // one partition REPLACES that partition atomically, never doubles
    // it). The events land identity-partitioned by event_type; then one
    // overwrite commit (a) replaces the 'click' partition with a
    // corrected, SMALLER re-run (k x10, even offsets only — the result
    // must shrink, proving replacement rather than upsert) and (b)
    // inserts a brand-new 'audit' partition — while every untouched
    // partition's data files carry through as metadata (IcebergSpec pins
    // that no surviving file is rewritten and time travel still reads
    // the pre-overwrite rows). The oracle recomputes the post-overwrite
    // table relationally.
    QueryDef(
      "e39_iceberg_overwrite",
      (s, dir) => {
        val table = tmp(dir, "iceberg_ovw_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev, partitionBy = Seq("event_type"))
        val corrected = ev
          .where(col("event_type") === "click" && col("offset") % 2 === 0)
          .withColumn("k", col("k") * 10)
        val audit = ev
          .where(col("event_type") === "purchase" && col("offset") % 100 === 0)
          .withColumn("event_type", lit("audit"))
        IcebergSink.overwritePartitions(s, table, corrected.unionAll(audit))
        IcebergSink.read(s, table)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("event_type"))
      },
      Some(Tables.withEventsTopic(
        """SELECT event_type, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k, max(off) AS max_off
          |FROM (
          |  SELECT event_type,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         _offset AS off
          |  FROM events_topic WHERE event_type <> 'click'
          |  UNION ALL
          |  SELECT 'click',
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) * 10,
          |         _offset
          |  FROM events_topic WHERE event_type = 'click' AND _offset % 2 = 0
          |  UNION ALL
          |  SELECT 'audit',
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT),
          |         _offset
          |  FROM events_topic
          |  WHERE event_type = 'purchase' AND _offset % 100 = 0
          |) GROUP BY event_type ORDER BY event_type""".stripMargin))),

    // WRITE-AUDIT-PUBLISH (the spec's branch workflow, Iceberg's
    // `spark.wap.branch` pattern): a suspect feed lands on a STAGING
    // BRANCH — the commit chains on the branch head and moves only the
    // branch ref, so production readers of main can never see unaudited
    // data — then, once audited, a metadata-only fast-forward publishes
    // it atomically. The observable is all three views at once: main
    // before publish (clean rows only), the audit branch (clean +
    // staged), and main after publish (identical to the branch) — each
    // pinned by explicit snapshot id, each recomputed relationally by
    // the oracle. At 100 TB the entire audit gate costs zero data IO:
    // staging is a normal append, publish is one version-file rename.
    QueryDef(
      "e40_iceberg_wap",
      (s, dir) => {
        val table = tmp(dir, "iceberg_wap_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev.where(col("event_type") =!= "error"))
        val preId = IcebergSink.load(s, table).get.currentSnapshotId.get
        IcebergSink.append(s, table, ev.where(col("event_type") === "error"),
          branch = Some("audit"))
        def view(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
            .select(lit(label).as("stage"), col("cnt"), col("sum_k"))
        val before = view(IcebergSink.read(s, table, Some(preId)), "main_staged")
        val branch = view(IcebergSink.readRef(s, table, "audit"), "audit_branch")
        IcebergSink.publishBranch(s, table, "audit")
        val after = view(IcebergSink.read(s, table), "main_published")
        before.unionAll(branch).unionAll(after).orderBy(col("stage"))
      },
      Some(Tables.withEventsTopic(
        """, src AS (
          |  SELECT event_type,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k
          |  FROM events_topic),
          |a AS (SELECT count(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k FROM src),
          |ne AS (SELECT count(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k
          |       FROM src WHERE event_type <> 'error')
          |SELECT 'audit_branch' AS stage, cnt, sum_k FROM a
          |UNION ALL SELECT 'main_published', cnt, sum_k FROM a
          |UNION ALL SELECT 'main_staged', cnt, sum_k FROM ne
          |ORDER BY stage""".stripMargin))),

    // The `$partitions` METADATA TABLE — the ops-console / planner
    // surface: per partition tuple, record counts and per-column
    // lower/upper bounds folded across the partition's files, answered
    // from MANIFESTS ONLY (zero data IO at any table size). The oracle
    // recomputes the same numbers from the DATA — so the manifest stats
    // every pruning decision trusts are hash-proven against the rows
    // they claim to describe, the same discipline as k13's SHOW SEGMENTS.
    QueryDef(
      "e41_iceberg_partitions_table",
      (s, dir) => {
        val table = tmp(dir, "iceberg_ptable")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev, partitionBy = Seq("event_type"))
        IcebergSink.metadataTable(s, table, "partitions")
          .select(
            element_at(col("partition"), "event_type").as("event_type"),
            col("record_count"),
            element_at(col("lower_bounds"), "offset").cast("long").as("min_off"),
            element_at(col("upper_bounds"), "offset").cast("long").as("max_off"),
            element_at(col("lower_bounds"), "k").cast("long").as("min_k"),
            element_at(col("upper_bounds"), "k").cast("long").as("max_k"))
          .orderBy(col("event_type"))
      },
      Some(Tables.withEventsTopic(
        """SELECT event_type, count(*) AS record_count,
          |       min(_offset) AS min_off, max(_offset) AS max_off,
          |       min(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS min_k,
          |       max(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS max_k
          |FROM events_topic
          |GROUP BY 1 ORDER BY event_type""".stripMargin))),

    // Iceberg BUCKET + TRUNCATE partition transforms (spec Appendix B:
    // 32-bit Murmur3 buckets — hashes conform to the spec's published
    // test values, IcebergSpec — and width-truncated ints): the events
    // topic lands bucketed by user_id (the high-cardinality key) and
    // truncated on _offset; a point lookup on user_id prunes to one
    // bucket's files and the offset range prunes via the truncate-covered
    // intervals, with residual filters keeping exactness. Tuple count is
    // sized to the fixture (8 buckets x ~6 offset widths) — a dynamic
    // partitioned write's cost tracks output-file count, and file counts
    // belong to table design, not the transform machinery. The oracle is
    // the plain relational filter — transform pruning must be invisible
    // in the result.
    QueryDef(
      "e23_iceberg_bucketed",
      (s, dir) => {
        val table = tmp(dir, "iceberg_bucket_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          expr("CAST(substring(_key, 6) AS LONG)").as("user_id"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev,
          partitionBy = Seq("bucket(8,user_id)", "truncate(5000,offset)"))
        IcebergSink.readPruned(s, table,
          Seq(IcebergSink.ColumnRange("user_id", Some(7L), Some(7L)),
            IcebergSink.ColumnRange("offset", Some(100L), Some(1100L))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            min(col("offset")).as("min_off"), max(col("offset")).as("max_off"))
          .orderBy(col("user_id"))
      },
      Some(Tables.withEventsTopic(
        """SELECT CAST(substring(_key, 6) AS BIGINT) AS user_id,
          |       count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       min(_offset) AS min_off, max(_offset) AS max_off
          |FROM events_topic
          |WHERE CAST(substring(_key, 6) AS BIGINT) = 7
          |  AND _offset BETWEEN 100 AND 1100
          |GROUP BY 1 ORDER BY user_id""".stripMargin))),

    // Iceberg TEMPORAL partition transform (day): the events topic lands
    // day-partitioned on _ts — the most common production spec — and a
    // one-week window reads only that week's files (ordinal intervals
    // injected as per-file µs bounds; IcebergSpec pins the pruned
    // file set and ordinal/interval laws). Residual filters keep results
    // exact; the oracle is the plain relational window.
    QueryDef(
      "e24_iceberg_day_partitioned",
      (s, dir) => {
        val table = tmp(dir, "iceberg_day_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          col("_ts").as("ts"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        IcebergSink.append(s, table, ev, partitionBy = Seq("day(ts)"))
        // 2024-01-08 .. 2024-01-14 inclusive, in epoch µs
        val lo = java.time.LocalDate.of(2024, 1, 8).toEpochDay * 86400000000L
        val hi = java.time.LocalDate.of(2024, 1, 15).toEpochDay * 86400000000L - 1
        IcebergSink.readPruned(s, table,
          Seq(IcebergSink.ColumnRange("ts", Some(Long.box(lo)), Some(Long.box(hi)))))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            min(col("offset")).as("min_off"), max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       min(_offset) AS min_off, max(_offset) AS max_off
          |FROM events_topic
          |WHERE _ts >= TIMESTAMP '2024-01-08 00:00:00'
          |  AND _ts < TIMESTAMP '2024-01-15 00:00:00'
          |GROUP BY 1 ORDER BY partition""".stripMargin))),

    // Iceberg METADATA TABLES — snapshots ⋈ history (the spec's
    // `tbl.snapshots` / `tbl.history` views): three commits (two
    // partitioned appends, one equality delete) then the table describes
    // its own lineage. Projected columns are the commit-order-deterministic
    // ones (sequence numbers, operations, manifest record counts, ancestry
    // flags — snapshot ids and wall-clock timestamps excluded by design);
    // the oracle recomputes every count from the raw topic, so the
    // manifest bookkeeping is hash-proven against the data it describes.
    // Metadata-only: nothing here reads a data file at any table size.
    QueryDef(
      "e25_iceberg_snapshots_metadata",
      (s, dir) => {
        val table = tmp(dir, "iceberg_meta_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_offset").as("offset"),
          col("_partition").as("partition"),
          col("event_type"))
        IcebergSink.append(s, table,
          ev.where(col("event_type") === "purchase"),
          partitionBy = Seq("event_type"))
        IcebergSink.append(s, table, ev.where(col("event_type") === "error"))
        IcebergSink.deleteWhere(s, table,
          col("event_type") === "purchase" && col("offset") < 100,
          equalityCols = Seq("offset", "partition"))
        val snaps = IcebergSink.metadataTable(s, table, "snapshots")
        val hist = IcebergSink.metadataTable(s, table, "history")
        snaps.join(hist, "snapshot_id")
          .select(col("sequence_number"), col("operation"),
            col("added_records"), col("is_current_ancestor"))
          .orderBy(col("sequence_number"))
      },
      Some(Tables.withEventsTopic(
        """SELECT CAST(1 AS BIGINT) AS sequence_number,
          |       'append' AS operation,
          |       (SELECT count(*) FROM events_topic
          |        WHERE event_type = 'purchase') AS added_records,
          |       true AS is_current_ancestor
          |UNION ALL
          |SELECT CAST(2 AS BIGINT), 'append',
          |       (SELECT count(*) FROM events_topic
          |        WHERE event_type = 'error'), true
          |UNION ALL
          |SELECT CAST(3 AS BIGINT), 'delete',
          |       (SELECT count(DISTINCT (_offset, _partition))
          |        FROM events_topic
          |        WHERE event_type = 'purchase' AND _offset < 100), true
          |ORDER BY sequence_number""".stripMargin))),

    // Iceberg `tbl.files` metadata: live data files of the current
    // snapshot with their manifest record counts and partition tuples
    // (rendered name → value). Grouping by the partition value must
    // reproduce the relational GROUP BY exactly — the partitioned write
    // path's file-to-partition assignment is what's being proven.
    QueryDef(
      "e26_iceberg_files_metadata",
      (s, dir) => {
        val table = tmp(dir, "iceberg_files_meta_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_offset").as("offset"), col("event_type"))
        IcebergSink.append(s, table,
          ev.where(col("event_type").isin("purchase", "error", "click")),
          partitionBy = Seq("event_type"))
        IcebergSink.metadataTable(s, table, "files")
          .where(col("content") === 0)
          .groupBy(element_at(col("partition"), "event_type")
            .as("event_type"))
          .agg(sum(col("record_count")).as("records"))
          .orderBy(col("event_type"))
      },
      Some(Tables.withEventsTopic(
        """SELECT event_type, count(*) AS records
          |FROM events_topic
          |WHERE event_type IN ('purchase', 'error', 'click')
          |GROUP BY 1 ORDER BY event_type""".stripMargin))),

    // Z-ORDERED ICEBERG LAYOUT (multi-dimensional file pruning on the real
    // table format): rows interleave (user_id, offset) onto the Morton
    // curve and the commit clusters files by z, so per-file manifest
    // bounds are tight on BOTH dimensions — a (user range × offset range)
    // read prunes files on both predicates at once, where a single-column
    // sort serves only its own column. One layout shuffle at write time,
    // amortized over every later scan; the oracle is the plain relational
    // filter (layout must be invisible in results).
    QueryDef(
      "e28_iceberg_zorder",
      (s, dir) => {
        val table = tmp(dir, "iceberg_zorder_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          expr("CAST(substring(_key, 6) AS LONG)").as("user_id"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        val z = graft.ops.ZOrder.withZ(ev, Seq("user_id", "offset"))
        IcebergSink.append(s, table, z, clusterBy = Seq("z"))
        IcebergSink.readPruned(s, table,
          Seq(IcebergSink.ColumnRange("user_id", Some(3L), Some(5L)),
            IcebergSink.ColumnRange("offset", Some(50L), Some(200L))))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            min(col("offset")).as("min_off"), max(col("offset")).as("max_off"))
          .orderBy(col("user_id"))
      },
      Some(Tables.withEventsTopic(
        """SELECT CAST(substring(_key, 6) AS BIGINT) AS user_id,
          |       count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       min(_offset) AS min_off, max(_offset) AS max_off
          |FROM events_topic
          |WHERE CAST(substring(_key, 6) AS BIGINT) BETWEEN 3 AND 5
          |  AND _offset BETWEEN 50 AND 200
          |GROUP BY 1 ORDER BY user_id""".stripMargin))),

    // Iceberg v2 POSITION DELETES (the second merge-on-read delete shape):
    // rows are deleted by (file_path, row ordinal) coordinates instead of
    // key tuples — data files never rewritten. The fixture appends the
    // events topic, positionally deletes every 'error' row, appends more
    // rows (which, per the spec's sequence rule, a prior position delete
    // cannot touch), then deletes odd-offset 'view' rows from the enlarged
    // table. The oracle recomputes the surviving set relationally; the
    // merge-on-read anti-joins must agree exactly.
    QueryDef(
      "e22_iceberg_position_deletes",
      (s, dir) => {
        val table = tmp(dir, "iceberg_posdel_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev.where(col("offset") % 3 =!= 0))
        IcebergSink.deleteWherePositions(s, table,
          col("event_type") === "error")
        IcebergSink.append(s, table, ev.where(col("offset") % 3 === 0))
        IcebergSink.deleteWherePositions(s, table,
          col("event_type") === "view" && col("offset") % 2 === 1)
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            count(when(col("event_type") === "error", 1)).as("n_err"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k,
          |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err
          |FROM (
          |  -- first append (offsets not divisible by 3), minus its 'error'
          |  -- rows (delete 1), minus odd 'view' rows (delete 2)
          |  SELECT _partition AS partition, _offset AS offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         event_type
          |  FROM events_topic
          |  WHERE _offset % 3 <> 0 AND event_type <> 'error'
          |    AND NOT (event_type = 'view' AND _offset % 2 = 1)
          |  UNION ALL
          |  -- second append (offsets divisible by 3): immune to delete 1
          |  -- (smaller sequence), still hit by delete 2
          |  SELECT _partition, _offset,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT),
          |         event_type
          |  FROM events_topic
          |  WHERE _offset % 3 = 0
          |    AND NOT (event_type = 'view' AND _offset % 2 = 1)
          |) GROUP BY partition ORDER BY partition""".stripMargin))),

    // Iceberg INCREMENTAL APPEND read (CDC shape): three appends land as
    // snapshots; a consumer checkpointed at snapshot 1 reads exactly what
    // arrived after it — planned metadata-only from each in-range append's
    // own manifests (cost ∝ new data, never the table; a compaction in
    // range contributes nothing — IcebergSpec pins those laws). The oracle
    // recomputes the same "everything but the first third" from the source.
    QueryDef(
      "e13_iceberg_incremental",
      (s, dir) => {
        val table = tmp(dir, "iceberg_incr_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        IcebergSink.append(s, table, ev.where(col("offset") % 3 === 0))
        val checkpoint = IcebergSink.load(s, table).get.currentSnapshotId.get
        IcebergSink.append(s, table, ev.where(col("offset") % 3 === 1))
        IcebergSink.append(s, table, ev.where(col("offset") % 3 === 2))
        IcebergSink.readIncremental(s, table, checkpoint)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       max(_offset) AS max_off
          |FROM events_topic WHERE _offset % 3 <> 0
          |GROUP BY _partition ORDER BY partition""".stripMargin))),

    // Iceberg UPSERT (MERGE-style CDC landing): base load, then a change
    // batch that rewrites every click row's value and inserts a synthetic
    // tail partition — matched keys replaced via the sequence-gated
    // equality delete + append, unmatched keys inserted, the corpus never
    // rewritten. The oracle recomputes the post-merge state from the
    // source relationally (anti-join + union), so replacement and insert
    // semantics are both hash-checked.
    QueryDef(
      "e14_iceberg_upsert",
      (s, dir) => {
        val table = tmp(dir, "iceberg_upsert_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        IcebergSink.append(s, table, ev)
        val changes = Tables.eventsTopic(s, dir)
          .where(col("event_type") === "click")
          .select(col("_partition").as("partition"),
            col("_offset").as("offset"),
            (get_json_object(col("_value"), "$.k").cast("long") * 1000).as("k"))
          .union(ev.where(col("offset") < 10)
            .select(lit(99).as("partition"),
              (col("offset") + col("partition") * 10).as("offset"),
              lit(-1L).as("k")).distinct())
        IcebergSink.upsert(s, table, changes, Seq("partition", "offset"))
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT _partition AS partition, _offset AS off,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         event_type
          |  FROM events_topic),
          |merged AS (
          |  SELECT partition, off,
          |         CASE WHEN event_type = 'click' THEN k * 1000 ELSE k END AS k
          |  FROM base
          |  UNION ALL
          |  SELECT DISTINCT 99 AS partition, off + partition * 10 AS off,
          |         CAST(-1 AS BIGINT) AS k
          |  FROM base WHERE off < 10)
          |SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k
          |FROM merged GROUP BY partition ORDER BY partition""".stripMargin))),

    // Iceberg CHANGELOG read (CDC feed with deletes): base load → delete
    // every click row → re-append a click subset; the changelog from the
    // base snapshot carries key-level 'delete' retractions (non-key
    // columns null) and the re-appended rows as 'insert's — replace
    // snapshots emit nothing. The oracle reconstructs the identical feed
    // relationally, so change types, key payloads, and null-padding all
    // hash-check.
    QueryDef(
      "e15_iceberg_changelog",
      (s, dir) => {
        val table = tmp(dir, "iceberg_changelog_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev)
        val base = IcebergSink.load(s, table).get.currentSnapshotId.get
        IcebergSink.deleteWhere(s, table,
          col("event_type") === "click", Seq("partition", "offset"))
        IcebergSink.append(s, table,
          ev.where(col("event_type") === "click" && col("offset") % 7 === 0))
        IcebergSink.readChangelog(s, table, base)
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("k")).as("sum_k"),
            sum(col("offset")).as("sum_off"),
            count(col("event_type")).as("n_typed"))
          .orderBy(col("_change_type"))
      },
      Some(Tables.withEventsTopic(
        """, ch AS (
          |  SELECT 'delete' AS _change_type, CAST(NULL AS BIGINT) AS k,
          |         _offset AS off, CAST(NULL AS VARCHAR) AS event_type
          |  FROM events_topic WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'insert',
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT),
          |         _offset, event_type
          |  FROM events_topic WHERE event_type = 'click' AND _offset % 7 = 0)
          |SELECT _change_type, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k,
          |       CAST(SUM(off) AS BIGINT) AS sum_off,
          |       count(event_type) AS n_typed
          |FROM ch GROUP BY 1 ORDER BY _change_type""".stripMargin))),

    // Checkpointed CDC subscription: three drains — initial load (full
    // history as inserts), an incremental pull of exactly the two new
    // commits (key-level deletes + re-appends), and a caught-up no-op
    // rerun. The accumulated sink must equal the full relational feed:
    // that hash-checks the snapshot-id cursor, the exactly-once replay
    // guard, AND the per-commit changelog planning in one result. The
    // Iceberg twin of e1's KFS offset-WAL pipeline — the durable cursor
    // is a snapshot id because Iceberg's atomic unit is the commit.
    QueryDef(
      "e16_changelog_stream",
      (s, dir) => {
        val table = tmp(dir, "cdc_stream_table")
        val sink = tmp(dir, "cdc_stream_sink")
        val ckpt = tmp(dir, "cdc_stream_ckpt")
        // consume the seeded source table (the marker flips exactly once:
        // a rerun of fn re-seeds so the interleaved commits start from a
        // virgin table+sink+checkpoint every time)
        seedCdcSource(s, dir) // no-op when the seed phase already ran
        Files.delete(Paths.get(table + "_ready"))
        val ckptFile = ckpt + "/snapshot.ckpt"
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        ChangelogStream.drain(s, table, sink, ckptFile) // initial load
        IcebergSink.deleteWhere(s, table,
          col("event_type") === "click", Seq("partition", "offset"))
        IcebergSink.append(s, table,
          ev.where(col("event_type") === "click" && col("offset") % 7 === 0))
        ChangelogStream.drain(s, table, sink, ckptFile) // the two commits
        ChangelogStream.drain(s, table, sink, ckptFile) // caught up: no-op
        s.read.parquet(sink)
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("k")).as("sum_k"),
            sum(col("offset")).as("sum_off"),
            count(col("event_type")).as("n_typed"))
          .orderBy(col("_change_type"))
      },
      Some(Tables.withEventsTopic(
        """, ch AS (
          |  SELECT 'insert' AS _change_type,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         _offset AS off, event_type
          |  FROM events_topic
          |  UNION ALL
          |  SELECT 'insert',
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT),
          |         _offset, event_type
          |  FROM events_topic WHERE event_type = 'click' AND _offset % 7 = 0
          |  UNION ALL
          |  SELECT 'delete', CAST(NULL AS BIGINT), _offset,
          |         CAST(NULL AS VARCHAR)
          |  FROM events_topic WHERE event_type = 'click')
          |SELECT _change_type, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k,
          |       CAST(SUM(off) AS BIGINT) AS sum_off,
          |       count(event_type) AS n_typed
          |FROM ch GROUP BY 1 ORDER BY _change_type""".stripMargin)),
      seed = Some(seedCdcSource)),

    // PARTITION-SPEC EVOLUTION (spec: ADD PARTITION FIELD): the table
    // starts identity-partitioned by event_type (spec 0), half the topic
    // lands, then the spec evolves (+ bucket(8, offset) -> spec 1,
    // metadata-only commit) and the other half lands under spec 1.
    // The partition-scoped read below therefore plans MANIFESTS OF BOTH
    // SPECS — old files keep their spec for life, identity pruning
    // applies across both, and the hash-match against the raw topic
    // proves the multi-spec union loses and duplicates nothing.
    // IcebergSpec covers the pruning counts, spec-id bookkeeping, and
    // compaction-unifies-specs; this query pins end-to-end correctness.
    QueryDef(
      "e29_iceberg_spec_evolution",
      (s, dir) => {
        val table = tmp(dir, "iceberg_evo_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev.where(col("partition").isin(0, 1)),
          partitionBy = Seq("event_type"))
        IcebergSink.addPartitionField(s, table, "bucket(8, offset)")
        IcebergSink.append(s, table, ev.where(col("partition").isin(2, 3)))
        IcebergSink.readPruned(s, table, Seq(IcebergSink.ColumnRange(
            "event_type", Some("click"), Some("click"))))
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("offset")).as("max_off"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       max(_offset) AS max_off
          |FROM events_topic WHERE event_type = 'click'
          |GROUP BY _partition ORDER BY partition""".stripMargin))),

    // POINT-IN-TIME dimension census — the query SCD2 history exists to
    // serve: "what did the dimension look like as of commit T?" for every
    // T, answered from ONE history table (versions live at T satisfy
    // valid_from <= T < valid_to). The five censuses below walk the same
    // four-commit choreography as e30 and must show the base load, the
    // upsert's retraction dip and k*1000 re-insert, and the final delete —
    // each count/sum hash-checked against the relational reconstruction.
    QueryDef(
      "e36_scd2_point_in_time",
      (s, dir) => {
        import s.implicits._
        val table = tmp(dir, "scd2_pit_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev)
        IcebergSink.upsert(s, table,
          ev.where(col("event_type") === "click")
            .withColumn("k", col("k") * 1000),
          Seq("partition", "offset"))
        IcebergSink.deleteWhere(s, table, col("offset") % 5 === 0,
          Seq("partition", "offset"))
        val hist = graft.ops.Scd.scd2(
          IcebergSink.readChangelogFrom(s, table, None)
            .select(col("partition"), col("offset"), col("k"),
              col("_change_type"), col("_change_ordinal")),
          Seq("partition", "offset"))
        hist.crossJoin(broadcast((0 to 4).toDF("as_of")))
          .where(col("valid_from") <= col("as_of") &&
            (col("valid_to").isNull || col("valid_to") > col("as_of")))
          .groupBy(col("as_of"))
          .agg(count(lit(1)).as("live_keys"), sum(col("k")).as("sum_k"))
          .orderBy(col("as_of"))
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT _partition AS p, _offset AS o,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         event_type
          |  FROM events_topic),
          |ch AS (
          |  SELECT 'insert' AS t, 0 AS ord, p, o, k FROM base
          |  UNION ALL
          |  SELECT 'delete', 1, p, o, CAST(NULL AS BIGINT)
          |  FROM base WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'insert', 2, p, o, k * 1000
          |  FROM base WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'delete', 3, p, o, CAST(NULL AS BIGINT)
          |  FROM base WHERE o % 5 = 0),
          |v AS (
          |  SELECT t, k, ord AS valid_from,
          |         min(CASE WHEN t = 'delete' THEN ord END) OVER (
          |           PARTITION BY p, o ORDER BY ord, t
          |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
          |         ) AS valid_to
          |  FROM ch),
          |h AS (SELECT * FROM v WHERE t = 'insert'),
          |q AS (SELECT unnest(generate_series(0, 4)) AS as_of)
          |SELECT CAST(as_of AS INTEGER) AS as_of, count(*) AS live_keys,
          |       CAST(SUM(k) AS BIGINT) AS sum_k
          |FROM h JOIN q ON valid_from <= as_of
          |              AND (valid_to IS NULL OR valid_to > as_of)
          |GROUP BY as_of ORDER BY as_of""".stripMargin))),

    // RIGHT-TO-BE-FORGOTTEN: the full takedown pipeline composed —
    // equality-delete the user's keys (merge-on-read, corpus untouched),
    // COMPACT to physically rewrite survivors, EXPIRE the pre-delete
    // snapshots (time travel to the user's data becomes impossible — the
    // spec's documented trade), REMOVE-ORPHANS for crash leftovers. The
    // result carries the post-delete aggregate next to two erasure
    // proofs: zero rows for the user, and zero retained snapshots that
    // predate the delete. What a compliance audit actually checks.
    QueryDef(
      "e35_forget_user",
      (s, dir) => {
        val table = tmp(dir, "forget_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          col("user_id"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        IcebergSink.append(s, table, ev)
        // takedown: user 7 invokes erasure
        IcebergSink.deleteWhere(s, table, col("user_id") === 7,
          Seq("partition", "offset"))
        IcebergSink.compact(s, table)
        IcebergSink.expireSnapshots(s, table,
          olderThanMs = System.currentTimeMillis() + 3600000L, retainLast = 1)
        IcebergSink.removeOrphanFiles(s, table,
          olderThanMs = System.currentTimeMillis() + 3600000L)
        val m = IcebergSink.load(s, table).get
        val leftRows = IcebergSink.read(s, table)
          .where(col("user_id") === 7).count()
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
          .withColumn("user7_rows", lit(leftRows))
          .withColumn("retained_snapshots", lit(m.snapshots.length.toLong))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT _partition AS partition,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k
          |  FROM events_topic WHERE user_id <> 7)
          |SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k,
          |       CAST(0 AS BIGINT) AS user7_rows,
          |       CAST(1 AS BIGINT) AS retained_snapshots
          |FROM base GROUP BY partition ORDER BY partition""".stripMargin))),

    // SNAPSHOT DRIFT (PSI): "has ingest drifted since the snapshot the
    // model was trained on?" — the base distribution reads via time
    // travel, the comparison side via readIncremental (exactly the rows
    // landed since), and Drift.psiBins folds both into fixed-bin
    // Population Stability Index terms. The second append deliberately
    // shifts the metric (+offset%40) so the drift is real; every count,
    // smoothed proportion, and 6dp-guarded log term hash-checks.
    QueryDef(
      "e34_snapshot_drift",
      (s, dir) => {
        val table = tmp(dir, "drift_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"))
        IcebergSink.append(s, table, ev.where(col("offset") % 2 === 0))
        val base = IcebergSink.load(s, table).get.currentSnapshotId.get
        IcebergSink.append(s, table,
          ev.where(col("offset") % 2 === 1)
            .withColumn("k", col("k") + col("offset") % 40))
        graft.ops.Drift.psiBins(
            IcebergSink.read(s, table, Some(base)),
            IcebergSink.readIncremental(s, table, base),
            "k", bins = 10, lo = 0.0, hi = 140.0)
          .orderBy(col("bin"))
      },
      Some(Tables.withEventsTopic(
        """, src AS (
          |  SELECT CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         _offset AS o
          |  FROM events_topic),
          |b0 AS (
          |  SELECT LEAST(GREATEST(CAST(floor(CAST(k AS DOUBLE) / 14.0) AS BIGINT), 0), 9) AS bin,
          |         count(*) AS c
          |  FROM src WHERE o % 2 = 0 GROUP BY 1),
          |c0 AS (
          |  SELECT LEAST(GREATEST(CAST(floor(CAST(k + o % 40 AS DOUBLE) / 14.0) AS BIGINT), 0), 9) AS bin,
          |         count(*) AS c
          |  FROM src WHERE o % 2 = 1 GROUP BY 1),
          |grid AS (SELECT unnest(generate_series(-1, 9)) AS bin),
          |j AS (
          |  SELECT g.bin, COALESCE(b0.c, 0) AS base_cnt, COALESCE(c0.c, 0) AS cur_cnt
          |  FROM grid g LEFT JOIN b0 ON b0.bin = g.bin LEFT JOIN c0 ON c0.bin = g.bin),
          |t AS (SELECT CAST(SUM(base_cnt) AS BIGINT) AS nb,
          |             CAST(SUM(cur_cnt) AS BIGINT) AS nc FROM j),
          |f AS (
          |  SELECT bin, base_cnt, cur_cnt,
          |         CAST(base_cnt + 1 AS DOUBLE) / (nb + 11) AS p,
          |         CAST(cur_cnt + 1 AS DOUBLE) / (nc + 11) AS q
          |  FROM j, t)
          |SELECT CAST(bin AS INTEGER) AS bin,
          |       CASE WHEN bin >= 0 THEN round(bin * 14.0, 6) END AS bin_lo,
          |       CASE WHEN bin >= 0 THEN round((bin + 1) * 14.0, 6) END AS bin_hi,
          |       CAST(base_cnt AS BIGINT) AS base_cnt,
          |       CAST(cur_cnt AS BIGINT) AS cur_cnt,
          |       round(p, 6) AS p, round(q, 6) AS q,
          |       round((p - q) * round(ln(p / q), 6), 8) AS psi_term
          |FROM f ORDER BY bin""".stripMargin))),

    // STREAMING SCD2 — the dimension-maintenance loop: a checkpointed CDC
    // subscription drains the changelog commit by commit, and the
    // accumulated sink folds into Type-2 history keyed on the commit
    // SEQUENCE NUMBER (table-global and monotone, unlike the per-pull
    // ordinal, so feeds from separate incremental drains stay totally
    // ordered). Four drains — initial load, post-upsert, post-delete,
    // caught-up no-op — and the folded history must equal e30's one-shot
    // batch fold of the same commits: stream ≡ batch for SCD2.
    QueryDef(
      "e33_scd2_stream",
      (s, dir) => {
        val table = tmp(dir, "scd2_stream_table")
        val sink = tmp(dir, "scd2_stream_sink")
        val ckpt = tmp(dir, "scd2_stream_ckpt") + "/snapshot.ckpt"
        Seq(table, sink).foreach(p => TableSink.deleteRecursive(Paths.get(p)))
        Files.deleteIfExists(Paths.get(ckpt))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev) // seq 1
        ChangelogStream.drain(s, table, sink, ckpt) // initial load
        IcebergSink.upsert(s, table, // seqs 2 (delete) + 3 (append)
          ev.where(col("event_type") === "click")
            .withColumn("k", col("k") * 1000),
          Seq("partition", "offset"))
        ChangelogStream.drain(s, table, sink, ckpt) // the two commits
        IcebergSink.deleteWhere(s, table, col("offset") % 5 === 0, // seq 4
          Seq("partition", "offset"))
        ChangelogStream.drain(s, table, sink, ckpt)
        ChangelogStream.drain(s, table, sink, ckpt) // caught up: no-op
        val feed = s.read.parquet(sink).select(col("partition"),
          col("offset"), col("k"), col("_change_type"),
          col("_commit_sequence_number"))
        graft.ops.Scd.scd2(feed, Seq("partition", "offset"),
            ordCol = "_commit_sequence_number")
          .groupBy(col("valid_from"), col("valid_to"), col("is_current"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
          .orderBy(col("valid_from"), col("valid_to").asc_nulls_first)
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT _partition AS p, _offset AS o,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         event_type
          |  FROM events_topic),
          |ch AS (
          |  SELECT 'insert' AS t, CAST(1 AS BIGINT) AS ord, p, o, k FROM base
          |  UNION ALL
          |  SELECT 'delete', 2, p, o, CAST(NULL AS BIGINT)
          |  FROM base WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'insert', 3, p, o, k * 1000
          |  FROM base WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'delete', 4, p, o, CAST(NULL AS BIGINT)
          |  FROM base WHERE o % 5 = 0),
          |v AS (
          |  SELECT t, k, ord AS valid_from,
          |         min(CASE WHEN t = 'delete' THEN ord END) OVER (
          |           PARTITION BY p, o ORDER BY ord, t
          |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
          |         ) AS valid_to
          |  FROM ch)
          |SELECT valid_from, valid_to, valid_to IS NULL AS is_current,
          |       count(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k
          |FROM v WHERE t = 'insert'
          |GROUP BY 1, 2, 3
          |ORDER BY valid_from, valid_to NULLS FIRST""".stripMargin))),

    // ANALYZE TABLE → statistics file → read-back: the spec's statistics
    // list (Iceberg proper: Puffin NDV blobs) written from one corpus
    // pass and served metadata-only to planners via tableStats /
    // explainScan. The EXACT stats half (row count, per-column null
    // counts) hash-checks against the raw topic; the NDV estimates are
    // sketch-bounded in IcebergSpec (HLL++ is not DuckDB-replayable).
    QueryDef(
      "e32_iceberg_analyze",
      (s, dir) => {
        import s.implicits._
        val table = tmp(dir, "analyze_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          when(col("event_type") === "click", col("event_type")).as("click_only"))
        IcebergSink.append(s, table, ev)
        IcebergSink.analyze(s, table)
        val st = IcebergSink.tableStats(s, table).get
        st.columns.toSeq.map { case (c, cs) => (c, cs.nullCount, st.rowCount) }
          .toDF("col_name", "null_count", "row_count")
          .orderBy(col("col_name"))
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT count(*) AS n,
          |         CAST(SUM(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END)
          |              AS BIGINT) AS click_nulls
          |  FROM events_topic)
          |SELECT col_name, null_count, n AS row_count FROM base,
          |  (VALUES ('partition', CAST(0 AS BIGINT)), ('offset', CAST(0 AS BIGINT)),
          |          ('k', CAST(0 AS BIGINT))) AS t(col_name, null_count)
          |UNION ALL
          |SELECT 'click_only', click_nulls, n FROM base
          |ORDER BY col_name""".stripMargin))),

    // WRITE-AUDIT-PUBLISH over Iceberg refs — the staging workflow the
    // spec's branch refs exist for: the candidate batch commits, a branch
    // ref pins it, and main is rolled back to the pre-stage snapshot so
    // readers see NOTHING of the staged work; the audit reads the branch,
    // and only a passing audit fast-forwards main onto the staged
    // snapshot (a failing one would drop the ref and leave main clean —
    // the staged snapshot then ages out via expireSnapshots). The result
    // carries the mid-flight main count next to the final aggregate, so
    // the hash proves BOTH the isolation moment and the published state.
    QueryDef(
      "e31_iceberg_wap",
      (s, dir) => {
        val table = tmp(dir, "wap_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev.where(col("partition").isin(0, 1)))
        val base = IcebergSink.load(s, table).get.currentSnapshotId.get
        // stage: commit the candidate batch, pin it to a branch, hide it
        IcebergSink.append(s, table, ev.where(col("partition").isin(2, 3)))
        val staged = IcebergSink.load(s, table).get.currentSnapshotId.get
        IcebergSink.setRef(s, table, "audit", "branch", Some(staged))
        IcebergSink.rollbackTo(s, table, base)
        // observed NOW, while staged work is hidden (a 1-row bounded count)
        val stagedMainCnt = IcebergSink.read(s, table).count()
        // audit the branch: the candidate must add rows and no key may be
        // null — a real quality gate, evaluated on the branch only
        val audit = IcebergSink.readRef(s, table, "audit")
          .agg(count(lit(1)).as("audit_cnt"),
            count(when(col("offset").isNull, 1)).as("null_keys")).collect()(0)
        if (audit.getLong(1) == 0 && audit.getLong(0) > 0) {
          IcebergSink.rollbackTo(s, table, staged) // fast-forward publish
          IcebergSink.dropRef(s, table, "audit")
        }
        IcebergSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
          .withColumn("staged_main_cnt", lit(stagedMainCnt))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT _partition AS partition,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k
          |  FROM events_topic),
          |iso AS (SELECT count(*) AS staged_main_cnt FROM base
          |        WHERE partition IN (0, 1))
          |SELECT partition, count(*) AS cnt,
          |       CAST(SUM(k) AS BIGINT) AS sum_k,
          |       (SELECT staged_main_cnt FROM iso) AS staged_main_cnt
          |FROM base GROUP BY partition ORDER BY partition""".stripMargin))),

    // SCD TYPE-2 DIMENSION BUILD from the Iceberg changelog — the classic
    // warehouse consumer of a CDC feed: base load (ordinal 0), an upsert
    // that retracts every click row and re-inserts it at k*1000 (the
    // delete and append commits land as ordinals 1 and 2), then a key
    // delete of every offset % 5 == 0 row (ordinal 3). Scd.scd2 folds the
    // feed into versioned history — each insert opens a version, the next
    // later delete for the key closes it — and the aggregate below hashes
    // the full (valid_from, valid_to, is_current) version shape against
    // the oracle's relational reconstruction of the same four commits.
    QueryDef(
      "e30_scd2_history",
      (s, dir) => {
        val table = tmp(dir, "scd2_table")
        TableSink.deleteRecursive(Paths.get(table))
        val ev = Tables.eventsTopic(s, dir).select(
          col("_partition").as("partition"),
          col("_offset").as("offset"),
          get_json_object(col("_value"), "$.k").cast("long").as("k"),
          col("event_type"))
        IcebergSink.append(s, table, ev)
        IcebergSink.upsert(s, table,
          ev.where(col("event_type") === "click")
            .withColumn("k", col("k") * 1000),
          Seq("partition", "offset"))
        IcebergSink.deleteWhere(s, table, col("offset") % 5 === 0,
          Seq("partition", "offset"))
        val feed = IcebergSink.readChangelogFrom(s, table, None)
          .select(col("partition"), col("offset"), col("k"),
            col("_change_type"), col("_change_ordinal"))
        graft.ops.Scd.scd2(feed, Seq("partition", "offset"))
          .groupBy(col("valid_from"), col("valid_to"), col("is_current"))
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"))
          .orderBy(col("valid_from"), col("valid_to").asc_nulls_first)
      },
      Some(Tables.withEventsTopic(
        """, base AS (
          |  SELECT _partition AS p, _offset AS o,
          |         CAST(json_extract_string(_value, '$.k') AS BIGINT) AS k,
          |         event_type
          |  FROM events_topic),
          |ch AS (
          |  SELECT 'insert' AS t, 0 AS ord, p, o, k FROM base
          |  UNION ALL
          |  SELECT 'delete', 1, p, o, CAST(NULL AS BIGINT)
          |  FROM base WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'insert', 2, p, o, k * 1000
          |  FROM base WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT 'delete', 3, p, o, CAST(NULL AS BIGINT)
          |  FROM base WHERE o % 5 = 0),
          |v AS (
          |  SELECT t, k, ord AS valid_from,
          |         min(CASE WHEN t = 'delete' THEN ord END) OVER (
          |           PARTITION BY p, o ORDER BY ord, t
          |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
          |         ) AS valid_to
          |  FROM ch)
          |SELECT valid_from, valid_to, valid_to IS NULL AS is_current,
          |       count(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k
          |FROM v WHERE t = 'insert'
          |GROUP BY 1, 2, 3
          |ORDER BY valid_from, valid_to NULLS FIRST""".stripMargin))),

    // Streaming CURATION: the quality gate runs INSIDE the checkpointed
    // ingest query (Pipeline's `transform` hook) — class filter on the
    // record header + payload predicate on the JSON value — so curation
    // is continuous and exactly-once with the ingest, not a second batch
    // pass over landed data. The landed table must equal the batch
    // curation of the same topic, which is exactly what the oracle
    // recomputes from events_topic.
    QueryDef(
      "e17_stream_curation",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        val table = tmp(dir, "curation_table")
        val ckpt = tmp(dir, "curation_ckpt")
        StreamDrive.narrow(s) {
          Pipeline.run(s, root, table, ckpt,
            schemaCols = Seq(SchemaCol("k", "int", "$.k")),
            validation = Pipeline.Lenient,
            transform = df => df.filter(
              element_at(col("_headers"), "src").isin("purchase", "view") &&
              get_json_object(col("_value").cast("string"), "$.k").cast("int") >= 2))
        }
        TableSink.read(s, table)
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"),
            max(col("offset")).as("max_off"),
            sum(col("k").cast("long")).as("sum_k"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       max(_offset) AS max_off,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
          |FROM events_topic
          |WHERE event_type IN ('purchase', 'view')
          |  AND CAST(json_extract_string(_value, '$.k') AS INTEGER) >= 2
          |GROUP BY _partition ORDER BY partition""".stripMargin))),

    // Continuous first-occurrence near-dedup: the documents corpus arrives
    // as a KFS topic (arrival order = doc_id order) and is admitted
    // micro-batch by micro-batch against the accumulated MinHash index —
    // a doc is rejected iff a strictly earlier doc LSH-collides and
    // verifies at Jaccard >= 0.5. The segment admission cap forces the
    // drain to span multiple micro-batches, so the cross-batch index path
    // (persisted signatures, history never re-shingled) really runs. The
    // oracle recomputes the global exists-earlier-near-dup rule in one
    // shot — streaming ≡ batch, the St5 claim for dedup.
    QueryDef(
      "e18_stream_dedup",
      (s, dir) => {
        val root = KfsSeed.seededDocsRoot(s, dir)
        val table = tmp(dir, "sdedup_table")
        val ckpt = tmp(dir, "sdedup_ckpt")
        val index = tmp(dir, "sdedup_index")
        // ~2 micro-batches at any SF: half the segment count per trigger
        val nSegs = math.max(1,
          math.ceil(Tables.load(s, dir, "documents").count() / 250.0).toInt)
        StreamDrive.narrow(s) {
          Pipeline.runDedup(s, root, table, ckpt, index, threshold = 0.5,
            maxSegmentsPerTrigger = Some(math.max(1, (nSegs + 1) / 2)))
        }
        val accepted = TableSink.read(s, table)
          .select(col("offset").as("doc"), lit(true).as("acc"))
        Tables.load(s, dir, "documents").select(col("doc_id").as("doc"))
          .join(accepted, Seq("doc"), "left")
          .select(col("doc"), coalesce(col("acc"), lit(false)).as("accepted"))
          .orderBy(col("doc"))
      },
      Some(
        s"""WITH ${DedupPack.shinglesCte},
           |${DedupPack.sigsCte},
           |${DedupPack.bandsCte},
           |cands AS (
           |  SELECT DISTINCT l.doc AS a, r.doc AS b
           |  FROM bands l JOIN bands r
           |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc < r.doc),
           |${DedupPack.jaccardCtes},
           |dups AS (
           |  SELECT i.b
           |  FROM inter i
           |  JOIN counts ca ON ca.doc = i.a
           |  JOIN counts cb ON cb.doc = i.b
           |  WHERE i.inter / (ca.n + cb.n - i.inter) >= 0.5)
           |SELECT d.doc_id AS doc,
           |       NOT EXISTS (SELECT 1 FROM dups WHERE dups.b = d.doc_id) AS accepted
           |FROM documents d
           |ORDER BY doc""".stripMargin),
      seed = Some((s, dir) => { KfsSeed.seededDocsRoot(s, dir); () })),

    // Incrementally-maintained materialized aggregate: per-partition
    // count + sum of a json field kept current micro-batch by micro-batch
    // (merge-on-read partials plus per-batch offset-coverage rows — the
    // replay guard — then folded into one generation by compact()). The
    // oracle recomputes the aggregate over the whole topic in one shot:
    // the incrementally-maintained view ≡ the full recompute, surviving
    // both the multi-batch drain and the compaction fold.
    QueryDef(
      "e19_incremental_agg",
      (s, dir) => {
        val root = KfsSeed.seededRoot(s, dir)
        // _cov suffix: the replay-guard schema changed (batch-id stamp →
        // coverage rows); stable-path tables from older builds must not mix
        val table = tmp(dir, "iagg_cov_table")
        val ckpt = tmp(dir, "iagg_cov_ckpt")
        // ~2 micro-batches at any SF (the e18 rule): now that AvailableNow
        // honors admission control, a FIXED 1-segment cap would mean one
        // checkpointed batch per segment — ~120 batches and ~50 s at
        // sf0.1 for a fixture whose point is just "the increment spans
        // batch boundaries"
        val nSegs = (Tables.events(s, dir).count() / 1000 + 4).toInt
        StreamDrive.narrow(s) {
          AggMaintenance.run(s, root, table, ckpt, Seq("_partition"),
            get_json_object(col("_value").cast("string"), "$.k"),
            maxSegmentsPerTrigger = Some(math.max(1, (nSegs + 1) / 2)))
        }
        AggMaintenance.compact(s, table, Seq("_partition"))
        AggMaintenance.read(s, table, Seq("_partition"))
          .select(col("_partition").as("partition"), col("cnt"),
            col("sum_v").cast("long").as("sum_k"))
          .orderBy(col("partition"))
      },
      Some(Tables.withEventsTopic(
        """SELECT _partition AS partition, count(*) AS cnt,
          |       CAST(SUM(CAST(json_extract_string(_value, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
          |FROM events_topic
          |GROUP BY _partition ORDER BY partition""".stripMargin))),

    // Watermark-bounded streaming exact dedup: the documents corpus plus
    // verbatim RE-CRAWLS (every 5th doc re-sent at a later offset/ts — the
    // at-least-once duplicate shape) drains through
    // dropDuplicatesWithinWatermark under Trigger.AvailableNow, which this
    // build meters through admission control (SupportsTriggerAvailableNow:
    // the 2-segment cap really bounds each micro-batch of the drain).
    // State is rate × watermark-delay, never stream age — the only exact
    // dedup that survives an unbounded ingest feed. The surviving
    // content-hash SET equals the batch distinct set: every re-send
    // collapsed onto its original across micro-batch boundaries.
    QueryDef(
      "e38_stream_watermark_dedup",
      (s, dir) => {
        val root = KfsSeed.seededRecrawlDocsRoot(s, dir)
        val out = tmp(dir, "wdedup_out")
        val ckpt = tmp(dir, "wdedup_ckpt")
        // ~3 metered micro-batches at any SF (scale the cap with the
        // estate, not a constant — the e19 lesson)
        val nDocs = Tables.load(s, dir, "documents").count()
        val cap = math.max(2, ((nDocs + nDocs / 5) / 250 / 3 + 1).toInt)
        val stream = s.readStream.format("kfs").option("path", root)
          .option("max_segments_per_trigger", cap.toString).load()
          .select(col("_value").cast("string").as("text"),
            timestamp_millis(col("_ts_ms")).as("_ts"))
        StreamDrive.narrow(s) {
          val q = graft.streaming.StreamDedup
            .exactByContent(stream, "text", "_ts", watermarkDelay = "30 days")
            .select(col("_content_hash").as("content_hash"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.read.parquet(out).orderBy(col("content_hash"))
      },
      Some(
        """SELECT DISTINCT md5(lower(trim(text))) AS content_hash
          |FROM documents ORDER BY content_hash""".stripMargin),
      seed = Some((s, dir) => { KfsSeed.seededRecrawlDocsRoot(s, dir); () }))
  )
}

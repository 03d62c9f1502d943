package graft.etl

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.kfs.KfsLayout

/** REAL Apache Iceberg v2 table format (S8), written from the PUBLIC spec
  * (iceberg.apache.org/spec) with the Hadoop-catalog filesystem layout —
  * the full metadata chain a plain parquet directory lacks:
  *
  *   - `metadata/v<N>.metadata.json`: format-version 2 table metadata with
  *     schemas carrying STABLE FIELD IDS, snapshot list + lineage,
  *     sequence numbers, snapshot-log and metadata-log
  *   - `metadata/snap-<id>-<uuid>.avro`: the snapshot's manifest LIST
  *     (Avro, spec field ids 500-519)
  *   - `metadata/<uuid>-m0.avro`: one manifest per commit (Avro
  *     manifest_entry records, data_file struct ids 100-104/134) with
  *     per-file record counts read from the parquet footers
  *   - `metadata/version-hint.text`: the Hadoop-catalog current-version
  *     pointer — a best-effort cache, deleted and re-created on each commit
  *     (never truncated in place); [[load]] probes past it
  *   - OPTIMISTIC COMMITS: the new metadata version is claimed by atomic
  *     rename; a loser re-reads the current metadata, re-bases its
  *     snapshot (fresh ids/sequence number, parent = winner's snapshot)
  *     and retries — the data files and manifest are reused untouched,
  *     exactly Iceberg's commit-conflict behavior. The reference gets all
  *     of this from iceberg-go + a REST catalog (`sink/iceberg.go:40-108`);
  *     zero-egress rules out dependencies here, so the format itself is
  *     implemented against the spec.
  *
  * Schema evolution follows Iceberg rules: new columns get fresh ids
  * (last-column-id grows monotonically), existing columns keep their id
  * forever, and only the spec's legal promotions (int→long, float→double)
  * change a column's type. Readers resolve by field id + promotion, so old
  * data files are NEVER rewritten on evolution (unlike [[TableSink]]'s
  * rewrite strategy); [[read]] drives scan planning from the metadata
  * chain — current snapshot → manifest list → manifests → data files —
  * reading with the current schema (Spark's vectorized parquet reader
  * upcasts int32→long / float→double in place).
  *
  * Scope: flat schemas of Iceberg primitive types; append, replace
  * (compaction) and row-level DELETE snapshots in BOTH v2 shapes —
  * equality-delete files ([[deleteWhere]]) and position-delete files
  * ([[deleteWherePositions]]) — applied merge-on-read and materialized by
  * [[compact]].
  */
object IcebergSink {

  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  private val mapper = new ObjectMapper()

  // ---- type mapping (spec: primitive types) ------------------------------

  def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case DateType => "date"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"unsupported Iceberg column type: $other")
  }

  def sparkType(s: String): DataType = s match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "timestamp" => TimestampNTZType
    case "timestamptz" => TimestampType
    case "date" => DateType
    case d if d.startsWith("decimal") =>
      val m = """decimal\((\d+),\s*(\d+)\)""".r.findFirstMatchIn(d).get
      DecimalType(m.group(1).toInt, m.group(2).toInt)
    case other => throw new IllegalArgumentException(s"unknown type: $other")
  }

  /** One table column: spec field with a stable id. */
  final case class Field(id: Int, name: String, typ: String)

  /** One partition field (spec: partition specs; field ids start at
    * 1000). Transforms: `identity` (the one the reference inherits from
    * iceberg-go, `sink/iceberg.go:40-108`), `bucket[N]` (spec Appendix B
    * 32-bit Murmur3 over the single-value binary form, mod N — the
    * high-cardinality-key lever: point lookups prune to one bucket) and
    * `truncate[W]` (width-truncated ints / prefix-truncated strings —
    * range-prunable coarse partitioning). Temporal transforms
    * (year/month/day/hour) are representable as truncate/identity over
    * epoch columns and are out of scope. The spec is fixed at table
    * creation — no spec evolution. */
  final case class PartitionField(fieldId: Int, sourceId: Int, name: String,
      transform: String = "identity") {
    def isIdentity: Boolean = transform == "identity"
    /** bucket[N] → N */
    def bucketN: Option[Int] =
      "^bucket\\[(\\d+)\\]$".r.findFirstMatchIn(transform).map(_.group(1).toInt)
    /** truncate[W] → W */
    def truncateW: Option[Int] =
      "^truncate\\[(\\d+)\\]$".r.findFirstMatchIn(transform).map(_.group(1).toInt)
    /** year | month | day | hour */
    def temporal: Option[String] =
      Some(transform).filter(Set("year", "month", "day", "hour"))
  }

  private val MicrosPerHour = 3600000000L
  private val MicrosPerDay = 86400000000L

  /** Spec temporal transform of an epoch-µs timestamp: ordinals since
    * 1970-01-01 (years/months by calendar, days/hours by fixed width,
    * floors toward negative infinity). */
  private[graft] def temporalOf(unit: String, micros: Long): Int = unit match {
    case "hour" => Math.floorDiv(micros, MicrosPerHour).toInt
    case "day" => Math.floorDiv(micros, MicrosPerDay).toInt
    case "month" =>
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, MicrosPerDay))
      (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
    case "year" =>
      java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, MicrosPerDay))
        .getYear - 1970
    case other => throw new IllegalArgumentException(s"temporal unit $other")
  }

  /** Inclusive [start, end] µs interval a temporal ordinal covers. */
  private[graft] def temporalInterval(unit: String, ordinal: Int): (Long, Long) =
    unit match {
      case "hour" =>
        (ordinal * MicrosPerHour, (ordinal + 1) * MicrosPerHour - 1)
      case "day" =>
        (ordinal * MicrosPerDay, (ordinal + 1) * MicrosPerDay - 1)
      case "month" =>
        val start = java.time.LocalDate.of(1970 + Math.floorDiv(ordinal, 12),
          Math.floorMod(ordinal, 12) + 1, 1)
        (start.toEpochDay * MicrosPerDay,
          start.plusMonths(1).toEpochDay * MicrosPerDay - 1)
      case "year" =>
        val start = java.time.LocalDate.of(1970 + ordinal, 1, 1)
        (start.toEpochDay * MicrosPerDay,
          start.plusYears(1).toEpochDay * MicrosPerDay - 1)
      case other => throw new IllegalArgumentException(s"temporal unit $other")
    }

  /** Spec Appendix B bucket hash: 32-bit Murmur3 (x86, seed 0) of the
    * value's single-value binary serialization — 8-byte little-endian for
    * int AND long (ints hash as longs so buckets stay stable across
    * promotion), UTF-8 bytes for strings — then `(hash & MaxInt) % N`. */
  private[graft] def murmur3x86(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = 0 // seed
    val nBlocks = data.length / 4
    var i = 0
    while (i < nBlocks) {
      val base = i * 4
      var k = (data(base) & 0xff) | ((data(base + 1) & 0xff) << 8) |
        ((data(base + 2) & 0xff) << 16) | ((data(base + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k = 0
    val tail = nBlocks * 4
    (data.length & 3) match {
      case 3 =>
        k ^= (data(tail + 2) & 0xff) << 16
        k ^= (data(tail + 1) & 0xff) << 8
        k ^= data(tail) & 0xff
      case 2 =>
        k ^= (data(tail + 1) & 0xff) << 8
        k ^= data(tail) & 0xff
      case 1 =>
        k ^= data(tail) & 0xff
      case _ =>
    }
    if ((data.length & 3) != 0) {
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  private[graft] def bucketOf(typ: String, v: Any, n: Int): Int = {
    val bytes = (typ, v) match {
      case ("int" | "long", num: Number) =>
        ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putLong(num.longValue()).array()
      case ("string", s: String) => s.getBytes(StandardCharsets.UTF_8)
      case other => throw new IllegalArgumentException(
        s"bucket transform source must be int/long/string, got $other")
    }
    (murmur3x86(bytes) & Int.MaxValue) % n
  }

  /** Spec truncate: ints/longs round toward negative infinity to a
    * multiple of W; strings keep the first W characters. */
  private[graft] def truncateOf(typ: String, v: Any, w: Int): Any =
    (typ, v) match {
      case ("int", num: Number) =>
        val x = num.intValue(); x - java.lang.Math.floorMod(x, w)
      case ("long", num: Number) =>
        val x = num.longValue(); x - java.lang.Math.floorMod(x, w.toLong)
      case ("string", s: String) => s.take(w)
      case other => throw new IllegalArgumentException(
        s"truncate transform source must be int/long/string, got $other")
    }

  final case class Snapshot(snapshotId: Long, parentId: Option[Long],
      sequenceNumber: Long, timestampMs: Long, manifestList: String,
      addedFiles: Long, addedRecords: Long, schemaId: Int,
      operation: String = "append",
      summary: Map[String, String] = Map.empty)

  final case class TableMeta(
      version: Int, uuid: String, location: String,
      lastSequenceNumber: Long, lastColumnId: Int, currentSchemaId: Int,
      fields: Seq[Field], snapshots: Seq[Snapshot],
      currentSnapshotId: Option[Long],
      metadataLog: Seq[(Long, String)],
      schemasById: Map[Int, Seq[Field]] = Map.empty,
      specFields: Seq[PartitionField] = Nil,
      /** Named refs (spec: snapshot references): name → (snapshot id,
        * "tag" | "branch"). Ref'd snapshots are pinned against
        * [[expireSnapshots]]. */
      refs: Map[String, (Long, String)] = Map.empty,
      /** Every partition spec ever declared, by spec-id (spec: partition
        * evolution — old data files keep the spec they were written
        * under; `specFields` is the DEFAULT spec's fields). Empty map =
        * single-spec table (spec 0). */
      specsById: Map[Int, Seq[PartitionField]] = Map.empty,
      defaultSpecId: Int = 0,
      /** Declared write orders by order-id (spec: Sort Orders — order 0 is
        * always the unsorted order). The default order records how NEW
        * data files are clustered at append time; readers use it to know
        * which columns carry tight per-file bounds. */
      sortOrders: Map[Int, Seq[SortField]] = Map.empty,
      defaultSortOrderId: Int = 0,
      /** Statistics files (spec: `statistics` — one entry per analyzed
        * snapshot, replaced on re-analyze). Each entry points at a PUFFIN
        * file ([[Puffin]]) holding per-column NDV estimates + null counts
        * as `graft-ndv-json-v1` blobs, with spec-complete entry fields
        * (file-footer-size-in-bytes, blob-metadata) so external readers
        * parse the framing; [[explainScan]] reports the numbers for the
        * scanned snapshot. */
      statistics: Seq[StatsFile] = Nil,
      /** Per-ref retention override (spec: snapshot references'
        * `max-ref-age-ms`): a ref whose referenced snapshot is older
        * than this at [[expireSnapshots]] time is itself removed — the
        * expiring-tag shape ("keep this audit pin 30 days"). Absent =
        * the ref pins forever (this engine's default, spec's
        * `retain-forever` behavior for tags without an age). */
      refAges: Map[String, Long] = Map.empty) {
    def currentSchema: StructType = sparkSchemaOf(fields)
    def schemaFor(schemaId: Int): StructType =
      sparkSchemaOf(schemasById.getOrElse(schemaId, fields))
    def allSpecs: Map[Int, Seq[PartitionField]] =
      if (specsById.isEmpty) Map(0 -> specFields) else specsById
    def allSortOrders: Map[Int, Seq[SortField]] =
      if (sortOrders.contains(0)) sortOrders else sortOrders + (0 -> Nil)
    /** The default write order's source columns, in order (empty =
      * unsorted order 0). */
    def writeOrderColumns: Seq[String] = {
      val byId = fields.map(f => f.id -> f.name).toMap
      allSortOrders.getOrElse(defaultSortOrderId, Nil)
        .flatMap(sf => byId.get(sf.sourceId))
    }
  }

  /** One field of a sort order (spec: Sort Orders — transform, source-id,
    * direction asc|desc, null-order nulls-first|nulls-last). */
  final case class SortField(sourceId: Int, transform: String = "identity",
      direction: String = "asc", nullOrder: String = "nulls-first")

  /** Blob metadata of one statistics-file blob, as recorded in the table
    * metadata's `statistics` entry (spec: Blob metadata — type, source
    * field ids, snapshot-id, sequence-number, properties). */
  final case class StatsBlobMeta(blobType: String, fields: Seq[Int],
      snapshotId: Long, sequenceNumber: Long,
      properties: Map[String, String])

  /** One `statistics` entry (spec: statistics files list — snapshot-id,
    * statistics-path, file-size-in-bytes, file-footer-size-in-bytes,
    * blob-metadata). The path points at a Puffin file ([[Puffin]]). */
  final case class StatsFile(snapshotId: Long, path: String,
      fileSizeBytes: Long, fileFooterSizeBytes: Long = 0L,
      blobMeta: Seq[StatsBlobMeta] = Nil)

  /** Per-column statistics payload of one analyzed snapshot. */
  final case class ColumnStats(ndv: Long, nullCount: Long)

  /** The whole stats payload: table row count + per-column stats. */
  final case class TableStats(rowCount: Long,
      columns: Map[String, ColumnStats])

  private def sparkSchemaOf(fields: Seq[Field]): StructType =
    StructType(fields.map(f => StructField(f.name, sparkType(f.typ))))

  private def fs(p: HPath): FileSystem = p.getFileSystem(KfsLayout.hadoopConf)

  private def metadataDir(table: String) = new HPath(table, "metadata")
  private def dataDir(table: String) = new HPath(table, "data")
  private def versionFile(table: String, v: Int) =
    new HPath(metadataDir(table), s"v$v.metadata.json")

  // ---- load ---------------------------------------------------------------

  /** Current table metadata, resolved via version-hint with a forward probe
    * (the hint is a cache, not the source of truth — a crashed committer
    * may have advanced the version without updating it). */
  def load(spark: SparkSession, table: String): Option[TableMeta] = {
    val dir = metadataDir(table)
    val f = fs(dir)
    if (!f.exists(dir)) return None
    val hinted =
      try {
        val in = f.open(new HPath(dir, "version-hint.text"))
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          StandardCharsets.UTF_8).trim.toInt
        finally in.close()
      } catch { case _: Exception => 0 }
    var v = math.max(hinted, 1)
    if (!f.exists(versionFile(table, v))) return None
    while (f.exists(versionFile(table, v + 1))) v += 1
    Some(parseMeta(readString(f, versionFile(table, v)), v))
  }

  /** Point `version-hint.text` at a just-claimed version. The hint is a
    * best-effort cache ([[load]] probes past it, and falls back to v1 plus
    * the forward probe when it is absent), so it is deleted and created
    * fresh rather than truncated in place: on ext4 rewriting an existing
    * file through `O_TRUNC` makes the kernel flush the new data at close
    * (`auto_da_alloc`), stalling the commit for tens of milliseconds, while
    * unlink + create costs a fraction of one. */
  private def writeVersionHint(f: FileSystem, table: String, version: Int): Unit = {
    val hint = new HPath(metadataDir(table), "version-hint.text")
    f.delete(hint, false)
    val out = f.create(hint, true)
    try out.write(version.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readString(f: FileSystem, p: HPath): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  private def parseMeta(json: String, version: Int): TableMeta = {
    val n = mapper.readTree(json)
    val schemaId = n.path("current-schema-id").asInt()
    val schemasById = n.path("schemas").elements().asScala.map { s =>
      s.path("schema-id").asInt() ->
        s.path("fields").elements().asScala.map(fn =>
          Field(fn.path("id").asInt(), fn.path("name").asText(),
            fn.path("type").asText())).toSeq
    }.toMap
    val fields = schemasById.getOrElse(schemaId,
      throw new IllegalStateException("current schema missing"))
    val snaps = n.path("snapshots").elements().asScala.map { sn =>
      Snapshot(
        sn.path("snapshot-id").asLong(),
        if (sn.has("parent-snapshot-id")) Some(sn.path("parent-snapshot-id").asLong()) else None,
        sn.path("sequence-number").asLong(),
        sn.path("timestamp-ms").asLong(),
        sn.path("manifest-list").asText(),
        sn.path("summary").path("added-data-files").asText("0").toLong,
        sn.path("summary").path("added-records").asText("0").toLong,
        sn.path("schema-id").asInt(),
        sn.path("summary").path("operation").asText("append"),
        // user summary properties (spec: summary is a string map) —
        // e.g. the streaming sink's txn markers
        sn.path("summary").fields().asScala
          .filterNot(e => Set("operation", "added-data-files",
            "added-records").contains(e.getKey))
          .map(e => e.getKey -> e.getValue.asText()).toMap)
    }.toSeq
    val metaLog = n.path("metadata-log").elements().asScala
      .map(e => (e.path("timestamp-ms").asLong(), e.path("metadata-file").asText()))
      .toSeq
    val defaultSpecId = n.path("default-spec-id").asInt()
    val specsById = n.path("partition-specs").elements().asScala.map { sp =>
      sp.path("spec-id").asInt() ->
        sp.path("fields").elements().asScala.map { pf =>
          val transform = pf.path("transform").asText()
          require(transform == "identity" ||
            transform.matches("bucket\\[\\d+\\]") ||
            transform.matches("truncate\\[\\d+\\]") ||
            Set("year", "month", "day", "hour")(transform),
            s"unsupported partition transform $transform")
          PartitionField(pf.path("field-id").asInt(),
            pf.path("source-id").asInt(), pf.path("name").asText(), transform)
        }.toSeq
    }.toMap
    val specFields = specsById.getOrElse(defaultSpecId, Nil)
    val refs = Option(n.get("refs")).map { r =>
      r.properties().asScala.map { e =>
        e.getKey -> (e.getValue.path("snapshot-id").asLong(),
          e.getValue.path("type").asText("tag"))
      }.toMap
    }.getOrElse(Map.empty[String, (Long, String)])
    val refAges = Option(n.get("refs")).map { r =>
      r.properties().asScala.flatMap { e =>
        Option(e.getValue.get("max-ref-age-ms"))
          .map(v => e.getKey -> v.asLong())
      }.toMap
    }.getOrElse(Map.empty[String, Long])
    val sortOrders = n.path("sort-orders").elements().asScala.map { o =>
      o.path("order-id").asInt() ->
        o.path("fields").elements().asScala.map(sf =>
          SortField(sf.path("source-id").asInt(),
            sf.path("transform").asText("identity"),
            sf.path("direction").asText("asc"),
            sf.path("null-order").asText("nulls-first"))).toSeq
    }.toMap
    val statistics = n.path("statistics").elements().asScala.map(st =>
      StatsFile(st.path("snapshot-id").asLong(),
        st.path("statistics-path").asText(),
        st.path("file-size-in-bytes").asLong(),
        st.path("file-footer-size-in-bytes").asLong(),
        st.path("blob-metadata").elements().asScala.map(b =>
          StatsBlobMeta(b.path("type").asText(),
            b.path("fields").elements().asScala.map(_.asInt()).toSeq,
            b.path("snapshot-id").asLong(),
            b.path("sequence-number").asLong(),
            Option(b.get("properties")).map(_.properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap)
              .getOrElse(Map.empty))).toSeq)).toSeq
    TableMeta(version, n.path("table-uuid").asText(),
      n.path("location").asText(), n.path("last-sequence-number").asLong(),
      n.path("last-column-id").asInt(), schemaId, fields, snaps,
      if (n.hasNonNull("current-snapshot-id") &&
        n.path("current-snapshot-id").asLong() != -1)
        Some(n.path("current-snapshot-id").asLong())
      else None,
      metaLog, schemasById, specFields, refs, specsById, defaultSpecId,
      sortOrders, n.path("default-sort-order-id").asInt(), statistics,
      refAges)
  }

  // ---- schema evolution (spec: field ids stable, legal promotions) --------

  /** Merge an incoming Spark schema: existing fields keep ids, int→long /
    * float→double promote in place, new fields get fresh ids. Anything
    * else is rejected. Returns (fields, lastColumnId, changed). */
  private[etl] def evolveFields(fields: Seq[Field], lastColumnId: Int,
      incoming: StructType): (Seq[Field], Int, Boolean) = {
    var nextId = lastColumnId
    var changed = false
    val byName = fields.map(f => f.name -> f).toMap
    val promoted = fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case None => f
        case Some(in) =>
          val inTyp = icebergType(in.dataType)
          (f.typ, inTyp) match {
            case (a, b) if a == b => f
            case ("int", "long") => changed = true; f.copy(typ = "long")
            case ("float", "double") => changed = true; f.copy(typ = "double")
            // reading wider data into a narrower column is fine only if
            // the writer narrows — which Iceberg forbids
            case ("long", "int") | ("double", "float") => f
            case (a, b) => throw new TableSink.SchemaEvolutionException(
              s"illegal type change for column ${f.name}: $a -> $b")
          }
      }
    }
    val added = incoming.fields.filter(f => !byName.contains(f.name)).map { f =>
      nextId += 1; changed = true
      Field(nextId, f.name, icebergType(f.dataType))
    }
    (promoted ++ added, nextId, changed)
  }

  // ---- avro schemas (spec manifest / manifest-list field ids) -------------

  private def avroField(name: String, typ: String, fieldId: Int,
      optional: Boolean): String = {
    val t = if (optional) s"""["null", $typ]""" else typ
    val dflt = if (optional) """, "default": null""" else ""
    s"""{"name": "$name", "type": $t, "field-id": $fieldId$dflt}"""
  }

  /** manifest_file record (spec: manifest lists, ids 500-519). */
  private val manifestListSchema: Schema = new Schema.Parser().parse(
    s"""{"type": "record", "name": "manifest_file", "fields": [
       |${avroField("manifest_path", "\"string\"", 500, optional = false)},
       |${avroField("manifest_length", "\"long\"", 501, optional = false)},
       |${avroField("partition_spec_id", "\"int\"", 502, optional = false)},
       |${avroField("content", "\"int\"", 517, optional = false)},
       |${avroField("sequence_number", "\"long\"", 515, optional = false)},
       |${avroField("min_sequence_number", "\"long\"", 516, optional = false)},
       |${avroField("added_snapshot_id", "\"long\"", 503, optional = false)},
       |${avroField("added_files_count", "\"int\"", 504, optional = false)},
       |${avroField("existing_files_count", "\"int\"", 505, optional = false)},
       |${avroField("deleted_files_count", "\"int\"", 506, optional = false)},
       |${avroField("added_rows_count", "\"long\"", 512, optional = false)},
       |${avroField("existing_rows_count", "\"long\"", 513, optional = false)},
       |${avroField("deleted_rows_count", "\"long\"", 514, optional = false)}
       |]}""".stripMargin)

  /** Avro primitive for an identity-partitionable Iceberg type. Identity
    * partitioning is restricted to these four source types (dates and
    * timestamps partition via transforms). */
  private def partitionAvroType(typ: String): String = typ match {
    case "int" => "\"int\""
    case "long" => "\"long\""
    case "string" => "\"string\""
    case "boolean" => "\"boolean\""
    case other => throw new IllegalArgumentException(
      s"identity partition source type must be int/long/string/boolean, got $other")
  }

  /** A `partitionBy` declaration: `col` (identity), `bucket(N, col)`,
    * `truncate(W, col)`, or `year|month|day|hour(col)` → (source column,
    * spec transform, field name — Iceberg's naming convention for derived
    * transforms). */
  private[graft] def parsePartitionDecl(s: String): (String, String, String) = {
    val bucket = "^bucket\\(\\s*(\\d+)\\s*,\\s*([^)\\s]+)\\s*\\)$".r
    val trunc = "^truncate\\(\\s*(\\d+)\\s*,\\s*([^)\\s]+)\\s*\\)$".r
    val temporal = "^(year|month|day|hour)\\(\\s*([^)\\s]+)\\s*\\)$".r
    s.trim match {
      case bucket(n, col) => (col, s"bucket[$n]", s"${col}_bucket")
      case trunc(w, col) => (col, s"truncate[$w]", s"${col}_trunc")
      case temporal(u, col) => (col, u, s"${col}_$u")
      case col => (col, "identity", col)
    }
  }

  /** Canonical declaration string of a spec field (for restated-spec
    * validation on later appends). */
  private def declOf(pf: PartitionField, sourceName: String): String =
    (pf.bucketN, pf.truncateW, pf.temporal) match {
      case (Some(n), _, _) => s"bucket($n,$sourceName)"
      case (_, Some(w), _) => s"truncate($w,$sourceName)"
      case (_, _, Some(u)) => s"$u($sourceName)"
      case _ => sourceName
    }

  /** The Avro/manifest type of a partition field's VALUE. */
  private def partitionValueType(pf: PartitionField, sourceTyp: String): String =
    if (pf.bucketN.isDefined || pf.temporal.isDefined) "int" else sourceTyp

  /** manifest_entry with nested data_file (spec ids 0-4, 100-104, 134-135),
    * generated per table because the `partition` struct (field-id 102)
    * carries the SPEC'S identity partition values — field names = partition
    * names, field ids = partition field ids (1000+). Unpartitioned tables
    * get the empty struct. Partition fields are optional: delete files are
    * committed with null partition values (global scope — our reader
    * subtracts by key/coordinates, which need no partition). `content` is 0
    * for data files, 1 for POSITION deletes, 2 for EQUALITY delete files,
    * whose `equality_ids` list the field ids forming the delete predicate
    * (spec: row-level deletes). */
  private def manifestEntrySchema(spec: Seq[(PartitionField, String)]): Schema = {
    val partFields = spec.map { case (pf, typ) =>
      avroField(pf.name, partitionAvroType(partitionValueType(pf, typ)),
        pf.fieldId, optional = true)
    }.mkString(",\n")
    new Schema.Parser().parse(
    s"""{"type": "record", "name": "manifest_entry", "fields": [
       |${avroField("status", "\"int\"", 0, optional = false)},
       |${avroField("snapshot_id", "\"long\"", 1, optional = true)},
       |${avroField("sequence_number", "\"long\"", 3, optional = true)},
       |${avroField("file_sequence_number", "\"long\"", 4, optional = true)},
       |{"name": "data_file", "field-id": 2, "type": {"type": "record", "name": "r2", "fields": [
       |${avroField("content", "\"int\"", 134, optional = false)},
       |${avroField("file_path", "\"string\"", 100, optional = false)},
       |${avroField("file_format", "\"string\"", 101, optional = false)},
       |{"name": "partition", "field-id": 102, "type": {"type": "record", "name": "r102", "fields": [$partFields]}},
       |${avroField("record_count", "\"long\"", 103, optional = false)},
       |${avroField("file_size_in_bytes", "\"long\"", 104, optional = false)},
       |{"name": "lower_bounds", "field-id": 125, "default": null,
       | "type": ["null", {"type": "array", "items": {"type": "record",
       |   "name": "k126_v127", "fields": [
       |   {"name": "key", "type": "int", "field-id": 126},
       |   {"name": "value", "type": "bytes", "field-id": 127}]}}]},
       |{"name": "upper_bounds", "field-id": 128, "default": null,
       | "type": ["null", {"type": "array", "items": {"type": "record",
       |   "name": "k129_v130", "fields": [
       |   {"name": "key", "type": "int", "field-id": 129},
       |   {"name": "value", "type": "bytes", "field-id": 130}]}}]},
       |{"name": "equality_ids", "field-id": 135, "default": null,
       | "type": ["null", {"type": "array", "items": "int", "element-id": 136}]}
       |]}}]}""".stripMargin)
  }

  private def writeAvro(f: FileSystem, path: HPath, schema: Schema,
      meta: Map[String, String], records: Seq[GenericRecord]): Long = {
    val out = f.create(path, true)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => writer.setMeta(k, v) }
    writer.create(schema, out) // closes `out` on writer.close()
    records.foreach(writer.append)
    writer.close()
    f.getFileStatus(path).getLen
  }

  // Manifests (`<commitUuid>-m<attempt>.avro`) and manifest lists
  // (`snap-<id>-<commitUuid>.avro`) are written ONCE under UUID-unique
  // names and never mutated — the spec makes them immutable — so a
  // bounded driver-side LRU keyed by path is sound (the same lever as
  // Iceberg's own manifest cache, `io.manifest.cache-enabled`). A
  // composed op like upsert (dup-check + equality delete + append + read)
  // re-plans the metadata chain per step; the cache turns the repeated
  // avro decodes into map hits. Version JSON files are deliberately NOT
  // cached: `version-N.json` paths repeat when a test wipes and recreates
  // a table at the same location.
  private val avroCacheMax = 256
  private val avroCache = new java.util.LinkedHashMap[
      String, (Map[String, String], Seq[GenericRecord])](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (Map[String, String], Seq[GenericRecord])])
        : Boolean = size() > avroCacheMax
  }

  /** Read every record of an Avro file (+ its file metadata) — public so
    * tooling and tests can inspect manifests without a real Iceberg
    * runtime on the classpath. Served from the immutable-manifest LRU on
    * repeat reads. */
  def readAvro(spark: SparkSession, path: String)
      : (Map[String, String], Seq[GenericRecord]) = {
    avroCache.synchronized(Option(avroCache.get(path))) match {
      case Some(hit) => hit
      case None =>
        val p = new HPath(path)
        val in = fs(p).open(p)
        val stream = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        val r = try {
          val metaKeys = stream.getMetaKeys.asScala.toSeq
          val meta = metaKeys.filterNot(_.startsWith("avro."))
            .map(k => k -> new String(stream.getMeta(k), StandardCharsets.UTF_8))
            .toMap
          (meta, stream.iterator().asScala.toVector)
        } finally stream.close()
        avroCache.synchronized(avroCache.put(path, r))
        r
    }
  }

  // ---- metadata json -------------------------------------------------------

  private def schemaJson(schemaId: Int, fields: Seq[Field]): ObjectNode = {
    val s = mapper.createObjectNode()
    s.put("type", "struct").put("schema-id", schemaId)
    val fArr = s.putArray("fields")
    fields.foreach { f =>
      fArr.addObject().put("id", f.id).put("name", f.name)
        .put("required", false).put("type", f.typ)
    }
    s
  }

  private def metaJson(m: TableMeta, schemas: Seq[(Int, Seq[Field])],
      nowMs: Long): String = {
    val n = mapper.createObjectNode()
    n.put("format-version", 2)
    n.put("table-uuid", m.uuid)
    n.put("location", m.location)
    n.put("last-sequence-number", m.lastSequenceNumber)
    n.put("last-updated-ms", nowMs)
    n.put("last-column-id", m.lastColumnId)
    val schemasArr = n.putArray("schemas")
    schemas.foreach { case (id, fields) => schemasArr.add(schemaJson(id, fields)) }
    n.put("current-schema-id", m.currentSchemaId)
    val specs = n.putArray("partition-specs")
    m.allSpecs.toSeq.sortBy(_._1).foreach { case (id, pfs) =>
      val sp = specs.addObject().put("spec-id", id)
      val specArr = sp.putArray("fields")
      pfs.foreach { pf =>
        specArr.addObject().put("name", pf.name).put("transform", pf.transform)
          .put("source-id", pf.sourceId).put("field-id", pf.fieldId)
      }
    }
    n.put("default-spec-id", m.defaultSpecId)
    // spec: partition field ids start at 1000
    n.put("last-partition-id",
      (999 +: m.allSpecs.values.flatten.map(_.fieldId).toSeq).max)
    val orders = n.putArray("sort-orders")
    m.allSortOrders.toSeq.sortBy(_._1).foreach { case (oid, sfs) =>
      val o = orders.addObject().put("order-id", oid)
      val fArr = o.putArray("fields")
      sfs.foreach { sf =>
        fArr.addObject().put("transform", sf.transform)
          .put("source-id", sf.sourceId)
          .put("direction", sf.direction)
          .put("null-order", sf.nullOrder)
      }
    }
    n.put("default-sort-order-id", m.defaultSortOrderId)
    if (m.statistics.nonEmpty) {
      val stArr = n.putArray("statistics")
      m.statistics.foreach { st =>
        val stn = stArr.addObject().put("snapshot-id", st.snapshotId)
          .put("statistics-path", st.path)
          .put("file-size-in-bytes", st.fileSizeBytes)
          .put("file-footer-size-in-bytes", st.fileFooterSizeBytes)
        val blobs = stn.putArray("blob-metadata")
        st.blobMeta.foreach { b =>
          val bn = blobs.addObject().put("type", b.blobType)
          val fArr = bn.putArray("fields")
          b.fields.foreach(fArr.add)
          bn.put("snapshot-id", b.snapshotId)
          bn.put("sequence-number", b.sequenceNumber)
          val props = bn.putObject("properties")
          b.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
            props.put(k, v) }
        }
      }
    }
    n.putObject("properties").put("write.format.default", "parquet")
    m.currentSnapshotId match {
      case Some(id) => n.put("current-snapshot-id", id)
      case None => n.put("current-snapshot-id", -1L)
    }
    val snapsArr = n.putArray("snapshots")
    m.snapshots.foreach { s =>
      val sn = snapsArr.addObject()
      sn.put("snapshot-id", s.snapshotId)
      s.parentId.foreach(p => sn.put("parent-snapshot-id", p))
      sn.put("sequence-number", s.sequenceNumber)
      sn.put("timestamp-ms", s.timestampMs)
      sn.put("manifest-list", s.manifestList)
      val sum = sn.putObject("summary").put("operation", s.operation)
        .put("added-data-files", s.addedFiles.toString)
        .put("added-records", s.addedRecords.toString)
      s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sum.put(k, v) }
      sn.put("schema-id", s.schemaId)
    }
    val slog = n.putArray("snapshot-log")
    m.snapshots.foreach { s =>
      slog.addObject().put("timestamp-ms", s.timestampMs)
        .put("snapshot-id", s.snapshotId)
    }
    val mlog = n.putArray("metadata-log")
    m.metadataLog.foreach { case (ts, file) =>
      mlog.addObject().put("timestamp-ms", ts).put("metadata-file", file)
    }
    if (m.refs.nonEmpty) {
      val refsNode = n.putObject("refs")
      m.refs.toSeq.sortBy(_._1).foreach { case (name, (id, typ)) =>
        val rn = refsNode.putObject(name)
        rn.put("snapshot-id", id).put("type", typ)
        m.refAges.get(name).foreach(a => rn.put("max-ref-age-ms", a))
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  /** All schemas ever written must stay in the metadata (readers of old
    * snapshots resolve by schema-id); collect them from the previous
    * metadata file plus the current one. */
  private def historicalSchemas(f: FileSystem, table: String, m: TableMeta)
      : Seq[(Int, Seq[Field])] = {
    val prev =
      if (m.version <= 1) Nil
      else
        try {
          val n = mapper.readTree(readString(f, versionFile(table, m.version - 1)))
          n.path("schemas").elements().asScala.map { s =>
            val id = s.path("schema-id").asInt()
            val fields = s.path("fields").elements().asScala.map(fn =>
              Field(fn.path("id").asInt(), fn.path("name").asText(),
                fn.path("type").asText())).toSeq
            (id, fields)
          }.toSeq
        } catch { case _: Exception => Nil }
    (prev.filterNot(_._1 == m.currentSchemaId) :+
      (m.currentSchemaId -> m.fields)).sortBy(_._1)
  }

  // ---- append (optimistic commit) ------------------------------------------

  private val snapshotSeq = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis())

  /** Append `df` as a new snapshot; creates the table on first call.
    * Optimistic: on a version-claim loss the snapshot is re-based onto the
    * winner's metadata and retried (data files + manifest are reused).
    *
    * `partitionBy` declares an IDENTITY PARTITION SPEC at table creation
    * (int/long/string/boolean source columns): every data file then
    * belongs to exactly one partition tuple, recorded in its manifest
    * entry's partition struct — the spec's file-pruning mechanism, which
    * [[readPruned]] consults before any data IO. The spec is fixed for the
    * table's lifetime; later appends may restate it (validated) or omit it
    * (inherited).
    *
    * `clusterBy` re-shuffles the batch so rows sharing the listed key(s)
    * land in the same data file(s): each file's manifest bounds on those
    * columns become TIGHT, which is what makes [[readPruned]] skip files —
    * the in-partition complement of identity partition pruning (partition
    * by the coarse key, cluster by the fine one). */
  /** `branch = Some(name)`: WRITE-AUDIT-PUBLISH staging (the spec's
    * branch workflow, Iceberg's `spark.wap.branch`): the commit chains on
    * the branch's head (created off current if absent) and moves the
    * branch ref — main's `current` never moves, so production readers
    * cannot see unaudited data. Audit via [[readRef]], then
    * [[publishBranch]] to fast-forward main, or [[dropRef]] to abandon
    * the staged line (it becomes an expirable dead fork). */
  def append(spark: SparkSession, table: String, df: DataFrame,
      maxRetries: Int = 5, clusterBy: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      extraSummary: Map[String, String] = Map.empty,
      branch: Option[String] = None): Unit = {
    val toWrite =
      if (clusterBy.isEmpty) df
      else {
        import org.apache.spark.sql.functions.col
        // RANGE partitioning, not hash: each data file then owns a
        // CONTIGUOUS key range, so per-file [lower, upper] bounds are
        // disjoint and a key-scoped read skips every other file. Hash
        // clustering would scatter non-adjacent keys into each file and
        // leave every file's bounds spanning most of the key space.
        df.repartitionByRange(clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      }
    val specDecls = load(spark, table) match {
      case Some(m) =>
        val byId = m.fields.map(f => f.id -> f.name).toMap
        val existing = m.specFields.map(pf => declOf(pf, byId(pf.sourceId)))
        val canonical = partitionBy
          .map(parsePartitionDecl)
          .map { case (src, t, _) => declOf(
            PartitionField(0, 0, "", t), src) }
        require(partitionBy.isEmpty || canonical == existing,
          s"table's default spec partitions by ${existing.mkString(",")}; " +
            s"cannot append with partitionBy=${partitionBy.mkString(",")} " +
            "(evolve the spec with addPartitionField, then append without " +
            "restating it)")
        existing
      case None => partitionBy
    }
    val commitUuid = UUID.randomUUID().toString
    val fileRecords = writeDataFiles(spark, table, toWrite, commitUuid,
      specDecls)
    // an empty frame commits NOTHING (not an empty snapshot): the footer
    // counts are already harvested, so this costs no extra job — callers
    // (the streaming sink especially) need no isEmpty probe of their own
    if (fileRecords.map(_.records).sum == 0) {
      val f = fs(new HPath(table))
      fileRecords.foreach(i => f.delete(i.status.getPath, false))
      return
    }
    commitSnapshot(spark, table, df.schema, fileRecords, commitUuid,
      carryPrior = true, operation = "append", maxRetries,
      createSpecOn = specDecls, writeOrder = clusterBy,
      extraSummary = extraSummary, toBranch = branch)
  }

  /** PUBLISH a staged branch (the fast-forward half of write-audit-
    * publish): main's `current` moves to the branch head — metadata-only,
    * atomic through the optimistic rename, nothing is rewritten. The
    * branch ref stays (drop it separately if the staging lane is done);
    * publishing a branch whose head is already current is a no-op. */
  def publishBranch(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 5): Unit =
    commitMetadataOnly(spark, table, maxRetries) { m =>
      val (id, typ) = m.refs.getOrElse(name,
        throw new IllegalArgumentException(s"unknown branch $name"))
      require(typ == "branch", s"ref $name is a $typ, not a branch")
      if (m.currentSnapshotId.contains(id)) None
      else Some(m.copy(currentSnapshotId = Some(id)))
    }

  /** DYNAMIC PARTITION OVERWRITE (spec snapshot operation `overwrite` —
    * the `INSERT OVERWRITE ... PARTITION` shape with
    * `partitionOverwriteMode=dynamic`): every partition TUPLE present in
    * `df` is atomically REPLACED by `df`'s rows for it; partitions `df`
    * does not touch are untouched — the idempotent-backfill primitive
    * (re-running a day's pipeline replaces that day, never doubles it).
    *
    * Metadata-only removal: prior manifests containing doomed files are
    * rewritten with those entries marked DELETED (status=2, spec §Manifests
    * — readers of this snapshot skip them; prior snapshots keep their own
    * manifest lists, so time travel still sees the replaced data) and
    * survivors carried as EXISTING (status=0) with their original
    * sequence numbers, so equality-delete scoping is unchanged. No data
    * file is read or rewritten — at 100 TB the commit cost is the new
    * partitions' writes plus manifest IO, independent of table size.
    *
    * The touched set derives from the written files' partition tuples
    * under the table's CURRENT default spec (identity or transform), so
    * "partition" means exactly what the table's layout means. Changelog
    * note: [[readChangelogFrom]] surfaces an overwrite's ADDED rows;
    * the replaced rows' deletion is visible to scans, not the changelog. */
  def overwritePartitions(spark: SparkSession, table: String, df: DataFrame,
      maxRetries: Int = 5): Unit = {
    val m = load(spark, table).getOrElse(throw new IllegalArgumentException(
      s"no Iceberg table at $table — dynamic overwrite replaces partitions " +
        "of an existing partitioned table"))
    require(m.specFields.nonEmpty,
      "dynamic partition overwrite needs a partitioned table (an " +
        "unpartitioned overwrite would be a full-table replace: use compact)")
    val byId = m.fields.map(f => f.id -> f.name).toMap
    val specDecls = m.specFields.map(pf => declOf(pf, byId(pf.sourceId)))
    val commitUuid = UUID.randomUUID().toString
    val fileRecords = writeDataFiles(spark, table, df, commitUuid, specDecls)
    // an empty frame overwrites NOTHING: zero files means zero touched
    // tuples, and committing would only pollute history with a no-op
    // overwrite snapshot (same zero-row skip as append)
    if (fileRecords.map(_.records).sum == 0) {
      val f = fs(new HPath(table))
      fileRecords.foreach(i => f.delete(i.status.getPath, false))
      return
    }
    val touched: Set[Seq[Any]] = fileRecords.map { info =>
      val byName = info.partitionValues.map {
        case (n, v) => n -> normPartValue(v)
      }.toMap
      m.specFields.map(pf => byName(pf.name))
    }.toSet
    commitSnapshot(spark, table, df.schema, fileRecords, commitUuid,
      carryPrior = true, operation = "overwrite", maxRetries,
      overwriteTuples = touched)
  }

  /** Avro hands strings back as Utf8 and may box ints either width —
    * normalize both sides of a partition-tuple comparison. */
  private def normPartValue(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue())
    case other => other
  }

  /** Compact the current snapshot's data files into `targetFiles` and
    * commit a REPLACE snapshot whose manifest list holds only the
    * rewritten manifest — the `rewrite_data_files` maintenance op. Reading
    * through [[read]] applies pending equality deletes, so compaction also
    * MATERIALIZES them: the replace snapshot carries no delete files and
    * the merge-on-read anti-join disappears from subsequent scans. Old
    * snapshots keep referencing the old manifests/files, so TIME TRAVEL
    * across the compaction stays intact (file deletion belongs to the
    * separate [[expireSnapshots]] op). */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 1,
      maxRetries: Int = 5): Unit = {
    // emptiness from METADATA, not a full merge-on-read materialization:
    // the old isEmpty probe ran the entire read pipeline once and the
    // rewrite below ran it AGAIN — one redundant table scan per compact
    // call, which an in-lane maintenance cadence pays every boundary. A
    // table whose deletes cover every row still no-ops: the rewrite then
    // stages zero records and the zero-record guard below skips the commit.
    val m = load(spark, table)
    if (m.flatMap(_.currentSnapshotId).isEmpty) return
    val current = read(spark, table)
    val specDecls = m.map { meta =>
      val byId = meta.fields.map(f => f.id -> f.name).toMap
      meta.specFields.map(pf => declOf(pf, byId(pf.sourceId)))
    }.getOrElse(Nil)
    // a table with a DECLARED write order (sort-orders metadata from
    // clusterBy appends) is rewritten range-clustered on it — the sorted
    // rewrite_data_files strategy. A coalesce here would silently destroy
    // the layout the declaration advertises and the file-skipping it buys;
    // range partitioning restores disjoint per-file bounds without a
    // global single-task sort.
    val orderCols = m.map(_.writeOrderColumns).getOrElse(Nil)
    val rewritten =
      if (orderCols.isEmpty) current.coalesce(math.max(1, targetFiles))
      else {
        import org.apache.spark.sql.functions.col
        current.repartitionByRange(math.max(1, targetFiles),
            orderCols.map(col): _*)
          .sortWithinPartitions(orderCols.map(col): _*)
      }
    val commitUuid = UUID.randomUUID().toString
    val fileRecords = writeDataFiles(spark, table, rewritten, commitUuid,
      specDecls)
    if (fileRecords.map(_.records).sum == 0) {
      // the deletes cover every row: same no-op the old isEmpty probe
      // produced, minus the extra table scan it cost on every other call
      val f = fs(new HPath(table))
      fileRecords.foreach(i => f.delete(i.status.getPath, false))
      return
    }
    commitSnapshot(spark, table, current.schema, fileRecords, commitUuid,
      carryPrior = false, operation = "replace", maxRetries)
  }

  /** METADATA-ONLY MANIFEST COMPACTION — Iceberg's `rewrite_manifests`
    * maintenance procedure: merge the current snapshot's manifests into
    * ONE per (header, content) group and commit a replace-manifests
    * snapshot that rewrites NO data or delete file. A streaming sink
    * committing one snapshot per micro-batch accrues one manifest per
    * commit (append carries all prior manifests forward), so after N
    * commits every plan reads N manifest files and every commit writes an
    * O(N) list; this op collapses that back to O(1) while [[compact]] —
    * which rewrites the DATA — stays an entirely separate, far heavier
    * decision. At 100 TB this is the difference between a plannable
    * streaming table after 10,000 micro-batches and one whose metadata IO
    * dwarfs the query.
    *
    * Entries are carried as EXISTING (status=0) with their ORIGINAL
    * per-entry sequence numbers and adding snapshot ids, so
    * equality-delete scoping, incremental reads, and time travel are
    * byte-for-byte unaffected (prior snapshots keep their own manifest
    * lists). Manifests merge only within identical avro headers
    * (schema + partition spec + content) — across spec evolution the
    * differing groups carry verbatim, mirroring [[planFiles]]'s
    * per-manifest spec decoding. Manifests whose entries are ALL
    * tombstones (status=2, e.g. a fully-overwritten partition's) drop
    * from the new list entirely. No-op when nothing would shrink.
    *
    * `targetEntries` bounds each merged manifest (Iceberg's
    * manifest-target-size knob, expressed in entries): at estate scale a
    * single ALL-entries manifest would itself become a multi-GB avro no
    * planner wants to stream, so a group with more live entries than the
    * target splits into ceil(n/target) manifests — still O(1) metadata
    * per maintenance interval, never one unsplittable blob. */
  def rewriteManifests(spark: SparkSession, table: String,
      maxRetries: Int = 5, targetEntries: Int = 100000): Unit = {
    require(targetEntries >= 1, "targetEntries must be positive")
    val f = fs(new HPath(table))
    var staged: Seq[HPath] = Nil
    commitMetadataOnly(spark, table, maxRetries) { m =>
      staged.foreach(p => f.delete(p, false)) // lost-race leftovers
      staged = Nil
      val snapOpt = m.currentSnapshotId
        .flatMap(id => m.snapshots.find(_.snapshotId == id))
      snapOpt.flatMap { snap =>
        val lms = readAvro(spark, snap.manifestList)._2
        // group by the manifest's own header: merging is only sound when
        // the entry avro schema (and therefore the partition struct) is
        // identical; content (data vs deletes) never mixes
        val members = lms.map { r =>
          val path = r.get("manifest_path").toString
          val (hdr, entries) = readAvro(spark, path)
          val live = entries.filter(_.get("status").asInstanceOf[Int] != 2)
          (r, hdr, live)
        }
        val groups = members.groupBy { case (_, hdr, _) =>
          (hdr.getOrElse("schema", ""), hdr.getOrElse("partition-spec", ""),
            hdr.getOrElse("partition-spec-id", "0"),
            hdr.getOrElse("content", "data"))
        }
        val mergeable = groups.count(_._2.count(_._3.nonEmpty) > 1)
        val allDead = members.count(_._3.isEmpty)
        if (mergeable == 0 && allDead == 0) None
        else {
          val snapshotId = snapshotSeq.incrementAndGet()
          val seqNum = m.lastSequenceNumber + 1
          val uuid = UUID.randomUUID().toString
          val outEntries = groups.toSeq.sortBy(_._1.toString)
            .flatMap { case (_, grp) =>
              val withEntries = grp.filter(_._3.nonEmpty)
              if (withEntries.isEmpty) Nil // all tombstones: drop
              else if (withEntries.size == 1) {
                // singleton: carry the original list record verbatim
                val (r, _, _) = withEntries.head
                val c = new GenericData.Record(manifestListSchema)
                manifestListSchema.getFields.asScala.foreach(fld =>
                  c.put(fld.name(), r.get(fld.name())))
                Seq(c)
              } else {
                val hdr0 = withEntries.head._2
                val schema = withEntries.head._3.head.getSchema
                // spec (§Manifests, metadata inheritance): a rewritten
                // manifest must MATERIALIZE inherited metadata. An entry
                // with a null sequence_number/snapshot_id inherits from
                // whatever manifest-list record points at its manifest —
                // copied verbatim into the MERGED manifest it would
                // re-inherit THIS maintenance snapshot's higher seq, data
                // files would jump above older equality deletes, and
                // deleted rows would resurrect. This engine's own writer
                // always stamps entries explicitly, but the reader (and
                // therefore this op) supports foreign inherited-seq
                // tables, so each null field is filled from the entry's
                // OWN source manifest's list record before the copy
                // leaves its inheritance scope. The effective seq rides
                // along for the chunk's min_sequence_number.
                val merged = withEntries.flatMap { case (src, _, es) =>
                  val srcSeq = src.get("sequence_number").asInstanceOf[Long]
                  val srcSnap = src.get("added_snapshot_id").asInstanceOf[Long]
                  es.map { e =>
                    val c = new GenericData.Record(schema)
                    schema.getFields.asScala.foreach(fld =>
                      c.put(fld.name(), e.get(fld.name())))
                    c.put("status", 0) // EXISTING: original seq + snap kept
                    def fill(name: String, v: Any): Unit =
                      if (schema.getField(name) != null && c.get(name) == null)
                        c.put(name, v)
                    fill("sequence_number", srcSeq)
                    fill("file_sequence_number", srcSeq)
                    fill("snapshot_id", srcSnap)
                    val eff = Option(c.get("sequence_number"))
                      .map(_.asInstanceOf[Long]).getOrElse(srcSeq)
                    (c, eff)
                  }
                }
                def recCount(e: GenericRecord): Long =
                  e.get("data_file").asInstanceOf[GenericRecord]
                    .get("record_count").asInstanceOf[Long]
                merged.grouped(targetEntries).toSeq.map { chunk =>
                  val p = new HPath(metadataDir(table),
                    s"rwm-$uuid-${staged.size}.avro")
                  val len = writeAvro(f, p, schema, hdr0, chunk.map(_._1))
                  staged :+= p
                  val c = new GenericData.Record(manifestListSchema)
                  c.put("manifest_path", p.toString)
                  c.put("manifest_length", len)
                  c.put("partition_spec_id",
                    hdr0.getOrElse("partition-spec-id", "0").toInt)
                  c.put("content",
                    if (hdr0.getOrElse("content", "data") == "deletes") 1 else 0)
                  c.put("sequence_number", seqNum)
                  c.put("min_sequence_number", chunk.map(_._2).min)
                  c.put("added_snapshot_id", snapshotId)
                  c.put("added_files_count", 0)
                  c.put("existing_files_count", chunk.size)
                  c.put("deleted_files_count", 0)
                  c.put("added_rows_count", 0L)
                  c.put("existing_rows_count", chunk.map(p => recCount(p._1)).sum)
                  c.put("deleted_rows_count", 0L)
                  c
                }
              }
            }
          val listPath = new HPath(metadataDir(table), s"snap-$snapshotId-$uuid.avro")
          writeAvro(f, listPath, manifestListSchema,
            Map("snapshot-id" -> snapshotId.toString,
              "parent-snapshot-id" -> snap.snapshotId.toString,
              "sequence-number" -> seqNum.toString,
              "format-version" -> "2"),
            outEntries)
          staged :+= listPath
          val newSnap = Snapshot(snapshotId, Some(snap.snapshotId), seqNum,
            System.currentTimeMillis(), listPath.toString, 0L, 0L,
            snap.schemaId, "replace",
            Map("graft.rewritten-manifests" -> lms.size.toString,
              "graft.result-manifests" -> outEntries.size.toString))
          Some(m.copy(lastSequenceNumber = seqNum,
            snapshots = m.snapshots :+ newSnap,
            currentSnapshotId = Some(snapshotId)))
        }
      }
    }
  }

  /** DANGLING-DELETE maintenance (the Iceberg docs' remove-dangling-
    * deletes pass of `rewrite_data_files`/maintenance): drop delete FILES
    * whose sequence numbers can no longer scope over ANY live data file.
    * After [[compact]] every data file carries a fresh high sequence
    * number, so every older equality-delete file applies to nothing —
    * yet each still costs a parquet read and a slot in the broadcast
    * delete relation on EVERY scan. A streaming upsert lane commits one
    * equality-delete file per micro-batch forever; physical cross-seq
    * delete consolidation is UNSOUND (the seq-scoping law: any merged
    * seq either kills newest rows or resurrects old ones), but dropping
    * provably-inapplicable files is pure metadata: this op commits a
    * replace snapshot whose list simply omits them. Prior snapshots keep
    * their own manifest lists, so a pre-maintenance time-travel read
    * still applies every delete.
    *
    * Scope rules (spec): an equality delete at seq s applies to data
    * seq STRICTLY BELOW s → dangling iff s <= min live data seq; a
    * position delete at seq s applies to data seq <= s → dangling iff
    * s < min live data seq. An empty table dangles everything. Delete
    * manifests mixing live and dangling files rewrite with the kept
    * entries carried EXISTING (inherited metadata materialized, as in
    * [[rewriteManifests]]); all-dangling manifests drop outright; data
    * manifests carry verbatim. No-op when nothing dangles. */
  def removeDanglingDeletes(spark: SparkSession, table: String,
      maxRetries: Int = 5): Unit = {
    val f = fs(new HPath(table))
    var staged: Seq[HPath] = Nil
    commitMetadataOnly(spark, table, maxRetries) { m =>
      staged.foreach(p => f.delete(p, false)) // lost-race leftovers
      staged = Nil
      val snapOpt = m.currentSnapshotId
        .flatMap(id => m.snapshots.find(_.snapshotId == id))
      snapOpt.flatMap { snap =>
        val lms = readAvro(spark, snap.manifestList)._2
        val members = lms.map { r =>
          val listSeq = r.get("sequence_number").asInstanceOf[Long]
          val listSnap = r.get("added_snapshot_id").asInstanceOf[Long]
          val (hdr, entries) = readAvro(spark, r.get("manifest_path").toString)
          val live = entries.filter(_.get("status").asInstanceOf[Int] != 2)
            .map { e =>
              val eff = Option(e.get("sequence_number"))
                .map(_.asInstanceOf[Long]).getOrElse(listSeq)
              val content = optField(
                e.get("data_file").asInstanceOf[GenericRecord], "content") match {
                case i: Integer => i.intValue(); case _ => 0
              }
              (e, eff, content)
            }
          (r, hdr, live, listSeq, listSnap)
        }
        val dataSeqs = members.flatMap(_._3.collect {
          case (_, eff, 0) => eff
        })
        val minDataSeq = if (dataSeqs.isEmpty) Long.MaxValue else dataSeqs.min
        def dangling(eff: Long, content: Int): Boolean = content match {
          case 2 => eff <= minDataSeq // equality: scopes strictly below
          case 1 => eff < minDataSeq // position: scopes at-or-below
          case _ => false
        }
        val nDangling = members.map(_._3.count {
          case (_, eff, c) => dangling(eff, c)
        }).sum
        if (nDangling == 0) None
        else {
          val snapshotId = snapshotSeq.incrementAndGet()
          val seqNum = m.lastSequenceNumber + 1
          val uuid = UUID.randomUUID().toString
          val outEntries = members.flatMap {
            case (r, hdr, live, listSeq, listSnap) =>
              val kept = live.filterNot { case (_, eff, c) => dangling(eff, c) }
              if (kept.size == live.size) {
                // untouched manifest (all data manifests land here):
                // carry the original list record verbatim
                val c = new GenericData.Record(manifestListSchema)
                manifestListSchema.getFields.asScala.foreach(fld =>
                  c.put(fld.name(), r.get(fld.name())))
                Seq(c)
              } else if (kept.isEmpty) Nil // fully dangling: drop
              else {
                val schema = kept.head._1.getSchema
                val rewrittenEntries = kept.map { case (e, eff, _) =>
                  val c = new GenericData.Record(schema)
                  schema.getFields.asScala.foreach(fld =>
                    c.put(fld.name(), e.get(fld.name())))
                  c.put("status", 0) // EXISTING
                  def fill(name: String, v: Any): Unit =
                    if (schema.getField(name) != null && c.get(name) == null)
                      c.put(name, v)
                  // materialize inheritance before leaving its scope
                  fill("sequence_number", eff)
                  fill("file_sequence_number", listSeq)
                  fill("snapshot_id", listSnap)
                  c
                }
                val p = new HPath(metadataDir(table),
                  s"rdd-$uuid-${staged.size}.avro")
                val len = writeAvro(f, p, schema, hdr, rewrittenEntries)
                staged :+= p
                val c = new GenericData.Record(manifestListSchema)
                c.put("manifest_path", p.toString)
                c.put("manifest_length", len)
                c.put("partition_spec_id",
                  hdr.getOrElse("partition-spec-id", "0").toInt)
                c.put("content", 1) // only delete manifests rewrite here
                c.put("sequence_number", seqNum)
                c.put("min_sequence_number", kept.map(_._2).min)
                c.put("added_snapshot_id", snapshotId)
                c.put("added_files_count", 0)
                c.put("existing_files_count", kept.size)
                c.put("deleted_files_count", 0)
                c.put("added_rows_count", 0L)
                c.put("existing_rows_count", kept.map { case (e, _, _) =>
                  e.get("data_file").asInstanceOf[GenericRecord]
                    .get("record_count").asInstanceOf[Long]
                }.sum)
                c.put("deleted_rows_count", 0L)
                Seq(c)
              }
          }
          val listPath = new HPath(metadataDir(table),
            s"snap-$snapshotId-$uuid.avro")
          writeAvro(f, listPath, manifestListSchema,
            Map("snapshot-id" -> snapshotId.toString,
              "parent-snapshot-id" -> snap.snapshotId.toString,
              "sequence-number" -> seqNum.toString,
              "format-version" -> "2"),
            outEntries)
          staged :+= listPath
          val newSnap = Snapshot(snapshotId, Some(snap.snapshotId), seqNum,
            System.currentTimeMillis(), listPath.toString, 0L, 0L,
            snap.schemaId, "replace",
            Map("graft.removed-dangling-deletes" -> nDangling.toString))
          Some(m.copy(lastSequenceNumber = seqNum,
            snapshots = m.snapshots :+ newSnap,
            currentSnapshotId = Some(snapshotId)))
        }
      }
    }
  }

  /** Row-level DELETE via Iceberg v2 EQUALITY DELETE FILES (merge-on-read):
    * rows of the current table matching `condition` are deleted by writing
    * their `equalityCols` tuples as a delete file — the data files are
    * NEVER rewritten, which is the only delete shape that works at 100 TB
    * (an opt-out/takedown list touches a handful of keys in a corpus of
    * billions; rewriting the corpus for each removal request is not a
    * plan). [[read]] subtracts the tuples with a broadcast null-safe
    * anti-join; [[compact]] materializes them physically.
    *
    * Spec semantics preserved: the delete file's sequence number bounds its
    * scope — it applies only to data files with a STRICTLY SMALLER data
    * sequence number, so a key re-appended after the delete survives. */
  def deleteWhere(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column, equalityCols: Seq[String],
      maxRetries: Int = 5): Unit = {
    // absent/empty table from metadata — the old read+isEmpty probe cost a
    // full merge-on-read scan before deleteKeys scanned again for the
    // matching keys; deleteKeys itself no-ops on zero matches
    if (load(spark, table).flatMap(_.currentSnapshotId).isEmpty) return
    deleteKeys(spark, table,
      read(spark, table).where(condition)
        .select(equalityCols.map(org.apache.spark.sql.functions.col): _*),
      maxRetries)
  }

  /** UPSERT (MERGE-style row replacement, the CDC landing pattern): rows
    * in `df` replace existing table rows sharing their `keyCols` values;
    * unmatched keys insert. Two snapshots: an equality delete of the
    * incoming key set, then an append of `df` — correctness rides the
    * spec's sequence rule (a delete applies only to data files with a
    * STRICTLY SMALLER sequence number, so the appended replacements are
    * immune to their own delete; IcebergSpec's "re-appended key survives"
    * pins the law). Merge-on-read: the corpus is never rewritten — the
    * delete set is the tiny incoming batch, subtracted as a broadcast
    * anti-join at read time and materialized by the next [[compact]].
    * `df` must carry at most one row per key (enforced — two rows with
    * one key would both survive, which MERGE forbids). */
  def upsert(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String], maxRetries: Int = 5): Unit = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    import org.apache.spark.sql.functions.{col, count, lit}
    // the batch is the MERGE delta — consumed three times (dup-key check,
    // equality-delete write, data append), so materialize it once instead
    // of recomputing its lineage per pass; a delta is bounded by the
    // commit, not the table, so this never caches anything table-sized
    val batch = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dupes = batch.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n")).where(col("n") > 1).limit(1).collect()
      if (dupes.nonEmpty)
        throw new IllegalArgumentException(
          s"upsert batch has multiple rows for key ${dupes.head}")
      if (load(spark, table).isDefined)
        deleteKeys(spark, table, batch.select(keyCols.map(col): _*), maxRetries)
      append(spark, table, batch, maxRetries)
    } finally batch.unpersist(blocking = false)
  }

  /** Single-commit UPSERT — the spec's ROW DELTA shape (one snapshot
    * carrying both an equality-delete manifest and a data manifest at the
    * same sequence number): rows in `df` replace existing table rows
    * sharing their `keyCols` values atomically. Unlike [[upsert]]'s
    * delete-then-append pair, a reader (or a crash) can NEVER observe the
    * keys deleted but not yet re-inserted — there is no intermediate
    * snapshot. The delete half scopes STRICTLY BELOW its sequence number
    * (spec), so the delta's own data files survive their own delete.
    *
    * `df` must carry at most one row per key — this primitive does NOT
    * re-check (the streaming upsert lane's rank-window proves uniqueness
    * structurally; interactive callers wanting the guard use [[upsert]]).
    * A first commit on an absent table is a plain append. */
  def upsertAtomic(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String], maxRetries: Int = 5,
      /** Extra key tuples the delta's equality-delete half must cover
        * BEYOND `df`'s own keys — [[applyChanges]]' tombstones. Same
        * columns as `keyCols`. Expected key-unique like `df` (both
        * callers pass rank-1 winners); duplicates would only inflate the
        * delete file, never change the subtraction. */
      extraDeleteKeys: Option[DataFrame] = None): Unit = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    import org.apache.spark.sql.functions.col
    load(spark, table) match {
      case None => append(spark, table, df, maxRetries)
      case Some(m) =>
        val byName = m.fields.map(f => f.name -> f).toMap
        val eqFields = keyCols.map(n => byName.getOrElse(n,
          throw new IllegalArgumentException(s"unknown equality column $n")))
        val commitUuid = UUID.randomUUID().toString
        // the data half writes under the table's spec, like append — a
        // partitioned table's files must each own one partition tuple or
        // every later read re-attaches nulls; the delete half stays
        // tuple-less (a global equality delete applies to all partitions)
        val byId = m.fields.map(f => f.id -> f.name).toMap
        val specDecls = m.specFields.map(pf => declOf(pf, byId(pf.sourceId)))
        def keyTuples(src: DataFrame) = src.select(eqFields.map(fl =>
          col(fl.name).cast(sparkType(fl.typ)).as(fl.name)): _*)
        // no distinct() on the delete half: `df` carries at most one row
        // per key BY THIS PRIMITIVE'S CONTRACT (see scaladoc) and
        // extraDeleteKeys are the callers' rank-1 winners, so the union is
        // already key-unique — and an equality-delete file is a SET
        // subtraction anyway (a duplicated tuple deletes the same rows), so
        // uniqueness is a size nicety, not a correctness need. Dropping it
        // removes one full shuffle of the key set from EVERY row-delta
        // commit, which at one commit per micro-batch is a per-trigger tax.
        val conformed = extraDeleteKeys
          .map(extra => keyTuples(df).unionByName(keyTuples(extra)))
          .getOrElse(keyTuples(df))
        // ONE file per delete commit: every later scan reads every live
        // equality-delete file in the broadcast delete union, so writing
        // at shuffle width (one small file per partition, AQE is off under
        // streaming lineage) multiplies per-scan opens for nothing — the
        // set is batch-bounded and coalesce(1) folds it into one write
        // task (the projection runs inside that task; acceptable because
        // callers hand a cached/materialized batch, see runUpsert).
        //
        // The two halves are INDEPENDENT jobs over the same batch: run
        // the delete half on a pool thread while the data half writes on
        // this one (guide §2.6 — overlap independent jobs). Sequential
        // execution billed both jobs' fixed cost (scheduling, staging
        // rename, footer harvest) to EVERY micro-batch commit; now the
        // commit pays max(data, delete) instead of the sum. Both staged
        // file sets complete before the single atomic commit below.
        val delFut = java.util.concurrent.CompletableFuture.supplyAsync(() => {
          // pool threads carry no active session, and writeDataFiles'
          // conf/FS helpers (KfsLayout.hadoopConf) read it thread-locally
          // — without this the harvest would run on vanilla Hadoop defaults
          org.apache.spark.sql.SparkSession.setActiveSession(spark)
          writeDataFiles(spark, table, conformed.coalesce(1),
            UUID.randomUUID().toString)
        })
        val fileRecords =
          try writeDataFiles(spark, table, df, commitUuid, specDecls)
          catch { case t: Throwable =>
            // the delete half's staged files must not leak when the data
            // half fails — they were written for a commit that never runs
            try {
              val f = fs(new HPath(table))
              delFut.join().foreach(i => f.delete(i.status.getPath, false))
            } catch { case _: Throwable => }
            throw t
          }
        val delRecords = delFut.join()
        if (fileRecords.map(_.records).sum == 0) {
          // the zero-record staged files are junk either way: never let
          // them into a manifest
          val f = fs(new HPath(table))
          fileRecords.foreach(i => f.delete(i.status.getPath, false))
          // an empty batch with extra delete keys is a DELETE-ONLY delta:
          // `conformed` degenerates to keyTuples(extra) (df contributed
          // zero rows), so the staged delete files ARE that delta — the
          // same single-snapshot delete deleteKeys would commit, minus
          // its redundant re-write of the identical key set
          if (delRecords.map(_.records).sum == 0) {
            delRecords.foreach(i => f.delete(i.status.getPath, false))
            return
          }
          if (extraDeleteKeys.isEmpty) {
            // no extras and no data: nothing to delete either
            delRecords.foreach(i => f.delete(i.status.getPath, false))
            return
          }
          commitSnapshot(spark, table, m.currentSchema, delRecords,
            commitUuid, carryPrior = true, operation = "delete", maxRetries,
            equalityIds = eqFields.map(_.id))
          return
        }
        commitSnapshot(spark, table, df.schema, fileRecords, commitUuid,
          carryPrior = true, operation = "overwrite", maxRetries,
          deleteRecords = delRecords, deleteEqIds = eqFields.map(_.id))
    }
  }

  /** APPLY CHANGES — land a CDC feed that carries UPSERTS AND DELETES
    * (the compacted-topic-with-tombstones shape; the `APPLY CHANGES
    * INTO` / upsert-sink pattern): per key the max-`versionCol` change
    * wins (a tie at the max refuses, as in [[upsertIfNewer]]); a winning
    * `opCol == deleteOp` change REMOVES the key, any other op replaces
    * the row (the op column itself never lands in the table). ONE atomic
    * row-delta snapshot carries the whole batch — its equality-delete
    * half covers EVERY winning key, tombstoned and replaced alike, its
    * data half re-inserts only the survivors — so a reader can never
    * observe a half-applied batch.
    *
    * Batches apply IN FEED ORDER (the consumer contract): a later batch
    * wins over an earlier one unconditionally — cross-batch staleness
    * protection is [[upsertIfNewer]]'s job and is impossible here anyway
    * (a delete leaves no stored version to compare against). Scale
    * shape: one rank window over the batch, zero reads of the table. */
  def applyChanges(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String], versionCol: String, opCol: String,
      deleteOp: String = "D", maxRetries: Int = 5): Unit = {
    require(keyCols.nonEmpty, "applyChanges requires at least one key column")
    require(!keyCols.contains(opCol) && !keyCols.contains(versionCol),
      "opCol/versionCol must not be key columns")
    import org.apache.spark.sql.functions.{col, count, lit, rank}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
    val winners = df.withColumn("__rk", rank().over(w))
      .where(col("__rk") === 1).drop("__rk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ties = winners.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n")).where(col("n") > 1).limit(1).collect()
      if (ties.nonEmpty)
        throw new IllegalArgumentException(
          s"ambiguous tie at the max version for key ${ties.head}")
      // a null op is malformed data, not a choice: it would fall out of
      // BOTH halves below (null =!= x and null === x are both null) and
      // the key's newest change would silently vanish — refuse loudly
      val nullOps = winners.where(col(opCol).isNull).limit(1).collect()
      if (nullOps.nonEmpty)
        throw new IllegalArgumentException(
          s"null $opCol on a winning change: ${nullOps.head}")
      val inserts = winners.where(col(opCol) =!= deleteOp).drop(opCol)
      val delKeys = winners.where(col(opCol) === deleteOp)
        .select(keyCols.map(col): _*)
      load(spark, table) match {
        // tombstones for keys that never existed are no-ops
        case None => append(spark, table, inserts, maxRetries)
        // upsertAtomic degrades to a delete-only delta when the insert
        // half lands zero records, so one call covers mixed,
        // insert-only, and tombstone-only batches
        case Some(_) => upsertAtomic(spark, table, inserts, keyCols,
          maxRetries, extraDeleteKeys = Some(delKeys))
      }
    } finally winners.unpersist(blocking = false)
  }

  /** CONDITIONAL UPSERT — the `MERGE WHEN MATCHED AND incoming-newer`
    * shape, which is how OUT-OF-ORDER CDC lands safely: a row in `df`
    * replaces the table row sharing its `keyCols` ONLY when its
    * `versionCol` is STRICTLY greater than the stored one (a replayed or
    * late-arriving older change can never regress a key); unmatched keys
    * insert; within the batch the max-version row per key wins (two rows
    * tied at a key's max version are ambiguous data and refuse loudly —
    * hash-replayable results need a total order). Null versions are
    * never newer. The survivors land as ONE atomic row-delta commit via
    * [[upsertAtomic]].
    *
    * Scale shape: the staleness check broadcasts the batch's keys onto
    * ONE corpus scan (semi-join + a batch-keys-sized max aggregate) —
    * the corpus never shuffles, and applying batches in ANY order
    * converges to the same per-key-max state.
    *
    * Concurrency: the never-regress guarantee assumes a SINGLE WRITER
    * per table — the lane discipline every mutation path here makes.
    * The staleness check runs BEFORE the commit's optimistic-retry
    * scope, so a concurrent writer landing a newer version between
    * check and commit could be regressed by this batch's staler row
    * (the retry loop re-resolves metadata races, not the version
    * comparison). */
  def upsertIfNewer(spark: SparkSession, table: String, df: DataFrame,
      keyCols: Seq[String], versionCol: String, maxRetries: Int = 5): Unit = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    require(!keyCols.contains(versionCol),
      "versionCol must not be a key column")
    import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, rank}
    // winners is batch-sized and read three times (tie probe, key set,
    // staleness join) — cache it, not the raw batch
    val winners0 = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
      df.withColumn("__rk", rank().over(w))
        .where(col("__rk") === 1).drop("__rk")
    }
    val winners = winners0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ties = winners.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n")).where(col("n") > 1).limit(1).collect()
      if (ties.nonEmpty)
        throw new IllegalArgumentException(
          s"ambiguous tie at the max version for key ${ties.head}")
      load(spark, table) match {
        case None => append(spark, table, winners, maxRetries)
        case Some(_) =>
          val keys = winners.select(keyCols.map(col): _*).distinct()
          // __seen distinguishes "key absent" (insert) from "stored
          // version is null": a MATCHED key only loses to a STRICTLY
          // GREATER non-null incoming version — an incoming null version
          // is never newer (so replaying a null-version change is a
          // no-op, not a fresh commit every time), and a stored null
          // version loses to any non-null incoming one
          val stored = read(spark, table)
            .join(broadcast(keys), keyCols)
            .groupBy(keyCols.map(col): _*)
            .agg(max(col(versionCol)).as("__cur_v"))
            .withColumn("__seen", lit(true))
          // fresh costs the corpus-scan join: materialize it once for
          // the commit-decision count AND the delta write
          val fresh = winners.join(broadcast(stored), keyCols, "left")
            .where(col("__seen").isNull ||
              (col(versionCol).isNotNull &&
                (col("__cur_v").isNull || col(versionCol) > col("__cur_v"))))
            .drop("__cur_v", "__seen")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (!fresh.isEmpty)
              upsertAtomic(spark, table, fresh, keyCols, maxRetries)
          } finally fresh.unpersist(blocking = false)
      }
    } finally winners.unpersist(blocking = false)
  }

  /** Spec columns of a POSITION delete file (reserved field ids
    * 2147483546 / 2147483545): the target data file's path and the row's
    * 0-based ordinal within it. */
  private val posDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** Row-level DELETE via Iceberg v2 POSITION DELETE FILES — the second
    * merge-on-read delete shape (spec: position delete files): instead of
    * key tuples, the delete file records `(file_path, pos)` coordinates of
    * the doomed rows, harvested from Spark's `_metadata.file_path` /
    * `_metadata.row_index` hidden columns (exactly Iceberg's definition of
    * `pos`: the row ordinal within the data file). Data files are never
    * rewritten; [[read]] subtracts the coordinates with a broadcast
    * anti-join and [[compact]] materializes them.
    *
    * Scope rule per spec — note it differs from equality deletes: a
    * position delete applies to data files with sequence number LESS THAN
    * OR EQUAL to its own (it names concrete existing rows), where an
    * equality delete applies only STRICTLY SMALLER (future rows with the
    * key survive). Rows already deleted by an earlier snapshot may match
    * `condition` again and re-emit their coordinates — a harmless
    * idempotent subtraction. Tuples are written sorted by (file_path,
    * pos) as the spec requires. */
  def deleteWherePositions(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column, maxRetries: Int = 5): Unit = {
    import org.apache.spark.sql.functions.col
    val m = load(spark, table).getOrElse(return)
    val snap = m.currentSnapshotId
      .flatMap(id => m.snapshots.find(_.snapshotId == id)).getOrElse(return)
    val snapFields = m.schemasById.getOrElse(snap.schemaId, m.fields)
    val spec = specsWithFields(m, snapFields)
    val dataFiles = planFiles(spark, snap.manifestList, spec)
      .filter(_.content == 0)
    if (dataFiles.isEmpty) return
    val hits = readPlannedData(spark, m.schemaFor(snap.schemaId), spec,
      dataFiles, withCoords = true, "__file", "__pos")
      .where(condition)
      .select(col("__file").as("file_path"), col("__pos").as("pos"))
      .orderBy(col("file_path"), col("pos"))
    val commitUuid = UUID.randomUUID().toString
    val fileRecords = writeDataFiles(spark, table, hits, commitUuid)
    if (fileRecords.map(_.records).sum == 0) {
      val f = fs(new HPath(table))
      fileRecords.foreach(i => f.delete(i.status.getPath, false))
      return
    }
    commitSnapshot(spark, table, m.currentSchema, fileRecords, commitUuid,
      carryPrior = true, operation = "delete", maxRetries,
      positionDelete = true)
  }

  /** [[deleteKeys]] writes its key set as one file up to this optimizer
    * size estimate, and at [[DeleteWideWidth]] files above it. */
  private val DeleteSingleFileMaxBytes = 256L << 20
  private val DeleteWideWidth = 16

  /** Commit `keys` (columns = equality columns, any subset of the table
    * schema) as an equality-delete snapshot. Key columns are conformed to
    * the table's current types, so an int key frame deletes from a
    * promoted long column. No-op when `keys` is empty. */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame,
      maxRetries: Int = 5): Unit = {
    val m = load(spark, table).getOrElse(return)
    val byName = m.fields.map(f => f.name -> f).toMap
    val eqFields = keys.schema.fieldNames.toSeq.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"unknown equality column $n")))
    val conformed = keys.select(eqFields.map(f =>
      org.apache.spark.sql.functions.col(f.name)
        .cast(sparkType(f.typ)).as(f.name)): _*).distinct()
    val commitUuid = UUID.randomUUID().toString
    // single-file delete commits — same rationale as upsertAtomic's delete
    // half: the set is commit-bounded and every scan opens every live
    // delete file, so shuffle-width output is pure per-scan overhead.
    // UNLIKE that half, this interactive path is fed by arbitrary row
    // selections (deleteWhere over a whole estate), so an unconditional
    // coalesce(1) would funnel an unbounded key set through one write
    // task (guide §5 spill): single-file only under the optimizer's size
    // estimate, bounded small width above it. The threshold keeps every
    // commit-bounded set at one file.
    val est = conformed.queryExecution.optimizedPlan.stats.sizeInBytes
    val delWidth = if (est <= DeleteSingleFileMaxBytes) 1 else DeleteWideWidth
    val fileRecords = writeDataFiles(spark, table,
      conformed.coalesce(delWidth), commitUuid)
    if (fileRecords.map(_.records).sum == 0) {
      val f = fs(new HPath(table))
      fileRecords.foreach(i => f.delete(i.status.getPath, false))
      return
    }
    commitSnapshot(spark, table, m.currentSchema, fileRecords, commitUuid,
      carryPrior = true, operation = "delete", maxRetries,
      equalityIds = eqFields.map(_.id))
  }

  /** One staged data (or delete) file: status, footer record count,
    * per-column [min, max] bounds in the spec's single-value binary
    * serialization, and (partitioned tables) the identity partition tuple
    * — `name -> value` in spec-field order, null for the Hive default
    * partition. */
  private[etl] final case class DataFileInfo(
      status: org.apache.hadoop.fs.FileStatus, records: Long,
      bounds: Map[String, (Array[Byte], Array[Byte])],
      partitionValues: Seq[(String, Any)] = Nil)

  /** Reverse of Spark/Hive's partition-path escaping (`a%3Db` → `a=b`). */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def parsePartitionValue(dt: DataType, raw: String): Any =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case BooleanType => raw.toBoolean
      case StringType => raw
      case other => throw new IllegalArgumentException(
        s"identity partition source type must be int/long/string/boolean, got $other")
    }

  /** Write `df` as parquet under data/ with commit-unique names; returns
    * each file's status + parquet-footer record count + column bounds
    * harvested from the SAME footer read (no extra IO — the footer is
    * already open for the record count). With `partitionDecls` (the
    * `partitionBy` mini-syntax), staging derives one column per spec field
    * — the source itself for identity, the spec-exact bucket/truncate
    * value otherwise — and goes through `partitionBy` on those (one file
    * set per partition tuple — the Iceberg invariant that a data file
    * belongs to exactly one partition); each file's tuple is harvested
    * from its Hive-style staging path. Identity source columns are
    * stripped from the files (re-attached on read from manifest tuples);
    * bucket/truncate SOURCE columns stay in the files — only the derived
    * staging column is consumed by partitionBy. */
  private def writeDataFiles(spark: SparkSession, table: String,
      df: DataFrame, commitUuid: String,
      partitionDecls: Seq[String] = Nil): Seq[DataFileInfo] = {
    import org.apache.spark.sql.functions.{col, pmod, substring, udf}
    val tableDir = new HPath(table)
    val f = fs(tableDir)
    f.mkdirs(metadataDir(table))
    f.mkdirs(dataDir(table))
    val staging = new HPath(table, s"_staging_$commitUuid")
    val parsed = partitionDecls.map(parsePartitionDecl)
    val stagedDf = parsed.foldLeft(df) { case (acc, (src, transform, name)) =>
      val srcType = icebergType(df.schema(src).dataType)
      transform match {
        case "identity" => acc // partitions on the source column itself
        case t if t.startsWith("bucket[") =>
          val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
          // write-path-only UDF: the spec's Murmur3 bucket function has no
          // built-in equivalent (Spark's hash() uses seed 42 + its own
          // encoding); runs once per append, never in a query plan
          val b = srcType match {
            case "int" | "long" => udf((v: java.lang.Long) =>
              if (v == null) null
              else Int.box(bucketOf("long", v, n))).apply(col(src).cast("long"))
            case "string" => udf((v: String) =>
              if (v == null) null
              else Int.box(bucketOf("string", v, n))).apply(col(src))
            case other => throw new IllegalArgumentException(
              s"bucket source must be int/long/string, got $other")
          }
          acc.withColumn(name, b)
        case t if t.startsWith("truncate[") =>
          val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
          val tcol = srcType match {
            case "int" | "long" => col(src) - pmod(col(src), org.apache.spark.sql.functions.lit(w))
            case "string" => substring(col(src), 1, w)
            case other => throw new IllegalArgumentException(
              s"truncate source must be int/long/string, got $other")
          }
          acc.withColumn(name, tcol)
        case "year" | "month" | "day" | "hour" =>
          import org.apache.spark.sql.functions.{expr, floor, lit => flit, month, year}
          // NTZ casts to TIMESTAMP value-preserving under the UTC session;
          // dates go through epoch-day arithmetic. Ordinals floor toward
          // negative infinity (spec), hence floor over a double divide is
          // avoided in favor of integer floor-div expressions.
          val µs = srcType match {
            case "timestamp" | "timestamptz" =>
              expr(s"unix_micros(CAST($src AS TIMESTAMP))")
            case "date" if transform != "hour" =>
              expr(s"CAST(datediff($src, DATE '1970-01-01') AS BIGINT)") *
                flit(MicrosPerDay)
            case other => throw new IllegalArgumentException(
              s"$transform source must be a timestamp${
                if (transform == "hour") "" else " or date"}, got $other")
          }
          val ordinal = transform match {
            case "hour" => floor(µs.cast("decimal(28,6)") / flit(MicrosPerHour)).cast("int")
            case "day" => floor(µs.cast("decimal(28,6)") / flit(MicrosPerDay)).cast("int")
            case "month" =>
              val ts = expr(s"CAST($src AS TIMESTAMP)")
              ((year(ts) - flit(1970)) * flit(12) + month(ts) - flit(1)).cast("int")
            case "year" =>
              (year(expr(s"CAST($src AS TIMESTAMP)")) - flit(1970)).cast("int")
          }
          acc.withColumn(name, ordinal)
        case other =>
          throw new IllegalArgumentException(s"unknown transform $other")
      }
    }
    val stagingCols = parsed.map(_._3)
    // cluster rows by the partition tuple BEFORE the dynamic-partition
    // write: without it every input task writes every tuple it sees —
    // tasks × tuples files (3,200 instead of 400 on the e23 fixture, and
    // catastrophic at real scale); clustered, file count ≈ tuple count
    // and each file's manifest entry covers one whole tuple
    val clustered =
      if (stagingCols.isEmpty) stagedDf
      else stagedDf.repartition(stagingCols.map(col): _*)
    val writer = clustered.write.mode("overwrite")
    (if (stagingCols.isEmpty) writer
     else writer.partitionBy(stagingCols: _*)).parquet(staging.toString)
    val partTypes = parsed.map { case (src, transform, name) =>
      name -> (if (transform.startsWith("bucket[") ||
          Set("year", "month", "day", "hour")(transform)) IntegerType
        else df.schema(src).dataType)
    }
    // collect (file, partition tuple) pairs: unpartitioned stagings hold
    // the files at the root; partitioned ones nest col=value directories
    def collect(dir: HPath, values: Seq[(String, Any)])
        : Seq[(org.apache.hadoop.fs.FileStatus, Seq[(String, Any)])] =
      f.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.contains("=")) {
          val Array(k, raw) = name.split("=", 2)
          val col = unescapePathName(k)
          val dt = partTypes.collectFirst { case (c, t) if c == col => t }
            .getOrElse(throw new IllegalStateException(
              s"unexpected partition dir $name"))
          collect(st.getPath,
            values :+ (col -> parsePartitionValue(dt, unescapePathName(raw))))
        } else if (name.endsWith(".parquet")) Seq((st, values))
        else Nil
      }
    val staged = collect(staging, Nil)
    val moved = staged.zipWithIndex.map { case ((st, values), i) =>
      val dest = new HPath(dataDir(table), f"$commitUuid-$i%05d.parquet")
      if (!f.rename(st.getPath, dest))
        throw new java.io.IOException(s"cannot stage data file $dest")
      (f.getFileStatus(dest),
        // re-order to declared partition-column order (directory nesting
        // already follows it, but make it explicit)
        stagingCols.map(c => c -> values.collectFirst {
          case (k, v) if k == c => v
        }.getOrElse(throw new IllegalStateException(
          s"partition value for $c missing in staging path"))))
    }
    f.delete(staging, true)
    // footer harvesting (record counts + bounds) in parallel: a
    // partition-transformed append can stage hundreds of files, and at
    // commit scale a driver must not serialize one footer RPC per file
    // capture ONCE on the calling (driver) thread: the pool threads below
    // have no active session, so a per-file KfsLayout.hadoopConf there
    // would fall back to vanilla defaults instead of the session's conf
    val harvestConf = KfsLayout.hadoopConf
    def harvest(st: org.apache.hadoop.fs.FileStatus,
        values: Seq[(String, Any)]): DataFileInfo = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(st, harvestConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try DataFileInfo(st, r.getRecordCount, footerBounds(r, df.schema),
        values)
      finally r.close()
    }
    if (moved.size <= 1) moved.map((harvest _).tupled)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, moved.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = moved.map { case (st, values) =>
          new java.util.concurrent.Callable[DataFileInfo] {
            override def call(): DataFileInfo = harvest(st, values)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    }
  }

  // ---- column bounds (spec: lower_bounds/upper_bounds, Appendix D) --------

  /** Spec single-value binary serialization: little-endian numerics, UTF-8
    * strings, 0/1 booleans. Returns None for unsupported types. */
  private def encodeBound(typ: String, v: Any): Option[Array[Byte]] = {
    def le(n: Int, put: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      put(b); b.array()
    }
    (typ, v) match {
      case ("int" | "date", i: java.lang.Integer) => Some(le(4, _.putInt(i)))
      case ("long" | "timestamp" | "timestamptz", l: java.lang.Long) =>
        Some(le(8, _.putLong(l)))
      case ("float", fl: java.lang.Float) => Some(le(4, _.putFloat(fl)))
      case ("double", d: java.lang.Double) => Some(le(8, _.putDouble(d)))
      case ("boolean", b: java.lang.Boolean) =>
        Some(Array[Byte](if (b) 1 else 0))
      case ("string", bin: org.apache.parquet.io.api.Binary) =>
        // long strings are OMITTED, not truncated: truncating an upper
        // bound without rounding the last byte up would claim a smaller
        // max than the data holds and let pruning drop matching files
        val bytes = bin.getBytes
        if (bytes.length <= 16) Some(bytes) else None
      case ("string", s: String) =>
        val bytes = s.getBytes(StandardCharsets.UTF_8)
        if (bytes.length <= 16) Some(bytes) else None
      case _ => None
    }
  }

  private def decodeBound(typ: String, bytes: Array[Byte]): Option[Any] = {
    val b = ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    typ match {
      case "int" | "date" => Some(b.getInt.toLong)
      case "long" | "timestamp" | "timestamptz" => Some(b.getLong)
      case "float" => Some(b.getFloat.toDouble)
      case "double" => Some(b.getDouble)
      case "boolean" => Some((bytes(0) & 1).toLong)
      case "string" => Some(bytes)
      case _ => None
    }
  }

  /** Normalize a query-supplied bound value into the comparison domain of
    * [[decodeBound]]: Long for integral/temporal, Double for floating,
    * UTF-8 bytes for strings. */
  private def normalizeValue(typ: String, v: Any): Option[Any] =
    (typ, v) match {
      case ("int" | "date" | "long" | "timestamp" | "timestamptz", n: Number) =>
        Some(n.longValue())
      case ("float" | "double", n: Number) => Some(n.doubleValue())
      case ("boolean", b: java.lang.Boolean) => Some(if (b) 1L else 0L)
      case ("string", s: String) => Some(s.getBytes(StandardCharsets.UTF_8))
      case _ => None
    }

  /** Compare two normalized bound values; strings are unsigned-lex byte
    * order (parquet's UTF8 comparator domain). */
  private def cmpBound(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(x.length, y.length)
    case _ => 0
  }

  /** Merge per-row-group parquet statistics into per-column file bounds.
    * A column with any missing/unusable row-group stats is omitted —
    * pruning then always keeps the file (sound over-read). */
  private def footerBounds(r: org.apache.parquet.hadoop.ParquetFileReader,
      schema: StructType): Map[String, (Array[Byte], Array[Byte])] = {
    val types = schema.fields.flatMap(f =>
      scala.util.Try(icebergType(f.dataType)).toOption.map(f.name -> _)).toMap
    val acc = scala.collection.mutable.Map[String, (Array[Byte], Array[Byte])]()
    val dead = scala.collection.mutable.Set[String]()
    r.getFooter.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { cc =>
        val name = cc.getPath.toDotString
        types.get(name).filterNot(_ => dead(name)).foreach { typ =>
          val st = cc.getStatistics
          val enc =
            if (st == null || st.isEmpty || !st.hasNonNullValue) None
            else for {
              lo <- encodeBound(typ, st.genericGetMin)
              hi <- encodeBound(typ, st.genericGetMax)
            } yield (lo, hi)
          enc match {
            case None => dead += name; acc.remove(name)
            case Some((lo, hi)) =>
              acc.get(name) match {
                case None => acc(name) = (lo, hi)
                case Some((plo, phi)) =>
                  val dLo = Seq(decodeBound(typ, plo), decodeBound(typ, lo))
                    .flatten.reduceLeft((a, b) => if (cmpBound(a, b) <= 0) a else b)
                  val dHi = Seq(decodeBound(typ, phi), decodeBound(typ, hi))
                    .flatten.reduceLeft((a, b) => if (cmpBound(a, b) >= 0) a else b)
                  acc(name) = (
                    if (decodeBound(typ, plo).exists(cmpBound(_, dLo) == 0)) plo else lo,
                    if (decodeBound(typ, phi).exists(cmpBound(_, dHi) == 0)) phi else hi)
              }
          }
        }
      }
    }
    acc.toMap
  }

  /** The optimistic commit loop shared by append (carries the previous
    * snapshot's manifests forward), compact (replaces them) and delete
    * (appends an equality-delete manifest: `equalityIds` non-empty flips
    * the committed files to content=2 / list-entry content=1). */
  /** Build + validate one partition field from a `partitionBy` decl
    * against the table schema (shared by table creation and
    * [[addPartitionField]]). */
  private def specFieldOf(decl: String, fieldId: Int,
      fields: Seq[Field]): PartitionField = {
    val (srcName, transform, fieldName) = parsePartitionDecl(decl)
    val src = fields.find(_.name == srcName).getOrElse(
      throw new IllegalArgumentException(
        s"partition column $srcName not in schema"))
    val pf = PartitionField(fieldId, src.id, fieldName, transform)
    // validates source/value types for the transform
    partitionAvroType(partitionValueType(pf, src.typ))
    pf.temporal match {
      case Some("hour") => require(
        src.typ == "timestamp" || src.typ == "timestamptz",
        s"hour source must be a timestamp, got ${src.typ}")
      case Some(u) => require(src.typ == "timestamp" ||
        src.typ == "timestamptz" || src.typ == "date",
        s"$u source must be a timestamp or date, got ${src.typ}")
      case None if !pf.isIdentity =>
        partitionValueType(pf, src.typ) match {
          case "int" | "long" | "string" =>
          case other => throw new IllegalArgumentException(
            s"$transform source must be int/long/string, got $other")
        }
      case None =>
    }
    pf
  }

  private def commitSnapshot(spark: SparkSession, table: String,
      incomingSchema: StructType,
      fileRecords: Seq[DataFileInfo],
      commitUuid: String, carryPrior: Boolean, operation: String,
      maxRetries: Int, equalityIds: Seq[Int] = Nil,
      positionDelete: Boolean = false,
      createSpecOn: Seq[String] = Nil,
      writeOrder: Seq[String] = Nil,
      overwriteTuples: Set[Seq[Any]] = Set.empty,
      extraSummary: Map[String, String] = Map.empty,
      toBranch: Option[String] = None,
      // a ROW DELTA (spec: one snapshot carrying both delete and data
      // manifests — the single-commit MERGE shape): `deleteRecords` lands
      // as a SECOND manifest (content=deletes, equality ids
      // `deleteEqIds`) under the SAME snapshot/sequence number, so
      // readers never observe the delete without its re-insert
      deleteRecords: Seq[DataFileInfo] = Nil,
      deleteEqIds: Seq[Int] = Nil): Unit = {
    val tableDir = new HPath(table)
    val f = fs(tableDir)
    val addedRecords = fileRecords.map(_.records).sum
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      if (attempt > maxRetries)
        throw new CommitConflictException(
          s"lost $maxRetries commit races on $table")
      val current = load(spark, table)
      val nowMs = System.currentTimeMillis()
      val (base, prevSchemas) = current match {
        case Some(m) => (m, historicalSchemas(f, table, m))
        case None =>
          val empty = TableMeta(0, UUID.randomUUID().toString,
            tableDir.toString, 0L, 0, 0, Nil, Nil, None, Nil)
          (empty, Nil)
      }
      val (fields, lastColId, schemaChanged) =
        evolveFields(base.fields, base.lastColumnId, incomingSchema)
      val schemaId =
        if (base.fields.isEmpty) 0
        else if (schemaChanged) base.currentSchemaId + 1
        else base.currentSchemaId
      // partition spec: inherited from the table, or created with it on
      // the first commit (field ids 1000+, source = table column id)
      val specFields =
        if (base.version > 0 || createSpecOn.isEmpty) base.specFields
        else createSpecOn.zipWithIndex.map { case (decl, i) =>
          specFieldOf(decl, 1000 + i, fields)
        }
      val specId = if (base.version == 0) 0 else base.defaultSpecId
      val fieldTypById = fields.map(fl => fl.id -> fl.typ).toMap
      val specWithTypes = specFields.map(pf => (pf, fieldTypById(pf.sourceId)))
      val entrySchema = manifestEntrySchema(specWithTypes)

      val snapshotId = snapshotSeq.incrementAndGet()
      val seqNum = base.lastSequenceNumber + 1

      // manifest for the added files
      val manifestPath = new HPath(metadataDir(table),
        s"$commitUuid-m$attempt.avro")
      val isDelete = equalityIds.nonEmpty || positionDelete
      // spec data_file.content: 0 = data, 1 = POSITION deletes, 2 = EQUALITY
      val fileContent =
        if (equalityIds.nonEmpty) 2 else if (positionDelete) 1 else 0
      val idByName = fields.map(fl => fl.name -> fl.id).toMap
      def entryOf(info: DataFileInfo, content: Int,
          eqIds: Seq[Int]): GenericRecord = {
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapshotId)
        e.put("sequence_number", seqNum)
        e.put("file_sequence_number", seqNum)
        val d = new GenericData.Record(
          entrySchema.getField("data_file").schema())
        d.put("content", content)
        d.put("file_path", info.status.getPath.toString)
        d.put("file_format", "PARQUET")
        val part = new GenericData.Record(
          d.getSchema.getField("partition").schema())
        info.partitionValues.foreach { case (name, v) => part.put(name, v) }
        d.put("partition", part)
        d.put("record_count", info.records)
        d.put("file_size_in_bytes", info.status.getLen)
        // per-file column bounds keyed by FIELD ID (spec 125/128) — the
        // scan planner's file-skipping input ([[readPruned]])
        def kvArray(recName: String, pick: ((Array[Byte], Array[Byte])) => Array[Byte]) = {
          val itemSchema = d.getSchema.getField(
            if (recName == "k126_v127") "lower_bounds" else "upper_bounds")
            .schema().getTypes.get(1).getElementType
          info.bounds.toSeq.flatMap { case (name, b) =>
            idByName.get(name).map { id =>
              val kv = new GenericData.Record(itemSchema)
              kv.put("key", id)
              kv.put("value", ByteBuffer.wrap(pick(b)))
              kv
            }
          }.asJava
        }
        if (info.bounds.nonEmpty) {
          d.put("lower_bounds", kvArray("k126_v127", _._1))
          d.put("upper_bounds", kvArray("k129_v130", _._2))
        }
        if (eqIds.nonEmpty)
          d.put("equality_ids", eqIds.map(Int.box).asJava)
        e.put("data_file", d)
        e
      }
      val entries = fileRecords.map(entryOf(_, fileContent, equalityIds))
      val specJsonStr = {
        val arr = mapper.createArrayNode()
        specFields.foreach { pf =>
          arr.addObject().put("name", pf.name).put("transform", pf.transform)
            .put("source-id", pf.sourceId).put("field-id", pf.fieldId)
        }
        arr.toString
      }
      val manifestLen = writeAvro(f, manifestPath, entrySchema,
        Map(
          "schema" -> schemaJson(schemaId, fields).toString,
          "partition-spec" -> specJsonStr,
          "partition-spec-id" -> specId.toString,
          "format-version" -> "2",
          "content" -> (if (isDelete) "deletes" else "data")),
        entries)
      // the row delta's delete manifest: same snapshot, same sequence
      // number — equality deletes scope STRICTLY BELOW their seq, so the
      // delta's own data files are immune to its delete half
      val deleteManifest: Option[(HPath, Long)] =
        if (deleteRecords.isEmpty) None
        else {
          val p = new HPath(metadataDir(table),
            s"$commitUuid-del$attempt.avro")
          val len = writeAvro(f, p, entrySchema,
            Map(
              "schema" -> schemaJson(schemaId, fields).toString,
              "partition-spec" -> specJsonStr,
              "partition-spec-id" -> specId.toString,
              "format-version" -> "2",
              "content" -> "deletes"),
            deleteRecords.map(entryOf(_, 2, deleteEqIds)))
          Some((p, len))
        }

      // manifest list: append carries the previous snapshot's manifests
      // forward; replace (compaction) starts from just the new manifest —
      // old snapshots keep their own manifest lists, so history survives
      // the commit's BASE snapshot: a branch commit (write-audit-publish)
      // chains on the branch's head — NOT on main's current — so staged
      // commits stack on the branch while readers of main never see them
      val baseSnapId: Option[Long] = toBranch
        .flatMap(b => base.refs.get(b).map(_._1))
        .orElse(base.currentSnapshotId)
      val prevManifests: Seq[GenericRecord] =
        if (!carryPrior) Nil
        else baseSnapId
          .flatMap(id => base.snapshots.find(_.snapshotId == id))
          .map(s => readAvro(spark, s.manifestList)._2)
          .getOrElse(Nil)
      val newEntry = new GenericData.Record(manifestListSchema)
      newEntry.put("manifest_path", manifestPath.toString)
      newEntry.put("manifest_length", manifestLen)
      newEntry.put("partition_spec_id", specId)
      newEntry.put("content", if (isDelete) 1 else 0) // spec: 1 = deletes
      newEntry.put("sequence_number", seqNum)
      newEntry.put("min_sequence_number", seqNum)
      newEntry.put("added_snapshot_id", snapshotId)
      newEntry.put("added_files_count", fileRecords.size)
      newEntry.put("existing_files_count", 0)
      newEntry.put("deleted_files_count", 0)
      newEntry.put("added_rows_count", addedRecords)
      newEntry.put("existing_rows_count", 0)
      newEntry.put("deleted_rows_count", 0)
      val deleteListEntry = deleteManifest.map { case (p, len) =>
        val de = new GenericData.Record(manifestListSchema)
        de.put("manifest_path", p.toString)
        de.put("manifest_length", len)
        de.put("partition_spec_id", specId)
        de.put("content", 1) // spec: 1 = deletes
        de.put("sequence_number", seqNum)
        de.put("min_sequence_number", seqNum)
        de.put("added_snapshot_id", snapshotId)
        de.put("added_files_count", deleteRecords.size)
        de.put("existing_files_count", 0)
        de.put("deleted_files_count", 0)
        de.put("added_rows_count", deleteRecords.map(_.records).sum)
        de.put("existing_rows_count", 0L)
        de.put("deleted_rows_count", 0L)
        de
      }
      // re-encode carried-over entries against our schema (same field ids);
      // a dynamic-partition overwrite additionally REWRITES any prior data
      // manifest holding a doomed partition tuple: survivors carry as
      // EXISTING (status=0) with their ORIGINAL sequence numbers (so
      // equality-delete scoping is unchanged), doomed entries flip to
      // DELETED (status=2 — the planner skips them) under this snapshot's
      // id. Delete manifests and untouched data manifests carry verbatim.
      val specNames = specFields.map(_.name)
      val rewrittenThisAttempt = scala.collection.mutable.ArrayBuffer.empty[HPath]
      val carried = prevManifests.zipWithIndex.map { case (r, idx) =>
        val carriedSpecId = r.get("partition_spec_id") match {
          case i: Integer => i.intValue(); case _ => 0
        }
        // a manifest written under an OLDER spec stores its tuples in a
        // different field set: matching the current spec's names against
        // it reads every field as null — doomed entries would silently
        // survive (duplicate rows after backfill) and a null-valued
        // touched tuple could doom unrelated old-spec files. Refuse,
        // loudly, rather than corrupt (planFiles decodes per-manifest
        // specs for READS; an overwrite across specs needs a compact
        // first so everything lands under the current default spec).
        if (overwriteTuples.nonEmpty && carriedSpecId != specId &&
            (r.get("content") match { case i: Integer => i.intValue(); case _ => 0 }) == 0)
          throw new IllegalStateException(
            s"dynamic partition overwrite on $table would rewrite manifest " +
              s"${r.get("manifest_path")} written under partition spec " +
              s"$carriedSpecId (current default: $specId) — run compact() " +
              "after partition-spec evolution before overwriting")
        val rewrittenPath: Option[(HPath, Long, Long, Long, Long, Long)] =
          if (overwriteTuples.isEmpty ||
              (r.get("content") match { case i: Integer => i.intValue(); case _ => 0 }) == 1)
            None
          else {
            val srcPath = r.get("manifest_path").toString
            val (srcMeta, srcEntries) = readAvro(spark, srcPath)
            def tupleOf(e: GenericRecord): Seq[Any] = {
              val part = e.get("data_file").asInstanceOf[GenericRecord]
                .get("partition").asInstanceOf[GenericRecord]
              specNames.map(n => normPartValue(part.get(n)))
            }
            val live = srcEntries.filter(
              _.get("status").asInstanceOf[Int] != 2)
            val (doomed, survivors) =
              live.partition(e => overwriteTuples.contains(tupleOf(e)))
            if (doomed.isEmpty) None
            else {
              val schema = srcEntries.head.getSchema
              def recount(e: GenericRecord): Long =
                e.get("data_file").asInstanceOf[GenericRecord]
                  .get("record_count").asInstanceOf[Long]
              val rewritten = survivors.map { e =>
                val c = new GenericData.Record(schema)
                schema.getFields.asScala.foreach(fl =>
                  c.put(fl.name(), e.get(fl.name())))
                c.put("status", 0) // EXISTING: original seq numbers kept
                c
              } ++ doomed.map { e =>
                val c = new GenericData.Record(schema)
                schema.getFields.asScala.foreach(fl =>
                  c.put(fl.name(), e.get(fl.name())))
                c.put("status", 2) // DELETED by THIS snapshot
                c.put("snapshot_id", snapshotId)
                c
              }
              val p = new HPath(metadataDir(table),
                s"$commitUuid-rw$attempt-$idx.avro")
              val len = writeAvro(f, p, schema, srcMeta, rewritten)
              rewrittenThisAttempt += p
              Some((p, len, survivors.size.toLong, doomed.size.toLong,
                survivors.map(recount).sum, doomed.map(recount).sum))
            }
          }
        val c = new GenericData.Record(manifestListSchema)
        manifestListSchema.getFields.asScala.foreach(fld =>
          c.put(fld.name(), r.get(fld.name())))
        rewrittenPath.foreach { case (p, len, nSurv, nDoom, rSurv, rDoom) =>
          c.put("manifest_path", p.toString)
          c.put("manifest_length", len)
          c.put("added_snapshot_id", snapshotId)
          c.put("added_files_count", 0)
          c.put("existing_files_count", nSurv.toInt)
          c.put("deleted_files_count", nDoom.toInt)
          c.put("added_rows_count", 0L)
          c.put("existing_rows_count", rSurv)
          c.put("deleted_rows_count", rDoom)
        }
        c
      }
      val listPath = new HPath(metadataDir(table),
        s"snap-$snapshotId-$commitUuid.avro")
      writeAvro(f, listPath, manifestListSchema,
        Map("snapshot-id" -> snapshotId.toString,
          "parent-snapshot-id" -> base.currentSnapshotId.map(_.toString).getOrElse("null"),
          "sequence-number" -> seqNum.toString,
          "format-version" -> "2"),
        (carried ++ deleteListEntry.toSeq) :+ newEntry)

      val snap = Snapshot(snapshotId, baseSnapId, seqNum, nowMs,
        listPath.toString, fileRecords.size.toLong, addedRecords, schemaId,
        operation, extraSummary)
      val newVersion = base.version + 1
      // a clusterBy append DECLARES its write order in metadata (spec:
      // Sort Orders): resolve the columns to source-ids against the
      // committed schema, reuse an existing identical order's id, else
      // mint the next one; the default order id then points at it so
      // readers know which columns carry tight per-file bounds
      val (sortOrders, sortOrderId) =
        if (writeOrder.isEmpty) (base.sortOrders, base.defaultSortOrderId)
        else {
          val byName = fields.map(f => f.name -> f.id).toMap
          val sfs = writeOrder.map(c => SortField(byName.getOrElse(c,
            throw new IllegalArgumentException(
              s"write-order column '$c' not in schema"))))
          val all = if (base.sortOrders.contains(0)) base.sortOrders
            else base.sortOrders + (0 -> Nil)
          all.find(_._2 == sfs) match {
            case Some((oid, _)) => (all, oid)
            case None =>
              val oid = all.keys.max + 1
              (all + (oid -> sfs), oid)
          }
        }
      // a branch commit leaves MAIN's current untouched and moves (or
      // creates) the branch ref instead — the WAP staging contract
      val nextCurrent =
        if (toBranch.isDefined) base.currentSnapshotId else Some(snapshotId)
      val nextRefs = toBranch match {
        case Some(b) => base.refs + (b -> (snapshotId, "branch"))
        case None => base.refs
      }
      val next = TableMeta(newVersion, base.uuid, tableDir.toString, seqNum,
        lastColId, schemaId, fields, base.snapshots :+ snap, nextCurrent,
        base.metadataLog ++ (if (base.version > 0)
          Seq((nowMs, versionFile(table, base.version).toString)) else Nil),
        specFields = specFields, refs = nextRefs,
        specsById =
          if (base.version == 0) Map(0 -> specFields) else base.specsById,
        defaultSpecId = specId,
        sortOrders = sortOrders, defaultSortOrderId = sortOrderId,
        statistics = base.statistics)
      val allSchemas =
        (prevSchemas.filterNot(_._1 == schemaId) :+ (schemaId -> fields))
          .sortBy(_._1)

      // atomic claim: write temp, rename to the next version slot. Rename
      // refuses to clobber an existing destination, so exactly one
      // committer wins a given version (HadoopTableOperations semantics).
      val tmp = new HPath(metadataDir(table), s"$commitUuid-$attempt.tmp.json")
      val out = f.create(tmp, true)
      try out.write(metaJson(next, allSchemas, nowMs)
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val dest = versionFile(table, newVersion)
      if (!f.exists(dest) && f.rename(tmp, dest)) {
        writeVersionHint(f, table, newVersion)
        committed = true
      } else {
        f.delete(tmp, false)
        f.delete(listPath, false) // stale snapshot artifacts of the lost race
        f.delete(manifestPath, false)
        deleteManifest.foreach { case (p, _) => f.delete(p, false) }
        rewrittenThisAttempt.foreach(p => f.delete(p, false))
      }
    }
  }

  /** PARTITION-SPEC EVOLUTION (spec: `ADD PARTITION FIELD`): commit a
    * new DEFAULT spec — the current default's fields plus `decl` (the
    * `partitionBy` mini-syntax: `col`, `bucket(N, col)`,
    * `truncate(W, col)`, `year/month/day/hour(col)`). Metadata-only: no
    * snapshot, no data IO. Existing data files keep the spec they were
    * written under (their manifests carry its spec-id) and future appends
    * write under the new spec; scans plan each manifest with its OWN spec
    * (multi-spec planning), so pruning on the new field applies to
    * new-spec files while old-spec files are soundly kept. Re-declaring a
    * spec identical to one already in the table reuses its id (made
    * default again) instead of minting a duplicate — Iceberg's
    * spec-dedup behavior. */
  def addPartitionField(spark: SparkSession, table: String, decl: String,
      maxRetries: Int = 5): Unit =
    commitMetadataOnly(spark, table, maxRetries) { m =>
      val lastPartitionId =
        (999 +: m.allSpecs.values.flatten.map(_.fieldId).toSeq).max
      val fresh = specFieldOf(decl, lastPartitionId + 1, m.fields)
      // spec rule: an identical (source-id, transform) pair keeps the SAME
      // partition field id across evolved specs — external readers key
      // field identity on it. Only mint a new id when no prior spec ever
      // carried this pair.
      val pf = m.allSpecs.values.flatten.find(e =>
          e.sourceId == fresh.sourceId && e.transform == fresh.transform)
        .map(prior => fresh.copy(fieldId = prior.fieldId, name = prior.name))
        .getOrElse(fresh)
      require(!m.specFields.exists(e =>
        e.sourceId == pf.sourceId && e.transform == pf.transform),
        s"default spec already partitions by $decl")
      val newSpec = m.specFields :+ pf
      def sig(s: Seq[PartitionField]) =
        s.map(x => (x.sourceId, x.transform, x.name))
      val (specId, specs) =
        m.allSpecs.find { case (_, s) => sig(s) == sig(newSpec) } match {
          case Some((id, _)) => (id, m.allSpecs)
          case None =>
            val id = m.allSpecs.keys.max + 1
            (id, m.allSpecs + (id -> newSpec))
        }
      Some(m.copy(specFields = specs(specId), specsById = specs,
        defaultSpecId = specId))
    }

  /** Partition-spec evolution, the shrinking direction (spec: Partition
    * Evolution — v2 specs may REMOVE fields; v1 keeps a void-transform
    * placeholder, which this v2 writer does not need): drop `decl` from
    * the DEFAULT spec under a new spec-id (or reuse a prior spec with the
    * identical field list — e.g. dropping the only field returns to the
    * original unpartitioned spec 0). Existing data files keep the spec-id
    * they were written under and still decode/prune through it; only new
    * writes use the reduced spec. Metadata-only, no snapshot. */
  def dropPartitionField(spark: SparkSession, table: String, decl: String,
      maxRetries: Int = 5): Unit =
    commitMetadataOnly(spark, table, maxRetries) { m =>
      val probe = specFieldOf(decl, 0, m.fields)
      val remaining = m.specFields.filterNot(e =>
        e.sourceId == probe.sourceId && e.transform == probe.transform)
      require(remaining.size != m.specFields.size,
        s"default spec does not partition by $decl")
      def sig(s: Seq[PartitionField]) =
        s.map(x => (x.sourceId, x.transform, x.name))
      val (specId, specs) =
        m.allSpecs.find { case (_, s) => sig(s) == sig(remaining) } match {
          case Some((id, _)) => (id, m.allSpecs)
          case None =>
            val id = m.allSpecs.keys.max + 1
            (id, m.allSpecs + (id -> remaining))
        }
      Some(m.copy(specFields = specs(specId), specsById = specs,
        defaultSpecId = specId))
    }

  /** Metadata-only optimistic commit: apply `mutate` to the current
    * metadata and claim the next version slot (no new snapshot). */
  private def commitMetadataOnly(spark: SparkSession, table: String,
      maxRetries: Int)(mutate: TableMeta => Option[TableMeta]): Unit = {
    val f = fs(new HPath(table))
    var attempt = 0
    while (true) {
      attempt += 1
      if (attempt > maxRetries)
        throw new CommitConflictException(
          s"lost $maxRetries metadata commit races on $table")
      val m = load(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no Iceberg table at $table"))
      val nowMs = System.currentTimeMillis()
      mutate(m) match {
        case None => return // no-op
        case Some(mutated) =>
          val next = mutated.copy(version = m.version + 1,
            metadataLog = m.metadataLog :+
              ((nowMs, versionFile(table, m.version).toString)))
          val allSchemas = (historicalSchemas(f, table, m)
            .filterNot(_._1 == m.currentSchemaId) :+
            (m.currentSchemaId -> m.fields)).sortBy(_._1)
          val tmp = new HPath(metadataDir(table),
            s"meta-${UUID.randomUUID()}.tmp.json")
          val out = f.create(tmp, true)
          try out.write(metaJson(next, allSchemas, nowMs)
            .getBytes(StandardCharsets.UTF_8))
          finally out.close()
          val dest = versionFile(table, next.version)
          if (!f.exists(dest) && f.rename(tmp, dest)) {
            writeVersionHint(f, table, next.version)
            return
          } else f.delete(tmp, false)
      }
    }
  }

  /** Create or move a named snapshot ref (spec: snapshot references) —
    * `type` is "tag" (immutable bookmark, the audit/compliance pin) or
    * "branch". Defaults to the current snapshot. Ref'd snapshots are
    * excluded from [[expireSnapshots]] until the ref is dropped, which is
    * the point: `tag("training-run-7")` freezes exactly the corpus a
    * model saw. Metadata-only optimistic commit. */
  def setRef(spark: SparkSession, table: String, name: String,
      refType: String = "tag", snapshotId: Option[Long] = None,
      maxRetries: Int = 5,
      /** Spec `max-ref-age-ms`: after this age (measured from the
        * referenced snapshot's commit timestamp) the ref itself expires
        * during [[expireSnapshots]] — "keep this audit pin N days".
        * None = pin forever. */
      maxRefAgeMs: Option[Long] = None): Unit = {
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag|branch, got $refType")
    require(maxRefAgeMs.forall(_ > 0), "maxRefAgeMs must be positive")
    commitMetadataOnly(spark, table, maxRetries) { m =>
      val id = snapshotId.orElse(m.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException("table has no snapshot to ref"))
      require(m.snapshots.exists(_.snapshotId == id), s"unknown snapshot $id")
      if (m.refs.get(name).contains((id, refType)) &&
          m.refAges.get(name) == maxRefAgeMs) None
      else Some(m.copy(refs = m.refs + (name -> (id, refType)),
        refAges = maxRefAgeMs match {
          case Some(a) => m.refAges + (name -> a)
          case None => m.refAges - name
        }))
    }
  }

  def dropRef(spark: SparkSession, table: String, name: String,
      maxRetries: Int = 5): Unit =
    commitMetadataOnly(spark, table, maxRetries) { m =>
      if (!m.refs.contains(name)) None
      else Some(m.copy(refs = m.refs - name, refAges = m.refAges - name))
    }

  /** Roll the table back to an earlier snapshot (the recovery op after a
    * bad commit — Iceberg's `rollback_to_snapshot` procedure): metadata-
    * only, flips `current-snapshot-id` to `snapshotId` through the same
    * optimistic rename. NOTHING is deleted: the abandoned snapshots stay
    * in the metadata and remain time-travelable (and expire later via
    * [[expireSnapshots]] once unreferenced); a subsequent [[append]]
    * parents off the restored snapshot, so the abandoned line becomes a
    * dead fork exactly as the spec's ancestry model describes. */
  def rollbackTo(spark: SparkSession, table: String, snapshotId: Long,
      maxRetries: Int = 5): Unit =
    commitMetadataOnly(spark, table, maxRetries) { m =>
      require(m.snapshots.exists(_.snapshotId == snapshotId),
        s"unknown snapshot $snapshotId")
      if (m.currentSnapshotId.contains(snapshotId)) None
      else Some(m.copy(currentSnapshotId = Some(snapshotId)))
    }

  /** [[read]] pinned to a named ref's snapshot. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame = {
    val m = load(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg table at $table"))
    val (id, _) = m.refs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown ref $name"))
    read(spark, table, Some(id))
  }

  /** Expire snapshots older than `olderThanMs` (always retaining the
    * current snapshot and the most recent `retainLast`) and DELETE the
    * files only they referenced — manifest lists, manifests, and data
    * files unreachable from any retained snapshot. This is the
    * `expire_snapshots` maintenance op that reclaims space after
    * [[compact]]; time travel to an expired snapshot becomes impossible,
    * which is the documented trade. Commits a new metadata version through
    * the same optimistic rename (no new snapshot). */
  def expireSnapshots(spark: SparkSession, table: String, olderThanMs: Long,
      retainLast: Int = 1, maxRetries: Int = 5): Unit = {
    val tableDir = new HPath(table)
    val f = fs(tableDir)
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      if (attempt > maxRetries)
        throw new CommitConflictException(
          s"lost $maxRetries commit races expiring $table")
      val m = load(spark, table).getOrElse(return)
      // per-ref age overrides FIRST (spec: max-ref-age-ms): a ref whose
      // referenced snapshot's commit time has aged past its override is
      // itself removed by this expiration, so it no longer pins — the
      // "keep this audit tag 30 days" retention shape
      val nowRef = System.currentTimeMillis()
      val agedOut = m.refAges.collect {
        case (name, maxAge)
            if m.refs.get(name).exists { case (id, _) =>
              m.snapshots.find(_.snapshotId == id)
                .exists(_.timestampMs < nowRef - maxAge)
            } => name
      }.toSet
      val liveRefs = m.refs -- agedOut
      val keepIds = (m.snapshots.sortBy(_.sequenceNumber).takeRight(
        math.max(1, retainLast)).map(_.snapshotId) ++
        m.currentSnapshotId.toSeq ++
        // surviving named refs PIN their snapshots: a tagged audit
        // snapshot never expires until the tag is dropped or ages out
        // (spec snapshot-reference retention semantics)
        liveRefs.values.map(_._1) ++
        m.snapshots.filter(_.timestampMs >= olderThanMs).map(_.snapshotId)).toSet
      val (kept, expired) = m.snapshots.partition(s => keepIds(s.snapshotId))
      if (expired.isEmpty && agedOut.isEmpty) return

      // reachability: everything a retained snapshot references survives
      def manifestsOf(s: Snapshot): Seq[String] =
        readAvro(spark, s.manifestList)._2.map(_.get("manifest_path").toString)
      def dataFilesOf(manifest: String): Seq[String] =
        readAvro(spark, manifest)._2.map(
          _.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString)
      // survivorship compares NORMALIZED paths (deletion uses the raw
      // ones): a foreign history can reference the same physical file as
      // `file:///x` in one snapshot's manifests and `/x` in another's —
      // a raw-string subtraction would then delete data a kept snapshot
      // still references
      val keptManifests = kept.flatMap(manifestsOf).toSet
      val keptManifestsNorm = keptManifests.map(normPathStr)
      val keptDataNorm = keptManifests.flatMap(dataFilesOf).map(normPathStr)
      val expiredManifests = expired.flatMap(manifestsOf).toSet
        .filterNot(p => keptManifestsNorm(normPathStr(p)))
      val expiredData = expiredManifests.flatMap(dataFilesOf)
        .filterNot(p => keptDataNorm(normPathStr(p)))

      // expired snapshots' PARENT pointers may now dangle; rewrite lineage
      // so each kept snapshot points at its nearest kept ancestor
      val keptSorted = kept.sortBy(_.sequenceNumber)
      val relinked = keptSorted.zipWithIndex.map { case (s, i) =>
        val parent = if (i == 0) None else Some(keptSorted(i - 1).snapshotId)
        s.copy(parentId = parent)
      }
      val nowMs = System.currentTimeMillis()
      // statistics entries describe exactly one snapshot: expire theirs too
      val (keptStats, expiredStats) =
        m.statistics.partition(st => keepIds(st.snapshotId))
      val next = m.copy(version = m.version + 1, snapshots = relinked,
        statistics = keptStats,
        refs = liveRefs, refAges = m.refAges -- agedOut,
        metadataLog = m.metadataLog :+
          ((nowMs, versionFile(table, m.version).toString)))
      val allSchemas = historicalSchemas(f, table, m)
        .filterNot(_._1 == m.currentSchemaId) :+ (m.currentSchemaId -> m.fields)

      val tmp = new HPath(metadataDir(table),
        s"expire-${UUID.randomUUID()}.tmp.json")
      val out = f.create(tmp, true)
      try out.write(metaJson(next, allSchemas.sortBy(_._1), nowMs)
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
      val dest = versionFile(table, next.version)
      if (!f.exists(dest) && f.rename(tmp, dest)) {
        writeVersionHint(f, table, next.version)
        committed = true
        // physical cleanup only AFTER the metadata no longer references
        // any of it (a crash between commit and deletes leaves orphans,
        // never a broken table)
        expired.foreach(s => f.delete(new HPath(s.manifestList), false))
        expiredManifests.foreach(p => f.delete(new HPath(p), false))
        expiredData.foreach(p => f.delete(new HPath(p), false))
        expiredStats.foreach(st => f.delete(new HPath(st.path), false))
      } else f.delete(tmp, false)
    }
  }

  /** Iceberg's `remove_orphan_files` maintenance op: delete files under
    * the table location that NO retained snapshot references — crash
    * leftovers (a committer that died between staging and commit) and
    * lost-race artifacts. Reachability = every retained snapshot's
    * manifest list + manifests + data/delete files, every metadata
    * version file, and the version hint. `olderThanMs` is the safety
    * fence (default 1 h): a file younger than it is NEVER deleted, so an
    * in-flight commit's freshly staged files survive even though no
    * metadata references them yet. Returns (deleted files, bytes). */
  def removeOrphanFiles(spark: SparkSession, table: String,
      olderThanMs: Long = System.currentTimeMillis() - 3600000L): (Int, Long) = {
    val tableDir = new HPath(table)
    val f = fs(tableDir)
    val m = load(spark, table).getOrElse(return (0, 0L))
    val reachable = scala.collection.mutable.Set[String]()
    (1 to m.version).foreach(v =>
      reachable += versionFile(table, v).toString)
    reachable += new HPath(metadataDir(table), "version-hint.text").toString
    m.statistics.foreach(st => reachable += st.path)
    m.snapshots.foreach { s =>
      reachable += s.manifestList
      readAvro(spark, s.manifestList)._2.foreach { lm =>
        val manifest = lm.get("manifest_path").toString
        reachable += manifest
        readAvro(spark, manifest)._2.foreach { e =>
          reachable += e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString
        }
      }
    }
    // ONE canonicalizer repo-wide: qualify (absolutizes a relative
    // metadata path against the filesystem) then normPathStr (the same
    // scheme-stripping contract every other path compare uses). Using
    // makeQualified ALONE here while reads use normPathStr opened a
    // divergence window — a foreign shape the two normalize differently
    // would pass reads yet mis-classify reachability on the ONE op that
    // deletes files (the conformance matrix pins agreement).
    def qualify(p: HPath): String = normPathStr(f.makeQualified(p).toString)
    val reachableQ = reachable.map(p => qualify(new HPath(p)))
    var deleted = 0
    var bytes = 0L
    Seq(metadataDir(table), dataDir(table)).foreach { dir =>
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        if (st.isFile && st.getModificationTime < olderThanMs &&
            !reachableQ.contains(qualify(st.getPath))) {
          bytes += st.getLen
          if (f.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    (deleted, bytes)
  }

  // ---- read (metadata-driven scan planning) --------------------------------

  /** One planned file from the metadata chain. `partitionValues` is the
    * identity partition tuple in spec order (sourceId → value; empty for
    * unpartitioned tables and delete files). */
  private final case class PlannedFile(path: String, seq: Long,
      content: Int, eqIds: Seq[Int],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      partitionValues: Seq[(Int, Any)] = Nil,
      sizeBytes: Long = 0L, records: Long = 0L,
      /** The spec this file's manifest was written under (partition-spec
        * evolution: files keep their spec for life). */
      specId: Int = 0)

  /** Canonical shape for file-path equality between Spark's
    * `_metadata.file_path` (always a URI, e.g. `file:///x`) and manifest
    * `file_path` fields (this writer emits bare paths; a foreign writer
    * may emit `file:/x` or `file:///x` for the same file): strip any
    * scheme and collapse the authority slashes to one leading `/`. BOTH
    * sides of every path join go through this one helper — and the read
    * path's (file → seq) lookup additionally left-joins and RAISES on a
    * miss — so a path-shape divergence surfaces as an error, never as
    * silently vanished rows.
    *
    * Known limits (both surface loudly, never as dropped rows): the URI
    * AUTHORITY is kept in the normalized path (`hdfs://host:8020/x` →
    * `/host:8020/x`), so the same file named with and without an
    * authority still diverges after normalization — the left-join raise
    * fires; a Windows drive path (`C:/x`) would mangle, unreachable on
    * this platform. */
  private[etl] def normPathStr(p: String): String =
    p.replaceFirst("^[A-Za-z][A-Za-z0-9+.\\-]*:/*", "/")

  /** A MANIFEST-side path mapped into the shape Spark's
    * `_metadata.file_path` reports — Hadoop Path's RAW URI form, which
    * percent-encodes characters URI syntax reserves (a literal `%` in a
    * file name becomes `%25`) — then scheme-normalized. Use whenever a
    * manifest path string meets a `_metadata`-derived one: the two live
    * in different shape DOMAINS (manifests carry literal paths,
    * `_metadata` carries encoded URIs), and comparing them raw raises
    * spuriously on any file name URI encoding touches (conformance
    * matrix: pct-literal). Driver-side, per FILE — the per-row Spark
    * side stays the cheap scheme-strip regexp, since within its domain
    * equality needs no decoding. */
  private[etl] def metaShapePath(p: String): String =
    normPathStr(new HPath(p).toUri.toString)

  /** [[normPathStr]] as a codegen'd column expression. */
  private def normPathCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(
      c, "^[A-Za-z][A-Za-z0-9+.\\-]*:/*", "/")

  private def boundsMap(v: AnyRef): Map[Int, Array[Byte]] = v match {
    case l: java.util.List[_] =>
      l.asScala.map { kv =>
        val r = kv.asInstanceOf[GenericRecord]
        val buf = r.get("value").asInstanceOf[ByteBuffer]
        val bytes = new Array[Byte](buf.remaining())
        buf.duplicate().get(bytes)
        r.get("key").asInstanceOf[Int] -> bytes
      }.toMap
    case _ => Map.empty
  }

  /** `get` tolerant of manifests written before a field existed — Avro
    * reads with the writer's embedded schema, so tables committed by an
    * older writer lack the newer entry fields (the spec makes them
    * optional); treat absent as null instead of throwing. */
  private def optField(r: GenericRecord, name: String): AnyRef =
    if (r.getSchema.getField(name) == null) null else r.get(name)

  /** Partition tuple of a manifest entry's data_file, in spec order,
    * keyed by PARTITION FIELD id (unique even when two transforms share a
    * source column); Avro Utf8 strings normalize to String. Absent fields
    * (older writers, delete files) read as null. */
  private def partitionTuple(d: GenericRecord,
      spec: Seq[PartitionField]): Seq[(Int, Any)] =
    if (spec.isEmpty) Nil
    else {
      val part = optField(d, "partition") match {
        case r: GenericRecord => r
        case _ => null
      }
      spec.map { pf =>
        val raw =
          if (part == null || part.getSchema.getField(pf.name) == null) null
          else part.get(pf.name)
        pf.fieldId -> (raw match {
          case u: org.apache.avro.util.Utf8 => u.toString
          case other => other
        })
      }
    }

  /** Resolve specs → (PartitionField, source Field) pairs for a snapshot's
    * schema — the per-spec planning input (multi-spec after
    * [[addPartitionField]]; a missing spec-id plans as unpartitioned). */
  private def specsWithFields(m: TableMeta, snapFields: Seq[Field])
      : Map[Int, Seq[(PartitionField, Field)]] =
    m.allSpecs.view.mapValues(_.map(pf =>
      (pf, snapFields.find(_.id == pf.sourceId).getOrElse(
        throw new IllegalStateException(
          s"partition source field ${pf.sourceId} missing"))))).toMap

  private def planFiles(spark: SparkSession, manifestList: String,
      specs: Map[Int, Seq[(PartitionField, Field)]] = Map.empty)
      : Seq[PlannedFile] =
    readAvro(spark, manifestList)._2.flatMap { lm =>
      val listSeq = lm.get("sequence_number").asInstanceOf[Long]
      // spec evolution: each manifest's files decode under the spec the
      // manifest was written with, not the table's current default
      val manSpecId = lm.get("partition_spec_id") match {
        case i: Integer => i.intValue(); case _ => 0
      }
      val spec = specs.getOrElse(manSpecId, Nil)
      readAvro(spark, lm.get("manifest_path").toString)._2
        .filter(_.get("status").asInstanceOf[Int] != 2) // not DELETED
        .map { e =>
          val d = e.get("data_file").asInstanceOf[GenericRecord]
          val eqIds = optField(d, "equality_ids") match {
            case l: java.util.List[_] =>
              l.asScala.map(_.asInstanceOf[Int]).toSeq
            case _ => Nil
          }
          val pv = partitionTuple(d, spec.map(_._1))
          val byFieldId = pv.toMap
          // partition values double as per-file bounds on their SOURCE
          // columns: identity → exact degenerate interval; truncate[W] →
          // the covered interval ([t, t+W-1] for ints; [prefix,
          // prefix·0xff…] for strings — a sound over-approximation);
          // bucket values carry no order, so they contribute no bounds
          // (equality pruning handles them in the planner instead).
          // Pruning via [[rangeIntersects]] then needs no special casing —
          // partition pruning IS bounds pruning.
          def interval(pf: PartitionField, fld: Field, v: Any)
              : Option[(Array[Byte], Array[Byte])] =
            (pf.truncateW, fld.typ, v) match {
              case _ if pf.isIdentity =>
                encodeBound(fld.typ, v).map(b => (b, b))
              case _ if pf.temporal.isDefined => (fld.typ, v) match {
                // temporal ordinal → the µs interval it covers on the
                // source timestamp; date sources compare in epoch days
                case ("timestamp" | "timestamptz", ord: Number) =>
                  val (lo, hi) = temporalInterval(pf.temporal.get, ord.intValue())
                  for {
                    l <- encodeBound(fld.typ, Long.box(lo))
                    h <- encodeBound(fld.typ, Long.box(hi))
                  } yield (l, h)
                case ("date", ord: Number) =>
                  val (loµs, hiµs) = temporalInterval(pf.temporal.get, ord.intValue())
                  for {
                    l <- encodeBound("date", Int.box((loµs / MicrosPerDay).toInt))
                    h <- encodeBound("date", Int.box((hiµs / MicrosPerDay).toInt))
                  } yield (l, h)
                case _ => None
              }
              case (Some(w), "int", t: Number) =>
                for {
                  lo <- encodeBound("int", Int.box(t.intValue()))
                  hi <- encodeBound("int", Int.box(t.intValue() + w - 1))
                } yield (lo, hi)
              case (Some(w), "long", t: Number) =>
                for {
                  lo <- encodeBound("long", Long.box(t.longValue()))
                  hi <- encodeBound("long", Long.box(t.longValue() + w - 1))
                } yield (lo, hi)
              case (Some(_), "string", t: String) =>
                val p = t.getBytes(StandardCharsets.UTF_8)
                Some((p, p ++ Array.fill(8)(0xff.toByte)))
              case _ => None
            }
          val partIntervals = spec.flatMap { case (pf, fld) =>
            Option(byFieldId.getOrElse(pf.fieldId, null))
              .flatMap(v => interval(pf, fld, v))
              .map(iv => fld.id -> iv)
          }.toMap
          val partLower = partIntervals.view.mapValues(_._1).toMap
          val partUpper = partIntervals.view.mapValues(_._2).toMap
          // spec: a null entry sequence number inherits the manifest list's
          PlannedFile(d.get("file_path").toString,
            Option(e.get("sequence_number"))
              .map(_.asInstanceOf[Long]).getOrElse(listSeq),
            optField(d, "content") match {
              case i: Integer => i.intValue(); case _ => 0
            }, eqIds,
            boundsMap(optField(d, "lower_bounds")) ++ partLower,
            boundsMap(optField(d, "upper_bounds")) ++ partUpper,
            pv,
            optField(d, "file_size_in_bytes") match {
              case l: java.lang.Long => l.longValue(); case _ => 0L
            },
            optField(d, "record_count") match {
              case l: java.lang.Long => l.longValue(); case _ => 0L
            },
            manSpecId)
        }
    }

  /** A pruning range over one column; open ends = unbounded. */
  final case class ColumnRange(column: String,
      lower: Option[Any] = None, upper: Option[Any] = None)

  /** Scan via the metadata chain: snapshot → manifest list → manifests →
    * data files, read with the SNAPSHOT's schema (old int/float files
    * upcast in place — no rewrite on evolution).
    *
    * EQUALITY DELETES (merge-on-read): when the snapshot carries delete
    * files, each delete set is subtracted with a BROADCAST null-safe
    * anti-join gated on the spec's sequence rule (delete seq strictly
    * greater than the data file's seq). The opt-out list is tiny next to
    * the corpus, so the subtraction is one narrow broadcast pass — the
    * corpus is never shuffled, which is what makes merge-on-read viable at
    * 100 TB. Snapshots without deletes take the zero-overhead fast path.
    *
    * `snapshotId` = TIME TRAVEL: any retained snapshot is readable with
    * the schema it was written under — a pre-evolution snapshot has no
    * later columns, a pre-delete snapshot still sees the deleted rows, and
    * a pre-compaction snapshot still reads its original files (compaction
    * never deletes them; that is expire-snapshots). */
  def read(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame =
    readInternal(spark, table, snapshotId, Nil)

  /** [[read]] with a COST-BASED broadcast hint (the reference's X7 join
    * strategy analog, driven by ANALYZE statistics instead of a fixed
    * rule): when the scanned snapshot's stats prove the table small — row
    * count × a conservative per-column width under the session's
    * autoBroadcastJoinThreshold — the frame carries an explicit broadcast
    * hint, so joining it against any fact side hash-broadcasts instead of
    * shuffling both sides. The decision is metadata-only (one Puffin stats
    * read, no data IO) and independent of Spark's file-size estimation —
    * which under-serves this reader because the merge-on-read union hides
    * file sizes behind unions/anti-joins. Without stats, or with
    * auto-broadcast disabled (threshold <= 0), this is exactly [[read]]:
    * never guess a table small. */
  def readForJoin(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val df = read(spark, table, snapshotId)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) df
    else tableStats(spark, table, snapshotId) match {
      // divide instead of multiply: a huge/corrupt rowCount would overflow
      // the product negative and pass `<= threshold`, broadcasting an
      // enormous table — the one direction this hint must never err.
      // estimateRowBytes >= 8 (the +8 floor), so the division is safe.
      case Some(st) if st.rowCount >= 0 &&
          st.rowCount <= threshold / estimateRowBytes(df.schema) =>
        org.apache.spark.sql.functions.broadcast(df)
      case _ => df
    }
  }

  /** Conservative in-memory row width for the stats→bytes cost model:
    * fixed widths for numerics, a pessimistic average for
    * strings/binaries. Over-estimating only forgoes a broadcast; the
    * dangerous direction (under-estimate → OOM broadcast) needs a 4×+
    * average string width, at which point the table is not a dim. */
  private def estimateRowBytes(schema: StructType): Long =
    schema.fields.map(_.dataType match {
      case LongType | DoubleType | TimestampType | TimestampNTZType => 8L
      case IntegerType | FloatType | DateType => 4L
      case BooleanType => 1L
      case _: DecimalType => 16L
      case StringType | BinaryType => 32L
      case _ => 64L
    }).sum + 8L

  /** [[read]] with METADATA FILE SKIPPING: data files whose manifest
    * bounds (125/128) cannot intersect every `range` are dropped at plan
    * time — zero data-file IO for the skipped files, which is how a point
    * or range query touches a sliver of a 100 TB table. The ranges are
    * re-applied as a residual row filter, so results are exact even where
    * bounds are missing (pruning keeps such files — sound over-read).
    * Delete files are never pruned: they must subtract from whatever
    * survives. */
  def readPruned(spark: SparkSession, table: String,
      ranges: Seq[ColumnRange], snapshotId: Option[Long] = None): DataFrame =
    readInternal(spark, table, snapshotId, ranges)

  private def readInternal(spark: SparkSession, table: String,
      snapshotId: Option[Long], ranges: Seq[ColumnRange]): DataFrame =
    load(spark, table) match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        val snapOpt = snapshotId match {
          case Some(id) => Some(m.snapshots.find(_.snapshotId == id).getOrElse(
            throw new IllegalArgumentException(s"unknown snapshot id $id")))
          case None =>
            m.currentSnapshotId.flatMap(id => m.snapshots.find(_.snapshotId == id))
        }
        val schema = snapOpt.map(s => m.schemaFor(s.schemaId))
          .getOrElse(m.currentSchema)
        snapOpt match {
          case None =>
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          case Some(snap) =>
            val snapFields = m.schemasById.getOrElse(snap.schemaId, m.fields)
            val spec = specsWithFields(m, snapFields)
            val planned = planFiles(spark, snap.manifestList, spec)
            val dataFiles = planned.filter(_.content == 0)
              .filter(pf => ranges.forall(r =>
                rangeIntersects(pf, r, snapFields) && bucketAdmits(pf, r, spec)))
            val eqDeleteFiles = planned.filter(_.content == 2)
            val posDeleteFiles = planned.filter(_.content == 1)
            val base =
              if (dataFiles.isEmpty)
                spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
              else if (eqDeleteFiles.isEmpty && posDeleteFiles.isEmpty)
                readPlannedData(spark, schema, spec, dataFiles)
              else {
                import org.apache.spark.sql.functions.{broadcast, col, lit}
                import spark.implicits._
                val fieldsById = m.schemasById
                  .getOrElse(snap.schemaId, m.fields).map(f => f.id -> f).toMap
                val seqCol = "__graft_data_seq"
                val fileCol = "__graft_data_file"
                val posCol = "__graft_data_pos"
                // each row's data sequence number — the delete scope rule's
                // left side — comes from a broadcast (file → seq) lookup on
                // the row's _metadata file path, NOT from a per-seq union:
                // a streaming lane holds one sequence number per commit, so
                // grouping the scan by seq would grow the PLAN linearly
                // with commit count (10,000 micro-batches = a 10,000-child
                // union); the lookup keeps the scan a single node at any
                // commit count and the join is a map-side probe of a
                // files-count-sized relation
                val fileKey = "__graft_seq_file"
                val seqPairs = dataFiles.map(f => (metaShapePath(f.path), f.seq))
                  .distinct
                // normalization strips the scheme, so two DISTINCT files
                // (s3://a/x vs /a/x) could collide onto one key and the
                // left join below would silently DUPLICATE their rows
                // with mixed seqs — fail loudly instead, per the same
                // principle as the null-seq raise
                seqPairs.groupBy(_._1).find(_._2.size > 1).foreach { case (k, g) =>
                  throw new IllegalStateException(
                    s"distinct data files normalize to one path '$k' " +
                      s"(seqs ${g.map(_._2).mkString(",")}) — cannot scope deletes")
                }
                val seqLookup = seqPairs.toDF(fileKey, seqCol)
                val data0 = readPlannedData(spark, schema, spec, dataFiles,
                  withCoords = true, fileCol, posCol)
                // LEFT join + raise on a missed lookup: both sides
                // normalize through normPathStr/normPathCol, and any
                // residual divergence (URL-encoded foreign manifests, say)
                // fails the read LOUDLY — an inner join here would make
                // the mismatched rows vanish from every result instead
                import org.apache.spark.sql.functions.{coalesce, concat, raise_error}
                val data = data0.join(broadcast(seqLookup),
                    normPathCol(data0(fileCol)) === seqLookup(fileKey), "left")
                  .withColumn(seqCol, coalesce(col(seqCol),
                    raise_error(concat(
                      lit("data file missing from the manifest seq lookup "
                        + "(path-shape divergence?): "),
                      col(fileCol))).cast("long")))
                  .drop(fileKey)
                // EQUALITY deletes: key applies to STRICTLY SMALLER data
                // seq. All delete files sharing an equality-id set fold
                // into ONE union frame — each file group stamped with its
                // own sequence number as a column — so the scope rule
                // becomes a join predicate and the whole accumulated
                // delete history costs ONE broadcast anti-join, not one
                // per delete commit (a streaming upsert lane commits one
                // delete file per micro-batch: N batches must not stack
                // N joins onto every subsequent read)
                val afterEq = eqDeleteFiles
                  .groupBy(_.eqIds).toSeq.sortBy(_._1.mkString(","))
                  .foldLeft(data) { case (acc, (eqIds, dfs)) =>
                    val eqFields = eqIds.map(id => fieldsById.getOrElse(id,
                      throw new IllegalStateException(
                        s"delete references unknown field id $id")))
                    val delSchema = StructType(eqFields.map(f =>
                      StructField(f.name, sparkType(f.typ))))
                    val delSeqCol = "__graft_del_seq"
                    val del = broadcast(
                      dfs.groupBy(_.seq).toSeq.sortBy(_._1).map {
                        case (dseq, group) =>
                          spark.read.schema(delSchema)
                            .parquet(group.map(_.path): _*)
                            .withColumn(delSeqCol, lit(dseq))
                      }.reduce(_ union _)
                        .select(eqFields.map(f =>
                          col(f.name).as(s"__del_${f.name}")) :+
                          col(delSeqCol): _*))
                    val cond = eqFields.map(f =>
                      acc(f.name) <=> del(s"__del_${f.name}"))
                      .reduce(_ && _) && (del(delSeqCol) > acc(seqCol))
                    acc.join(del, cond, "left_anti")
                  }
                // POSITION deletes: coordinates apply to data seq <= delete
                // seq (spec — they name concrete rows that already
                // existed); same single-anti-join shape
                val afterPos =
                  if (posDeleteFiles.isEmpty) afterEq
                  else {
                    val delSeqCol = "__graft_del_seq"
                    val del = broadcast(
                      posDeleteFiles.groupBy(_.seq).toSeq.sortBy(_._1).map {
                        case (dseq, group) =>
                          spark.read.schema(posDeleteSchema)
                            .parquet(group.map(_.path): _*)
                            .withColumn(delSeqCol, lit(dseq))
                      }.reduce(_ union _)
                        .select(col("file_path").as("__del_file"),
                          col("pos").as("__del_pos"), col(delSeqCol)))
                    val cond =
                      normPathCol(afterEq(fileCol)) ===
                        normPathCol(del("__del_file")) &&
                      afterEq(posCol) === del("__del_pos") &&
                      (del(delSeqCol) >= afterEq(seqCol))
                    afterEq.join(del, cond, "left_anti")
                  }
                afterPos.drop(seqCol, fileCol, posCol)
              }
            // residual row filter: pruning is a file-level OVER-approximation.
            // Timestamp columns take their bound values as epoch µs (the
            // same domain the manifest bounds compare in) — the literal
            // converts to the column's own type here.
            ranges.foldLeft(base) { (acc, r) =>
              import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
              def boundLit(v: Any): org.apache.spark.sql.Column =
                schema.find(_.name == r.column).map(_.dataType) match {
                  case Some(TimestampNTZType) =>
                    timestamp_micros(lit(v).cast("long")).cast(TimestampNTZType)
                  case Some(TimestampType) =>
                    timestamp_micros(lit(v).cast("long"))
                  case _ => lit(v)
                }
              val lo = r.lower.map(v => col(r.column) >= boundLit(v))
              val hi = r.upper.map(v => col(r.column) <= boundLit(v))
              (lo ++ hi).foldLeft(acc)(_ where _)
            }
        }
    }

  /** Read planned DATA files under `schema`, re-attaching identity
    * partition columns — absent from the parquet files by construction
    * (Hive-style staging strips them) — from each file's manifest
    * partition tuple, grouped so one read covers each tuple. With
    * `withCoords`, each row also carries its (file, ordinal) coordinates
    * from the parquet `_metadata` hidden columns (captured at the source
    * read, before any projection). */
  private def readPlannedData(spark: SparkSession, schema: StructType,
      specs: Map[Int, Seq[(PartitionField, Field)]], files: Seq[PlannedFile],
      withCoords: Boolean = false, fileCol: String = "__graft_data_file",
      posCol: String = "__graft_data_pos"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // empty plans short-circuit to an empty frame of the right shape: the
    // groupBy(...).reduce below would throw on an empty file list, and the
    // changelog position-delete path can legitimately plan zero targets
    // when a pos-delete references paths absent from a snapshot's manifests
    if (files.isEmpty) {
      val outSchema =
        if (withCoords) StructType(schema.fields ++ Seq(
          StructField(fileCol, StringType), StructField(posCol, LongType)))
        else schema
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    }
    // only IDENTITY transforms strip their source column from the files
    // (their manifest tuple IS the value); bucket/truncate files keep the
    // source column — the derived staging column is what partitionBy ate.
    // Which columns were stripped depends on each file's OWN spec
    // (partition evolution), so files group by (spec-id, tuple).
    def assemble(df0: DataFrame, pv: Seq[(Int, Any)],
        fldByFieldId: Map[Int, Field]): DataFrame = {
      val withC =
        if (!withCoords) df0
        else df0.withColumn(fileCol, col("_metadata.file_path"))
          .withColumn(posCol, col("_metadata.row_index"))
      val withP = pv.foldLeft(withC) { case (acc, (fieldId, v)) =>
        fldByFieldId.get(fieldId) match {
          case Some(fld) =>
            acc.withColumn(fld.name, lit(v).cast(sparkType(fld.typ)))
          case None => acc // bucket/truncate value: metadata only
        }
      }
      val cols = schema.fieldNames.toSeq ++
        (if (withCoords) Seq(fileCol, posCol) else Nil)
      withP.select(cols.map(col): _*)
    }
    files.groupBy(f => (f.specId, f.partitionValues)).toSeq
      .sortBy { case ((sid, pv), _) =>
        s"$sid|" + pv.map { case (i, v) => s"$i=$v" }.mkString(",") }
      .map { case ((sid, pv), fsOfPart) =>
        val identity = specs.getOrElse(sid, Nil).filter(_._1.isIdentity)
        val partNames = identity.map(_._2.name).toSet
        val fldByFieldId =
          identity.map { case (pf, fld) => pf.fieldId -> fld }.toMap
        val fileSchema =
          StructType(schema.fields.filterNot(f => partNames(f.name)))
        assemble(spark.read.schema(fileSchema)
          .parquet(fsOfPart.map(_.path): _*), pv, fldByFieldId)
      }.reduce(_ unionByName _)
  }

  /** Bucket-transform pruning: a POINT range (lower == upper) on a
    * bucketed source column admits only files whose partition tuple holds
    * that value's bucket — the high-cardinality point-lookup lever
    * (ranges cannot prune buckets: bucket numbers carry no order).
    * Missing/null tuple values or non-point ranges admit (sound). */
  private def bucketAdmits(pfile: PlannedFile, range: ColumnRange,
      specs: Map[Int, Seq[(PartitionField, Field)]]): Boolean = {
    val spec = specs.getOrElse(pfile.specId, Nil)
    val point = (range.lower, range.upper) match {
      case (Some(a), Some(b)) if a == b => Some(a)
      case _ => None
    }
    point match {
      case None => true
      case Some(v) =>
        val pvMap = pfile.partitionValues.toMap
        spec.forall { case (pf, fld) =>
          pf.bucketN match {
            case Some(n) if fld.name == range.column =>
              val expected = (fld.typ, v) match {
                case ("int" | "long", num: Number) =>
                  Some(bucketOf("long", num, n))
                case ("string", s: String) => Some(bucketOf("string", s, n))
                case _ => None
              }
              expected.forall(e => pvMap.get(pf.fieldId) match {
                case Some(actual: Number) => actual.intValue() == e
                case _ => true
              })
            case _ => true
          }
        }
    }
  }

  /** Can `pf` contain rows inside `range`? Missing bounds → yes (keep). */
  private def rangeIntersects(pf: PlannedFile, range: ColumnRange,
      snapFields: Seq[Field]): Boolean = {
    val fld = snapFields.find(_.name == range.column).getOrElse(
      throw new IllegalArgumentException(s"unknown column ${range.column}"))
    val beforeLower = for {
      q <- range.lower; qn <- normalizeValue(fld.typ, q)
      ub <- pf.upper.get(fld.id); fu <- decodeBound(fld.typ, ub)
    } yield cmpBound(fu, qn) < 0 // file's max < query's min
    val afterUpper = for {
      q <- range.upper; qn <- normalizeValue(fld.typ, q)
      lb <- pf.lower.get(fld.id); fl <- decodeBound(fld.typ, lb)
    } yield cmpBound(fl, qn) > 0 // file's min > query's max
    !(beforeLower.getOrElse(false) || afterUpper.getOrElse(false))
  }

  /** INCREMENTAL APPEND SCAN — rows added strictly AFTER `fromSnapshotId`
    * up to `toSnapshotId` (inclusive; default the current snapshot): the
    * CDC-shaped read every downstream consumer of a landed table wants
    * ("give me what arrived since my last checkpoint") without re-scanning
    * the table. Planning is METADATA-ONLY: walk the snapshot lineage
    * `to → … → from`, and for each append snapshot in range read only the
    * manifest entries it ADDED (status=1, entry snapshot_id = that
    * snapshot) — at 100 TB the cost is proportional to the new data, never
    * the table.
    *
    * Semantics mirror Iceberg's incremental append scan:
    *   - `replace` snapshots (compaction) contribute NOTHING — they
    *     re-cluster existing rows; including their files would duplicate.
    *   - a `delete` snapshot in range throws: appended-rows semantics
    *     cannot represent a retraction (Iceberg's appends_between raises
    *     the same way; a changelog scan is a different contract).
    *   - `fromSnapshotId` must be an ancestor of `to` — a snapshot from an
    *     abandoned lineage would silently mis-diff otherwise.
    * Rows are read under the `to` snapshot's schema (old files upcast, like
    * [[read]]). */
  def readIncremental(spark: SparkSession, table: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val m = load(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg table at $table"))
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    val to = toSnapshotId.orElse(m.currentSnapshotId).flatMap(byId.get)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown to-snapshot $toSnapshotId"))
    // lineage walk: to → parents, stopping at from (exclusive)
    var cursor: Option[Snapshot] = Some(to)
    val range = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    while (cursor.exists(_.snapshotId != fromSnapshotId)) {
      val s = cursor.get
      range += s
      cursor = s.parentId.flatMap(byId.get)
      if (cursor.isEmpty && s.parentId.isDefined)
        throw new IllegalStateException(
          s"snapshot ${s.parentId.get} expired mid-lineage; cannot " +
            s"incrementally read from $fromSnapshotId (re-read fully)")
      if (s.parentId.isEmpty && fromSnapshotId != s.snapshotId)
        throw new IllegalArgumentException(
          s"$fromSnapshotId is not an ancestor of ${to.snapshotId}")
    }
    range.find(_.operation == "delete").foreach(s =>
      throw new IllegalStateException(
        s"snapshot ${s.snapshotId} carries deletes; incremental append " +
          "read cannot represent retractions"))
    val appends = range.filter(_.operation == "append").toSeq
    val schema = m.schemaFor(to.schemaId)
    if (appends.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val snapFields = m.schemasById.getOrElse(to.schemaId, m.fields)
    val spec = specsWithFields(m, snapFields)
    // Each append snapshot's OWN manifest list, filtered to the one
    // manifest it added (added_snapshot_id = it). Reading a later
    // snapshot's list instead would be wrong: a replace (compaction) in
    // range drops prior manifests from its list, silently losing an
    // earlier append's files — per-snapshot lists are immutable history.
    val files = appends.flatMap { sn =>
      readAvro(spark, sn.manifestList)._2
        .filter(_.get("added_snapshot_id").asInstanceOf[Long] == sn.snapshotId)
        .flatMap { lm =>
          val sid = lm.get("partition_spec_id") match {
            case i: Integer => i.intValue(); case _ => 0
          }
          readAvro(spark, lm.get("manifest_path").toString)._2
            .map(e => (sid, e))
        }
        .filter { case (_, e) =>
          e.get("status").asInstanceOf[Int] == 1 &&
            e.get("snapshot_id").asInstanceOf[Long] == sn.snapshotId
        }
        .map { case (sid, e) =>
          (sid, e.get("data_file").asInstanceOf[GenericRecord])
        }
        .filter { case (_, d) => (optField(d, "content") match {
          case i: Integer => i.intValue(); case _ => 0
        }) == 0 }
        .map { case (sid, d) =>
          PlannedFile(d.get("file_path").toString, 0L, 0, Nil,
            Map.empty, Map.empty,
            partitionTuple(d, spec.getOrElse(sid, Nil).map(_._1)),
            specId = sid)
        }
    }.groupBy(_.path).map(_._2.head).toSeq
    if (files.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else readPlannedData(spark, schema, spec, files)
  }

  /** CHANGELOG read — the full CDC feed between two snapshots, deletes
    * included (where [[readIncremental]] refuses them): one row per change,
    * with Iceberg-changelog-shaped metadata columns
    * `_change_type` ('insert' | 'delete'), `_change_ordinal` (0-based
    * position of the committing snapshot within the range, oldest first)
    * and `_commit_snapshot_id`.
    *
    *   - append snapshots emit their added rows as inserts;
    *   - delete snapshots emit one 'delete' row per retracted KEY — the
    *     equality-delete file's columns populated, all other columns null.
    *     (Key-level retraction is the equality-delete-native shape; full
    *     pre-images would need the historical join Iceberg's changelog scan
    *     performs — consumers keying their sink on the equality columns,
    *     the normal CDC case, need exactly this.)
    *   - replace (compaction) snapshots emit nothing — they move bytes,
    *     not facts.
    *
    * Metadata-only planning, cost ∝ the changes (same lineage walk and
    * per-snapshot manifest reads as [[readIncremental]]). */
  def readChangelog(spark: SparkSession, table: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame =
    readChangelogFrom(spark, table, Some(fromSnapshotId), toSnapshotId)

  /** [[readChangelog]] with an optional anchor: `from = None` means "since
    * the beginning of retained history" — the root snapshot's own changes
    * included (the initial-load half of a CDC subscription; with an anchor
    * the feed is strictly-after it, as before). */
  def readChangelogFrom(spark: SparkSession, table: String,
      fromSnapshotId: Option[Long], toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val m = load(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg table at $table"))
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    val to = toSnapshotId.orElse(m.currentSnapshotId).flatMap(byId.get)
      .getOrElse(throw new IllegalArgumentException(
        s"unknown to-snapshot $toSnapshotId"))
    var cursor: Option[Snapshot] = Some(to)
    val range = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    while (cursor.exists(s => !fromSnapshotId.contains(s.snapshotId))) {
      val s = cursor.get
      range += s
      cursor = s.parentId.flatMap(byId.get)
      if (cursor.isEmpty && s.parentId.isDefined)
        throw new IllegalStateException(
          s"snapshot ${s.parentId.get} expired mid-lineage; cannot read " +
            s"changelog from $fromSnapshotId")
      if (s.parentId.isEmpty && fromSnapshotId.exists(_ != s.snapshotId))
        throw new IllegalArgumentException(
          s"${fromSnapshotId.get} is not an ancestor of ${to.snapshotId}")
    }
    val schema = m.schemaFor(to.schemaId)
    val chFields = m.schemasById.getOrElse(to.schemaId, m.fields)
    val fieldsById = chFields.map(f => f.id -> f).toMap
    val spec = specsWithFields(m, chFields)
    def meta(df: DataFrame, typ: String, ord: Int, sn: Snapshot): DataFrame =
      df.withColumn("_change_type", lit(typ))
        .withColumn("_change_ordinal", lit(ord))
        .withColumn("_commit_snapshot_id", lit(sn.snapshotId))
        // unlike the per-call ordinal, the commit SEQUENCE NUMBER is
        // table-global and monotone — feeds accumulated across several
        // incremental pulls stay totally ordered by it (what an SCD2
        // fold over a checkpointed CDC sink keys on)
        .withColumn("_commit_sequence_number", lit(sn.sequenceNumber))
    // oldest-first so ordinals read as commit order
    val frames = range.reverse.zipWithIndex.flatMap { case (sn, ord) =>
      def ownFiles(wantContent: Int)
          : Seq[(String, Seq[Int], Seq[(Int, Any)], Int)] =
        readAvro(spark, sn.manifestList)._2
          .filter(_.get("added_snapshot_id").asInstanceOf[Long] == sn.snapshotId)
          .flatMap { lm =>
            val sid = lm.get("partition_spec_id") match {
              case i: Integer => i.intValue(); case _ => 0
            }
            readAvro(spark, lm.get("manifest_path").toString)._2
              .map(e => (sid, e))
          }
          .filter { case (_, e) =>
            e.get("status").asInstanceOf[Int] == 1 &&
              e.get("snapshot_id").asInstanceOf[Long] == sn.snapshotId
          }
          .map { case (sid, e) =>
            (sid, e.get("data_file").asInstanceOf[GenericRecord])
          }
          .filter { case (_, d) => (optField(d, "content") match {
            case i: Integer => i.intValue(); case _ => 0
          }) == wantContent }
          .map { case (sid, d) =>
            val eq = optField(d, "equality_ids") match {
              case l: java.util.List[_] =>
                l.asScala.map(_.asInstanceOf[Int]).toSeq
              case _ => Nil
            }
            (d.get("file_path").toString, eq,
              partitionTuple(d, spec.getOrElse(sid, Nil).map(_._1)), sid)
          }
      def insertFrames: Seq[DataFrame] = {
        val fs = ownFiles(0).map(t => PlannedFile(t._1, 0L, 0, Nil,
          Map.empty, Map.empty, t._3, specId = t._4))
        if (fs.isEmpty) Nil
        else Seq(meta(readPlannedData(spark, schema, spec, fs),
          "insert", ord, sn))
      }
      def deleteFrames: Seq[DataFrame] = {
          val eqFrames = ownFiles(2).groupBy(_._2).toSeq.map { case (eqIds, fsOfKey) =>
            val eqFields = eqIds.map(id => fieldsById.getOrElse(id,
              throw new IllegalStateException(
                s"delete references unknown field id $id")))
            val delSchema = StructType(eqFields.map(f =>
              StructField(f.name, sparkType(f.typ))))
            val keys = spark.read.schema(delSchema)
              .parquet(fsOfKey.map(_._1): _*)
            // conform to the full schema: non-key columns null
            val padded = keys.select(schema.fieldNames.toSeq.map { n =>
              if (delSchema.fieldNames.contains(n)) col(n)
              else lit(null).cast(schema(n).dataType).as(n)
            }: _*)
            meta(padded, "delete", ord, sn)
          }
          // POSITION deletes name concrete rows, so the changelog can emit
          // FULL pre-images (equality deletes above can only pad the key):
          // read just the referenced data files, semi-join on (file, pos).
          // Cost ∝ files the delete touched, not the table. Target files'
          // partition tuples come from the delete snapshot's own manifest
          // list (a delete commit carries prior manifests forward).
          val posFiles = ownFiles(1).map(_._1)
          val posFrames =
            if (posFiles.isEmpty) Nil
            else {
              import org.apache.spark.sql.functions.broadcast
              val tuples = spark.read.schema(posDeleteSchema)
                .parquet(posFiles: _*)
              // shape-domain resolution: THIS writer's pos-delete tuples
              // hold `_metadata`-harvested (URI-encoded) paths; a foreign
              // writer's hold the manifest's literal shape. Per planned
              // file, BOTH spec-legal shapes key onto ONE canonical (its
              // _metadata shape), so either tuple dialect resolves its
              // target — raw comparison would silently emit zero
              // pre-images; a cross-file key collision refuses loudly
              val dataFiles0 = planFiles(spark, sn.manifestList, spec)
                .filter(_.content == 0)
              val canonPairs = dataFiles0.flatMap { p =>
                val canon = metaShapePath(p.path)
                Seq(normPathStr(p.path) -> canon, canon -> canon)
              }.distinct
              canonPairs.groupBy(_._1)
                .find(_._2.map(_._2).distinct.size > 1).foreach {
                  case (k, g) => throw new IllegalStateException(
                    s"distinct data files normalize to one path '$k' " +
                      s"(${g.map(_._2).mkString(", ")}) — cannot resolve " +
                      "position-delete targets")
                }
              val canonOf = canonPairs.toMap
              val targets = tuples.select(col("file_path")).distinct()
                .collect().map(r => normPathStr(r.getString(0)))
                .flatMap(canonOf.get).toSet
              if (targets.isEmpty) Nil
              else {
                val targetFiles =
                  dataFiles0.filter(p => targets(metaShapePath(p.path)))
                val pre0 = readPlannedData(spark, schema, spec, targetFiles,
                  withCoords = true, "__file", "__pos")
                import spark.implicits._
                // tuples of either dialect map through the same canon
                // lookup; ones naming files absent from the snapshot
                // drop (spec-legal: the file may be gone by now)
                val lookup = broadcast(
                  canonPairs.toDF("__dkey", "__dfile"))
                val tup = broadcast(tuples.select(
                    normPathCol(col("file_path")).as("__dkey"),
                    col("pos").as("__dpos"))
                  .join(lookup, Seq("__dkey")).drop("__dkey"))
                val pre = pre0.join(tup,
                    normPathCol(pre0("__file")) === tup("__dfile") &&
                      pre0("__pos") === tup("__dpos"), "left_semi")
                  .drop("__file", "__pos")
                Seq(meta(pre, "delete", ord, sn))
              }
            }
          eqFrames ++ posFrames
      }
      sn.operation match {
        case "append" => insertFrames
        case "delete" => deleteFrames
        // a ROW DELTA (upsertAtomic): the snapshot's own equality-delete
        // half retracts, its data half inserts — both surface, deletes
        // first (same ordinal; an SCD2 fold's same-ordinal law closes the
        // prior version, never the delta's own insert). A dynamic
        // PARTITION overwrite also lands here: its inserts surface; the
        // replaced rows vanish by manifest rewrite (no delete file), so
        // their retraction is visible to scans, not the changelog —
        // documented on overwritePartitions
        case "overwrite" => deleteFrames ++ insertFrames
        case _ => Nil // replace: bytes moved, no facts changed
      }
    }
    val metaSchema = StructType(schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_change_ordinal", IntegerType),
      StructField("_commit_snapshot_id", LongType),
      StructField("_commit_sequence_number", LongType)))
    if (frames.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), metaSchema)
    else frames.reduce(_ unionByName _)
  }

  /** Metadata-only scan estimate for a (possibly pruned) read — the
    * sink-side analog of the engine's `EXPLAIN` cost lines (reference
    * `server.go:929-962` prints candidate segment counts + byte sums the
    * same way): planned vs pruned data files/bytes/rows and the delete
    * files a merge-on-read scan would apply, computed WITHOUT touching a
    * data file. */
  /** ANALYZE TABLE (spec: statistics files): ONE pass over the
    * current snapshot computes the row count plus per-column NDV estimates
    * (Spark's mergeable HLL++, the scale-correct sketch) and null counts,
    * lands them as a PUFFIN file (spec framing; documented custom
    * `graft-ndv-json-v1` blobs where Iceberg proper writes
    * `apache-datasketches-theta-v1`), and commits the entry metadata-only.
    * Re-analyzing a snapshot REPLACES its entry (commit-then-delete: the
    * old file is removed only after the new metadata version wins).
    * Readers get the numbers through [[tableStats]] / [[explainScan]]
    * without touching a data file. */
  def analyze(spark: SparkSession, table: String,
      columns: Seq[String] = Nil, maxRetries: Int = 5): Unit = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit, sum, when}
    val m0 = load(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no Iceberg table at $table"))
    val snapId = m0.currentSnapshotId.getOrElse(
      throw new IllegalArgumentException("table has no snapshot to analyze"))
    val df = read(spark, table)
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val bad = cols.filterNot(df.columns.contains)
    require(bad.isEmpty, s"unknown columns ${bad.mkString(",")}")
    val aggs = count(lit(1)).as("_rows") +: cols.flatMap(c => Seq(
      approx_count_distinct(col(c)).as(s"_ndv_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // statistics land as a PUFFIN file (spec: statistics files point at
    // Puffin): one blob per analyzed column under the documented custom
    // type graft-ndv-json-v1, with the NDV mirrored into blob properties
    // the way theta blobs do, so external readers get the estimates from
    // the table metadata alone — no payload decode needed.
    val snapSeq = m0.snapshots.find(_.snapshotId == snapId)
      .map(_.sequenceNumber).getOrElse(0L)
    val idByName = m0.fields.map(fl => fl.name -> fl.id).toMap
    val rowCount = row.getAs[Long]("_rows")
    val blobs = cols.map { c =>
      val ndv = row.getAs[Long](s"_ndv_$c")
      val nulls =
        Option(row.getAs[Any](s"_nulls_$c")).fold(0L)(_.asInstanceOf[Long])
      Puffin.Blob(Puffin.NdvBlobType, Seq(idByName(c)), snapId, snapSeq,
        mapper.writeValueAsBytes(mapper.createObjectNode()
          .put("ndv", ndv).put("null-count", nulls)),
        Map("ndv" -> ndv.toString, "null-count" -> nulls.toString))
    }
    val written = Puffin.write(blobs,
      Map("created-by" -> "graft", "row-count" -> rowCount.toString))
    val path = new HPath(metadataDir(table),
      s"stats-$snapId-${UUID.randomUUID()}.puffin")
    val f = fs(path)
    val out = f.create(path, true)
    try out.write(written.bytes) finally out.close()
    val size = f.getFileStatus(path).getLen
    val stale = m0.statistics.filter(_.snapshotId == snapId).map(_.path)
    commitMetadataOnly(spark, table, maxRetries) { m =>
      Some(m.copy(statistics = m.statistics.filterNot(_.snapshotId == snapId)
        :+ StatsFile(snapId, path.toString, size, written.footerSize.toLong,
          blobs.map(b => StatsBlobMeta(b.blobType, b.fields, b.snapshotId,
            b.sequenceNumber, b.properties)))))
    }
    stale.foreach(p => f.delete(new HPath(p), false))
  }

  /** The stats payload for a snapshot (default: current), if that exact
    * snapshot was analyzed. No nearest-ancestor fallback — stats describe
    * one immutable snapshot; serving a parent's numbers for a child would
    * quietly misestimate every append. */
  def tableStats(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None): Option[TableStats] =
    load(spark, table).flatMap(m => statsFor(m, snapshotId))

  private def statsFor(m: TableMeta, snapshotId: Option[Long])
      : Option[TableStats] = {
    val sid = snapshotId.orElse(m.currentSnapshotId)
    m.statistics.find(st => sid.contains(st.snapshotId)).flatMap { st =>
      val p = new HPath(st.path)
      val in = fs(p).open(p)
      val bytes = try in.readAllBytes() finally in.close()
      if (bytes.length >= 4 && bytes.startsWith(Puffin.Magic)) {
        val (blobs, props) = Puffin.read(bytes)
        val nameById = m.fields.map(f => f.id -> f.name).toMap
        val columns = blobs.filter(_.blobType == Puffin.NdvBlobType).flatMap {
          b =>
            val n = mapper.readTree(b.payload)
            b.fields.headOption.flatMap(nameById.get).map(
              _ -> ColumnStats(n.path("ndv").asLong(),
                n.path("null-count").asLong()))
        }.toMap
        // an absent row-count means a foreign writer we don't understand:
        // UNKNOWN size, not size zero — a zero here would flow into
        // readForJoin's cost check and "prove" any table broadcastable
        props.get("row-count").map(rc => TableStats(rc.toLong, columns))
      } else {
        // pre-Puffin stats file (the r11 JSON payload): tables analyzed
        // before the framing change keep serving stats until re-analyzed
        // instead of crashing every metadata read
        val n = mapper.readTree(bytes)
        if (!n.has("row-count")) None
        else Some(TableStats(n.path("row-count").asLong(),
          n.path("columns").properties().asScala.map(e =>
            e.getKey -> ColumnStats(e.getValue.path("ndv").asLong(),
              e.getValue.path("null-count").asLong())).toMap))
      }
    }
  }

  final case class ScanSummary(snapshotId: Long,
      dataFiles: Int, dataBytes: Long, dataRecords: Long,
      prunedFiles: Int, prunedBytes: Long,
      eqDeleteFiles: Int, posDeleteFiles: Int,
      /** The table's declared default write order (empty = unsorted):
        * ranges on these columns prune tightly because clustered files
        * carry disjoint bounds. */
      writeOrder: Seq[String] = Nil,
      /** Per-column NDV estimates from the scanned snapshot's statistics
        * file, when one exists (empty otherwise) — the numbers a
        * cost-based join planner keys on. */
      ndv: Map[String, Long] = Map.empty) {
    def render: String =
      s"IcebergScan[snapshot=$snapshotId files=$dataFiles " +
        s"bytes=$dataBytes rows~$dataRecords pruned=$prunedFiles " +
        s"prunedBytes=$prunedBytes eqDeletes=$eqDeleteFiles " +
        s"posDeletes=$posDeleteFiles" +
        (if (writeOrder.isEmpty) "" else
          s" writeOrder=${writeOrder.mkString(",")}") +
        (if (ndv.isEmpty) "" else
          s" ndv=${ndv.toSeq.sortBy(_._1)
            .map { case (c, n) => s"$c:$n" }.mkString(",")}") + "]"
  }

  /** [[ScanSummary]] for the current (or a named) snapshot under the
    * given pruning ranges. None when the table/snapshot is empty. */
  def explainScan(spark: SparkSession, table: String,
      ranges: Seq[ColumnRange] = Nil,
      snapshotId: Option[Long] = None): Option[ScanSummary] =
    load(spark, table).flatMap { m =>
      val snapOpt = snapshotId match {
        case Some(id) => m.snapshots.find(_.snapshotId == id)
        case None =>
          m.currentSnapshotId.flatMap(id => m.snapshots.find(_.snapshotId == id))
      }
      snapOpt.map { snap =>
        val snapFields = m.schemasById.getOrElse(snap.schemaId, m.fields)
        val spec = specsWithFields(m, snapFields)
        val planned = planFiles(spark, snap.manifestList, spec)
        val data = planned.filter(_.content == 0)
        val (kept, pruned) = data.partition(pf => ranges.forall(r =>
          rangeIntersects(pf, r, snapFields) && bucketAdmits(pf, r, spec)))
        ScanSummary(snap.snapshotId,
          kept.size, kept.map(_.sizeBytes).sum, kept.map(_.records).sum,
          pruned.size, pruned.map(_.sizeBytes).sum,
          planned.count(_.content == 2), planned.count(_.content == 1),
          writeOrder = m.writeOrderColumns,
          ndv = statsFor(m, Some(snap.snapshotId))
            .map(_.columns.map { case (c, s) => c -> s.ndv })
            .getOrElse(Map.empty))
      }
    }

  /** Iceberg METADATA TABLES (spec: `SELECT * FROM tbl.snapshots` /
    * `.files` / `.history` / `.manifests`) as DataFrames — the table
    * introspecting itself, metadata-only at any data size:
    *
    *   - `snapshots`: one row per retained snapshot (id, parent, sequence
    *     number, operation, added files/records, schema id, committed-at).
    *   - `history`: the snapshot log with `is_current_ancestor` — whether
    *     the row is on the current snapshot's parent chain (rolled-back /
    *     expired-parent commits show false).
    *   - `manifests`: the current snapshot's manifest list, verbatim
    *     spec fields (content 0=data 1=deletes, counts).
    *   - `files`: live files of the current snapshot — content,
    *     record_count, partition values rendered as a `map<string,string>`
    *     keyed by the spec's partition field names.
    *   - `partitions`: per live partition tuple — record/file counts,
    *     total bytes, and per-column lower/upper bounds folded across the
    *     partition's files (decoded, rendered as strings) — all from
    *     manifests, zero data IO.
    */
  def metadataTable(spark: SparkSession, table: String, name: String)
      : DataFrame = {
    import spark.implicits._
    val m = load(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no such table: $table"))
    lazy val snapOpt =
      m.currentSnapshotId.flatMap(id => m.snapshots.find(_.snapshotId == id))
    name match {
      case "snapshots" =>
        m.snapshots.map(s => (s.snapshotId, s.parentId, s.sequenceNumber,
          s.operation, s.addedFiles, s.addedRecords, s.schemaId,
          s.timestampMs))
          .toDF("snapshot_id", "parent_id", "sequence_number", "operation",
            "added_files", "added_records", "schema_id", "committed_at_ms")
      case "history" =>
        val ancestry = Iterator.iterate(snapOpt)(s =>
          s.flatMap(_.parentId).flatMap(id =>
            m.snapshots.find(_.snapshotId == id)))
          .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSet
        m.snapshots.map(s => (s.snapshotId, s.parentId,
          ancestry.contains(s.snapshotId)))
          .toDF("snapshot_id", "parent_id", "is_current_ancestor")
      case "manifests" =>
        val rows = snapOpt.toSeq.flatMap(s =>
          readAvro(spark, s.manifestList)._2.map { lm =>
            (lm.get("manifest_path").toString,
              lm.get("content").asInstanceOf[Int],
              lm.get("sequence_number").asInstanceOf[Long],
              lm.get("added_snapshot_id").asInstanceOf[Long],
              lm.get("added_files_count").asInstanceOf[Int],
              lm.get("existing_files_count").asInstanceOf[Int],
              lm.get("deleted_files_count").asInstanceOf[Int],
              lm.get("added_rows_count").asInstanceOf[Long])
          })
        rows.toDF("path", "content", "sequence_number", "added_snapshot_id",
          "added_files_count", "existing_files_count", "deleted_files_count",
          "added_rows_count")
      case "files" =>
        val spec = specsWithFields(m, m.fields)
        val byId = spec.values.flatten
          .map { case (pf, _) => pf.fieldId -> pf.name }.toMap
        val rows = snapOpt.toSeq
          .flatMap(s => planFiles(spark, s.manifestList, spec))
          .map(pf => (pf.path, pf.content, pf.records,
            pf.partitionValues.map { case (fid, v) =>
              byId.getOrElse(fid, fid.toString) ->
                (if (v == null) null else v.toString)
            }.toMap))
        rows.toDF("file_path", "content", "record_count", "partition")
      case "partitions" =>
        // Iceberg's `$partitions`: per live partition tuple, record/file
        // counts, byte totals, and the column bounds FOLDED across the
        // partition's files (decoded per the field type, rendered as
        // strings) — the per-partition min/max any planner or ops console
        // asks for, answered from MANIFESTS ONLY: zero data IO at any
        // table size, and e41 hash-proves the stats against the data
        // they claim to describe
        val spec = specsWithFields(m, m.fields)
        val byId = spec.values.flatten
          .map { case (pf, _) => pf.fieldId -> pf.name }.toMap
        val typById = m.fields.map(f => f.id -> (f.name, f.typ)).toMap
        val files = snapOpt.toSeq
          .flatMap(s => planFiles(spark, s.manifestList, spec))
          .filter(_.content == 0)
        def decoded(bounds: Map[Int, Array[Byte]]): Seq[(String, Any)] =
          bounds.toSeq.flatMap { case (fid, bytes) =>
            typById.get(fid).flatMap { case (nm, typ) =>
              decodeBound(typ, bytes).map(nm -> _)
            }
          }
        def fold(sides: Seq[Seq[(String, Any)]], keepLower: Boolean)
            : Map[String, String] =
          sides.flatten.groupBy(_._1).view.mapValues(vs =>
            vs.map(_._2).reduce((a, b) =>
              if ((cmpBound(a, b) <= 0) == keepLower) a else b).toString)
            .toMap
        val rows = files.groupBy(pf =>
          pf.partitionValues.map { case (fid, v) =>
            byId.getOrElse(fid, fid.toString) ->
              (if (v == null) null else v.toString)
          }.toMap)
          .toSeq
          .map { case (part, fs) =>
            (part, fs.map(_.records).sum, fs.size.toLong,
              fs.map(_.sizeBytes).sum,
              fold(fs.map(f => decoded(f.lower)), keepLower = true),
              fold(fs.map(f => decoded(f.upper)), keepLower = false))
          }
        rows.toDF("partition", "record_count", "file_count",
          "total_size_bytes", "lower_bounds", "upper_bounds")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table: $other " +
          "(snapshots|history|manifests|files|partitions)")
    }
  }

  /** Total DATA records according to MANIFEST STATS only (no data read) —
    * the kind of metadata-only query Iceberg serves from the snapshot
    * summary. Delete manifests are excluded; pending equality deletes make
    * this an upper bound until [[compact]] materializes them (exact again
    * afterwards), same as Iceberg's own `total-records` summary. */
  def statsRecordCount(spark: SparkSession, table: String): Long =
    load(spark, table).flatMap { m =>
      m.currentSnapshotId.flatMap(id => m.snapshots.find(_.snapshotId == id))
        .map { snap =>
          readAvro(spark, snap.manifestList)._2
            .filter(_.get("content").asInstanceOf[Int] == 0)
            .map(_.get("added_rows_count").asInstanceOf[Long]).sum
        }
    }.getOrElse(0L)
}

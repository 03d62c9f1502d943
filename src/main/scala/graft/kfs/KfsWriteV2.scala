package graft.kfs

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DataSource V2 KFS batch WRITER — bulk backfill/export INTO the segment
  * log format (beyond-reference superset: the reference only writes KFS
  * from its broker ingest path, `pkg/storage/log.go`; this lets a Spark
  * job materialize a KFS estate directly, e.g. re-partitioning an existing
  * corpus into a consumable log):
  *
  * {{{
  * df.select($"_topic", $"_partition", $"_offset", $"_ts_ms", $"_key", $"_value")
  *   .write.format("kfs").mode("append").option("path", root).save()
  * }}}
  *
  * Spark-native at 100 TB by construction:
  *
  *   - [[RequiresDistributionAndOrdering]] asks the engine for a
  *     distribution CLUSTERED on (_topic, _partition) and a task-local
  *     sort on (_topic, _partition, _offset) — Catalyst plans the one
  *     shuffle + per-task sort, so every log partition arrives whole and
  *     ordered at exactly one writer task; no writer-side buffering of
  *     foreign partitions, no cross-task offset races.
  *   - Tasks stream records into size-capped segments
  *     (`max_records_per_segment`) with the atomic sidecar-first publish
  *     of [[KfsLayout.writeSegment]] — a concurrent reader never sees a
  *     torn segment, and a retried/speculative attempt re-renames the
  *     identical bytes (same records → same file name and content).
  *   - COMMIT is the manifest flip: tasks report their [[KfsLayout.SegmentRef]]s
  *     to the driver, which merges them with each partition's existing
  *     manifest, validates offset ranges don't overlap, and publishes the
  *     next manifest generation (`_manifest/{gen}.json`, renamed to a fresh
  *     name, never over the old one) — manifest-based readers observe the
  *     write only after commit (walk-based discovery may see completed
  *     segments earlier; the manifest is the transactional view, mirroring
  *     the reference where the broker's upload precedes index visibility).
  *
  * The log is APPEND-ONLY (reference semantics): only `mode("append")` is
  * supported, offsets must be strictly increasing per partition — dense
  * unless `require_dense=false` — and must not overlap previously
  * committed segments.
  */
class KfsWriteBuilder(root: String, schema: StructType,
    options: Map[String, String]) extends WriteBuilder {
  override def build(): Write = new KfsWrite(root, schema, options)
}

class KfsWrite(root: String, schema: StructType, options: Map[String, String])
    extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(
      Expressions.identity("_topic"), Expressions.identity("_partition")))

  override def requiredOrdering(): Array[SortOrder] =
    Array("_topic", "_partition", "_offset").map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

  override def toBatch: BatchWrite =
    new KfsBatchWrite(root, KfsWriteV2.fieldIndexes(schema), options,
      new SerializableHadoopConf(KfsLayout.hadoopConf))

  override def description(): String = s"KfsWrite[$root]"
}

object KfsWriteV2 {
  /** Resolved input-column positions; -1 = absent optional column. */
  final case class FieldIdx(topic: Int, partition: Int, offset: Int,
      tsMs: Int, key: Int, value: Int, headers: Int) extends Serializable

  private val Expected: Map[String, DataType] = Map(
    "_topic" -> StringType, "_partition" -> IntegerType,
    "_offset" -> LongType, "_ts_ms" -> LongType,
    "_key" -> BinaryType, "_value" -> BinaryType,
    "_headers" -> MapType(StringType, StringType),
    // accepted and ignored: derivable/read-only metadata columns, so a
    // read-side frame can round-trip without dropping them first
    "_ts" -> TimestampNTZType, "_segment" -> StringType)

  def fieldIndexes(schema: StructType): FieldIdx = {
    // nullability flags don't change the encoded bytes — a
    // map<string,string> built from literals arrives valueContainsNull=false
    def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
      case (MapType(ak, av, _), MapType(bk, bv, _)) =>
        sameType(ak, bk) && sameType(av, bv)
      case _ => a == b
    }
    schema.fields.foreach { f =>
      Expected.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"kfs write: unknown column '${f.name}' " +
            s"(writable: ${Expected.keys.toSeq.sorted.mkString(", ")})")
        case Some(t) if !sameType(f.dataType, t) =>
          throw new IllegalArgumentException(
            s"kfs write: column '${f.name}' must be $t, got ${f.dataType}")
        case _ =>
      }
    }
    def req(n: String): Int = {
      val i = schema.fieldIndex(n)
      i // fieldIndex throws if missing
    }
    def opt(n: String): Int =
      if (schema.fieldNames.contains(n)) schema.fieldIndex(n) else -1
    try FieldIdx(req("_topic"), req("_partition"), req("_offset"),
      req("_ts_ms"), opt("_key"), req("_value"), opt("_headers"))
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        "kfs write requires columns _topic, _partition, _offset, _ts_ms, " +
          s"_value (optional: _key, _headers): ${e.getMessage}")
    }
  }
}

final case class KfsCommitMessage(refs: Seq[KfsLayout.SegmentRef])
    extends WriterCommitMessage

class KfsBatchWrite(root: String, idx: KfsWriteV2.FieldIdx,
    options: Map[String, String], conf: SerializableHadoopConf)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    val maxRecords =
      options.getOrElse("max_records_per_segment", "100000").toInt
    val batchRecords = options.getOrElse("batch_records", "500").toInt
    val requireDense = options.getOrElse("require_dense", "true").toBoolean
    // per-batch codec (none|gzip|snappy|lz4|zstd) — superset of the
    // reference, whose decoder rejects compressed batches; readers opt in
    // with `allow_compressed=true`. Resolved + availability-checked at
    // PLAN time so a missing codec jar fails the job before tasks launch.
    val compression =
      KfsCompression.forName(options.getOrElse("compression", "none"))
    require(KfsCompression.supported(compression),
      s"compression codec ${KfsCompression.name(compression)} not on classpath")
    require(maxRecords > 0 && batchRecords > 0,
      "max_records_per_segment and batch_records must be positive")
    new KfsWriterFactory(root, idx, maxRecords, batchRecords, requireDense,
      conf, compression)
  }

  /** Merge task refs into each partition's manifest and publish. Existing
    * refs are re-read through the manifest (LIST fallback already sees the
    * just-written files, so merging dedupes by path), then offset ranges
    * are validated disjoint before the atomic manifest flip. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newRefs = messages.flatMap {
      case KfsCommitMessage(refs) => refs
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    newRefs.groupBy(r => (r.topic, r.partition)).foreach {
      case ((topic, partition), refs) =>
        val newPaths = refs.map(_.path).toSet
        val existing = KfsLayout.listFromManifest(root, topic, partition)
          .filterNot(r => newPaths.contains(r.path))
        val merged = (existing ++ refs).sortBy(_.baseOffset)
        merged.sliding(2).foreach {
          case Seq(a, b) if b.baseOffset <= a.lastOffset =>
            throw new IllegalStateException(
              s"kfs write: offset overlap in $topic/$partition: " +
                s"[${a.baseOffset},${a.lastOffset}] vs " +
                s"[${b.baseOffset},${b.lastOffset}]")
          case _ =>
        }
        KfsLayout.writeManifest(root, topic, partition, merged,
          conf.value)
    }
    KfsLayout.invalidateDiscoveryCache(root)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case KfsCommitMessage(refs) => refs.foreach { r =>
        val p = new HPath(r.path)
        val fs = p.getFileSystem(conf.value)
        fs.delete(p, false)
        fs.delete(new HPath(r.path + ".kfst"), false)
        fs.delete(new HPath(r.path + ".kfsb"), false)
      }
      case _ =>
    }
    KfsLayout.invalidateDiscoveryCache(root)
  }
}

class KfsWriterFactory(root: String, idx: KfsWriteV2.FieldIdx,
    maxRecords: Int, batchRecords: Int, requireDense: Boolean,
    conf: SerializableHadoopConf, compression: Int = KfsCompression.None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new KfsDataWriter(root, idx, maxRecords, batchRecords, requireDense,
      conf, compression)
}

/** Streams clustered, offset-ordered rows into segments. Group changes
  * (the engine-enforced ordering makes each (topic, partition) contiguous)
  * and the record cap both flush a segment; refs accumulate for the
  * task's commit message. */
class KfsDataWriter(root: String, idx: KfsWriteV2.FieldIdx,
    maxRecords: Int, batchRecords: Int, requireDense: Boolean,
    conf: SerializableHadoopConf, compression: Int = KfsCompression.None)
    extends DataWriter[InternalRow] {

  private val refs = ArrayBuffer.empty[KfsLayout.SegmentRef]
  private val buf = ArrayBuffer.empty[KfsCodec.Record]
  private var curTopic: String = null
  private var curPartition: Int = -1
  private var lastOffset = Long.MinValue
  // committed offset ranges of the current (topic, partition): every
  // incoming offset is checked against them BEFORE any file is written —
  // a colliding baseOffset would otherwise clobber an existing segment at
  // task time, ahead of the commit-time validation
  private var committed: Seq[(Long, Long)] = Nil

  override def write(row: InternalRow): Unit = {
    require(!row.isNullAt(idx.topic) && !row.isNullAt(idx.partition) &&
      !row.isNullAt(idx.offset) && !row.isNullAt(idx.tsMs),
      "kfs write: _topic/_partition/_offset/_ts_ms must be non-null")
    val topic = row.getUTF8String(idx.topic).toString
    val partition = row.getInt(idx.partition)
    if (topic != curTopic || partition != curPartition) {
      flush()
      curTopic = topic
      curPartition = partition
      lastOffset = Long.MinValue
      committed = KfsLayout.readManifestRefs(root, topic, partition,
        conf.value).getOrElse(Nil).map(r => (r.baseOffset, r.lastOffset))
    }
    val offset = row.getLong(idx.offset)
    committed.foreach { case (lo, hi) =>
      require(offset < lo || offset > hi,
        s"kfs write: offset $offset already committed in " +
          s"$curTopic/$curPartition (segment [$lo,$hi]); the log is " +
          "append-only")
    }
    if (lastOffset != Long.MinValue) {
      require(offset > lastOffset,
        s"kfs write: offsets must be strictly increasing in " +
          s"$topic/$partition: $offset after $lastOffset")
      require(!requireDense || offset == lastOffset + 1,
        s"kfs write: offset gap in $topic/$partition ($lastOffset -> " +
          s"$offset); dense offsets are required unless require_dense=false")
    }
    lastOffset = offset
    val key =
      if (idx.key < 0 || row.isNullAt(idx.key)) null
      else row.getBinary(idx.key)
    val value = if (row.isNullAt(idx.value)) null else row.getBinary(idx.value)
    val headers: Seq[KfsCodec.Header] =
      if (idx.headers < 0 || row.isNullAt(idx.headers)) Nil
      else {
        val m = row.getMap(idx.headers)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements()).map { i =>
          KfsCodec.Header(ks.getUTF8String(i).toString,
            if (vs.isNullAt(i)) null else vs.getUTF8String(i).getBytes)
        }
      }
    buf += KfsCodec.Record(offset, row.getLong(idx.tsMs), key, value, headers)
    if (buf.length >= maxRecords) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    refs += KfsLayout.writeSegment(root, curTopic, curPartition, buf.toSeq,
      batchRecords, conf.value, compression)
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    KfsCommitMessage(refs.toSeq)
  }

  override def abort(): Unit = {
    refs.foreach { r =>
      val p = new HPath(r.path)
      val fs = p.getFileSystem(conf.value)
      fs.delete(p, false)
      fs.delete(new HPath(r.path + ".kfst"), false)
      fs.delete(new HPath(r.path + ".kfsb"), false)
    }
  }

  override def close(): Unit = ()
}

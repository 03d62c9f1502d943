package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.kafsql.{SchemaCol, TopicRegistry}

/** Continuous ETL pipeline — the iceberg-processor equivalent (SURVEY §3.3)
  * on Structured Streaming:
  *
  *   segments → decode → validate (off/lenient/strict) → schema-on-read
  *   extraction → table sink, with exactly-once-ish progress from the
  *   stream checkpoint (replaces the reference's etcd offsets+leases,
  *   `processor.go:109-250`) plus offset-dedup in the sink for idempotent
  *   replay (`processor.go:252-264`).
  *
  * Every lane reads the KFS segment log through ONE source, the DSv2
  * micro-batch stream `kfs` ([[graft.kfs.KfsMicroBatchStream]]), which
  * admits only END!-complete segments (matching St2), streams each one
  * batch-at-a-time over Hadoop FileSystem (never a whole segment in task
  * memory) and bounds a micro-batch with `max_segments_per_trigger`.
  * `Trigger.AvailableNow` reproduces the poll-drain cadence; swap for
  * `ProcessingTime(5s)` for the reference's default loop. Work
  * distribution: Spark task scheduling replaces per-partition etcd leases
  * (St4).
  */
object Pipeline {

  /** Validation modes (processor.go:283-301 + schema/schema.go:34-120):
    * off = passthrough; lenient = drop invalid records; strict = abort the
    * batch on any invalid record. A record is valid when every required
    * schema column extracts non-NULL with its declared type. */
  sealed trait Validation
  case object Off extends Validation
  case object Lenient extends Validation
  case object Strict extends Validation

  /** SUPERSET of the reference's drop-and-count (`processor.go:209-215`
    * only increments an `invalid` metric): invalid records land in a
    * DEAD-LETTER table — the seven decoded log columns plus `missing`,
    * the comma-joined required columns that failed to extract — instead
    * of vanishing. Crash-replays never double a quarantined record: under
    * a checkpointed run each batch's DLQ files are tagged with the
    * checkpoint's identity and batch id, so a replay replaces its own
    * files (the DLQ twin of the main sink's snapshot txn markers); any
    * other DLQ falls back to the main sink's log-coordinate offset-dedup.
    * Re-ingesting a fixed payload later is a plain re-produce. */
  final case class DeadLetter(dlqPath: String) extends Validation

  /** Sink table format: plain parquet directory ([[TableSink]]) or the
    * real Iceberg v2 layout ([[IcebergSink]]) — with Iceberg, EVERY
    * micro-batch commit becomes a snapshot, which is exactly the
    * reference's streaming Kafka→Iceberg cadence (its processor appends
    * one Iceberg commit per drained poll). */
  sealed trait SinkFormat
  case object ParquetDir extends SinkFormat
  case object IcebergV2 extends SinkFormat

  final class ValidationException(n: Long)
    extends RuntimeException(s"strict validation failed: $n invalid records")

  /** The decoded log record stream every lane reads: the seven log
    * columns from the DSv2 `kfs` source, at most `maxSegmentsPerTrigger`
    * segments per micro-batch. */
  private[etl] def logStream(spark: SparkSession, kfsRoot: String,
      maxSegmentsPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("kfs").option("path", kfsRoot)
    maxSegmentsPerTrigger.foreach(n =>
      reader.option("max_segments_per_trigger", n.toString))
    reader.load().select(col("_topic"), col("_partition"), col("_offset"),
      col("_ts_ms"), col("_key"), col("_value"), col("_headers"))
  }

  /** Run the pipeline with columns + validation derived from a JSON-Schema
    * document (the registry-driven schema source, `iceberg.go:779-828`):
    * integer→long, number→double, boolean, string; only the document's
    * `required` properties gate validity. */
  def runWithSchemaDoc(
      spark: SparkSession,
      kfsRoot: String,
      tablePath: String,
      checkpointDir: String,
      schemaJson: String,
      validation: Validation = Off,
      maxSegmentsPerTrigger: Option[Int] = None,
      format: SinkFormat = ParquetDir): Unit = {
    val (cols, required) = SchemaRegistry.columnsFromJsonSchema(schemaJson)
    run(spark, kfsRoot, tablePath, checkpointDir, cols, validation,
      maxSegmentsPerTrigger,
      validateCols = Some(cols.filter(c => required(c.name))),
      format = format)
  }

  /** Run the pipeline over a KFS root until all currently-available
    * segments are drained; returns the streaming query's final state.
    * Re-running with the same checkpoint reprocesses nothing.
    * `validateCols` narrows validation to a subset of `schemaCols`
    * (registry-required columns); None keeps the original contract that
    * every schema column is required.
    * `transform` is the in-stream curation hook: it is applied to the
    * decoded record stream BEFORE the sink (so before validation,
    * extraction, and offset-dedup) — quality gates, redaction, enrichment
    * run continuously inside the same checkpointed query instead of as a
    * separate batch pass over the landed table. It must keep the seven
    * decoded columns (narrowing rows, not schema).
    * `maxSegmentsPerTrigger` bounds each micro-batch (the reference drains
    * per poll tick; this is the source's admission-control knob for the
    * same effect). `source` must be `"kfs"`, the only ingest path; the
    * parameter stays for callers that still name it. A checkpoint left by
    * the removed whole-segment `files` path cannot be resumed: start a
    * fresh one and the sink's offset-dedup keeps the rerun idempotent. */
  def run(
      spark: SparkSession,
      kfsRoot: String,
      tablePath: String,
      checkpointDir: String,
      schemaCols: Seq[SchemaCol] = Nil,
      validation: Validation = Off,
      maxSegmentsPerTrigger: Option[Int] = None,
      validateCols: Option[Seq[SchemaCol]] = None,
      format: SinkFormat = ParquetDir,
      transform: DataFrame => DataFrame = identity,
      source: String = "kfs"): Unit = {
    if (source != "kfs")
      throw new IllegalArgumentException(s"unknown pipeline source '$source' " +
        "(only 'kfs' is supported; the whole-segment 'files' path was removed)")
    // the WAL identity is (checkpoint path, streaming query id): the id
    // lives INSIDE the checkpoint (metadata file), so wiping the
    // checkpoint — which restarts batchIds at 0 — also changes the key,
    // and the restarted query can never mistake a fresh batch for a
    // replay of a stale marker (it falls back to the offset anti-join
    // instead). Keying on the path alone would silently drop every new
    // batch with bid <= the old committed max. Resolved lazily on the
    // first batch: the metadata file is written at query start.
    var walKey: String = null
    val query = transform(logStream(spark, kfsRoot, maxSegmentsPerTrigger))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (walKey == null)
          walKey = checkpointDir + "#" +
            streamQueryId(batch.sparkSession, checkpointDir)
        sinkBatch(batch.sparkSession, batch, tablePath, schemaCols, validation,
          validateCols, format, txn = Some((walKey, batchId)))
      }
      .start()
    query.awaitTermination()
  }

  /** The streaming query's persistent id, read from the checkpoint's
    * `metadata` file (Structured Streaming writes `{"id":"<uuid>"}` at
    * query start and keeps it for the checkpoint's lifetime — a wiped
    * checkpoint mints a new id on restart, which is exactly the property
    * the txn markers need). Empty string if unreadable. */
  private[etl] def streamQueryId(spark: SparkSession,
      checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    try {
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) ""
      else {
        val in = f.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s)
          .map(_.group(1)).getOrElse("")
      }
    } catch { case _: java.io.IOException => "" }
  }

  /** Continuous first-occurrence near-dedup: drain a document topic
    * through the checkpointed stream, admitting each micro-batch against
    * the accumulated [[graft.ops.Dedup.nearDupIndex]] (a plain parquet
    * table of per-doc MinHash signatures + shingle arrays) before the
    * records land. The continuous twin of the batch `d11` contract: a doc
    * is rejected iff a STRICTLY EARLIER doc (already indexed, or earlier
    * in the same batch) LSH-collides and verifies at Jaccard ≥ threshold
    * — history is consulted through its compact index, never re-shingled.
    *
    * Documents are read as (doc_id = `_offset`, text = `_value`); the
    * topic must be produced in id order (arrival order = id order), which
    * is what makes the result batch-boundary-independent and equal to the
    * one-shot batch dedup of the full topic.
    *
    * Crash-safety ordering per micro-batch: ACCEPTED ROWS SINK FIRST
    * (guarded by the sink's offset-dedup, so replays are idempotent),
    * then the batch's index rows append. A crash between the two replays
    * the batch against the pre-batch index — same decisions, sink
    * no-ops. A crash after the index append but before the checkpoint
    * commit replays the batch against an index that already contains it;
    * the admission's self-pair guard (`a != b`) keeps a doc from
    * colliding with its own indexed copy, and the sink's offset-dedup
    * drops the re-landed rows either way. */
  def runDedup(
      spark: SparkSession,
      kfsRoot: String,
      tablePath: String,
      checkpointDir: String,
      indexPath: String,
      threshold: Double = 0.5,
      maxSegmentsPerTrigger: Option[Int] = None): Unit = {
    val query = logStream(spark, kfsRoot, maxSegmentsPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val ss = batch0.sparkSession
        val batch = batch0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val docs = batch.select(col("_offset").as("doc_id"),
            col("_value").cast("string").as("text"))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(indexPath match {
              case p if p.contains("://") => p
              case p => s"file://$p"
            }), ss.sparkContext.hadoopConfiguration)
          val ixPath = new org.apache.hadoop.fs.Path(indexPath)
          val ix = if (fs.exists(ixPath)) Some(ss.read.parquet(indexPath)) else None
          // the batch's signature table is computed ONCE and serves both
          // the admission probe and the index append — without the
          // precomputedAgg handoff the batch is shingled twice per
          // micro-batch (shingling is the drive's dominant map work)
          val batchAgg = graft.ops.Dedup.nearDupIndex(docs, "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val admitted = graft.ops.Dedup.admitAgainstIndex(
              ix, docs, "doc_id", "text", threshold,
              precomputedAgg = Some(batchAgg))
            val acceptedRows = batch.join(
              admitted.where(col("accepted")).select(col("doc").as("_offset")),
              Seq("_offset"), "left_semi")
            sinkBatch(ss, acceptedRows, tablePath, Nil, Off)
            batchAgg.write.mode("append").parquet(indexPath)
          } finally batchAgg.unpersist()
        } finally batch.unpersist()
      }
      .start()
    query.awaitTermination()
  }

  /** Continuous KEYED UPSERT into Iceberg — the streaming CDC-MERGE
    * shape: each micro-batch collapses to its LAST row per
    * (topic, partition, key) — max `_offset`, which within one partition
    * IS arrival order, and admission control never reorders a
    * partition's offsets across batches — and lands as ONE
    * [[IcebergSink.upsertAtomic]] row-delta commit (a single snapshot
    * carrying both the equality delete of the incoming key set and the
    * data append, merge-on-read — no reader can ever observe the keys
    * deleted-but-not-reinserted). The result table always holds each
    * key's latest record: last-write-wins with a total, replayable order.
    *
    * Crash-replay safety WITHOUT txn markers: replaying a batch re-runs
    * the same delete+append with identical rows — upsert is idempotent
    * for identical input, so the state converges (the anti-join guard
    * appends need is unnecessary here by construction). Keys never
    * straddle partitions in the LWW order: the key is
    * (topic, partition, key), so cross-partition timestamp skew cannot
    * rewind a newer value. At scale each commit's delete set is the
    * batch's keys — bounded by the trigger, never table-sized.
    *
    * `maintainEvery = Some(k)` runs [[IcebergSink.rewriteManifests]]
    * after every k-th commit — one snapshot per micro-batch means one
    * manifest per micro-batch carried into every later commit, so an
    * unmaintained lane's planning and commit IO grow linearly with batch
    * count; the periodic metadata-only merge keeps both O(1). Replay-safe:
    * the maintenance snapshot changes no data, and a crash between commit
    * and maintenance just defers the merge to the next trigger.
    *
    * `compactEvery = Some(k)` additionally bounds the PHYSICAL
    * delete-file count: every micro-batch's row-delta snapshot leaves
    * one equality-delete file behind, and although the read plans ONE
    * anti-join at any count, each file is still a parquet read in the
    * broadcast delete union on every scan — an always-on lane accrues
    * them forever. Every k-th commit the lane runs
    * [[IcebergSink.compact]] (the rewrite lifts every live data file
    * above the accrued deletes' sequence numbers, so they all dangle)
    * followed by [[IcebergSink.removeDanglingDeletes]] (a metadata-only
    * replace that drops them from the head snapshot while time travel
    * keeps applying them — the `rewrite_data_files` +
    * remove-dangling-deletes maintenance cadence of Iceberg's own docs).
    * Steady-state delete-file count is then < k regardless of stream
    * lifetime. At estate scale the same cadence runs partition-scoped
    * (backfill via [[IcebergSink.overwritePartitions]] per hot
    * partition rather than a whole-table rewrite); the policy seam is
    * identical. Crash-safe like `maintainEvery`: both ops commit
    * atomically and change no query-visible rows.
    *
    * `deleteWhen = Some(pred)` makes the lane TOMBSTONE-AWARE (the
    * compacted-topic delete shape — Kafka's canonical form is a null
    * value: `col("value").isNull`): a key whose LATEST record matches
    * the predicate is DELETED from the table instead of upserted; both
    * halves of the batch land in the same single row-delta snapshot
    * (equality delete covers tombstoned and replaced keys alike), so no
    * reader observes a half-applied batch and crash-replay stays
    * idempotent (identical input → identical delete+insert). The
    * predicate sees the batch columns (topic, partition, key, offset,
    * ts_ms, value); a null predicate value counts as NOT deleted. */
  def runUpsert(
      spark: SparkSession,
      kfsRoot: String,
      tablePath: String,
      checkpointDir: String,
      maxSegmentsPerTrigger: Option[Int] = None,
      maintainEvery: Option[Int] = None,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      compactEvery: Option[Int] = None): Unit = {
    // drop `_headers` inside the stream: the foreachBatch frame is
    // materialized at the sink boundary, so a column still selected there
    // is decoded into a map for every record even though no step reads it
    val query = logStream(spark, kfsRoot, maxSegmentsPerTrigger)
      .drop("_headers").writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val ss = batch0.sparkSession
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("topic"), col("partition"), col("key"))
          .orderBy(col("offset").desc)
        // only `last` is consumed more than once (empty probe + the row
        // delta's two writes) — caching the raw batch as well would add a
        // whole materialization pass per micro-batch for a frame read once
        val last = batch0.select(
          col("_topic").as("topic"), col("_partition").as("partition"),
          col("_key").cast("string").as("key"),
          col("_offset").as("offset"), col("_ts_ms").as("ts_ms"),
          col("_value").cast("string").as("value"))
          .withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // upsert's dup-key guard is a per-batch groupBy+collect, and the
        // rank=1 window PROVES key uniqueness here — use the unguarded
        // ROW-DELTA primitive: ONE snapshot carries both the batch's
        // equality delete and its data, so a reader (or a crash)
        // between them can never observe the keys transiently absent
        try if (!last.isEmpty) {
          val keys = Seq("topic", "partition", "key")
          val isDel = deleteWhen.map(p => coalesce(p, lit(false)))
          val inserts = isDel.fold(last)(d => last.where(!d))
          val dels = isDel.map(d => last.where(d).select(keys.map(col): _*))
          // one call covers every batch shape: on an absent table
          // upsertAtomic is a plain append (tombstones no-op), and on an
          // empty insert half it degrades to a delete-only delta
          IcebergSink.upsertAtomic(ss, tablePath, inserts, keys,
            extraDeleteKeys = dels)
          if (maintainEvery.isDefined || compactEvery.isDefined) {
            // cadence counts DATA commits from the table's own snapshot
            // history (maintenance commits are "replace" and don't
            // count), NOT an in-memory counter: a periodically-invoked
            // AvailableNow lane that drains fewer than k batches per
            // run would reset a process-local counter every invocation
            // and never reach a boundary — the durable count makes the
            // cadence restart-proof
            val n = IcebergSink.load(ss, tablePath)
              .map(_.snapshots.count(_.operation != "replace")).getOrElse(0)
            // compact BEFORE the manifest merge: the rewrite dangles the
            // accrued deletes, the dangling-drop removes them, and the
            // manifest pass then folds whatever metadata remains
            compactEvery.foreach(k =>
              if (n % k == 0) {
                IcebergSink.compact(ss, tablePath)
                IcebergSink.removeDanglingDeletes(ss, tablePath)
              })
            maintainEvery.foreach(k =>
              if (n % k == 0)
                IcebergSink.rewriteManifests(ss, tablePath))
          }
        } finally last.unpersist()
      }
      .start()
    query.awaitTermination()
  }

  /** One micro-batch: extract + validate → dead-letter split →
    * offset-dedup → append.
    *
    * The batch is materialized ONCE, as the base fields plus the extracted
    * `schemaCols` plus `_valid`. Validity reads the extracted columns, so
    * each JSON path is parsed once per record; a `validateCols` entry that
    * is not a sink column is extracted on its own. The dead-letter rows,
    * the main rows and the strict count are all projections of that one
    * cache. A second cache is taken only where a derived frame is consumed
    * twice: after an offset anti-join, and for the parquet-dir sink's
    * emptiness gate.
    *
    * `txn = Some((walKey, batchId))` turns on EXACTLY-ONCE VIA SNAPSHOT
    * SUMMARY for the Iceberg sink (the recipe Iceberg's own Spark
    * streaming sink uses — every commit is stamped with the source
    * checkpoint's identity + batch id in the snapshot summary): a
    * crash-replayed batch whose (key, id) is already committed returns
    * before running ANY job, and when the table's entire lineage carries
    * our key the per-batch offset anti-join (a metadata read + broadcast
    * probe of the overlapping files, every micro-batch) is skipped —
    * replays are impossible below the committed id, so the guard is
    * redundant. A table with commits from OTHER writers/checkpoints falls
    * back to the anti-join: cross-checkpoint reruns stay idempotent
    * (EtlSpec pins that law). With a [[DeadLetter]] the same txn tags the
    * quarantine's files ([[dlqAppend]]), and the Iceberg commit's summary
    * carries the batch's quarantined-record count as
    * `graft.dead-letter-records`. */
  def sinkBatch(spark: SparkSession, batch0: DataFrame, tablePath: String,
      schemaCols: Seq[SchemaCol], validation: Validation,
      validateCols: Option[Seq[SchemaCol]] = None,
      format: SinkFormat = ParquetDir,
      txn: Option[(String, Long)] = None): Unit = {
    // the replay probe is METADATA-ONLY — run it before caching the batch
    // so a pure replay costs zero Spark jobs
    lazy val meta = IcebergSink.load(spark, tablePath)
    val txnState = (txn, format) match {
      case (Some((key, bid)), IcebergV2) =>
        meta match {
          case None => Some((false, true, key, bid))
          case Some(m) =>
            val ours = m.snapshots.filter(
              _.summary.get(TxnKeyProp).contains(key))
            val lastBid = ours.flatMap(_.summary.get(TxnBatchProp))
              .map(_.toLong)
            val replay = lastBid.nonEmpty && bid <= lastBid.max
            Some((replay, ours.size == m.snapshots.size, key, bid))
        }
      case _ => None
    }
    if (txnState.exists(_._1)) return // committed batch: pure replay
    val vc = validateCols.getOrElse(schemaCols)
    def extracted(sc: SchemaCol): Column =
      if (schemaCols.contains(sc)) col(sc.name)
      else TopicRegistry.extract(col("value"), sc)
    val validity =
      if (validation == Off || vc.isEmpty) lit(true)
      else vc.map(extracted(_).isNotNull).reduce(_ && _)
    // a foreachBatch frame is NOT materialized: every action below would
    // re-run the upstream segment decode and the JSON extraction — cache
    // for the duration of the sink, release before returning. Batch size
    // is bounded by the trigger's admission control, so the footprint is.
    // Extracted columns follow the base fields (iceberg.go:889-900).
    val batch = schemaCols.foldLeft(TableSink.withBaseFields(batch0)) {
        (df, sc) => df.withColumn(sc.name, TopicRegistry.extract(col("value"), sc))
      }.withColumn("_valid", validity)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (valid, quarantined) = validation match {
        case Off => (batch, None)
        case Lenient => (batch.filter(col("_valid")), None)
        case Strict =>
          val bad = batch.filter(!col("_valid")).count()
          if (bad > 0) throw new ValidationException(bad)
          (batch, None)
        case dl: DeadLetter =>
          // which required columns failed, as a stable comma-joined list
          val missing = concat_ws(",", filter(array(vc.map(sc =>
            when(extracted(sc).isNull, lit(sc.name))
              .otherwise(lit(null).cast("string"))): _*), x => x.isNotNull))
          val bad = batch.filter(!col("_valid")).select(
            TableSink.BaseFields.map(f => col(f._1)) :+ missing.as("missing"): _*)
          (batch.filter(col("_valid")), Some(dlqAppend(spark, dl.dlqPath, bad,
            txn.filter(_ => format == IcebergV2))))
      }
      val rows = valid.drop("_valid")

      // idempotent replay (dropLanded). Table emptiness from METADATA where
      // the format has it (an isEmpty on the table frame is a scan job per
      // micro-batch)
      val tableIsEmpty = format match {
        case IcebergV2 => meta.flatMap(_.currentSnapshotId).isEmpty
        case ParquetDir => TableSink.read(spark, tablePath).isEmpty
      }
      // no anti-join when the txn markers prove every commit is ours with
      // a smaller batch id — a replayed record below that is impossible, so
      // the range probe + anti-join (2 jobs + a table read per batch) are
      // redundant
      val antiJoin = !(tableIsEmpty || txnState.exists(_._2))
      val deduped =
        if (!antiJoin) rows
        else dropLanded(rows, format match {
          case ParquetDir => TableSink.read(spark, tablePath)
          case IcebergV2 => IcebergSink.read(spark, tablePath)
        })
      // materialize the anti-join ONCE (the append's range sample and its
      // write would each re-run it), and the parquet-dir frame that both
      // the emptiness gate and the append read; a plain projection of the
      // batch cache needs no cache of its own
      val twice = antiJoin || format == ParquetDir
      val ded = if (twice) deduped.persist(StorageLevel.MEMORY_AND_DISK) else deduped
      try format match {
        case ParquetDir => if (!ded.isEmpty) TableSink.append(spark, tablePath, ded)
        case IcebergV2 =>
          // cluster each commit's files by the log partition: tight manifest
          // bounds make later partition-scoped reads (readPruned) skip files
          // — the unpartitioned-spec analog of identity partition pruning.
          // No isEmpty probe: append itself skips the commit on zero rows,
          // so the write IS the batch's only materializing job
          IcebergSink.append(spark, tablePath, ded, clusterBy = Seq("partition"),
            extraSummary = txnState.fold(Map.empty[String, String])(t =>
              Map(TxnKeyProp -> t._3, TxnBatchProp -> t._4.toString)) ++
              quarantined.map(n => DeadLetterRecordsProp -> n.toString))
      } finally if (twice) ded.unpersist()
    } finally batch.unpersist()
  }

  /** Snapshot-summary txn marker keys (the sink's WAL identity). */
  private[etl] val TxnKeyProp = "graft.wal-key"
  private[etl] val TxnBatchProp = "graft.wal-batch"
  /** Snapshot-summary key: records the commit's batch quarantined. */
  private[etl] val DeadLetterRecordsProp = "graft.dead-letter-records"

  /** A walKey's dead-letter file tag: the first 12 hex digits of its
    * SHA-1 (never a prefix of Spark's own `part-` file names). */
  private def walTag(walKey: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(walKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString

  /** Idempotent replay: drop the `rows` whose log coordinates
    * (topic, partition, offset) are already in `existing`. The reference
    * drops `offset <= committed` (processor.go:252-264), which assumes
    * in-order consumption per partition; the exact form is an anti-join
    * on the coordinates. Scale note: the probe side is bounded to the
    * rows' offset range first, so the scan of `existing` prunes to the
    * overlapping files instead of reading the whole table. */
  private def dropLanded(rows: DataFrame, existing: DataFrame): DataFrame = {
    val range = rows.agg(min(col("offset")), max(col("offset"))).collect().head
    if (range.isNullAt(0)) rows
    else rows.join(
      existing.filter(col("offset").between(range.getLong(0), range.getLong(1)))
        .select(col("topic"), col("partition"), col("offset")),
      Seq("topic", "partition", "offset"), "left_anti")
  }

  /** Append quarantined rows to the dead-letter table; returns how many
    * landed. Two idempotence paths, the twins of the main sink's txn
    * markers and offset anti-join:
    *   - `txn = Some((walKey, batchId))` and every file of the table
    *     carries this walKey's [[walTag]]: [[TableSink.appendTagged]]
    *     lands the rows as `data/<tag>-<batchId>-<i>.parquet`, replacing
    *     whatever an earlier attempt of the same batch left — one write
    *     job, no read of the table.
    *   - otherwise (no txn, foreign or untagged files after a wiped
    *     checkpoint or [[TableSink.compact]], a schema promotion): the
    *     log-coordinate offset-dedup — a crash-replayed batch re-derives
    *     the same DLQ rows and anti-joins them away. */
  private def dlqAppend(spark: SparkSession, dlqPath: String,
      rows: DataFrame, txn: Option[(String, Long)]): Long =
    txn.flatMap { case (key, bid) =>
      TableSink.appendTagged(spark, dlqPath, rows, walTag(key), bid)
    }.getOrElse {
      val existing = TableSink.read(spark, dlqPath)
      val fresh = if (existing.isEmpty) rows else dropLanded(rows, existing)
      val f = fresh.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val n = f.count()
        if (n > 0) TableSink.append(spark, dlqPath, f)
        n
      } finally f.unpersist()
    }
}

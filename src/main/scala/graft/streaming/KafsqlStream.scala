package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.kafsql.{Kafsql, Planner, Select, TopicRegistry}
import graft.kfs.{KfsCodec, KfsSource}

/** Continuous KAFSQL over a KFS segment log — the reference's explicit
  * non-goal ("continuous streaming queries", `sql-processor/README.md:44-48`)
  * delivered as a Structured Streaming superset: the same dialect text the
  * pg-wire endpoint accepts runs as an append-mode stream over segments as
  * they land.
  *
  * Source = `binaryFile` file stream over completed `.kfs` segments
  * (St2) — the last `binaryFile` reader in the engine; every other
  * streaming lane ([[graft.etl.Pipeline]]) reads the DSv2 `kfs` source,
  * which streams a segment batch-at-a-time instead of loading it whole.
  * This one stays for its skip contract: the DSv2 reader is strict and
  * streamed, so it can neither judge a segment corrupt before emitting
  * its rows nor skip it all-or-nothing.
  * [[KfsLayout.writeSegment]] publishes segments by atomic rename so
  * a listed file is always whole, and the decode below re-checks the END!
  * footer and *skips* (rather than poisons the query on) any segment a
  * foreign writer left incomplete OR corrupt — incomplete footers and
  * format/CRC failures inside a footer-complete body are both swallowed
  * (via [[KfsCodec.decodeSegmentLenient]]) because the file-source log
  * never retries a file, so throwing here would fail the stream
  * permanently. Every skip is OBSERVABLE, not silent: it is logged through
  * log4j at WARN (executor logs, aggregated by the cluster's log pipeline)
  * and counted in a `LongAccumulator` named
  * `kafsqlStream.corruptSegmentsSkipped` — visible in the Spark UI's
  * accumulator table per stage and readable by operators/alerts via
  * `status()` on the accumulator a caller passes in. Decoding uses the same
  * [[KfsCodec]] the batch scan uses; the batch path stays strict (fail the
  * task, rerun after repair).
  * One segment = one task, so throughput scales with executor count exactly
  * like the batch path; the file-source checkpoint carries progress across
  * restarts (no etcd).
  */
object KafsqlStream {

  /** Executor-side logger; object members resolve statically in closures,
    * so nothing non-serializable is captured. */
  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.KafsqlStream")

  /** Streaming topic frame with the same 8 implicit columns (+ `_ts_ms`)
    * as the batch [[KfsSource.read]].
    *
    * @param corruptCounter optional caller-owned accumulator for skipped
    *   segments (incomplete footer OR corrupt body); pass one to alert on
    *   data loss. When null, a session-registered accumulator named
    *   `kafsqlStream.corruptSegmentsSkipped` is created (Spark UI visible).
    */
  def topicStream(spark: SparkSession, kfsRoot: String,
      corruptCounter: org.apache.spark.util.LongAccumulator = null): DataFrame = {
    import spark.implicits._
    val skipped =
      if (corruptCounter != null) corruptCounter
      else spark.sparkContext.longAccumulator("kafsqlStream.corruptSegmentsSkipped")
    spark.readStream
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.kfs")
      .load(s"$kfsRoot/*/*")
      .select($"path", $"content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        val (topic, partition) = KfsSource.topicPartitionOf(path)
        val complete = content.length >= 4 &&
          KfsCodec.isComplete(content.slice(content.length - 4, content.length))
        val records =
          if (complete) KfsCodec.decodeSegmentLenient(content, { msg =>
            skipped.add(1L)
            log.warn("skipping corrupt segment {}: {}", path, msg: Any)
          })
          else {
            skipped.add(1L)
            log.warn("skipping segment without END! footer: {}", path)
            Iterator.empty
          }
        records.map { r =>
          KfsSource.TopicRow(
            topic, partition, r.offset,
            java.time.LocalDateTime.ofEpochSecond(
              r.timestampMs / 1000, (r.timestampMs % 1000).toInt * 1000000,
              java.time.ZoneOffset.UTC),
            r.timestampMs,
            r.key, r.value,
            r.headers.map(h => h.k ->
              (if (h.v == null) null else new String(h.v, "UTF-8"))).toMap,
            path)
        }
      }
      .toDF()
  }

  /** Plan a continuous SELECT against a streaming topic frame. Returns a
    * streaming DataFrame ready for `writeStream`. */
  def select(reg: TopicRegistry, stream: DataFrame, query: String,
      nowMs: Long = System.currentTimeMillis()): DataFrame =
    Kafsql.parse(query) match {
      case sel: Select => Planner.planContinuous(reg, stream, sel, Planner.Env(nowMs))
      case _ => throw new graft.kafsql.KafsqlException(
        "continuous queries support SELECT only")
    }

  /** Continuous AGGREGATE: the dialect's GROUP BY + COUNT/SUM/AVG/MIN/MAX
    * over event-time tumbling windows of `windowDur` — the continuous
    * reading of the reference's LAST-window aggregates. Returns a streaming
    * DataFrame with a leading `win_start` column; write it in
    * update/complete mode (or append once the watermark closes windows). */
  def aggregate(reg: TopicRegistry, stream: DataFrame, query: String,
      windowDur: String, watermarkDelay: String = "10 seconds",
      nowMs: Long = System.currentTimeMillis()): DataFrame =
    Kafsql.parse(query) match {
      case sel: Select => Planner.planContinuousAggregate(
        reg, stream, sel, windowDur, watermarkDelay, Planner.Env(nowMs))
      case _ => throw new graft.kafsql.KafsqlException(
        "continuous queries support SELECT only")
    }

  /** Continuous two-topic WITHIN JOIN: the dialect's flagship join run as
    * a watermarked stream-stream join (see
    * [[graft.kafsql.Planner.planContinuousJoin]] for the state-bound and
    * eviction semantics). `leftStream`/`rightStream` are topic frames
    * (e.g. [[topicStream]], optionally pre-filtered); the query names the
    * topics exactly as its batch twin would. */
  def join(reg: TopicRegistry, leftStream: DataFrame, rightStream: DataFrame,
      query: String, watermarkDelay: String = "10 seconds",
      nowMs: Long = System.currentTimeMillis()): DataFrame =
    Kafsql.parse(query) match {
      case sel: Select if sel.join.isDefined =>
        Planner.planContinuousJoin(reg, leftStream, rightStream, sel,
          watermarkDelay, Planner.Env(nowMs))
      case _: Select => throw new graft.kafsql.KafsqlException(
        "continuous join requires a JOIN ... WITHIN clause")
      case _ => throw new graft.kafsql.KafsqlException(
        "continuous queries support SELECT only")
    }

  /** Drain all currently-available segments through a continuous SELECT into
    * a parquet table (append), then stop — `Trigger.AvailableNow` with a
    * checkpoint, so re-running ships only new segments. */
  def runToTable(
      spark: SparkSession,
      reg: TopicRegistry,
      kfsRoot: String,
      query: String,
      tablePath: String,
      checkpointDir: String,
      nowMs: Long = System.currentTimeMillis(),
      corruptCounter: org.apache.spark.util.LongAccumulator = null): Unit = {
    val out = select(reg, topicStream(spark, kfsRoot, corruptCounter), query, nowMs)
    val q = out.writeStream
      .format("parquet")
      .option("path", tablePath)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

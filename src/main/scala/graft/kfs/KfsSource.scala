package graft.kfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark scan over KFS segment logs → the 8 implicit topic columns
  * (SURVEY §1.2; reference `server.go:1503-1512`).
  *
  * [[read]] delegates to the DataSource V2 `format("kfs")` scan: one task
  * per segment (the reference's flush policy caps segments at a few
  * hundred MB → natural 100-TB parallelism), partition/offset/time
  * predicates pushed down to segment-level pruning, and the bytes STREAM
  * through the decoder via Hadoop FileSystem (file://, hdfs://, s3a://) —
  * peak task memory is one record batch, never a whole segment. Earlier
  * rounds used `binaryFile` + flatMap here (whole-file reads, like the
  * reference's full-object downloads, `decoder.go:58-131`); that shape
  * survives only in [[graft.streaming.KafsqlStream]], whose contract
  * skips corrupt-but-complete segments. [[graft.etl.Pipeline]] reads
  * through the streamed DSv2 source.
  */
object KfsSource {

  /** Decoded topic row. LocalDateTime → TimestampNTZ (µs, UTC semantics). */
  final case class TopicRow(
      _topic: String,
      _partition: Int,
      _offset: Long,
      _ts: java.time.LocalDateTime,
      _ts_ms: Long,
      _key: Array[Byte],
      _value: Array[Byte],
      _headers: Map[String, String],
      _segment: String)

  /** Scan `root` (optionally pruned) into a topic DataFrame. Pruning rides
    * the DSv2 filter pushdown: segments prune from manifest/`.kfst` stats
    * at plan time, and the same predicates re-check record-level as
    * residuals (file stats are segment-granular). */
  def read(
      spark: SparkSession,
      root: String,
      topics: Option[Set[String]] = None,
      partitions: Option[Set[Int]] = None,
      offsetRange: Option[(Long, Long)] = None,
      tsRangeMs: Option[(Long, Long)] = None): DataFrame = {
    val reader = spark.read.format("kfs").option("path", root)
    topics.foreach(ts => reader.option("topics", ts.toSeq.sorted.mkString(",")))
    var df = reader.load()
    partitions.foreach(ps =>
      df = df.filter(col("_partition").isin(ps.toSeq.sorted.map(Int.box): _*)))
    offsetRange.foreach { case (lo, hi) =>
      df = df.filter(col("_offset") >= lo && col("_offset") <= hi)
    }
    tsRangeMs.foreach { case (lo, hi) =>
      df = df.filter(col("_ts_ms") >= lo && col("_ts_ms") <= hi)
    }
    df
  }

  def topicPartitionOf(path: String): (String, Int) = {
    // .../{topic}/{partition}/segment-*.kfs (file:// URI or plain path)
    val parts = path.stripPrefix("file:").split('/').filter(_.nonEmpty)
    (parts(parts.length - 3), parts(parts.length - 2).toInt)
  }

  def emptyTopicFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[TopicRow].toDF()
  }
}

package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Stream-maintained additive aggregate (an incrementally-maintained
  * materialized view): per-key COUNT and SUM kept current as micro-batches
  * land, WITHOUT recomputing over the topic.
  *
  * Exactly-once by construction — merge-on-read, not read-modify-write:
  * each micro-batch appends its own PARTIAL aggregate rows, plus one
  * COVERAGE row recording the batch's per-(topic,partition) offset range.
  * The replay guard is that coverage, not the streaming batch id (batch
  * ids are only deterministic while the trigger configuration is
  * unchanged; offset ranges are content): a batch whose ranges are fully
  * contained in applied coverage already contributed and is skipped — so
  * a crash-replay, a checkpoint-loss re-drain, and even a re-drain with a
  * DIFFERENT max_segments_per_trigger all stay exactly-once. A batch that
  * PARTIALLY overlaps applied coverage (a partial earlier drain replayed
  * under different batch composition) is impossible to apply additively;
  * it fails loudly instead of silently under- or over-counting.
  *
  * The read view merges partials with one hash aggregate; [[compact]]
  * periodically folds all partials into a single generation (atomic
  * directory swap via [[TableSink.replace]], executed under the table
  * lock so a concurrent micro-batch append cannot land between the fold's
  * read and its swap and be lost) and folds coverage rows into merged
  * disjoint spans, so the table stays ≈ |keys| + O(1), not
  * |keys| × |batches|.
  *
  * Scale shape: the per-batch partial is a map-side-combined aggregate of
  * just that batch; what lands is |batch keys| rows, not records. The
  * read-side merge shuffles only the compact partials. This is how
  * incremental MV maintenance works at 100 TB: additive state, append-only
  * commits, an applied-interval log for idempotence, merge on read, fold
  * in the background.
  */
object AggMaintenance {

  /** Per-(topic,partition) closed offset intervals. */
  private[graft] type Coverage = Map[(String, Int), Seq[(Long, Long)]]

  /** Canonical string form, e.g. `t/0:0-39;40-79,t/1:0-19`. */
  private[graft] def covString(c: Coverage): String =
    c.toSeq.sortBy { case ((t, p), _) => (t, p) }
      .map { case ((t, p), iv) =>
        s"$t/$p:" + iv.sortBy(_._1).map { case (a, b) => s"$a-$b" }.mkString(";")
      }.mkString(",")

  private[graft] def parseCov(s: String): Coverage =
    if (s.isEmpty) Map.empty
    else s.split(',').map { part =>
      val Array(tp, ivs) = part.split(':')
      val slash = tp.lastIndexOf('/')
      val key = (tp.substring(0, slash), tp.substring(slash + 1).toInt)
      key -> ivs.split(';').toSeq.map { iv =>
        val dash = iv.lastIndexOf('-')
        (iv.substring(0, dash).toLong, iv.substring(dash + 1).toLong)
      }
    }.toMap

  /** Sort + merge overlapping/adjacent intervals (hi+1 touching merges, so
    * consecutive dense batches collapse to one span). */
  private[graft] def mergeIntervals(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((alo, ahi) :: rest, (lo, hi)) if lo <= ahi + 1 =>
        (alo, math.max(ahi, hi)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private[graft] def mergeCov(a: Coverage, b: Coverage): Coverage =
    (a.keySet ++ b.keySet).map { k =>
      k -> mergeIntervals(a.getOrElse(k, Nil) ++ b.getOrElse(k, Nil))
    }.toMap

  /** Decide a batch's fate against applied coverage.
    *   - Right(true): disjoint from everything applied → apply it.
    *   - Right(false): every partition range fully contained in an applied
    *     span → a replay of already-contributed data → skip.
    *   - Left(msg): partial overlap → additively unrecoverable; callers
    *     must fail loudly (rebuild the table with the checkpoint rather
    *     than corrupt it silently). */
  private[graft] def admit(applied: Coverage,
      batch: Map[(String, Int), (Long, Long)]): Either[String, Boolean] = {
    val states = batch.map { case (k, (lo, hi)) =>
      val spans = applied.getOrElse(k, Nil)
      val contained = spans.exists { case (a, b) => a <= lo && hi <= b }
      val overlaps = spans.exists { case (a, b) => a <= hi && lo <= b }
      (k, contained, overlaps)
    }
    if (states.forall(_._2)) Right(false)
    else if (states.forall(!_._3)) Right(true)
    else Left(states.collect { case ((t, p), c, _) if !c =>
      s"$t/$p:${batch((t, p))._1}-${batch((t, p))._2}"
    }.mkString(
      "incremental aggregate replay guard: batch offset ranges partially " +
        "overlap applied coverage (", ", ", ") — batch composition changed " +
        "across a checkpoint loss; rebuild the aggregate table together " +
        "with the checkpoint"))
  }

  /** Drain the KFS topic through a checkpointed stream, maintaining
    * per-`keyCols` count + sum of `valueCol` (a Column over the decoded
    * 7-column record frame, e.g. a json_value extraction). */
  def run(
      spark: SparkSession,
      kfsRoot: String,
      tablePath: String,
      checkpointDir: String,
      keyCols: Seq[String],
      valueCol: Column,
      maxSegmentsPerTrigger: Option[Int] = None): Unit = {
    val query = Pipeline.logStream(spark, kfsRoot, maxSegmentsPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        // batch content identity: per-(topic,partition) offset range —
        // tiny (bounded by partition count), computed once per batch
        val ranges = batch.groupBy(col("_topic"), col("_partition"))
          .agg(min(col("_offset")).as("lo"), max(col("_offset")).as("hi"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        if (ranges.nonEmpty) TableSink.locked(tablePath) {
          val existing = TableSink.read(ss, tablePath)
          val applied: Coverage =
            if (existing.columns.isEmpty) Map.empty
            else existing.where(col("cnt") === 0).select(col("cov"))
              .collect().map(r => parseCov(r.getString(0)))
              .foldLeft(Map.empty: Coverage)(mergeCov)
          admit(applied, ranges) match {
            case Left(msg) => throw new IllegalStateException(msg)
            case Right(false) => // replay of applied data: contribute nothing
            case Right(true) =>
              val partial = batch
                .withColumn("_v", valueCol.cast("double"))
                .groupBy(keyCols.map(col): _*)
                .agg(count(lit(1)).as("cnt"),
                  sum(col("_v")).as("sum_v"))
                .withColumn("cov", lit(null).cast("string"))
              val covRow = covMarker(ss, partial, keyCols,
                covString(ranges.view.mapValues(r => Seq(r)).toMap))
              TableSink.append(ss, tablePath, partial.unionByName(covRow))
          }
        }
      }
      .start()
    query.awaitTermination()
  }

  /** One coverage row: null keys, cnt=0 (excluded from the read view by
    * the cnt>0 filter), the canonical coverage string. Key column types
    * are copied from `schemaSource` (the partial frame / the table) so
    * the union with data rows never widens the table schema. */
  private def covMarker(ss: SparkSession, schemaSource: DataFrame,
      keyCols: Seq[String], cov: String): DataFrame = {
    import ss.implicits._
    Seq(cov).toDF("cov").select(
      keyCols.map(k =>
        lit(null).cast(schemaSource.schema(k).dataType).as(k)) ++
        Seq(lit(0L).as("cnt"), lit(null).cast("double").as("sum_v"),
          col("cov")): _*)
  }

  /** Current aggregate: one hash merge over the compact partials
    * (coverage rows carry cnt=0 and are excluded). */
  def read(spark: SparkSession, tablePath: String,
      keyCols: Seq[String]): DataFrame = {
    val t = TableSink.read(spark, tablePath)
    if (t.columns.isEmpty) t
    else t.where(col("cnt") > 0)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_v")).as("sum_v"))
  }

  /** Fold all partials into a single generation so the table stays
    * ≈ |keys|, and all coverage rows into one merged-span row so the
    * replay guard survives the fold. Runs entirely under the table lock:
    * the concurrent-append lost-update window (file listing resolved
    * before the swap) is closed because appends serialize on the same
    * lock. The swap itself is [[TableSink.replace]]'s atomic-rename path,
    * so readers never observe a partially-folded table. */
  def compact(spark: SparkSession, tablePath: String,
      keyCols: Seq[String]): Unit = TableSink.locked(tablePath) {
    val t = TableSink.read(spark, tablePath)
    if (!t.isEmpty) {
      val applied = t.where(col("cnt") === 0).select(col("cov"))
        .collect().map(r => parseCov(r.getString(0)))
        .foldLeft(Map.empty: Coverage)(mergeCov)
      val merged = t.where(col("cnt") > 0)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col("cnt")).as("cnt"), sum(col("sum_v")).as("sum_v"))
        .withColumn("cov", lit(null).cast("string"))
      val covRow = covMarker(spark, t, keyCols, covString(applied))
      TableSink.replace(spark, tablePath, merged.unionByName(covRow))
    }
  }
}

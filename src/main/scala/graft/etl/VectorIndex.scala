package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Similarity

/** Continuously-maintained ANN index: as documents stream in, each
  * micro-batch embeds them (the encoder seam — here the deterministic
  * synthetic embedding; swap in a model UDF in production) and appends
  * (doc, bucket) rows to a plain parquet LSH bucket index. Retrieval then
  * probes ONLY same-bucket candidates ([[Similarity.lshTopK]] semantics)
  * against an index that was never rebuilt — the vector twin of the
  * streaming dedup index.
  *
  * Exactly-once: the append anti-joins on doc id against the existing
  * index (same replay guard family as the sink's offset-dedup), so a
  * crash-replayed batch adds nothing. Scale shape: per batch, one narrow
  * embed+hash pass over the batch and one doc-keyed anti-join against the
  * (compact — one row per doc) index; the corpus is never rescanned.
  */
object VectorIndex {

  def run(
      spark: SparkSession,
      kfsRoot: String,
      indexPath: String,
      checkpointDir: String,
      planes: Int = 4,
      dims: Int = 16,
      maxSegmentsPerTrigger: Option[Int] = None): Unit = {
    val decoded = Pipeline.logStream(spark, kfsRoot, maxSegmentsPerTrigger)
      .select(col("_offset"))
    val query = decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        // the index stores the EMBEDDING alongside the bucket: encoding
        // runs once at ingest; retrieval must never re-embed the corpus
        val rows = batch.select(col("_offset").as("doc")).distinct()
          .withColumn("vec", Similarity.syntheticVector(col("doc"), dims))
          .withColumn("bucket", Similarity.lshSignature(col("vec"), planes, dims))
          .select(col("doc"), col("bucket"), col("vec"))
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(indexPath match {
            case p if p.contains("://") => p
            case p => s"file://$p"
          }), ss.sparkContext.hadoopConfiguration)
        val deduped =
          if (fs.exists(new org.apache.hadoop.fs.Path(indexPath)))
            rows.join(ss.read.parquet(indexPath).select(col("doc")),
              Seq("doc"), "left_anti")
          else rows
        if (!deduped.isEmpty) deduped.write.mode("append").parquet(indexPath)
      }
      .start()
    query.awaitTermination()
  }

  /** Continuously-maintained IVFPQ index — [[run]]'s quantized sibling
    * (e20 maintains the brute-force/LSH bucket index; this lane maintains
    * the PERSISTED cell-partitioned IVFPQ layout of s42/s43). The model
    * must already exist at `indexPath` — built once with
    * [[Similarity.ivfpqBuild]], typically on a seed corpus — and is
    * FROZEN: each micro-batch resolves its arriving ids against
    * `corpus`'s embeddings, drops ids already coded (the id-keyed replay
    * guard over the compact codes table — a crash-replayed batch appends
    * nothing), and [[Similarity.ivfpqAppend]]s the rest, which
    * coarse-assigns to the EXISTING cells and appends into the
    * partitioned codes table. Queries through
    * [[Similarity.ivfpqTopKIndexed]] keep file-level partition pruning
    * over seed and streamed codes alike. Per batch the cost is one
    * narrow encode of the batch plus one anti-join against a
    * RANGE-PRUNED slice of the codes table — the replay guard only
    * matters for ids the batch itself carries, so the existing-codes
    * scan filters to the batch's [min, max] id range and parquet
    * row-group stats skip every file outside it; at steady state (fresh
    * offsets above everything appended before) that is ZERO data pages,
    * so guard cost is O(batch), not O(index). The corpus is never
    * rescanned. */
  def runIvfPq(
      spark: SparkSession,
      kfsRoot: String,
      indexPath: String,
      checkpointDir: String,
      corpus: DataFrame,
      maxSegmentsPerTrigger: Option[Int] = None,
      /** When any cell partition reaches this many files after an
        * append, the batch runs [[Similarity.ivfpqCompact]] — the
        * upsert lane's `compactEvery` analog as a THRESHOLD policy:
        * per-batch appends accrue one file per touched cell per batch,
        * so an always-on lane's probe cost grows file-count-bound
        * without this. Measuring the actual layout (not an in-memory
        * batch counter) makes the trigger restart-proof — a lane
        * re-invoked with short backlogs still compacts once any cell
        * crosses the bound. Replay-safe: compaction changes no code
        * row, and a crash mid-swap recovers on the next pass. */
      maxFilesPerCell: Option[Int] = None): Unit = {
    val decoded = Pipeline.logStream(spark, kfsRoot, maxSegmentsPerTrigger)
      .select(col("_offset"))
    // the model is FROZEN for the lane's lifetime (this method's
    // contract), so load it once on the first non-empty batch and reuse —
    // re-loading per append costs three parquet-read+collect jobs per
    // micro-batch for artifacts that cannot change under a single writer
    var model: Option[Similarity.IvfPqModel] = None
    val query = decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        val ids = batch.select(col("_offset").as("vec_id")).distinct()
        // batch ids are a micro-batch's worth — broadcast them onto the
        // corpus instead of shuffling it; ids without an embedding row
        // (the corpus may be a subset of the id stream) drop here
        val fresh = corpus.join(broadcast(ids), Seq("vec_id"))
        val bounds = ids.agg(min(col("vec_id")), max(col("vec_id"))).head()
        if (!bounds.isNullAt(0)) {
          val toAdd = fresh.join(
            replayGuardExisting(ss, indexPath, bounds.getLong(0),
              bounds.getLong(1)),
            Seq("vec_id"), "left_anti")
          if (!toAdd.isEmpty) {
            if (model.isEmpty)
              model = Some(Similarity.ivfpqLoad(ss, indexPath))
            Similarity.ivfpqAppend(toAdd, indexPath, model)
            maxFilesPerCell.foreach(k =>
              if (Similarity.codesFilesPerCell(indexPath)
                  .valuesIterator.exists(_ >= k))
                Similarity.ivfpqCompact(ss, indexPath))
          }
        }
      }
      .start()
    query.awaitTermination()
  }

  /** The replay guard's existing-ids scan, bounded to the batch's id
    * range: sound because the anti-join can only ever match ids the
    * batch carries (fresh ⊆ [lo, hi]), and cheap because the filter
    * pushes to the parquet scan where row-group min/max stats skip every
    * file whose ids lie outside the range — each append writes only its
    * own batch's ids, so old files carry tight, disjoint ranges
    * (PlanSpec pins the pushed filters). */
  private[graft] def replayGuardExisting(ss: SparkSession,
      indexPath: String, lo: Long, hi: Long): org.apache.spark.sql.DataFrame =
    ss.read.parquet(s"$indexPath/codes")
      .where(col("v") >= lo && col("v") <= hi)
      .select(col("v").as("vec_id"))

  /** Bucket-pruned top-k retrieval against the maintained index: probe
    * docs join candidates sharing their bucket, cosine on the STORED
    * index vectors (nothing re-embeds at query time), rank-limit per
    * probe (WindowGroupLimit). Cost ∝ bucket occupancy, never the
    * corpus. */
  def topK(spark: SparkSession, indexPath: String, probeIds: DataFrame,
      k: Int, dims: Int = 16): DataFrame = {
    val index = spark.read.parquet(indexPath)
    val probes = probeIds.select(col("doc").as("q"))
      .join(index.select(col("doc").as("q"), col("bucket"), col("vec").as("qv")),
        Seq("q"))
      .withColumn("qn", Similarity.norm(col("qv")))
    val cands = index.select(col("doc").as("v"), col("bucket"), col("vec").as("vv"))
      .withColumn("vn", Similarity.norm(col("vv")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
      .orderBy(round(col("c"), 6).desc, col("v"))
    probes.join(cands, "bucket").where(col("q") =!= col("v"))
      .withColumn("c", Similarity.dot(col("qv"), col("vv")) / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q"), col("rank"), col("v"), round(col("c"), 4).as("cos_sim"))
  }
}

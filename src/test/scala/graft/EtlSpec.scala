package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._
import graft.kafsql.SchemaCol
import graft.kfs.{KfsCodec, KfsLayout}

class EtlSpec extends AnyFunSuite {
  import TestSpark._

  // ---- schema evolution (iceberg.go:855-883 parity) ----------------------

  test("evolve: widening int->long and float->double allowed, new cols appended") {
    import org.apache.spark.sql.types._
    val t = StructType(Seq(StructField("a", IntegerType), StructField("b", FloatType)))
    val in = StructType(Seq(StructField("a", LongType), StructField("b", DoubleType),
      StructField("c", StringType)))
    val out = TableSink.evolve(t, in)
    assert(out.fields.map(f => f.name -> f.dataType).toSeq ==
      Seq("a" -> LongType, "b" -> DoubleType, "c" -> StringType))
  }

  test("evolve: incompatible change rejected") {
    import org.apache.spark.sql.types._
    val t = StructType(Seq(StructField("a", StringType)))
    val in = StructType(Seq(StructField("a", IntegerType)))
    intercept[TableSink.SchemaEvolutionException](TableSink.evolve(t, in))
  }

  test("sink append + widening rewrite reconciles old files") {
    import spark.implicits._
    val table = Files.createTempDirectory("sink").toString + "/t"
    TableSink.append(spark, table, Seq((1, 10)).toDF("id", "x"))
    TableSink.append(spark, table, Seq((2L, 20L)).toDF("id", "x"))
    val rows = TableSink.read(spark, table).orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L))
  }

  test("iceberg sink txn markers: replay commits nothing, foreign lineage falls back") {
    import spark.implicits._
    def mkBatch(offs: Seq[Long], n: Int) = offs.map(o =>
      ("t", 0, o, 1L, "k", s"""{"n":$n}""", Map.empty[String, String]))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
    val table = Files.createTempDirectory("etl_txn").toString + "/t"
    val cols = Seq(SchemaCol("n", "int", "$.n"))
    def snaps = graft.etl.IcebergSink.load(spark, table)
      .map(_.snapshots.size).getOrElse(0)
    def rows = graft.etl.IcebergSink.read(spark, table).count()

    // batches 0 and 1 land, each one stamped snapshot
    Pipeline.sinkBatch(spark, mkBatch(Seq(0L, 1L), 1), table, cols,
      Pipeline.Off, format = Pipeline.IcebergV2, txn = Some(("ckA", 0L)))
    Pipeline.sinkBatch(spark, mkBatch(Seq(2L, 3L), 1), table, cols,
      Pipeline.Off, format = Pipeline.IcebergV2, txn = Some(("ckA", 1L)))
    assert(snaps == 2 && rows == 4)
    val m = graft.etl.IcebergSink.load(spark, table).get
    assert(m.snapshots.forall(_.summary.get("graft.wal-key").contains("ckA")),
      "every commit must carry the sink's WAL identity")

    // crash replay of batch 1 (same key + id): METADATA-ONLY skip — no
    // snapshot, no rows, even though the data would pass the anti-join
    Pipeline.sinkBatch(spark, mkBatch(Seq(2L, 3L), 1), table, cols,
      Pipeline.Off, format = Pipeline.IcebergV2, txn = Some(("ckA", 1L)))
    assert(snaps == 2 && rows == 4, "a committed batch id must be a no-op")

    // a FRESH checkpoint re-deriving the same records: foreign lineage
    // (ckA stamps) forces the anti-join fallback — idempotent, no doubles
    Pipeline.sinkBatch(spark, mkBatch(Seq(0L, 1L, 2L, 3L), 1), table, cols,
      Pipeline.Off, format = Pipeline.IcebergV2, txn = Some(("ckB", 0L)))
    assert(rows == 4, "cross-checkpoint rerun must add nothing")

    // and a genuinely NEW record through the foreign checkpoint still lands
    Pipeline.sinkBatch(spark, mkBatch(Seq(4L), 7), table, cols,
      Pipeline.Off, format = Pipeline.IcebergV2, txn = Some(("ckB", 1L)))
    assert(rows == 5)
  }

  // ---- validation modes (processor.go:283-301) ---------------------------

  test("lenient drops invalid records, strict aborts") {
    import spark.implicits._
    val batch = Seq(
      ("t", 0, 0L, 1L, "k", """{"n":1}""", Map.empty[String, String]),
      ("t", 0, 1L, 2L, "k", """{"n":"not-an-int"}""", Map.empty[String, String]))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
    val cols = Seq(SchemaCol("n", "int", "$.n"))

    val lenientTable = Files.createTempDirectory("etl_l").toString + "/t"
    Pipeline.sinkBatch(spark, batch, lenientTable, cols, Pipeline.Lenient)
    assert(TableSink.read(spark, lenientTable).count() == 1)

    val strictTable = Files.createTempDirectory("etl_s").toString + "/t"
    intercept[Pipeline.ValidationException] {
      Pipeline.sinkBatch(spark, batch, strictTable, cols, Pipeline.Strict)
    }
  }

  test("dead-letter: invalid records quarantine with reasons; replay doubles nothing") {
    val root = Files.createTempDirectory("etl_dlq_kfs").toString
    val records = (0 until 50).map { i =>
      val payload = if (i % 5 == 0) "broken" else s"""{"n":$i}"""
      KfsCodec.Record(i.toLong, 1706000000000L + i, s"k$i".getBytes,
        payload.getBytes, Nil)
    }
    KfsLayout.writeSegment(root, "t1", 0, records)
    val table = Files.createTempDirectory("etl_dlq_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_dlq_q").toString + "/q"
    val cols = Seq(SchemaCol("n", "long", "$.n"))
    def drain(): Unit = Pipeline.run(spark, root, table,
      Files.createTempDirectory("etl_dlq_ck").toString, cols,
      Pipeline.DeadLetter(dlq))

    drain()
    assert(TableSink.read(spark, table).count() == 40)
    val q = TableSink.read(spark, dlq)
    assert(q.count() == 10)
    assert(q.select("missing").distinct().collect().map(_.getString(0)).toSeq == Seq("n"))
    assert(q.agg(sum(col("offset"))).collect().head.getLong(0) ==
      (0 until 50 by 5).sum)

    // a fresh-checkpoint replay re-derives everything; both sinks' offset
    // dedup must absorb it
    drain()
    assert(TableSink.read(spark, table).count() == 40)
    assert(TableSink.read(spark, dlq).count() == 10)
  }

  // ---- dead-letter on the Iceberg sink: one cached pass, tagged files ----

  private def logBatch(offs: Seq[Long], broken: Long => Boolean) = {
    import spark.implicits._
    offs.map(o => ("t", 0, o, 1L, "k",
      if (broken(o)) "broken" else s"""{"n":$o}""", Map.empty[String, String]))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
  }
  private val nCol = Seq(SchemaCol("n", "long", "$.n"))
  private def dlqSink(table: String, dlq: String, offs: Seq[Long],
      broken: Long => Boolean, txn: (String, Long)): Unit =
    Pipeline.sinkBatch(spark, logBatch(offs, broken), table, nCol,
      Pipeline.DeadLetter(dlq), format = Pipeline.IcebergV2, txn = Some(txn))
  private def dlqFiles(dlq: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(dlq, "data")
    if (!Files.exists(d)) Nil
    else Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
  }

  /** Spark jobs `body` starts under the streaming query whose checkpoint
    * is `ckpt` (its id is read from the checkpoint after `body`). A
    * sentinel job marks the end of the listener bus backlog. */
  private def streamJobs(ckpt: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val sentinel = "etlspec-sentinel-" + java.util.UUID.randomUUID()
    val seen = new java.util.concurrent.CountDownLatch(1)
    val byQuery = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(x => sentinel == x.getProperty("spark.job.description")))
          seen.countDown()
        else p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
          .foreach(id => byQuery.merge(id, 1, (a, b) => a + b))
      }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val meta = new String(Files.readAllBytes(
        java.nio.file.Paths.get(ckpt, "metadata")), "UTF-8")
      val id = """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(meta).get.group(1)
      Option(byQuery.get(id)).map(_.intValue).getOrElse(0)
    } finally sc.removeSparkListener(l)
  }

  test("dead-letter Iceberg commit runs at most 4 Spark jobs per micro-batch") {
    val root = Files.createTempDirectory("etl_jobs_kfs").toString
    def segment(from: Int, until: Int): Unit =
      KfsLayout.writeSegment(root, "t1", 0, (from until until).map { i =>
        val payload = if (i % 5 == 0) "broken" else s"""{"n":$i}"""
        KfsCodec.Record(i.toLong, 1706000000000L + i, s"k$i".getBytes,
          payload.getBytes, Nil)
      })
    val table = Files.createTempDirectory("etl_jobs_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_jobs_q").toString + "/q"
    val ckpt = Files.createTempDirectory("etl_jobs_ck").toString
    def drain(): Unit = Pipeline.run(spark, root, table, ckpt, nCol,
      Pipeline.DeadLetter(dlq), format = Pipeline.IcebergV2)
    segment(0, 100)
    drain() // creates both tables
    segment(100, 200) // one segment: one micro-batch
    val jobs = streamJobs(ckpt)(drain())
    assert(IcebergSink.read(spark, table).count() == 160)
    assert(TableSink.read(spark, dlq).count() == 40)
    info(s"$jobs Spark jobs")
    assert(jobs <= 4, s"one dead-letter micro-batch ran $jobs Spark jobs")
  }

  test("dead-letter tags: an all-invalid batch commits nothing; its replay doubles nothing") {
    val table = Files.createTempDirectory("etl_tag_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_tag_q").toString + "/q"
    dlqSink(table, dlq, 0L until 5L, _ => true, ("ckA", 0L))
    assert(IcebergSink.load(spark, table).flatMap(_.currentSnapshotId).isEmpty,
      "an all-invalid batch must make no main commit")
    assert(TableSink.read(spark, dlq).count() == 5)
    val tag = dlqFiles(dlq).map(_.takeWhile(_ != '-')).distinct
    assert(tag.size == 1 && dlqFiles(dlq).forall(_.startsWith(s"${tag.head}-0-")))
    // no main commit means no txn marker: the replay runs the sink again
    dlqSink(table, dlq, 0L until 5L, _ => true, ("ckA", 0L))
    assert(TableSink.read(spark, dlq).count() == 5)
  }

  test("dead-letter tags: a re-run of a tagged batch replaces its files") {
    val table = Files.createTempDirectory("etl_tagre_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_tagre_q").toString + "/q"
    def offsets = TableSink.read(spark, dlq).collect().map(_.getAs[Long]("offset")).toSet
    dlqSink(table, dlq, 0L until 5L, _ => true, ("ckA", 0L))
    dlqSink(table, dlq, 5L until 7L, _ => true, ("ckA", 1L))
    assert(offsets == (0L until 7L).toSet)
    // an attempt of batch 0 that quarantines fewer rows REPLACES batch 0's
    // files (an additive append would keep 0..4 and add 0..2 again)
    dlqSink(table, dlq, 0L until 3L, _ => true, ("ckA", 0L))
    assert(TableSink.read(spark, dlq).count() == 5)
    assert(offsets == Set(0L, 1L, 2L, 5L, 6L), "batch 1's files are untouched")
  }

  test("dead-letter tags: a fresh walKey falls back to the anti-join, new records land") {
    val table = Files.createTempDirectory("etl_tagfk_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_tagfk_q").toString + "/q"
    dlqSink(table, dlq, 0L until 10L, _ % 2 == 0, ("ckA", 0L))
    assert(TableSink.read(spark, dlq).count() == 5)
    // a wiped checkpoint re-derives the same records under a new key
    dlqSink(table, dlq, 0L until 10L, _ % 2 == 0, ("ckB", 0L))
    assert(TableSink.read(spark, dlq).count() == 5, "a foreign-tagged DLQ must not double")
    assert(IcebergSink.read(spark, table).count() == 5)
    dlqSink(table, dlq, 10L until 14L, _ % 2 == 0, ("ckB", 1L))
    assert(TableSink.read(spark, dlq).count() == 7)
    assert(IcebergSink.read(spark, table).count() == 7)
  }

  test("dead-letter tags: a DLQ compacted to untagged files still dedups") {
    val table = Files.createTempDirectory("etl_tagcp_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_tagcp_q").toString + "/q"
    dlqSink(table, dlq, 0L until 4L, _ => true, ("ckA", 0L))
    dlqSink(table, dlq, 4L until 8L, _ => true, ("ckA", 1L))
    val (before, after) = TableSink.compact(spark, dlq)
    assert(before > after && after == 1)
    assert(dlqFiles(dlq).forall(_.startsWith("part-")))
    // the replay's tagged files are gone into the compacted file: only
    // the offset anti-join can tell these rows already landed
    dlqSink(table, dlq, 4L until 8L, _ => true, ("ckA", 1L))
    assert(TableSink.read(spark, dlq).count() == 8)
  }

  test("dead-letter count is stamped into the batch's Iceberg commit") {
    val table = Files.createTempDirectory("etl_tagct_tbl").toString + "/t"
    val dlq = Files.createTempDirectory("etl_tagct_q").toString + "/q"
    def stamped = IcebergSink.load(spark, table).get.snapshots
      .map(_.summary.get("graft.dead-letter-records"))
    def dlqRows = TableSink.read(spark, dlq).count()
    dlqSink(table, dlq, 0L until 10L, _ % 4 == 0, ("ckA", 0L))
    assert(dlqRows == 3 && stamped == Seq(Some("3")))
    dlqSink(table, dlq, 10L until 20L, _ == 15L, ("ckA", 1L))
    assert(dlqRows == 4 && stamped == Seq(Some("3"), Some("1")))
    dlqSink(table, dlq, 20L until 25L, _ => false, ("ckA", 2L))
    assert(dlqRows == 4 && stamped.last.contains("0"))
  }

  // ---- registry-driven sink schema (iceberg.go:779-828) ------------------

  test("registry schema doc derives sorted, mapped, required-aware columns") {
    val (cols, req) = SchemaRegistry.columnsFromJsonSchema(
      """{"type": "object", "required": ["k", "ghost"],
        | "properties": {
        |   "k":   {"type": "integer"},
        |   "b":   {"type": "boolean"},
        |   "r":   {"type": "number"},
        |   "s":   {"type": ["null", "string"]},
        |   "o":   {"type": "object"},
        |   "arr": {"type": "array"}}}""".stripMargin)
    // integer->long, number->double; object/array skipped; sorted by name
    assert(cols == Seq(
      SchemaCol("b", "boolean", "$.b"), SchemaCol("k", "long", "$.k"),
      SchemaCol("r", "double", "$.r"), SchemaCol("s", "string", "$.s")))
    // required set intersects the MAPPED columns ("ghost" names no column)
    assert(req == Set("k"))
    intercept[SchemaRegistry.SchemaDocException] {
      SchemaRegistry.columnsFromJsonSchema("{not json")
    }
    // no properties -> no columns, no error (nil-props tolerance)
    assert(SchemaRegistry.columnsFromJsonSchema("""{"type":"object"}""")._1.isEmpty)
  }

  test("registry validation gates on required columns only") {
    import spark.implicits._
    val batch = Seq(
      ("t", 0, 0L, 1L, "k", """{"k":1,"s":"x"}""", Map.empty[String, String]),
      ("t", 0, 1L, 2L, "k", """{"k":2}""", Map.empty[String, String]), // s absent: ok
      ("t", 0, 2L, 3L, "k", """{"s":"y"}""", Map.empty[String, String])) // k absent: drop
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
    val (cols, req) = SchemaRegistry.columnsFromJsonSchema(
      """{"required":["k"],"properties":{"k":{"type":"integer"},"s":{"type":"string"}}}""")
    val table = Files.createTempDirectory("etl_reg").toString + "/t"
    Pipeline.sinkBatch(spark, batch, table, cols, Pipeline.Lenient,
      validateCols = Some(cols.filter(c => req(c.name))))
    val out = TableSink.read(spark, table)
    assert(out.count() == 2) // required-missing row dropped, optional-missing kept
    assert(out.schema("k").dataType == org.apache.spark.sql.types.LongType)
  }

  test("registry schema change that narrows a column type is rejected") {
    import spark.implicits._
    def batchDf = Seq(("t", 0, 0L, 1L, "k", """{"k":1}""", Map.empty[String, String]))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
    val table = Files.createTempDirectory("etl_conflict").toString + "/t"
    val (v1, _) = SchemaRegistry.columnsFromJsonSchema(
      """{"properties":{"k":{"type":"integer"}}}""") // k -> long
    Pipeline.sinkBatch(spark, batchDf, table, v1, Pipeline.Off)
    // registry v2 flips k to string: long->string is not a widening
    val (v2, _) = SchemaRegistry.columnsFromJsonSchema(
      """{"properties":{"k":{"type":"string"}}}""")
    val batch2 = Seq(("t", 0, 5L, 6L, "k", """{"k":2}""", Map.empty[String, String]))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
    intercept[TableSink.SchemaEvolutionException] {
      Pipeline.sinkBatch(spark, batch2, table, v2, Pipeline.Off)
    }
  }

  // ---- streaming pipeline: checkpointed + idempotent ---------------------

  test("pipeline drains KFS once; rerun with same checkpoint adds nothing") {
    val root = Files.createTempDirectory("etl_kfs").toString
    val records = (0 until 100).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, records)
    val table = Files.createTempDirectory("etl_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_ck").toString

    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")))
    assert(TableSink.read(spark, table).count() == 100)

    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")))
    assert(TableSink.read(spark, table).count() == 100) // no duplicates

    // new segment appears -> only its records flow (incremental progress)
    val more = (100 until 150).map(i => KfsCodec.Record(i.toLong,
      1706000100000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, more)
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")))
    val out = TableSink.read(spark, table)
    assert(out.count() == 150)
    assert(out.agg(sum(col("n"))).collect().head.getLong(0) == (0 until 150).sum)
  }

  test("wiped checkpoint restarts batch ids at 0 without losing new records") {
    // the ops action the txn markers must survive: a checkpoint wipe
    // restarts batchIds at 0, so keying markers on the checkpoint PATH
    // alone would drop every restarted batch with bid <= the old
    // committed max — losing any records produced since. The WAL key
    // includes the streaming query id (which lives inside the checkpoint
    // and changes on wipe), so the restarted query falls back to the
    // offset anti-join instead: old rows dedup, new rows land.
    val root = Files.createTempDirectory("etl_wipe_kfs").toString
    val recs1 = (0 until 50).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, recs1)
    val table = Files.createTempDirectory("etl_wipe_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_wipe_ck").toString + "/ck"
    val cols = Seq(SchemaCol("n", "long", "$.n"))
    Pipeline.run(spark, root, table, ckpt, cols,
      format = Pipeline.IcebergV2)
    assert(graft.etl.IcebergSink.read(spark, table).count() == 50)

    // wipe the checkpoint, produce more — the restarted query's batch 0
    // re-reads everything INCLUDING the fresh records
    TableSink.deleteRecursive(java.nio.file.Paths.get(ckpt))
    val recs2 = (50 until 80).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, recs2)
    Pipeline.run(spark, root, table, ckpt, cols,
      format = Pipeline.IcebergV2)
    val out = graft.etl.IcebergSink.read(spark, table)
    assert(out.count() == 80,
      "post-wipe records must land exactly once, pre-wipe rows must not double")
    assert(out.agg(sum(col("n"))).collect().head.getLong(0) == (0 until 80).sum)
  }

  test("streaming upsert: last write per key wins, updates apply incrementally") {
    import graft.etl.IcebergSink
    val root = Files.createTempDirectory("etl_ups_kfs").toString
    // 30 records over 10 keys: key i%10, value carries the offset
    val records = (0 until 30).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k${i % 10}".getBytes, s"""{"o":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, records)
    val table = Files.createTempDirectory("etl_ups_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_ups_ck").toString

    Pipeline.runUpsert(spark, root, table, ckpt)
    def state(): Map[String, Long] = IcebergSink.read(spark, table)
      .select(col("key"), col("offset")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each key holds its LAST offset (20..29 for k0..k9)
    assert(state() == (0 until 10).map(i => s"k$i" -> (20 + i).toLong).toMap)

    // caught-up rerun with the same checkpoint changes nothing
    Pipeline.runUpsert(spark, root, table, ckpt)
    assert(state().values.toSeq.sorted == (20L to 29L))

    // a new segment UPDATES five keys and introduces one new key — only
    // those rows change (incremental merge, not a rebuild)
    val more = (30 until 36).map(i => KfsCodec.Record(i.toLong,
      1706000100000L + i, s"k${(i - 30) * 2}".getBytes, s"""{"o":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, more)
    Pipeline.runUpsert(spark, root, table, ckpt)
    val s2 = state()
    assert(s2.size == 11, s"k10 must insert: $s2") // keys k0..k9 + k10
    assert(s2("k0") == 30L && s2("k2") == 31L && s2("k10") == 35L)
    assert(s2("k1") == 21L, "untouched keys keep their previous last write")
  }

  test("tombstone lane: deletes flow through, caught-up and wiped reruns converge") {
    import graft.etl.IcebergSink
    val root = Files.createTempDirectory("etl_tmb_kfs").toString
    // 30 records over 10 keys; values o % 4 == 0 are tombstones
    val records = (0 until 30).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k${i % 10}".getBytes, s"""{"o":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, records)
    val table = Files.createTempDirectory("etl_tmb_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_tmb_ck").toString
    val tomb = Some(get_json_object(col("value"), "$.o").cast("long") % 4 === 0)

    Pipeline.runUpsert(spark, root, table, ckpt, deleteWhen = tomb)
    def state(): Map[String, Long] = IcebergSink.read(spark, table)
      .select(col("key"), col("offset")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // each key's LAST offset is 20+i; keys whose last o % 4 == 0 are gone
    val expect = (0 until 10).map(i => s"k$i" -> (20 + i).toLong)
      .filter(_._2 % 4 != 0).toMap
    assert(state() == expect, s"got ${state()}")

    // caught-up rerun: nothing changes
    Pipeline.runUpsert(spark, root, table, ckpt, deleteWhen = tomb)
    assert(state() == expect)

    // wiped checkpoint: batch 0 re-applies EVERYTHING — re-deleting the
    // tombstoned keys and re-upserting survivors converges to the same
    // state (idempotent for identical input, the lane's replay law)
    TableSink.deleteRecursive(java.nio.file.Paths.get(ckpt))
    Pipeline.runUpsert(spark, root, table, ckpt, deleteWhen = tomb)
    assert(state() == expect, "a wiped-checkpoint replay must converge")

    // a later segment re-inserts a tombstoned key and tombstones a
    // previously-live one — deletes and upserts flow through one lane
    val more = Seq(
      KfsCodec.Record(30L, 1706000100000L, "k0".getBytes,
        """{"o":33}""".getBytes, Nil), // k0 (last o=20, deleted) revives
      KfsCodec.Record(31L, 1706000100001L, "k1".getBytes,
        """{"o":32}""".getBytes, Nil)) // k1 (last o=21, live) tombstones
    KfsLayout.writeSegment(root, "t1", 0, more)
    Pipeline.runUpsert(spark, root, table, ckpt, deleteWhen = tomb)
    val s2 = state()
    assert(s2.get("k0").contains(30L), s"revived key must re-insert: $s2")
    assert(!s2.contains("k1"), s"newly tombstoned key must delete: $s2")
  }

  test("upsert lane auto-maintenance bounds the manifest list, state unchanged") {
    import graft.etl.IcebergSink
    val root = Files.createTempDirectory("etl_mnt_kfs").toString
    // 8 segments of 10 records → 8 micro-batches at cap 1
    (0 until 8).foreach { s0 =>
      val records = (s0 * 10 until (s0 + 1) * 10).map(i =>
        KfsCodec.Record(i.toLong, 1706000000000L + i,
          s"k${i % 7}".getBytes, s"""{"o":$i}""".getBytes, Nil))
      KfsLayout.writeSegment(root, "t1", 0, records)
    }
    def drive(maintain: Option[Int]) = {
      val table = Files.createTempDirectory("etl_mnt_tbl").toString + "/t"
      val ckpt = Files.createTempDirectory("etl_mnt_ck").toString
      Pipeline.runUpsert(spark, root, table, ckpt,
        maxSegmentsPerTrigger = Some(1), maintainEvery = maintain)
      val m = IcebergSink.load(spark, table).get
      val state = IcebergSink.read(spark, table)
        .select(col("key"), col("offset")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (IcebergSink.readAvro(spark, m.snapshots.last.manifestList)._2.size,
        state)
    }
    val (nPlain, statePlain) = drive(None)
    val (nMaint, stateMaint) = drive(Some(2))
    assert(stateMaint == statePlain, "maintenance must never change state")
    // exact LWW: each key's last offset below 80
    assert(statePlain == Map("k0" -> 77L, "k1" -> 78L, "k2" -> 79L,
      "k3" -> 73L, "k4" -> 74L, "k5" -> 75L, "k6" -> 76L))
    // unmaintained: one data + one delete manifest per batch accrue;
    // maintained every 2: the head list stays a handful of manifests
    assert(nPlain >= 14, s"unmaintained lane must accrue manifests: $nPlain")
    assert(nMaint <= 4,
      s"maintained lane's head manifest list must stay bounded: $nMaint")
  }

  test("upsert lane compactEvery bounds delete files; state unchanged") {
    import graft.etl.IcebergSink
    val root = Files.createTempDirectory("etl_cmp_kfs").toString
    (0 until 8).foreach { s0 =>
      val records = (s0 * 10 until (s0 + 1) * 10).map(i =>
        KfsCodec.Record(i.toLong, 1706000000000L + i,
          s"k${i % 7}".getBytes, s"""{"o":$i}""".getBytes, Nil))
      KfsLayout.writeSegment(root, "t1", 0, records)
    }
    def drive(compact: Option[Int]) = {
      val table = Files.createTempDirectory("etl_cmp_tbl").toString + "/t"
      val ckpt = Files.createTempDirectory("etl_cmp_ck").toString
      Pipeline.runUpsert(spark, root, table, ckpt,
        maxSegmentsPerTrigger = Some(1), compactEvery = compact)
      val delFiles = IcebergSink.metadataTable(spark, table, "files")
        .where(col("content") =!= 0).count()
      val state = IcebergSink.read(spark, table)
        .select(col("key"), col("offset")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (delFiles, state)
    }
    val (delPlain, statePlain) = drive(None)
    val (delMaint, stateMaint) = drive(Some(2))
    assert(stateMaint == statePlain,
      "in-lane compaction must never change query-visible state")
    // unmaintained: one equality-delete file per upserting micro-batch
    // accrues forever; the compactEvery=2 lane never carries more than
    // one batch's worth past a boundary
    assert(delPlain >= 6,
      s"unmaintained lane must accrue delete files: $delPlain")
    assert(delMaint < 2,
      s"compactEvery must bound the lane's delete files: $delMaint")
  }

  test("upsert lane cadence survives re-invocation: boundaries hit across short runs") {
    import graft.etl.IcebergSink
    val root = Files.createTempDirectory("etl_reinv_kfs").toString
    val table = Files.createTempDirectory("etl_reinv_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_reinv_ck").toString
    // four separate invocations, TWO batches each, compactEvery=4: a
    // process-local counter would reset to 0 every run and never reach
    // a boundary — the snapshot-history cadence must still fire at the
    // 4th and 8th data commit
    (0 until 4).foreach { inv =>
      (0 until 2).foreach { b =>
        val s0 = inv * 2 + b
        val records = (s0 * 10 until (s0 + 1) * 10).map(i =>
          KfsCodec.Record(i.toLong, 1706000000000L + i,
            s"k${i % 7}".getBytes, s"""{"o":$i}""".getBytes, Nil))
        KfsLayout.writeSegment(root, "t1", 0, records)
      }
      Pipeline.runUpsert(spark, root, table, ckpt,
        maxSegmentsPerTrigger = Some(1), compactEvery = Some(4))
    }
    val delFiles = IcebergSink.metadataTable(spark, table, "files")
      .where(col("content") =!= 0).count()
    assert(delFiles == 0,
      s"the 8th commit is a boundary — the cross-invocation cadence " +
        s"must have compacted: $delFiles delete files")
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.count(_.operation == "replace") >= 2,
      "both boundaries (4th and 8th data commit) must have fired")
    val state = IcebergSink.read(spark, table)
      .select(col("key"), col("offset")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("k0" -> 77L, "k1" -> 78L, "k2" -> 79L,
      "k3" -> 73L, "k4" -> 74L, "k5" -> 75L, "k6" -> 76L))
  }

  test("ivfpq lane compactEvery: one file per cell, codes equal the unmaintained lane") {
    import graft.ops.Similarity
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("etl_ivfc_kfs").toString
    (0 until 4).foreach { s0 =>
      val records = (s0 * 10 until (s0 + 1) * 10).map(i =>
        KfsCodec.Record(i.toLong, 1706000000000L + i,
          s"d$i".getBytes, s"""{"i":$i}""".getBytes, Nil))
      KfsLayout.writeSegment(root, "t1", 0, records)
    }
    import spark.implicits._
    val corpus = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(16)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    def drive(threshold: Option[Int]): (String, Seq[String]) = {
      val ix = Files.createTempDirectory("etl_ivfc_ix").toString
      val ckpt = Files.createTempDirectory("etl_ivfc_ck").toString
      Similarity.ivfpqBuild(corpus.where(col("vec_id") % 2 === 0), ix,
        dims = 16)
      graft.etl.VectorIndex.runIvfPq(spark, root, ix, ckpt, corpus,
        maxSegmentsPerTrigger = Some(1), maxFilesPerCell = threshold)
      (ix, spark.read.parquet(s"$ix/codes")
        .orderBy("v").collect().map(_.toString).toSeq)
    }
    val (_, plain) = drive(None)
    val (ixM, maintained) = drive(Some(2))
    assert(maintained == plain,
      "in-lane compaction must never change a code row")
    val perCell = Similarity.codesFilesPerCell(ixM)
    assert(perCell.nonEmpty)
    perCell.foreach { case (c, n) =>
      assert(n <= 2, s"maintained lane cell $c: $n files")
    }
  }

  test("pipeline transform gates records in-stream; replay stays idempotent") {
    val root = Files.createTempDirectory("etl_cur").toString
    val records = (0 until 100).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, records)
    val table = Files.createTempDirectory("etl_curt").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_curc").toString
    val gate = (df: org.apache.spark.sql.DataFrame) => df.filter(
      get_json_object(col("_value").cast("string"), "$.n").cast("long") % 2 === 0)

    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")),
      transform = gate)
    val out = TableSink.read(spark, table)
    assert(out.count() == 50) // only even payloads landed
    assert(out.agg(min(col("n")), max(col("n"))).collect().head.toSeq == Seq(0L, 98L))

    // replay with the same checkpoint adds nothing; a later segment flows
    // through the same gate
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")),
      transform = gate)
    assert(TableSink.read(spark, table).count() == 50)
    val more = (100 until 120).map(i => KfsCodec.Record(i.toLong,
      1706000100000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, more)
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")),
      transform = gate)
    assert(TableSink.read(spark, table).count() == 60)
  }

  test("pipeline over the DSv2 kfs source: same landed table, same idempotency") {
    val root = Files.createTempDirectory("etl_kfs2").toString
    val records = (0 until 80).map(i => KfsCodec.Record(i.toLong,
      1706000000000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, records)
    val table = Files.createTempDirectory("etl_kfs2t").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_kfs2c").toString

    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")))
    val out = TableSink.read(spark, table)
    assert(out.count() == 80)
    assert(out.agg(sum(col("n"))).collect().head.getLong(0) == (0 until 80).sum)

    // checkpointed replay adds nothing; an incremental segment drains
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")))
    assert(TableSink.read(spark, table).count() == 80)
    val more = (80 until 100).map(i => KfsCodec.Record(i.toLong,
      1706000100000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil))
    KfsLayout.writeSegment(root, "t1", 0, more)
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")))
    assert(TableSink.read(spark, table).count() == 100)
  }

  test("pipeline rejects the removed whole-segment 'files' source") {
    val root = Files.createTempDirectory("etl_files").toString
    KfsLayout.writeSegment(root, "t1", 0, (0 until 10).map(i => KfsCodec.Record(
      i.toLong, 1706000000000L + i, s"k$i".getBytes, s"""{"n":$i}""".getBytes, Nil)))
    val table = Files.createTempDirectory("etl_files_t").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_files_c").toString
    val e = intercept[IllegalArgumentException](
      Pipeline.run(spark, root, table, ckpt, source = "files"))
    assert(e.getMessage.contains("'files' path was removed"), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(table)), "nothing may land")
  }

  test("pipeline with bounded micro-batches (maxSegmentsPerTrigger=1) drains all segments") {
    val root = Files.createTempDirectory("etl_mb").toString
    (0 until 3).foreach { seg =>
      val recs = (0 until 50).map(i => KfsCodec.Record((seg * 50 + i).toLong,
        1706000000000L + seg * 50 + i, s"k$i".getBytes,
        s"""{"n":${seg * 50 + i}}""".getBytes, Nil))
      KfsLayout.writeSegment(root, "t1", 0, recs)
    }
    val table = Files.createTempDirectory("etl_mb_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("etl_mb_ck").toString
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")),
      maxSegmentsPerTrigger = Some(1)) // 3 separate micro-batches
    val out = TableSink.read(spark, table)
    assert(out.count() == 150)
    assert(out.agg(org.apache.spark.sql.functions.countDistinct(
      org.apache.spark.sql.functions.col("offset"))).collect().head.getLong(0) == 150)
  }

  test("streaming near-dedup: multi-batch drain equals one-shot, replay adds nothing") {
    val root = Files.createTempDirectory("sdedup").toString
    // 4 segments of 10 docs; docs 5, 17 and 31 are copies of doc 2
    def text(i: Int): String =
      if (Set(5, 17, 31)(i)) "alpha beta gamma delta epsilon zeta eta theta two"
      else if (i == 2) "alpha beta gamma delta epsilon zeta eta theta two"
      else s"unique document body number $i with plenty of distinct words $i $i"
    (0 until 4).foreach { seg =>
      val recs = (0 until 10).map { j =>
        val id = seg * 10 + j
        KfsCodec.Record(id.toLong, 1706000000000L + id,
          id.toString.getBytes, text(id).getBytes, Nil)
      }
      KfsLayout.writeSegment(root, "docs", 0, recs)
    }
    val table = Files.createTempDirectory("sdedup_tbl").toString + "/t"
    val ckpt = Files.createTempDirectory("sdedup_ck").toString
    val index = Files.createTempDirectory("sdedup_ix").toString + "/ix"
    Pipeline.runDedup(spark, root, table, ckpt, index, threshold = 0.5,
      maxSegmentsPerTrigger = Some(1)) // 4 separate micro-batches
    val accepted = TableSink.read(spark, table)
      .select(col("offset")).collect().map(_.getLong(0)).toSet
    // copies of doc 2 rejected (5 and 31 land in LATER batches than 2 —
    // the cross-batch index path), everything else accepted
    assert(accepted == (0 until 40).map(_.toLong).toSet -- Set(5L, 17L, 31L))
    // replay with the same checkpoint: no new segments, table unchanged
    Pipeline.runDedup(spark, root, table, ckpt, index, threshold = 0.5,
      maxSegmentsPerTrigger = Some(1))
    assert(TableSink.read(spark, table).count() == 37)
  }

  test("admission survives an index that already contains the batch (crash replay)") {
    import spark.implicits._
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "totally different words in this one here now")).toDF("doc_id", "text")
    // index already holds BOTH batch docs (replay after index append) plus
    // a genuinely earlier dup of doc 10
    val earlier = Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val ix = graft.ops.Dedup.nearDupIndex(earlier.unionByName(batch), "doc_id", "text")
    val out = graft.ops.Dedup.admitAgainstIndex(Some(ix), batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // 10 rejected by doc 3 (real earlier dup), NOT by its own indexed copy;
    // 11 must not self-reject
    assert(out == Map(10L -> false, 11L -> true))
  }

  test("incremental aggregate: coverage replay guard survives checkpoint loss, even reconfigured") {
    val root = Files.createTempDirectory("iagg").toString
    (0 until 3).foreach { seg =>
      val recs = (0 until 40).map(i => KfsCodec.Record((seg * 40 + i).toLong,
        1706000000000L + i, s"k$i".getBytes,
        s"""{"v":${seg * 40 + i}}""".getBytes, Nil))
      KfsLayout.writeSegment(root, "nums", 0, recs)
    }
    val table = Files.createTempDirectory("iagg_tbl").toString + "/t"
    def drain(ck: String, perTrigger: Int): Unit =
      AggMaintenance.run(spark, root, table, ck,
        Seq("_partition"), get_json_object(col("_value").cast("string"), "$.v"),
        maxSegmentsPerTrigger = Some(perTrigger))
    val ck1 = Files.createTempDirectory("iagg_ck1").toString
    drain(ck1, 1)
    def state() = AggMaintenance.read(spark, table, Seq("_partition"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = Set((0, 120L, (0 until 120).sum.toDouble))
    assert(state() == expected)
    // same checkpoint: no new segments, nothing re-applied
    drain(ck1, 1)
    assert(state() == expected)
    // FRESH checkpoint (checkpoint loss): the re-drained batches' offset
    // ranges are contained in applied coverage — dropped, still exactly once
    val ck2 = Files.createTempDirectory("iagg_ck2").toString
    drain(ck2, 1)
    assert(state() == expected)
    // checkpoint loss AND a different trigger config: batch ids now cover
    // different segment sets (the case a batch-id guard gets silently
    // wrong), but offset coverage still proves containment — exactly once
    val ck3 = Files.createTempDirectory("iagg_ck3").toString
    drain(ck3, 3)
    assert(state() == expected)
    // compaction folds partials to |keys| data rows + 1 coverage row and
    // preserves the view
    val before = TableSink.read(spark, table).count()
    AggMaintenance.compact(spark, table, Seq("_partition"))
    val after = TableSink.read(spark, table).count()
    assert(before >= after && after == 2, s"before=$before after=$after")
    assert(state() == expected)
    // ... and the guard still holds after the fold
    val ck4 = Files.createTempDirectory("iagg_ck4").toString
    drain(ck4, 2)
    assert(state() == expected)
  }

  test("incremental aggregate: partially-overlapping replay fails loudly, disjoint extends") {
    import AggMaintenance.{admit, mergeCov, parseCov, covString, mergeIntervals}
    val applied = parseCov("nums/0:0-79")
    // exact/contained replay: skip
    assert(admit(applied, Map(("nums", 0) -> (0L, 39L))) == Right(false))
    assert(admit(applied, Map(("nums", 0) -> (0L, 79L))) == Right(false))
    // disjoint continuation: apply
    assert(admit(applied, Map(("nums", 0) -> (80L, 119L))) == Right(true))
    // new partition: apply
    assert(admit(applied, Map(("nums", 1) -> (0L, 9L))) == Right(true))
    // partial overlap (batch recomposed across a checkpoint loss): error
    assert(admit(applied, Map(("nums", 0) -> (40L, 119L))).isLeft)
    // mixed contained + fresh partitions: also unsound → error
    assert(admit(applied,
      Map(("nums", 0) -> (0L, 39L), ("nums", 1) -> (0L, 9L))).isLeft)
    // canonical round-trip + adjacent-span merge
    val merged = mergeCov(applied, parseCov("nums/0:80-119,nums/1:0-9"))
    assert(covString(merged) == "nums/0:0-119,nums/1:0-9")
    assert(mergeIntervals(Seq((10L, 20L), (0L, 5L), (6L, 9L), (30L, 40L))) ==
      Seq((0L, 20L), (30L, 40L)))
  }

  test("vector index: one row per doc, survives replay and checkpoint loss") {
    val root = Files.createTempDirectory("vix").toString
    (0 until 3).foreach { seg =>
      val recs = (0 until 30).map(i => KfsCodec.Record((seg * 30 + i).toLong,
        1706000000000L + i, s"${seg * 30 + i}".getBytes, "x".getBytes, Nil))
      KfsLayout.writeSegment(root, "docs", 0, recs)
    }
    val index = Files.createTempDirectory("vix_ix").toString + "/ix"
    def drain(ck: String): Unit = VectorIndex.run(spark, root, index, ck,
      planes = 4, dims = 16, maxSegmentsPerTrigger = Some(1))
    val ck1 = Files.createTempDirectory("vix_ck1").toString
    drain(ck1)
    def rows() = spark.read.parquet(index)
    assert(rows().count() == 90)
    assert(rows().select("doc").distinct().count() == 90)
    drain(ck1) // same checkpoint: nothing new
    assert(rows().count() == 90)
    val ck2 = Files.createTempDirectory("vix_ck2").toString
    drain(ck2) // checkpoint loss: doc-keyed guard still dedups
    assert(rows().count() == 90)
    // retrieval only surfaces same-bucket candidates
    import spark.implicits._
    val top = VectorIndex.topK(spark, index, Seq(0L).toDF("doc"), k = 5)
    val buckets = rows().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    top.collect().foreach { r =>
      assert(buckets(r.getLong(2)) == buckets(0L), "candidate outside probe bucket")
    }
  }

  test("TableSink.replace swaps content atomically and updates the schema") {
    import spark.implicits._
    val table = Files.createTempDirectory("repl_tbl").toString + "/t"
    TableSink.append(spark, table, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    TableSink.replace(spark, table,
      Seq((10L, "x", true)).toDF("id", "s", "flag"))
    val out = TableSink.read(spark, table)
    assert(out.columns.toSeq == Seq("id", "s", "flag"))
    assert(out.collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq ==
      Seq((10L, "x", true)))
  }

  test("TableSink.replace crash windows recover with data and schema in agreement") {
    import spark.implicits._
    // Window 1: crash AFTER the data flip, BEFORE the schema flip —
    // on-disk state is new data + old _schema.json + staged new schema.
    // read() must complete the flip, never read new files under the old
    // schema (misprojection).
    val t1 = Files.createTempDirectory("repl_cw1").toString + "/t"
    TableSink.append(spark, t1, Seq((1, "a")).toDF("id", "s"))
    val newDf = Seq((10L, "x", true)).toDF("id", "s", "flag")
    TableSink.replace(spark, t1, newDf) // completes fully; now fake the crash:
    val oldSchemaJson = Seq((1, "a")).toDF("id", "s").schema.json
    Files.write(java.nio.file.Paths.get(s"$t1/_schema.json.new"),
      TableSink.read(spark, t1).schema.json.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$t1/_schema.json"),
      oldSchemaJson.getBytes("UTF-8")) // regress the applied schema
    val r1 = TableSink.read(spark, t1)
    assert(r1.columns.toSeq == Seq("id", "s", "flag"))
    assert(r1.collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .toSeq == Seq((10L, "x", true)))
    assert(!Files.exists(java.nio.file.Paths.get(s"$t1/_schema.json.new")))

    // Window 2: crash BEFORE the data flip — data_replace still staged,
    // staged schema present. The staged schema is stale and must be
    // DISCARDED: the old generation keeps its old schema.
    val t2 = Files.createTempDirectory("repl_cw2").toString + "/t"
    TableSink.append(spark, t2, Seq((1, "a")).toDF("id", "s"))
    newDf.write.mode("overwrite").parquet(s"$t2/data_replace")
    Files.write(java.nio.file.Paths.get(s"$t2/_schema.json.new"),
      newDf.schema.json.getBytes("UTF-8"))
    val r2 = TableSink.read(spark, t2)
    assert(r2.columns.toSeq == Seq("id", "s"))
    assert(r2.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$t2/_schema.json.new")))
  }

  // ---- LFS (consumer.go:59-91) -------------------------------------------

  test("lfs envelope parse detects claim checks only") {
    val env = """{"kfs_lfs":1,"bucket":"b","key":"k/1","size":3,"sha256":"x","content_type":"t"}"""
    assert(LfsResolver.parse(env.getBytes).exists(_.bucket == "b"))
    assert(LfsResolver.parse("""{"kfs_lfs":2}""".getBytes).isEmpty)
    assert(LfsResolver.parse("plain text".getBytes).isEmpty)
    assert(LfsResolver.parse("""{"other":1}""".getBytes).isEmpty)
  }

  test("lfs checksum mismatch fails the resolve") {
    import spark.implicits._
    val root = Files.createTempDirectory("lfs").toString
    Files.createDirectories(java.nio.file.Paths.get(root, "b"))
    Files.write(java.nio.file.Paths.get(root, "b", "blob1"), "hello".getBytes)
    val badEnv = """{"kfs_lfs":1,"bucket":"b","key":"blob1","size":5,""" +
      """"sha256":"deadbeef","content_type":"t"}"""
    val df = Seq((1L, badEnv)).toDF("id", "_value")
    val ex = intercept[org.apache.spark.SparkException] {
      LfsResolver.resolve(spark, df, LfsResolver.LocalFsBlobStore(root)).collect()
    }
    assert(ex.getCause.getMessage.contains("sha256 mismatch") ||
      ex.getMessage.contains("sha256 mismatch"))
  }

  test("lfs produce/resolve round-trip: large payloads envelope, small pass through") {
    import spark.implicits._
    val root = Files.createTempDirectory("lfs_rt").toString
    val store = LfsResolver.LocalFsBlobStore(root)
    val big = ("x" * 1000).getBytes("UTF-8")
    val small = "tiny".getBytes("UTF-8")
    val vBig = LfsResolver.produce(store, "b", "k/big", big, thresholdBytes = 100)
    val vSmall = LfsResolver.produce(store, "b", "k/small", small, thresholdBytes = 100)
    assert(LfsResolver.parse(vBig).nonEmpty)   // enveloped
    assert(vSmall eq small)                    // passthrough
    val df = Seq((1L, new String(vBig, "UTF-8")), (2L, new String(vSmall, "UTF-8")))
      .toDF("id", "_value")
    val resolved = LfsResolver.resolve(spark, df, store)
    // six LFS metadata columns in the reference's order (iceberg.go:682-691)
    assert(resolved.columns.takeRight(6).toSeq == Seq("lfs_content_type",
      "lfs_blob_size", "lfs_checksum", "lfs_checksum_alg", "lfs_bucket",
      "lfs_key"))
    val out = resolved
      .select("id", "_value", "_lfs_resolved").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(out(1L) == (new String(big, "UTF-8"), true))
    assert(out(2L) == ("tiny", false))
    val meta = resolved.where(col("id") === 1L)
      .select("lfs_checksum_alg", "lfs_content_type", "lfs_blob_size")
      .collect().head
    assert(meta.getString(0) == "sha256")
    assert(meta.getString(1) == "application/octet-stream")
    assert(meta.getLong(2) == 1000L)
  }

  test("lfs hadoop-fs blob store: produce/resolve over a file:// URI root") {
    import spark.implicits._
    // an s3a:// root takes the identical code path — Hadoop FileSystem is
    // the abstraction the executors open per partition
    val root = "file://" + Files.createTempDirectory("lfs_hfs").toString
    val store = LfsResolver.HadoopFsBlobStore(root)
    val big = ("y" * 2000).getBytes("UTF-8")
    val v = LfsResolver.produce(store, "bkt", "a/b/blob", big, thresholdBytes = 100)
    assert(LfsResolver.parse(v).nonEmpty)
    val df = Seq((1L, new String(v, "UTF-8"))).toDF("id", "_value")
    val out = LfsResolver.resolve(spark, df, store)
      .select("_value", "_lfs_resolved", "lfs_bucket", "lfs_key").collect().head
    assert(out.getString(0) == new String(big, "UTF-8"))
    assert(out.getBoolean(1) && out.getString(2) == "bkt" &&
      out.getString(3) == "a/b/blob")
  }

  // ---- IDoc (explode.go:27-200) ------------------------------------------

  test("idoc fan-out writes one partition per entity, readable per-topic") {
    import spark.implicits._
    val xml =
      """<IDOC><DOCNUM>7</DOCNUM>
        |<ITEM><LINE>1</LINE></ITEM><ITEM><LINE>2</LINE></ITEM>
        |<PARTNER><CUST>9</CUST></PARTNER></IDOC>""".stripMargin
    val exploded = IdocExplode.explode(spark, Seq(xml).toDF("xml"), "xml")
    val base = Files.createTempDirectory("idoc_sink").toString
    IdocExplode.fanOut(exploded, base)
    val items = spark.read.parquet(base).where(col("entity") === "items")
    assert(items.count() == 2)
    val all = spark.read.parquet(base).groupBy("entity").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(all == Map("header" -> 1L, "items" -> 2L, "partners" -> 1L))
  }

  test("idoc explode routes segments and keeps header scalars") {
    val xml =
      """<IDOC><DOCNUM>42</DOCNUM><STATUS>F</STATUS>
        |<PARTNER><CUST>7</CUST></PARTNER>
        |<ITEM><LINE>1</LINE><QTY>5</QTY></ITEM>
        |<ITEM><LINE>2</LINE><QTY>3</QTY></ITEM>
        |<DATE><ORDERED>2024-01-01</ORDERED></DATE>
        |<UNROUTED><X>1</X></UNROUTED></IDOC>""".stripMargin
    val out = IdocExplode.explodeXml(xml)
    assert(out.count(_.entity == "header") == 1)
    assert(out.count(_.entity == "items") == 2)
    assert(out.count(_.entity == "partners") == 1)
    assert(out.count(_.entity == "dates") == 1)
    assert(!out.exists(_.entity == "UNROUTED"))
    assert(out.forall(_.docnum == "42"))
    val header = out.find(_.entity == "header").get
    assert(header.payload.contains("\"DOCNUM\":\"42\"") &&
      header.payload.contains("\"STATUS\":\"F\""))
    val item = out.filter(_.entity == "items").head
    assert(item.payload.contains("\"LINE\":\"1\"") &&
      item.payload.contains("\"DOCNUM\":\"42\""))
  }

  test("compaction shrinks file count, preserves data and schema, idempotent") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("sink_compact").toString
    // fragment: 5 separate appends -> many small parquet files
    (0 until 5).foreach { i =>
      TableSink.append(spark, table,
        (0 until 20).map(j => (i * 20L + j, s"row-$i-$j")).toDF("id", "txt"))
    }
    val before = TableSink.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(before.size == 100)

    val (nBefore, nAfter) = TableSink.compact(spark, table)
    assert(nBefore > nAfter && nAfter == 1,
      s"expected 5-append fragmentation to compact to 1 file: $nBefore -> $nAfter")
    val after = TableSink.read(spark, table).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == before)
    assert(TableSink.tableSchema(table).get.fieldNames.toSeq == Seq("id", "txt"))

    // second pass is a no-op
    val (n2Before, n2After) = TableSink.compact(spark, table)
    assert(n2Before == n2After)
    // appends after compaction still work
    TableSink.append(spark, table, Seq((999L, "post")).toDF("id", "txt"))
    assert(TableSink.read(spark, table).count() == 101)
  }
}

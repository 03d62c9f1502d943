package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.BareLocalFileSystem
import graft.etl.{IcebergSink, Pipeline, TableSink}
import graft.kafsql.SchemaCol
import graft.kfs.{KfsCodec, KfsLayout}

/** Test-only local filesystem with two probes. While
  * [[ProbeLocalFileSystem.recordUnder]] names a directory, it records every
  * rename onto an existing file and every `create(overwrite = true)` of an
  * existing file below it — the in-place replaces that stall on an ext4
  * flush-on-replace. A hook put in [[ProbeLocalFileSystem.afterList]] runs
  * once, right after the next listing returns. Installed through
  * `fs.file.impl` with the FileSystem cache off ([[ProbeLocalFileSystem.conf]],
  * [[ProbeLocalFileSystem.session]]), so sessions without it never load it. */
class ProbeLocalFileSystem extends BareLocalFileSystem {
  import ProbeLocalFileSystem._

  private def watched(p: Path): Boolean = {
    val dir = recordUnder
    dir != null && p.toUri.getPath.startsWith(dir)
  }

  private def existingFile(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: java.io.FileNotFoundException => false }

  override def rename(src: Path, dst: Path): Boolean = {
    if (watched(dst) && existingFile(dst)) replaced.add(s"rename onto $dst")
    super.rename(src, dst)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (overwrite && watched(f) && existingFile(f))
      replaced.add(s"create(overwrite = true) of $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (flags.contains(org.apache.hadoop.fs.CreateFlag.OVERWRITE) &&
        watched(f) && existingFile(f))
      replaced.add(s"createNonRecursive(OVERWRITE) of $f")
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val out = super.listStatus(f)
    val hook = afterList.getAndSet(null)
    if (hook != null) hook(f)
    out
  }
}

object ProbeLocalFileSystem {
  @volatile var recordUnder: String = null
  val replaced = new ConcurrentLinkedQueue[String]()
  val afterList = new AtomicReference[Path => Unit](null)

  private val settings = Seq(
    "fs.file.impl" -> classOf[ProbeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  def conf: Configuration = {
    val c = new Configuration()
    settings.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** A session of the shared context whose Hadoop conf (driver and tasks,
    * the streaming clone included) loads this filesystem. */
  def session(base: SparkSession): SparkSession = {
    val s = base.newSession()
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Run `body` as the active session on a probe session, recording the
    * in-place replaces under `dir`; returns what was recorded. */
  def replacesUnder(base: SparkSession, dir: JPath)(
      body: SparkSession => Unit): Seq[String] = {
    val s = session(base)
    replaced.clear()
    recordUnder = dir.toAbsolutePath.toString
    SparkSession.setActiveSession(s)
    try body(s)
    finally {
      recordUnder = null
      SparkSession.setActiveSession(base)
    }
    replaced.asScala.toSeq
  }
}

/** No commit path replaces a file in place: a KFS append publishes a fresh
  * manifest generation, an Iceberg commit re-creates its version hint
  * instead of truncating it, and an unchanged DLQ schema is not
  * rewritten. */
class InPlaceReplaceSpec extends AnyFunSuite {
  import TestSpark._

  private val logSchema = StructType(Seq(
    StructField("_topic", StringType), StructField("_partition", IntegerType),
    StructField("_offset", LongType), StructField("_ts_ms", LongType),
    StructField("_key", BinaryType), StructField("_value", BinaryType)))

  private def produce(s: SparkSession, root: String, offsets: Range): Unit = {
    val rows = for (p <- 0 to 1; o <- offsets) yield Row("t", p, o.toLong,
      1706000000000L + o, s"k$o".getBytes("UTF-8"), s"""{"n":$o}""".getBytes("UTF-8"))
    s.createDataFrame(rows.asJava, logSchema).write.format("kfs")
      .mode("append").option("path", root).save()
  }

  test("a second format(\"kfs\") append onto existing partitions replaces no file") {
    val base = Files.createTempDirectory("noreplace_kfs")
    val root = base.resolve("log").toString
    produce(spark, root, 0 until 50)
    val got = ProbeLocalFileSystem.replacesUnder(spark, base)(
      produce(_, root, 50 until 100))
    assert(got.isEmpty, got.mkString("in-place replaces:\n", "\n", ""))
    assert(KfsLayout.listFromManifest(root, "t", 1).map(_.lastOffset).max == 99)
    assert(spark.read.format("kfs").option("path", root).load().count() == 200)
  }

  test("a Pipeline.run IcebergV2 + DeadLetter micro-batch replaces no file") {
    val base = Files.createTempDirectory("noreplace_etl")
    val root = base.resolve("log").toString
    def segment(from: Int, until: Int): Unit =
      KfsLayout.writeSegment(root, "t1", 0, (from until until).map { i =>
        val payload = if (i % 5 == 0) "broken" else s"""{"n":$i}"""
        KfsCodec.Record(i.toLong, 1706000000000L + i, s"k$i".getBytes,
          payload.getBytes, Nil)
      })
    val table = base.resolve("t").toString
    val dlq = base.resolve("q").toString
    val ckpt = base.resolve("ck").toString
    def drain(s: SparkSession): Unit = Pipeline.run(s, root, table, ckpt,
      Seq(SchemaCol("n", "int", "$.n")), Pipeline.DeadLetter(dlq),
      format = Pipeline.IcebergV2)
    segment(0, 100)
    drain(spark) // creates both tables and the checkpoint
    segment(100, 200)
    val dlqSchema = base.resolve("q").resolve("_schema.json")
    val schemaStamp = Files.getLastModifiedTime(dlqSchema)
    val got = ProbeLocalFileSystem.replacesUnder(spark, base)(drain)
    assert(got.isEmpty, got.mkString("in-place replaces:\n", "\n", ""))
    assert(Files.getLastModifiedTime(dlqSchema) == schemaStamp,
      "an unchanged DLQ schema must not be rewritten")
    assert(IcebergSink.read(spark, table).count() == 160)
    assert(TableSink.read(spark, dlq).count() == 40)
  }

  test("a runUpsert round that compacts replaces no file") {
    val base = Files.createTempDirectory("noreplace_cdc")
    val root = base.resolve("log").toString
    def segment(from: Int, until: Int): Unit =
      KfsLayout.writeSegment(root, "t1", 0, (from until until).map { i =>
        KfsCodec.Record(i.toLong, 1706000000000L + i, s"k${i % 10}".getBytes,
          if (i % 7 == 0) null else s"""{"o":$i}""".getBytes, Nil)
      })
    val table = base.resolve("t").toString
    val ckpt = base.resolve("ck").toString
    def drain(s: SparkSession): Unit = Pipeline.runUpsert(s, root, table, ckpt,
      deleteWhen = Some(col("value").isNull), compactEvery = Some(2))
    segment(0, 10)
    drain(spark)
    segment(10, 20)
    val got = ProbeLocalFileSystem.replacesUnder(spark, base)(drain)
    assert(got.isEmpty, got.mkString("in-place replaces:\n", "\n", ""))
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.exists(_.operation == "replace"), "the round must compact")
    assert(IcebergSink.read(spark, table).count() ==
      (10 until 20).count(_ % 7 != 0))
  }
}

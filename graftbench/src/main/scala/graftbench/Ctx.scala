package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation of the measured phase. */
final case class Sample(cls: Int, ms: Double)

/** What a workload hands back to [[Main]]. `perLayer` is filled only on
  * traced runs; `repeatCounts` are the counts that must repeat exactly
  * between runs of one seed. */
final class Outcome {
  val samples = ArrayBuffer.empty[Sample]
  var windowS = 0.0
  var work = 0L // queries, landed records or applied changes in the window
  var attempted = 0
  var failed = 0
  var inputsS = 0.0
  var warmupS = 0.0
  var firstOpAtMs = 0L
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val repeatCounts = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def fail(what: String): Unit = { failed += 1; System.err.println(s"graftbench: FAILED $what") }
}

/** Shared run context: session, run directory, probes, tracer. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long,
    val seconds: Int, val trace: Boolean) {
  val tracer = new Tracer(trace)
  val jobs = new JobProbe
  val streams = new StreamProbe
  if (trace) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  def path(name: String): String = dir.resolve(name).toString

  /** Total bytes of the regular files under `p`. */
  def bytesUnder(p: String): Long = {
    val f = new File(p)
    if (!f.exists) 0L
    else {
      val files = Files.walk(f.toPath)
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
      finally files.close()
    }
  }

  /** Bytes read so far through the local Hadoop filesystem (KFS segments,
    * sidecars, manifests, Iceberg files): the KFS reader does not report
    * input bytes to Spark's task metrics. */
  def fsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** GC and JIT milliseconds so far. */
  def jvmMs(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    (gc, jit)
  }
}

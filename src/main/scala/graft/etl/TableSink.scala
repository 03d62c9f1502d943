package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg-style table sink with schema evolution — the reference's
  * destination model (`iceberg-processor/internal/sink/iceberg.go:146-203`
  * write, `:490-553` ensureSchema, `:855-883` widening rules): new columns
  * are allowed, type changes only if widening (`int32→int64`,
  * `float32→float64`); anything else errors.
  *
  * The container ships no Iceberg runtime, so this is the documented Parquet
  * fallback: a directory of parquet files plus a JSON schema sidecar that
  * plays the role of Iceberg's table metadata. On a widening change the
  * fallback rewrites existing files to the widened type (Iceberg would do a
  * metadata-only promotion — swap `append` for `df.writeTo(t).append()` when
  * the runtime is present; the validation logic is sink-agnostic).
  */
object TableSink {

  final class SchemaEvolutionException(msg: String) extends RuntimeException(msg)

  /** Base fields every sunk record carries (iceberg.go:889-900). */
  val BaseFields: Seq[(String, DataType)] = Seq(
    "record_id" -> StringType, "topic" -> StringType,
    "partition" -> IntegerType, "offset" -> LongType,
    "timestamp_ms" -> LongType, "key" -> BinaryType,
    "value" -> BinaryType, "headers" -> StringType)

  def withBaseFields(df: DataFrame): DataFrame =
    df.select(
      // deterministic record id (reference uses uuid; uuid breaks replay
      // idempotence tests, so: content-address on coordinates)
      md5(concat_ws("|", col("_topic"), col("_partition"), col("_offset"))).as("record_id"),
      col("_topic").as("topic"), col("_partition").as("partition"),
      col("_offset").as("offset"), col("_ts_ms").as("timestamp_ms"),
      col("_key").cast("binary").as("key"), col("_value").cast("binary").as("value"),
      to_json(col("_headers")).as("headers"))

  /** Widening-only merge of an incoming schema into the table schema.
    * Returns the evolved schema; throws on incompatible change. */
  def evolve(table: StructType, incoming: StructType): StructType = {
    val existing = table.fields.map(f => f.name -> f).toMap
    val evolved = table.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case Some(in) if in.dataType == f.dataType => f
        case Some(in) => StructField(f.name, widen(f.name, f.dataType, in.dataType), nullable = true)
        case None => f
      }
    }
    val added = incoming.fields.filterNot(f => existing.contains(f.name))
      .map(f => f.copy(nullable = true)) // new columns append as optional
    StructType(evolved ++ added)
  }

  private def widen(name: String, from: DataType, to: DataType): DataType =
    (from, to) match {
      case (IntegerType, LongType) => LongType
      case (FloatType, DoubleType) => DoubleType
      case (LongType, IntegerType) => LongType   // narrower writes upcast
      case (DoubleType, FloatType) => DoubleType
      case _ => throw new SchemaEvolutionException(
        s"incompatible type change for column $name: $from -> $to") // iceberg.go:875-882
    }

  private def schemaPath(table: String) = Paths.get(table, "_schema.json")

  def tableSchema(table: String): Option[StructType] = {
    val p = schemaPath(table)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).asInstanceOf[StructType])
  }

  /** Per-table monitor: append/compact serialize on the SAME table but a
    * long compaction of one table must not stall appends to others (the
    * Iceberg runtime replaces all of this with snapshot commits). */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(
      Paths.get(table).toAbsolutePath.normalize.toString, _ => new Object)

  /** If a crash between compact's swap steps left `data` missing but the
    * previous generation present, restore it before proceeding. Also
    * completes (or rolls back) a [[replace]] interrupted between its data
    * and schema flips, so data and schema always agree: the staged schema
    * (`_schema.json.new`) is applied iff the data flip provably completed
    * — `data_replace` still on disk means it did not, so the staged schema
    * is stale and dropped. */
  private def recoverSwap(table: String): Unit = {
    val dataDir = Paths.get(s"$table/data")
    val oldDir = Paths.get(s"$table/data_old")
    if (!Files.exists(dataDir) && Files.exists(oldDir))
      Files.move(oldDir, dataDir)
    val staged = Paths.get(s"$table/_schema.json.new")
    if (Files.exists(staged)) {
      if (Files.exists(Paths.get(s"$table/data_replace")))
        Files.delete(staged) // data flip never happened: old gen + old schema
      else
        Files.move(staged, schemaPath(table), // finish the interrupted flip
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Run `body` holding this table's lock — for composed read-merge-replace
    * maintenance (e.g. [[AggMaintenance.compact]]) that must not lose a
    * concurrent [[append]] between resolving the table's file listing and
    * swapping the folded generation in. Reentrant (Java monitors), so
    * `body` may freely call append/replace/compact on the same table. */
  def locked[A](table: String)(body: => A): A =
    lockFor(table).synchronized(body)

  /** Append a batch, evolving the table schema when needed. */
  def append(spark: SparkSession, table: String, df: DataFrame): Unit =
      lockFor(table).synchronized {
    recoverSwap(table)
    val current = tableSchema(table)
    val target = current match {
      case None => df.schema
      case Some(t) => evolve(t, df.schema)
    }
    // type promotion changed stored columns -> rewrite (Iceberg: metadata-only)
    val promoted = current.exists(t =>
      t.fields.exists(f => target.find(_.name == f.name).exists(_.dataType != f.dataType)))
    if (promoted) {
      val old = spark.read.schema(current.get).parquet(s"$table/data")
      val recast = conform(old, target)
      val tmp = s"$table/data_rewrite"
      recast.write.mode("overwrite").parquet(tmp)
      val dataDir = Paths.get(s"$table/data")
      deleteRecursive(dataDir)
      Files.move(Paths.get(tmp), dataDir)
    }
    Files.createDirectories(Paths.get(table))
    conform(df, target).write.mode("append").parquet(s"$table/data")
    writeSchemaIfChanged(table, current, target)
  }

  /** Rewrite the schema sidecar only when the schema changed: an unchanged
    * batch leaves the file alone (on ext4 rewriting an existing file
    * through `O_TRUNC` stalls the writer on a flush of the new data). */
  private def writeSchemaIfChanged(table: String, current: Option[StructType],
      target: StructType): Unit =
    if (!current.contains(target))
      Files.write(schemaPath(table), target.json.getBytes(StandardCharsets.UTF_8))

  /** Batch-tagged append: the idempotent append of a writer whose batches
    * carry a stable `(tag, batchId)`. The rows are written to
    * `_staging_<tag>`; zero-row files are dropped by their footer count;
    * any `data/<tag>-<batchId>-*` files an earlier attempt of the same
    * batch left are deleted; the staged files are then renamed to
    * `data/<tag>-<batchId>-<i>.parquet`. A replay therefore replaces its
    * own files instead of adding to them, for one write job and no read.
    * The schema sidecar is written only when rows landed and the schema
    * changed.
    *
    * Returns the number of rows landed, or None — having run nothing —
    * when the protocol cannot prove idempotence: a file under `data/`
    * without this tag (another writer's, an untagged [[append]], a
    * [[compact]] rewrite) or a type promotion, which rewrites stored
    * files. The caller then falls back to an offset-dedup [[append]]. */
  def appendTagged(spark: SparkSession, table: String, df: DataFrame,
      tag: String, batchId: Long): Option[Long] = lockFor(table).synchronized {
    recoverSwap(table)
    val dataDir = Paths.get(table, "data")
    val files = parquetFiles(dataDir)
    val current = tableSchema(table)
    val target = current.fold(df.schema)(evolve(_, df.schema))
    val promoted = current.exists(t => t.fields.exists(f =>
      target(f.name).dataType != f.dataType))
    if (promoted || files.exists(!_.getFileName.toString.startsWith(s"$tag-")))
      None
    else {
      val staging = Paths.get(table, s"_staging_$tag")
      conform(df, target).write.mode("overwrite").parquet(staging.toString)
      val conf = spark.sparkContext.hadoopConfiguration
      val staged = parquetFiles(staging).sorted.map { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toUri), conf))
        try p -> r.getRecordCount finally r.close()
      }.filter(_._2 > 0)
      val prefix = s"$tag-$batchId-"
      files.filter(_.getFileName.toString.startsWith(prefix)).foreach(Files.delete)
      if (staged.nonEmpty) {
        Files.createDirectories(dataDir)
        staged.zipWithIndex.foreach { case ((p, _), i) =>
          Files.move(p, dataDir.resolve(f"$prefix$i%05d.parquet"))
        }
        writeSchemaIfChanged(table, current, target)
      }
      deleteRecursive(staging)
      Some(staged.map(_._2).sum)
    }
  }

  /** Project/cast a frame onto the target schema (missing cols → NULL). */
  private def conform(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def read(spark: SparkSession, table: String): DataFrame = {
    // only lock when crash leftovers are actually present (missing data
    // dir, or a staged-but-unapplied schema from an interrupted replace):
    // readers must not serialize behind a long compaction otherwise.
    // Schema is re-read AFTER recovery so a completed-by-recovery replace
    // is read with its own schema, never the superseded one.
    if (!Files.exists(Paths.get(s"$table/data")) ||
        Files.exists(Paths.get(s"$table/_schema.json.new")))
      lockFor(table).synchronized(recoverSwap(table))
    tableSchema(table) match {
      case Some(s) => spark.read.schema(s).parquet(s"$table/data")
      case None => spark.emptyDataFrame
    }
  }

  private def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
  }

  /** Small-file compaction — the table-maintenance half of a streaming
    * sink (micro-batch appends fragment the table; at 100 TB a scan's task
    * count and open-file overhead track file count, not data size). This
    * is the parquet-fallback equivalent of Iceberg's `rewrite_data_files`:
    * rewrite the data to ceil(bytes/targetBytes) files, then swap via
    * rename-aside (data→data_old, tmp→data, delete data_old) — a crash
    * between steps leaves either generation recoverable, never neither
    * (append/read restore `data_old` if `data` is missing). Holds only
    * THIS table's lock, so other sinks keep appending during the rewrite.
    * Returns (filesBefore, filesAfter); no-op when already compact. */
  def compact(spark: SparkSession, table: String,
      targetBytes: Long = 128L << 20): (Int, Int) = lockFor(table).synchronized {
    recoverSwap(table)
    tableSchema(table) match {
      case None => (0, 0)
      case Some(schema) =>
        val dataDir = Paths.get(s"$table/data")
        val files = parquetFiles(dataDir)
        val totalBytes = files.map(Files.size(_)).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
        if (files.size <= nOut) (files.size, files.size)
        else {
          val tmp = s"$table/data_compact"
          spark.read.schema(schema).parquet(dataDir.toString)
            .repartition(nOut)
            .write.mode("overwrite").parquet(tmp)
          val oldDir = Paths.get(s"$table/data_old")
          deleteRecursive(oldDir) // stale aside from an earlier crash
          Files.move(dataDir, oldDir)
          Files.move(Paths.get(tmp), dataDir)
          deleteRecursive(oldDir)
          (files.size, parquetFiles(dataDir).size)
        }
    }
  }

  /** Replace the table's CONTENT with `df` atomically — the same
    * rename-aside swap (and crash recovery) as [[compact]], but with new
    * rows instead of a rewrite of the old ones. `df` may read from this
    * very table (it is materialized into the aside dir before the swap).
    * The table schema becomes `df`'s schema; the schema flips WITH the
    * data (staged to `_schema.json.new` before the move, renamed into
    * place right after — [[recoverSwap]] completes or discards the staged
    * file depending on whether the data move happened), so a crash can
    * never leave new data readable under the old schema. */
  def replace(spark: SparkSession, table: String, df: DataFrame): Unit =
      lockFor(table).synchronized {
    recoverSwap(table)
    val tmp = s"$table/data_replace"
    df.write.mode("overwrite").parquet(tmp)
    val dataDir = Paths.get(s"$table/data")
    val oldDir = Paths.get(s"$table/data_old")
    deleteRecursive(oldDir)
    Files.createDirectories(Paths.get(table))
    val staged = Paths.get(s"$table/_schema.json.new")
    Files.write(staged, df.schema.json.getBytes(StandardCharsets.UTF_8))
    if (Files.exists(dataDir)) Files.move(dataDir, oldDir)
    Files.move(Paths.get(tmp), dataDir)
    Files.move(staged, schemaPath(table),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    deleteRecursive(oldDir)
  }

  private[graft] def deleteRecursive(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}

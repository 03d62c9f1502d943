package graft.kfs

import java.io.FileNotFoundException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** On-disk layout, discovery, and sidecar builders for KFS segment logs —
  * clean-room equivalents of the reference's discovery subsystem:
  *
  *   - `{root}/{topic}/{partition}/segment-{base %020d}.kfs` layout
  *     (`kafscale-spec.md:74-83`)
  *   - completeness gating on the trailing `END!` footer magic, checked by
  *     reading only the last 4 bytes (`discovery/discovery.go:202-228`)
  *   - `.kfst` time-index sidecar: 40-byte footer (magic `KFTF`, version,
  *     minTs, maxTs, minOffset, maxOffset) for time pruning
  *     (`discovery/time_index.go:32-49`)
  *   - a per-partition manifest with per-segment stats, replacing LIST
  *     storms (`discovery/manifest.go:50-66`), published as numbered
  *     generations `{partition}/_manifest/{gen %020d}.json` — each commit
  *     renames to a FRESH name and unlinks the superseded generation, never
  *     replacing a file in place (on ext4 a rename onto an existing file,
  *     like an `O_TRUNC` open, makes the kernel flush the new data first —
  *     `auto_da_alloc` — and stalls the caller for tens of milliseconds)
  *
  * All IO goes through Hadoop `FileSystem`, so a root of `/local/dir`,
  * `file:///dir`, `hdfs://...` or `s3a://bucket/prefix` behaves identically —
  * the reference is S3-native (`discovery.go:52-199` LIST discovery,
  * `pkg/storage/log.go:653-683` ranged GETs) and this is the Spark-side
  * equivalent. Completeness and discovery fallbacks use *ranged* reads
  * (4-byte tail, 32-byte header + 16-byte footer), never whole-object GETs.
  *
  * Discovery is driver-side metadata work (like Spark's own FileIndex);
  * decode is executor-side. At 100 TB the manifest path is the one that
  * scales — a single small JSON read per partition instead of object-store
  * LIST calls.
  */
object KfsLayout {

  val TimeIndexMagic = 0x4B465446 // "KFTF"

  final case class SegmentRef(
      topic: String,
      partition: Int,
      path: String,
      baseOffset: Long,
      lastOffset: Long,
      minTsMs: Long,
      maxTsMs: Long,
      sizeBytes: Long)

  def segmentFileName(baseOffset: Long): String = f"segment-$baseOffset%020d.kfs"

  /** Hadoop conf: the active session's (carries `spark.hadoop.*` overrides —
    * s3a credentials, endpoints) when on the driver; vanilla defaults
    * otherwise. Executor-side readers get a [[SerializableHadoopConf]]
    * instead — this accessor is for driver-side discovery/write paths.
    *
    * CACHED per session instance, and vanilla defaults cached process-wide:
    * this accessor sits on per-file driver paths (manifest IO, footer
    * harvests — the latter on pool threads where `getActiveSession` is
    * empty), and both `newHadoopConf()` (a full conf copy + SQL-conf
    * overlay) and `new Configuration()` (an XML resource parse on first
    * read) are far too heavy per call. The session's conf is FROZEN AT
    * FIRST USE: a later `spark.conf.set("spark.hadoop.*", ...)` is not
    * picked up for the session's lifetime (set credentials/endpoints
    * before the first KFS/Iceberg operation, or start a new session).
    * Callers must treat the returned
    * conf as READ-ONLY — every in-repo consumer only reads it or hands it
    * to `getFileSystem`/[[SerializableHadoopConf]], which copy-serialize. */
  @volatile private var sessionConfCache
      : (org.apache.spark.sql.SparkSession, Configuration) = null
  private lazy val vanillaConf = new Configuration()
  def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        val c = sessionConfCache
        if (c != null && (c._1 eq s)) c._2
        else {
          val nc = s.sessionState.newHadoopConf()
          sessionConfCache = (s, nc)
          nc
        }
      case None => vanillaConf
    }

  private def fsFor(path: HPath): FileSystem = path.getFileSystem(hadoopConf)

  // ---- write ------------------------------------------------------------

  /** Write one segment + `.kfst` sidecar; returns its ref. Topic names may
    * not contain quotes or backslashes — the streaming-offset checkpoint
    * JSON ([[KfsStreamOffset]]) embeds them unescaped (the reference's
    * Kafka-topic charset `[a-zA-Z0-9._-]` is stricter still). */
  def writeSegment(
      root: String, topic: String, partition: Int,
      records: Seq[KfsCodec.Record], batchSize: Int = 500,
      conf: Configuration = null,
      compression: Int = KfsCompression.None): SegmentRef = {
    require(!topic.exists(c => c == '"' || c == '\\'),
      s"topic name must not contain quotes or backslashes: $topic")
    val dir = partitionDir(root, topic, partition)
    val fs = dir.getFileSystem(if (conf != null) conf else hadoopConf)
    fs.mkdirs(dir)
    val base = records.head.offset
    val seg = KfsCodec.buildSegment(records, batchSize, compression)
    val p = new HPath(dir, segmentFileName(base))
    val minTs = records.map(_.timestampMs).min
    val maxTs = records.map(_.timestampMs).max
    // Sidecar first, then temp-write + rename of the .kfs itself: a reader
    // (batch discovery or the file stream, which globs *.kfs) can never
    // observe a truncated segment. On file:// and hdfs:// the rename is
    // atomic; on s3a it is copy+delete, where the END!-footer gate is what
    // actually guarantees a listed segment is whole (a partial PUT never
    // carries the trailing magic) — same contract as the reference writer.
    // The temp file lives in a SIBLING staging dir OUTSIDE the scanned
    // tree: a concurrent recursive listing must never enumerate a file
    // that can vanish mid-listing (Hadoop's local FS stats each listed
    // entry lazily, and a vanished entry aborts the whole iteration).
    writeTimeIndexFs(fs, p, minTs, maxTs, base, records.last.offset)
    // key Bloom sidecar (see [[KfsBloom]]): written before the segment
    // publishes, same visibility contract as the time index
    val bloom = KfsBloom.build(records.iterator.map(_.key), records.length)
    val bout = fs.create(new HPath(p.toString + ".kfsb"), true)
    try bout.write(KfsBloom.serialize(bloom)) finally bout.close()
    val stagingDir = new HPath(root.stripSuffix("/") + "_staging")
    fs.mkdirs(stagingDir)
    val tmp = new HPath(stagingDir,
      s"$topic-$partition-${segmentFileName(base)}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(seg) finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"cannot publish segment $p")
    }
    val qualified = fs.makeQualified(p)
    SegmentRef(topic, partition, qualified.toString, base, records.last.offset,
      minTs, maxTs, seg.length.toLong)
  }

  /** 40-byte `.kfst` footer: magic, version i32, minTs, maxTs, minOffset,
    * maxOffset (time_index.go:32-49 shape). */
  def writeTimeIndex(segmentPath: String, minTs: Long, maxTs: Long,
      minOff: Long, maxOff: Long): Unit = {
    val p = new HPath(segmentPath)
    writeTimeIndexFs(fsFor(p), p, minTs, maxTs, minOff, maxOff)
  }

  private def writeTimeIndexFs(fs: FileSystem, segmentPath: HPath,
      minTs: Long, maxTs: Long, minOff: Long, maxOff: Long): Unit = {
    val buf = ByteBuffer.allocate(40)
    buf.putInt(TimeIndexMagic).putInt(1)
      .putLong(minTs).putLong(maxTs).putLong(minOff).putLong(maxOff)
    val out = fs.create(new HPath(segmentPath.toString + ".kfst"), true)
    try out.write(buf.array()) finally out.close()
  }

  def readTimeIndex(segmentPath: String): Option[(Long, Long, Long, Long)] = {
    val p = new HPath(segmentPath + ".kfst")
    readTimeIndexFs(fsFor(p), p)
  }

  /** Open-and-catch rather than exists-then-open: one round trip instead of
    * two on object stores. */
  private def readTimeIndexFs(fs: FileSystem, p: HPath)
      : Option[(Long, Long, Long, Long)] =
    try {
      val in = fs.open(p)
      val bytes = new Array[Byte](40)
      try in.readFully(0, bytes)
      finally in.close()
      val buf = ByteBuffer.wrap(bytes)
      if (buf.getInt() != TimeIndexMagic) None
      else {
        buf.getInt() // version
        Some((buf.getLong(), buf.getLong(), buf.getLong(), buf.getLong()))
      }
    } catch {
      case _: FileNotFoundException => None
      case _: java.io.EOFException => None // sidecar shorter than 40 bytes
    }

  /** Directory of a partition's manifest generations. Its own directory,
    * so a reader lists one or two entries instead of every segment and
    * sidecar; [[listCompleted]] keeps only depth-3 `*.kfs` paths and Spark's
    * file index skips `_`-prefixed directories, so neither sees it. */
  private def manifestDir(root: String, topic: String, partition: Int): HPath =
    new HPath(partitionDir(root, topic, partition), "_manifest")

  /** The single-file manifest of earlier layouts, read when no generation
    * exists and removed by the next publish. */
  private def legacyManifest(root: String, topic: String, partition: Int): HPath =
    new HPath(partitionDir(root, topic, partition), "manifest.json")

  private def partitionDir(root: String, topic: String, partition: Int): HPath =
    new HPath(new HPath(root, topic), partition.toString)

  private val GenerationName = """(\d{20})\.json""".r

  /** Published generations under `dir`, oldest first; empty when `dir` is
    * absent. Checksum and staging files never match the name pattern. */
  private def listGenerations(fs: FileSystem, dir: HPath): Seq[(Long, HPath)] =
    (try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil })
      .flatMap(st => st.getPath.getName match {
        case GenerationName(g) => Some(g.toLong -> st.getPath)
        case _ => None
      }).sortBy(_._1)

  /** Publish a topic/partition's manifest from its segment refs. The JSON
    * is staged in the sibling staging dir (same contract as segments), then
    * renamed to a FRESH generation `_manifest/{gen %020d}.json`, one past
    * the newest listed; the superseded generations (and a legacy
    * `manifest.json`) are deleted after. A reader lists the directory and
    * opens the newest generation, so it sees the old manifest or the new
    * one, never a torn one or none ([[readManifestRefs]] re-lists when a
    * listed generation vanishes before it is opened). Two committers
    * racing keep last-writer-wins: a taken generation name is skipped, and
    * each deletes only generations older than its own. */
  def writeManifest(root: String, topic: String, partition: Int,
      refs: Seq[SegmentRef], conf: Configuration = null): Unit = {
    val entries = refs.sortBy(_.baseOffset).map { r =>
      s"""{"path":"${r.path}","base_offset":${r.baseOffset},"last_offset":${r.lastOffset},""" +
        s""""min_ts_ms":${r.minTsMs},"max_ts_ms":${r.maxTsMs},"size_bytes":${r.sizeBytes}}"""
    }
    val json = s"""{"topic":"$topic","partition":$partition,"segments":[${entries.mkString(",")}]}"""
    val dir = manifestDir(root, topic, partition)
    val fs = dir.getFileSystem(if (conf != null) conf else hadoopConf)
    fs.mkdirs(dir)
    val stagingDir = new HPath(root.stripSuffix("/") + "_staging")
    fs.mkdirs(stagingDir)
    val tmp = new HPath(stagingDir,
      s"$topic-$partition-manifest.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    @scala.annotation.tailrec
    def publish(gen: Long, attempt: Int): Unit = {
      val dest = new HPath(dir, f"$gen%020d.json")
      if (fs.exists(dest) || !fs.rename(tmp, dest)) {
        if (attempt >= ManifestAttempts) {
          fs.delete(tmp, false)
          throw new java.io.IOException(s"cannot publish manifest $dest")
        }
        publish(gen + 1, attempt + 1)
      }
    }
    val superseded = listGenerations(fs, dir)
    publish(superseded.lastOption.fold(0L)(_._1 + 1), 1)
    superseded.foreach { case (_, p) => fs.delete(p, false) }
    fs.delete(legacyManifest(root, topic, partition), false)
  }

  /** Drop cached discovery results under `root` — callers that just
    * committed new segments (the DSv2 writer) invalidate so same-session
    * readers observe the write immediately instead of after the TTL. */
  def invalidateDiscoveryCache(root: String): Unit = {
    val it = discoveryCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(s"$root|")) it.remove()
    val it2 = logStartCache.keySet().iterator()
    while (it2.hasNext) if (it2.next().startsWith(s"$root|")) it2.remove()
    val it3 = logStartTopicsCache.keySet().iterator()
    while (it3.hasNext) if (it3.next().startsWith(s"$root|")) it3.remove()
  }

  // ---- log start offsets (DeleteRecords horizon) -------------------------

  /** Per-partition LOG START OFFSETS — the Kafka DeleteRecords horizon:
    * records with `offset < logStart(partition)` are LOGICALLY deleted even
    * when their segment straddles the horizon (whole segments below it are
    * physically deleted by [[KfsRetention.deleteRecords]]). One small JSON
    * per topic, atomic-rename published like manifests, TTL-memoized like
    * discovery. The file is absent for topics never touched by
    * DeleteRecords — the common case pays one negative glob per root per
    * TTL window, nothing per topic. */
  def logStartPath(root: String, topic: String): HPath =
    new HPath(new HPath(root, topic), "logstart.json")

  def writeLogStarts(root: String, topic: String,
      starts: Map[Int, Long]): Unit = {
    val entries = starts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString(",")
    val p = logStartPath(root, topic)
    val fs = fsFor(p)
    fs.mkdirs(p.getParent)
    val stagingDir = new HPath(root.stripSuffix("/") + "_staging")
    fs.mkdirs(stagingDir)
    val tmp = new HPath(stagingDir,
      s"$topic-logstart.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"{$entries}".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"cannot publish log starts $p")
    }
    invalidateDiscoveryCache(root)
  }

  private val logStartCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Map[Int, Long])]()
  private val LogStartEntry = "\"(\\d+)\"\\s*:\\s*(\\d+)".r

  def readLogStarts(root: String, topic: String,
      fresh: Boolean = false): Map[Int, Long] = {
    val key = s"$root|logstart|$topic"
    val now = System.currentTimeMillis()
    if (!fresh) {
      val hit = logStartCache.get(key)
      if (hit != null && now - hit._1 <= discoveryTtlMs) return hit._2
    }
    val p = logStartPath(root, topic)
    val fs = fsFor(p)
    val loaded =
      if (!fs.exists(p)) Map.empty[Int, Long]
      else {
        val in = fs.open(p)
        val json =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            StandardCharsets.UTF_8)
          finally in.close()
        LogStartEntry.findAllMatchIn(json)
          .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
      }
    logStartCache.put(key, (now, loaded))
    loaded
  }

  /** Topics under `root` that carry a DeleteRecords horizon — ONE glob per
    * root per TTL window, so topics without one cost nothing per query.
    * Scans use this to read logstart files only where they exist, and the
    * metadata-aggregate pushdown uses it as its veto probe.
    *
    * `fresh = true` bypasses the TTL read (still repopulating the cache):
    * the aggregate-pushdown veto MUST see a DeleteRecords horizon another
    * writer landed inside the TTL window — a stale miss there answers
    * COUNT/MIN from untrimmed flush-time segment stats, a sharper failure
    * than the bounded-staleness reads plain scans get. The veto runs once
    * per plan, and the probe is one glob. */
  def topicsWithLogStarts(root: String, fresh: Boolean = false): Set[String] = {
    val key = s"$root|logstart-topics|"
    val now = System.currentTimeMillis()
    val hit = logStartTopicsCache.get(key)
    if (!fresh && hit != null && now - hit._1 <= discoveryTtlMs) return hit._2
    val fs = fsFor(new HPath(root))
    val found =
      try fs.globStatus(new HPath(root, "*/logstart.json")) match {
        case null => Set.empty[String]
        case arr => arr.map(_.getPath.getParent.getName).toSet
      }
      catch { case _: java.io.FileNotFoundException => Set.empty[String] }
    logStartTopicsCache.put(key, (now, found))
    found
  }

  private val logStartTopicsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()

  // ---- discovery --------------------------------------------------------

  /** TTL discovery cache (X13, `discovery.go:243-286`): listing an
    * object-store prefix per query is the reference's known hot spot; a
    * short TTL amortizes it across queries without hiding new segments for
    * long. Keyed by (root, topics, partitions). */
  @volatile var discoveryTtlMs: Long = 5000
  private val discoveryCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Seq[SegmentRef])]()

  def listCompletedCached(root: String, topics: Option[Set[String]] = None,
      partitions: Option[Set[Int]] = None): Seq[SegmentRef] = {
    val key = s"$root|${topics.map(_.toSeq.sorted)}|${partitions.map(_.toSeq.sorted)}"
    val now = System.currentTimeMillis()
    val hit = discoveryCache.get(key)
    if (hit != null && now - hit._1 <= discoveryTtlMs) hit._2
    else {
      val refs = listCompleted(root, topics, partitions)
      discoveryCache.put(key, (now, refs))
      refs
    }
  }

  /** Per-segment stats memo: a COMPLETED segment is immutable (atomic
    * publish; a torn foreign upload never grows), so stats keyed by
    * (path, size) stay valid forever — an incomplete verdict is equally
    * stable because completion changes the size and thus the key. This
    * turns the per-trigger re-listings of the streaming source into pure
    * LIST calls (zero ranged reads for already-seen segments). Bounded
    * access-order LRU so 10⁶-segment estates don't grow the driver heap.
    * Value: None = incomplete; Some(stats) = completed. */
  private val statsCacheMax = 200000
  private val statsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Option[(Long, Long, Long, Long)]](
      1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[(Long, Long, Long, Long)]])
          : Boolean = size() > statsCacheMax
    })

  /** Driver-side probe pool: completeness + sidecar reads are independent
    * ranged GETs, and cold discovery over thousands of new segments is
    * latency-bound on an object store — probe concurrently. */
  private lazy val probePool = java.util.concurrent.Executors.newFixedThreadPool(
    math.min(16, Runtime.getRuntime.availableProcessors()),
    (r: Runnable) => {
      val t = new Thread(r, "kfs-discovery-probe")
      t.setDaemon(true)
      t
    })

  /** List completed segments under root, newest metadata from `.kfst`
    * sidecars when present. Completeness = footer magic via 4-byte tail read
    * (a ranged GET on object stores), memoized per immutable (path, size)
    * and probed in parallel on cold misses. Ordered (topic, partition,
    * baseOffset) — the reference's scan order (`discovery.go:178-186`). */
  def listCompleted(root: String, topics: Option[Set[String]] = None,
      partitions: Option[Set[Int]] = None): Seq[SegmentRef] = {
    val rootPath = new HPath(root)
    val fs = fsFor(rootPath)
    if (!fs.exists(rootPath)) return Nil
    val rootUri = fs.makeQualified(rootPath).toUri.getPath.stripSuffix("/")
    // recursive flat LIST — one paged listing call per ~1000 objects on s3a,
    // exactly the reference's discovery LIST shape (discovery.go:52-116).
    // Retried: a file deleted between directory enumeration and the
    // iterator's lazy stat (compaction, a foreign writer's temp) aborts
    // the whole iteration on some filesystems — transient by definition,
    // so list again rather than fail the query.
    def keep(rel: String): Option[(String, Int)] = {
      val parts = rel.split('/')
      if (parts.length == 3 && parts(1).forall(_.isDigit)) {
        val topic = parts(0)
        val partition = parts(1).toInt
        if (topics.forall(_.contains(topic)) &&
          partitions.forall(_.contains(partition))) Some((topic, partition))
        else None
      } else None
    }
    def listOnce(): Seq[(String, Int, HPath, Long)] = {
      val candidates = Seq.newBuilder[(String, Int, HPath, Long)]
      if (fs.getUri.getScheme == "file") {
        // local fast path: Hadoop's LocalFileSystem materializes per-file
        // permission info by SHELLING OUT (`ls`) when the native lib is
        // absent — ~4 ms per file, which turns a per-trigger re-listing
        // of a few hundred segments into seconds. java.nio stats the
        // same files in microseconds; object-store schemes keep the
        // paged Hadoop LIST below.
        val base = java.nio.file.Paths.get(rootUri)
        val stream = java.nio.file.Files.walk(base)
        try {
          stream.forEach { p =>
            val name = p.getFileName.toString
            if (name.endsWith(".kfs")) {
              val rel = base.relativize(p).toString
              keep(rel).foreach { case (topic, partition) =>
                // qualify identically to the Hadoop listing (file: scheme)
                // — ref paths are compared as STRINGS downstream (manifest
                // merge dedupe, stats memo keys)
                candidates += ((topic, partition,
                  fs.makeQualified(new HPath(p.toString)),
                  java.nio.file.Files.size(p)))
              }
            }
          }
        } finally stream.close()
      } else {
        val it = fs.listFiles(rootPath, true)
        while (it.hasNext) {
          val st = it.next()
          val p = st.getPath
          if (p.getName.endsWith(".kfs")) {
            val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
            keep(rel).foreach { case (topic, partition) =>
              candidates += ((topic, partition, p, st.getLen))
            }
          }
        }
      }
      candidates.result()
    }
    val cands = {
      var attempt = 0
      var out: Seq[(String, Int, HPath, Long)] = null
      while (out == null) {
        attempt += 1
        try out = listOnce()
        catch {
          // vanished entry (hadoop: RuntimeException; nio walk/size:
          // NoSuchFileException et al) — transient, re-list
          case e @ (_: RuntimeException | _: java.io.IOException)
            if attempt < 3 && !Thread.currentThread().isInterrupted =>
        }
      }
      out
    }

    def probe(p: HPath, size: Long): Option[(Long, Long, Long, Long)] =
      if (!tailIsComplete(fs, p, size)) None
      else Some(readTimeIndexFs(fs, new HPath(p.toString + ".kfst"))
        .getOrElse(headerFooterStats(fs, p, size)))

    def cacheKey(p: HPath, size: Long) = s"${p.toString}|$size"

    // resolve into a call-local map so an LRU eviction mid-call can never
    // silently drop a listed segment
    val resolved = new java.util.concurrent.ConcurrentHashMap[
      String, Option[(Long, Long, Long, Long)]]()
    val misses = cands.filter { case (_, _, p, size) =>
      val hit = statsCache.get(cacheKey(p, size))
      if (hit != null) { resolved.put(cacheKey(p, size), hit); false }
      else true
    }
    def probeAndRecord(p: HPath, size: Long): Unit = {
      val stats = probe(p, size)
      resolved.put(cacheKey(p, size), stats)
      statsCache.put(cacheKey(p, size), stats)
    }
    if (misses.size > 1) {
      val tasks = misses.map { case (_, _, p, size) =>
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = probeAndRecord(p, size)
        }
      }
      probePool.invokeAll(java.util.Arrays.asList(tasks: _*))
        .forEach(f => f.get()) // propagate probe failures
    } else misses.foreach { case (_, _, p, size) => probeAndRecord(p, size) }

    cands.flatMap { case (topic, partition, p, size) =>
      resolved.get(cacheKey(p, size)).map {
        case (minTs, maxTs, minOff, maxOff) =>
          SegmentRef(topic, partition, p.toString, minOff, maxOff,
            minTs, maxTs, size)
      }
    }.sortBy(r => (r.topic, r.partition, r.baseOffset))
  }

  /** Read the last 4 bytes only — mirrors the ranged-GET completeness check
    * (`discovery.go:202-228`). */
  private def tailIsComplete(fs: FileSystem, p: HPath, size: Long): Boolean = {
    if (size < 4) return false
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](4)
      in.readFully(size - 4, buf)
      KfsCodec.isComplete(buf)
    } finally in.close()
  }

  /** Discovery fallback when no `.kfst` sidecar exists: two ranged reads —
    * the 32-byte segment header (base offset) and 16-byte footer (last
    * offset) — instead of downloading the object. CRC is deliberately NOT
    * checked here; decode validates it. Timestamps are unknown without the
    * sidecar, so the segment never time-prunes (safe over-read). */
  private def headerFooterStats(fs: FileSystem, p: HPath, size: Long)
      : (Long, Long, Long, Long) = {
    val in = fs.open(p)
    try {
      val hdr = new Array[Byte](KfsCodec.SegmentHeaderLen)
      in.readFully(0, hdr)
      val hb = ByteBuffer.wrap(hdr)
      if (hb.getInt() != KfsCodec.SegmentMagic)
        throw new KfsCodec.KfsFormatException(s"bad segment magic in $p")
      hb.getShort(); hb.getShort() // version, flags
      val base = hb.getLong()
      val foot = new Array[Byte](KfsCodec.FooterLen)
      in.readFully(size - KfsCodec.FooterLen, foot)
      val fb = ByteBuffer.wrap(foot)
      fb.getInt() // crc — validated at decode time
      val last = fb.getLong()
      (Long.MinValue, Long.MaxValue, base, last)
    } finally in.close()
  }

  /** The committed manifest's refs, or None when no manifest exists —
    * usable executor-side with an explicit conf (the DSv2 writer's
    * pre-write overlap guard). Reads the newest generation listed under
    * `_manifest/`, or the legacy `manifest.json` when there is none. A
    * listed file that vanishes before it is opened (a concurrent publish
    * deleted it) triggers a re-list, up to [[ManifestAttempts]] times;
    * a missing file under an unchanged listing means no manifest. */
  def readManifestRefs(root: String, topic: String, partition: Int,
      conf: Configuration = null): Option[Seq[SegmentRef]] = {
    val dir = manifestDir(root, topic, partition)
    val fs = dir.getFileSystem(if (conf != null) conf else hadoopConf)
    @scala.annotation.tailrec
    def read(attempt: Int, listed: Option[Seq[(Long, HPath)]]): Option[String] = {
      val gens = listGenerations(fs, dir)
      val p = gens.lastOption.fold(legacyManifest(root, topic, partition))(_._2)
      val got =
        try {
          val in = fs.open(p)
          try Right(new String(org.apache.commons.io.IOUtils.toByteArray(in),
            StandardCharsets.UTF_8))
          finally in.close()
        } catch { case e: FileNotFoundException => Left(e) }
      got match {
        case Right(json) => Some(json)
        case Left(_) if listed.contains(gens) => None
        case Left(e) if attempt >= ManifestAttempts =>
          throw new java.io.IOException(
            s"manifest of $topic/$partition kept changing while read", e)
        case Left(_) => read(attempt + 1, Some(gens))
      }
    }
    read(1, None).map { json =>
      // minimal parser for our own manifest shape
      val entry = """\{"path":"([^"]+)","base_offset":(\d+),"last_offset":(\d+),"min_ts_ms":(-?\d+),"max_ts_ms":(-?\d+),"size_bytes":(\d+)\}""".r
      entry.findAllMatchIn(json).map { m =>
        SegmentRef(topic, partition, m.group(1), m.group(2).toLong,
          m.group(3).toLong, m.group(4).toLong, m.group(5).toLong,
          m.group(6).toLong)
      }.toSeq.sortBy(_.baseOffset)
    }
  }

  /** Retry bound of a manifest publish or read: each retry means a
    * concurrent publish took a generation name, or deleted a listed
    * generation before it was opened. */
  private val ManifestAttempts = 8

  /** Manifest-based discovery with LIST fallback (`manifest.go:68-135`). */
  def listFromManifest(root: String, topic: String, partition: Int): Seq[SegmentRef] =
    readManifestRefs(root, topic, partition).getOrElse(
      listCompleted(root, Some(Set(topic)), Some(Set(partition))))

  /** Read a segment's key-Bloom sidecar; None when absent or unreadable
    * (pruning then keeps the segment). */
  def readBloom(segmentPath: String, conf: Configuration = null)
      : Option[KfsBloom.Bloom] = {
    val p = new HPath(segmentPath + ".kfsb")
    val fs = p.getFileSystem(if (conf != null) conf else hadoopConf)
    try {
      val size = fs.getFileStatus(p).getLen.toInt
      val in = fs.open(p)
      val bytes = new Array[Byte](size)
      try in.readFully(0, bytes) finally in.close()
      KfsBloom.deserialize(bytes)
    } catch {
      case _: FileNotFoundException => None
      case _: java.io.IOException => None
    }
  }

  /** Drop segments whose key Bloom excludes a pushed `_key` predicate.
    * `keyGroups` is a conjunction of disjunctions — `_key = a` contributes
    * `[a]`, `_key IN (a, b)` contributes `[a, b]` — so a segment survives
    * only when EVERY group has at least one possibly-present key. Sidecars
    * are probed concurrently (driver-side ranged reads, same pool as
    * completeness probes); a missing sidecar keeps the segment. */
  def filterByKeyBloom(refs: Seq[SegmentRef],
      keyGroups: Seq[Seq[Array[Byte]]]): Seq[SegmentRef] = {
    if (keyGroups.isEmpty || refs.isEmpty) return refs
    import scala.jdk.CollectionConverters._
    val tasks = refs.map { r =>
      new java.util.concurrent.Callable[Boolean] {
        override def call(): Boolean = readBloom(r.path) match {
          case Some(b) => keyGroups.forall(_.exists(b.contains))
          case None => true
        }
      }
    }
    val keep = probePool.invokeAll(tasks.asJava).asScala.map(_.get())
    refs.zip(keep).collect { case (r, true) => r }
  }

  /** Prune segment refs by offset range / time range — the reference's
    * `filterSegments` (`server.go:2201-2231`): a segment survives when its
    * [min,max] window intersects the predicate range. */
  def prune(refs: Seq[SegmentRef],
      offsetMin: Option[Long] = None, offsetMax: Option[Long] = None,
      tsMinMs: Option[Long] = None, tsMaxMs: Option[Long] = None): Seq[SegmentRef] =
    refs.filter { r =>
      offsetMin.forall(m => r.lastOffset >= m) &&
        offsetMax.forall(m => r.baseOffset <= m) &&
        tsMinMs.forall(m => r.maxTsMs >= m) &&
        tsMaxMs.forall(m => r.minTsMs <= m)
    }
}

/** Minimal serializable wrapper so executor-side readers carry the driver's
  * Hadoop configuration (s3a credentials, endpoints) — the standard Spark
  * pattern (`org.apache.spark.util.SerializableConfiguration` is
  * private[spark], so we keep our own equivalent).
  *
  * Deserialization is CACHED per (instance id, JVM): this wrapper rides in
  * reader/writer-factory task closures, so without the cache every task
  * re-parses the whole Configuration — hundreds of gzip-compressed string
  * entries; stack-sampling a bench slice put ~4 % of executor runnable
  * time in that parse. The conf serializes once into an opaque byte blob;
  * the first task in a JVM parses it, every later task of the same scan
  * reads the blob as one array and reuses the parsed instance. Consumers
  * treat the conf as read-only (they only open FileSystems from it), so
  * sharing one instance across a JVM's tasks is safe — Configuration reads
  * are synchronized. */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private val id: String = java.util.UUID.randomUUID().toString
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val buf = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(buf)
    value.write(d)
    d.flush()
    val arr = buf.toByteArray
    out.writeInt(arr.length)
    out.write(arr)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    val arr = new Array[Byte](in.readInt())
    in.readFully(arr)
    value = SerializableHadoopConf.cached(id, arr)
  }
}

object SerializableHadoopConf {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]()
  private def cached(id: String, arr: Array[Byte]): Configuration = {
    // evict BEFORE computeIfAbsent: the JDK contract forbids the mapping
    // function from mutating the map it runs inside (undefined behavior /
    // IllegalStateException once the 65th distinct id lands in a
    // long-lived executor). Checked-then-cleared outside, the worst race
    // is a redundant clear — a re-parse, never corruption.
    if (cache.size > 64) cache.clear() // bounded; ids are per-scan
    cache.computeIfAbsent(id, _ => {
      val c = new Configuration(false)
      c.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(arr)))
      c
    })
  }
}

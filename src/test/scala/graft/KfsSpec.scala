package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kfs._

/** Codec round-trips plus the reference's e2e acceptance fixture
  * (`minio_e2e_test.go:46-150`, FIXTURES.md §1): orders=200, payments=50,
  * count/TAIL/join assertions. */
class KfsSpec extends AnyFunSuite {
  import TestSpark._

  private def mkRecords(n: Int, keyFmt: String = "order-%03d",
      baseTs: Long = 1706000000000L): Seq[KfsCodec.Record] =
    (0 until n).map { i =>
      KfsCodec.Record(i.toLong, baseTs + i * 1000L,
        keyFmt.format(i).getBytes("UTF-8"),
        s"""{"id":$i,"amount":${i * 10}}""".getBytes("UTF-8"),
        Seq(KfsCodec.Header("h1", "v1".getBytes("UTF-8"))))
    }

  test("segment round-trip preserves offsets, timestamps, keys, values, headers") {
    val recs = mkRecords(200)
    val seg = KfsCodec.buildSegment(recs, batchSize = 64)
    val out = KfsCodec.decodeSegment(seg).toSeq
    assert(out.length == 200)
    out.zip(recs).foreach { case (a, b) =>
      assert(a.offset == b.offset)
      assert(a.timestampMs == b.timestampMs)
      assert(new String(a.key, "UTF-8") == new String(b.key, "UTF-8"))
      assert(new String(a.value, "UTF-8") == new String(b.value, "UTF-8"))
      assert(a.headers.map(_.k) == b.headers.map(_.k))
    }
    val info = KfsCodec.segmentInfo(seg)
    assert(info.baseOffset == 0 && info.lastOffset == 199 && info.messageCount == 200)
  }

  test("compressed batches: reference-parity reject by default, all four codecs round-trip when allowed") {
    val recs = mkRecords(200)
    for (codec <- Seq(KfsCompression.Gzip, KfsCompression.Snappy,
        KfsCompression.Lz4, KfsCompression.Zstd)) {
      assert(KfsCompression.supported(codec),
        s"codec ${KfsCompression.name(codec)} missing from the Spark classpath")
      val seg = KfsCodec.buildSegment(recs, batchSize = 64, compression = codec)
      // default = the reference decoder's behavior (decoder.go:198-201)
      val e = intercept[KfsCodec.KfsFormatException] {
        KfsCodec.decodeSegment(seg).toSeq
      }
      assert(e.getMessage.contains("compressed batches not supported"))
      // opt-in decode: byte-exact round trip
      val out = KfsCodec.decodeSegment(seg, allowCompressed = true).toSeq
      assert(out.length == 200)
      out.zip(recs).foreach { case (a, b) =>
        assert(a.offset == b.offset && a.timestampMs == b.timestampMs)
        assert(java.util.Arrays.equals(a.key, b.key))
        assert(java.util.Arrays.equals(a.value, b.value))
        assert(a.headers.map(_.k) == b.headers.map(_.k))
      }
      // JSON-ish payloads must actually compress (sanity that the body is
      // really encoded, not copied)
      val plain = KfsCodec.buildSegment(recs, batchSize = 64)
      assert(seg.length < plain.length, KfsCompression.name(codec))
      // streaming decoder agrees, including with batch-pruning bounds
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(seg))
      val streamed = KfsCodec.decodeSegmentStream(in, seg.length,
        allowCompressed = true).toSeq
      assert(streamed.map(_.offset) == out.map(_.offset))
      val in2 = new java.io.DataInputStream(new java.io.ByteArrayInputStream(seg))
      val pruned = KfsCodec.decodeSegmentStream(in2, seg.length,
        bounds = Some(KfsCodec.BatchBounds(Some(100L), Some(149L), None, None)),
        allowCompressed = true).toSeq
      assert(pruned.map(_.offset) == (64L to 191L)) // covering batches [64,127],[128,191]
    }
  }

  test("property: random records round-trip byte-exactly through every codec") {
    val rnd = new scala.util.Random(99)
    def randBytes(max: Int): Array[Byte] = {
      val a = new Array[Byte](rnd.nextInt(max)); rnd.nextBytes(a); a
    }
    (0 until 20).foreach { trial =>
      val base = rnd.nextInt(1000).toLong
      val n = 1 + rnd.nextInt(120)
      val recs = (0 until n).map { i =>
        KfsCodec.Record(base + i,
          1700000000000L + rnd.nextInt(1 << 20),
          if (rnd.nextBoolean()) null else randBytes(40),
          if (rnd.nextInt(10) == 0) null else randBytes(200),
          (0 until rnd.nextInt(3)).map(h =>
            KfsCodec.Header(s"h$h", if (rnd.nextBoolean()) null else randBytes(10))))
      }
      for (codec <- Seq(KfsCompression.None, KfsCompression.Gzip,
          KfsCompression.Snappy, KfsCompression.Lz4, KfsCompression.Zstd)) {
        val seg = KfsCodec.buildSegment(recs,
          batchSize = 1 + rnd.nextInt(64), compression = codec)
        val out = KfsCodec.decodeSegment(seg, allowCompressed = true).toSeq
        assert(out.length == recs.length, s"trial $trial codec $codec")
        out.zip(recs).foreach { case (a, b) =>
          assert(a.offset == b.offset && a.timestampMs == b.timestampMs)
          assert(java.util.Arrays.equals(a.key, b.key))
          assert(java.util.Arrays.equals(a.value, b.value))
          assert(a.headers.map(_.k) == b.headers.map(_.k))
          a.headers.zip(b.headers).foreach { case (x, y) =>
            assert(java.util.Arrays.equals(x.v, y.v))
          }
        }
      }
    }
  }

  test("fuzz: corrupted compressed bodies surface as KfsFormatException, not codec crashes") {
    val recs = mkRecords(80)
    val rnd = new scala.util.Random(7)
    for (codec <- Seq(KfsCompression.Gzip, KfsCompression.Snappy,
        KfsCompression.Lz4, KfsCompression.Zstd)) {
      val seg = KfsCodec.buildSegment(recs, batchSize = 32, compression = codec)
      (0 until 200).foreach { _ =>
        val mutated = seg.clone()
        // flip bytes inside the batch area only (past segment header, before
        // footer) — segment CRC is recomputed so corruption reaches the codec
        val i = KfsCodec.SegmentHeaderLen + KfsCodec.BatchHeaderLen +
          rnd.nextInt(mutated.length - KfsCodec.SegmentHeaderLen -
            KfsCodec.BatchHeaderLen - KfsCodec.FooterLen)
        mutated(i) = (mutated(i) ^ (1 + rnd.nextInt(255))).toByte
        val crc = new java.util.zip.CRC32C
        crc.update(mutated, KfsCodec.SegmentHeaderLen,
          mutated.length - KfsCodec.FooterLen - KfsCodec.SegmentHeaderLen)
        val bb = java.nio.ByteBuffer.wrap(mutated, mutated.length - 16, 4)
        bb.putInt(crc.getValue.toInt)
        try {
          val it = KfsCodec.decodeSegment(mutated, allowCompressed = true)
          while (it.hasNext) it.next()
        } catch { case _: KfsCodec.KfsFormatException => /* expected shape */ }
        // lenient path: never throws, yields all-or-nothing
        val lenient = KfsCodec.decodeSegmentLenient(mutated,
          allowCompressed = true).size
        assert(lenient == 0 || lenient == 80)
      }
    }
  }

  test("null keys and empty headers survive the round trip") {
    val recs = Seq(
      KfsCodec.Record(5, 1L, null, "v".getBytes, Nil),
      KfsCodec.Record(6, 2L, Array.emptyByteArray, null, Nil))
    val out = KfsCodec.decodeSegment(KfsCodec.buildSegment(recs)).toSeq
    assert(out(0).key == null && out(0).value.length == 1)
    assert(out(1).key.length == 0 && out(1).value == null)
  }

  test("fuzz: corrupted batch bytes never hang or escape KfsFormatException") {
    // mirrors the reference's frame fuzzing (pkg/protocol/fuzz_test.go,
    // SURVEY §5): the batch decoder runs on untrusted bytes past the CRC
    // gate (a foreign writer may CRC its own garbage), so decodeBatch must
    // terminate quickly with KfsFormatException — never AIOOBE, never an
    // infinite batch loop from a non-advancing batchLength
    val seg = KfsCodec.buildSegment(mkRecords(50), batchSize = 16)
    val body = java.util.Arrays.copyOfRange(
      seg, KfsCodec.SegmentHeaderLen, seg.length - KfsCodec.FooterLen)
    val rnd = new scala.util.Random(42)
    def decodeAll(buf: Array[Byte]): Unit = {
      var pos = 0
      var guard = 0
      while (pos < buf.length && guard < 10000) {
        val (records, next) = KfsCodec.decodeBatch(buf, pos)
        records.foreach(_ => ())
        assert(next > pos, s"batch cursor must advance: $pos -> $next")
        pos = next
        guard += 1
      }
    }
    (0 until 500).foreach { i =>
      val mutated = body.clone()
      // flip 1-4 random bytes, or truncate
      if (i % 5 == 4) {
        val cut = rnd.nextInt(mutated.length)
        val t = java.util.Arrays.copyOfRange(mutated, 0, cut)
        try decodeAll(t)
        catch { case _: KfsCodec.KfsFormatException => }
      } else {
        (0 to rnd.nextInt(4)).foreach { _ =>
          val p = rnd.nextInt(mutated.length)
          mutated(p) = (mutated(p) ^ (1 + rnd.nextInt(255))).toByte
        }
        try decodeAll(mutated)
        catch { case _: KfsCodec.KfsFormatException => }
      }
    }
  }

  test("corrupted segment CRC is rejected") {
    val seg = KfsCodec.buildSegment(mkRecords(10))
    seg(40) = (seg(40) ^ 0xff).toByte
    intercept[KfsCodec.KfsFormatException] {
      KfsCodec.decodeSegment(seg).toSeq
    }
  }

  test("compressed batch attribute is rejected (decoder.go:198-201 parity)") {
    val seg = KfsCodec.buildSegment(mkRecords(4))
    // attributes i16 sits at segmentHeader + 21 in the first batch
    seg(KfsCodec.SegmentHeaderLen + 22) = 1 // gzip bit
    // fix the footer CRC (CRC32C over the batch body, reference semantics)
    // so we reach the batch check
    val crc = new java.util.zip.CRC32C
    crc.update(seg, KfsCodec.SegmentHeaderLen,
      seg.length - KfsCodec.FooterLen - KfsCodec.SegmentHeaderLen)
    val bb = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt)
    System.arraycopy(bb.array(), 0, seg, seg.length - KfsCodec.FooterLen, 4)
    val ex = intercept[KfsCodec.KfsFormatException] {
      KfsCodec.decodeSegment(seg).toSeq
    }
    assert(ex.getMessage.contains("compressed"))
  }

  test("footer CRC is CRC32C over the batch body only (segment.go:33,61 parity)") {
    val seg = KfsCodec.buildSegment(mkRecords(7))
    val stored = java.nio.ByteBuffer
      .wrap(seg, seg.length - KfsCodec.FooterLen, 4).getInt
    val crc = new java.util.zip.CRC32C
    crc.update(seg, KfsCodec.SegmentHeaderLen,
      seg.length - KfsCodec.FooterLen - KfsCodec.SegmentHeaderLen)
    assert(stored == crc.getValue.toInt)
    // header bytes are NOT covered: flipping one must still verify
    val seg2 = seg.clone()
    seg2(20) = (seg2(20) ^ 0x01).toByte // inside createdTs field
    KfsCodec.segmentInfo(seg2) // no CRC exception
  }

  test("streamed decode matches buffered decode; footer CRC verified at drain") {
    val recs = mkRecords(300)
    val seg = KfsCodec.buildSegment(recs, batchSize = 64)
    def stream(bytes: Array[Byte]) = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = KfsCodec.decodeSegmentStream(stream(seg), seg.length.toLong).toSeq
    assert(out.length == 300)
    assert(out.map(_.offset) == recs.map(_.offset))
    assert(out.map(r => new String(r.value, "UTF-8")) ==
      recs.map(r => new String(r.value, "UTF-8")))
    // structural corruption (batch header) throws mid-stream
    val bad = seg.clone()
    bad(40) = (bad(40) ^ 0xff).toByte
    intercept[KfsCodec.KfsFormatException] {
      KfsCodec.decodeSegmentStream(stream(bad), bad.length.toLong).toSeq
    }
    // content-only corruption (a value byte; structure intact) is caught by
    // the footer CRC when the iterator drains
    val idx = seg.indexOfSlice("amount".getBytes("UTF-8"))
    assert(idx > 0)
    val bad2 = seg.clone()
    bad2(idx) = 'x'.toByte
    val ex = intercept[KfsCodec.KfsFormatException] {
      KfsCodec.decodeSegmentStream(stream(bad2), bad2.length.toLong).toSeq
    }
    assert(ex.getMessage.contains("CRC"))
  }

  test("bounded stream decode prunes batches; skipped bytes are never decoded") {
    val base = 1706000000000L
    val recs = mkRecords(1000)
    val seg = KfsCodec.buildSegment(recs, batchSize = 100)
    def stream(bytes: Array[Byte]) = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    def bounds(offMin: Option[Long] = None, offMax: Option[Long] = None,
        tsMin: Option[Long] = None, tsMax: Option[Long] = None) =
      Some(KfsCodec.BatchBounds(offMin, offMax, tsMin, tsMax))

    // offset bounds select the covering batches (batch-granular superset;
    // the record-level residual above the scan trims to exact)
    val byOff = KfsCodec.decodeSegmentStream(stream(seg), seg.length.toLong,
      bounds(offMin = Some(250), offMax = Some(349))).toSeq
    assert(byOff.map(_.offset) == (200L until 400L))
    // ts bounds (writer stamps firstTs=min, maxTs=max per batch)
    val byTs = KfsCodec.decodeSegmentStream(stream(seg), seg.length.toLong,
      bounds(tsMin = Some(base + 500 * 1000L),
        tsMax = Some(base + 599 * 1000L))).toSeq
    assert(byTs.map(_.offset) == (500L until 600L))

    // walk the batch framing to find each batch's start position
    def batchStarts(s: Array[Byte]): Seq[Int] = {
      var pos = KfsCodec.SegmentHeaderLen
      val end = s.length - KfsCodec.FooterLen
      val b = Seq.newBuilder[Int]
      while (pos < end) {
        b += pos
        pos += 12 + java.nio.ByteBuffer.wrap(s, pos + 8, 4).getInt
      }
      b.result()
    }
    val starts = batchStarts(seg)
    assert(starts.length == 10)
    // corrupt a record byte in the batch holding offsets 700-799
    val bad = seg.clone()
    bad(starts(7) + 70) = (bad(starts(7) + 70) ^ 0xff).toByte
    // pruned past -> payload never read, decode succeeds
    val pruned = KfsCodec.decodeSegmentStream(stream(bad), bad.length.toLong,
      bounds(offMin = Some(0L), offMax = Some(99L))).toSeq
    assert(pruned.map(_.offset) == (0L until 100L))
    // decoded -> the per-batch CRC32C catches it before any record escapes
    val ex = intercept[KfsCodec.KfsFormatException] {
      KfsCodec.decodeSegmentStream(stream(bad), bad.length.toLong,
        bounds(offMin = Some(700L), offMax = Some(799L))).toSeq
    }
    assert(ex.getMessage.contains("batch CRC"))
  }

  test("DSv2 batch pruning keeps offset/ts range results exact") {
    val root = Files.createTempDirectory("kfs_batch_prune").toString
    KfsLayout.writeSegment(root, "t", 0, mkRecords(1000), batchSize = 50)
    val df = spark.read.format("kfs").option("path", root).load()
    val hit = df.where(col("_offset") >= 123 && col("_offset") <= 456)
    assert(hit.count() == 334)
    assert(hit.agg(min(col("_offset")), max(col("_offset"))).collect()
      .head.toSeq == Seq(123L, 456L))
    val baseTs = 1706000000000L
    val ts = df.where(col("_ts_ms") >= baseTs + 800 * 1000L)
    assert(ts.count() == 200)
  }

  test("KFS IO runs through Hadoop FileSystem: file:// URI root end-to-end") {
    val local = Files.createTempDirectory("kfs_hadoop")
    val root = "file://" + local.toString
    val ref = KfsLayout.writeSegment(root, "t", 0, mkRecords(100))
    assert(ref.path.startsWith("file:"))
    // discovery: recursive Hadoop LIST + 4-byte ranged tail read + .kfst
    val refs = KfsLayout.listCompleted(root)
    assert(refs.map(r => (r.baseOffset, r.lastOffset)) == Seq((0L, 99L)))
    // DSv2 scan over the URI root streams segments through FileSystem.open
    val df = spark.read.format("kfs").option("path", root).load()
    assert(df.count() == 100)
    assert(df.where(col("_offset") === 42).select(col("_key").cast("string"))
      .collect().head.getString(0) == "order-042")
    // manifest write + read over the same FS
    KfsLayout.writeManifest(root, "t", 0, refs)
    assert(KfsLayout.listFromManifest(root, "t", 0).map(_.baseOffset) == Seq(0L))
    // a NEVER-PROBED segment without a sidecar -> discovery falls back to
    // header/footer ranged reads (the first segment's stats stay memoized,
    // which is correct: the .kfs file itself is unchanged)
    KfsLayout.writeSegment(root, "t", 0,
      mkRecords(50).map(r => r.copy(offset = r.offset + 100)))
    Files.delete(Paths.get(local.toString, "t", "0",
      KfsLayout.segmentFileName(100) + ".kfst"))
    val refs2 = KfsLayout.listCompleted(root)
    assert(refs2.map(r => (r.baseOffset, r.lastOffset)) ==
      Seq((0L, 99L), (100L, 149L)))
    assert(refs2.head.minTsMs != Long.MinValue) // memoized sidecar stats
    assert(refs2(1).minTsMs == Long.MinValue) // no sidecar -> no time stats
  }

  test("discovery memoizes immutable segment stats; a grown file re-probes") {
    val root = Files.createTempDirectory("kfs_cache").toString
    KfsLayout.writeSegment(root, "t", 0, mkRecords(10))
    assert(KfsLayout.listCompleted(root).map(_.baseOffset) == Seq(0L))
    // torn upload: excluded; the incomplete verdict caches by (path, size)
    val full = KfsCodec.buildSegment(
      mkRecords(5).map(r => r.copy(offset = r.offset + 100)))
    val badPath = Paths.get(root, "t", "0", "segment-00000000000000000100.kfs")
    Files.write(badPath, full.dropRight(4))
    assert(KfsLayout.listCompleted(root).map(_.baseOffset) == Seq(0L))
    assert(KfsLayout.listCompleted(root).map(_.baseOffset) == Seq(0L)) // cached
    // the writer finishes the upload: the size changes, so the (path, size)
    // key differs and discovery re-probes -> segment appears
    Files.write(badPath, full)
    assert(KfsLayout.listCompleted(root).map(_.baseOffset) == Seq(0L, 100L))
  }

  test("discovery skips segments without the END! footer") {
    val root = Files.createTempDirectory("kfs_disc").toString
    KfsLayout.writeSegment(root, "t", 0, mkRecords(10))
    // truncated upload: no footer magic
    val bad = KfsCodec.buildSegment(mkRecords(5)).dropRight(4)
    Files.write(Paths.get(root, "t", "0", "segment-00000000000000000100.kfs"), bad)
    val refs = KfsLayout.listCompleted(root)
    assert(refs.map(_.baseOffset) == Seq(0L))
  }

  test("manifest discovery matches list discovery") {
    val root = Files.createTempDirectory("kfs_manifest").toString
    val refs = Seq(
      KfsLayout.writeSegment(root, "t", 0, mkRecords(10)),
      KfsLayout.writeSegment(root, "t", 0, mkRecords(10).map(r => r.copy(offset = r.offset + 10))))
    KfsLayout.writeManifest(root, "t", 0, refs)
    val fromManifest = KfsLayout.listFromManifest(root, "t", 0)
    val fromList = KfsLayout.listCompleted(root)
    assert(fromManifest.map(r => (r.baseOffset, r.lastOffset)) ==
      fromList.map(r => (r.baseOffset, r.lastOffset)))
  }

  private def manifestFiles(root: String, topic: String, partition: Int)
      : Seq[String] = {
    val dir = Paths.get(root, topic, partition.toString, "_manifest")
    if (!Files.exists(dir)) Nil
    else Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path]
      .getFileName.toString).filter(_.endsWith(".json")).sorted.toSeq
  }

  /** The single-file `t/0/manifest.json` earlier versions published. */
  private def writeLegacyManifest(root: String,
      segments: Seq[(String, Long, Long)]): Unit =
    Files.write(Paths.get(root, "t", "0", "manifest.json"),
      segments.map { case (path, base, last) =>
        s"""{"path":"$path","base_offset":$base,"last_offset":$last,""" +
          s""""min_ts_ms":$base,"max_ts_ms":$last,"size_bytes":1}"""
      }.mkString("""{"topic":"t","partition":0,"segments":[""", ",", "]}")
        .getBytes("UTF-8"))

  private def appendKfs(root: String, offsets: Seq[Long]): Unit = {
    import spark.implicits._
    offsets.map(o => ("t", 0, o, 1706000000000L + o,
      s"k$o".getBytes("UTF-8"), s"v$o".getBytes("UTF-8")))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value")
      .write.format("kfs").mode("append").option("path", root).save()
  }

  test("a legacy manifest.json estate is still read by listFromManifest") {
    val root = Files.createTempDirectory("kfs_legacy").toString
    val ref = KfsLayout.writeSegment(root, "t", 0, mkRecords(10))
    // "gone" names no file, so only the manifest can return it
    writeLegacyManifest(root, Seq((ref.path, 0L, 9L), ("gone", 10L, 19L)))
    assert(KfsLayout.listFromManifest(root, "t", 0)
      .map(r => (r.path, r.baseOffset, r.lastOffset, r.minTsMs)) ==
      Seq((ref.path, 0L, 9L, 0L), ("gone", 10L, 19L, 10L)))
  }

  test("the first append over a legacy manifest publishes generation 0 and removes it") {
    val root = Files.createTempDirectory("kfs_legacy_up").toString
    val ref = KfsLayout.writeSegment(root, "t", 0, mkRecords(10))
    writeLegacyManifest(root, Seq((ref.path, 0L, 9L)))
    appendKfs(root, 10L until 20L)
    assert(manifestFiles(root, "t", 0) == Seq("00000000000000000000.json"))
    assert(!Files.exists(Paths.get(root, "t", "0", "manifest.json")))
    assert(KfsLayout.listFromManifest(root, "t", 0)
      .map(r => (r.baseOffset, r.lastOffset)) == Seq((0L, 9L), (10L, 19L)))
  }

  test("after N appends and a deleteRecords exactly one manifest generation remains") {
    val root = Files.createTempDirectory("kfs_gens").toString
    (0 until 4).foreach { i =>
      appendKfs(root, i * 10L until (i + 1) * 10L)
      assert(manifestFiles(root, "t", 0) == Seq(f"$i%020d.json"))
    }
    KfsRetention.deleteRecords(root, "t", Map(0 -> 20L))
    assert(manifestFiles(root, "t", 0) == Seq(f"${4}%020d.json"))
    assert(KfsLayout.listFromManifest(root, "t", 0)
      .map(r => (r.baseOffset, r.lastOffset)) == Seq((20L, 29L), (30L, 39L)))
  }

  test("a reader whose listed manifest generation is deleted re-lists and reads the newer one") {
    val root = Files.createTempDirectory("kfs_gen_race").toString
    val a = KfsLayout.writeSegment(root, "t", 0, mkRecords(10))
    val b = KfsLayout.writeSegment(root, "t", 0,
      mkRecords(10).map(r => r.copy(offset = r.offset + 10)))
    KfsLayout.writeManifest(root, "t", 0, Seq(a))
    // a concurrent commit lands between the reader's listing and its open:
    // it publishes generation 1 and deletes generation 0, the one listed
    ProbeLocalFileSystem.afterList.set(_ =>
      KfsLayout.writeManifest(root, "t", 0, Seq(a, b)))
    val refs = KfsLayout.readManifestRefs(root, "t", 0, ProbeLocalFileSystem.conf)
    assert(ProbeLocalFileSystem.afterList.get == null, "the hook must have run")
    assert(refs.map(_.map(_.baseOffset)).contains(Seq(0L, 10L)))
    assert(manifestFiles(root, "t", 0) == Seq(f"${1}%020d.json"))
  }

  test("segment pruning by offset/time range intersects stats windows") {
    val refs = Seq(
      KfsLayout.SegmentRef("t", 0, "a", 0, 99, 1000, 1999, 1),
      KfsLayout.SegmentRef("t", 0, "b", 100, 199, 2000, 2999, 1),
      KfsLayout.SegmentRef("t", 0, "c", 200, 299, 3000, 3999, 1))
    assert(KfsLayout.prune(refs, offsetMin = Some(150)).map(_.path) == Seq("b", "c"))
    assert(KfsLayout.prune(refs, offsetMax = Some(150)).map(_.path) == Seq("a", "b"))
    assert(KfsLayout.prune(refs, tsMinMs = Some(2500), tsMaxMs = Some(3500)).map(_.path) == Seq("b", "c"))
  }

  test("DSv2 edges: missing path errors, empty root yields empty frame") {
    intercept[Exception] {
      spark.read.format("kfs").load().count()
    }
    val empty = Files.createTempDirectory("kfs_empty").toString
    val df = spark.read.format("kfs").option("path", empty).load()
    assert(df.count() == 0)
    assert(df.columns.contains("_offset"))
  }

  test("DSv2: pushdown prunes segments at plan time; ntz timestamps correct") {
    val root = Files.createTempDirectory("kfs_v2").toString
    // 3 segments, 100 records each, distinct offset ranges
    (0 until 3).foreach { seg =>
      KfsLayout.writeSegment(root, "t", 0,
        mkRecords(100).map(r => r.copy(offset = r.offset + seg * 100,
          timestampMs = 1706000000000L + (r.offset + seg * 100) * 1000)))
    }
    val df = spark.read.format("kfs").option("path", root).load()
    assert(df.count() == 300)
    // offset predicate prunes to 1 of 3 segments
    val pruned = df.where(col("_offset") >= 100 && col("_offset") <= 150)
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("segments=1"), s"expected 1 segment in:\n$scanDesc")
    assert(pruned.count() == 51)
    // ntz timestamp round-trips the ms value
    val r0 = df.where(col("_offset") === 0)
      .select(col("_ts").cast("string"), col("_ts_ms")).collect().head
    assert(r0.getString(0).startsWith("2024-01-23"))
    // scan admission via options (X8) — collect(), not count(): a bare
    // count(*) is now answered from segment stats (metadata-only agg
    // pushdown) and legitimately bypasses scan admission
    intercept[Exception] {
      spark.read.format("kfs").option("path", root)
        .option("max_scan_segments", "1").load().collect()
    }
  }

  test("DSv2 reports post-prune statistics; a small pruned side auto-broadcasts") {
    val root = Files.createTempDirectory("kfs_stats").toString
    (0 until 3).foreach { seg =>
      KfsLayout.writeSegment(root, "t", 0,
        mkRecords(100).map(r => r.copy(offset = r.offset + seg * 100)))
    }
    import org.apache.spark.sql.functions.col
    // joining the kfs scan (small) against a big-ish frame: with reported
    // stats under the broadcast threshold, Catalyst must pick BHJ with the
    // kfs side as the build side — not a sort-merge join
    val kfs = spark.read.format("kfs").option("path", root).load()
      .where(col("_offset") < 100) // prunes to 1 of 3 segments
      .select(col("_offset").as("k"), col("_key"))
    val big = spark.range(0, 200000).toDF("k")
    val plan = big.join(kfs, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small pruned kfs side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no SMJ expected:\n$plan")
  }

  test("DSv2 runtime filtering: DPP from a broadcast dim prunes segments at execution") {
    val root = Files.createTempDirectory("kfs_dpp").toString
    (0 until 4).foreach { p =>
      KfsLayout.writeSegment(root, "t", p, mkRecords(100))
    }
    val kfs = spark.read.format("kfs").option("path", root).load()
      .select(col("_partition"), col("_offset"))
    // dim must come from a real source: a LocalRelation's filter constant-
    // folds away and PartitionPruning then sees no selective predicate
    val dimPath = Files.createTempDirectory("kfs_dpp_dim").toString
    spark.createDataFrame(
      Seq((0, "keep"), (1, "drop"), (2, "drop"), (3, "drop"))).toDF("pid", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = kfs.join(broadcast(dim),
        kfs("_partition") === dim("pid")).where(col("tag") === "keep")
    // collect() (not count()) so the inspected queryExecution is the one
    // that actually ran — count() plans a separate QueryExecution with its
    // own scan instance
    assert(joined.collect().length == 100)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a runtime (DPP) filter on the kfs scan:\n$plan")
    // the runtime IN-list must have reached the listing: 4 partition dirs,
    // one segment each, re-planned down to exactly the dim-surviving one
    // AQE wrappers (AdaptiveSparkPlanExec, QueryStageExec) are leaf nodes
    // whose inner plan is not a child — unwrap them explicitly
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[KfsScan] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[KfsScan] => Seq(b.scan.asInstanceOf[KfsScan])
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
    val ks = scans(joined.queryExecution.executedPlan)
    assert(ks.nonEmpty, s"no KfsScan found in:\n$plan")
    assert(ks.exists(_.lastPlannedSegments == 1),
      s"expected 1 post-DPP segment, got ${ks.map(_.lastPlannedSegments)}")
  }

  test("DSv2 aggregate pushdown: count/min/max answered from segment stats, zero opens") {
    val root = Files.createTempDirectory("kfs_agg").toString
    (0 until 3).foreach { p =>
      (0 until 2).foreach { seg =>
        KfsLayout.writeSegment(root, "t", p,
          mkRecords(100, baseTs = 1706000000000L + p * 1000L)
            .map(r => r.copy(offset = r.offset + seg * 100)))
      }
    }
    val df = spark.read.format("kfs").option("path", root).load()
      .groupBy(col("_partition"))
      .agg(count(lit(1)).as("cnt"), min(col("_offset")).as("min_off"),
        max(col("_offset")).as("max_off"), min(col("_ts_ms")).as("min_ts"),
        max(col("_ts_ms")).as("max_ts"))
      .orderBy(col("_partition"))
    val rows = df.collect()
    assert(rows.length == 3)
    rows.zipWithIndex.foreach { case (r, p) =>
      assert(r.getInt(0) == p)
      assert(r.getLong(1) == 200L, s"cnt for partition $p")
      assert(r.getLong(2) == 0L && r.getLong(3) == 199L)
      assert(r.getLong(4) == 1706000000000L + p * 1000L)
      // both segments carry the same ts range (only offsets were shifted)
      assert(r.getLong(5) == 1706000000000L + p * 1000L + 99 * 1000L)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("aggPushed"),
      s"expected metadata-only aggregate pushdown:\n$plan")

    // global aggregate (no GROUP BY) over an empty root: one row, count=0
    val emptyRoot = Files.createTempDirectory("kfs_agg_empty").toString
    val g = spark.read.format("kfs").option("path", emptyRoot).load()
      .agg(count(lit(1)).as("cnt"), max(col("_offset")).as("max_off"))
      .collect()
    assert(g.length == 1 && g(0).getLong(0) == 0L && g(0).isNullAt(1))

    // an offset-range predicate cuts segments mid-range -> stats are not
    // exact -> pushdown must NOT happen and results stay record-accurate
    val filtered = spark.read.format("kfs").option("path", root).load()
      .where(col("_offset") >= 50 && col("_offset") <= 149)
      .groupBy(col("_partition")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("_partition"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("aggPushed"))
    assert(filtered.collect().forall(_.getLong(1) == 100L))
  }

  /** Executes `df` and digs the KfsScan out of the executed plan (through
    * AQE stages) so tests can assert post-pushdown planning facts. */
  private def scanOf(df: org.apache.spark.sql.DataFrame): KfsScan = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[KfsScan] =
      p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[KfsScan] => Seq(b.scan.asInstanceOf[KfsScan])
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
      }.flatten
    walk(df.queryExecution.executedPlan).head
  }

  test("DSv2 limit pushdown: LIMIT plans only the covering segment prefix") {
    val root = Files.createTempDirectory("kfs_limit").toString
    (0 until 4).foreach { seg =>
      KfsLayout.writeSegment(root, "t", 0,
        mkRecords(100).map(r => r.copy(offset = r.offset + seg * 100)))
    }
    val base = spark.read.format("kfs").option("path", root).load()
    // 50 rows fit in the first 100-row segment; 150 rows need two
    assert(base.limit(50).collect().length == 50)
    assert(scanOf(base.limit(50)).lastPlannedSegments == 1)
    assert(scanOf(base.limit(150)).lastPlannedSegments == 2)
    // a record-level filter blocks limit pushdown -> all segments planned,
    // and the result is still filter-accurate
    val filtered = base.where(col("_offset") % 2 === 0).limit(50)
    assert(filtered.collect().length == 50)
    assert(scanOf(filtered).lastPlannedSegments == 4)
    // opting out of dense offsets disables prefix selection, results intact
    val sparse = spark.read.format("kfs").option("path", root)
      .option("assume_dense_offsets", "false").load().limit(50)
    assert(sparse.collect().length == 50)
    assert(scanOf(sparse).lastPlannedSegments == 4)
  }

  test("DeleteRecords: horizon is record-exact across scan, limit, agg, and stream") {
    val root = Files.createTempDirectory("kfs_delrecs").toString
    // p0: 3 segments of 100 (offsets 0-299); p1: one segment of 100
    (0 until 3).foreach(seg =>
      KfsLayout.writeSegment(root, "t", 0,
        mkRecords(100).map(r => r.copy(offset = r.offset + seg * 100))))
    KfsLayout.writeSegment(root, "t", 1, mkRecords(100))

    // p0 -> 150 straddles its middle segment; p1 -> 30 straddles its only one
    val res = KfsRetention.deleteRecords(root, "t", Map(0 -> 150L, 1 -> 30L))
    assert(res.deleted == 1, "exactly p0's first segment is wholly below")

    def freshDf = spark.read.format("kfs").option("path", root).load()
    def offsetsOf(p: Int) = freshDf.where(col("_partition") === p)
      .select(col("_offset")).collect().map(_.getLong(0)).sorted.toSeq
    assert(offsetsOf(0) == (150L until 300L))
    assert(offsetsOf(1) == (30L until 100L))

    // aggregate pushdown is vetoed (trimmed stats are not exact) but the
    // scan-computed answer honors the horizon
    val agg = freshDf.groupBy(col("_partition"))
      .agg(count(lit(1)).as("cnt"), min(col("_offset")).as("min_off"),
        max(col("_offset")).as("max_off"))
      .orderBy(col("_partition"))
    assert(!agg.queryExecution.executedPlan.toString.contains("aggPushed"))
    val rows = agg.collect()
    assert(rows(0).getLong(1) == 150L && rows(0).getLong(2) == 150L &&
      rows(0).getLong(3) == 299L)
    assert(rows(1).getLong(1) == 70L && rows(1).getLong(2) == 30L &&
      rows(1).getLong(3) == 99L)

    // limit prefix must count the straddler as its TRIMMED size: 60 rows
    // need TWO p0 segments (50 visible + 100), not one claiming 100
    val lim = freshDf.limit(60)
    assert(lim.collect().length == 60)
    assert(scanOf(lim).lastPlannedSegments >= 2)

    // monotonic: a target at/below the horizon is a no-op
    val res2 = KfsRetention.deleteRecords(root, "t", Map(0 -> 100L))
    assert(res2.deleted == 0)
    assert(offsetsOf(0) == (150L until 300L))

    // capped at log end: a huge target empties the partition, never throws
    KfsRetention.deleteRecords(root, "t", Map(1 -> 1000000L))
    assert(offsetsOf(1).isEmpty)
    assert(offsetsOf(0) == (150L until 300L), "other partition untouched")

    // crash recovery: a horizon persisted BEFORE the file deletes ran
    // (the documented publish-then-delete ordering) must be reclaimable
    // by a re-run with the SAME target — no advancement, still deletes
    KfsLayout.writeLogStarts(root, "t", Map(0 -> 250L, 1 -> 100L))
    KfsLayout.invalidateDiscoveryCache(root)
    val recovered = KfsRetention.deleteRecords(root, "t", Map(0 -> 250L))
    assert(recovered.deleted == 1,
      "re-run must reclaim the segment the crashed run left behind")
    assert(offsetsOf(0) == (250L until 300L))

    // the micro-batch stream starts at the horizon, not offset 0
    val out = Files.createTempDirectory("kfs_delrecs_out").toString
    val ckpt = Files.createTempDirectory("kfs_delrecs_ckpt").toString
    val q = spark.readStream.format("kfs").option("path", root).load()
      .select(col("_partition"), col("_offset"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == 50)
    assert(streamed.agg(min(col("_offset"))).head.getLong(0) == 250L)
  }

  test("DSv2 top-N pushdown: ORDER BY _offset/_ts LIMIT plans only covering segments") {
    val root = Files.createTempDirectory("kfs_topn").toString
    val base = 1706000000000L
    // p0: one segment, ts 0..99s; p1: ts 50..149s (OVERLAPS p0) and a
    // strictly-newer segment ts 200..299s
    KfsLayout.writeSegment(root, "t", 0, mkRecords(100))
    KfsLayout.writeSegment(root, "t", 1,
      mkRecords(100).map(r => r.copy(timestampMs = r.timestampMs + 50 * 1000L)))
    KfsLayout.writeSegment(root, "t", 1,
      mkRecords(100).map(r => r.copy(offset = r.offset + 100,
        timestampMs = r.timestampMs + 200 * 1000L)))
    val df = spark.read.format("kfs").option("path", root).load()
    val full = spark.read.format("kfs").option("path", root)
      .option("assume_dense_offsets", "false").load() // pushdown disabled

    // newest 50 by _ts: only the ts-disjoint newest segment is planned
    val newest = df.orderBy(col("_ts").desc).limit(50).select(col("_ts_ms"))
    assert(scanOf(newest).lastPlannedSegments == 1)
    assert(newest.collect().map(_.getLong(0)).toSeq ==
      (0 until 50).map(i => base + (299 - i) * 1000L))

    // ascending 80 by _ts: the covering set must keep BOTH overlapping
    // segments (p1's 50..149s range can hold rows below p0's max) but may
    // drop the newest one
    val asc = df.orderBy(col("_ts")).limit(80).select(col("_ts_ms"))
    assert(scanOf(asc).lastPlannedSegments == 2)
    assert(asc.collect().map(_.getLong(0)).toSeq ==
      full.orderBy(col("_ts")).limit(80).select(col("_ts_ms"))
        .collect().map(_.getLong(0)).toSeq)

    // top 60 by _offset desc: offsets 100..199 live only in p1's newest
    // segment (highest lastOffset); stats keep every segment whose range
    // crosses the θ=140 boundary -> just that one
    val offs = df.orderBy(col("_offset").desc).limit(60)
      .select(col("_offset"), col("_partition"))
    assert(scanOf(offs).lastPlannedSegments == 1)
    assert(offs.collect().map(_.getLong(0)).toSeq ==
      (0 until 60).map(i => 199L - i))

    // kafsql's TAIL shape — lexicographic (_partition desc, _offset desc):
    // the top 50 all live in p1's highest-offset segment
    val tail = df.orderBy(col("_partition").desc, col("_offset").desc)
      .limit(50).select(col("_partition"), col("_offset"))
    assert(scanOf(tail).lastPlannedSegments == 1)
    assert(tail.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      (0 until 50).map(i => (1, 199L - i)))
    // ... and 150 rows reach back into p1's other segment but never p0
    val tail150 = df.orderBy(col("_partition").desc, col("_offset").desc)
      .limit(150).select(col("_partition"))
    assert(scanOf(tail150).lastPlannedSegments == 2)
    assert(tail150.collect().forall(_.getInt(0) == 1))

    // a record-level filter blocks top-N pushdown; results stay exact
    val filtered = df.where(col("_offset") % 2 === 0)
      .orderBy(col("_ts").desc).limit(10).select(col("_ts_ms"))
    assert(scanOf(filtered).lastPlannedSegments == 3)
    assert(filtered.collect().length == 10)
  }

  test("e2e acceptance fixture: count=200, TAIL 1 -> offset 199, WITHIN join -> 50 rows") {
    val root = Files.createTempDirectory("kfs_e2e").toString
    val t0 = System.currentTimeMillis() - 5 * 60 * 1000
    KfsLayout.writeSegment(root, "orders", 0, mkRecords(200, baseTs = t0))
    KfsLayout.writeSegment(root, "payments", 0, mkRecords(50, baseTs = t0))

    val orders = KfsSource.read(spark, root, topics = Some(Set("orders")))
    assert(orders.count() == 200) // SELECT count(*) FROM orders LAST 1h

    val tail1 = orders.orderBy(col("_partition").desc, col("_offset").desc)
      .limit(1).select(col("_offset")).collect()
    assert(tail1.head.getLong(0) == 199) // SELECT _offset FROM orders TAIL 1

    val payments = KfsSource.read(spark, root, topics = Some(Set("payments")))
    val joined = orders.alias("o").join(payments.alias("p"),
      col("o._key") === col("p._key") &&
        abs(col("o._ts_ms") - col("p._ts_ms")) <= 10 * 60 * 1000, "inner")
    assert(joined.count() == 50) // JOIN ... WITHIN 10m LAST 1h -> 50 rows
  }

  test("DSv2 write: clustered+ordered round trip, manifest commit, append") {
    import spark.implicits._
    val root = Files.createTempDirectory("kfs_w").toString
    // shuffled input across 2 topics x 2 partitions — the writer's
    // RequiresDistributionAndOrdering must regroup and re-sort it
    val rows = for {
      t <- Seq("alpha", "beta"); p <- 0 to 1; o <- 0L until 40L
    } yield (t, p, o, 1706000000000L + o * 1000, s"k$o".getBytes("UTF-8"),
      s"$t/$p/$o".getBytes("UTF-8"), Map("src" -> "test"))
    val df = scala.util.Random.shuffle(rows).toDF(
      "_topic", "_partition", "_offset", "_ts_ms", "_key", "_value", "_headers")
      .repartition(7) // deliberately wrong partitioning
    df.write.format("kfs").mode("append")
      .option("path", root).option("max_records_per_segment", "16").save()

    // manifests committed per partition, segment cap respected
    for (t <- Seq("alpha", "beta"); p <- 0 to 1) {
      val refs = KfsLayout.listFromManifest(root, t, p)
      assert(refs.nonEmpty && refs.length >= 3) // 40 records / 16 cap
      assert(refs.head.baseOffset == 0 && refs.last.lastOffset == 39)
      assert(Files.exists(Paths.get(root, t, p.toString, "_manifest",
        "00000000000000000000.json")))
    }

    val back = spark.read.format("kfs").option("path", root).load()
    assert(back.count() == 160)
    val vals = back.select("_topic", "_partition", "_offset", "_value", "_ts_ms")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) ->
        ((new String(r.getAs[Array[Byte]](3), "UTF-8"), r.getLong(4)))).toMap
    rows.foreach { case (t, p, o, ts, _, _, _) =>
      assert(vals((t, p, o)) == ((s"$t/$p/$o", ts)))
    }
    val hdr = back.where($"_topic" === "alpha" && $"_partition" === 0 &&
      $"_offset" === 3).select($"_headers").collect()
    assert(hdr.head.getAs[Map[String, String]](0) == Map("src" -> "test"))

    // append the next offset range — manifest merges, both ranges visible
    Seq(("alpha", 0, 40L, 1706000100000L, "k40".getBytes("UTF-8"),
      "alpha/0/40".getBytes("UTF-8")))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value")
      .write.format("kfs").mode("append").option("path", root).save()
    assert(KfsLayout.listFromManifest(root, "alpha", 0).last.lastOffset == 40)
    assert(spark.read.format("kfs").option("path", root).load()
      .where($"_topic" === "alpha" && $"_partition" === 0).count() == 41)

    // overlapping offsets are rejected at commit (append-only log)
    val dup = Seq(("alpha", 0, 40L, 1706000200000L,
      Array.empty[Byte], "x".getBytes("UTF-8")))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_key", "_value")
    val e = intercept[Exception] {
      dup.write.format("kfs").mode("append").option("path", root).save()
    }
    assert(e.getMessage != null)

    // offset gaps are rejected unless require_dense=false
    val gap = Seq(
      ("gamma", 0, 0L, 1706000000000L, "a".getBytes("UTF-8")),
      ("gamma", 0, 5L, 1706000001000L, "b".getBytes("UTF-8")))
      .toDF("_topic", "_partition", "_offset", "_ts_ms", "_value")
    intercept[Exception] {
      gap.write.format("kfs").mode("append").option("path", root).save()
    }
    gap.write.format("kfs").mode("append").option("path", root)
      .option("require_dense", "false").save()
    assert(spark.read.format("kfs").option("path", root).load()
      .where($"_topic" === "gamma").count() == 2)
  }

  test("key Bloom: deterministic membership, no false negatives, sidecar round trip") {
    val keys = (0 until 500).map(i => s"user-$i".getBytes("UTF-8"))
    val b = KfsBloom.build(keys.iterator ++ Iterator(null), keys.length + 1)
    keys.foreach(k => assert(b.contains(k))) // no false negatives, ever
    val misses = (0 until 2000).count(i =>
      b.contains(s"absent-$i".getBytes("UTF-8")))
    assert(misses <= 20, s"fpp too high: $misses/2000") // ~0.3% expected
    val back = KfsBloom.deserialize(KfsBloom.serialize(b)).get
    assert(back.numBits == b.numBits)
    keys.foreach(k => assert(back.contains(k)))
    assert(KfsBloom.deserialize("junk".getBytes("UTF-8")).isEmpty)
  }

  test("key Bloom sidecar prunes segments on pushed _key equality/IN") {
    import spark.implicits._
    val root = Files.createTempDirectory("kfs_bloom").toString
    // 4 segments with disjoint key ranges
    val t0 = 1706000000000L
    for (seg <- 0 until 4) {
      val recs = (0 until 50).map { i =>
        KfsCodec.Record(seg * 50L + i, t0 + i,
          s"k-$seg-$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"), Nil)
      }
      KfsLayout.writeSegment(root, "t", 0, recs)
    }
    val df = spark.read.format("kfs").option("path", root).load()

    // equality: exactly one segment can contain the key
    val one = df.where($"_key" === lit("k-2-7".getBytes("UTF-8")))
      .select($"_offset")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(107L))
    assert(scanOf(one).lastPlannedSegments == 1)

    // IN across two segments plans two
    val two = df.where($"_key".isin(
      "k-0-1".getBytes("UTF-8"), "k-3-9".getBytes("UTF-8")))
      .select($"_offset")
    assert(two.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 159L))
    assert(scanOf(two).lastPlannedSegments == 2)

    // absent key: zero segments planned, zero rows — the 100 TB point
    // lookup never opens a file
    val none = df.where($"_key" === lit("nope".getBytes("UTF-8")))
    assert(none.count() == 0)
    assert(scanOf(none.select($"_offset")).lastPlannedSegments == 0)

    // a missing sidecar keeps its segment (pruning is never a correctness
    // gate) and results stay exact
    Files.delete(Paths.get(root, "t", "0",
      KfsLayout.segmentFileName(100L) + ".kfsb"))
    val after = df.where($"_key" === lit("k-2-7".getBytes("UTF-8")))
      .select($"_offset")
    assert(after.collect().map(_.getLong(0)).toSeq == Seq(107L))
    assert(scanOf(after).lastPlannedSegments == 1) // the sidecar-less one
  }

  test("log compaction: latest-per-key view, tombstones, null-key pass-through") {
    import spark.implicits._
    val root = Files.createTempDirectory("kfs_compact").toString
    val t0 = 1706000000000L
    def k(s: String): Array[Byte] = if (s == null) null else s.getBytes("UTF-8")
    val recs = Seq(
      KfsCodec.Record(0L, t0, k("a"), "a0".getBytes, Nil),
      KfsCodec.Record(1L, t0 + 1, k("b"), "b0".getBytes, Nil),
      KfsCodec.Record(2L, t0 + 2, k("a"), "a1".getBytes, Nil), // supersedes a0
      KfsCodec.Record(3L, t0 + 3, null, "nk0".getBytes, Nil),  // null key: kept
      KfsCodec.Record(4L, t0 + 4, k("c"), "c0".getBytes, Nil),
      KfsCodec.Record(5L, t0 + 5, null, "nk1".getBytes, Nil),  // null key: kept
      KfsCodec.Record(6L, t0 + 6, k("c"), null, Nil)           // tombstone: c out
    )
    KfsLayout.writeSegment(root, "t", 0, recs)
    val view = KfsCompaction.latestByKey(
      spark.read.format("kfs").option("path", root).load())
    val rows = view.select($"_offset",
        $"_key".cast("string"), $"_value".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    // a -> a1 at offset 2, b -> b0, both null-key records survive,
    // c is tombstoned away (and the tombstone itself is not emitted)
    assert(rows == Seq((1L, "b", "b0"), (2L, "a", "a1"),
      (3L, null, "nk0"), (5L, null, "nk1")))

    // physical compaction: rewrite into a new generation, offsets preserved
    // (sparse — require_dense=false), read back through the DSv2 scan
    val dst = Files.createTempDirectory("kfs_compact_dst").toString
    KfsCompaction.compact(spark, root, dst)
    val back = spark.read.format("kfs").option("path", dst).load()
      .select($"_offset", $"_key".cast("string"), $"_value".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(back == rows)
    // the new estate is manifest-committed (not just loose segments)
    assert(KfsLayout.listFromManifest(dst, "t", 0).nonEmpty)
  }

  test("retention drops whole expired segments, flips the manifest, idempotent") {
    val root = java.nio.file.Files.createTempDirectory("kfs_ret").toString
    // 4 segments of 25 records, 1s per record -> segment maxTs at 25s steps
    val recs = mkRecords(100)
    val refs = recs.grouped(25).map(g =>
      KfsLayout.writeSegment(root, "t", 0, g.toSeq)).toSeq
    KfsLayout.writeManifest(root, "t", 0, refs)
    // cutoff between segment 1's and segment 2's newest record: first two
    // segments expire, later two stay
    val cutoff = recs(49).timestampMs + 1
    val r1 = graft.kfs.KfsRetention.enforce(root, "t", cutoff)
    assert(r1.kept == 2 && r1.deleted == 2 && r1.reclaimedBytes > 0)
    KfsLayout.invalidateDiscoveryCache(root)
    val listed = KfsLayout.listCompleted(root, Some(Set("t")))
    assert(listed.map(_.baseOffset).sorted == Seq(50L, 75L))
    assert(KfsLayout.listFromManifest(root, "t", 0).map(_.baseOffset).sorted ==
      Seq(50L, 75L))
    // sidecars of deleted segments are gone too
    val dir = java.nio.file.Paths.get(root, "t", "0")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!files.exists(_.startsWith(KfsLayout.segmentFileName(0L))))
    // mid-segment cutoff: the segment holding the cutoff survives WHOLE
    // (its pre-cutoff records included) — Kafka's segment-granular contract
    val r3 = graft.kfs.KfsRetention.enforce(root, "t",
      recs(60).timestampMs) // inside segment base 50
    assert(r3.kept == 2 && r3.deleted == 0)
    // idempotent: nothing further expires
    val r2 = graft.kfs.KfsRetention.enforce(root, "t", cutoff)
    assert(r2.kept == 2 && r2.deleted == 0)
  }

  test("size retention keeps the newest segments within the byte budget") {
    val root = java.nio.file.Files.createTempDirectory("kfs_retb").toString
    val recs = mkRecords(100)
    val refs = recs.grouped(25).map(g =>
      KfsLayout.writeSegment(root, "t", 0, g.toSeq)).toSeq
    KfsLayout.writeManifest(root, "t", 0, refs)
    val segBytes = refs.head.sizeBytes
    // budget for ~2.5 segments: Kafka's rule deletes an oldest segment only
    // while the remainder would still be >= the budget, so the straddler
    // SURVIVES — 3 kept (log may exceed retention.bytes by < one segment)
    val r = graft.kfs.KfsRetention.enforceSize(root, "t",
      (segBytes * 2.5).toLong)
    assert(r.kept == 3 && r.deleted == 1, s"got $r")
    KfsLayout.invalidateDiscoveryCache(root)
    assert(KfsLayout.listCompleted(root, Some(Set("t")))
      .map(_.baseOffset).sorted == Seq(25L, 50L, 75L))
    // an exact 2-segment budget drops the two oldest
    val r2 = graft.kfs.KfsRetention.enforceSize(root, "t", segBytes * 2)
    assert(r2.kept == 2 && r2.deleted == 1, s"got $r2")
    KfsLayout.invalidateDiscoveryCache(root)
    assert(KfsLayout.listCompleted(root, Some(Set("t")))
      .map(_.baseOffset).sorted == Seq(50L, 75L))
    // idempotent
    val r3 = graft.kfs.KfsRetention.enforceSize(root, "t", segBytes * 2)
    assert(r3.deleted == 0)
  }

  test("SerializableHadoopConf round-trips and caches per instance (r17)") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("graft.test.key", "v1")
    val wrapped = new graft.kfs.SerializableHadoopConf(conf)
    def roundTrip(w: graft.kfs.SerializableHadoopConf)
        : graft.kfs.SerializableHadoopConf = {
      val buf = new java.io.ByteArrayOutputStream()
      val o = new java.io.ObjectOutputStream(buf)
      o.writeObject(w); o.flush()
      new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray))
        .readObject().asInstanceOf[graft.kfs.SerializableHadoopConf]
    }
    val a = roundTrip(wrapped)
    val b = roundTrip(wrapped)
    // values survive the blob round-trip
    assert(a.value.get("graft.test.key") == "v1")
    // per-JVM cache: two tasks of the same scan share ONE parsed conf
    // instead of each re-parsing hundreds of gzip'd entries
    assert(a.value eq b.value,
      "same wrapper instance must deserialize to the cached Configuration")
    // a DIFFERENT wrapper (different scan) parses its own copy
    val conf2 = new org.apache.hadoop.conf.Configuration(false)
    conf2.set("graft.test.key", "v2")
    val c = roundTrip(new graft.kfs.SerializableHadoopConf(conf2))
    assert(c.value.get("graft.test.key") == "v2")
    assert(!(c.value eq a.value))
  }

  test("SerializableHadoopConf cache eviction survives 100+ distinct ids " +
      "under concurrency (r18)") {
    // the r17 eviction cleared the map from INSIDE computeIfAbsent's
    // mapping function — forbidden by the JDK contract, and triggered
    // deterministically once the 65th distinct wrapper deserialized in a
    // JVM. This hammers 100 distinct ids from 8 threads: the fixed code
    // must neither throw nor lose values.
    def bytesOf(w: graft.kfs.SerializableHadoopConf): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      val o = new java.io.ObjectOutputStream(buf)
      o.writeObject(w); o.flush()
      buf.toByteArray
    }
    val blobs = (0 until 100).map { i =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      conf.set("graft.test.key", s"v$i")
      i -> bytesOf(new graft.kfs.SerializableHadoopConf(conf))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = (0 until 4).flatMap(_ => blobs).map { case (i, blob) =>
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val w = new java.io.ObjectInputStream(
              new java.io.ByteArrayInputStream(blob))
              .readObject().asInstanceOf[graft.kfs.SerializableHadoopConf]
            assert(w.value.get("graft.test.key") == s"v$i")
          }
        }
      }
      // .get() rethrows any IllegalStateException from a contract breach
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
  }
}

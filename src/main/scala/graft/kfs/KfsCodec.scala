package graft.kfs

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C
import scala.collection.mutable.ArrayBuffer

/** KFS segment codec — a clean-room implementation of the segment layout the
  * reference documents (`kafscale-spec.md:85-163` in /root/reference; SURVEY
  * §1.1): a 32-byte segment header (magic `KAFS`), standard Apache Kafka v2
  * record batches (61-byte batch header + zigzag-varint records — a public
  * format, see kafka.apache.org/documentation/#recordbatch), and a 16-byte
  * footer (CRC32, last offset, magic `END!`). Compressed batches are
  * rejected, mirroring the reference decoder (`decoder.go:198-201`).
  *
  * Pure byte-array ↔ record functions: no Spark types here, so the decoder
  * can run inside any executor task (DSv2 partition reader, or
  * KafsqlStream's binaryFile stream) without serialization surprises.
  */
object KfsCodec {

  val SegmentMagic = 0x4B414653 // "KAFS"
  val FooterMagic = 0x454E4421  // "END!"
  val SegmentHeaderLen = 32
  val FooterLen = 16
  val BatchHeaderLen = 61

  final case class Header(k: String, v: Array[Byte])

  /** One decoded record with its log coordinates. */
  final case class Record(
      offset: Long,
      timestampMs: Long,
      key: Array[Byte], // null = absent
      value: Array[Byte],
      headers: Seq[Header])

  final case class SegmentInfo(
      baseOffset: Long,
      messageCount: Int,
      createdTsMs: Long,
      lastOffset: Long)

  // ---- varint (zigzag, little-endian base-128 — Kafka wire encoding) ----

  def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  def unzigzag(n: Long): Long = (n >>> 1) ^ -(n & 1)

  def writeVarlong(out: ArrayBuffer[Byte], value: Long): Unit = {
    var v = zigzag(value)
    while ((v & ~0x7fL) != 0) {
      out += ((v & 0x7f) | 0x80).toByte
      v >>>= 7
    }
    out += (v & 0x7f).toByte
  }

  final class ByteReader(buf: Array[Byte], var pos: Int) {
    def remaining: Int = buf.length - pos
    // every read is bounds-checked to KfsFormatException (never AIOOBE):
    // decode runs on untrusted bytes inside executor tasks. The STREAM path
    // (KafsqlStream, via decodeSegmentLenient) classifies KfsFormatException
    // as "corrupt segment" and skips the whole file — the file-source log
    // never retries a file, so throwing there would poison the query
    // permanently. The DSv2 readers (batch scans and the `kfs` stream that
    // Pipeline drains) stay strict: corrupt data should fail the task
    // loudly, and a re-run after repair re-reads it.
    private def need(n: Int): Unit =
      if (n > remaining || pos < 0) throw new KfsFormatException(
        s"truncated: need $n bytes at $pos of ${buf.length}")
    def u8(): Int = { need(1); val b = buf(pos) & 0xff; pos += 1; b }
    def i8(): Byte = { need(1); val b = buf(pos); pos += 1; b }
    def i16(): Short = { need(2); val v = ByteBuffer.wrap(buf, pos, 2).order(ByteOrder.BIG_ENDIAN).getShort; pos += 2; v }
    def i32(): Int = { need(4); val v = ByteBuffer.wrap(buf, pos, 4).order(ByteOrder.BIG_ENDIAN).getInt; pos += 4; v }
    def i64(): Long = { need(8); val v = ByteBuffer.wrap(buf, pos, 8).order(ByteOrder.BIG_ENDIAN).getLong; pos += 8; v }
    def varlong(): Long = {
      var value = 0L; var shift = 0; var b = 0
      do {
        b = u8()
        value |= (b & 0x7fL) << shift
        shift += 7
        if (shift > 70) throw new KfsFormatException("varint too long")
      } while ((b & 0x80) != 0)
      unzigzag(value)
    }
    def varint(): Int = varlong().toInt
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || n > remaining) throw new KfsFormatException(s"bad length $n (remaining $remaining)")
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; a
    }
  }

  final class KfsFormatException(msg: String) extends RuntimeException(msg)

  // ---- segment encode ---------------------------------------------------

  /** Hard ceiling on a single batch's decompressed size — a zip-bomb
    * batch on untrusted bytes must fail the format check, not OOM the
    * executor (Kafka bounds the same surface with `max.message.bytes`). */
  val MaxDecompressedBatchBytes: Int = 1 << 30

  /** Build a complete segment (header + one or more v2 batches + footer).
    * Records must be offset-ordered; batches of `batchSize` records each.
    * `compression` is a [[KfsCompression]] codec id applied per batch. */
  def buildSegment(records: Seq[Record], batchSize: Int = 500,
      compression: Int = KfsCompression.None): Array[Byte] = {
    require(records.nonEmpty, "empty segment")
    val base = records.head.offset
    val out = new ArrayBuffer[Byte](records.length * 64)

    // 32-byte header: magic, version u16, flags u16, baseOffset i64,
    // messageCount i32, createdTs i64, reserved i32
    val hdr = ByteBuffer.allocate(SegmentHeaderLen).order(ByteOrder.BIG_ENDIAN)
    hdr.putInt(SegmentMagic).putShort(1).putShort(0).putLong(base)
      .putInt(records.length).putLong(System.currentTimeMillis()).putInt(0)
    out ++= hdr.array()

    records.grouped(batchSize).foreach(b => out ++= buildBatch(b, compression))

    // Footer CRC is CRC32C (Castagnoli) over the batch body only — the bytes
    // between segment header and footer — matching the reference writer
    // (pkg/storage/segment.go:33,61: crc32.Checksum(bodyBytes, Castagnoli)).
    val crc = new CRC32C
    val all = out.toArray
    crc.update(all, SegmentHeaderLen, all.length - SegmentHeaderLen)
    val foot = ByteBuffer.allocate(FooterLen).order(ByteOrder.BIG_ENDIAN)
    foot.putInt(crc.getValue.toInt).putLong(records.last.offset).putInt(FooterMagic)
    all ++ foot.array()
  }

  /** One Kafka-v2 record batch; `compression` compresses the records body
    * (the 61-byte header stays plain — stats pruning and CRC semantics
    * are codec-independent). */
  def buildBatch(records: Seq[Record],
      compression: Int = KfsCompression.None): Array[Byte] = {
    val base = records.head.offset
    val firstTs = records.map(_.timestampMs).min
    val maxTs = records.map(_.timestampMs).max

    val body = new ArrayBuffer[Byte](records.length * 48)
    records.foreach { r =>
      val rec = new ArrayBuffer[Byte](48)
      rec += 0.toByte // record attributes
      writeVarlong(rec, r.timestampMs - firstTs)
      writeVarlong(rec, r.offset - base)
      if (r.key == null) writeVarlong(rec, -1)
      else { writeVarlong(rec, r.key.length); rec ++= r.key }
      if (r.value == null) writeVarlong(rec, -1)
      else { writeVarlong(rec, r.value.length); rec ++= r.value }
      writeVarlong(rec, r.headers.size)
      r.headers.foreach { h =>
        val kb = h.k.getBytes("UTF-8")
        writeVarlong(rec, kb.length); rec ++= kb
        if (h.v == null) writeVarlong(rec, -1)
        else { writeVarlong(rec, h.v.length); rec ++= h.v }
      }
      writeVarlong(body, rec.length) // record length prefix
      body ++= rec
    }

    val encodedBody =
      if (compression == KfsCompression.None) body.toArray
      else KfsCompression.compress(compression, body.toArray)

    // 61-byte header; crc (CRC32C, Kafka semantics) covers attributes..end
    // — i.e. the compressed body bytes as stored, matching Kafka clients
    val afterCrc = ByteBuffer.allocate(BatchHeaderLen - 21).order(ByteOrder.BIG_ENDIAN)
    afterCrc.putShort((compression & 0x07).toShort) // attributes bits 0-2: codec
      .putInt(records.length - 1) // lastOffsetDelta
      .putLong(firstTs).putLong(maxTs)
      .putLong(-1L).putShort(-1).putInt(-1) // producer id/epoch/baseSequence
      .putInt(records.length)
    val crcInput = afterCrc.array() ++ encodedBody
    val crc = new CRC32C
    crc.update(crcInput)

    val head = ByteBuffer.allocate(21).order(ByteOrder.BIG_ENDIAN)
    head.putLong(base)
      .putInt(crcInput.length + 9) // batchLength: bytes after baseOffset+length
      .putInt(-1) // partitionLeaderEpoch
      .put(2.toByte) // magic v2
      .putInt(crc.getValue.toInt)
    head.array() ++ crcInput
  }

  // ---- segment decode ---------------------------------------------------

  /** Parse the 32-byte header + 16-byte footer; verifies magics + CRC. */
  def segmentInfo(buf: Array[Byte]): SegmentInfo = {
    if (buf.length < SegmentHeaderLen + FooterLen)
      throw new KfsFormatException(s"segment too short: ${buf.length}")
    val r = new ByteReader(buf, 0)
    if (r.i32() != SegmentMagic) throw new KfsFormatException("bad segment magic")
    val _version = r.i16()
    val _flags = r.i16()
    val base = r.i64()
    val count = r.i32()
    val created = r.i64()
    val f = new ByteReader(buf, buf.length - FooterLen)
    val crcStored = f.i32()
    val lastOffset = f.i64()
    if (f.i32() != FooterMagic) throw new KfsFormatException("bad footer magic")
    // Reference semantics: CRC32C over the batch body only (segment.go:61).
    val crc = new CRC32C
    crc.update(buf, SegmentHeaderLen, buf.length - FooterLen - SegmentHeaderLen)
    if (crc.getValue.toInt != crcStored) throw new KfsFormatException("segment CRC mismatch")
    SegmentInfo(base, count, created, lastOffset)
  }

  /** Footer-only completeness check — the reference gates discovery on the
    * trailing `END!` magic via a 4-byte ranged read (`discovery.go:202-228`). */
  def isComplete(lastFourBytes: Array[Byte]): Boolean =
    lastFourBytes.length == 4 &&
      ByteBuffer.wrap(lastFourBytes).getInt == FooterMagic

  /** Decode every record in a segment. Lazy per-batch so a scan with a
    * pushed LIMIT stops early. */
  def decodeSegment(buf: Array[Byte],
      allowCompressed: Boolean = false): Iterator[Record] = {
    segmentInfo(buf) // validates magics + crc
    val end = buf.length - FooterLen
    new Iterator[Record] {
      private var pos = SegmentHeaderLen
      private var batch: Iterator[Record] = Iterator.empty
      private def advance(): Unit = {
        while (!batch.hasNext && pos < end) {
          val (records, next) = decodeBatch(buf, pos, allowCompressed)
          batch = records
          pos = next
        }
      }
      def hasNext: Boolean = { advance(); batch.hasNext }
      def next(): Record = { advance(); batch.next() }
    }
  }

  /** All-or-nothing lenient decode for the streaming path: a segment that
    * fails ANY format/CRC check — including a corrupt body behind a valid
    * END! footer (a foreign writer CRCs its own garbage) — yields zero
    * records instead of throwing. Two-pass on purpose: [[decodeSegment]] is
    * lazy, so a mid-body corruption would otherwise escape *after* a prefix
    * of records was already emitted into the stream. Pass 1 is a validating
    * dry-run that decodes and discards every record (constant extra memory);
    * only if the whole segment proves clean does pass 2 hand back the lazy
    * iterator, so peak memory stays at ONE copy of the raw buffer plus a
    * single in-flight record — not the raw buffer *and* an eager array of
    * every decoded record, which doubled per-task peak on multi-hundred-MB
    * segments. The double decode costs CPU, not memory; segment decode is
    * sequential varint reads, far cheaper than the downstream query.
    * Non-format throwables still fail the task — only provable corruption
    * is skipped. */
  def decodeSegmentLenient(buf: Array[Byte],
      onCorrupt: String => Unit = _ => (),
      allowCompressed: Boolean = false): Iterator[Record] =
    try {
      val dryRun = decodeSegment(buf, allowCompressed)
      while (dryRun.hasNext) dryRun.next() // validate all, retain nothing
      decodeSegment(buf, allowCompressed)
    } catch {
      case e: KfsFormatException => onCorrupt(e.getMessage); Iterator.empty
    }

  /** Offset/timestamp bounds for intra-segment batch pruning — the
    * Spark-native form of the reference's index-guided ranged reads
    * (`pkg/storage/log.go:653-683` seeks to the first qualifying byte range
    * instead of downloading the whole object). Every v2 batch header carries
    * `[baseOffset, baseOffset+lastOffsetDelta]` (exact per the Kafka spec)
    * and `[firstTimestamp, maxTimestamp]`; a batch whose stats fall wholly
    * outside the bounds is skipped without decoding — and on a `Seekable`
    * stream (s3a/hdfs) without even reading its payload bytes. Timestamp
    * stats carry the same flush-time trust contract as `.kfst` segment
    * pruning: the KFS writer emits `firstTimestamp = min`, `maxTimestamp =
    * max` of the batch (see [[buildBatch]]), so ts-pruning is exact for KFS
    * logs; offset pruning is exact for any v2 writer. */
  final case class BatchBounds(
      offMin: Option[Long], offMax: Option[Long],
      tsMin: Option[Long], tsMax: Option[Long]) {
    def isBounded: Boolean =
      offMin.isDefined || offMax.isDefined || tsMin.isDefined || tsMax.isDefined
    def intersects(batchBase: Long, batchLast: Long,
        batchMinTs: Long, batchMaxTs: Long): Boolean =
      offMin.forall(batchLast >= _) && offMax.forall(batchBase <= _) &&
        tsMin.forall(batchMaxTs >= _) && tsMax.forall(batchMinTs <= _)
  }

  /** Decode a segment incrementally from a byte stream of known total
    * `size` — the scan path for multi-hundred-MB object-store segments:
    * peak memory is ONE batch buffer (the writer caps batches at ~500
    * records), not the whole segment, and the bytes stream straight from
    * the ranged GET into the decoder (reference `decoder.go:58-131`
    * downloads whole objects; `pkg/storage/log.go:653-683` shows the ranged
    * form this mirrors).
    *
    * With `bounds` set, batches whose header stats (see [[BatchBounds]])
    * fall wholly outside the bounds are skipped: payload bytes are
    * `seek`ed past on a Hadoop `Seekable` stream (a ranged-GET hole on
    * s3a) or `skip`ped otherwise, and never decoded. An offset-range query
    * touching 1 batch of a 500-batch segment then reads ~1/500th of it.
    *
    * Validation contract vs the buffer path ([[decodeSegment]]): header and
    * footer magics and per-batch structure are enforced as they stream past.
    * Unbounded, the footer CRC32C — which covers the entire body — is
    * compared after the last batch, so a mismatch throws from the final
    * `hasNext`. Bounded, skipped bytes make the segment CRC uncomputable,
    * so integrity shifts to the v2 per-batch CRC32C of every batch actually
    * decoded (exactly the guarantee a ranged GET can give — corrupt bytes
    * can never reach a decoded record either way). For a strict batch task
    * the outcome is the same (the task fails loudly); callers that must not
    * emit any record of a corrupt segment should use the lenient buffer
    * path. The caller owns closing `in`. */
  def decodeSegmentStream(in: java.io.DataInputStream, size: Long,
      bounds: Option[BatchBounds] = None,
      allowCompressed: Boolean = false): Iterator[Record] = {
    if (size < SegmentHeaderLen + FooterLen)
      throw new KfsFormatException(s"segment too short: $size")
    val hdr = new Array[Byte](SegmentHeaderLen)
    in.readFully(hdr)
    val hb = ByteBuffer.wrap(hdr)
    if (hb.getInt() != SegmentMagic) throw new KfsFormatException("bad segment magic")
    val bodyLen = size - SegmentHeaderLen - FooterLen
    val pruning = bounds.exists(_.isBounded)
    val crc = new CRC32C

    new Iterator[Record] {
      private var bodyRead = 0L
      private var batch: Iterator[Record] = Iterator.empty
      private var footerChecked = false

      private def skipPayload(n: Long): Unit = in match {
        case s: org.apache.hadoop.fs.Seekable => s.seek(s.getPos + n)
        case _ =>
          var left = n
          while (left > 0) {
            val skipped = in.skip(left)
            if (skipped <= 0) throw new KfsFormatException(
              s"truncated: failed to skip $left payload bytes")
            left -= skipped
          }
      }

      private def advance(): Unit = {
        while (!batch.hasNext && bodyRead < bodyLen) {
          val head = new Array[Byte](BatchHeaderLen)
          in.readFully(head)
          val pb = ByteBuffer.wrap(head)
          val batchBase = pb.getLong()
          val batchLength = pb.getInt()
          val total = 12L + batchLength
          if (batchLength < BatchHeaderLen - 12 || bodyRead + total > bodyLen)
            throw new KfsFormatException(
              s"bad batch length $batchLength at body offset $bodyRead of $bodyLen")
          pb.getInt() // partitionLeaderEpoch
          if (pb.get() != 2) throw new KfsFormatException("unsupported batch magic")
          val crcStored = pb.getInt()
          pb.getShort() // attributes — re-checked by decodeBatch
          val lastOffsetDelta = pb.getInt()
          val firstTs = pb.getLong()
          val maxTs = pb.getLong()
          val wanted = !pruning || bounds.get.intersects(
            batchBase, batchBase + lastOffsetDelta, firstTs, maxTs)
          if (!wanted) {
            skipPayload(total - BatchHeaderLen)
          } else {
            val buf = new Array[Byte](total.toInt)
            System.arraycopy(head, 0, buf, 0, BatchHeaderLen)
            in.readFully(buf, BatchHeaderLen, (total - BatchHeaderLen).toInt)
            if (pruning) {
              // per-batch CRC32C over attributes..end (Kafka v2 semantics)
              val bcrc = new CRC32C
              bcrc.update(buf, 21, buf.length - 21)
              if (bcrc.getValue.toInt != crcStored)
                throw new KfsFormatException(
                  s"batch CRC mismatch at body offset $bodyRead")
            } else crc.update(buf)
            val (records, _) = decodeBatch(buf, 0, allowCompressed)
            batch = records
          }
          bodyRead += total
        }
        if (!batch.hasNext && bodyRead >= bodyLen && !footerChecked) {
          footerChecked = true
          val foot = new Array[Byte](FooterLen)
          in.readFully(foot)
          val fb = ByteBuffer.wrap(foot)
          val crcStored = fb.getInt()
          fb.getLong() // lastOffset
          if (fb.getInt() != FooterMagic) throw new KfsFormatException("bad footer magic")
          if (!pruning && crc.getValue.toInt != crcStored)
            throw new KfsFormatException("segment CRC mismatch")
        }
      }
      def hasNext: Boolean = { advance(); batch.hasNext }
      def next(): Record = { advance(); batch.next() }
    }
  }

  /** Decode one v2 batch at `pos`; returns records + next batch position.
    * `allowCompressed=false` (the default) mirrors the reference decoder,
    * which rejects any batch with attribute bits 0–2 set
    * (`decoder.go:198-201`); with it true the body is decompressed via
    * [[KfsCompression]] (superset for real Kafka estates). */
  def decodeBatch(buf: Array[Byte], pos: Int,
      allowCompressed: Boolean = false): (Iterator[Record], Int) = {
    val r = new ByteReader(buf, pos)
    val baseOffset = r.i64()
    val batchLength = r.i32()
    val _leaderEpoch = r.i32()
    val magic = r.i8()
    if (magic != 2) throw new KfsFormatException(s"unsupported batch magic $magic")
    val _crc = r.i32()
    val attributes = r.i16()
    val codec = attributes & 0x07
    if (codec != 0 && !allowCompressed)
      throw new KfsFormatException("compressed batches not supported") // decoder.go:198-201
    val _lastOffsetDelta = r.i32()
    val firstTs = r.i64()
    val _maxTs = r.i64()
    r.i64(); r.i16(); r.i32() // producer id / epoch / base sequence
    val recordCount = r.i32()
    if (recordCount < 0)
      throw new KfsFormatException(s"bad record count $recordCount")
    // batchLength must advance the cursor and stay inside the buffer —
    // otherwise a corrupt length makes the segment iterator loop forever
    // (batchEnd <= pos) or read past the footer
    val batchEnd = pos + 12 + batchLength
    if (batchLength <= 0 || batchEnd <= pos || batchEnd > buf.length)
      throw new KfsFormatException(
        s"bad batch length $batchLength at $pos of ${buf.length}")
    // records body: plain bytes read in place; compressed bytes inflate to
    // a fresh buffer and parse from its start (Kafka compresses only the
    // body — the header above is always plain)
    val body =
      if (codec == 0) r
      else {
        val compressed = r.bytes(batchEnd - r.pos)
        new ByteReader(KfsCompression.decompress(codec, compressed,
          MaxDecompressedBatchBytes), 0)
      }
    val bodyEnd = if (codec == 0) batchEnd else -1 // -1: bounded by buffer
    val records = (0 until recordCount).iterator.map { _ =>
      val len = body.varint()
      val recEnd = body.pos + len
      if (bodyEnd >= 0 && recEnd > bodyEnd) throw new KfsFormatException(
        s"record overruns batch: $recEnd > $bodyEnd")
      body.i8() // record attributes
      val tsDelta = body.varlong()
      val offDelta = body.varint()
      val keyLen = body.varint()
      val key = if (keyLen < 0) null else body.bytes(keyLen)
      val valLen = body.varint()
      val value = if (valLen < 0) null else body.bytes(valLen)
      val nHeaders = body.varint()
      val headers = (0 until nHeaders).map { _ =>
        val k = new String(body.bytes(body.varint()), "UTF-8")
        val vl = body.varint()
        Header(k, if (vl < 0) null else body.bytes(vl))
      }
      if (body.pos != recEnd) throw new KfsFormatException(
        s"record length mismatch: read ${body.pos} expected $recEnd")
      Record(baseOffset + offDelta, firstTs + tsDelta, key, value, headers)
    }
    (records, batchEnd)
  }
}

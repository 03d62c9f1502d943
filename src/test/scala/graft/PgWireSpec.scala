package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core.Tables
import graft.pgwire.PgWireServer
import graft.queries.KafsqlPack

/** End-to-end over the wire with the real psql client: startup handshake,
  * simple Query, error responses — mirroring the reference's primary entry
  * point (`minio_e2e_test.go` runs SQL over pg wire the same way). */
class PgWireSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private var server: PgWireServer = _

  override def beforeAll(): Unit = {
    server = new PgWireServer(spark, KafsqlPack.registry(sf),
      nowMs = () => Tables.FixedNowMs).start()
  }
  override def afterAll(): Unit = if (server != null) server.stop()

  private def psql(sql: String): (Int, String, String) =
    psqlAt(server.boundPort, sql)

  private def psqlAt(port: Int, sql: String): (Int, String, String) = {
    val outB = new StringBuilder
    val errB = new StringBuilder
    val cmd = Seq("psql",
      s"host=127.0.0.1 port=$port dbname=graft user=graft",
      "-X", "-At", "-c", sql)
    val code = cmd ! ProcessLogger(l => outB.append(l).append('\n'),
      l => errB.append(l).append('\n'))
    (code, outB.toString, errB.toString)
  }

  // ---- raw-socket extended-protocol driver (psql 15 lacks \bind) ---------

  private def cstr(s: String): Array[Byte] =
    s.getBytes("UTF-8") :+ 0.toByte
  private def i16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def i32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  /** (msgType, body) frames until (and including) ReadyForQuery. */
  private def readUntilReady(in: java.io.DataInputStream): Seq[(Char, Array[Byte])] = {
    val msgs = Seq.newBuilder[(Char, Array[Byte])]
    var done = false
    while (!done) {
      val t = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      msgs += ((t, body))
      if (t == 'Z') done = true
    }
    msgs.result()
  }

  private def dataRowValues(body: Array[Byte]): Seq[String] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(body))
    (0 until in.readShort()).map { _ =>
      val n = in.readInt()
      if (n < 0) null
      else { val b = new Array[Byte](n); in.readFully(b); new String(b, "UTF-8") }
    }
  }

  test("extended protocol: Parse/Bind/Describe/Execute with a text parameter") {
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    try {
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      def send(t: Char, body: Array[Byte]): Unit = {
        out.writeByte(t); out.writeInt(body.length + 4); out.write(body)
      }
      // startup
      val params = cstr("user") ++ cstr("graft") ++
        cstr("database") ++ cstr("graft") :+ 0.toByte
      out.writeInt(params.length + 8); out.writeInt(196608)
      out.write(params); out.flush()
      readUntilReady(in)

      val q = "SELECT _partition, COUNT(*) AS cnt FROM events " +
        "WHERE _partition = $1 GROUP BY _partition LAST 30d"
      send('P', cstr("s1") ++ cstr(q) ++ i16(0))
      send('B', cstr("") ++ cstr("s1") ++ i16(0) ++
        i16(1) ++ i32(1) ++ "2".getBytes("UTF-8") ++ i16(0))
      send('D', 'P'.toByte +: cstr(""))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val msgs = readUntilReady(in)
      val kinds = msgs.map(_._1)
      assert(kinds.containsSlice(Seq('1', '2', 'T', 'D', 'C')), s"got $kinds")
      val row = dataRowValues(msgs.find(_._1 == 'D').get._2)
      assert(row == Seq("2", "250"), s"got $row")

      // error inside the extended phase: Execute on an unknown portal →
      // ErrorResponse, then messages are skipped until Sync, then the
      // connection is usable again
      send('E', cstr("nope") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val errMsgs = readUntilReady(in)
      assert(errMsgs.map(_._1).contains('E'), s"expected error: ${errMsgs.map(_._1)}")

      send('B', cstr("") ++ cstr("s1") ++ i16(0) ++
        i16(1) ++ i32(1) ++ "0".getBytes("UTF-8") ++ i16(0))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val again = readUntilReady(in)
      val row2 = dataRowValues(again.find(_._1 == 'D').get._2)
      assert(row2 == Seq("0", "250"), s"got $row2")
    } finally sock.close()
  }

  /** RowDescription body → the column names. */
  private def rowDescNames(body: Array[Byte]): Seq[String] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(body))
    (0 until in.readShort()).map { _ =>
      val name = Iterator.continually(in.readByte()).takeWhile(_ != 0).toArray
      in.skipBytes(18) // table oid, attnum, type oid, typlen, typmod, format
      new String(name, "UTF-8")
    }
  }

  /** Parse, Bind `params` as text, Describe, Execute and Sync the unnamed
    * statement; returns the result's column names. The default name of an
    * un-aliased COUNT(json_value(...)) column echoes the json path, so it
    * shows on the wire exactly what text was bound. */
  private def boundColumns(q: String, params: String*): Seq[String] = {
    var msgs: Seq[(Char, Array[Byte])] = Nil
    withWire { (in, out, send) =>
      val values = params.flatMap { v =>
        val b = v.getBytes("UTF-8"); i32(b.length) ++ b
      }.toArray
      send('P', cstr("") ++ cstr(q) ++ i16(0))
      send('B', cstr("") ++ cstr("") ++ i16(0) ++ i16(params.size) ++ values ++ i16(0))
      send('D', 'P'.toByte +: cstr(""))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      msgs = readUntilReady(in)
    }
    val desc = msgs.find(_._1 == 'T')
    assert(desc.isDefined, "no RowDescription: " + msgs.map(m =>
      if (m._1 == 'E') new String(m._2, "UTF-8").replace('\u0000', ' ') else m._1))
    assert(dataRowValues(msgs.find(_._1 == 'D').get._2).head == "2")
    rowDescNames(desc.get._2)
  }

  test("Bind leaves a $n inside a quoted literal as text") {
    val cols = boundColumns("SELECT _partition, COUNT(json_value(_value, '$.k$1')) " +
      "FROM events WHERE _partition = $1 GROUP BY _partition LAST 30d", "2")
    assert(cols == Seq("_partition", "count_k$1"), s"got $cols")
  }

  test("Bind substitutes each placeholder once: a bound value holding $1 stays as sent") {
    val cols = boundColumns("SELECT _partition, COUNT(json_value(_value, $2)) " +
      "FROM events WHERE _partition = $1 GROUP BY _partition LAST 30d", "2", "$.k$1")
    assert(cols == Seq("_partition", "count_k$1"), s"got $cols")
  }

  /** Open a socket, run the startup handshake, hand (in, out, send) to f. */
  private def withWire(f: (java.io.DataInputStream, java.io.DataOutputStream,
      (Char, Array[Byte]) => Unit) => Unit): Unit =
    withWireAt(server.boundPort)(f)

  private def withWireAt(port: Int)(
      f: (java.io.DataInputStream, java.io.DataOutputStream,
          (Char, Array[Byte]) => Unit) => Unit): Unit = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      def send(t: Char, body: Array[Byte]): Unit = {
        out.writeByte(t); out.writeInt(body.length + 4); out.write(body)
      }
      val params = cstr("user") ++ cstr("graft") ++
        cstr("database") ++ cstr("graft") :+ 0.toByte
      out.writeInt(params.length + 8); out.writeInt(196608)
      out.write(params); out.flush()
      readUntilReady(in)
      f(in, out, send)
    } finally sock.close()
  }

  test("row-limited Execute pages with PortalSuspended and resumes the cursor") {
    withWire { (in, out, send) =>
      val q = "SELECT _offset FROM events WHERE _partition = 0 " +
        "AND _offset <= 4 SCAN FULL"
      send('P', cstr("pg") ++ cstr(q) ++ i16(0))
      send('B', cstr("c") ++ cstr("pg") ++ i16(0) ++ i16(0) ++ i16(0))
      // first page: 2 of 5 rows -> PortalSuspended, no CommandComplete
      send('E', cstr("c") ++ i32(2))
      send('H', Array.emptyByteArray)
      out.flush()
      def readUntilSuspended(): Seq[(Char, Array[Byte])] = {
        val b = Seq.newBuilder[(Char, Array[Byte])]
        var done = false
        while (!done) {
          val t = in.readByte().toChar; val len = in.readInt()
          val body = new Array[Byte](len - 4); in.readFully(body)
          b += ((t, body)); if (t == 's') done = true
        }
        b.result()
      }
      val p1 = readUntilSuspended()
      assert(p1.map(_._1).endsWith(Seq('D', 'D', 's')), s"got ${p1.map(_._1)}")
      assert(p1.filter(_._1 == 'D').map(b => dataRowValues(b._2).head) ==
        Seq("0", "1"))
      // second page resumes at row 2 (not row 0 — silent-row-loss fix)
      send('E', cstr("c") ++ i32(2))
      send('H', Array.emptyByteArray)
      out.flush()
      val p2 = readUntilSuspended()
      assert(p2.filter(_._1 == 'D').map(b => dataRowValues(b._2).head) ==
        Seq("2", "3"))
      // final page drains the last row -> CommandComplete "SELECT 1"
      send('E', cstr("c") ++ i32(2))
      send('S', Array.emptyByteArray)
      out.flush()
      val fin = readUntilReady(in)
      assert(fin.filter(_._1 == 'D').map(b => dataRowValues(b._2).head) == Seq("4"))
      val cc = fin.find(_._1 == 'C').map(b =>
        new String(b._2.takeWhile(_ != 0), "UTF-8"))
      assert(cc.contains("SELECT 1"), s"got $cc")
    }
  }

  test("max_rows bounds every wire path: simple, COPY TO, portal-paged Execute") {
    // round-9 governance audit: prove the max_rows guardrail caps what the
    // server materializes on ALL client-visible paths — the cap is planned
    // into every Select (.limit ≤ max_rows) before any collect, and the
    // pg-wire server now plans with ITS governor's rails rather than
    // defaults. A dedicated server with maxRows=5 over the 1000-row topic:
    val tiny = new PgWireServer(spark, KafsqlPack.registry(sf),
      gov = new graft.gov.Governor(graft.gov.Guardrails(maxRows = 5)),
      nowMs = () => Tables.FixedNowMs).start()
    try {
      // simple protocol: explicit over-limit is an error, not a big result
      val (c1, _, e1) = psqlAt(tiny.boundPort,
        "SELECT _offset FROM events LIMIT 6 LAST 30d")
      assert(c1 != 0 && e1.contains("max_rows"), s"got $e1")
      // no-limit query: the plan itself caps at max_rows rows
      val (c2, o2, _) = psqlAt(tiny.boundPort,
        "SELECT _offset FROM events LAST 30d")
      assert(c2 == 0 && o2.trim.split("\n").length == 5, s"got $o2")
      // COPY TO (bulk export) rides the same planned cap — and rejects an
      // explicit over-limit inner query before streaming anything
      val (c3, o3, _) = psqlAt(tiny.boundPort,
        "COPY (SELECT _offset FROM events LAST 30d) TO STDOUT")
      assert(c3 == 0 && o3.trim.split("\n").length == 5, s"got $o3")
      val (c4, _, e4) = psqlAt(tiny.boundPort,
        "COPY (SELECT _offset FROM events LIMIT 9 LAST 30d) TO STDOUT")
      assert(c4 != 0 && e4.contains("max_rows"), s"got $e4")
      // portal-suspended Execute: page with rowLimit=2 until complete —
      // the cursor drains exactly max_rows rows in total, never more
      withWireAt(tiny.boundPort) { (in, out, send) =>
        send('P', cstr("pl") ++
          cstr("SELECT _offset FROM events LAST 30d") ++ i16(0))
        send('B', cstr("cl") ++ cstr("pl") ++ i16(0) ++ i16(0) ++ i16(0))
        var total = 0
        var pages = 0
        var done = false
        while (!done && pages < 10) {
          send('E', cstr("cl") ++ i32(2))
          send('H', Array.emptyByteArray)
          out.flush()
          var page = true
          while (page) {
            val t = in.readByte().toChar; val len = in.readInt()
            val body = new Array[Byte](len - 4); in.readFully(body)
            t match {
              case 'D' => total += 1
              case 's' => page = false            // PortalSuspended
              case 'C' => page = false; done = true // CommandComplete
              case _ => ()
            }
          }
          pages += 1
        }
        assert(done && total == 5, s"portal drained $total rows over $pages pages")
        send('S', Array.emptyByteArray); out.flush()
        readUntilReady(in)
      }
    } finally tiny.stop()
  }

  test("binary-format parameter with a declared OID binds and executes") {
    withWire { (in, out, send) =>
      // Parse declares $1 as int4 (oid 23) -> Bind may send it binary
      send('P', cstr("sb") ++ cstr(
        "SELECT COUNT(*) AS n FROM events WHERE _partition = $1 LAST 30d") ++
        i16(1) ++ i32(23))
      // one format code = 1 (binary), one int32 parameter value = 2
      send('B', cstr("") ++ cstr("sb") ++ i16(1) ++ i16(1) ++
        i16(1) ++ i32(4) ++ i32(2) ++ i16(0))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val msgs = readUntilReady(in)
      assert(!msgs.map(_._1).contains('E'), s"unexpected error: ${msgs.map(_._1)}")
      assert(msgs.find(_._1 == 'D').map(b => dataRowValues(b._2).head)
        .contains("250"))
    }
  }

  test("binary-format parameter WITHOUT a declared OID is rejected with 0A000") {
    withWire { (in, out, send) =>
      send('P', cstr("sb2") ++ cstr(
        "SELECT COUNT(*) AS n FROM events WHERE _partition = $1 LAST 30d") ++ i16(0))
      // binary format but Parse declared no types: length-4 bytes are
      // ambiguous (int4? float4? text?) -> refuse rather than misparse
      send('B', cstr("") ++ cstr("sb2") ++ i16(1) ++ i16(1) ++
        i16(1) ++ i32(4) ++ i32(2) ++ i16(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val msgs = readUntilReady(in)
      val err = msgs.find(_._1 == 'E')
      assert(err.isDefined, s"expected ErrorResponse: ${msgs.map(_._1)}")
      val fields = new String(err.get._2, "UTF-8")
      assert(fields.contains("0A000"), s"expected 0A000 in $fields")
      // connection recovered after Sync: a simple query still works
      val q = "SELECT COUNT(*) AS n FROM events LAST 30d"
      send('Q', cstr(q)); out.flush()
      val ok = readUntilReady(in)
      assert(ok.find(_._1 == 'D').map(b => dataRowValues(b._2).head)
        .contains("1000"))
    }
  }

  test("binary int8/float8/bool parameters decode by declared OID") {
    withWire { (in, out, send) =>
      // $1 int8 (oid 20): offsets <= $1
      send('P', cstr("s8") ++ cstr(
        "SELECT COUNT(*) AS n FROM events WHERE _offset <= $1 SCAN FULL") ++
        i16(1) ++ i32(20))
      val v = java.nio.ByteBuffer.allocate(8).putLong(3L).array()
      send('B', cstr("") ++ cstr("s8") ++ i16(1) ++ i16(1) ++
        i16(1) ++ i32(8) ++ v ++ i16(0))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val msgs = readUntilReady(in)
      assert(!msgs.map(_._1).contains('E'), s"unexpected error: ${msgs.map(_._1)}")
      // offsets 0..3 across 4 partitions = 16 rows
      assert(msgs.find(_._1 == 'D').map(b => dataRowValues(b._2).head)
        .contains("16"))
    }
  }

  private def dataRowRaw(body: Array[Byte]): Seq[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.wrap(body)
    val n = bb.getShort
    (0 until n).map { _ =>
      val len = bb.getInt
      if (len < 0) null
      else { val a = new Array[Byte](len); bb.get(a); a }
    }
  }

  test("binary result encoding: Bind format-1 results come back as wire binary") {
    withWire { (in, out, send) =>
      // int4 partition + int8 count + timestamp: all binary-encodable
      send('P', cstr("br") ++ cstr(
        "SELECT _partition, COUNT(*) AS n, MAX(_ts) AS latest " +
          "FROM events GROUP BY _partition LAST 30d") ++ i16(0))
      // no params; ONE result-format code 1 = all columns binary
      send('B', cstr("") ++ cstr("br") ++ i16(0) ++ i16(0) ++ i16(1) ++ i16(1))
      send('D', Array('P'.toByte) ++ cstr(""))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val msgs = readUntilReady(in)
      assert(!msgs.map(_._1).contains('E'), s"unexpected error: ${msgs.map(_._1)}")
      // RowDescription reports per-column format code 1
      val rd = msgs.find(_._1 == 'T').get._2
      val rb = java.nio.ByteBuffer.wrap(rd)
      val nCols = rb.getShort
      assert(nCols == 3)
      val fmts = (0 until nCols).map { _ =>
        while (rb.get() != 0) {} // skip name
        rb.getInt; rb.getShort; rb.getInt; rb.getShort; rb.getInt // oid etc
        rb.getShort // format code
      }
      assert(fmts == Seq(1, 1, 1), s"formats $fmts")
      val rows = msgs.filter(_._1 == 'D').map(m => dataRowRaw(m._2))
      assert(rows.length == 4)
      rows.foreach { cols =>
        assert(cols(0).length == 4 && cols(1).length == 8 && cols(2).length == 8)
      }
      val decoded = rows.map { cols =>
        (java.nio.ByteBuffer.wrap(cols(0)).getInt,
          java.nio.ByteBuffer.wrap(cols(1)).getLong)
      }.toMap
      assert(decoded == Map(0 -> 250L, 1 -> 250L, 2 -> 250L, 3 -> 250L))
      // timestamp binary = µs since 2000-01-01; all four groups must land
      // inside the events fixture's 2024-01 window
      rows.foreach { cols =>
        val micros = java.nio.ByteBuffer.wrap(cols(2)).getLong
        val ldt = java.time.LocalDateTime.of(2000, 1, 1, 0, 0)
          .plusNanos(micros * 1000)
        assert(ldt.getYear == 2024, s"decoded $ldt")
      }
    }
  }

  test("binary result encoding: mixed per-column formats and text fallback") {
    withWire { (in, out, send) =>
      send('P', cstr("br2") ++ cstr(
        "SELECT _partition, COUNT(*) AS n FROM events " +
          "GROUP BY _partition LAST 30d") ++ i16(0))
      // per-column codes: _partition text, n binary
      send('B', cstr("") ++ cstr("br2") ++ i16(0) ++ i16(0) ++
        i16(2) ++ i16(0) ++ i16(1))
      send('E', cstr("") ++ i32(0))
      send('S', Array.emptyByteArray)
      out.flush()
      val msgs = readUntilReady(in)
      assert(!msgs.map(_._1).contains('E'), s"unexpected error: ${msgs.map(_._1)}")
      val rows = msgs.filter(_._1 == 'D').map(m => dataRowRaw(m._2))
      val decoded = rows.map(cols =>
        (new String(cols(0), "UTF-8"),
          java.nio.ByteBuffer.wrap(cols(1)).getLong)).toMap
      assert(decoded == Map("0" -> 250L, "1" -> 250L, "2" -> 250L, "3" -> 250L))
    }
  }

  test("BackendKeyData is per-connection; CancelRequest is a silent advisory no-op") {
    def connect(): (java.net.Socket, java.io.DataOutputStream,
        java.io.DataInputStream, (Int, Int)) = {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      val params = cstr("user") ++ cstr("graft") ++
        cstr("database") ++ cstr("graft") :+ 0.toByte
      out.writeInt(params.length + 8); out.writeInt(196608)
      out.write(params); out.flush()
      val msgs = readUntilReady(in)
      val key = msgs.find(_._1 == 'K').map { case (_, body) =>
        val b = new java.io.DataInputStream(new java.io.ByteArrayInputStream(body))
        (b.readInt(), b.readInt())
      }.get
      (sock, out, in, key)
    }
    val (s1, o1, i1, k1) = connect()
    val (s2, _, _, k2) = connect()
    try {
      assert(k1 != k2, "cancel keys must be unique per connection")
      // CancelRequest with connection 1's key on a NEW connection: the
      // cancel socket gets no reply and closes; with nothing running it
      // is a no-op and connection 1 keeps serving queries
      val c = new java.net.Socket("127.0.0.1", server.boundPort)
      val co = new java.io.DataOutputStream(c.getOutputStream)
      co.writeInt(16); co.writeInt(80877102); co.writeInt(k1._1); co.writeInt(k1._2)
      co.flush()
      assert(c.getInputStream.read() == -1, "cancel connection must close silently")
      c.close()
      // wrong key is equally silent
      val w = new java.net.Socket("127.0.0.1", server.boundPort)
      val wo = new java.io.DataOutputStream(w.getOutputStream)
      wo.writeInt(16); wo.writeInt(80877102); wo.writeInt(99999); wo.writeInt(12345)
      wo.flush()
      assert(w.getInputStream.read() == -1)
      w.close()
      // connection 1 still works after both cancels
      o1.writeByte('Q')
      val q = "SHOW TOPICS".getBytes("UTF-8") :+ 0.toByte
      o1.writeInt(q.length + 4); o1.write(q); o1.flush()
      val msgs = readUntilReady(i1)
      assert(msgs.map(_._1).contains('D'), s"got ${msgs.map(_._1)}")
    } finally { s1.close(); s2.close() }
  }

  test("COPY TO STDOUT streams CSV with header over the wire") {
    val (code, out, err) = psql(
      "COPY (SELECT _partition, COUNT(*) AS cnt FROM events " +
        "GROUP BY _partition LAST 30d) TO STDOUT WITH (FORMAT CSV, HEADER)")
    assert(code == 0, s"psql failed: $err")
    val lines = out.trim.linesIterator.toSeq
    assert(lines.head == "_partition,cnt")
    assert(lines.tail == Seq("0,250", "1,250", "2,250", "3,250"))
  }

  test("COPY text format renders NULL as \\N") {
    val (code, out, err) = psql(
      "COPY (SELECT _offset, json_value(_value, '$.missing') AS m FROM events " +
        "WHERE _partition = 0 AND _offset <= 1 SCAN FULL) TO STDOUT")
    assert(code == 0, s"psql failed: $err")
    val lines = out.trim.linesIterator.toSeq
    assert(lines == Seq("0\t\\N", "1\t\\N"))
  }

  test("COPY FROM and unknown options are rejected with a syntax error") {
    val (c1, _, e1) = psql("COPY events FROM STDIN")
    assert(c1 != 0 && e1.contains("TO STDOUT"))
    val (c2, _, e2) = psql(
      "COPY (SELECT _offset FROM events LAST 30d) TO STDOUT WITH (FORMAT BINARY)")
    assert(c2 != 0 && e2.contains("unsupported COPY option"))
  }

  test("psql runs the flagship aggregate over the wire") {
    val (code, out, err) = psql(
      "SELECT _partition, COUNT(*) AS cnt FROM events GROUP BY _partition LAST 30d")
    assert(code == 0, s"psql failed: $err")
    val rows = out.trim.linesIterator.map(_.split('|')).toSeq
    assert(rows.map(r => (r(0).toInt, r(1).toLong)) ==
      Seq((0, 250L), (1, 250L), (2, 250L), (3, 250L)))
  }

  test("psql sees typed values: json extraction, timestamps, hex keys") {
    val (code, out, err) = psql(
      "SELECT _offset, _key, json_value(_value, '$.k') AS k FROM events " +
        "WHERE _partition = 1 AND _offset <= 2 SCAN FULL")
    assert(code == 0, s"psql failed: $err")
    val rows = out.trim.linesIterator.map(_.split('|')).toSeq
    assert(rows.length == 3)
    assert(rows.forall(_.length == 3))
    assert(rows.map(_(0)) == Seq("0", "1", "2"))
    assert(rows.forall(_(1).startsWith("user-")))
  }

  test("SHOW TOPICS and DESCRIBE work over the wire") {
    val (c1, topics, _) = psql("SHOW TOPICS")
    assert(c1 == 0 && topics.trim.linesIterator.toSeq ==
      Seq("docsestate", "errors", "events", "kevents", "purchases"))
    val (c2, desc, _) = psql("DESCRIBE events")
    assert(c2 == 0)
    assert(desc.contains("_offset|bigint|"))
    assert(desc.contains("k|integer|$.k"))
  }

  test("guardrail violations surface as SQL errors, connection survives") {
    val (code, _, err) = psql("SELECT _offset FROM events")
    assert(code != 0)
    assert(err.contains("unbounded query: add LAST, TAIL, or SCAN FULL"))
    // connection pool is stateless; a new query still works
    val (code2, out2, _) = psql("SELECT COUNT(*) AS n FROM events LAST 30d")
    assert(code2 == 0 && out2.trim == "1000")
  }

  test("information_schema/pg_catalog emulation serves BI introspection") {
    val (c1, tables, _) = psql("SELECT table_name FROM information_schema.tables")
    assert(c1 == 0)
    assert(tables.trim.linesIterator.toSet ==
      Set("docsestate", "errors", "events", "kevents", "purchases"))
    val (c2, cols, _) = psql(
      "SELECT column_name, data_type FROM information_schema.columns")
    assert(c2 == 0)
    assert(cols.contains("_offset|bigint"))
    assert(cols.contains("k|integer"))
    val (c3, ns, _) = psql("SELECT nspname FROM pg_catalog.pg_namespace")
    assert(c3 == 0 && ns.contains("public"))
    // pg_type: the fixed oid->name set (server.go:1138-1165)
    val (c4, types, _) = psql(
      "SELECT oid, typname FROM pg_catalog.pg_type ORDER BY oid")
    assert(c4 == 0)
    assert(types.trim.linesIterator.toSeq == Seq("16|bool", "17|bytea",
      "20|int8", "23|int4", "25|text", "701|float8", "1114|timestamp",
      "3802|jsonb"))
    // pg_class joins pg_namespace the way BI introspection does
    val (c5, rels, _) = psql(
      """SELECT c.relname, c.relkind, n.nspname
        |FROM pg_catalog.pg_class c
        |JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid
        |ORDER BY c.relname""".stripMargin)
    assert(c5 == 0)
    assert(rels.trim.linesIterator.toSeq == Seq("docsestate|r|public", "errors|r|public",
      "events|r|public", "kevents|r|public", "purchases|r|public"))
  }

  test("EXPLAIN over the wire returns plan text") {
    val (code, out, err) = psql("EXPLAIN SELECT _offset FROM events LAST 5m")
    assert(code == 0, err)
    assert(out.contains("scan topic events"))
  }

  test("SET is accepted as a no-op for BI compatibility (server.go:637-657)") {
    val (code, _, err) = psql("SET search_path TO public")
    assert(code == 0, err)
  }

  test("topic ACL denies over the wire with 42501; allowed topics still serve") {
    val aclServer = new PgWireServer(spark, KafsqlPack.registry(sf),
      nowMs = () => Tables.FixedNowMs,
      acl = graft.gov.TopicAcl(allow = Seq("events", "kev*"))).start()
    try {
      def psqlAcl(sql: String): (Int, String, String) = {
        val outB = new StringBuilder; val errB = new StringBuilder
        val cmd = Seq("psql",
          s"host=127.0.0.1 port=${aclServer.boundPort} dbname=graft user=graft",
          "-X", "-At", "-c", sql)
        val code = cmd ! ProcessLogger(l => outB.append(l).append('\n'),
          l => errB.append(l).append('\n'))
        (code, outB.toString, errB.toString)
      }
      // allowed: listed topic and glob-matched topic
      val (c1, out1, err1) = psqlAcl("SELECT COUNT(*) AS n FROM events LAST 30d")
      assert(c1 == 0 && out1.trim == "1000", err1)
      val (c2, _, err2) = psqlAcl("SELECT COUNT(*) AS n FROM kevents LAST 30d")
      assert(c2 == 0, err2)
      // denied topic: ERROR with the reference's reason text, conn survives
      val (c3, _, err3) = psqlAcl("SELECT COUNT(*) AS n FROM purchases LAST 30d")
      assert(c3 != 0)
      assert(err3.contains("access denied to topic \"purchases\""))
      // join with one denied side is denied
      val (c4, _, err4) = psqlAcl(
        "SELECT e._key FROM events e JOIN purchases p WITHIN 10m LAST 30d")
      assert(c4 != 0 && err4.contains("access denied to topic \"purchases\""))
      // SHOW TOPICS denied under a scoped allow list (acl.go:38-46)
      val (c5, _, err5) = psqlAcl("SHOW TOPICS")
      assert(c5 != 0 && err5.contains("show topics is not allowed by proxy ACL"))
      // SET stays a no-op regardless of ACL
      val (c6, _, _) = psqlAcl("SET search_path TO public")
      assert(c6 == 0)
    } finally aclServer.stop()
  }

  test("SHOW METRICS exposes ops counters over the wire") {
    psql("SELECT COUNT(*) AS n FROM events LAST 30d") // ensure >= 1 served
    val (code, out, err) = psql("SHOW METRICS")
    assert(code == 0, err)
    val m = out.trim.linesIterator.map(_.split('|')).map(r => r(0) -> r(1).toLong).toMap
    assert(m("queries_served") >= 1)
    assert(m.contains("result_cache_hits") && m.contains("query_errors"))
  }
}

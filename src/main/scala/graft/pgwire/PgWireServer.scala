package graft.pgwire

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.gov.{AclAuthorizer, AclDeniedException, Governor, TopicAcl}
import graft.kafsql.{Kafsql, KafsqlException, TopicRegistry}

/** Minimal PostgreSQL wire-protocol (v3) endpoint fronting KAFSQL — the
  * reference's primary entry point (SURVEY §3.1: psql/JDBC → :5432 →
  * AuthenticationOk → simple Query → DataRows). Clean-room implementation
  * from the public protocol documentation
  * (postgresql.org/docs/current/protocol-message-formats.html): supports
  * SSLRequest refusal, startup, simple Query, the extended protocol
  * (Parse/Bind/Describe/Execute/Close/Sync with text-format parameters —
  * the JDBC/BI path the reference also serves, `server.go:152-216,234-319`),
  * per-statement errors with error-to-Sync recovery, and Terminate.
  * pg_catalog / information_schema emulation answers BI introspection.
  *
  * One thread per connection (the reference is one goroutine per
  * connection, `server.go:112-117`); every query runs through the
  * [[Governor]] (admission, result cache, timeout).
  */
class PgWireServer(
    spark: SparkSession,
    registry: TopicRegistry,
    gov: Governor = new Governor(),
    port: Int = 0,
    nowMs: () => Long = () => System.currentTimeMillis(),
    acl: TopicAcl = TopicAcl()) {

  /** Per-server decision cache over the topic ACL (proxy.go:134-176). */
  private val authorizer = new AclAuthorizer(acl)

  private val server = new ServerSocket(port)
  private val running = new AtomicBoolean(true)
  @volatile private var acceptThread: Thread = _

  def boundPort: Int = server.getLocalPort

  def start(): PgWireServer = {
    acceptThread = new Thread(() => {
      while (running.get()) {
        try {
          val sock = server.accept()
          val t = new Thread(() => handle(sock))
          t.setDaemon(true)
          t.start()
        } catch {
          case _: Exception if !running.get() => // closing
          case e: Exception => // keep accepting
        }
      }
    })
    acceptThread.setDaemon(true)
    acceptThread.start()
    this
  }

  def stop(): Unit = {
    running.set(false)
    server.close()
  }

  // ---- connection ----------------------------------------------------------

  private val SslRequestCode = 80877103
  private val CancelRequestCode = 80877102
  private val ProtocolV3 = 196608

  /** Out-of-band query cancellation (the psql Ctrl-C path): every
    * connection gets a (pid, secret) BackendKeyData pair; a CancelRequest
    * arriving on a NEW connection with that pair cancels the target
    * connection's in-flight job group via `cancelJobGroup` — the same
    * mechanism the Governor's timeout uses, driven by the client. A
    * wrong key, or a connection with nothing running, is a silent no-op
    * (postgres semantics: cancellation is advisory, never an error). */
  private final class CancelHandle { @volatile var group: String = null }
  private val cancelRegistry =
    new java.util.concurrent.ConcurrentHashMap[Long, CancelHandle]()
  private val pidCounter = new java.util.concurrent.atomic.AtomicInteger(1)
  private val secretRandom = new java.security.SecureRandom()
  private val currentHandle = new ThreadLocal[CancelHandle]
  private def cancelKey(pid: Int, secret: Int): Long =
    (pid.toLong << 32) | (secret & 0xffffffffL)

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val pid = pidCounter.getAndIncrement()
    val secret = secretRandom.nextInt()
    val handle = new CancelHandle
    cancelRegistry.put(cancelKey(pid, secret), handle)
    currentHandle.set(handle)
    try {
      if (!startup(in, out)) return
      sendAuthOk(out, pid, secret)
      // extended-protocol state (reference handles Parse/Bind/Describe/
      // Execute alongside simple queries, server.go:152-216,234-319)
      val prepared = scala.collection.mutable.Map[String, PreparedStmt]()
      val portals = scala.collection.mutable.Map[String, PortalState]()
      var skipToSync = false // after an extended-phase error, discard to Sync
      var open = true
      while (open) {
        val msgType = try in.readByte() catch { case _: EOFException => return }
        val len = in.readInt()
        val body = new Array[Byte](len - 4)
        in.readFully(body)
        msgType.toChar match {
          case 'Q' =>
            val sql = new String(body, 0, body.length - 1, StandardCharsets.UTF_8)
            runQuery(sql.trim, out)
            readyForQuery(out)
          case 'P' if !skipToSync =>
            try {
              val r = new WireReader(body)
              val name = r.cstring(); val query = r.cstring()
              // declared parameter-type OIDs: needed to decode any
              // binary-format Bind parameters later (a bare length-8 value
              // is ambiguous between int8 and float8 without them)
              val nTypes = r.i16()
              val oids = (0 until nTypes).map(_ => r.i32())
              prepared(name) = PreparedStmt(query, oids)
              out.writeByte('1'); out.writeInt(4) // ParseComplete
            } catch { case e: Exception =>
              errorResponse(out, "42601", msg(e)); skipToSync = true
            }
          case 'B' if !skipToSync =>
            try {
              val r = new WireReader(body)
              val portal = r.cstring(); val stmt = r.cstring()
              // per-parameter format codes: 0=text, 1=binary. Binary values
              // decode via the Parse-declared OID (pgjdbc sends binary for
              // int/float/bool); a binary parameter with no or unknown
              // declared OID is rejected rather than misparsed.
              val nFmt = r.i16()
              val fmts = (0 until nFmt).map(_ => r.i16())
              val base = prepared.getOrElse(stmt,
                throw new KafsqlException(s"unknown prepared statement: '$stmt'"))
              val nParams = r.i16()
              val params = (0 until nParams).map { i =>
                val fmt =
                  if (fmts.isEmpty) 0
                  else if (fmts.length == 1) fmts.head // one code applies to all
                  else fmts(i)
                val l = r.i32()
                val bytes = if (l < 0) null else r.bytes(l)
                if (bytes == null) null
                else if (fmt == 0) new String(bytes, StandardCharsets.UTF_8)
                else decodeBinaryParam(bytes, base.paramOids.lift(i).getOrElse(0))
              }
              // result-format codes (0=text, 1=binary): pgjdbc requests
              // binary for int/float/timestamp/bytea on the extended path
              val nResFmt = r.i16()
              val resFmts = (0 until nResFmt).map(_ => r.i16())
              portals(portal) = PortalState(
                substituteParams(base.query, params), None,
                resultFormats = resFmts)
              out.writeByte('2'); out.writeInt(4) // BindComplete
            } catch {
              case e: UnsupportedFormatException =>
                errorResponse(out, "0A000", msg(e)); skipToSync = true
              case e: Exception =>
                errorResponse(out, "42601", msg(e)); skipToSync = true
            }
          case 'D' if !skipToSync =>
            try {
              val r = new WireReader(body)
              val kind = r.i8().toChar; val name = r.cstring()
              kind match {
                case 'P' =>
                  val p = portals.getOrElse(name,
                    throw new KafsqlException(s"unknown portal: '$name'"))
                  val res = p.result.getOrElse(computeResult(p.sql))
                  portals(name) = p.copy(result = Some(res))
                  rowDescription(out, res._1,
                    effectiveFormats(res._1, p.resultFormats))
                case _ =>
                  // statement describe: no parameter-type inference —
                  // ParameterDescription with 0 params + NoData
                  out.writeByte('t'); out.writeInt(6); out.writeShort(0)
                  out.writeByte('n'); out.writeInt(4)
              }
            } catch {
              case e: AclDeniedException =>
                errorResponse(out, "42501", msg(e)); skipToSync = true
              case e: Exception =>
                errorResponse(out, "42601", msg(e)); skipToSync = true
            }
          case 'E' if !skipToSync =>
            try {
              val r = new WireReader(body)
              val name = r.cstring(); val maxRows = r.i32()
              val p = portals.getOrElse(name,
                throw new KafsqlException(s"unknown portal: '$name'"))
              val (schema, rows) = p.result.getOrElse(computeResult(p.sql))
              // row-limited Execute is a cursor over the portal's result:
              // emit from the saved offset, and when rows remain send
              // PortalSuspended so the client re-Executes for the next page
              // (pgjdbc setFetchSize). CommandComplete only once drained —
              // anything else silently truncates the result on the client.
              val from = p.cursor
              val emit =
                if (maxRows > 0) rows.slice(from, from + maxRows)
                else rows.drop(from)
              val fmts = effectiveFormats(schema, p.resultFormats)
              emit.foreach(row => dataRow(out, schema, row, fmts))
              val newCursor = from + emit.length
              portals(name) = p.copy(result = Some((schema, rows)), cursor = newCursor)
              if (maxRows > 0 && newCursor < rows.length) {
                out.writeByte('s'); out.writeInt(4) // PortalSuspended
              } else {
                commandComplete(out, s"SELECT ${emit.length}")
                gov.queriesServed.incrementAndGet()
              }
            } catch {
              case e: AclDeniedException =>
                gov.queryErrors.incrementAndGet()
                errorResponse(out, "42501", msg(e)); skipToSync = true
              case e: KafsqlException =>
                gov.queryErrors.incrementAndGet()
                errorResponse(out, "42601", msg(e)); skipToSync = true
              case e: Exception =>
                gov.queryErrors.incrementAndGet()
                errorResponse(out, "XX000", msg(e)); skipToSync = true
            }
          case 'C' if !skipToSync =>
            val r = new WireReader(body)
            val kind = r.i8().toChar; val name = r.cstring()
            if (kind == 'P') portals.remove(name) else prepared.remove(name)
            out.writeByte('3'); out.writeInt(4) // CloseComplete
          case 'S' =>
            skipToSync = false
            readyForQuery(out)
          case 'H' => out.flush()
          case 'X' => open = false
          case _ => // unknown / skipped while in error state
        }
      }
    } catch {
      case _: EOFException =>
      case _: java.net.SocketException =>
    } finally {
      cancelRegistry.remove(cancelKey(pid, secret))
      currentHandle.remove()
      sock.close()
    }
  }

  /** Handles SSLRequest ('N') then the real StartupMessage. */
  private def startup(in: DataInputStream, out: DataOutputStream): Boolean = {
    var attempts = 0
    while (attempts < 3) {
      attempts += 1
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      val code = ((body(0) & 0xff) << 24) | ((body(1) & 0xff) << 16) |
        ((body(2) & 0xff) << 8) | (body(3) & 0xff)
      code match {
        case SslRequestCode =>
          out.writeByte('N'); out.flush() // no TLS, retry plaintext
        case CancelRequestCode =>
          // body = code(4) pid(4) secret(4); cancel the matching
          // connection's in-flight group and close without a response
          // (postgres: the cancel connection never gets a reply)
          if (body.length >= 12) {
            def i32At(o: Int) = ((body(o) & 0xff) << 24) | ((body(o + 1) & 0xff) << 16) |
              ((body(o + 2) & 0xff) << 8) | (body(o + 3) & 0xff)
            val h = cancelRegistry.get(cancelKey(i32At(4), i32At(8)))
            if (h != null && h.group != null) {
              spark.sparkContext.cancelJobGroup(h.group)
            }
          }
          return false
        case ProtocolV3 => return true
        case other => return false
      }
    }
    false
  }

  private def sendAuthOk(out: DataOutputStream, pid: Int, secret: Int): Unit = {
    out.writeByte('R'); out.writeInt(8); out.writeInt(0) // AuthenticationOk
    paramStatus(out, "server_version", "15.0 (graft)")
    paramStatus(out, "client_encoding", "UTF8")
    paramStatus(out, "DateStyle", "ISO")
    // BackendKeyData: the cancel key the client echoes in a CancelRequest
    out.writeByte('K'); out.writeInt(12); out.writeInt(pid); out.writeInt(secret)
    readyForQuery(out)
  }

  private def paramStatus(out: DataOutputStream, k: String, v: String): Unit = {
    val kb = k.getBytes(StandardCharsets.UTF_8)
    val vb = v.getBytes(StandardCharsets.UTF_8)
    out.writeByte('S'); out.writeInt(4 + kb.length + 1 + vb.length + 1)
    out.write(kb); out.writeByte(0); out.write(vb); out.writeByte(0)
  }

  private def readyForQuery(out: DataOutputStream): Unit = {
    out.writeByte('Z'); out.writeInt(5); out.writeByte('I'); out.flush()
  }

  // ---- query execution -----------------------------------------------------

  /** A bound extended-protocol portal: the parameter-substituted SQL, the
    * result once Describe/Execute first materializes it (so a
    * Describe + Execute pair computes the query once), and the cursor — how
    * many rows previous row-limited Executes already sent. */
  private final case class PreparedStmt(query: String, paramOids: Seq[Int])

  /** Binary-format parameter → SQL-substitutable text, by declared OID
    * (network byte order per the protocol docs): bool, int2/4/8,
    * float4/8, and text/varchar/bytea-as-UTF8. Anything else is
    * unsupported — reject, never misparse. */
  private def decodeBinaryParam(bytes: Array[Byte], oid: Int): String = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    oid match {
      case 16 => // bool
        if (bytes.length != 1) throw new UnsupportedFormatException("bad bool length")
        if (bytes(0) != 0) "true" else "false"
      case 21 if bytes.length == 2 => bb.getShort.toString // int2
      case 23 if bytes.length == 4 => bb.getInt.toString // int4
      case 20 if bytes.length == 8 => bb.getLong.toString // int8
      case 700 if bytes.length == 4 => bb.getFloat.toString // float4
      case 701 if bytes.length == 8 => bb.getDouble.toString // float8
      case 25 | 1043 | 17 => new String(bytes, StandardCharsets.UTF_8)
      case _ => throw new UnsupportedFormatException(
        s"binary parameter format is not supported for oid $oid; " +
          "declare a parameter type in Parse or send text format")
    }
  }

  private final case class PortalState(
      sql: String, result: Option[(StructType, Array[Row])], cursor: Int = 0,
      resultFormats: Seq[Int] = Nil)

  /** Resolve Bind's requested result-format codes against what each column
    * type can actually serialize in binary (protocol: one code applies to
    * all; none means all-text). A binary request on an unsupported type
    * degrades to text — RowDescription reports the EFFECTIVE per-column
    * code, which is what clients decode by. */
  private def effectiveFormats(schema: StructType,
      requested: Seq[Int]): Array[Int] = {
    def supported(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | FloatType | DoubleType | BooleanType |
           BinaryType | StringType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    schema.fields.zipWithIndex.map { case (f, i) =>
      val want =
        if (requested.isEmpty) 0
        else if (requested.length == 1) requested.head
        else requested.lift(i).getOrElse(0)
      if (want == 1 && supported(f.dataType)) 1 else 0
    }
  }

  /** Bind-time rejection of protocol features we don't speak (SQLSTATE 0A000). */
  private final class UnsupportedFormatException(m: String) extends Exception(m)

  /** Little parser over one wire message body. */
  private final class WireReader(body: Array[Byte]) {
    private var pos = 0
    def i8(): Byte = { val b = body(pos); pos += 1; b }
    def i16(): Int = { val v = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff); pos += 2; v }
    def i32(): Int = {
      val v = ((body(pos) & 0xff) << 24) | ((body(pos + 1) & 0xff) << 16) |
        ((body(pos + 2) & 0xff) << 8) | (body(pos + 3) & 0xff)
      pos += 4; v
    }
    def bytes(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(body, pos, pos + n); pos += n; a
    }
    def cstring(): String = {
      val end = body.indexOf(0.toByte, pos)
      val s = new String(body, pos, end - pos, StandardCharsets.UTF_8)
      pos = end + 1; s
    }
  }

  private def msg(e: Exception): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(500)

  /** Text-format parameter substitution, like the reference's extended-query
    * bind: numeric values inline bare, everything else as a quoted literal.
    * One left-to-right scan: `'...'` literals (with `''` escapes) copy
    * verbatim, so a `$1` inside one is text, not a placeholder; `$n` reads
    * its digits greedily, so `$12` is never `$1` then `2`; and each
    * placeholder is replaced exactly once, so a bound value containing
    * `$1` is never substituted again. A `$n` with no bound value stays
    * as written and fails in the parser. */
  private def substituteParams(sql: String, params: Seq[String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') {
        // the literal ends at the first quote not doubled as an escape
        var q = sql.indexOf('\'', i + 1)
        while (q >= 0 && q + 1 < sql.length && sql.charAt(q + 1) == '\'')
          q = sql.indexOf('\'', q + 2)
        val end = if (q < 0) sql.length else q + 1
        out.append(sql.substring(i, end)); i = end
      } else if (c == '$' && i + 1 < sql.length && sql.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        sql.substring(i + 1, j).toIntOption.flatMap(n => params.lift(n - 1)) match {
          case None => out.append(sql.substring(i, j))
          case Some(null) => out.append("NULL")
          case Some(n) if n.matches("-?\\d+(\\.\\d+)?") => out.append(n)
          case Some(t) => out.append('\'').append(t.replace("'", "''")).append('\'')
        }
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** One query → (schema, collected rows); shared by the simple- and
    * extended-protocol paths. Throws KafsqlException / runtime errors. */
  private def computeResult(sql: String): (StructType, Array[Row]) = {
    val lower = sql.toLowerCase
    if (lower == "show metrics") {
      import spark.implicits._
      val df = gov.metrics.toDF("metric", "value")
      return (df.schema, df.collect())
    }
    catalogFrame(sql, lower) match {
      case Some(df) => (df.schema, df.collect())
      case None => Kafsql.governedRows(spark, registry, gov, sql,
        nowMs = nowMs(), rails = gov.rails, authorizer = authorizer,
        onGroup = g => {
          // expose this query's job group to the out-of-band canceller
          val h = currentHandle.get()
          if (h != null) h.group = g
        })
    }
  }

  private def runQuery(sql: String, out: DataOutputStream): Unit = {
    if (sql.isEmpty || sql == ";") {
      out.writeByte('I'); out.writeInt(4) // EmptyQueryResponse
      return
    }
    // SET/RESET accepted as no-ops for BI-tool compatibility (server.go:637-657)
    val lower = sql.toLowerCase
    if (lower.startsWith("set ") || lower.startsWith("reset ")) {
      commandComplete(out, "SET")
      return
    }
    if (lower.startsWith("copy")) {
      runCopy(sql, out)
      return
    }
    try {
      val (schema, rows) = computeResult(sql)
      rowDescription(out, schema)
      rows.foreach(r => dataRow(out, schema, r))
      commandComplete(out, s"SELECT ${rows.length}")
      gov.queriesServed.incrementAndGet()
    } catch {
      case e: AclDeniedException =>
        gov.queryErrors.incrementAndGet()
        errorResponse(out, "42501", e.getMessage) // insufficient_privilege
      case e: KafsqlException =>
        gov.queryErrors.incrementAndGet()
        errorResponse(out, "42601", e.getMessage)
      case e: Exception =>
        gov.queryErrors.incrementAndGet()
        errorResponse(out, "XX000", msg(e))
    }
  }

  /** `COPY (query) TO STDOUT [WITH (FORMAT CSV [, HEADER])]` — the bulk
    * export path psql's `\copy` and ETL scripts use. The wrapped query runs
    * through the same governed KAFSQL engine as simple queries; output
    * streams as CopyOutResponse → CopyData rows → CopyDone. Formats: pg
    * text (tab delimiter, `\N` null, backslash escapes — the default) and
    * CSV (RFC-style quoting, empty null, optional header). COPY FROM
    * (ingest) is intentionally rejected: topics are written by brokers,
    * not the query head. */
  private val copyRe =
    "(?is)^copy\\s*\\((.*)\\)\\s*to\\s+stdout\\s*(?:with\\s*\\((.*)\\))?\\s*;?$".r

  private def runCopy(sql: String, out: DataOutputStream): Unit = sql match {
    case copyRe(inner, opts) =>
      val optSet = Option(opts).map(_.toLowerCase.split(",").map(_.trim).toSet)
        .getOrElse(Set.empty[String])
      val csv = optSet.exists(_.startsWith("format csv"))
      val header = optSet.contains("header") || optSet.contains("header true")
      val unknown = optSet.filterNot(o =>
        o.startsWith("format csv") || o == "format text" ||
          o == "header" || o == "header true" || o.isEmpty)
      try {
        if (unknown.nonEmpty)
          throw new KafsqlException(s"unsupported COPY option: ${unknown.head}")
        if (header && !csv)
          throw new KafsqlException("COPY HEADER requires FORMAT CSV")
        val (schema, rows) = computeResult(inner.trim)
        // CopyOutResponse: overall format 0 (text), per-column 0s
        out.writeByte('H')
        out.writeInt(4 + 1 + 2 + 2 * schema.length)
        out.writeByte(0)
        out.writeShort(schema.length)
        schema.indices.foreach(_ => out.writeShort(0))
        def copyData(line: String): Unit = {
          val b = (line + "\n").getBytes(StandardCharsets.UTF_8)
          out.writeByte('d'); out.writeInt(4 + b.length); out.write(b)
        }
        def csvField(s: String): String =
          if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
            "\"" + s.replace("\"", "\"\"") + "\""
          else s
        def textField(s: String): String = s.flatMap {
          case '\\' => "\\\\"
          case '\t' => "\\t"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case c => c.toString
        }
        if (header) copyData(schema.fieldNames.map(csvField).mkString(","))
        rows.foreach { r =>
          val fields = schema.fields.zipWithIndex.map { case (f, i) =>
            if (r.isNullAt(i)) { if (csv) "" else "\\N" }
            else {
              val s = render(f.dataType, r.get(i))
              if (csv) csvField(s) else textField(s)
            }
          }
          copyData(fields.mkString(if (csv) "," else "\t"))
        }
        out.writeByte('c'); out.writeInt(4) // CopyDone
        commandComplete(out, s"COPY ${rows.length}")
        gov.queriesServed.incrementAndGet()
      } catch {
        case e: AclDeniedException =>
          gov.queryErrors.incrementAndGet()
          errorResponse(out, "42501", e.getMessage)
        case e: KafsqlException =>
          gov.queryErrors.incrementAndGet()
          errorResponse(out, "42601", e.getMessage)
        case e: Exception =>
          gov.queryErrors.incrementAndGet()
          errorResponse(out, "XX000", msg(e))
      }
    case _ =>
      gov.queryErrors.incrementAndGet()
      errorResponse(out, "42601",
        "only COPY (query) TO STDOUT [WITH (FORMAT CSV[, HEADER])] is supported")
  }

  /** Synthesized pg_catalog / information_schema relations so BI tools can
    * introspect (server.go:600-657,1012-1253): any query referencing one of
    * the emulated relations is answered from the topic registry instead of
    * the KAFSQL engine. Pattern dispatch on the relation name, like the
    * reference's catalog short-circuit. */
  private def catalogFrame(sql: String, lowerSql: String): Option[DataFrame] = {
    import spark.implicits._
    def topics = registry.topicNames
    // emulated relation -> synthesized frame; the user's own SQL (their
    // projections/filters/order) then runs against it via Spark SQL with
    // the qualified name rewritten to a temp view
    val frames: Map[String, () => DataFrame] = Map(
      "information_schema.tables" -> (() =>
        topics.map(t => ("graft", "public", t, "BASE TABLE"))
          .toDF("table_catalog", "table_schema", "table_name", "table_type")),
      "pg_catalog.pg_tables" -> (() =>
        topics.map(t => ("public", t, "graft")).toDF("schemaname", "tablename", "tableowner")),
      "information_schema.columns" -> (() =>
        topics.flatMap { t =>
          val d = registry.get(t)
          val cols = TopicRegistry.implicitColumns ++
            d.schemaCols.map(sc => sc.name -> TopicRegistry.pgType(sc.typ))
          cols.zipWithIndex.map { case ((n, ty), i) =>
            ("graft", "public", t, n, i + 1, ty)
          }
        }.toDF("table_catalog", "table_schema", "table_name", "column_name",
          "ordinal_position", "data_type")),
      "pg_catalog.pg_namespace" -> (() =>
        Seq(("public", 2200), ("pg_catalog", 11)).toDF("nspname", "oid")),
      "pg_catalog.pg_database" -> (() => Seq(("graft", 1)).toDF("datname", "oid")),
      // the fixed type-oid set the engine emits (server.go:1138-1165) —
      // some BI tools resolve result oids against pg_type on connect
      "pg_catalog.pg_type" -> (() =>
        Seq((16, "bool"), (17, "bytea"), (20, "int8"), (23, "int4"),
          (25, "text"), (701, "float8"), (1114, "timestamp"), (3802, "jsonb"))
          .toDF("oid", "typname")),
      // one relation per topic (server.go:1185-1216); relnamespace points
      // at OUR pg_namespace's public oid so the standard introspection join
      // resolves (the reference hardcodes its own namespace oid there)
      "pg_catalog.pg_class" -> (() =>
        topics.sorted.zipWithIndex
          .map { case (t, i) => (1000 + i, t, "r", 2200) }
          .toDF("oid", "relname", "relkind", "relnamespace")))

    val hits = frames.keys.filter(lowerSql.contains).toSeq
    if (hits.isEmpty) None
    else {
      // unique view names per call: connections share one SparkSession, so
      // a fixed name would race between concurrently-introspecting clients
      val id = catalogViewSeq.incrementAndGet()
      var rewritten = sql
      val views = hits.map { rel =>
        val view = s"graft_catalog_${rel.replace('.', '_')}_$id"
        frames(rel)().createOrReplaceTempView(view)
        rewritten = rewritten.replaceAll(
          "(?i)" + java.util.regex.Pattern.quote(rel), view)
        view
      }
      // spark.sql resolves the views into the plan eagerly at analysis, so
      // they can be dropped immediately — the returned frame stays valid
      try Some(spark.sql(rewritten))
      finally views.foreach(spark.catalog.dropTempView)
    }
  }

  private val catalogViewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** pg type OIDs per the reference's column mapping (server.go:1624-1669,
    * 2704-2719). */
  private def pgOid(dt: DataType): Int = dt match {
    case StringType => 25
    case IntegerType => 23
    case LongType => 20
    case DoubleType | FloatType => 701
    case BooleanType => 16
    case TimestampType | TimestampNTZType => 1114
    case BinaryType => 17
    case _: MapType => 3802
    case _ => 25
  }

  private def rowDescription(out: DataOutputStream, schema: StructType,
      formats: Array[Int] = Array.empty): Unit = {
    val fields = schema.fields
    val payload = new java.io.ByteArrayOutputStream()
    val p = new DataOutputStream(payload)
    p.writeShort(fields.length)
    fields.zipWithIndex.foreach { case (f, i) =>
      p.write(f.name.getBytes(StandardCharsets.UTF_8)); p.writeByte(0)
      p.writeInt(0) // table oid
      p.writeShort(0) // column attr
      p.writeInt(pgOid(f.dataType))
      p.writeShort(-1) // typlen
      p.writeInt(-1) // typmod
      p.writeShort(formats.lift(i).getOrElse(0)) // 0=text, 1=binary
    }
    out.writeByte('T'); out.writeInt(4 + payload.size()); payload.writeTo(out)
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  /** Text rendering per the reference: ts ms-precision UTC
    * (server.go:2794-2797), bytea `\x`-hex (:2799-2808), headers as a JSON
    * object (:2810-2828), booleans t/f (pg text convention). */
  private def render(dt: DataType, v: Any): String = v match {
    case null => null
    case b: Array[Byte] => "\\x" + b.map("%02x".format(_)).mkString
    case t: java.time.LocalDateTime => tsFmt.format(t)
    case t: java.sql.Timestamp => tsFmt.format(t.toLocalDateTime)
    case b: Boolean => if (b) "t" else "f"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, vv) =>
        "\"" + k.toString + "\":" + (if (vv == null) "null" else "\"" + vv.toString + "\"")
      }.mkString("{", ",", "}")
    case other => other.toString
  }

  /** Microseconds between the Unix and Postgres (2000-01-01) epochs. */
  private val PgEpochMicros = 946684800000000L

  /** Binary (format-1) value encoding, network byte order per the protocol
    * docs: ints/floats as their wire-width two's-complement/IEEE bits —
    * sized to the DECLARED OID, so FloatType (declared float8/701) sends 8
    * bytes; bool one byte; bytea/text raw bytes (binary text == its UTF-8
    * bytes); timestamps int8 µs since 2000-01-01 (pg convention). Callers
    * guarantee the type passed [[effectiveFormats]]' support check. */
  private def binaryValue(dt: DataType, v: Any): Array[Byte] = {
    def be(n: Int)(put: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n); put(b); b.array()
    }
    (dt, v) match {
      case (IntegerType, i: Int) => be(4)(_.putInt(i))
      case (LongType, l: Long) => be(8)(_.putLong(l))
      case (FloatType, f: Float) => be(8)(_.putDouble(f.toDouble)) // oid 701
      case (DoubleType, d: Double) => be(8)(_.putDouble(d))
      case (BooleanType, b: Boolean) => Array[Byte](if (b) 1 else 0)
      case (BinaryType, b: Array[Byte]) => b
      case (StringType, s: String) => s.getBytes(StandardCharsets.UTF_8)
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        val µs = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          t.getNano / 1000L
        be(8)(_.putLong(µs - PgEpochMicros))
      case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
        val µs = t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
        be(8)(_.putLong(µs - PgEpochMicros))
      case (TimestampType, t: java.time.Instant) =>
        val µs = t.getEpochSecond * 1000000L + t.getNano / 1000L
        be(8)(_.putLong(µs - PgEpochMicros))
      case _ => render(dt, v).getBytes(StandardCharsets.UTF_8) // safe fallback
    }
  }

  private def dataRow(out: DataOutputStream, schema: StructType, row: Row,
      formats: Array[Int] = Array.empty): Unit = {
    val payload = new java.io.ByteArrayOutputStream()
    val p = new DataOutputStream(payload)
    p.writeShort(schema.fields.length)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val v = row.get(i)
      if (v == null) p.writeInt(-1)
      else if (formats.lift(i).contains(1)) {
        val b = binaryValue(f.dataType, v)
        p.writeInt(b.length); p.write(b)
      } else {
        val s = render(f.dataType, v)
        if (s == null) p.writeInt(-1)
        else {
          val b = s.getBytes(StandardCharsets.UTF_8)
          p.writeInt(b.length); p.write(b)
        }
      }
    }
    out.writeByte('D'); out.writeInt(4 + payload.size()); payload.writeTo(out)
  }

  private def commandComplete(out: DataOutputStream, tag: String): Unit = {
    val b = tag.getBytes(StandardCharsets.UTF_8)
    out.writeByte('C'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
  }

  private def errorResponse(out: DataOutputStream, code: String, msg: String): Unit = {
    val payload = new java.io.ByteArrayOutputStream()
    val p = new DataOutputStream(payload)
    def field(t: Char, s: String): Unit = {
      p.writeByte(t)
      p.write(s.getBytes(StandardCharsets.UTF_8)); p.writeByte(0)
    }
    field('S', "ERROR"); field('V', "ERROR"); field('C', code); field('M', msg)
    p.writeByte(0)
    out.writeByte('E'); out.writeInt(4 + payload.size()); payload.writeTo(out)
  }
}

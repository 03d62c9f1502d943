package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal PostgreSQL v3 simple-query client: what psql or a BI tool sends
  * over the socket, reduced to text-format rows. */
final class PgClient(port: Int, timeoutMs: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.connect(new InetSocketAddress("127.0.0.1", port), timeoutMs)
  sock.setSoTimeout(timeoutMs)
  sock.setTcpNoDelay(true)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

  startup()

  private def startup(): Unit = {
    val params = "user\u0000bench\u0000database\u0000bench\u0000\u0000".getBytes(UTF_8)
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    readUntilReady()
  }

  /** Runs one query; Right(rows as text cells) or Left(server error). */
  def query(sql: String): Either[String, Vector[Vector[String]]] = {
    val b = sql.getBytes(UTF_8)
    out.writeByte('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.writeByte(0)
    out.flush()
    readUntilReady()
  }

  private def readUntilReady(): Either[String, Vector[Vector[String]]] = {
    val rows = Vector.newBuilder[Vector[String]]
    var err: String = null
    while (true) {
      val t = in.readByte().toChar
      val body = new Array[Byte](in.readInt() - 4)
      in.readFully(body)
      t match {
        case 'D' => rows += dataRow(body)
        case 'E' => err = new String(body, UTF_8).replace('\u0000', ' ').trim
        case 'Z' => return if (err != null) Left(err) else Right(rows.result())
        case _ => // RowDescription, CommandComplete, ParameterStatus, ...
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def dataRow(body: Array[Byte]): Vector[String] = {
    val bb = java.nio.ByteBuffer.wrap(body)
    Vector.fill(bb.getShort.toInt) {
      val n = bb.getInt
      if (n < 0) null
      else { val s = new String(body, bb.position(), n, UTF_8); bb.position(bb.position() + n); s }
    }
  }

  override def close(): Unit = {
    try { out.writeByte('X'); out.writeInt(4); out.flush() } catch { case _: Exception => }
    sock.close()
  }
}

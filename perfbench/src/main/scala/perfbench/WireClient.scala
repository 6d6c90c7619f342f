package perfbench

import java.io.{BufferedOutputStream, FilterInputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** A MySQL text-protocol client written for the benchmark from the
  * public protocol documentation (Protocol::41, classic EOF framing):
  * handshake and COM_QUERY only. It is kept apart from the program's
  * own `graft.wire.TextClient` so the server is checked by code it does
  * not share, and it counts every byte it receives. */
final class WireClient(port: Int) extends AutoCloseable {
  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var n = 0L
    override def read(): Int = { val b = super.read(); if (b >= 0) n += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(b, off, len); if (k > 0) n += k; k
    }
  }
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new Counting(new java.io.BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new BufferedOutputStream(sock.getOutputStream)

  /** Bytes received from the server so far. */
  def bytesIn: Long = in.n

  private def readFully(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(b, off, n - off)
      if (k < 0) throw new java.io.EOFException("server closed the connection")
      off += k
    }
    b
  }
  private def readPacket(): Array[Byte] = {
    val h = readFully(4)
    readFully((h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16))
  }
  private def writePacket(seq: Int, payload: Array[Byte]): Unit = {
    val n = payload.length
    out.write(Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, seq.toByte))
    out.write(payload)
    out.flush()
  }

  private final class Cursor(val b: Array[Byte], var i: Int = 0) {
    def u1(): Int = { val v = b(i) & 0xff; i += 1; v }
    def lenenc(): Long = u1() match {
      case x if x < 0xfb => x.toLong
      case 0xfc => u1() | (u1() << 8)
      case 0xfd => u1() | (u1() << 8) | (u1() << 16)
      case _ => (0 until 8).map(k => u1().toLong << (8 * k)).sum
    }
    def lenencStr(): String = {
      val n = lenenc().toInt
      val s = new String(b, i, n, UTF_8); i += n; s
    }
  }

  // handshake: read the server greeting, answer with a Protocol::41
  // response (PROTOCOL_41 | SECURE_CONNECTION, empty auth), expect OK
  locally {
    val greeting = readPacket()
    require((greeting(0) & 0xff) == 10, "expected handshake protocol 10")
    val caps = 0x00000200 | 0x00008000
    val bo = new java.io.ByteArrayOutputStream()
    def le4(v: Int): Unit = (0 until 4).foreach(k => bo.write(v >>> (8 * k)))
    le4(caps); le4(1 << 24); bo.write(33); bo.write(new Array[Byte](23))
    bo.write("bench".getBytes(UTF_8)); bo.write(0); bo.write(0)
    writePacket(1, bo.toByteArray)
    val r = readPacket()
    require((r(0) & 0xff) == 0, s"handshake rejected (0x${(r(0) & 0xff).toHexString})")
  }

  /** Run one statement. Returns the affected-row count (OK) or the
    * rows of a result set (cells as text; `null` = SQL NULL). Throws
    * on an ERR packet. */
  def query(sql: String): WireClient.Reply = {
    writePacket(0, (0x03.toByte +: sql.getBytes(UTF_8)))
    val first = readPacket()
    (first(0) & 0xff) match {
      case 0x00 => WireClient.Reply(new Cursor(first, 1).lenenc(), Vector.empty)
      case 0xff => throw new RuntimeException(errText(first))
      case _ =>
        val n = new Cursor(first).lenenc().toInt
        (0 until n).foreach(_ => readPacket()) // column definitions
        readPacket() // EOF after the definitions
        val rows = Vector.newBuilder[IndexedSeq[String]]
        var p = readPacket()
        while (!((p(0) & 0xff) == 0xfe && p.length < 9)) {
          if ((p(0) & 0xff) == 0xff) throw new RuntimeException(errText(p))
          val c = new Cursor(p)
          rows += (0 until n).map { _ =>
            if ((c.b(c.i) & 0xff) == 0xfb) { c.i += 1; null } else c.lenencStr()
          }
          p = readPacket()
        }
        WireClient.Reply(-1L, rows.result())
    }
  }

  private def errText(p: Array[Byte]): String = {
    val code = (p(1) & 0xff) | ((p(2) & 0xff) << 8)
    s"wire error $code: ${new String(p, 9, p.length - 9, UTF_8)}"
  }

  def close(): Unit = {
    try writePacket(0, Array[Byte](0x01)) catch { case _: Exception => () }
    sock.close()
  }
}

object WireClient {
  /** `affected` is -1 for a result set. */
  final case class Reply(affected: Long, rows: Vector[IndexedSeq[String]])
}

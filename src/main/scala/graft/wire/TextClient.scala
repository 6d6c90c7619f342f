package graft.wire

import java.net.Socket
import java.nio.charset.StandardCharsets

import Packets._

/** Minimal MySQL text-protocol client (Protocol::41, classic EOF
  * framing): handshake + COM_QUERY, nothing else. Exists so the
  * battery can drive an oracle query THROUGH a wire connection
  * (q79) — pinning the server's text serialization (`MysqlServer`'s
  * value→text conversion, the reference's `core_util.rs:357-427`
  * analogue) against the same DuckDB truth every other entry uses.
  * Written against the public protocol documentation; the test
  * suite keeps its own independently-written client (WireSpec) so
  * this one never becomes the only thing the server is checked
  * against.
  */
final class TextClient(host: String, port: Int,
    multiStatements: Boolean = false) extends AutoCloseable {
  private val sock = new Socket(host, port)
  private val in = new java.io.BufferedInputStream(sock.getInputStream)
  private val out = new java.io.BufferedOutputStream(sock.getOutputStream)

  /** Server version string from the V10 handshake (sent eagerly). */
  val serverVersion: String = {
    val (_, hs) = readPacket(in)
    val r = new Reader(hs)
    require(r.int1() == 10, "expected protocol version 10")
    val ver = r.nulStr()
    val caps = ClientProtocol41 | ClientSecureConnection |
      (if (multiStatements) ClientMultiStatements | ClientMultiResults
       else 0)
    val resp = new Writer().int4(caps.toLong).int4(1L << 24).int1(255)
      .zeros(23).nulStr("root").int1(0)
    writePacket(out, 1, resp.result()); out.flush()
    val (_, first) = readPacket(in)
    require((first(0) & 0xff) == 0x00,
      s"handshake rejected: 0x${(first(0) & 0xff).toHexString}")
    ver
  }

  /** COM_QUERY returning (column names, rows as text cells; None =
    * SQL NULL). An OK response (no resultset) is (Nil, Nil); an ERR
    * response throws with the server's code + message. */
  def query(sql: String): (Seq[String], Seq[Seq[Option[String]]]) = {
    writePacket(out, 0, new Writer().int1(ComQuery)
      .bytes(sql.getBytes(StandardCharsets.UTF_8)).result())
    out.flush()
    val (_, first) = readPacket(in)
    (first(0) & 0xff) match {
      case 0x00 => (Nil, Nil)
      case 0xff => throw error("wire error", first)
      case _ =>
        val n = new Reader(first).lenenc().toInt
        val cols = (0 until n).map { _ =>
          val (_, d) = readPacket(in)
          val r = new Reader(d)
          r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
          new String(r.lenencBytes(), StandardCharsets.UTF_8)
        }
        readPacket(in) // EOF after column definitions
        val rows = rowPackets("wire error").map { p =>
          val r = new Reader(p)
          (0 until n).map { _ =>
            if (r.peek == 0xfb) { r.skip(1); None }
            else Some(new String(r.lenencBytes(), StandardCharsets.UTF_8))
          }
        }
        (cols, rows)
    }
  }

  /** Multi-statement COM_QUERY (requires `multiStatements = true` at
    * construction): sends the whole ';'-separated text in ONE command
    * and reads resultsets until a terminating OK/EOF without
    * SERVER_MORE_RESULTS_EXISTS. Each element is (column names, rows)
    * — (Nil, Nil) for an OK response. An ERR throws (the server
    * aborts the remaining statements, so nothing follows it). */
  def queryAll(sql: String): Seq[(Seq[String], Seq[Seq[Option[String]]])] = {
    writePacket(out, 0, new Writer().int1(ComQuery)
      .bytes(sql.getBytes(StandardCharsets.UTF_8)).result())
    out.flush()
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Seq[Seq[Option[String]]])]
    var more = true
    while (more) {
      val (_, first) = readPacket(in)
      (first(0) & 0xff) match {
        case 0x00 =>
          val r = new Reader(first)
          r.int1(); r.lenenc(); r.lenenc()
          val status = r.int2()
          acc += ((Nil, Nil))
          more = (status & ServerMoreResultsExists) != 0
        case 0xff => throw error("wire error", first)
        case _ =>
          val n = new Reader(first).lenenc().toInt
          val cols = (0 until n).map { _ =>
            val (_, d) = readPacket(in)
            val r = new Reader(d)
            r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
            new String(r.lenencBytes(), StandardCharsets.UTF_8)
          }
          readPacket(in) // EOF after column definitions
          val rows = scala.collection.mutable.ArrayBuffer
            .empty[Seq[Option[String]]]
          var status = 0
          var rowsDone = false
          while (!rowsDone) {
            val (_, p) = readPacket(in)
            if ((p(0) & 0xff) == 0xff) throw error("wire error", p)
            else if ((p(0) & 0xff) == 0xfe && p.length < 9) {
              val r = new Reader(p)
              r.int1(); r.int2()
              status = r.int2()
              rowsDone = true
            } else {
              val r = new Reader(p)
              rows += (0 until n).map { _ =>
                if (r.peek == 0xfb) { r.skip(1); None }
                else Some(new String(r.lenencBytes(), StandardCharsets.UTF_8))
              }
            }
          }
          acc += ((cols, rows.toSeq))
          more = (status & ServerMoreResultsExists) != 0
      }
    }
    acc.toSeq
  }

  /** COM_STMT_RESET: clears the statement's accumulated parameter
    * state server-side; OK on success, throws on an unknown id. */
  def reset(id: Int): Unit = {
    writePacket(out, 0,
      new Writer().int1(ComStmtReset).int4(id.toLong).result())
    out.flush()
    val (_, p) = readPacket(in)
    if ((p(0) & 0xff) == 0xff) throw error("reset error", p)
  }

  /** COM_STMT_PREPARE; returns the statement id (column defs are
    * sent at execute time — the engine analyzes lazily, so the
    * prepare response carries only parameter placeholders). */
  def prepare(sql: String): (Int, Int) = {
    writePacket(out, 0, new Writer().int1(ComStmtPrepare)
      .bytes(sql.getBytes(StandardCharsets.UTF_8)).result())
    out.flush()
    val (_, head) = readPacket(in)
    if ((head(0) & 0xff) == 0xff) throw error("prepare error", head)
    val r = new Reader(head)
    require(r.int1() == 0x00, "prepare response header")
    val id = r.int4().toInt
    val nCols = r.int2()
    val nParams = r.int2()
    (0 until nParams).foreach(_ => readPacket(in)) // param placeholder defs
    if (nParams > 0) readPacket(in) // EOF after param defs
    require(nCols == 0, "engine defers column defs to execute time")
    (id, nParams)
  }

  /** COM_STMT_EXECUTE with Long/Double/String/null params; parses the
    * BINARY-protocol resultset (LONGLONG/DOUBLE little-endian,
    * strings lenenc, NULL bitmap offset 2). Returns (column names,
    * typed rows: Long / Double / String / None). */
  def executeQuery(id: Int, params: Seq[Any]):
      (Seq[String], Seq[Seq[Option[Any]]]) = {
    val w = new Writer().int1(ComStmtExecute).int4(id.toLong)
      .int1(0).int4(1L)
    if (params.nonEmpty) {
      val bitmap = new Array[Byte]((params.size + 7) / 8)
      params.zipWithIndex.foreach { case (p, i) =>
        if (p == null) bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
      }
      w.bytes(bitmap).int1(1) // new-params-bound
      params.foreach {
        case null => w.int1(0x08).int1(0) // type for a NULL slot
        case _: Long => w.int1(0x08).int1(0) // LONGLONG
        case _: Double => w.int1(0x05).int1(0) // DOUBLE
        case _ => w.int1(0xfd).int1(0) // VAR_STRING
      }
      params.foreach {
        case l: Long => w.int8(l)
        case d: Double => w.int8(java.lang.Double.doubleToLongBits(d))
        case null => ()
        case s => w.bytes(new Writer()
          .lenencStr(s.toString).result())
      }
    }
    writePacket(out, 0, w.result()); out.flush()
    val (_, first) = readPacket(in)
    (first(0) & 0xff) match {
      case 0x00 => (Nil, Nil)
      case 0xff => throw error("execute error", first)
      case _ =>
        val n = new Reader(first).lenenc().toInt
        val defs = (0 until n).map { _ =>
          val (_, d) = readPacket(in)
          val r = new Reader(d)
          r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
          val name = new String(r.lenencBytes(), StandardCharsets.UTF_8)
          r.lenencBytes() // org_name
          r.lenenc() // fixed-length-fields marker (0x0c)
          r.int2(); r.int4() // charset, column length
          val typeCode = r.int1()
          (name, typeCode)
        }
        readPacket(in) // EOF after column definitions
        val rows = rowPackets("execute error").map { p =>
          val r = new Reader(p)
          require(r.int1() == 0x00, "binary row header")
          val bitmap = (0 until (n + 7 + 2) / 8).map(_ => r.int1())
          def isNull(i: Int) = {
            val bit = i + 2
            (bitmap(bit / 8) & (1 << (bit % 8))) != 0
          }
          (0 until n).map { i =>
            if (isNull(i)) None
            else defs(i)._2 match {
              case 0x08 => Some(r.int8())
              case 0x05 =>
                Some(java.lang.Double.longBitsToDouble(r.int8()))
              case _ => Some(new String(r.lenencBytes(),
                StandardCharsets.UTF_8))
            }
          }
        }
        (defs.map(_._1), rows)
    }
  }

  private def error(what: String, p: Array[Byte]): RuntimeException = {
    val r = new Reader(p); r.int1()
    val code = r.int2(); r.skip(6)
    new RuntimeException(
      s"$what $code: ${new String(r.rest(), StandardCharsets.UTF_8)}")
  }

  /** Row packets up to the EOF that ends a result set. A row that
    * fails mid-stream arrives as an ERR in the EOF's place, and throws
    * (no row starts with 0xff). */
  private def rowPackets(what: String): Vector[Array[Byte]] = {
    val rows = Vector.newBuilder[Array[Byte]]
    var p = readPacket(in)._2
    while (!((p(0) & 0xff) == 0xfe && p.length < 9)) {
      if ((p(0) & 0xff) == 0xff) throw error(what, p)
      rows += p
      p = readPacket(in)._2
    }
    rows.result()
  }

  override def close(): Unit = sock.close()
}

package graft

import java.net.Socket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine.GraftEngine
import graft.wire.{MysqlServer, Packets}
import Packets._

/** MySQL wire protocol: byte-golden codec checks against the
  * documented packet layouts, plus an end-to-end run with a
  * hand-rolled client (written independently against the same public
  * protocol docs): handshake, COM_QUERY text resultsets incl. NULLs,
  * OK/ERR with engine error codes, COM_INIT_DB/PING/FIELD_LIST,
  * prepared statements over the binary protocol, and two concurrent
  * connections with isolated session schemas.
  */
class WireSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- codec goldens -----------------------------------------------

  test("length-encoded integers hit the documented boundaries") {
    def enc(v: Long): Seq[Int] =
      new Writer().lenenc(v).result().map(_ & 0xff).toSeq
    assert(enc(0) == Seq(0x00))
    assert(enc(250) == Seq(0xfa))
    assert(enc(251) == Seq(0xfc, 0xfb, 0x00))
    assert(enc(65535) == Seq(0xfc, 0xff, 0xff))
    assert(enc(65536) == Seq(0xfd, 0x00, 0x00, 0x01))
    assert(enc(16777215) == Seq(0xfd, 0xff, 0xff, 0xff))
    assert(enc(16777216).head == 0xfe && enc(16777216).size == 9)
    // roundtrip through the reader
    Seq(0L, 250L, 251L, 65535L, 65536L, 16777215L, 16777216L, 1L << 40)
      .foreach { v =>
        assert(new Reader(new Writer().lenenc(v).result()).lenenc() == v)
      }
  }

  test("16MB+ logical packets split into 0xffffff frames and reassemble") {
    val big = Array.tabulate[Byte](0xffffff + 5)(i => (i % 251).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    writePacket(bos, 3, big)
    val wire = bos.toByteArray
    // frame 1: 0xffffff seq 3; frame 2: 5 bytes seq 4
    assert((wire(0) & 0xff, wire(1) & 0xff, wire(2) & 0xff, wire(3) & 0xff) ==
      ((0xff, 0xff, 0xff, 3)))
    val f2 = 4 + 0xffffff
    assert((wire(f2) & 0xff, wire(f2 + 1) & 0xff, wire(f2 + 2) & 0xff,
      wire(f2 + 3) & 0xff) == ((5, 0, 0, 4)))
    val (seq, back) = readPacket(new java.io.ByteArrayInputStream(wire))
    assert(seq == 3 && java.util.Arrays.equals(back, big))
    // an exactly-full payload is followed by an EMPTY frame
    val exact = new Array[Byte](0xffffff)
    val bos2 = new java.io.ByteArrayOutputStream()
    writePacket(bos2, 0, exact)
    assert(bos2.size() == 4 + 0xffffff + 4)
    val (_, back2) = readPacket(new java.io.ByteArrayInputStream(bos2.toByteArray))
    assert(back2.length == 0xffffff)
  }

  test("OK / ERR / EOF packets match the documented layouts") {
    val okb = ok(3).map(_ & 0xff).toSeq
    assert(okb == Seq(0x00, 3, 0, 0x02, 0x00, 0, 0))
    val errb = err(1062, "dup")
    assert((errb(0) & 0xff) == 0xff)
    assert(((errb(1) & 0xff) | ((errb(2) & 0xff) << 8)) == 1062)
    assert(errb(3) == '#'.toByte)
    assert(new String(errb.slice(4, 9), StandardCharsets.US_ASCII) == "HY000")
    assert(new String(errb.drop(9), StandardCharsets.UTF_8) == "dup")
    val eofb = eof().map(_ & 0xff).toSeq
    assert(eofb == Seq(0xfe, 0, 0, 0x02, 0x00))
  }

  // ---- hand-rolled client ------------------------------------------

  /** Param sentinel: value was uploaded via COM_STMT_SEND_LONG_DATA,
    * so the execute payload omits it. */
  private case object LongData

  /** Minimal independent MySQL client for the spec: speaks
    * Protocol::41 with classic EOF framing. */
  private final class Client(port: Int, db: Option[String] = None,
      multi: Boolean = false, plugin: Option[String] = None) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val out = new java.io.BufferedOutputStream(sock.getOutputStream)

    /** AuthSwitchRequest observed during the handshake, if any:
      * (requested plugin, salt length). */
    var authSwitch: Option[(String, Int)] = None

    val (serverVersion: String, connId: Long) = {
      val (_, hs) = readPacket(in)
      val r = new Reader(hs)
      assert(r.int1() == 10, "protocol version")
      val ver = r.nulStr()
      val cid = r.int4()
      // respond: caps, max packet, charset, 23 zeros, user, auth,
      // [db], [auth plugin]
      val caps = ClientProtocol41 | ClientSecureConnection |
        (if (db.isDefined) ClientConnectWithDb else 0) |
        (if (multi) ClientMultiStatements | ClientMultiResults else 0) |
        (if (plugin.isDefined) ClientPluginAuth else 0)
      val w = new Writer().int4(caps.toLong).int4(1 << 24).int1(255)
        .zeros(23).nulStr("root").int1(0)
      db.foreach(w.nulStr)
      plugin.foreach(w.nulStr)
      writePacket(out, 1, w.result()); out.flush()
      var (seq, okp) = readPacket(in)
      if ((okp(0) & 0xff) == 0xfe) {
        // AuthSwitchRequest: 0xFE, plugin NUL, salt + NUL — answer
        // with the 20-byte native-password scramble (unchecked by the
        // server) at seq+1, then expect the final OK
        val ar = new Reader(okp); ar.int1()
        val asked = ar.nulStr()
        authSwitch = Some((asked, ar.rest().length - 1))
        writePacket(out, seq + 1, Array.fill[Byte](20)(0x5a)); out.flush()
        val nxt = readPacket(in); seq = nxt._1; okp = nxt._2
      }
      assert((okp(0) & 0xff) == 0x00, "handshake not OK")
      (ver, cid)
    }

    private def cmd(payload: Array[Byte]): Unit = {
      writePacket(out, 0, payload); out.flush()
    }

    sealed trait Resp
    case class Ok(affected: Long) extends Resp
    case class Err(code: Int, msg: String) extends Resp
    case class Rows(cols: Seq[String], rows: Seq[Seq[Option[String]]]) extends Resp

    private def errOf(p: Array[Byte]): Err = {
      val r = new Reader(p); r.int1()
      val code = r.int2(); r.skip(6)
      Err(code, new String(r.rest(), StandardCharsets.UTF_8))
    }

    /** Row packets up to the EOF that ends a result set, or the ERR
      * that takes the EOF's place when a row fails mid-stream. No row
      * starts with 0xff: not a text row (no length-encoded prefix is
      * 0xff) and not a binary row (header 0x00). */
    private def rowPackets(): Either[Err, Seq[Array[Byte]]] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var p = readPacket(in)._2
      while ((p(0) & 0xff) != 0xff && !((p(0) & 0xff) == 0xfe && p.length < 9)) {
        acc += p
        p = readPacket(in)._2
      }
      if ((p(0) & 0xff) == 0xff) Left(errOf(p)) else Right(acc.toSeq)
    }

    /** A response; result-set rows are read as text rows. */
    private def readResp(): Resp = {
      val (_, first) = readPacket(in)
      (first(0) & 0xff) match {
        case 0x00 =>
          val r = new Reader(first); r.int1(); Ok(r.lenenc())
        case 0xff => errOf(first)
        case _ =>
          val n = new Reader(first).lenenc().toInt
          val cols = (0 until n).map { _ =>
            val (_, d) = readPacket(in)
            val r = new Reader(d)
            r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
            new String(r.lenencBytes(), StandardCharsets.UTF_8) // name
          }
          readPacket(in) // EOF after defs
          rowPackets() match {
            case Left(e) => e
            case Right(ps) => Rows(cols, ps.map { p =>
              val r = new Reader(p)
              (0 until n).map { _ =>
                if (r.peek == 0xfb) { r.skip(1); None }
                else Some(new String(r.lenencBytes(), StandardCharsets.UTF_8))
              }
            })
          }
      }
    }

    def query(sql: String): Resp = {
      cmd(new Writer().int1(ComQuery)
        .bytes(sql.getBytes(StandardCharsets.UTF_8)).result())
      readResp()
    }

    /** Like readResp but also returns the response's terminating
      * status flags (OK status, or the final EOF's status for a
      * resultset) — the multi-statement continuation signal. */
    private def readRespStatus(): (Resp, Int) = {
      val (_, first) = readPacket(in)
      (first(0) & 0xff) match {
        case 0x00 =>
          val r = new Reader(first); r.int1()
          val aff = r.lenenc(); r.lenenc()
          (Ok(aff), r.int2())
        case 0xff =>
          val r = new Reader(first); r.int1()
          val code = r.int2(); r.skip(6)
          (Err(code, new String(r.rest(), StandardCharsets.UTF_8)), 0)
        case _ =>
          val n = new Reader(first).lenenc().toInt
          val cols = (0 until n).map { _ =>
            val (_, d) = readPacket(in)
            val r = new Reader(d)
            r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
            new String(r.lenencBytes(), StandardCharsets.UTF_8)
          }
          readPacket(in) // EOF after defs
          val rows = scala.collection.mutable.ArrayBuffer
            .empty[Seq[Option[String]]]
          var status = 0
          var done = false
          while (!done) {
            val (_, p) = readPacket(in)
            if ((p(0) & 0xff) == 0xfe && p.length < 9) {
              val r = new Reader(p); r.int1(); r.int2()
              status = r.int2()
              done = true
            } else {
              val r = new Reader(p)
              rows += (0 until n).map { _ =>
                if (r.peek == 0xfb) { r.skip(1); None }
                else Some(new String(r.lenencBytes(),
                  StandardCharsets.UTF_8))
              }
            }
          }
          (Rows(cols, rows.toSeq), status)
      }
    }

    /** Multi-statement COM_QUERY: one command, responses until the
      * terminating status drops SERVER_MORE_RESULTS_EXISTS (an Err
      * also terminates — the server aborts the rest). */
    def queryMulti(sql: String): Seq[Resp] = {
      cmd(new Writer().int1(ComQuery)
        .bytes(sql.getBytes(StandardCharsets.UTF_8)).result())
      val acc = scala.collection.mutable.ArrayBuffer.empty[Resp]
      var more = true
      while (more) {
        val (resp, status) = readRespStatus()
        acc += resp
        more = resp match {
          case Err(_, _) => false
          case _ => (status & ServerMoreResultsExists) != 0
        }
      }
      acc.toSeq
    }

    def stmtReset(id: Int): Resp = {
      cmd(new Writer().int1(ComStmtReset).int4(id.toLong).result())
      readResp()
    }

    /** COM_RESET_CONNECTION (0x1f): expects a plain OK back. */
    def resetConnection(): Unit = {
      cmd(new Writer().int1(ComResetConnection).result())
      assert(readResp() == Ok(0), "reset-connection must answer OK")
    }

    /** COM_SET_OPTION (0x1b): toggle multi-statements; classic
      * framing answers EOF. */
    def setOption(multiOn: Boolean): Unit = {
      cmd(new Writer().int1(ComSetOption).int2(if (multiOn) 0 else 1)
        .result())
      val (_, p) = readPacket(in)
      assert((p(0) & 0xff) == 0xfe, "set-option must answer EOF")
    }

    /** COM_CHANGE_USER (0x11): user swap + session reset; empty auth
      * (secure-connection length-prefixed), then the target db. */
    def changeUser(user: String, db: String): Resp = {
      cmd(new Writer().int1(ComChangeUser).nulStr(user).int1(0)
        .nulStr(db).result())
      readResp()
    }

    def initDb(db: String): Resp = {
      cmd(new Writer().int1(ComInitDb)
        .bytes(db.getBytes(StandardCharsets.UTF_8)).result())
      readResp()
    }

    def ping(): Boolean = {
      cmd(new Writer().int1(ComPing).result())
      (readPacket(in)._2.head & 0xff) == 0x00
    }

    def fieldList(table: String): Seq[String] = {
      cmd(new Writer().int1(ComFieldList).nulStr(table).result())
      Iterator.continually(readPacket(in)._2)
        .takeWhile(p => (p(0) & 0xff) != 0xfe || p.length >= 9)
        .map { p =>
          val r = new Reader(p)
          r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
          new String(r.lenencBytes(), StandardCharsets.UTF_8)
        }.toSeq
    }

    def prepare(sql: String): (Int, Int) = {
      cmd(new Writer().int1(ComStmtPrepare)
        .bytes(sql.getBytes(StandardCharsets.UTF_8)).result())
      val (_, head) = readPacket(in)
      assert((head(0) & 0xff) == 0x00, "prepare failed")
      val r = new Reader(head); r.int1()
      val id = r.int4().toInt
      val nCols = r.int2()
      val nParams = r.int2()
      (0 until nParams).foreach(_ => readPacket(in)) // param defs
      if (nParams > 0) readPacket(in) // EOF
      assert(nCols == 0)
      (id, nParams)
    }

    /** Execute with Long/Double/String/null params; parse binary rows. */
    def execute(id: Int, params: Seq[Any]): Seq[Seq[Option[Any]]] = {
      val w = new Writer().int1(ComStmtExecute).int4(id.toLong).int1(0).int4(1L)
      if (params.nonEmpty) {
        val bitmap = new Array[Byte]((params.size + 7) / 8)
        params.zipWithIndex.foreach { case (p, i) =>
          if (p == null) bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
        }
        w.bytes(bitmap).int1(1)
        params.foreach { p =>
          val t = p match {
            case null => TypeLongLong
            case _: Long => TypeLongLong
            case _: Double => TypeDouble
            case _ => TypeVarString
          }
          w.int1(t).int1(0)
        }
        params.foreach {
          case l: Long => w.int8(l)
          case d: Double => w.int8(java.lang.Double.doubleToLongBits(d))
          case s: String => w.lenencStr(s)
          case null => ()
        }
      }
      cmd(w.result())
      val (_, first) = readPacket(in)
      assert((first(0) & 0xff) != 0xff,
        s"execute error: ${new String(first.drop(9), StandardCharsets.UTF_8)}")
      val n = new Reader(first).lenenc().toInt
      val types = (0 until n).map { _ =>
        val (_, d) = readPacket(in)
        val r = new Reader(d)
        r.lenencBytes(); r.lenencBytes(); r.lenencBytes(); r.lenencBytes()
        r.lenencBytes(); r.lenencBytes(); r.lenenc()
        r.int2(); r.int4() // charset, length
        r.int1() // type code
      }
      readPacket(in) // EOF
      Iterator.continually(readPacket(in)._2)
        .takeWhile(p => (p(0) & 0xff) != 0xfe || p.length >= 9)
        .map { p =>
          val r = new Reader(p)
          r.int1() // 0x00 header
          val bitmap = r.bytes((n + 7 + 2) / 8)
          def isNull(i: Int) = {
            val bit = i + 2
            (bitmap(bit / 8) & (1 << (bit % 8))) != 0
          }
          (0 until n).map { i =>
            if (isNull(i)) None
            else types(i) match {
              case TypeLongLong => Some(r.int8())
              case TypeDouble =>
                Some(java.lang.Double.longBitsToDouble(r.int8()))
              case _ =>
                Some(new String(r.lenencBytes(), StandardCharsets.UTF_8))
            }
          }
        }.toSeq
    }

    /** COM_STMT_SEND_LONG_DATA: one chunk for (statement, param).
      * Fire-and-forget — the protocol defines no response. */
    def sendLongData(id: Int, paramIdx: Int, chunk: String): Unit =
      cmd(new Writer().int1(ComStmtSendLongData).int4(id.toLong)
        .int2(paramIdx).bytes(chunk.getBytes(StandardCharsets.UTF_8))
        .result())

    /** COM_STMT_EXECUTE for a statement answering OK (INSERT/UPDATE/
      * DELETE) or ERR; params as in [[execute]], with [[LongData]] marking a
      * param whose value was uploaded via COM_STMT_SEND_LONG_DATA
      * (type sent as LONG_BLOB, value OMITTED from the payload). */
    def executeUpdate(id: Int, params: Seq[Any]): Resp = {
      cmd(executePayload(id, params))
      readResp()
    }

    private def executePayload(id: Int, params: Seq[Any]): Array[Byte] = {
      val w = new Writer().int1(ComStmtExecute).int4(id.toLong).int1(0).int4(1L)
      if (params.nonEmpty) {
        val bitmap = new Array[Byte]((params.size + 7) / 8)
        params.zipWithIndex.foreach { case (p, i) =>
          if (p == null) bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
        }
        w.bytes(bitmap).int1(1)
        params.foreach { p =>
          val t = p match {
            case null => TypeLongLong
            case _: Long => TypeLongLong
            case _: Double => TypeDouble
            case LongData => 0xfb // LONG_BLOB
            case _ => TypeVarString
          }
          w.int1(t).int1(0)
        }
        params.foreach {
          case l: Long => w.int8(l)
          case d: Double => w.int8(java.lang.Double.doubleToLongBits(d))
          case LongData => () // value lives server-side
          case s: String => w.lenencStr(s)
          case null => ()
        }
      }
      w.result()
    }

    def stmtClose(id: Int): Unit =
      cmd(new Writer().int1(ComStmtClose).int4(id.toLong).result())

    def quit(): Unit = {
      cmd(new Writer().int1(ComQuit).result())
      sock.close()
    }
  }

  // ---- end to end --------------------------------------------------

  test("a wire client runs the engine surface end to end") {
    val wh = ScratchDirs.create("graft_wire_")
    val eng = new GraftEngine(spark, wh)
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort)
      assert(c.serverVersion == "8.0.25-graft")
      assert(c.ping())
      assert(c.query("create schema app") == c.Ok(1))
      assert(c.initDb("app") == c.Ok(1))
      assert(c.query("create table t (id int, name char, PRIMARY KEY(id))") == c.Ok(1))
      assert(c.query("insert into t values (1, 'lucy'), (2, NULL)") == c.Ok(2))
      c.query("insert into t values (1, 'dup')") match {
        case c.Err(code, msg) =>
          assert(code == 1062 && msg.contains("Duplicate entry"))
        case other => fail(s"expected 1062, got $other")
      }
      c.query("select id, name from t order by id") match {
        case c.Rows(cols, rows) =>
          assert(cols == Seq("id", "name"))
          assert(rows == Seq(Seq(Some("1"), Some("lucy")),
            Seq(Some("2"), None)))
        case other => fail(s"expected rows, got $other")
      }
      // unknown schema through COM_INIT_DB → 1049
      c.initDb("nope") match {
        case c.Err(code, _) => assert(code == 1049)
        case other => fail(s"expected 1049, got $other")
      }
      assert(c.fieldList("t") == Seq("id", "name"))
      // prepared statements over the binary protocol
      val (sid, nParams) = c.prepare(
        "select id, name from t where id >= ? order by id")
      assert(nParams == 1)
      val rows = c.execute(sid, Seq(2L))
      assert(rows == Seq(Seq(Some(2L), None)))
      c.stmtClose(sid)
      c.quit()
    } finally srv.close()
  }

  test("two connections keep isolated session schemas") {
    val wh = ScratchDirs.create("graft_wire2_")
    val eng = new GraftEngine(spark, wh)
    val srv = new MysqlServer(eng)
    try {
      val a = new Client(srv.boundPort)
      val b = new Client(srv.boundPort)
      assert(a.query("create schema s1") == a.Ok(1))
      assert(a.query("create schema s2") == a.Ok(1))
      assert(a.initDb("s1") == a.Ok(1))
      assert(b.initDb("s2") == b.Ok(1))
      assert(a.query("create table x (a int)") == a.Ok(1))
      // b's session is on s2: unqualified x must not resolve
      b.query("select * from x") match {
        case b.Err(code, _) => assert(code == 1146)
        case other => fail(s"expected 1146, got $other")
      }
      // database() reflects each session's schema
      a.query("select database() as d") match {
        case a.Rows(_, rs) => assert(rs == Seq(Seq(Some("s1"))))
        case other => fail(s"$other")
      }
      b.query("select database() as d") match {
        case b.Rows(_, rs) => assert(rs == Seq(Seq(Some("s2"))))
        case other => fail(s"$other")
      }
      a.quit(); b.quit()
    } finally srv.close()
  }

  test("multi-statement COM_QUERY: sequenced responses, error aborts") {
    val wh = ScratchDirs.create("graft_wire4_")
    val eng = new GraftEngine(spark, wh)
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, multi = true)
      c.serverVersion
      // one COM_QUERY, five statements: every response but the last
      // carries SERVER_MORE_RESULTS_EXISTS, so the client reads all 5
      val rs = c.queryMulti(
        "create schema ms; use ms; " +
          "create table t (id int, v char, PRIMARY KEY(id)); " +
          "insert into t values (1, 'a; b'), (2, 'c'); " +
          "select id, v from t order by id")
      assert(rs.length == 5)
      assert(rs(3) == c.Ok(2))
      rs(4) match {
        case c.Rows(cols, rows) =>
          assert(cols == Seq("id", "v"))
          // the ';' INSIDE the string literal did not split
          assert(rows == Seq(Seq(Some("1"), Some("a; b")),
            Seq(Some("2"), Some("c"))))
        case other => fail(s"expected rows, got $other")
      }
      // an error aborts the remaining statements (MySQL semantics):
      // 2 responses, not 3, and the failed batch's tail never ran
      val er = c.queryMulti(
        "select id from t order by id; select * from missing; " +
          "insert into t values (9, 'never')")
      assert(er.length == 2)
      er(1) match {
        case c.Err(code, _) => assert(code == 1146)
        case other => fail(s"expected 1146, got $other")
      }
      c.query("select count(*) as n from t") match {
        case c.Rows(_, rows) => assert(rows == Seq(Seq(Some("2"))))
        case other => fail(s"$other")
      }
      // a ';' inside a line or block COMMENT never splits — one
      // statement per real boundary, comments intact (the JDBC
      // allowMultiQueries hazard)
      val cm = c.queryMulti(
        "select id from t order by id -- trailing; comment\n" +
          "; select count(*) as n from t /* mid; block */")
      assert(cm.length == 2)
      cm(0) match {
        case c.Rows(cols, rows) =>
          assert(cols == Seq("id") && rows.length == 2)
        case other => fail(s"expected rows, got $other")
      }
      cm(1) match {
        case c.Rows(_, rows) => assert(rows == Seq(Seq(Some("2"))))
        case other => fail(s"expected rows, got $other")
      }
      // a client WITHOUT the capability gets the old single-statement
      // behavior: the unsplit text is one (failing) statement
      val plain = new Client(srv.boundPort)
      plain.serverVersion
      plain.query("select 1; select 2") match {
        case plain.Err(_, _) => ()
        case other => fail(s"expected parse error, got $other")
      }
      c.quit(); plain.quit()
    } finally srv.close()
  }

  test("COM_STMT_RESET clears param state; unknown id is 1243") {
    val wh = ScratchDirs.create("graft_wire5_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema rs")
    eng.sql("use rs")
    eng.sql("create table t (id int, PRIMARY KEY(id))")
    eng.sql("insert into t values (1), (2), (3)")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("rs"))
      val (sid, n) = c.prepare("select id from t where id >= ? order by id")
      assert(n == 1)
      assert(c.execute(sid, Seq(2L)) ==
        Seq(Seq(Some(2L)), Seq(Some(3L))))
      // reset: OK, statement stays prepared and re-executable (the
      // cached param-type map is cleared, so execute must re-bind)
      assert(c.stmtReset(sid) == c.Ok(0))
      assert(c.execute(sid, Seq(3L)) == Seq(Seq(Some(3L))))
      // unknown handler → 1243
      c.stmtReset(sid + 100) match {
        case c.Err(code, msg) =>
          assert(code == 1243 && msg.contains("Unknown prepared statement"))
        case other => fail(s"expected 1243, got $other")
      }
      c.stmtClose(sid)
      c.quit()
    } finally srv.close()
  }

  test("COM_STMT_SEND_LONG_DATA: chunks concatenate, persist across " +
      "execute, drain on reset") {
    val wh = ScratchDirs.create("graft_wire6_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema ld")
    eng.sql("use ld")
    eng.sql("create table t (id int, body char, PRIMARY KEY(id))")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("ld"))
      val (sid, n) = c.prepare("insert into t values (?, ?)")
      assert(n == 2)
      // two chunks for param 1 concatenate in arrival order
      c.sendLongData(sid, 1, "hello ")
      c.sendLongData(sid, 1, "world")
      assert(c.executeUpdate(sid, Seq(1L, LongData)) == c.Ok(1))
      // per protocol the accumulated data SURVIVES execute — a second
      // execute without new chunks reuses it
      assert(c.executeUpdate(sid, Seq(2L, LongData)) == c.Ok(1))
      // COM_STMT_RESET drains the chunks: a fresh execute with an
      // inline param must see the inline value, not stale long data
      c.stmtReset(sid)
      assert(c.executeUpdate(sid, Seq(3L, "plain")) == c.Ok(1))
      val (qid, qn) = c.prepare("select id, body from t order by id")
      assert(qn == 0)
      assert(c.execute(qid, Nil) == Seq(
        Seq(Some(1L), Some("hello world")),
        Seq(Some(2L), Some("hello world")),
        Seq(Some(3L), Some("plain"))))
      c.stmtClose(qid)
      c.stmtClose(sid)
      c.quit()
    } finally srv.close()
  }

  test("COM_RESET_CONNECTION: txn rolled back, stmts dropped, " +
      "schema cleared; connection survives") {
    val wh = ScratchDirs.create("graft_wire7_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema rc")
    eng.sql("use rc")
    eng.sql("create table t (id int, PRIMARY KEY(id))")
    eng.sql("insert into t values (1)")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("rc"))
      val (sid, _) = c.prepare("select id from t order by id")
      // open a real transaction with an uncommitted insert
      assert(c.query("begin") == c.Ok(0))
      assert(c.query("insert into t values (2)") == c.Ok(1))
      c.query("select count(*) as n from t") match {
        case c.Rows(_, rows) => assert(rows == Seq(Seq(Some("2"))))
        case other => fail(s"$other")
      }
      // reset: OK — txn rolled back, prepared gone, schema cleared
      c.resetConnection()
      c.query("select count(*) as n from rc.t") match {
        case c.Rows(_, rows) => assert(rows == Seq(Seq(Some("1"))))
        case other => fail(s"$other")
      }
      // schema cleared: a bare name no longer resolves (SELECTs
      // resolve through the Spark catalog's default db, so this is
      // 1146 table-not-found — the engine's established code for a
      // fresh no-schema connection too)
      c.query("select id from t") match {
        case c.Err(code, _) => assert(code == 1146)
        case other => fail(s"expected 1146, got $other")
      }
      // dropped prepared id → execute error (the Client asserts on
      // an ERR first packet; inside the suite that assert is
      // ScalaTest's, so intercept the generic Throwable)
      val ex = intercept[Throwable] { c.execute(sid, Nil) }
      assert(ex.getMessage.contains("execute error"))
      c.quit()
    } finally srv.close()
  }

  test("COM_SET_OPTION toggles multi-statements; COM_CHANGE_USER " +
      "resets into the requested db") {
    val wh = ScratchDirs.create("graft_wire8_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema su")
    eng.sql("use su")
    eng.sql("create table t (id int, PRIMARY KEY(id))")
    eng.sql("insert into t values (1), (2)")
    eng.sql("create schema other")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("su"), multi = true)
      // negotiated ON: two statements, two responses
      assert(c.queryMulti("select 1 as a; select 2 as b").length == 2)
      // toggled OFF: the unsplit text is one (failing) statement
      c.setOption(multiOn = false)
      c.query("select 1; select 2") match {
        case c.Err(_, _) => ()
        case other => fail(s"expected parse error, got $other")
      }
      // toggled back ON
      c.setOption(multiOn = true)
      assert(c.queryMulti("select 1 as a; select 2 as b").length == 2)
      // CHANGE_USER: full reset, lands in the requested schema
      val (sid, _) = c.prepare("select id from t order by id")
      // OK via the USE path (the engine's USE answers affected=1,
      // same as COM_INIT_DB above)
      assert(c.changeUser("someone", "other") == c.Ok(1))
      c.query("select database() as d") match {
        case c.Rows(_, rows) => assert(rows == Seq(Seq(Some("other"))))
        case other => fail(s"$other")
      }
      val ex = intercept[Throwable] { c.execute(sid, Nil) }
      assert(ex.getMessage.contains("execute error"))
      c.quit()
    } finally srv.close()
  }

  test("caching_sha2 clients are switched to native password with " +
    "well-formed frames") {
    val wh = ScratchDirs.create("graft_wire4_")
    val eng = new GraftEngine(spark, wh)
    val srv = new MysqlServer(eng)
    try {
      // an 8.x client defaulting to caching_sha2_password must see
      // AuthSwitchRequest(mysql_native_password, 20-byte salt) and
      // proceed to a working session after answering it
      val c = new Client(srv.boundPort,
        plugin = Some("caching_sha2_password"))
      assert(c.authSwitch.contains(("mysql_native_password", 20)))
      c.query("select 1 as one") match {
        case c.Rows(_, rs) => assert(rs == Seq(Seq(Some("1"))))
        case other => fail(s"$other")
      }
      c.quit()
      // a client already on native password skips the switch
      val d = new Client(srv.boundPort,
        plugin = Some("mysql_native_password"))
      assert(d.authSwitch.isEmpty)
      assert(d.ping())
      d.quit()
    } finally srv.close()
  }

  test("SHOW PROCESSLIST lists connections by handshake id; KILL " +
    "terminates the target") {
    val wh = ScratchDirs.create("graft_wire5_")
    val eng = new GraftEngine(spark, wh)
    val srv = new MysqlServer(eng)
    try {
      val a = new Client(srv.boundPort)
      val b = new Client(srv.boundPort)
      a.query("show processlist") match {
        case a.Rows(cols, rows) =>
          assert(cols == Seq("Id", "User", "Host", "db", "Command",
            "Time", "State", "Info"))
          val ids = rows.map(_.head.get.toLong)
          assert(ids.contains(a.connId) && ids.contains(b.connId))
          // the asking session is mid-query; the idle one sleeps
          val byId = rows.map(r => r.head.get.toLong -> r).toMap
          assert(byId(a.connId)(4) == Some("Query"))
          assert(byId(a.connId)(7) == Some("show processlist"))
          assert(byId(b.connId)(4) == Some("Sleep"))
          assert(byId(b.connId)(7).isEmpty)
        case other => fail(s"$other")
      }
      a.query("kill 999999") match {
        case a.Err(code, msg) =>
          assert(code == 1094 && msg.contains("Unknown thread id"))
        case other => fail(s"$other")
      }
      assert(a.query(s"kill ${b.connId}") == a.Ok(0))
      // the killed connection's next command is refused and dropped
      b.query("select 1 as one") match {
        case b.Err(code, _) => assert(code == 1317)
        case other => fail(s"$other")
      }
      // its PROCESSLIST row is gone once the connection closes
      val deadline = System.currentTimeMillis + 5000
      var gone = false
      while (!gone && System.currentTimeMillis < deadline) {
        a.query("show processlist") match {
          case a.Rows(_, rows) =>
            gone = !rows.map(_.head.get.toLong).contains(b.connId)
          case other => fail(s"$other")
        }
        if (!gone) Thread.sleep(100)
      }
      assert(gone, "killed connection still listed")
      a.quit()
    } finally srv.close()
  }

  test("connect-with-db lands the handshake database") {
    val wh = ScratchDirs.create("graft_wire3_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema pre")
    eng.sql("use pre")
    eng.sql("create table seeded (v int)")
    eng.sql("insert into seeded values (7)")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("pre"))
      c.query("select v from seeded") match {
        case c.Rows(_, rs) => assert(rs == Seq(Seq(Some("7"))))
        case other => fail(s"$other")
      }
      c.quit()
    } finally srv.close()
  }

  test("COM_QUERY: a failing statement answers ERR and the connection " +
    "stays usable") {
    val wh = ScratchDirs.create("graft_wire9_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema fe")
    eng.sql("use fe")
    eng.sql("create table t (id int, PRIMARY KEY(id))")
    eng.sql("insert into t values (1), (2), (3)")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("fe"))
      // a constant division by zero (ANSI mode), then one that fails
      // only once rows stream from a table scan: ERR either way, in
      // place of the result set's final EOF
      Seq("select 1/0", "select id, 1 / (id - id) as q from t").foreach { sql =>
        c.query(sql) match {
          case c.Err(code, msg) =>
            assert(code == 1105 && msg.contains("DIVIDE_BY_ZERO"), sql)
          case other => fail(s"expected ERR for `$sql`, got $other")
        }
        assert(c.query("select id from t order by id") ==
          c.Rows(Seq("id"), Seq(Seq(Some("1")), Seq(Some("2")), Seq(Some("3")))))
      }
      c.quit()
    } finally srv.close()
  }

  test("COM_STMT_EXECUTE: a failing statement answers ERR and the " +
    "connection stays usable") {
    val wh = ScratchDirs.create("graft_wire10_")
    val eng = new GraftEngine(spark, wh)
    eng.sql("create schema fb")
    eng.sql("use fb")
    eng.sql("create table t (id int, PRIMARY KEY(id))")
    eng.sql("insert into t values (1), (2), (3)")
    val srv = new MysqlServer(eng)
    try {
      val c = new Client(srv.boundPort, db = Some("fb"))
      val (okId, _) = c.prepare("select id from t where id >= ? order by id")
      Seq("select 1/0", "select id, 1 / (id - id) as q from t").foreach { sql =>
        val (badId, _) = c.prepare(sql)
        c.executeUpdate(badId, Nil) match {
          case c.Err(code, msg) =>
            assert(code == 1105 && msg.contains("DIVIDE_BY_ZERO"), sql)
          case other => fail(s"expected ERR for `$sql`, got $other")
        }
        assert(c.execute(okId, Seq(2L)) == Seq(Seq(Some(2L)), Seq(Some(3L))))
        c.stmtClose(badId)
      }
      c.quit()
    } finally srv.close()
  }
}

package graft.wire

import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

import graft.engine.{AffectedRows, GraftEngine, GraftException, GraftResult,
  GraftSession, ResultSet}
import Packets._

/** MySQL wire-protocol front end for the engine — the LAST reference
  * subsystem (`/root/reference/src/mysql/handle.rs:158-244`,
  * `src/main.rs:88-99`): a real MySQL client can connect and run the
  * engine's whole statement surface. One thread + one
  * [[graft.engine.GraftSession]] per connection, matching the
  * reference's Execution-per-connection model; all query planning and
  * execution stays in the engine — this layer only frames bytes.
  *
  * Protocol scope (Protocol::41, classic EOF framing — written from
  * the public protocol documentation, see [[Packets]]):
  *  - Handshake V10 announcing `8.0.25-graft` (the reference
  *    announces itself as MySQL 8.0.25), any credentials accepted
  *    (the reference ignores auth too, `handle.rs` — no account
  *    table checks on COM_QUERY paths).
  *  - COM_QUERY → text resultset / OK / ERR with the engine's
  *    MySQL-compatible error codes.
  *  - COM_INIT_DB (USE), COM_PING, COM_FIELD_LIST (DESCRIBE-shaped,
  *    `handle.rs` COM_FIELD_LIST → column definitions), COM_QUIT.
  *  - COM_STMT_PREPARE / EXECUTE / CLOSE with binary result rows —
  *    the reference's prepared-statement surface
  *    (`execution.rs:790-880`), parameters spliced server-side.
  *
  * Values serialize as text in text resultsets (NULL = 0xfb), the
  * reference's all-text row conversion (`core_util.rs:357-427`);
  * LONGLONG/DOUBLE go binary in COM_STMT_EXECUTE responses per the
  * binary protocol.
  *
  * Both protocols share one result writer ([[respondAt]]). A result
  * whose rows already sit on the driver — SHOW, DESCRIBE, EXPLAIN,
  * VALUES and a SELECT of constants, which plan as a
  * `LocalTableScanExec` — goes out with no Spark job. Every other
  * result streams in batches of up to `defaultParallelism` partitions,
  * one Spark job per batch: a result of that many partitions or fewer
  * costs one job. Rows are read column by column from Spark's internal
  * rows, with no encoder, and each job runs a named class, not a
  * lambda: a result costs no code generation and no closure cleaning
  * of its own (see [[foreachRow]]).
  */
class MysqlServer(engine: GraftEngine, port: Int = 0) {

  private val server = new ServerSocket(port)
  private val running = new AtomicBoolean(true)
  private val connIds = new AtomicInteger(0)

  /** Bound port (useful with port=0 for tests). */
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), s"graft-wire-${connIds.incrementAndGet()}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running.get() => () // closed
        case e: Throwable => System.err.println(s"[wire] accept: ${e.getMessage}")
      }
    }
  }, "graft-wire-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = { running.set(false); server.close() }

  // ------------------------------------------------------------------

  private def handle(sock: Socket): Unit = {
    val in = new java.io.BufferedInputStream(sock.getInputStream)
    val out = new java.io.BufferedOutputStream(sock.getOutputStream)
    val session = engine.newSession()
    val stmtParams = scala.collection.mutable.Map[Int, Int]() // id → n params
    val stmtTypes = scala.collection.mutable.Map[Int, Array[Int]]()
    // COM_STMT_SEND_LONG_DATA accumulator: (stmt id, param index) →
    // concatenated chunks. Per protocol the data survives EXECUTE and
    // is cleared only by COM_STMT_RESET or COM_STMT_CLOSE.
    val longData = scala.collection.mutable.Map[(Int, Int),
      java.io.ByteArrayOutputStream]()
    def flushPackets(seqStart: Int, payloads: Seq[Array[Byte]]): Unit = {
      payloads.zipWithIndex.foreach { case (p, i) =>
        writePacket(out, seqStart + i, p)
      }
      out.flush()
    }
    try {
      // ---- handshake ----------------------------------------------
      val caps = ClientProtocol41 | ClientConnectWithDb |
        ClientSecureConnection | ClientPluginAuth | ClientTransactions |
        ClientMultiStatements | ClientMultiResults
      val salt = Array.tabulate[Byte](20)(i => (0x41 + (i % 26)).toByte)
      val hs = new Writer()
        .int1(10).nulStr("8.0.25-graft")
        // thread id = the engine session id, so the id a client reads
        // from its handshake (or SHOW PROCESSLIST) is the one KILL
        // targets — MySQL's contract
        .int4(session.id)
        .bytes(salt.take(8)).int1(0)
        .int2(caps & 0xffff)
        .int1(255 /* utf8mb4 */).int2(0x0002)
        .int2(caps >>> 16)
        .int1(21).zeros(10)
        .bytes(salt.drop(8)).int1(0)
        .nulStr("mysql_native_password")
        .result()
      writePacket(out, 0, hs); out.flush()
      val (_, resp) = readPacket(in)
      val r = new Reader(resp)
      val clientCaps = r.int4()
      r.int4(); r.int1(); r.skip(23)
      r.nulStr() // username — accepted unchecked
      if ((clientCaps & ClientSecureConnection) != 0) {
        val n = r.int1(); r.skip(n)
      } else r.nulStr()
      if ((clientCaps & ClientConnectWithDb) != 0 && r.remaining > 0) {
        val db = r.nulStr()
        if (db.nonEmpty)
          try session.sql(s"use `$db`")
          catch { case _: GraftException => () } // match lenient servers: report at first statement
      }
      // auth-plugin negotiation: the handshake announces 8.0.25, so
      // real 8.x clients (Connector/J, libmysqlclient) default to
      // caching_sha2_password and hash the scramble with THAT plugin.
      // Credentials are accepted unchecked either way (the reference
      // never validates auth, handle.rs) — but the negotiation frames
      // must be well-formed or the client aborts: when the client
      // named a different plugin, send AuthSwitchRequest (0xFE +
      // plugin + salt) asking for mysql_native_password, read the
      // re-hashed response, and only then OK. Clients already on
      // native password (or with no plugin capability) skip straight
      // to OK.
      var okSeq = 2
      if ((clientCaps & ClientPluginAuth) != 0 && r.remaining > 0) {
        val plugin = r.nulStr()
        if (plugin.nonEmpty && plugin != "mysql_native_password") {
          val switch = new Writer()
            .int1(0xfe).nulStr("mysql_native_password")
            .bytes(salt).int1(0)
            .result()
          writePacket(out, okSeq, switch); out.flush()
          val (respSeq, _) = readPacket(in) // 20-byte scramble — unchecked
          okSeq = respSeq + 1
        }
      }
      writePacket(out, okSeq, ok(0)); out.flush()

      // ---- command loop -------------------------------------------
      // CLIENT_MULTI_STATEMENTS is negotiated at handshake but
      // toggleable afterwards via COM_SET_OPTION (Connector/J does
      // both), so it lives in a var, not in the frozen cap bits
      var multiStmts = (clientCaps & ClientMultiStatements) != 0
      var open = true
      while (open && running.get()) {
        val (_, cmd) = readPacket(in)
        val c = new Reader(cmd)
        // KILL <this connection>: reject the next command with the
        // kill error and drop the connection (statement-boundary
        // semantics — a blocked read is woken by the client's own
        // next command, like MySQL's boundary checks)
        if (session.isKilled) {
          flushPackets(1, Seq(err(1317,
            s"Connection was killed")))
          open = false
        } else c.int1() match {
          case ComQuit => open = false
          case ComPing => flushPackets(1, Seq(ok(0)))
          case ComInitDb =>
            val db = new String(c.rest(), StandardCharsets.UTF_8)
            respond(session, out, s"use `$db`")
          case ComQuery =>
            val sqlText = new String(c.rest(), StandardCharsets.UTF_8)
            // CLIENT_MULTI_STATEMENTS: split on top-level ';' (quote-
            // aware — a ';' inside a string literal never splits) and
            // answer each statement in sequence; every response but
            // the last carries SERVER_MORE_RESULTS_EXISTS so the
            // client keeps reading. An ERR aborts the remaining
            // statements, MySQL's semantics.
            val parts =
              if (multiStmts)
                graft.engine.SqlText.splitTopLevel(sqlText, ';')
                  .map(_.trim).filter(_.nonEmpty)
              else Seq(sqlText)
            if (parts.length <= 1) respond(session, out, sqlText)
            else {
              var seq = 1
              var i = 0
              var aborted = false
              while (i < parts.length && !aborted) {
                val (next, wasErr) = respondAt(session, out, seq,
                  more = i < parts.length - 1, binary = false)(session.sql(parts(i)))
                seq = next
                aborted = wasErr
                i += 1
              }
            }
          case ComFieldList =>
            val table = c.nulStr()
            try {
              val cols = session.query(s"show columns from `$table`").collect()
              val defs = cols.toSeq.map { row =>
                val tc = row.getString(1) match {
                  case "int" => TypeLongLong
                  case "float" => TypeDouble
                  case _ => TypeVarString
                }
                columnDef(session.currentSchema.getOrElse(""), table,
                  row.getString(0), tc)
              }
              flushPackets(1, defs :+ eof())
            } catch {
              case e: GraftException => flushPackets(1, Seq(err(e.code, e.msg)))
            }
          case ComStmtPrepare =>
            val sqlText = new String(c.rest(), StandardCharsets.UTF_8)
            try {
              val id = session.prepare(sqlText)
              val n = graft.engine.SqlText.countParams(sqlText)
              stmtParams(id) = n
              val head = new Writer().int1(0x00).int4(id.toLong)
                .int2(0 /* columns unknown until execute */).int2(n)
                .int1(0).int2(0).result()
              val params = (0 until n).map(i =>
                columnDef("", "", s"?$i", TypeVarString))
              flushPackets(1, (head +: params) ++
                (if (n > 0) Seq(eof()) else Nil))
            } catch {
              case e: GraftException => flushPackets(1, Seq(err(e.code, e.msg)))
            }
          case ComStmtExecute =>
            val id = c.int4().toInt
            c.int1(); c.int4() // flags, iteration count
            val n = stmtParams.getOrElse(id, 0)
            val params: Seq[Any] =
              if (n == 0) Nil
              else {
                val bitmap = c.bytes((n + 7) / 8)
                def isNull(i: Int) = (bitmap(i / 8) & (1 << (i % 8))) != 0
                val newBound = c.int1()
                val types: Array[Int] =
                  if (newBound == 1) {
                    val ts = Array.tabulate(n) { _ =>
                      val t = c.int1(); c.int1(); t // type, unsigned flag
                    }
                    stmtTypes(id) = ts; ts
                  } else stmtTypes.getOrElse(id, Array.fill(n)(TypeVarString))
                (0 until n).map { i =>
                  // a param fed by COM_STMT_SEND_LONG_DATA has NO
                  // value in the execute payload — its value is the
                  // accumulated chunk stream
                  if (longData.contains((id, i)))
                    new String(longData((id, i)).toByteArray,
                      StandardCharsets.UTF_8)
                  else if (isNull(i)) null
                  else types(i) match {
                    case 0x01 => c.int1().toLong // TINY
                    case 0x02 => c.int2().toLong // SHORT
                    case 0x03 => c.int4() // LONG
                    case TypeLongLong => c.int8()
                    case 0x04 => // FLOAT
                      java.lang.Float.intBitsToFloat(c.int4().toInt).toDouble
                    case TypeDouble =>
                      java.lang.Double.longBitsToDouble(c.int8())
                    case _ =>
                      new String(c.lenencBytes(), StandardCharsets.UTF_8)
                  }
                }
              }
            respondAt(session, out, 1, more = false, binary = true)(
              session.executePrepared(id, params))
          case ComStmtSendLongData =>
            // chunked parameter upload: payload = stmt id, param
            // index, raw chunk; chunks CONCATENATE per (stmt, param)
            // and the param's value is then omitted from the EXECUTE
            // payload. No response, per protocol — errors (unknown
            // id) surface at EXECUTE, as on a real server.
            val id = c.int4().toInt
            val pidx = c.int2()
            longData.getOrElseUpdate((id, pidx),
              new java.io.ByteArrayOutputStream()).write(c.rest())
            // no response, per protocol
          case ComStmtClose =>
            val id = c.int4().toInt
            session.closePrepared(id)
            stmtParams.remove(id); stmtTypes.remove(id)
            longData.keys.filter(_._1 == id).toSeq
              .foreach(longData.remove)
            // no response, per protocol
          case ComStmtReset =>
            // clear accumulated parameter state — the cached
            // param-type map AND any COM_STMT_SEND_LONG_DATA chunks —
            // and answer OK (reference family: src/mysql/handle.rs
            // command dispatch). The statement stays prepared and
            // re-executable.
            val id = c.int4().toInt
            if (stmtParams.contains(id)) {
              stmtTypes.remove(id)
              longData.keys.filter(_._1 == id).toSeq
                .foreach(longData.remove)
              flushPackets(1, Seq(ok(0)))
            } else flushPackets(1, Seq(err(1243,
              s"Unknown prepared statement handler ($id) given to mysqld_stmt_reset")))
          case ComResetConnection =>
            // connection-pool recycle: roll back any open txn, drop
            // prepared statements (and their wire-side type/long-data
            // state), clear the session schema — then OK. The TCP
            // connection and the shared catalog survive.
            session.resetConnection()
            stmtParams.clear(); stmtTypes.clear(); longData.clear()
            flushPackets(1, Seq(ok(0)))
          case ComChangeUser =>
            // user swap on a pooled connection (the pre-5.7 recycle
            // path — Connector/J falls back to it when
            // RESET_CONNECTION is unavailable): same full session
            // reset, credentials accepted unchecked like the
            // handshake, then land the requested database.
            c.nulStr() // username — accepted unchecked
            if ((clientCaps & ClientSecureConnection) != 0) {
              val n = c.int1(); c.skip(n)
            } else c.nulStr()
            val db =
              if (c.remaining > 0) c.nulStr() else ""
            session.resetConnection()
            stmtParams.clear(); stmtTypes.clear(); longData.clear()
            if (db.nonEmpty) respond(session, out, s"use `$db`")
            else flushPackets(1, Seq(ok(0)))
          case ComSetOption =>
            // int2 operand: 0 = MULTI_STATEMENTS_ON, 1 = OFF; the
            // classic-framing response is an EOF packet
            c.int2() match {
              case 0 => multiStmts = true; flushPackets(1, Seq(eof()))
              case 1 => multiStmts = false; flushPackets(1, Seq(eof()))
              case other => flushPackets(1, Seq(err(1047,
                s"Unknown COM_SET_OPTION operand $other")))
            }
          case other =>
            flushPackets(1, Seq(err(1105, s"unsupported command 0x${other.toHexString}")))
        }
      }
    } catch {
      case _: java.io.EOFException => () // client went away
      case e: Throwable if running.get() =>
        System.err.println(s"[wire] connection: ${e.getMessage}")
    } finally {
      session.close() // drop the PROCESSLIST row with the connection
      sock.close()
    }
  }

  /** COM_QUERY: run through the engine, frame the result. */
  private def respond(session: GraftSession,
      out: java.io.OutputStream, sqlText: String): Unit = {
    respondAt(session, out, 1, more = false, binary = false)(session.sql(sqlText)); ()
  }

  /** One statement's response starting at packet `seqStart`, for both
    * protocols: OK, ERR, or a result set in text rows (COM_QUERY) or
    * binary rows (COM_STMT_EXECUTE). `more` sets
    * SERVER_MORE_RESULTS_EXISTS on the terminating OK/EOF so a
    * multi-statement client keeps reading. Returns (next sequence id,
    * whether the response was an ERR — which aborts the rest of a
    * multi-statement batch).
    *
    * The statement runs and its result is planned before any byte goes
    * out, so a parse, analysis or planning error answers a plain ERR.
    * An error while rows stream ends the result set with ERR in place
    * of the final EOF; the connection stays usable either way. */
  private def respondAt(session: GraftSession, out: java.io.OutputStream,
      seqStart: Int, more: Boolean, binary: Boolean)(
      run: => GraftResult): (Int, Boolean) = {
    val status = ServerStatusAutocommit |
      (if (more) ServerMoreResultsExists else 0)
    def send(seq: Int, p: Array[Byte]): Int = { writePacket(out, seq, p); seq + 1 }
    def fail(seq: Int, e: Throwable): (Int, Boolean) = {
      val next = send(seq, e match {
        case g: GraftException => err(g.code, g.msg)
        case _ => err(1105, String.valueOf(e.getMessage))
      })
      out.flush()
      (next, true)
    }
    val result =
      try run match {
        case AffectedRows(n) => Right(Left(n))
        case ResultSet(df) =>
          df.queryExecution.executedPlan // plan before any byte goes out
          Right(Right(df))
      } catch { case e: Throwable => Left(e) }
    result match {
      case Left(e) => fail(seqStart, e)
      case Right(Left(n)) =>
        val next = send(seqStart, ok(n, 0L, status))
        out.flush()
        (next, false)
      case Right(Right(df)) =>
        val schema = df.schema
        val tcs = schema.fields.map(f => f.dataType match {
          case LongType => TypeLongLong
          case DoubleType => TypeDouble
          case _ => TypeVarString
        })
        var seq = send(seqStart, new Writer().lenenc(tcs.length.toLong).result())
        schema.fields.zip(tcs).foreach { case (f, tc) =>
          seq = send(seq, columnDef(session.currentSchema.getOrElse(""), "", f.name, tc))
        }
        seq = send(seq, eof())
        val columns = schema.fields.zipWithIndex.map { case (f, i) => column(f.dataType, i) }
        val rowErr =
          try {
            foreachRow(df) { row =>
              val cells = columns.indices.map(i =>
                if (row.isNullAt(i)) None else Some(columns(i)(row)))
              seq = send(seq,
                if (binary) binaryRow(cells.zip(tcs))
                else textRow(cells.map(_.map(String.valueOf))))
            }
            None
          } catch { case e: Throwable => Some(e) }
        rowErr.map(fail(seq, _)).getOrElse {
          seq = send(seq, eof(status))
          out.flush()
          (seq, false)
        }
    }
  }

  /** Hands a result's rows to `f` in order, from the plan its
    * DataFrame already built, inside one SQL execution, so SQL and
    * `QueryExecutionListener` callbacks fire as for any action. A
    * `LocalTableScanExec` (SHOW, DESCRIBE, EXPLAIN, VALUES, a SELECT
    * of constants) holds its rows on the driver and runs no Spark job.
    * Any other plan runs in batches of up to `defaultParallelism`
    * partitions, one `runJob` each, in partition order (the shape of
    * `executeTake`), so driver memory stays bounded at one batch.
    *
    * Nothing here costs per statement what a statement of the same
    * shape already paid: rows reach `f` as Spark's internal rows (read
    * by [[column]], not through an encoder, whose deserializer is
    * analyzed and code-generated per call), and each job runs
    * [[MysqlServer.CopyRows]], a named class that `runJob`'s closure
    * cleaner passes over, where a lambda would be looked up and parsed
    * with ASM twice per job. */
  private def foreachRow(df: DataFrame)(f: InternalRow => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("wireResult")) {
      qe.executedPlan match {
        case local: LocalTableScanExec => local.executeCollect().foreach(f)
        case plan =>
          plan.resetMetrics()
          val rdd = plan.execute()
          val sc = rdd.sparkContext
          val n = rdd.getNumPartitions
          val step = sc.defaultParallelism
          (0 until n by step).foreach { from =>
            val parts = from until math.min(from + step, n)
            val batch = new Array[Array[InternalRow]](parts.length)
            sc.runJob(rdd, new MysqlServer.CopyRows, parts,
              (i: Int, rows: Array[InternalRow]) => batch(i) = rows)
            batch.foreach(_.foreach(f))
          }
      }
    }
  }

  /** Reads column `i` of a non-null cell as an external `Row` would
    * hold it: the engine's column types (int, float, char) directly,
    * any other type through Catalyst's converter. */
  private def column(t: DataType, i: Int): InternalRow => Any = t match {
    case LongType => _.getLong(i)
    case DoubleType => _.getDouble(i)
    case _: StringType => _.getUTF8String(i).toString
    case _ =>
      val toScala = CatalystTypeConverters.createToScalaConverter(t)
      r => toScala(r.get(i, t))
  }
}

object MysqlServer {
  /** A result partition's rows, copied out of the scan's reused row
    * buffer. */
  final class CopyRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow])
      with Serializable {
    def apply(context: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }
}

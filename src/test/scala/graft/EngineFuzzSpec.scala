package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import graft.engine.{AffectedRows, GraftEngine, GraftException, GraftResult, ResultSet}

/** Statement-surface fuzz: ≥1000 generated statement sequences run
  * against ONE shared engine and replayed against a trivial in-memory
  * model; every affected count, point/count result, catalog listing
  * and pinned error code must agree at every step. This hunts the
  * cross-statement state bugs (catalog drift, stale COW
  * registrations, session-schema leaks, error-then-continue
  * corruption) that single-scenario golden tests can't reach.
  *
  * Generation is raw ScalaCheck sampled with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline dependency set,
  * same pattern as SqlTextPropertySpec), so the run is deterministic
  * and any failure reproduces from its sequence index.
  */
class EngineFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val engine =
    new GraftEngine(spark, ScratchDirs.create("graft_fuzz_"))

  // ---- in-memory model: schema set + (schema, table) -> id -> v ----
  private val mSchemas = mutable.Set.empty[String]
  private val mTables =
    mutable.Map.empty[(String, String), mutable.Map[Long, Long]]

  private sealed trait Op
  private case class CreateSchema(s: String) extends Op
  private case class DropSchema(s: String) extends Op
  private case class CreateTable(s: String, t: String) extends Op
  private case class DropTable(s: String, t: String) extends Op
  private case class Insert(s: String, t: String, k: Long, v: Long) extends Op
  private case class Upsert(s: String, t: String, k: Long, v: Long) extends Op
  private case class Replace(s: String, t: String, k: Long, v: Long) extends Op
  private case class Odku(s: String, t: String, k: Long, v: Long) extends Op
  private case class Update(s: String, t: String, k: Long, v: Long) extends Op
  private case class Delete(s: String, t: String, k: Long) extends Op
  private case class SelectCount(s: String, t: String) extends Op
  private case class SelectPoint(s: String, t: String, k: Long) extends Op
  private case class ShowTables(s: String) extends Op

  // Small pools so creates/drops/inserts collide constantly — the
  // error paths (1007/1049/1050/1051/1062/1146) are the point.
  private val schemaPool = Seq("fz0", "fz1", "fz2")
  private val tablePool = Seq("ta", "tb")
  private val genS = Gen.oneOf(schemaPool)
  private val genT = Gen.oneOf(tablePool)
  private val genK = Gen.chooseNum(0L, 7L)
  private val genV = Gen.chooseNum(0L, 9999L)

  private val genOp: Gen[Op] = Gen.frequency(
    2 -> genS.map(CreateSchema),
    1 -> genS.map(DropSchema),
    3 -> Gen.zip(genS, genT).map { case (s, t) => CreateTable(s, t) },
    1 -> Gen.zip(genS, genT).map { case (s, t) => DropTable(s, t) },
    4 -> Gen.zip(genS, genT, genK, genV)
      .map { case (s, t, k, v) => Insert(s, t, k, v) },
    1 -> Gen.zip(genS, genT, genK, genV)
      .map { case (s, t, k, v) => Upsert(s, t, k, v) },
    1 -> Gen.zip(genS, genT, genK, genV)
      .map { case (s, t, k, v) => Replace(s, t, k, v) },
    1 -> Gen.zip(genS, genT, genK, genV)
      .map { case (s, t, k, v) => Odku(s, t, k, v) },
    2 -> Gen.zip(genS, genT, genK, genV)
      .map { case (s, t, k, v) => Update(s, t, k, v) },
    2 -> Gen.zip(genS, genT, genK)
      .map { case (s, t, k) => Delete(s, t, k) },
    4 -> Gen.zip(genS, genT).map { case (s, t) => SelectCount(s, t) },
    3 -> Gen.zip(genS, genT, genK)
      .map { case (s, t, k) => SelectPoint(s, t, k) },
    2 -> genS.map(ShowTables))

  private def run(sqlText: String): Either[Int, GraftResult] =
    try Right(engine.sql(sqlText))
    catch { case e: GraftException => Left(e.code) }

  private def rows(r: Either[Int, GraftResult]): Seq[Seq[Any]] = r match {
    case Right(ResultSet(df)) => df.collect().toSeq.map(_.toSeq)
    case other => fail(s"expected a result set, got $other")
  }

  private def affected(r: Either[Int, GraftResult], ctx: String): Long =
    r match {
      case Right(AffectedRows(n)) => n
      case other => fail(s"$ctx: expected AffectedRows, got $other")
    }

  /** Point the session at schema s; false (after asserting the 1049)
    * when the model says s doesn't exist — the table op then
    * degenerates to that pinned unknown-schema check. */
  private def useSchema(s: String): Boolean = run(s"use $s") match {
    case Right(_) =>
      assert(mSchemas(s), s"engine entered schema $s the model lacks")
      true
    case Left(code) =>
      assert(!mSchemas(s) && code == 1049,
        s"use $s: code $code, model has=${mSchemas(s)}")
      false
  }

  private def exec(op: Op, ctx: String): Unit = op match {
    case CreateSchema(s) =>
      if (mSchemas(s)) assert(run(s"create schema $s") == Left(1007), ctx)
      else {
        assert(affected(run(s"create schema $s"), ctx) == 1L)
        mSchemas += s
      }
    case DropSchema(s) =>
      if (!mSchemas(s)) assert(run(s"drop schema $s") == Left(1049), ctx)
      else {
        affected(run(s"drop schema $s"), ctx)
        mSchemas -= s
        mTables.filterInPlace { case ((sc, _), _) => sc != s }
      }
    case CreateTable(s, t) =>
      if (useSchema(s)) {
        val ddl = s"create table $t (id int, v int, PRIMARY KEY(id))"
        if (mTables.contains((s, t))) assert(run(ddl) == Left(1050), ctx)
        else {
          affected(run(ddl), ctx)
          mTables((s, t)) = mutable.Map.empty
        }
      }
    case DropTable(s, t) =>
      if (useSchema(s)) {
        if (!mTables.contains((s, t)))
          assert(run(s"drop table $t") == Left(1051), ctx)
        else {
          affected(run(s"drop table $t"), ctx)
          mTables -= ((s, t))
        }
      }
    case Insert(s, t, k, v) =>
      if (useSchema(s)) {
        val ins = s"insert into $t values ($k, $v)"
        mTables.get((s, t)) match {
          case None => assert(run(ins) == Left(1146), ctx)
          case Some(m) if m.contains(k) =>
            assert(run(ins) == Left(1062), ctx)
          case Some(m) =>
            assert(affected(run(ins), ctx) == 1L)
            m(k) = v
        }
      }
    case Upsert(s, t, k, v) =>
      if (useSchema(s)) {
        val ins = s"insert overwrite into $t values ($k, $v)"
        mTables.get((s, t)) match {
          case None => assert(run(ins) == Left(1146), ctx)
          case Some(m) =>
            assert(affected(run(ins), ctx) == 1L)
            m(k) = v
        }
      }
    case Replace(s, t, k, v) =>
      if (useSchema(s)) {
        val st = s"replace into $t values ($k, $v)"
        mTables.get((s, t)) match {
          case None => assert(run(st) == Left(1146), ctx)
          case Some(m) =>
            // MySQL arithmetic: inserted + deleted
            val expected = if (m.contains(k)) 2L else 1L
            assert(affected(run(st), ctx) == expected, ctx)
            m(k) = v
        }
      }
    case Odku(s, t, k, v) =>
      if (useSchema(s)) {
        val st = s"insert into $t values ($k, $v) " +
          "on duplicate key update v = VALUES(v)"
        mTables.get((s, t)) match {
          case None => assert(run(st) == Left(1146), ctx)
          case Some(m) =>
            // MySQL arithmetic: 1 per insert, 2 per CHANGED update,
            // 0 when the assignments leave the row identical
            val expected =
              if (!m.contains(k)) 1L else if (m(k) == v) 0L else 2L
            assert(affected(run(st), ctx) == expected, ctx)
            m(k) = v
        }
      }
    case Update(s, t, k, v) =>
      if (useSchema(s)) {
        val upd = s"update $t set v = $v where id = $k"
        mTables.get((s, t)) match {
          case None => assert(run(upd) == Left(1146), ctx)
          case Some(m) =>
            val matched = if (m.contains(k)) 1L else 0L
            assert(affected(run(upd), ctx) == matched, ctx)
            if (m.contains(k)) m(k) = v
        }
      }
    case Delete(s, t, k) =>
      if (useSchema(s)) {
        val del = s"delete from $t where id = $k"
        mTables.get((s, t)) match {
          case None => assert(run(del) == Left(1146), ctx)
          case Some(m) =>
            val matched = if (m.contains(k)) 1L else 0L
            assert(affected(run(del), ctx) == matched, ctx)
            m -= k
        }
      }
    case SelectCount(s, t) =>
      if (useSchema(s)) {
        val q = s"select count(*) from $t"
        mTables.get((s, t)) match {
          case None => assert(run(q) == Left(1146), ctx)
          case Some(m) =>
            assert(rows(run(q)) == Seq(Seq(m.size.toLong)), ctx)
        }
      }
    case SelectPoint(s, t, k) =>
      if (useSchema(s)) {
        val q = s"select v from $t where id = $k"
        mTables.get((s, t)) match {
          case None => assert(run(q) == Left(1146), ctx)
          case Some(m) =>
            val got = rows(run(q)).map(_.head)
            assert(got == m.get(k).toSeq, s"$ctx: got $got want ${m.get(k)}")
        }
      }
    case ShowTables(s) =>
      if (useSchema(s)) {
        val got = rows(run("show tables")).map(_.head.toString).toSet
        val want = mTables.keys.collect { case (`s`, t) => t }.toSet
        assert(got == want, s"$ctx: engine $got vs model $want")
      }
  }

  private val NumSequences = 1000

  test(s"$NumSequences random statement sequences agree with the model " +
      "on counts, results, catalog state and error codes") {
    var nOps = 0
    (0 until NumSequences).foreach { i =>
      val len = 2 + (i % 3) // 2..4 ops per sequence
      val ops = Gen.listOfN(len, genOp)
        .apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(Nil)
      ops.zipWithIndex.foreach { case (op, j) =>
        exec(op, s"seq $i op $j: $op")
        nOps += 1
      }
    }
    assert(nOps >= 2 * NumSequences, s"only $nOps ops generated")
    // final deep sweep: every surviving model table matches the engine
    mTables.foreach { case ((s, t), m) =>
      assert(useSchema(s))
      assert(rows(run(s"select count(*) from $t")) ==
        Seq(Seq(m.size.toLong)), s"final sweep $s.$t")
      val all = rows(run(s"select id, v from $t order by id"))
        .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      assert(all == m.toSeq.sortBy(_._1), s"final sweep rows $s.$t")
    }
  }

  test("unique-key ODKU fuzz: any-index resolution agrees with " +
      "MySQL's sequential model at every step") {
    assert(affected(run("create schema odkufz"), "ddl") == 1L)
    assert(run("use odkufz").isRight)
    affected(run("create table tu (id int, u int, v int, " +
      "PRIMARY KEY(id), UNIQUE KEY uu (u))"), "ddl")
    // model: id -> (u, v); resolution order PRIMARY then uu, MySQL's
    val m = mutable.LinkedHashMap.empty[Long, (Long, Long)]
    val genRow = Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 5L),
      Gen.chooseNum(0L, 99L), Gen.oneOf(false, true))
    (0 until 400).foreach { i =>
      val (k, u, v, setU) = genRow
        .apply(Gen.Parameters.default, Seed(9000L + i))
        .getOrElse((0L, 0L, 0L, false))
      val ctx = s"odku-fuzz step $i: k=$k u=$u v=$v setU=$setU"
      val assigns =
        if (setU) "u = VALUES(u), v = VALUES(v)" else "v = VALUES(v)"
      val st = s"insert into tu values ($k, $u, $v) " +
        s"on duplicate key update $assigns"
      // sequential-model resolution: PK first, then the unique key
      val targetId: Option[Long] =
        if (m.contains(k)) Some(k)
        else m.find { case (_, (mu, _)) => mu == u }.map(_._1)
      targetId match {
        case None =>
          // fresh on every index: plain insert
          assert(affected(run(st), ctx) == 1L, ctx)
          m(k) = (u, v)
        case Some(tid) =>
          val (ou, ov) = m(tid)
          val (nu, nv) = if (setU) (u, v) else (ou, v)
          // the assignment may SET u onto ANOTHER row's unique value
          val collides = m.exists { case (id, (mu, _)) =>
            id != tid && mu == nu
          }
          if (collides) {
            assert(run(st) == Left(1062), ctx)
          } else {
            val expected = if ((nu, nv) == (ou, ov)) 0L else 2L
            assert(affected(run(st), ctx) == expected, ctx)
            m(tid) = (nu, nv)
          }
      }
      if (i % 40 == 0) {
        val all = rows(run("select id, u, v from tu order by id"))
          .map(r => (r(0).asInstanceOf[Long],
            (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])))
        assert(all == m.toSeq.sortBy(_._1), s"$ctx: table sweep")
      }
    }
    val all = rows(run("select id, u, v from tu order by id"))
      .map(r => (r(0).asInstanceOf[Long],
        (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long])))
    assert(all == m.toSeq.sortBy(_._1), "final odku-fuzz sweep")
  }
}

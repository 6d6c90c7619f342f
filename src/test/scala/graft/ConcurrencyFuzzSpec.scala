package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import graft.engine.{AffectedRows, GraftEngine, GraftException, GraftResult, ResultSet}

/** Concurrent-session fuzz: the read/write-lock contract
  * (GraftEngine.sqlAs scaladoc) under real thread interleavings.
  * EngineFuzzSpec drives ONE session; here 2–3 sessions run
  * simultaneously and the serializability claims are checked two
  * ways:
  *
  *  1. Disjoint-table fuzz — three sessions, each with a private
  *     table (two of them share the table NAME across different
  *     schemas, so any current-schema leak between threads lands an
  *     op on the wrong table and breaks that thread's model), run
  *     seeded random DDL/DML/SELECT sequences concurrently. Because
  *     no two sessions touch the same table, every affected count,
  *     point/count read and pinned error code must match each
  *     session's own sequential model at every step, regardless of
  *     interleaving — that IS serializability for commuting
  *     transactions. ≥102 interleaved sequences (34 rounds × 3
  *     sessions).
  *
  *  2. Readers vs writer — one shared table, one mutating session
  *     and two reader sessions in a tight loop. Version dirs are
  *     immutable, so a read planned under the read lock reflects
  *     exactly one committed version: each reader's observed count
  *     and point value must be NON-DECREASING (the writer only adds
  *     rows / raises v) and `show tables` must always contain the
  *     stable table while an auxiliary table is dropped/recreated.
  *     A torn COW registration (half-swapped version) would show up
  *     as a count drop or a vanished row. The documented read
  *     contract — collect promptly; grace-period GC retains the
  *     newest 2 versions — makes a reader straddling ONE commit
  *     safe; straddling two is allowed to fail and is retried (and
  *     counted: a flood of retries would mean the grace window is
  *     not doing its job).
  */
class ConcurrencyFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val engine =
    new GraftEngine(spark, ScratchDirs.create("graft_cfuzz_"))

  private def run(ses: graft.engine.GraftSession,
      sqlText: String): Either[Int, GraftResult] =
    try Right(ses.sql(sqlText))
    catch { case e: GraftException => Left(e.code) }

  private def rows(r: Either[Int, GraftResult], ctx: String): Seq[Seq[Any]] =
    r match {
      case Right(ResultSet(df)) => df.collect().toSeq.map(_.toSeq)
      case other => fail(s"$ctx: expected a result set, got $other")
    }

  private def affected(r: Either[Int, GraftResult], ctx: String): Long =
    r match {
      case Right(AffectedRows(n)) => n
      case other => fail(s"$ctx: expected AffectedRows, got $other")
    }

  /** Run `body` in `n` named threads at once (latch-released so they
    * genuinely overlap), propagating the first failure. */
  private def inParallel(n: Int)(body: Int => Unit): Unit = {
    val start = new CountDownLatch(1)
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map { i =>
      new Thread(() => {
        start.await()
        try body(i) catch { case t: Throwable => errs.add(t) }
      }, s"cfuzz-$i")
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  // ---- part 1: disjoint-table concurrent fuzz ----------------------

  private sealed trait Op
  private case object Create extends Op
  private case object Drop extends Op
  private case class Insert(k: Long, v: Long) extends Op
  private case class Upsert(k: Long, v: Long) extends Op
  private case class Update(k: Long, v: Long) extends Op
  private case class Delete(k: Long) extends Op
  private case object Count extends Op
  private case class Point(k: Long) extends Op

  private val genK = Gen.chooseNum(0L, 5L)
  private val genV = Gen.chooseNum(0L, 9999L)
  private val genOp: Gen[Op] = Gen.frequency(
    2 -> Gen.const(Create),
    1 -> Gen.const(Drop),
    4 -> Gen.zip(genK, genV).map { case (k, v) => Insert(k, v) },
    2 -> Gen.zip(genK, genV).map { case (k, v) => Upsert(k, v) },
    2 -> Gen.zip(genK, genV).map { case (k, v) => Update(k, v) },
    2 -> genK.map(Delete),
    3 -> Gen.const(Count),
    3 -> genK.map(Point))

  /** One session's private world: its schema, its table, its model.
    * Only its own thread ever touches the table, so the model is
    * exact no matter how the three threads interleave. */
  private final class World(val schema: String, val table: String) {
    var exists = false
    val m = mutable.Map.empty[Long, Long]
  }

  private def exec(ses: graft.engine.GraftSession, w: World, op: Op,
      ctx: String): Unit = op match {
    case Create =>
      val ddl = s"create table ${w.table} (id int, v int, PRIMARY KEY(id))"
      if (w.exists) assert(run(ses, ddl) == Left(1050), ctx)
      else { affected(run(ses, ddl), ctx); w.exists = true }
    case Drop =>
      if (!w.exists)
        assert(run(ses, s"drop table ${w.table}") == Left(1051), ctx)
      else {
        affected(run(ses, s"drop table ${w.table}"), ctx)
        w.exists = false; w.m.clear()
      }
    case Insert(k, v) =>
      val ins = s"insert into ${w.table} values ($k, $v)"
      if (!w.exists) assert(run(ses, ins) == Left(1146), ctx)
      else if (w.m.contains(k)) assert(run(ses, ins) == Left(1062), ctx)
      else { assert(affected(run(ses, ins), ctx) == 1L, ctx); w.m(k) = v }
    case Upsert(k, v) =>
      val ins = s"insert overwrite into ${w.table} values ($k, $v)"
      if (!w.exists) assert(run(ses, ins) == Left(1146), ctx)
      else { assert(affected(run(ses, ins), ctx) == 1L, ctx); w.m(k) = v }
    case Update(k, v) =>
      val upd = s"update ${w.table} set v = $v where id = $k"
      if (!w.exists) assert(run(ses, upd) == Left(1146), ctx)
      else {
        val want = if (w.m.contains(k)) 1L else 0L
        assert(affected(run(ses, upd), ctx) == want, ctx)
        if (w.m.contains(k)) w.m(k) = v
      }
    case Delete(k) =>
      val del = s"delete from ${w.table} where id = $k"
      if (!w.exists) assert(run(ses, del) == Left(1146), ctx)
      else {
        val want = if (w.m.contains(k)) 1L else 0L
        assert(affected(run(ses, del), ctx) == want, ctx)
        w.m -= k
      }
    case Count =>
      val q = s"select count(*) from ${w.table}"
      if (!w.exists) assert(run(ses, q) == Left(1146), ctx)
      else assert(rows(run(ses, q), ctx) == Seq(Seq(w.m.size.toLong)), ctx)
    case Point(k) =>
      val q = s"select v from ${w.table} where id = $k"
      if (!w.exists) assert(run(ses, q) == Left(1146), ctx)
      else {
        val got = rows(run(ses, q), ctx).map(_.head)
        assert(got == w.m.get(k).toSeq, s"$ctx: got $got want ${w.m.get(k)}")
      }
  }

  private val Rounds = 34 // × 3 sessions = 102 interleaved sequences
  private val SeqLen = 5

  test(s"${Rounds * 3} interleaved sequences from 3 concurrent sessions " +
      "on disjoint tables all match their sequential models") {
    engine.sql("create schema cs0")
    engine.sql("create schema cs1")
    // sid 0 and 1 share the table NAME across schemas: a leaked
    // current schema between threads redirects an op and breaks a model
    val worlds = Array(new World("cs0", "tc"), new World("cs1", "tc"),
      new World("cs0", "tc2"))
    (0 until Rounds).foreach { round =>
      inParallel(3) { sid =>
        val w = worlds(sid)
        val ses = engine.newSession()
        assert(run(ses, s"use ${w.schema}").isRight)
        val ops = Gen.listOfN(SeqLen, genOp)
          .apply(Gen.Parameters.default, Seed(round.toLong * 31 + sid))
          .getOrElse(Nil)
        ops.zipWithIndex.foreach { case (op, j) =>
          exec(ses, w, op, s"round $round sid $sid op $j: $op")
        }
      }
    }
    // final sweep from a fresh session: catalog agrees with the union
    // of the three models
    val ses = engine.newSession()
    worlds.zipWithIndex.foreach { case (w, sid) =>
      assert(run(ses, s"use ${w.schema}").isRight)
      if (w.exists) {
        val all = rows(run(ses, s"select id, v from ${w.table} order by id"),
          s"sweep sid $sid").map(r =>
          (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
        assert(all == w.m.toSeq.sortBy(_._1), s"sweep sid $sid")
      }
    }
    Seq("cs0", "cs1").foreach { s =>
      assert(run(ses, s"use $s").isRight)
      val got = rows(run(ses, "show tables"), s"sweep $s")
        .map(_.head.toString).toSet
      val want = worlds.filter(w => w.schema == s && w.exists)
        .map(_.table).toSet
      assert(got == want, s"sweep $s: engine $got vs model $want")
    }
  }

  // ---- part 2: readers vs writer on a shared table -----------------

  private val WriterSteps = 36

  test("2 reader sessions observe only committed, monotonic states " +
      "while a writer session mutates and churns DDL") {
    engine.sql("create schema rw")
    val w = engine.newSession()
    assert(run(w, "use rw").isRight)
    affected(run(w, "create table sh (id int, v int, PRIMARY KEY(id))"), "ddl")
    assert(affected(run(w, "insert into sh values (0, 0)"), "seed") == 1L)

    val done = new AtomicBoolean(false)
    val retries = new AtomicInteger(0)
    val reads = new AtomicInteger(0)
    var inserted = 0L
    var lastV = 0L

    inParallel(3) {
      case 0 => // writer: count and v(0) only ever grow; aux churns
        try {
          (1 to WriterSteps).foreach { i =>
            if (i % 6 == 0)
              assert(affected(run(w, s"update sh set v = $i where id = 0"),
                s"w upd $i") == 1L)
            else if (i % 6 == 3) {
              // DDL churn readers must never half-see
              affected(run(w, "create table aux (id int, PRIMARY KEY(id))"),
                s"w aux+ $i")
              affected(run(w, "drop table aux"), s"w aux- $i")
            } else
              assert(affected(run(w, s"insert into sh values ($i, $i)"),
                s"w ins $i") == 1L)
          }
          inserted = (1 to WriterSteps)
            .count(i => i % 6 != 0 && i % 6 != 3).toLong
          lastV = (1 to WriterSteps).filter(_ % 6 == 0).max.toLong
        } finally done.set(true)
      case rid => // two readers
        val ses = engine.newSession()
        assert(run(ses, "use rw").isRight)
        var seenCount = -1L
        var seenV = -1L
        while (!done.get()) {
          // a read straddling TWO commits may lose its version dir
          // (documented grace window) — retry it, count it; all
          // ASSERTIONS happen on successfully collected results only
          val got: Option[(Long, Long, Set[String])] =
            try {
              val c = rows(run(ses, "select count(*) from sh"), s"r$rid c")
                .head.head.asInstanceOf[Long]
              val v = rows(run(ses, "select v from sh where id = 0"),
                s"r$rid v").head.head.asInstanceOf[Long]
              val ts = rows(run(ses, "show tables"), s"r$rid st")
                .map(_.head.toString).toSet
              Some((c, v, ts))
            } catch {
              case _: org.scalatest.exceptions.TestFailedException => throw
                new IllegalStateException("reader saw a wrong-shape result")
              case _: Exception => retries.incrementAndGet(); None
            }
          got.foreach { case (c, v, ts) =>
            reads.incrementAndGet()
            assert(c >= seenCount, s"r$rid count dropped: $seenCount -> $c")
            assert(v >= seenV, s"r$rid v(0) dropped: $seenV -> $v")
            assert(ts.contains("sh"), s"r$rid lost table sh: $ts")
            assert(ts.subsetOf(Set("sh", "aux")), s"r$rid phantom: $ts")
            seenCount = c; seenV = v
          }
        }
    }
    // final state agrees with the writer's sequential model
    assert(rows(run(w, "select count(*) from sh"), "fin c") ==
      Seq(Seq(inserted + 1)))
    assert(rows(run(w, "select v from sh where id = 0"), "fin v") ==
      Seq(Seq(lastV)))
    assert(reads.get() > 0, "readers never completed a single read")
    // the grace window must absorb nearly every plan/collect straddle
    assert(retries.get() <= math.max(5, reads.get() / 4),
      s"${retries.get()} retries vs ${reads.get()} reads — grace-period " +
        "version GC is not protecting in-flight readers")
  }

  // ---- part 3: time-travel snapshots vs a concurrent writer --------

  test("pinned VERSION AS OF reads are immutable under concurrent commits") {
    // With retention raised every INSERT is a version commit; a
    // snapshot read pinned to version v must return v's exact count
    // forever, no matter how many commits land while it runs — the
    // stronger sibling of part 2's non-decreasing live reads.
    val e = new GraftEngine(spark,
      ScratchDirs.create("graft_ttc_"),
      initialRetention = 40)
    e.sql("create schema snap")
    val committed = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    inParallel(3) { i =>
      val ses = e.newSession()
      ses.sql("use snap")
      if (i == 0) {
        try {
          ses.sql("create table t (id int, PRIMARY KEY(id))")
          (1 to 20).foreach { n =>
            ses.sql(s"insert into t values ($n)")
            committed.put(n.toLong, n.toLong) // version n holds n rows
          }
        } finally done.set(true)
      } else {
        val rnd = new scala.util.Random(1000 + i)
        var checked = 0
        while (!done.get() || checked == 0) {
          val keys = committed.keySet().toArray(Array.empty[java.lang.Long])
          if (keys.nonEmpty) {
            val v = keys(rnd.nextInt(keys.length)).longValue
            val c = rows(run(ses, s"select count(*) from t version as of $v"),
              s"snap r$i").head.head.asInstanceOf[Long]
            assert(c == committed.get(v),
              s"snapshot v$v changed: expected ${committed.get(v)}, got $c")
            checked += 1; reads.incrementAndGet()
          }
        }
      }
    }
    assert(reads.get() > 0, "no pinned-snapshot read ever completed")
    // all 20 versions remain readable afterwards with exact counts
    (1 to 20).foreach { n =>
      assert(e.tableAsOf("snap.t", n).count() == n.toLong)
    }
  }

  test("txn catalog deferral stays consistent under a concurrent autocommit flusher") {
    // session A defers its catalog writes inside BEGIN…COMMIT while
    // session B's autocommit mutations flush the WHOLE catalog
    // (including A's in-flight pointers) mid-transaction — the
    // documented opportunistic-early-flush interleaving. Both
    // sessions' final images must match their sequential models, and
    // a FRESH engine over the same warehouse (catalog + reconcile
    // path) must load exactly the committed state.
    val dir = ScratchDirs.create("graft_cfz_txn_")
    val eng = new GraftEngine(spark, dir)
    eng.sql("create schema cz")
    val a = eng.newSession(); val b = eng.newSession()
    a.sql("use cz"); b.sql("use cz")
    a.sql("create table ta (id int, v int, PRIMARY KEY(id))")
    a.sql("insert into ta values (1, 0)")
    b.sql("create table tb (id int, v int, PRIMARY KEY(id))")
    b.sql("insert into tb values (1, 0)")
    val rounds = 18
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val start = new CountDownLatch(1)
    def worker(body: => Unit) = new Thread(() => {
      start.await()
      try body catch { case t: Throwable => errs.add(t) }
    })
    val ta = worker {
      (1 to rounds).foreach { r =>
        a.sql("begin")
        a.sql(s"update ta set v = $r where id = 1")
        a.sql(s"insert into ta values (${100 + r}, $r)")
        if (r % 3 == 0) a.sql("rollback") else a.sql("commit")
      }
    }
    val tb = worker {
      (1 to rounds).foreach { r =>
        b.sql(s"update tb set v = $r where id = 1")
        b.sql(s"replace into tb values (${200 + r}, $r)")
      }
    }
    ta.start(); tb.start(); start.countDown()
    ta.join(300000); tb.join(300000)
    assert(errs.isEmpty, s"worker errors: ${errs.toArray.toSeq}")
    val committed = (1 to rounds).filter(_ % 3 != 0)
    def check(e: GraftEngine): Unit = {
      def one(q: String): Long = e.query(q).collect().head.getLong(0)
      assert(one("select count(*) as c from cz.ta") ==
        1L + committed.size)
      assert(one("select cast(v as bigint) as v from cz.ta where id = 1") ==
        committed.max.toLong)
      // rolled-back inserts are gone; committed ones present
      assert(one(s"select count(*) as c from cz.ta where id > 100") ==
        committed.size.toLong)
      assert(one("select count(*) as c from cz.tb") == 1L + rounds)
      assert(one("select cast(v as bigint) as v from cz.tb where id = 1") ==
        rounds.toLong)
    }
    check(eng)
    check(new GraftEngine(spark, dir)) // reload through the catalog
  }
}

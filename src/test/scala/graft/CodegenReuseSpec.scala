package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine
import graft.plans.BoundLiteral
import graft.wire.{MysqlServer, TextClient}

/** Wire reads compile code once per statement shape. A file scan's
  * filter constants are bound outside the generated code
  * (`graft.plans.BindFilterLiterals`), and the wire decodes rows with
  * no encoder, so a statement that differs from an earlier one only
  * in its constants compiles nothing. The scan's pushed filters keep
  * their literals, and every comparison answers as it does in a
  * session without the engine's strategies.
  */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 2000
  private val M = 1000
  private lazy val wh = ScratchDirs.create("graft_codegen_reuse_")
  private lazy val eng = new GraftEngine(spark, wh)
  private lazy val srv = new MysqlServer(eng)
  private lazy val client = new TextClient("127.0.0.1", srv.boundPort)

  override def beforeAll(): Unit = {
    eng.sql("create schema cr")
    eng.sql("use cr")
    eng.sql("create table acct (id int, grp int, amount float, tag char, PRIMARY KEY(id))")
    eng.sql("create table kv (k int, v char) using kv")
    spark.range(1, N + 1, 1, 1).selectExpr("id", "id % 50 as grp",
      "cast(id % 997 as double) as amount", "concat('t', id % 100) as tag")
      .write.parquet(s"$wh/src_acct")
    spark.range(1, M + 1, 1, 1).selectExpr("id as k", "concat('v', id) as v")
      .write.parquet(s"$wh/src_kv")
    eng.sql(s"insert into acct select id, grp, amount, tag from parquet.`$wh/src_acct`")
    eng.sql(s"insert into kv select k, v from parquet.`$wh/src_kv`")
    client.query("use cr")
  }

  override def afterAll(): Unit = {
    client.close()
    srv.close()
    spark.stop()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def amount(id: Int): Double = (id % 997).toDouble

  /** The wire_read statement shapes, each with its answer, for one
    * draw of constants. */
  private def shapes(x: Int): Seq[(String, String, Seq[Seq[Option[String]]])] = {
    val g = x % 50
    val a = x % (N - 100)
    val inGroup = (1 to N).filter(_ % 50 == g)
    Seq(
      ("cow_point", s"select id, grp, amount, tag from acct where id = $x",
        Seq(Seq(x.toString, g.toString, amount(x).toString, s"t${x % 100}"))),
      ("agg", s"select grp, count(*), sum(amount) from acct where grp < ${g + 1} " +
        "group by grp order by grp",
        (0 to g).map { i =>
          val ids = (1 to N).filter(_ % 50 == i)
          Seq(i.toString, ids.size.toString, ids.map(amount).sum.toString)
        }),
      ("join", "select a.grp, count(*), sum(a.amount) from acct a join kv k " +
        s"on a.id = k.k where a.grp = $g group by a.grp", {
        val ids = inGroup.filter(_ <= M)
        Seq(Seq(g.toString, ids.size.toString, ids.map(amount).sum.toString))
      }),
      ("wide", s"select id, grp, amount, tag from acct where id > $a and id <= ${a + 100} " +
        "order by id",
        (a + 1 to a + 100).map(i =>
          Seq(i.toString, (i % 50).toString, amount(i).toString, s"t${i % 100}"))))
      .map { case (name, sql, rows) => (name, sql, rows.map(_.map(Option(_)))) }
  }

  test("after one statement per shape, 20 more per shape with fresh " +
    "constants compile no code") {
    shapes(7).foreach { case (name, sql, want) =>
      assert(client.query(sql)._2 == want, name)
    }
    val before = compiles
    (1 to 20).foreach { i =>
      shapes(17 + 37 * i).foreach { case (name, sql, want) =>
        assert(client.query(sql)._2 == want, s"$name: $sql")
      }
    }
    assert(compiles - before == 0,
      s"80 statements of 4 seen shapes compiled ${compiles - before} classes")
  }

  test("the COW point read still pushes its key into the parquet scan") {
    val plan = eng.query("select id, grp, amount, tag from acct where id = 4711")
      .queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan in\n$plan"))
    assert(scan.metadata("PushedFilters").contains("EqualTo(id,4711)"),
      scan.metadata("PushedFilters"))
    assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[BoundLiteral])))
    val filter = plan.collectFirst { case f: FilterExec => f }
      .getOrElse(fail(s"no filter in\n$plan"))
    assert(filter.condition.exists(_ == BoundLiteral(4711L,
      org.apache.spark.sql.types.LongType)), filter.condition)
  }

  test("bound constants compare as literals do: extremes, negatives, " +
    "NaN, signed zero, <=>, dates and IN lists") {
    val src = s"$wh/edges"
    val rows = Seq(
      Row(Int.MinValue, Long.MinValue, Double.NaN, java.sql.Date.valueOf("1969-12-31"), "a"),
      Row(Int.MaxValue, Long.MaxValue, -0.0, java.sql.Date.valueOf("2020-02-29"), "b"),
      Row(-7, -7L, 0.0, java.sql.Date.valueOf("2020-03-01"), "c"),
      Row(0, 0L, 1.5, java.sql.Date.valueOf("1970-01-01"), "d"),
      Row(3, 3L, Double.PositiveInfinity, null, null),
      Row(null, null, null, null, "f"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "i int, l bigint, d double, dt date, s string")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(src)
    val plain = spark.newSession()
    Seq(
      "i = 2147483647", "i = -2147483648", "i < -5", "i >= -7",
      "l = 9223372036854775807", "l = -9223372036854775808", "l > -8", "l <= -7",
      "d = cast('NaN' as double)", "d > 1.0", "d = cast('-0.0' as double)", "d = 0.0",
      "d < cast('Infinity' as double)",
      "i <=> 3", "i <=> -7", "s <=> 'f'", "not (i <=> 0)",
      "dt > date'2020-01-01'", "dt = date'1969-12-31'", "dt <= date'1970-01-01'",
      "i in (-7, 3, 2147483647)", "l in (-9223372036854775808, 0)",
      "d in (cast('NaN' as double), 0.0)", "s in ('a', 'c')",
      "i not in (0, 3)"
    ).foreach { cond =>
      val sql = s"select i, l, d, dt, s from parquet.`$src` where $cond"
      val df = spark.sql(sql)
      val filters = df.queryExecution.executedPlan.collect { case f: FilterExec => f }
      assert(filters.exists(_.condition.exists(_.isInstanceOf[BoundLiteral])),
        s"`$cond` bound no constant: ${filters.map(_.condition)}")
      val got = df.collect().map(_.toString).sorted.toSeq
      val want = plain.sql(sql).collect().map(_.toString).sorted.toSeq
      assert(got == want, cond)
    }
  }
}

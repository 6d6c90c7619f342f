package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine._

/** End-to-end engine tests mirroring the reference's golden suite
  * (`/root/reference/src/test/base_sql.rs`): same setup sequence
  * (create schema test; use test; create table user …), same
  * expected results, plus constraint/error-code coverage the
  * reference leaves untested.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshEngine(): GraftEngine = {
    val dir = ScratchDirs.create("graft_wh_")
    new GraftEngine(spark, dir)
  }

  lazy val eng: GraftEngine = {
    val e = freshEngine()
    assert(e.sql("create schema test") == AffectedRows(1))
    assert(e.sql("use test") == AffectedRows(1))
    e
  }

  override def afterAll(): Unit = spark.stop()

  private def rows(r: GraftResult): Seq[Seq[Any]] = r match {
    case ResultSet(df) => df.collect().toSeq.map(_.toSeq)
    case AffectedRows(n) => fail(s"expected rows, got count $n")
  }

  // ---- base_sql.rs::show_databases golden (:13-31)
  test("show databases lists bootstrap schemas") {
    val e = freshEngine()
    assert(rows(e.sql("show databases")).map(_.head) ==
      Seq("mysql", "performance_schema"))
  }

  // ---- base_sql.rs::show_tables golden (:36-88)
  test("create table + show tables") {
    assert(eng.sql(
      "create table user (id int, name char, PRIMARY KEY(id, name))") ==
      AffectedRows(1))
    assert(eng.sql(
      "create table user1 (id int, name char, PRIMARY KEY(id, name))") ==
      AffectedRows(1))
    val r = rows(eng.sql("show tables"))
    assert(r.map(_.head) == Seq("user", "user1"))
  }

  // ---- base_sql.rs::insert_into golden (:95-150)
  test("insert + select * hides rowid") {
    eng.sql("delete from user")
    assert(eng.sql("insert into user values (1, 'lucy')") == AffectedRows(1))
    val r = rows(eng.sql("select * from user"))
    assert(r == Seq(Seq(1L, "lucy")))
    // rowid exists when explicitly projected
    val rid = rows(eng.sql("select rowid from user"))
    assert(rid.size == 1 && rid.head.head.asInstanceOf[String].length == 32)
  }

  // ---- base_sql.rs::delete_from golden (:153-227)
  test("delete from + count(*) = 0") {
    val e = freshEngine()
    e.sql("create schema t_del"); e.sql("use t_del")
    e.sql("create table user (id int, name char, PRIMARY KEY(id, name))")
    assert(e.sql("insert into user values (1, 'lucy')") == AffectedRows(1))
    assert(e.sql("delete from user") == AffectedRows(1))
    assert(rows(e.sql("select count(*) from user")) == Seq(Seq(0L)))
  }

  // ---- base_sql.rs::show_create_table golden (:236-271)
  test("show create table reconstructs reference-format DDL") {
    val e = freshEngine()
    e.sql("create schema t_sct"); e.sql("use t_sct")
    e.sql("create table user (id int, name char, stature float, PRIMARY KEY(id, name))")
    val r = rows(e.sql("show create table user"))
    assert(r == Seq(Seq("user",
      "CREATE TABLE user (id INT CONSTRAINT nullable NOT NULL, " +
        "name CHAR CONSTRAINT nullable NOT NULL, " +
        "stature FLOAT CONSTRAINT nullable NOT NULL, " +
        "CONSTRAINT PRIMARY PRIMARY KEY (id, name))")))
  }

  test("duplicate primary key rejected with 1062") {
    eng.sql("create table dup1 (id int, name char, PRIMARY KEY(id))")
    eng.sql("insert into dup1 values (1, 'a')")
    val ex = intercept[GraftException] {
      eng.sql("insert into dup1 values (1, 'b')")
    }
    assert(ex.code == 1062)
    // intra-batch duplicates too
    val ex2 = intercept[GraftException] {
      eng.sql("insert into dup1 values (2, 'x'), (2, 'y')")
    }
    assert(ex2.code == 1062)
    // non-conflicting insert fine
    assert(eng.sql("insert into dup1 values (2, 'c'), (3, 'd')") == AffectedRows(2))
  }

  test("insert overwrite upserts instead of raising 1062") {
    eng.sql("create table ow (id int, name char, PRIMARY KEY(id))")
    eng.sql("insert into ow values (1, 'a'), (2, 'b')")
    assert(eng.sql("insert overwrite into ow values (1, 'z')") == AffectedRows(1))
    assert(rows(eng.sql("select id, name from ow order by id")) ==
      Seq(Seq(1L, "z"), Seq(2L, "b")))
  }

  test("update is query-then-mutate with matched count") {
    eng.sql("create table upd (id int, name char, bal float, PRIMARY KEY(id))")
    eng.sql("insert into upd values (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)")
    assert(eng.sql("update upd set bal = bal + 1, name = upper(name) where id <= 2") ==
      AffectedRows(2))
    assert(rows(eng.sql("select id, name, bal from upd order by id")) ==
      Seq(Seq(1L, "A", 11.0), Seq(2L, "B", 21.0), Seq(3L, "c", 30.0)))
  }

  test("delete with predicate") {
    eng.sql("create table del (id int, name char, PRIMARY KEY(id))")
    eng.sql("insert into del values (1, 'a'), (2, 'b'), (3, 'c')")
    assert(eng.sql("delete from del where id > 1") == AffectedRows(2))
    assert(rows(eng.sql("select id from del")) == Seq(Seq(1L)))
  }

  test("alter table add/drop column — existing rows read NULL") {
    eng.sql("create table alt (id int, PRIMARY KEY(id))")
    eng.sql("insert into alt values (1)")
    eng.sql("alter table alt add column note char")
    assert(rows(eng.sql("select id, note from alt")) == Seq(Seq(1L, null)))
    eng.sql("insert into alt values (2, 'hello')")
    assert(rows(eng.sql("select id, note from alt order by id")) ==
      Seq(Seq(1L, null), Seq(2L, "hello")))
    eng.sql("alter table alt drop column note")
    assert(rows(eng.sql("select * from alt order by id")) ==
      Seq(Seq(1L), Seq(2L)))
  }

  test("error codes: 1046, 1049, 1050, 1051, 1007, 1146") {
    val e = freshEngine()
    assert(intercept[GraftException](e.sql("create table t (id int)")).code == 1046)
    assert(intercept[GraftException](e.sql("use nope")).code == 1049)
    assert(intercept[GraftException](e.sql("drop schema nope")).code == 1049)
    e.sql("create schema s1")
    assert(intercept[GraftException](e.sql("create schema s1")).code == 1007)
    e.sql("use s1")
    e.sql("create table t (id int)")
    assert(intercept[GraftException](e.sql("create table t (id int)")).code == 1050)
    assert(intercept[GraftException](e.sql("drop table t2")).code == 1051)
    assert(intercept[GraftException](e.sql("select * from missing")).code == 1146)
  }

  test("select database(), dual, and @@variables") {
    assert(rows(eng.sql("select database()")) == Seq(Seq("test")))
    assert(rows(eng.sql("select 1 + 1 from dual")) == Seq(Seq(2)))
    assert(rows(eng.sql("select @@lower_case_table_names")) == Seq(Seq("1")))
    assert(rows(eng.sql("select @@session.transaction_isolation")) ==
      Seq(Seq("REPEATABLE-READ")))
    // unknown var: "<version>-<name>" (variable/system.rs:41-66)
    assert(rows(eng.sql("select @@nosuchvar")) ==
      Seq(Seq("ebikespark-0.1.0-nosuchvar")))
    assert(rows(eng.sql("select @myvar")) ==
      Seq(Seq("user-defined-var-myvar")))
  }

  test("show variables / columns / table status / engines") {
    val v = rows(eng.sql("show variables like 'lower%'"))
    assert(v == Seq(Seq("lower_case_table_names", "1")))
    eng.sql("create table sc (id int, name char null, PRIMARY KEY(id))")
    val c = rows(eng.sql("show columns from sc"))
    assert(c == Seq(
      Seq("id", "int", "NO", "PRI", "NULL", ""),
      Seq("name", "char", "YES", "", "NULL", "")))
    assert(rows(eng.sql("show engines")).head.head == "Parquet")
    assert(rows(eng.sql("show table status")).nonEmpty)
  }

  test("information_schema is queryable via plain SQL") {
    val r = rows(eng.sql(
      """select table_name from information_schema.tables
        |where table_schema = 'test' and table_name like 'user%'
        |order by table_name""".stripMargin))
    assert(r.map(_.head).contains("user"))
    val k = rows(eng.sql(
      """select column_name from information_schema.key_column_usage
        |where table_schema = 'test' and table_name = 'user'
        |order by ordinal_position""".stripMargin))
    assert(k.map(_.head) == Seq("id", "name"))
  }

  test("set / commit are no-ops; explain returns a plan") {
    assert(eng.sql("set autocommit = 1") == AffectedRows(0))
    assert(eng.sql("SET NAMES utf8mb4") == AffectedRows(0))
    assert(eng.sql("commit") == AffectedRows(0))
    val p = rows(eng.sql("explain select 1"))
    assert(p.nonEmpty && p.head.size == 2)
  }

  test("prepared statements substitute parameters") {
    eng.sql("create table ps (id int, name char, PRIMARY KEY(id))")
    val id = eng.prepare("insert into ps values (?, ?)")
    assert(eng.executePrepared(id, Seq(7, "x'y")) == AffectedRows(1))
    val q = eng.prepare("select name from ps where id = ?")
    assert(rows(eng.executePrepared(q, Seq(7))) == Seq(Seq("x'y")))
    eng.closePrepared(id)
  }

  test("insert ... select inserts the query result (reference silently no-ops)") {
    eng.sql("create table is1 (id int, name char, PRIMARY KEY(id))")
    eng.sql("create table is2 (id int, name char, PRIMARY KEY(id))")
    eng.sql("insert into is1 values (1, 'a'), (2, 'b'), (3, 'c')")
    assert(eng.sql("insert into is2 select id + 10, upper(name) from is1 where id <= 2") ==
      AffectedRows(2))
    assert(rows(eng.sql("select id, name from is2 order by id")) ==
      Seq(Seq(11L, "A"), Seq(12L, "B")))
    // constraints still enforced on the SELECT source
    val ex = intercept[GraftException](
      eng.sql("insert into is2 select id + 10, name from is1 where id = 1"))
    assert(ex.code == 1062)
    // self-insert reads the pre-image
    assert(eng.sql("insert into is2 select id + 100, name from is2") ==
      AffectedRows(2))
    assert(rows(eng.sql("select count(*) from is2")) == Seq(Seq(4L)))
    // column-count mismatch is a clear 1136
    val ex2 = intercept[GraftException](
      eng.sql("insert into is2 select id from is1"))
    assert(ex2.code == 1136)
  }

  test("external tables: query pre-existing parquet, read-only") {
    eng.sql("create external table li USING PARQUET LOCATION '/root/testdata/sf0.001/lineitem.parquet'")
    eng.sql("create external table ord location '/root/testdata/sf0.001/orders.parquet'")
    val n = rows(eng.sql("select count(*) as n from li")).head.head
    assert(n == 6000L)
    // joins between external tables plan through Spark as usual
    val j = rows(eng.sql(
      """select count(*) as n from li join ord on l_orderkey = o_orderkey
        |where o_orderstatus = 'F'""".stripMargin)).head.head
    assert(j.asInstanceOf[Long] > 0L)
    // DML refused
    val ex = intercept[GraftException](
      eng.sql("delete from li where l_orderkey = 1"))
    assert(ex.code == 1105 && ex.msg.contains("read-only"))
    // SHOW CREATE reflects externality; DROP leaves the files alone
    assert(rows(eng.sql("show create table li")).head(1).toString
      .contains("EXTERNAL"))
    eng.sql("drop table li")
    assert(new java.io.File("/root/testdata/sf0.001/lineitem.parquet").exists())
  }

  test("external KV tables: statement surface reaches the V2 range-pushdown scan") {
    // the reference's KV store IS its table store (reader_util.rs:
    // 263-415 get_seek_prefix): predicates on the key must become an
    // index range scan, not a full scan + filter — now reachable
    // through the engine statement surface via USING kv
    val dir = ScratchDirs.create("gkv_ext")
    graft.sources.KvSegment.appendSegment(dir,
      (0L until 1000L).map(i => i -> s"v$i"))
    graft.sources.KvSegment.appendSegment(dir,
      (500L until 600L).map(i => i -> s"w$i")) // newest wins on overlap
    eng.sql(s"create external table kvt USING kv LOCATION '$dir'")
    // range query: values from both segments, newest-wins on overlap
    val r = rows(eng.sql(
      "select k, v from kvt where k >= 498 and k <= 502 order by k"))
    assert(r == Seq(Seq(498L, "v498"), Seq(499L, "v499"),
      Seq(500L, "w500"), Seq(501L, "w501"), Seq(502L, "w502")))
    // the plan must show the pushed key range on the KV scan
    val plan = rows(eng.sql(
      "explain select k, v from kvt where k >= 498 and k <= 502"))
      .map(_.mkString(" ")).mkString("\n")
    assert(plan.contains("RangeScan") || plan.contains("PushedFilters"),
      s"no pushed range visible in plan:\n$plan")
    // aggregates on the key push into the connector too: MIN/MAX over
    // a shadowed directory answer from per-segment boundary reads (key
    // existence is newest-wins-proof); the statement surface gets the
    // index-only answer MySQL's optimizer would give
    val agg = rows(eng.sql(
      "select min(k), max(k) from kvt where k >= 498 and k <= 502"))
    assert(agg == Seq(Seq(498L, 502L)), agg.toString)
    assert(graft.sources.KvStore.lastScan(dir) == (("AggPushdown", 0L)))
    // read-only like every external table
    val ex = intercept[GraftException](
      eng.sql("insert into kvt values (1, 'x')"))
    assert(ex.msg.contains("read-only") || ex.code == 1105)
    // SHOW CREATE names the format; DROP leaves the segments alone
    assert(rows(eng.sql("show create table kvt")).head(1).toString
      .contains("KV"))
    eng.sql("drop table kvt")
    assert(graft.sources.KvSegment.listSegments(dir).nonEmpty)
  }

  test("per-connection sessions: isolated schemas and prepared caches") {
    val e = freshEngine()
    e.sql("create schema sa"); e.sql("create schema sb")
    val s1 = e.newSession(); val s2 = e.newSession()
    s1.sql("use sa"); s2.sql("use sb")
    s1.sql("create table t (id int, PRIMARY KEY(id))")
    s2.sql("create table t (id int, PRIMARY KEY(id))")
    s1.sql("insert into t values (1)")
    s2.sql("insert into t values (2)")
    assert(rows(s1.sql("select id from t")) == Seq(Seq(1L)))
    assert(rows(s2.sql("select id from t")) == Seq(Seq(2L)))
    assert(rows(s1.sql("select database()")) == Seq(Seq("sa")))
    assert(rows(s2.sql("select database()")) == Seq(Seq("sb")))
    // prepared-statement ids and caches are per-session
    val p1 = s1.prepare("select id from t where id = ?")
    val p2 = s2.prepare("select id from t where id = ?")
    assert(p1 == 1 && p2 == 1)
    assert(rows(s1.executePrepared(p1, Seq(1))) == Seq(Seq(1L)))
    assert(rows(s2.executePrepared(p2, Seq(2))) == Seq(Seq(2L)))
    s2.closePrepared(p2)
    assert(rows(s1.executePrepared(p1, Seq(1))) == Seq(Seq(1L)))
    // concurrent statements from both sessions: no cross-talk
    @volatile var problems = List.empty[String]
    def worker(s: GraftSession, expect: Long) = new Thread(() => {
      try (1 to 8).foreach { _ =>
        val got = rows(s.sql("select id from t")).map(_.head)
        if (got != Seq(expect)) problems ::= s"expected $expect got $got"
      } catch { case t: Throwable => problems ::= t.toString }
    })
    val ts = Seq(worker(s1, 1L), worker(s2, 2L))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("rowid detection is quote-aware and supports qualified tables") {
    val e = freshEngine()
    e.sql("create schema ra"); e.sql("create schema rb")
    e.sql("use ra")
    e.sql("create table t1 (id int, PRIMARY KEY(id))")
    e.sql("insert into t1 values (1)")
    // 'rowid' inside a string literal must NOT trigger the full-image read —
    // `*` stays rowid-free
    assert(rows(e.sql("select *, 'rowid' as lit from t1")) ==
      Seq(Seq(1L, "rowid")))
    // rowid on a schema-qualified table from another schema
    e.sql("use rb")
    e.sql("create table t2 (id int, PRIMARY KEY(id))")
    e.sql("insert into t2 values (9)")
    e.sql("use ra")
    val q = rows(e.sql("select rowid, id from rb.t2"))
    assert(q.size == 1 && q.head(1) == 9L)
    assert(q.head.head.asInstanceOf[String].length == 32)
    // …and bare names still resolve in the session schema
    assert(rows(e.sql("select rowid, id from t1")).head(1) == 1L)
    def rowidLen(sql: String) =
      rows(e.sql(sql)).head.head.asInstanceOf[String].length
    // backticked and qualified-uppercase names reference rowid
    assert(rowidLen("select `rowid`, id from t1") == 32)
    assert(rowidLen("select t1.ROWID, id from t1") == 32)
    // literals and longer identifiers do not: `*` stays rowid-free
    assert(rows(e.sql("select *, \"rowid\" as lit from t1")) ==
      Seq(Seq(1L, "rowid")))
    val quoted = rows(e.sql("select *, 'it''s rowid' as lit from t1"))
    assert(quoted.size == 1 && quoted.head.size == 2 && quoted.head.head == 1L)
    assert(rows(e.sql("select *, 2 as rowid2, 3 as growid from t1")) ==
      Seq(Seq(1L, 2, 3)))
    // a qualified name inside a literal is left as written
    assert(rows(e.sql("select rowid, 'rb.t2' as lit from rb.t2")).head(1) ==
      "rb.t2")
    // backticked and spaced qualified names are table references
    assert(rows(e.sql("select rowid, id from `rb`.`t2`")).head(1) == 9L)
    assert(rows(e.sql("select rowid, id from rb . t2")).head(1) == 9L)
    // a longer table name is a table of its own
    e.sql("create table rb.t2x (id int, PRIMARY KEY(id))")
    e.sql("insert into rb.t2x values (99)")
    assert(rows(e.sql("select rowid, id from rb.t2x")).head(1) == 99L)
  }

  test("DML subqueries resolve bare names in their own session's schema") {
    val e = freshEngine()
    e.sql("create schema dq1"); e.sql("create schema dq2")
    val a = e.newSession(); val b = e.newSession()
    a.sql("use dq1"); b.sql("use dq2")
    a.sql("create table t (id int, PRIMARY KEY(id))")
    a.sql("insert into t values (1), (2), (3), (4)")
    a.sql("create table u (id int, PRIMARY KEY(id))")
    a.sql("insert into u values (1), (2)")
    b.sql("create table u (id int, PRIMARY KEY(id))")
    b.sql("insert into u values (3), (4)")
    // B's read is the last statement before A's DELETE; the bare `u`
    // in A's subquery must still mean dq1.u
    assert(rows(b.sql("select count(*) from u")) == Seq(Seq(2L)))
    assert(a.sql("delete from t where id in (select id from u)") ==
      AffectedRows(2))
    assert(rows(a.sql("select id from t order by id")) ==
      Seq(Seq(3L), Seq(4L)))
    // …and so does an INSERT's SELECT
    assert(rows(b.sql("select count(*) from u")) == Seq(Seq(2L)))
    a.sql("insert into t select max(id) + 10 from u")
    assert(rows(a.sql("select id from t order by id")) ==
      Seq(Seq(3L), Seq(4L), Seq(12L)))
  }

  test("UPDATE and DELETE subqueries read engine views and VERSION AS OF") {
    val e = freshEngine()
    e.setVersionRetention(10) // every INSERT commits a version
    e.sql("create schema dv"); e.sql("use dv")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 0), (2, 0), (3, 0), (4, 0), (5, 0)")
    e.sql("create table u (id int, PRIMARY KEY(id))")
    e.sql("insert into u values (1), (2), (3)") // u v1
    e.sql("insert into u values (4)")           // u v2
    e.sql("create view vu as select id from u where id >= 2")
    def ids(sql: String) = rows(e.sql(sql)).map(_.head)
    assert(ids("select id from t where id in (select id from vu) order by id") ==
      Seq(2L, 3L, 4L))
    assert(e.sql("update t set v = 99 where id in (select id from vu)") ==
      AffectedRows(3))
    assert(ids("select id from t where v = 99 order by id") == Seq(2L, 3L, 4L))
    assert(ids("select id from t where id not in " +
      "(select id from u version as of 1) order by id") == Seq(4L, 5L))
    assert(e.sql("delete from t where id not in " +
      "(select id from u version as of 1)") == AffectedRows(2))
    assert(ids("select id from t order by id") == Seq(1L, 2L, 3L))
    assert(e.sql("delete from t where id in (select id from vu)") ==
      AffectedRows(2))
    assert(ids("select id from t order by id") == Seq(1L))
  }

  test("a condition's subquery planned as a shuffle join still finds its files") {
    val e = freshEngine()
    e.sql("create schema sj"); e.sql("use sj")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 0), (2, 0), (3, 0), (4, 0), (5, 0)")
    e.sql("create table u (id int, PRIMARY KEY(id))")
    e.sql("insert into u values (1), (2)")
    // no broadcast: each IN subquery plans as a sort-merge semi join,
    // above which input_file_name() reads ""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(e.sql("delete from t where id in (select id from u)") == AffectedRows(2))
      assert(e.sql("update t set v = 9 where id in (select id + 2 from u)") ==
        AffectedRows(2))
      assert(e.sql("merge into t using u on t.id = u.id + 4 " +
        "when matched then update set v = 7") == AffectedRows(1))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(3L, 9L), Seq(4L, 9L), Seq(5L, 7L)))
  }

  test("UPDATE and DELETE take a target alias") {
    val e = freshEngine()
    e.sql("create schema da"); e.sql("use da")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 0), (2, 0), (3, 0), (4, 0)")
    e.sql("create table u (id int, PRIMARY KEY(id))")
    e.sql("insert into u values (3)")
    assert(e.sql("update t as x set v = x.v + 7 where x.id = 1") == AffectedRows(1))
    assert(e.sql("update t set v = 5 where t.id = 2") == AffectedRows(1))
    assert(e.sql("delete from t x where x.id = 4") == AffectedRows(1))
    // the alias reaches a correlated subquery
    assert(e.sql("delete from t x where exists " +
      "(select 1 from u where u.id = x.id)") == AffectedRows(1))
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1L, 7L), Seq(2L, 5L)))
  }

  test("views, VERSION AS OF and rowid resolve inside CTE definitions and subqueries") {
    val e = freshEngine()
    e.setVersionRetention(10) // every INSERT commits a version
    e.sql("create schema tw"); e.sql("use tw")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 10), (2, 20)") // v1
    e.sql("insert into t values (3, 30)")          // v2
    e.sql("create view vw as select id, v from t where id <= 2")
    def ids(sql: String) = rows(e.sql(sql)).map(_.head)
    // a view
    assert(ids("with c as (select id from vw) select id from c order by id") ==
      Seq(1L, 2L))
    assert(ids("select id from t where id in (select id from vw) order by id") ==
      Seq(1L, 2L))
    // a VERSION AS OF read
    assert(ids("with c as (select id from t version as of 1) " +
      "select id from c order by id") == Seq(1L, 2L))
    assert(ids("select id from t where id not in " +
      "(select id from t version as of 1)") == Seq(3L))
    // a rowid reference
    assert(ids("with c as (select rowid, id from t) " +
      "select count(distinct rowid) from c") == Seq(3L))
    assert(ids("select id from t where rowid in " +
      "(select rowid from t where id = 2)") == Seq(2L))
    // a view joined to itself
    assert(rows(e.sql("select a.id, b.v from vw a join vw b on a.id = b.id " +
      "order by a.id")) == Seq(Seq(1L, 10L), Seq(2L, 20L)))
  }

  test("a path read keeps the case of its path") {
    val e = freshEngine()
    e.sql("create schema pc"); e.sql("use pc")
    e.sql("create table t (id int, name char, PRIMARY KEY(id))")
    val src = s"${ScratchDirs.create("graft_path_case_")}/Upper/Src"
    spark.range(1, 4).selectExpr("id", "concat('n', id) as name").write.parquet(src)
    assert(e.sql(s"insert into t select id, name from parquet.`$src`") == AffectedRows(3))
    assert(rows(e.sql(s"select count(*) from parquet.`$src`")) == Seq(Seq(3L)))
    assert(rows(e.sql("select id, name from t order by id")) ==
      Seq(Seq(1L, "n1"), Seq(2L, "n2"), Seq(3L, "n3")))
  }

  test("create view validates its body in the view's schema") {
    val e = freshEngine()
    e.sql("create schema pa"); e.sql("create schema pb"); e.sql("use pa")
    e.sql("create table t (id int, PRIMARY KEY(id))")
    e.sql("insert into t values (1)")
    // only pa.t exists: the body's bare `t` means pb.t, which is missing
    assert(intercept[GraftException](
      e.sql("create view pb.v as select id from t")).code == 1146)
    e.sql("create table pb.t (id int, PRIMARY KEY(id))")
    e.sql("insert into pb.t values (2), (3)")
    assert(e.sql("create view pb.v as select id from t") == AffectedRows(0))
    assert(rows(e.sql("select * from pb.v order by id")) == Seq(Seq(2L), Seq(3L)))
  }

  test("show variables where filters on name and value") {
    val v = rows(eng.sql(
      "show variables where Variable_name = 'lower_case_table_names'"))
    assert(v == Seq(Seq("lower_case_table_names", "1")))
    val v2 = rows(eng.sql("show variables where Value = 'REPEATABLE-READ'"))
    assert(v2.map(_.head).contains("transaction_isolation"))
  }

  test("explain analyze executes the plan and reports runtime metrics") {
    val r = rows(eng.sql("explain analyze select count(*) from user"))
    assert(r.exists(_.head == "plan"))
    val metrics = r.filter(_.head == "metric")
    assert(metrics.nonEmpty)
    assert(metrics.exists(_(1).toString.contains("numOutputRows")),
      metrics.map(_(1)).mkString("\n"))
  }

  test("copy-on-write rewrite keeps write parallelism (multiple files)") {
    val dir = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema cw"); e.sql("use cw")
    e.sql("create table big (id int, PRIMARY KEY(id))")
    e.sql("insert into big values " +
      (1 to 50).map(i => s"($i)").mkString(", "))
    e.sql("insert into big values " +
      (51 to 100).map(i => s"($i)").mkString(", "))
    assert(e.sql("update big set id = id + 1000 where id > 98") ==
      AffectedRows(2))
    val v1 = new java.io.File(s"$dir/data/cw/big/v1")
    val parts = v1.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts >= 2, s"expected multi-file rewrite, got $parts file(s)")
    assert(rows(e.sql("select count(*) from big")) == Seq(Seq(100L)))
    assert(rows(e.sql("select count(*) from big where id > 1000")) ==
      Seq(Seq(2L)))
  }

  test("catalog persists across engine restarts") {
    val dir = ScratchDirs.create("graft_wh_")
    val e1 = new GraftEngine(spark, dir)
    e1.sql("create schema keep"); e1.sql("use keep")
    e1.sql("create table kt (id int, name char null, PRIMARY KEY(id))")
    e1.sql("insert into kt values (5, 'five')")
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use keep")
    assert(rows(e2.sql("select id, name from kt")) == Seq(Seq(5L, "five")))
    assert(rows(e2.sql("show create table kt")).head(1).toString.contains("PRIMARY"))
  }

  test("external tables support csv and json formats, surviving restarts") {
    import java.nio.file.Paths
    val wh = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, wh)
    e.sql("create schema ext2"); e.sql("use ext2")
    val dir = ScratchDirs.create("graft_ext_")
    Files.writeString(Paths.get(s"$dir/data.csv"), "id,name\n1,alpha\n2,beta\n")
    Files.writeString(Paths.get(s"$dir/data.json"),
      "{\"id\": 3, \"name\": \"gamma\"}\n")
    assert(e.sql(s"create external table tc using csv location '$dir/data.csv'")
      == AffectedRows(1))
    assert(e.sql(s"create external table tj using json location '$dir/data.json'")
      == AffectedRows(1))
    assert(rows(e.sql("select id, name from tc order by id")) ==
      Seq(Seq(1, "alpha"), Seq(2, "beta")))
    assert(rows(e.sql("select id, name from tj")) == Seq(Seq(3L, "gamma")))
    assert(rows(e.sql("show create table tc")).head(1).toString
      .contains("USING CSV"))
    // format survives a catalog reload in a fresh engine
    val e2 = new GraftEngine(spark, wh)
    e2.sql("use ext2")
    assert(rows(e2.sql("select name from tc where id = 2")) == Seq(Seq("beta")))
    // external stays read-only regardless of format
    intercept[GraftException] { e2.sql("insert into tc values (9, 'x')") }
  }

  test("engine sessions rewrite pure range joins into banded hash joins") {
    val e = freshEngine()
    e.sql("create schema rj"); e.sql("use rj")
    e.sql("create table ra (ka int, PRIMARY KEY(ka))")
    e.sql("create table rb (kb int, PRIMARY KEY(kb))")
    (1 to 5).foreach(i => e.sql(s"insert into ra values ($i)"))
    (1 to 5).foreach(i => e.sql(s"insert into rb values ($i)"))
    e.sql("select ka, kb from ra join rb on kb > ka and kb <= ka + 2") match {
      case ResultSet(df) =>
        assert(!df.queryExecution.executedPlan.toString
          .contains("BroadcastNestedLoopJoin"))
        assert(df.count() == 7) // (1,2)(1,3)(2,3)(2,4)(3,4)(3,5)(4,5)
      case other => fail(s"expected rows, got $other")
    }
  }

  test("concurrent SELECT sessions run cleanly against a DDL/DML loop") {
    val e = freshEngine()
    e.sql("create schema ca"); e.sql("create schema cb"); e.sql("create schema cd")
    val sa = e.newSession(); val sb = e.newSession()
    sa.sql("use ca"); sb.sql("use cb")
    sa.sql("create table t (id int, PRIMARY KEY(id))")
    sb.sql("create table t (id int, PRIMARY KEY(id))")
    sa.sql("insert into t values (1)")
    sb.sql("insert into t values (2)")
    // each UPDATE commits v1, so the readers' VERSION AS OF 0 reads a
    // retained snapshot, not the live image
    sa.sql("update t set id = id")
    sb.sql("update t set id = id")
    sa.sql("create view w as select id from t")
    sb.sql("create view w as select id from t")
    // readers resolve the bare names `t` and `w` in THEIR session
    // schema on every statement while a third session churns the
    // catalog with DDL + DML — any current-database cross-talk or
    // half-swapped registration shows up as a wrong value or an
    // exception
    @volatile var problems = List.empty[String]
    def reader(s: GraftSession, expect: Long) = new Thread(() => {
      try (1 to 20).foreach { _ =>
        val got = rows(s.sql("select id from t")).map(_.head)
        if (got != Seq(expect)) problems ::= s"expected $expect got $got"
        val view = rows(s.sql("select id from w")).map(_.head)
        if (view != Seq(expect)) problems ::= s"view: expected $expect got $view"
        val withRowid = rows(s.sql("select rowid, id from t"))
        if (withRowid.map(_(1)) != Seq(expect) ||
            withRowid.head.head.asInstanceOf[String].length != 32)
          problems ::= s"rowid: expected $expect got $withRowid"
        val asOf = rows(s.sql("select id from t version as of 0")).map(_.head)
        if (asOf != Seq(expect)) problems ::= s"as of: expected $expect got $asOf"
      } catch { case t: Throwable => problems ::= t.toString }
    })
    val ddl = new Thread(() => {
      try {
        val s = e.newSession()
        s.sql("use cd")
        (1 to 8).foreach { i =>
          s.sql(s"create table d$i (id int, PRIMARY KEY(id))")
          s.sql(s"insert into d$i values ($i)")
          s.sql(s"update d$i set id = id + 10")
          s.sql(s"drop table d$i")
        }
      } catch { case t: Throwable => problems ::= t.toString }
    })
    val ts = Seq(reader(sa, 1L), reader(sb, 2L), ddl)
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("file-pruned COW: selective UPDATE/DELETE rewrites strictly fewer files") {
    val dir = ScratchDirs.create("graft_fp_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema fp"); e.sql("use fp")
    e.sql("create table t (id int, val char, PRIMARY KEY(id))")
    // three inserts → three (sets of) part files with disjoint id ranges
    e.sql("insert into t values (1, 'a'), (2, 'b')")
    e.sql("insert into t values (11, 'c'), (12, 'd')")
    e.sql("insert into t values (21, 'e'), (22, 'f')")
    val base = new java.io.File(s"$dir/data/fp/t")
    def partNames(v: String) = new java.io.File(base, v).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = partNames("v0")
    assert(before.size >= 3, s"expected >=3 part files, got $before")
    assert(e.sql("update t set val = 'X' where id = 12") == AffectedRows(1))
    // carried files keep their identity (hard links, never rewritten):
    // all but the one file holding id=12 must survive by name
    val after = partNames("v1")
    assert(before.intersect(after).size == before.size - 1,
      s"before=$before after=$after")
    assert(new java.io.File(base, "v1/_SUCCESS").exists())
    assert(!new java.io.File(base, "v1.stage").exists())
    assert(rows(e.sql("select val from t where id = 12")) == Seq(Seq("X")))
    assert(rows(e.sql("select count(*) from t")) == Seq(Seq(6L)))
    assert(e.sql("delete from t where id = 21") == AffectedRows(1))
    val after2 = partNames("v2")
    assert(after.intersect(after2).size == after.size - 1,
      s"after=$after after2=$after2")
    assert(rows(e.sql("select id from t where id > 20 order by id")) ==
      Seq(Seq(22L)))
    assert(rows(e.sql("select count(*) from t")) == Seq(Seq(5L)))
    // unconditional UPDATE still rewrites everything (no carry)
    assert(e.sql("update t set val = 'z'") == AffectedRows(5))
    assert(rows(e.sql("select distinct val from t")) == Seq(Seq("z")))
  }

  test("crash-safe COW: reload reconciles orphan, partial and dangling versions") {
    import java.io.File
    def copyDir(src: File, dst: File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        if (f.isDirectory) copyDir(f, new File(dst, f.getName))
        else Files.copy(f.toPath, new File(dst, f.getName).toPath)
      }
    }
    def deleteDir(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteDir)
      f.delete()
    }
    val dir = ScratchDirs.create("graft_wh_")
    val e1 = new GraftEngine(spark, dir)
    e1.sql("create schema cr"); e1.sql("use cr")
    e1.sql("create table t (id int, PRIMARY KEY(id))")
    e1.sql("insert into t values (1), (2), (3)")
    e1.sql("delete from t where id = 3") // COW → v1
    val base = new File(s"$dir/data/cr/t")
    val v1 = new File(base, "v1")
    // crash window A: v2 fully written+committed, catalog flip never
    // persisted → catalog (v1) wins, orphan v2 GC'd on reload
    copyDir(v1, new File(base, "v2"))
    // …plus a partial uncommitted write from another imagined crash
    copyDir(v1, new File(base, "v3"))
    new File(base, "v3/_SUCCESS").delete()
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use cr")
    assert(rows(e2.sql("select count(*) from t")) == Seq(Seq(2L)))
    assert(!new File(base, "v2").exists(), "orphan v2 not GC'd")
    assert(!new File(base, "v3").exists(), "partial v3 not GC'd")
    // crash window B: flip persisted… then catalog dir deleted by a
    // half-finished cleanup; only a NEWER committed version remains →
    // fall forward and repair the catalog
    copyDir(v1, new File(base, "v5"))
    deleteDir(v1)
    val e3 = new GraftEngine(spark, dir)
    e3.sql("use cr")
    assert(rows(e3.sql("select count(*) from t order by 1")) == Seq(Seq(2L)))
    // the repair persisted: a FOURTH engine loads the same state
    assert(rows(new GraftEngine(spark, dir).newSession()
      .sql("select count(*) from cr.t")) == Seq(Seq(2L)))
    // and DML keeps working from the adopted version
    assert(e3.sql("delete from t where id = 2") == AffectedRows(1))
    assert(rows(e3.sql("select id from t")) == Seq(Seq(1L)))
  }

  test("check_constraints and referential_constraints exist and are empty") {
    // reference materializes both as empty tables for client
    // compatibility (information_schema.rs:135-166)
    assert(rows(eng.sql(
      "select * from information_schema.check_constraints")).isEmpty)
    assert(rows(eng.sql(
      "select * from information_schema.referential_constraints")).isEmpty)
    assert(rows(eng.sql(
      """select column_name from information_schema.columns
        |where table_name = 'x_no_such'""".stripMargin)).isEmpty)
  }

  test("bootstrap variables match the reference seed list exactly") {
    // initial.rs:1401-1505 seeds exactly these seven — full parity,
    // pinned so neither side drifts
    assert(rows(eng.sql("show variables")) == Seq(
      Seq("auto_increment_increment", "0"),
      Seq("lower_case_table_names", "1"),
      Seq("max_allowed_packet", "67108864"),
      Seq("system_time_zone", "CST"),
      Seq("time_zone", "SYSTEM"),
      Seq("transaction_isolation", "REPEATABLE-READ"),
      Seq("transaction_read_only", "0")))
  }

  test("explain of a mutating statement is rejected without executing it") {
    val e = freshEngine()
    e.sql("create schema ex"); e.sql("use ex")
    e.sql("create table t (id int, PRIMARY KEY(id))")
    e.sql("insert into t values (1)")
    intercept[GraftException] { e.sql("explain delete from t") }
    assert(rows(e.sql("select count(*) from t")) == Seq(Seq(1L)))
  }

  // ---- reference fix_column_name/fix_table_factor lowercase every
  // identifier (execution.rs:509-658); the engine reaches the same
  // visible semantics through Spark's case-insensitive resolution —
  // pinned here so a config change can't silently diverge.
  test("mixed-case identifiers resolve like the reference's lowercasing") {
    val e = freshEngine()
    e.sql("create schema mixy"); e.sql("use mixy")
    e.sql("create table mc (id int, name char null, PRIMARY KEY(id))")
    e.sql("insert into mc values (1, 'a')")
    assert(rows(e.sql("SELECT ID, NAME FROM MC")) == Seq(Seq(1L, "a")))
    assert(rows(e.sql("Select Id From Mixy.Mc Where Name = 'a'")) ==
      Seq(Seq(1L)))
    assert(rows(e.sql("SELECT count(*) FROM mc WHERE ID = 1")).head ==
      Seq(1L))
    // DML through uppercase references mutates the same table
    assert(e.sql("UPDATE MC SET NAME = 'b' WHERE ID = 1") == AffectedRows(1))
    assert(rows(e.sql("select name from mc")) == Seq(Seq("b")))
  }

  test("CREATE TABLE AS SELECT materializes the query with mapped types") {
    val e = freshEngine()
    e.sql("create schema ctas"); e.sql("use ctas")
    e.sql("create table src (id int, name char null, score float, PRIMARY KEY(id))")
    e.sql("insert into src values (1, 'a', 1.5), (2, 'b', 2.5), (3, NULL, 3.5)")
    val r = e.sql("create table dst as select id, name, score * 2 as dbl from src")
    assert(r == AffectedRows(3))
    assert(rows(e.sql("select id, name, dbl from dst where id <= 2")).toSet ==
      Set(Seq(1L, "a", 3.0), Seq(2L, "b", 5.0)))
    // inferred engine types: int / char / float, all nullable, no keys
    val desc = rows(e.sql("describe dst")).map(x => x.head -> (x(1), x(2), x(3)))
    assert(desc == Seq("id" -> ("int", "YES", ""),
      "name" -> ("char", "YES", ""), "dbl" -> ("float", "YES", "")), desc)
    // the table is a real managed table: further DML works
    assert(e.sql("insert into dst values (9, 'z', 0.5)") == AffectedRows(1))
    assert(e.sql("update dst set name = 'y' where id = 9") == AffectedRows(1))
    // 1050 on existing, 0 rows for IF NOT EXISTS
    val ex = intercept[GraftException](
      e.sql("create table dst as select * from src"))
    assert(ex.code == 1050)
    assert(e.sql("create table if not exists dst as select * from src") ==
      AffectedRows(0))
    // duplicate output columns are rejected before any table appears
    val dup = intercept[GraftException](
      e.sql("create table d2 as select id, id from src"))
    assert(dup.code == 1060)
    // unaliased computed columns get the bad-column-name code with a
    // fix hint, BEFORE any table is registered
    val una = intercept[GraftException](
      e.sql("create table d3 as select count(*) from src"))
    assert(una.code == 1166 && una.msg.contains("alias"), una.msg)
    assert(intercept[GraftException](e.sql("select * from d3")).code == 1146)
    assert(rows(e.sql("show tables")).flatten == Seq("dst", "src"))
  }

  test("ANALYZE TABLE returns a per-column profile; rowid stays hidden") {
    val e = freshEngine()
    e.sql("create schema anl"); e.sql("use anl")
    e.sql("create table t (id int, name char null, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 'b')")
    e.sql("insert into t values (2, NULL)")
    e.sql("insert into t values (3, 'a')")
    val prof = rows(e.sql("analyze table t"))
      .map(r => r.head -> r).toMap
    // only the two VISIBLE columns — no internal rowid leak
    assert(prof.keySet == Set("id", "name"), prof.keySet.toString)
    assert(prof("id") == Seq("id", 3L, 0L, 3L, "1", "3"))
    assert(prof("name") == Seq("name", 3L, 1L, 2L, "a", "b"))
    // unknown table is 1146 before any scan
    val ex = intercept[GraftException](e.sql("analyze table nope"))
    assert(ex.code == 1146)
  }

  test("views: create, read, nest, replace, list, drop") {
    val e = freshEngine()
    e.sql("create schema vw"); e.sql("use vw")
    e.sql("create table t (id int, grp char, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1,'a',10), (2,'a',20), (3,'b',30)")
    e.sql("create view agg as select grp, count(*) as n, sum(v) as s " +
      "from t group by grp")
    // reads reflect the CURRENT base table, later mutations included
    assert(rows(e.sql("select * from agg order by grp")) ==
      Seq(Seq("a", 2L, 30L), Seq("b", 1L, 30L)))
    e.sql("insert into t values (4,'b',40)")
    assert(rows(e.sql("select s from agg where grp = 'b'")) ==
      Seq(Seq(70L)))
    // nested view + schema-qualified reference from another schema
    e.sql("create view big as select grp from agg where s >= 50")
    assert(rows(e.sql("select * from big")) == Seq(Seq("b")))
    e.sql("create schema other"); e.sql("use other")
    assert(rows(e.sql("select * from vw.big")) == Seq(Seq("b")))
    e.sql("use vw")
    // OR REPLACE swaps the definition; plain create on a taken name
    // (table or view) is 1050, bad body fails the DDL with no change
    e.sql("create or replace view big as select grp from agg where s >= 500")
    assert(rows(e.sql("select * from big")).isEmpty)
    assert(intercept[GraftException](
      e.sql("create view t as select 1 as x")).code == 1050)
    assert(intercept[GraftException](
      e.sql("create view agg as select 1 as x")).code == 1050)
    assert(intercept[GraftException](
      e.sql("create view bad as select nope from t")).code == 1105)
    assert(rows(e.sql("show tables")).flatten ==
      Seq("agg", "big", "t"))
    assert(rows(e.sql("show full tables")).map(_(1)) ==
      Seq("VIEW", "VIEW", "BASE TABLE"))
    assert(rows(e.sql("show create table agg")).head.head == "agg")
    // DML through a view is rejected with a targeted message
    val dml = intercept[GraftException](
      e.sql("update agg set n = 0"))
    assert(dml.msg.contains("view"), dml.msg)
    // DROP VIEW; DROP TABLE stays for base tables; 1051 when absent
    assert(e.sql("drop view big") == AffectedRows(0))
    assert(intercept[GraftException](
      e.sql("select * from big")).code == 1146)
    assert(intercept[GraftException](e.sql("drop view t")).msg
      .contains("base table"))
    assert(intercept[GraftException](e.sql("drop view big")).code == 1051)
    assert(e.sql("drop view if exists big") == AffectedRows(0))
  }

  test("views: persist across restart; replace-cycle is caught") {
    val dir = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema vp"); e.sql("use vp")
    e.sql("create table t (id int, PRIMARY KEY(id))")
    e.sql("insert into t values (1), (2)")
    e.sql("create view v1 as select count(*) as n from t")
    e.sql("create view v2 as select n + 1 as m from v1")
    // a replace can only introduce a cycle AFTER both validated —
    // the read must fail loudly, not hang
    e.sql("create or replace view v1 as select m as n from v2")
    val cyc = intercept[GraftException](e.query("select * from v1").collect())
    assert(cyc.msg.contains("recursiv"), cyc.msg)
    e.sql("create or replace view v1 as select count(*) as n from t")
    // restart: definitions come back from the info-schema catalog
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use vp")
    assert(rows(e2.sql("select * from v2")) == Seq(Seq(3L)))
    assert(rows(e2.sql(
      "select table_name from information_schema.views order by 1"))
      .flatten == Seq("v1", "v2"))
    // drop schema sweeps its views
    e2.sql("drop schema vp")
    val e3 = new GraftEngine(spark, dir)
    assert(rows(e3.sql(
      "select count(*) from information_schema.views")).head.head == 0L)
  }

  // ---- transactions: BEGIN / COMMIT / ROLLBACK over the version
  // store (documented deviation from the reference's accepted no-ops,
  // execution.rs:1265-1267 — with no BEGIN, autocommit is unchanged)

  private def txnEngine(): GraftEngine = {
    val e = freshEngine()
    e.sql("create schema tx"); e.sql("use tx")
    e.sql("create table t (id int, v char, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 'a'), (2, 'b'), (3, 'c')")
    e
  }

  test("txn: rollback undoes a multi-statement transaction") {
    val e = txnEngine()
    e.setVersionRetention(10) // keep mid-txn history time-travelable
    e.sql("begin")
    assert(e.sql("update t set v = 'X' where id = 1") == AffectedRows(1))
    assert(e.sql("delete from t where id = 2") == AffectedRows(1))
    assert(e.sql("insert into t values (4, 'd')") == AffectedRows(1))
    // mid-txn state is live (read-committed: no deferred visibility)
    assert(rows(e.sql("select count(*) from t")).head.head == 3L)
    assert(e.sql("rollback") == AffectedRows(0))
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
    // the rollback is itself a committed version: mid-txn state stays
    // time-travelable (v1 insert, v2 update, v3 delete, v4 insert,
    // v5 = rollback restore of v1)
    assert(rows(e.sql("select v from t version as of 2 where id = 1")) ==
      Seq(Seq("X")))
  }

  test("txn: commit persists; rollback after commit is a no-op") {
    val e = txnEngine()
    e.sql("begin")
    e.sql("update t set v = 'X' where id = 1")
    assert(e.sql("commit") == AffectedRows(0))
    assert(e.sql("rollback") == AffectedRows(0))
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq("X")))
  }

  test("txn: BEGIN implicitly commits the open transaction") {
    val e = txnEngine()
    e.sql("begin")
    e.sql("update t set v = 'first' where id = 1")
    e.sql("start transaction") // commits the first txn, opens a new one
    e.sql("update t set v = 'second' where id = 2")
    e.sql("rollback") // undoes only the second
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, "first"), Seq(2, "b"), Seq(3, "c")))
  }

  test("txn: DDL implicitly commits (MySQL semantics)") {
    val e = txnEngine()
    e.sql("begin")
    e.sql("update t set v = 'X' where id = 1")
    e.sql("alter table t add column extra int") // implicit commit
    e.sql("rollback") // nothing left to roll back
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq("X")))
    assert(rows(e.sql("select extra from t where id = 1")) ==
      Seq(Seq(null)))
  }

  test("txn: an insert-only transaction rolls back (no in-place append leak)") {
    val e = txnEngine() // default retention: inserts normally append in place
    e.sql("begin")
    e.sql("insert into t values (4, 'd'), (5, 'e')")
    assert(rows(e.sql("select count(*) from t")).head.head == 5L)
    e.sql("rollback")
    assert(rows(e.sql("select id from t order by id")).flatten == Seq(1, 2, 3))
  }

  test("txn: rollback with no open transaction is a no-op") {
    val e = txnEngine()
    assert(e.sql("rollback") == AffectedRows(0))
    assert(rows(e.sql("select count(*) from t")).head.head == 3L)
  }

  test("txn: GC pin — rollback target survives deep version stacks") {
    val e = txnEngine()
    e.setVersionRetention(2) // floor: without the pin, v1 dies fast
    e.sql("begin")
    (1 to 6).foreach(i => e.sql(s"update t set v = 'x$i' where id = 1"))
    // six COW commits later, v1 is far outside the retention window;
    // only the txn pin keeps it restorable
    e.sql("rollback")
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
  }

  test("txn: rollback restores every table the transaction touched") {
    val e = txnEngine()
    e.sql("create table u (id int, n int, PRIMARY KEY(id))")
    e.sql("insert into u values (1, 10)")
    e.sql("begin")
    e.sql("update t set v = 'X' where id = 1")
    e.sql("update u set n = 99 where id = 1")
    e.sql("delete from u where id = 1")
    e.sql("rollback")
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq("a")))
    assert(rows(e.sql("select n from u where id = 1")) == Seq(Seq(10)))
  }

  test("txn: per-session — one session's txn does not capture another's writes") {
    val e = txnEngine()
    val s2 = e.newSession()
    s2.sql("use tx")
    e.sql("begin")
    e.sql("update t set v = 'mine' where id = 1")
    s2.sql("update t set v = 'theirs' where id = 2") // autocommit
    e.sql("rollback")
    // the rollback rewinds t to THIS session's pre-txn version —
    // which predates s2's autocommitted write. Documented limitation
    // of snapshot-undo without cross-session write locking: last
    // rollback wins on a shared table.
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq("a")))
  }

  test("txn: managed-KV mutations are non-transactional (survive rollback)") {
    val e = freshEngine()
    e.sql("create schema txkv"); e.sql("use txkv")
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt values (1, 'a')")
    e.sql("begin")
    e.sql("insert into kvt values (2, 'b')")
    e.sql("rollback") // like MySQL + a non-transactional engine
    assert(rows(e.sql("select count(*) from kvt")).head.head == 2L)
  }

  // ---- TRUNCATE

  test("truncate: empties the table, history stays travelable") {
    val e = txnEngine()
    e.setVersionRetention(10)
    assert(e.sql("truncate table t") == AffectedRows(0))
    assert(rows(e.sql("select count(*) from t")).head.head == 0L)
    // pre-truncate image is one version back (v0: in-place inserts
    // don't bump; the truncate committed v1)
    assert(rows(e.sql("select count(*) from t version as of 0")).head.head == 3L)
    // and RESTORE undoes the truncate
    e.sql("restore t to version as of 0")
    assert(rows(e.sql("select count(*) from t")).head.head == 3L)
    // bare spelling, kv/external rejected
    assert(e.sql("truncate t") == AffectedRows(0))
    assert(intercept[GraftException](
      e.sql("truncate nope")).code == 1146)
  }

  test("truncate: DDL — implicitly commits, cannot be rolled back") {
    val e = txnEngine()
    e.sql("begin")
    e.sql("update t set v = 'X' where id = 1")
    e.sql("truncate table t") // implicit commit releases the undo log
    e.sql("rollback")
    assert(rows(e.sql("select count(*) from t")).head.head == 0L)
  }

  // ---- RENAME TABLE

  test("rename: catalog + history move; old name gone (1146)") {
    val e = txnEngine()
    e.sql("update t set v = 'X' where id = 1") // v1: some history
    assert(e.sql("rename table t to t2") == AffectedRows(0))
    assert(rows(e.sql("select id, v from t2 where id = 1")) ==
      Seq(Seq(1, "X")))
    // version history travelled with the name
    assert(rows(e.sql("select v from t2 version as of 0 where id = 1")) ==
      Seq(Seq("a")))
    assert(intercept[GraftException](e.sql("select * from t")).code == 1146)
    assert(rows(e.sql("show tables")).map(_.head) == Seq("t2"))
    // DML keeps working on the new name
    assert(e.sql("delete from t2 where id = 3") == AffectedRows(1))
  }

  test("rename: chain swap, collisions, alter spelling") {
    val e = txnEngine()
    e.sql("create table u (id int, n int, PRIMARY KEY(id))")
    e.sql("insert into u values (9, 90)")
    // MySQL chain-swap idiom: left-to-right evaluation
    assert(e.sql("rename table t to tmp, u to t, tmp to u") ==
      AffectedRows(0))
    assert(rows(e.sql("select n from t where id = 9")) == Seq(Seq(90)))
    assert(rows(e.sql("select count(*) from u")).head.head == 3L)
    // collision with an existing table → 1050
    assert(intercept[GraftException](
      e.sql("rename table t to u")).code == 1050)
    // unknown target schema → 1049
    assert(intercept[GraftException](
      e.sql("rename table t to nope.t")).code == 1049)
    // ALTER TABLE spelling
    assert(e.sql("alter table t rename to t_alt") == AffectedRows(0))
    assert(rows(e.sql("select n from t_alt where id = 9")) == Seq(Seq(90)))
  }

  test("rename: survives restart via the info-schema catalog") {
    val dir = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema rn"); e.sql("use rn")
    e.sql("create table t (id int, PRIMARY KEY(id))")
    e.sql("insert into t values (1), (2)")
    e.sql("rename table t to t2")
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use rn")
    assert(rows(e2.sql("select count(*) from t2")).head.head == 2L)
    assert(intercept[GraftException](e2.sql("select * from t")).code == 1146)
  }

  test("thousand-view catalog: statements stay correct and O(referenced views)") {
    // view expansion looks up each relation of the parsed plan in the
    // view map: with 1000 views registered, a statement referencing
    // NONE of them pays nothing per view, and references through any
    // single view — bare, qualified, nested in FROM — still resolve
    // exactly.
    val e = freshEngine()
    e.sql("create schema vmany"); e.sql("use vmany")
    e.sql("create table base (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into base values " +
      (1 to 20).map(i => s"($i, ${i * 10})").mkString(", "))
    val n = 1000
    (1 to 10).foreach { i =>
      e.sql(f"create view vw_$i%04d as select id, v from base where id <= ${i % 20 + 1}")
    }
    def ms0(k: Int)(body: => Unit): Double = {
      val t0 = System.nanoTime(); (1 to k).foreach(_ => body)
      (System.nanoTime() - t0) / 1e6 / k
    }
    val noView10 = ms0(30)(e.sql("select count(*) as c from base"))
    (11 to n).foreach { i =>
      e.sql(f"create view vw_$i%04d as select id, v from base where id <= ${i % 20 + 1}")
    }
    // reference exactly one view (bare and schema-qualified)
    assert(rows(e.sql("select count(*) as c from vw_0007")).head.head == 8L)
    assert(rows(
      e.sql("select count(*) as c from vmany.vw_0019")).head.head == 20L)
    // a statement referencing NO view
    assert(rows(e.sql("select count(*) as c from base")).head.head == 20L)
    // a view whose name is a SUBSTRING of the statement text but not
    // an identifier reference must not shadow anything
    assert(rows(e.sql("select count(*) as c from base where 'vw_0007' <> ''"))
      .head.head == 20L)
    // latency probe for BENCH_NOTES: per-statement cost with 1000
    // views registered vs referenced-view count (not an assertion —
    // host speed varies; the flat-vs-views row lives in BENCH_NOTES)
    val noView = ms0(30)(e.sql("select count(*) as c from base"))
    val oneView = ms0(30)(e.sql("select count(*) as c from vw_0013"))
    info(f"no-view stmt: $noView10%.1f ms @ 10 views, $noView%.1f ms @ $n views; " +
      f"one-view stmt $oneView%.1f ms @ $n views")
  }

  test("replace into: delete-then-insert upsert, MySQL affected arithmetic") {
    val e = freshEngine()
    e.sql("create schema rp"); e.sql("use rp")
    e.sql("create table t (id int, v char, PRIMARY KEY(id))")
    assert(e.sql("insert into t values (1, 'a'), (2, 'b')") == AffectedRows(2))
    // 1 fresh insert + 1 conflict (delete+insert) = 3 affected
    assert(e.sql("replace into t values (2, 'B'), (3, 'c')") == AffectedRows(3))
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, "a"), Seq(2, "B"), Seq(3, "c")))
    // replace into an empty-overlap batch behaves as plain insert
    assert(e.sql("replace into t values (4, 'd')") == AffectedRows(1))
    // self-conflicting batch: rejected 1062 (documented batch semantics)
    assert(intercept[GraftException](
      e.sql("replace into t values (9, 'x'), (9, 'y')")).code == 1062)
    // unique-key conflicts count too
    e.sql("create table u (id int, tag char, PRIMARY KEY(id), UNIQUE KEY uq (tag))")
    e.sql("insert into u values (1, 'red'), (2, 'blue')")
    // new row (3,'red') evicts id=1 via the UNIQUE key
    assert(e.sql("replace into u values (3, 'red')") == AffectedRows(2))
    assert(rows(e.sql("select id, tag from u order by id")) ==
      Seq(Seq(2, "blue"), Seq(3, "red")))
    // REPLACE on managed KV is the LSM upsert append
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt values (1, 'a')")
    e.sql("replace into kvt values (1, 'A'), (2, 'b')")
    assert(rows(e.sql("select k, v from kvt order by k")) ==
      Seq(Seq(1, "A"), Seq(2, "b")))
  }

  test("insert on duplicate key update: VALUES() refs, old-row exprs, counts") {
    val e = freshEngine()
    e.sql("create schema od"); e.sql("use od")
    e.sql("create table t (id int, v char, hits int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 'a', 1), (2, 'b', 1)")
    // one update (counts 2) + one insert (counts 1) = 3
    assert(e.sql("""insert into t values (2, 'B', 1), (3, 'c', 1)
      |on duplicate key update v = VALUES(v), hits = hits + 1""".stripMargin)
      == AffectedRows(3))
    assert(rows(e.sql("select id, v, hits from t order by id")) ==
      Seq(Seq(1, "a", 1), Seq(2, "B", 2), Seq(3, "c", 1)))
    // assignments not listed keep the OLD value
    e.sql("insert into t values (2, 'ZZZ', 99) on duplicate key update hits = hits + 1")
    assert(rows(e.sql("select v, hits from t where id = 2")) ==
      Seq(Seq("B", 3)))
    // guards: PK reassignment, unknown column, missing PK, KV
    assert(intercept[GraftException](e.sql(
      "insert into t values (2,'x',0) on duplicate key update id = 9")).code == 1105)
    assert(intercept[GraftException](e.sql(
      "insert into t values (2,'x',0) on duplicate key update nope = 1")).code == 1054)
    // works through INSERT…SELECT sources too
    e.sql("create table src (id int, v char, hits int, PRIMARY KEY(id))")
    e.sql("insert into src values (1, 'fresh', 5), (9, 'nine', 5)")
    assert(e.sql("""insert into t select id, v, hits from src
      |on duplicate key update v = VALUES(v)""".stripMargin) == AffectedRows(3))
    assert(rows(e.sql("select v, hits from t where id = 1")) ==
      Seq(Seq("fresh", 1)))
    assert(rows(e.sql("select v, hits from t where id = 9")) ==
      Seq(Seq("nine", 5)))
    // a string literal containing the phrase is NOT the clause
    e.sql("insert into t values (7, 'on duplicate key update v = 1', 0)")
    assert(rows(e.sql("select hits from t where id = 7")) == Seq(Seq(0)))
    // …nor is VALUES(x) inside a literal a reference to the new row
    assert(e.sql("insert into t values (7, 'b', 0) on duplicate key update " +
      "v = concat('values(v)', VALUES(v))") == AffectedRows(2))
    assert(rows(e.sql("select v from t where id = 7")) == Seq(Seq("values(v)b")))
    // a subquery in an assignment reads the session's schema
    assert(e.sql("insert into t values (9, 'n', 0) on duplicate key update " +
      "hits = (select max(hits) from src) + 1") == AffectedRows(2))
    assert(rows(e.sql("select hits from t where id = 9")) == Seq(Seq(6)))
  }

  test("odku: resolves on ANY unique index (MySQL order); counts") {
    val e = freshEngine()
    e.sql("create schema odu"); e.sql("use odu")
    e.sql("create table t (id int, u int, v char, " +
      "PRIMARY KEY(id), UNIQUE KEY uu (u))")
    e.sql("insert into t values (1, 100, 'a'), (2, 200, 'b')")
    // MySQL resolves ODKU on ANY unique index: a row with a fresh PK
    // that collides on UNIQUE u UPDATES the matched row (the upsert-
    // by-unique-key idiom) — the old row keeps its identity (id 1),
    // the incoming id is discarded, affected counts 2 (changed)
    assert(e.sql(
      "insert into t values (3, 100, 'c') on duplicate key update v = VALUES(v)")
      == AffectedRows(2))
    assert(rows(e.sql("select id, u, v from t order by id")) ==
      Seq(Seq(1, 100, "c"), Seq(2, 200, "b")))
    // an assignment SETTING u to a colliding value is still 1062 —
    // and persists nothing
    assert(intercept[GraftException](e.sql(
      "insert into t values (1, 0, 'x') on duplicate key update u = 200"))
      .code == 1062)
    assert(rows(e.sql("select id, u, v from t order by id")) ==
      Seq(Seq(1, 100, "c"), Seq(2, 200, "b")))
    // non-colliding rows insert fresh
    assert(e.sql(
      "insert into t values (3, 300, 'c') on duplicate key update v = 'z'")
      == AffectedRows(1))
    // MySQL's changed-only arithmetic: a matched row whose
    // assignments leave it byte-identical counts 0, not 2
    assert(e.sql(
      "insert into t values (1, 100, 'c') on duplicate key update v = VALUES(v)")
      == AffectedRows(0))
    assert(e.sql(
      "insert into t values (1, 100, 'Q') on duplicate key update v = VALUES(v)")
      == AffectedRows(2))
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq("Q")))
    // order-defined batch: two incoming rows reach the SAME existing
    // row through DIFFERENT indexes (one via PK, one via u). MySQL's
    // outcome depends on row-replay order; the set-oriented engine
    // rejects it loudly (final-image 1062) instead of picking one
    assert(intercept[GraftException](e.sql(
      "insert into t values (9, 100, 'p'), (1, 999, 'q') " +
        "on duplicate key update v = VALUES(v)")).code == 1062)
    assert(rows(e.sql("select id, u, v from t order by id")) ==
      Seq(Seq(1, 100, "Q"), Seq(2, 200, "b"), Seq(3, 300, "c")))
  }

  test("insert ignore: skips existing-key conflicts, lands the rest") {
    val e = freshEngine()
    e.sql("create schema ig"); e.sql("use ig")
    e.sql("create table t (id int, v char, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 'a'), (2, 'b')")
    // 2 conflicts skipped, 1 lands
    assert(e.sql("insert ignore into t values (1, 'X'), (2, 'Y'), (3, 'c')")
      == AffectedRows(1))
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
    // all conflicts: 0 affected, no version churn
    assert(e.sql("insert ignore into t values (1, 'X')") == AffectedRows(0))
    // in-batch self-conflict stays 1062 (documented batch semantics)
    assert(intercept[GraftException](
      e.sql("insert ignore into t values (8, 'x'), (8, 'y')")).code == 1062)
    // UNIQUE keys skip too
    e.sql("create table u (id int, tag char, PRIMARY KEY(id), UNIQUE KEY uq (tag))")
    e.sql("insert into u values (1, 'red')")
    assert(e.sql("insert ignore into u values (2, 'red'), (3, 'blue')")
      == AffectedRows(1))
    assert(rows(e.sql("select id, tag from u order by id")) ==
      Seq(Seq(1, "red"), Seq(3, "blue")))
    // ignore through INSERT…SELECT
    e.sql("create table s2 (id int, v char, PRIMARY KEY(id))")
    e.sql("insert into s2 values (3, 'zz'), (4, 'd')")
    assert(e.sql("insert ignore into t select id, v from s2")
      == AffectedRows(1))
    assert(rows(e.sql("select v from t where id = 3")) == Seq(Seq("c")))
    assert(rows(e.sql("select v from t where id = 4")) == Seq(Seq("d")))
  }

  test("create table like: empty structural clone of columns and keys") {
    val e = freshEngine()
    e.sql("create schema lk"); e.sql("use lk")
    e.sql("""create table src (id int, tag char, v float,
      |PRIMARY KEY(id), UNIQUE KEY uq (tag))""".stripMargin)
    e.sql("insert into src values (1, 'a', 1.5)")
    assert(e.sql("create table dst like src") == AffectedRows(0))
    // empty, same shape, same constraints
    assert(rows(e.sql("select count(*) as c from dst")).head.head == 0L)
    e.sql("insert into dst values (1, 'a', 9.0)")
    assert(intercept[GraftException](
      e.sql("insert into dst values (1, 'zzz', 0.0)")).code == 1062)
    assert(intercept[GraftException](
      e.sql("insert into dst values (2, 'a', 0.0)")).code == 1062)
    // name collision + IF NOT EXISTS
    assert(intercept[GraftException](
      e.sql("create table dst like src")).code == 1050)
    assert(e.sql("create table if not exists dst like src") == AffectedRows(0))
    // survives restart through the catalog
    assert(intercept[GraftException](
      e.sql("create table nope like missing")).code == 1146)
  }

  test("upsert statements inside transactions roll back like any mutation") {
    val e = freshEngine()
    e.sql("create schema odt"); e.sql("use odt")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 10)")
    e.sql("begin")
    e.sql("replace into t values (1, 99), (2, 20)")
    e.sql("insert into t values (1, 0) on duplicate key update v = v + 1")
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, 100), Seq(2, 20)))
    e.sql("rollback")
    assert(rows(e.sql("select id, v from t order by id")) == Seq(Seq(1, 10)))
  }

  test("orc external table: scan, aggregate, restart persistence") {
    val dir = ScratchDirs.create("graft_wh_")
    val orcDir = s"$dir/ext_orc"
    import spark.implicits._
    Seq((1, "a", 10.5), (2, "b", 20.25), (3, "a", 0.25))
      .toDF("id", "tag", "v").write.mode("overwrite").orc(orcDir)
    val e = new GraftEngine(spark, dir)
    e.sql("create schema orcs"); e.sql("use orcs")
    e.sql(s"create external table t USING ORC LOCATION '$orcDir'")
    assert(rows(e.sql(
      "select tag, count(*) as n from t group by tag order by tag")) ==
      Seq(Seq("a", 2L), Seq("b", 1L)))
    // read-only like every external format
    assert(intercept[GraftException](
      e.sql("insert into t values (9, 'z', 1.0)")).code == 1105)
    // format survives an engine restart through the catalog
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use orcs")
    assert(rows(e2.sql("select count(*) as n from t")).head.head == 3L)
    // ORC scans get the same predicate pushdown treatment parquet
    // does: the filter must reach the file source, and only the
    // referenced columns survive into ReadSchema
    val plan = e2.query("select id from t where id > 1")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      plan)
    val read = plan.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse("")
    assert(read.contains("id") && !read.contains("tag"), read)
  }

  test("txn: catalog writes defer to COMMIT — one flush per transaction") {
    val dir = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema txb"); e.sql("use txb")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 10), (2, 20), (3, 30)")
    val pre = e.infoWriteCount
    e.sql("begin")
    e.sql("update t set v = 11 where id = 1")
    e.sql("update t set v = 22 where id = 2")
    e.sql("delete from t where id = 3")
    assert(e.infoWriteCount == pre,
      "mutations inside an open txn must not write the catalog")
    // in-memory reads see every statement as it lands (autocommit-
    // equivalent visibility, SURVEY §2.7)
    assert(rows(e.sql("select count(*) as c from t")).head.head == 2L)
    e.sql("commit")
    assert(e.infoWriteCount == pre + 1,
      "COMMIT flushes exactly one catalog write")
    assert(rows(e.sql("select id, v from t order by id")) ==
      Seq(Seq(1, 11), Seq(2, 22)))
    // durability: a fresh engine over the same warehouse loads the
    // committed image from the flushed catalog
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use txb")
    assert(rows(e2.sql("select id, v from t order by id")) ==
      Seq(Seq(1, 11), Seq(2, 22)))
  }

  test("txn: rollback and implicit-commit DDL also flush deferred catalog writes") {
    val e = freshEngine()
    e.sql("create schema txf"); e.sql("use txf")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 10)")
    e.sql("begin")
    e.sql("update t set v = 99 where id = 1")
    val preRb = e.infoWriteCount
    // ROLLBACK must NOT flush pendingInfo (the uncommitted txn
    // pointers) before the restore persists — that flush opened a
    // crash window where the partial transaction was durable. One
    // table restored ⇒ exactly ONE catalog write (the restore's own),
    // not flush+restore.
    e.sql("rollback")
    assert(e.infoWriteCount == preRb + 1)
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq(10)))
    e.sql("begin")
    e.sql("update t set v = 55 where id = 1")
    e.sql("create table t2 (id int, PRIMARY KEY(id))") // implicit commit
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq(55)))
    e.sql("rollback") // no open txn: the DDL committed the update
    assert(rows(e.sql("select v from t where id = 1")) == Seq(Seq(55)))
  }

  test("catalog boot: many-table catalog reloads; the row bound is actionable") {
    val dir = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema wide"); e.sql("use wide")
    // a catalog an order of magnitude wider than the other specs':
    // 40 tables × 5 columns — boot must stay O(catalog rows)
    (1 to 40).foreach { i =>
      e.sql(s"create table t$i (a int, b int, c char, d float, e char, " +
        "PRIMARY KEY(a))")
    }
    e.sql("insert into t40 values (1, 2, 'x', 3.5, 'y')")
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use wide")
    assert(rows(e2.sql("select a, c from t40")) == Seq(Seq(1, "x")))
    assert(rows(e2.sql("select count(*) from t1")) == Seq(Seq(0L)))
    // the guard: a catalog past the bound fails with an actionable
    // message instead of collecting unbounded rows onto the driver
    val saved = GraftEngine.maxCatalogBootRows
    try {
      GraftEngine.maxCatalogBootRows = 10L
      val ex = intercept[GraftException](new GraftEngine(spark, dir))
      assert(ex.msg.contains("catalog too large to boot"))
      assert(ex.msg.contains("maxCatalogBootRows"))
    } finally GraftEngine.maxCatalogBootRows = saved
  }

  test("txn: crash before COMMIT rolls the whole transaction back on reload") {
    val dir = ScratchDirs.create("graft_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema txc"); e.sql("use txc")
    e.sql("create table t (id int, v int, PRIMARY KEY(id))")
    e.sql("insert into t values (1, 10), (2, 20)")
    e.sql("begin")
    e.sql("update t set v = 11 where id = 1")
    e.sql("delete from t where id = 2")
    // "crash": abandon the engine without COMMIT. The deferred
    // catalog still points at the pre-transaction version, so reload
    // reconciliation adopts it and GCs the unflushed versions — the
    // transaction is rolled back, where the old per-statement flush
    // left a PARTIAL transaction durable.
    val e2 = new GraftEngine(spark, dir)
    e2.sql("use txc")
    assert(rows(e2.sql("select id, v from t order by id")) ==
      Seq(Seq(1, 10), Seq(2, 20)))
  }

  // ---- SHOW PROCESSLIST / KILL (r16 verdict item 6) ----------------
  test("show processlist reflects the session registry; kill marks " +
    "the target") {
    val e = freshEngine()
    val s1 = e.newSession()
    val s2 = e.newSession()
    val r = rows(e.sql("show processlist"))
    val ids = r.map(_.head.asInstanceOf[Long])
    // the engine's default session + both new ones are listed
    assert(ids.contains(e.session.id))
    assert(ids.contains(s1.id) && ids.contains(s2.id))
    // the session running the statement is the busy one
    val self = r.find(_.head == e.session.id).get
    assert(self(4) == "Query" && self(7) == "show processlist")
    assert(r.find(_.head == s1.id).get(4) == "Sleep")
    // unknown id → MySQL 1094
    val unknown = intercept[GraftException](e.sql("kill 424242"))
    assert(unknown.code == 1094)
    // KILL CONNECTION: the victim's next statement raises 1317 and
    // its registry row survives until close()
    assert(e.sql(s"kill connection ${s2.id}") == AffectedRows(0))
    val dead = intercept[GraftException](s2.sql("select 1"))
    assert(dead.code == 1317)
    s2.close()
    val after = rows(e.sql("show processlist")).map(_.head)
    assert(!after.contains(s2.id) && after.contains(s1.id))
    // KILL QUERY parses too (same statement-boundary semantics)
    assert(e.sql(s"kill query ${s1.id}") == AffectedRows(0))
    assert(intercept[GraftException](s1.sql("select 1")).code == 1317)
    s1.close()
  }

  // ---- graft.plans.SingleSplitScan
  /** Shuffle exchanges in a statement's physical plan, as planned
    * (AQE's initial plan: nothing executes). */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    })
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeLike])
  }

  test("small engine-table reads plan no exchange; above the bound and " +
    "in a session with no engine the same reads keep theirs") {
    val e = freshEngine()
    e.sql("create schema ss")
    e.sql("use ss")
    e.sql("create table acct (id int, grp int, amount float, tag char, PRIMARY KEY(id))")
    e.sql("create table kv (k int, v char) using kv")
    e.sql("insert into acct values " + (1 to 300).map(i =>
      s"($i, ${i % 9}, ${i * 3}, 't${i % 11}')").mkString(", "))
    e.sql("insert into kv values " + (1 to 200).map(k =>
      s"($k, 'v$k')").mkString(", "))
    // wire_read's shapes: ORDER BY range, GROUP BY … ORDER BY,
    // join + GROUP BY, wide ORDER BY
    val shapes = Seq(
      "select k, v from kv where k >= 20 and k < 70 order by k",
      "select grp, count(*), sum(amount) from acct where grp < 6 group by grp order by grp",
      "select a.grp, count(*), sum(a.amount) from acct a join kv k " +
        "on a.id = k.k where a.grp = 4 group by a.grp",
      "select id, grp, amount, tag from acct where id > 40 and id <= 260 order by id")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).sortBy(_.head.toString)
    val want = shapes.map { q =>
      val df = e.query(q)
      assert(exchanges(df) == 0, s"`$q` plans a shuffle exchange:\n" +
        df.queryExecution.executedPlan)
      sorted(df)
    }
    assert(want.map(_.size) == Seq(50, 6, 1, 220))

    // above the bound: the same tables, with a bound below their size
    val bound = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "64")
    try shapes.zip(want).foreach { case (q, rs) =>
      val df = e.query(q)
      assert(exchanges(df) > 0, s"`$q` lost its exchanges above the bound")
      assert(sorted(df) == rs, q)
    } finally spark.conf.set("spark.sql.files.openCostInBytes", bound)

    // a session that never built an engine reads the same catalog
    // tables with its plans unchanged
    val plain = spark.newSession()
    plain.catalog.setCurrentDatabase("ss")
    shapes.zip(want).foreach { case (q, rs) =>
      val df = plain.sql(q)
      assert(exchanges(df) > 0, s"`$q` changed in a session with no engine")
      assert(!df.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Repartition]), q)
      assert(sorted(df) == rs, q)
    }
  }

  test("a global aggregate over an empty engine table or KV range " +
    "returns its one row") {
    val e = freshEngine()
    e.sql("create schema ea")
    e.sql("use ea")
    e.sql("create table empty_cow (id int, amount float, PRIMARY KEY(id))")
    e.sql("create table kv (k int, v char) using kv")
    e.sql("insert into kv values (1, 'a'), (2, 'b')")
    Seq("select count(*), max(amount) from empty_cow",
      "select count(*), max(v) from kv where k > 100").foreach { q =>
      val df = e.query(q)
      assert(exchanges(df) == 0, q)
      assert(df.collect().toSeq.map(_.toSeq) == Seq(Seq(0L, null)), q)
    }
  }
}

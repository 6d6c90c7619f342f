package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine._

/** MERGE INTO through the statement surface — the set-oriented upsert
  * the reference's users emulate with per-key INSERT-probe loops
  * (`/root/reference/src/physical_plan/insert.rs:195-218`). Covers
  * clause combinations, clause-order precedence, file-prune carry,
  * the multi-match 1105 guard, duplicate-key 1062 on the insert leg,
  * CDF visibility of merged rows, names resolved on the parsed plan,
  * and the forms the engine rejects.
  */
class MergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private var n = 0
  private def freshEngine(): GraftEngine = {
    val dir = ScratchDirs.create("graft_merge_")
    val e = new GraftEngine(spark, dir)
    n += 1
    e.sql(s"create schema m$n")
    e.sql(s"use m$n")
    e
  }

  private def rows(r: GraftResult): Seq[Seq[Any]] = r match {
    case ResultSet(df) => df.collect().toSeq.map(_.toSeq)
    case AffectedRows(c) => fail(s"expected rows, got count $c")
  }

  private def seedAccounts(e: GraftEngine): Unit = {
    e.sql("create table acct (id int, bal float, seg char, PRIMARY KEY(id))")
    e.sql("insert into acct values (1, 10.0, 'A'), (2, 20.0, 'B'), " +
      "(3, 30.0, 'A'), (4, 40.0, 'C')")
  }

  test("update + insert legs (classic upsert)") {
    val e = freshEngine()
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (2, 5.0), (4, -1.0), (9, 99.0)")
    val r = e.sql(
      """merge into acct t using delta d on t.id = d.id
        |when matched then update set bal = t.bal + d.amt
        |when not matched then insert (id, bal, seg) values (d.id, d.amt, 'NEW')
        |""".stripMargin)
    assert(r == AffectedRows(3)) // 2 updates + 1 insert
    assert(rows(e.sql("select id, bal, seg from acct order by id")) == Seq(
      Seq(1L, 10.0, "A"), Seq(2L, 25.0, "B"), Seq(3L, 30.0, "A"),
      Seq(4L, 39.0, "C"), Seq(9L, 99.0, "NEW")))
  }

  test("delete clause with AND condition; clause order wins") {
    val e = freshEngine()
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (1, 0.0), (3, 7.0)")
    // DELETE declared first: a matched row with amt = 0 deletes even
    // though the later unconditioned UPDATE would also apply
    val r = e.sql(
      """merge into acct t using delta d on t.id = d.id
        |when matched and d.amt = 0.0 then delete
        |when matched then update set bal = t.bal + d.amt""".stripMargin)
    assert(r == AffectedRows(2)) // 1 delete + 1 update
    assert(rows(e.sql("select id, bal from acct order by id")) == Seq(
      Seq(2L, 20.0), Seq(3L, 37.0), Seq(4L, 40.0)))
  }

  test("derived USING source (subquery) and insert-only merge") {
    val e = freshEngine()
    seedAccounts(e)
    val r = e.sql(
      """merge into acct t
        |using (select 7 as id, 70.0 as amt union all select 1, 1.0) s
        |on t.id = s.id
        |when not matched then insert (id, bal, seg) values (s.id, s.amt, 'X')
        |""".stripMargin)
    assert(r == AffectedRows(1))
    assert(rows(e.sql("select count(*) as n from acct")) == Seq(Seq(5L)))
    // matched row 1 untouched (no WHEN MATCHED clause)
    assert(rows(e.sql("select bal from acct where id = 1")) == Seq(Seq(10.0)))
  }

  test("multi-match raises 1105 when a MATCHED clause exists") {
    val e = freshEngine()
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (2, 1.0), (2, 2.0)")
    val ex = intercept[GraftException] {
      e.sql("merge into acct t using delta d on t.id = d.id " +
        "when matched then update set bal = d.amt")
    }
    assert(ex.code == 1105)
    // …but an insert-only merge tolerates source duplicates on ids
    // that do match (both rows match, neither inserts)
    val r = e.sql("merge into acct t using delta d on t.id = d.id " +
      "when not matched then insert (id, bal) values (d.id, d.amt)")
    assert(r == AffectedRows(0))
  }

  test("insert leg duplicate keys raise 1062") {
    val e = freshEngine()
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (8, 1.0), (8, 2.0)")
    val ex = intercept[GraftException] {
      e.sql("merge into acct t using delta d on t.id = d.id " +
        "when not matched then insert (id, bal) values (d.id, d.amt)")
    }
    assert(ex.code == 1062)
    // statement failed atomically: no partial insert
    assert(rows(e.sql("select count(*) as n from acct")) == Seq(Seq(4L)))
  }

  test("no-op merge commits no version; matched files carried") {
    val e = freshEngine()
    e.setVersionRetention(10)
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (100, 1.0)")
    val before = rows(e.sql("show versions for acct")).size
    // nothing matches and the AND-condition blocks the insert
    val r = e.sql("merge into acct t using delta d on t.id = d.id " +
      "when not matched and d.amt > 50.0 then insert (id, bal) values (d.id, d.amt)")
    assert(r == AffectedRows(0))
    assert(rows(e.sql("show versions for acct")).size == before)
  }

  test("merged rows are CDF-visible with stable rowids") {
    val e = freshEngine()
    e.setVersionRetention(10)
    seedAccounts(e) // v1
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (2, 5.0), (9, 99.0)")
    e.sql("merge into acct t using delta d on t.id = d.id " +
      "when matched then update set bal = t.bal + d.amt " +
      "when not matched then insert (id, bal, seg) values (d.id, d.amt, 'NEW')") // v2
    val ch = e.changes("acct", 1, 2).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(ch == Set(("update_preimage", 2L), ("update_postimage", 2L),
      ("insert", 9L)))
  }

  test("unconditioned MATCHED delete drops every matched row") {
    val e = freshEngine()
    seedAccounts(e)
    val r = e.sql(
      """merge into acct t using (select 'A' as seg) s on t.seg = s.seg
        |when matched then delete""".stripMargin)
    assert(r == AffectedRows(2))
    assert(rows(e.sql("select id from acct order by id")) ==
      Seq(Seq(2L), Seq(4L)))
  }

  test("views in the ON and AND conditions resolve as in a SELECT") {
    val e = freshEngine()
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (1, 1.0), (2, 2.0), (3, 3.0), (7, 7.0)")
    e.sql("create view segs as select id from acct where seg = 'A'")
    e.sql("create view big as select id from delta where amt >= 2.0")
    // ON: only segment-A rows match, so id 2 stays 20.0; AND: only
    // `big` rows update, so id 1 stays 10.0
    assert(e.sql(
      """merge into acct t using delta d
        |on t.id = d.id and t.id in (select id from segs)
        |when matched and d.id in (select id from big) then update set bal = d.amt
        |""".stripMargin) == AffectedRows(1))
    assert(e.sql(
      """merge into acct t using delta d on t.id = d.id
        |when not matched and d.id in (select id from big) then
        |  insert (id, bal, seg) values (d.id, d.amt, 'N')""".stripMargin) ==
      AffectedRows(1))
    assert(rows(e.sql("select id, bal, seg from acct order by id")) == Seq(
      Seq(1L, 10.0, "A"), Seq(2L, 20.0, "B"), Seq(3L, 3.0, "A"),
      Seq(4L, 40.0, "C"), Seq(7L, 7.0, "N")))
  }

  test("assignments and conditions are Spark expressions, CASE WHEN NOT included") {
    val e = freshEngine()
    seedAccounts(e)
    e.sql("create table delta (id int, amt float)")
    e.sql("insert into delta values (1, 5.0), (2, -5.0), (3, -1.0), (6, 6.0)")
    val r = e.sql(
      """merge into acct as t using delta as d on t.id = d.id
        |when matched and case when not d.amt > 0 then t.id = 2 else true end then
        |  update set bal = case when not d.amt > 0 then 0.0 else t.bal + d.amt end,
        |  seg = 'when matched then'
        |when not matched then insert (id, seg) values (d.id, 'when not matched')
        |""".stripMargin)
    assert(r == AffectedRows(3))
    assert(rows(e.sql("select id, bal, seg from acct order by id")) == Seq(
      Seq(1L, 15.0, "when matched then"), Seq(2L, 0.0, "when matched then"),
      Seq(3L, 30.0, "A"), Seq(4L, 40.0, "C"), Seq(6L, null, "when not matched")))
  }

  test("forms the engine does not run answer 1105") {
    val e = freshEngine()
    seedAccounts(e)
    def err(sql: String): GraftException = intercept[GraftException](e.sql(sql))
    val head = "merge into acct t using acct s on t.id = s.id "
    for ((clause, what) <- Seq(
        "when matched then update set *" -> "UPDATE SET *",
        "when not matched then insert *" -> "INSERT *",
        "when not matched by source then delete" -> "NOT MATCHED BY SOURCE")) {
      val ex = err(head + clause)
      assert(ex.code == 1105 && ex.msg.contains(what), ex.msg)
    }
    // INSERT must list its columns: Spark's MERGE grammar has no
    // column-less VALUES form, so the statement does not parse
    val ex = err(head + "when not matched then insert values (s.id, 1.0, 'x')")
    assert(ex.code == 1105 && ex.msg.contains("PARSE_SYNTAX_ERROR"), ex.msg)
    assert(rows(e.sql("select count(*) as n from acct")) == Seq(Seq(4L)))
  }

  test("parser and surface errors") {
    val e = freshEngine()
    seedAccounts(e)
    // derived source without alias
    assert(intercept[GraftException](e.sql(
      "merge into acct using (select 1 as id) on acct.id = id " +
        "when matched then delete")).msg.contains("requires an alias"))
    // no WHEN clause
    assertThrows[GraftException](e.sql(
      "merge into acct t using acct s on t.id = s.id"))
    // two UPDATE clauses
    assertThrows[GraftException](e.sql(
      "merge into acct t using acct s on t.id = s.id " +
        "when matched then update set bal = 1.0 " +
        "when matched and t.id = 2 then update set bal = 2.0"))
    // unknown assignment column
    assertThrows[GraftException](e.sql(
      "merge into acct t using acct s on t.id = s.id " +
        "when matched then update set nope = 1.0"))
    // external targets are read-only; kv targets are rejected
    e.sql("create table kvt (k int, v char) using kv")
    assertThrows[GraftException](e.sql(
      "merge into kvt t using acct s on t.k = s.id " +
        "when matched then delete"))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine._
import graft.sources.KvSegment

/** Managed KV tables through the engine statement surface — the
  * reference's KV-as-primary-store write path
  * (`/root/reference/src/store/engine/sled.rs:36-44`,
  * `src/physical_plan/insert.rs:29-104`, `delete.rs`, `update.rs`)
  * re-expressed as LSM segment appends + newest-wins shadowing behind
  * `CREATE TABLE … USING KV`. Covers DDL shape validation, INSERT
  * (values / select / overwrite-upsert / 1062 / 1048), UPDATE as an
  * O(matched) shadow append, DELETE on both the fence-pruned and the
  * full-rewrite path, OPTIMIZE compaction, range pushdown through
  * engine SQL, and catalog persistence across an engine restart.
  */
class KvEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshEngine(): (GraftEngine, String) = {
    val dir = ScratchDirs.create("graft_kv_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema t")
    e.sql("use t")
    (e, dir)
  }

  private def rows(r: GraftResult): Seq[Seq[Any]] = r match {
    case ResultSet(df) => df.collect().toSeq.map(_.toSeq)
    case AffectedRows(n) => fail(s"expected rows, got count $n")
  }

  private def code(body: => Any): Int =
    intercept[GraftException](body).code

  private def segDir(wh: String, table: String): String = {
    val base = new java.io.File(s"$wh/data/t/$table")
    val vs = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    vs.maxBy(_.getName.drop(1).toInt).getPath
  }

  test("create table using kv enforces the fixed (k INT, v CHAR) shape") {
    val (e, _) = freshEngine()
    assert(e.sql("create table ok (k int, v char) using kv") == AffectedRows(1))
    assert(code(e.sql("create table bad1 (a int, b char) using kv")) == 1105)
    assert(code(e.sql("create table bad2 (k char, v char) using kv")) == 1105)
    assert(code(e.sql("create table bad3 (k int, v char, w char) using kv")) == 1105)
    assert(code(e.sql("create table bad4 (k int, v char, UNIQUE uq (v)) using kv")) == 1105)
    // the key is implicitly PRIMARY; declaring it is accepted
    assert(e.sql("create table ok2 (k int, v char, PRIMARY KEY(k)) using kv") ==
      AffectedRows(1))
    assert(code(e.sql("create table bad5 (k int, v char) using csv")) == 1105)
  }

  test("show create table renders the kv format") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    val ddl = rows(e.sql("show create table kvt"))(0)(1).toString
    assert(ddl == "CREATE TABLE kvt (k INT CONSTRAINT nullable NOT NULL, " +
      "v CHAR CONSTRAINT nullable NOT NULL, CONSTRAINT PRIMARY PRIMARY KEY (k)) " +
      "USING KV", ddl)
  }

  test("insert values + select back through the connector") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    assert(e.sql("insert into kvt values (3, 'c'), (1, 'a'), (2, NULL)") ==
      AffectedRows(3))
    assert(rows(e.sql("select k, v from kvt order by k")) ==
      Seq(Seq(1L, "a"), Seq(2L, null), Seq(3L, "c")))
    // empty table before insert reads as zero rows, not an error
    e.sql("create table empty (k int, v char) using kv")
    assert(rows(e.sql("select count(*) as n from empty")) == Seq(Seq(0L)))
  }

  test("duplicate keys raise 1062: within the batch and against the image") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    assert(code(e.sql("insert into kvt values (1, 'a'), (1, 'b')")) == 1062)
    e.sql("insert into kvt values (1, 'a')")
    assert(code(e.sql("insert into kvt values (2, 'x'), (1, 'dup')")) == 1062)
    // the failed statement inserted nothing
    assert(rows(e.sql("select count(*) as n from kvt")) == Seq(Seq(1L)))
  }

  test("null key raises 1048") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    assert(code(e.sql("insert into kvt values (NULL, 'a')")) == 1048)
  }

  test("insert overwrite is the LSM upsert: newest segment shadows") {
    val (e, wh) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt values (1, 'old'), (2, 'keep')")
    assert(e.sql("insert overwrite into kvt values (1, 'new'), (3, 'add')") ==
      AffectedRows(2))
    assert(rows(e.sql("select k, v from kvt order by k")) ==
      Seq(Seq(1L, "new"), Seq(2L, "keep"), Seq(3L, "add")))
    // shadowing, not rewriting: both statements' segments are on disk
    assert(KvSegment.listSegments(segDir(wh, "kvt")).size == 2)
  }

  test("update appends only the matched keys and shadows newest-wins") {
    val (e, wh) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt select id as k, concat('v', id) as v " +
      "from range(1, 101)")
    val before = KvSegment.listSegments(segDir(wh, "kvt"))
    assert(e.sql("update kvt set v = upper(v) where k between 10 and 19") ==
      AffectedRows(10))
    val after = KvSegment.listSegments(segDir(wh, "kvt"))
    // O(matched): one appended segment holding exactly the 10 rows
    assert(after.size == before.size + 1)
    val appended = (after.toSet -- before.toSet).head
    assert(KvSegment.fenceIndex(appended).n == 10)
    assert(rows(e.sql("select v from kvt where k in (9, 10, 19, 20) order by k")) ==
      Seq(Seq("v9"), Seq("V10"), Seq("V19"), Seq("v20")))
    // the key is the identity: not assignable
    assert(code(e.sql("update kvt set k = 5 where k = 1")) == 1105)
    // predicate over the VALUE works too (matched via the merged image)
    assert(e.sql("update kvt set v = 'x' where v = 'V10'") == AffectedRows(1))
    assert(rows(e.sql("select v from kvt where k = 10")) == Seq(Seq("x")))
  }

  test("update and delete subqueries read engine views and VERSION AS OF") {
    val (e, _) = freshEngine()
    e.setVersionRetention(10) // every COW INSERT commits a version
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt select id as k, 'v' as v from range(1, 11)")
    e.sql("create table ks (id int, PRIMARY KEY(id))")
    e.sql("insert into ks values (1), (2), (3)") // ks v1
    e.sql("insert into ks values (4)")           // ks v2
    e.sql("create view kview as select id from ks where id >= 2")
    assert(e.sql("update kvt set v = 'w' where k in (select id from kview)") ==
      AffectedRows(3))
    assert(rows(e.sql("select k from kvt where v = 'w' order by k")) ==
      Seq(Seq(2L), Seq(3L), Seq(4L)))
    assert(e.sql("delete from kvt where k in (select id from ks version as of 1)") ==
      AffectedRows(3))
    assert(e.sql("delete from kvt x where x.k in (select id from kview)") ==
      AffectedRows(1))
    assert(e.sql("update kvt as x set v = 'z' where x.k = 5") == AffectedRows(1))
    assert(rows(e.sql("select count(*) as n from kvt")) == Seq(Seq(6L)))
  }

  test("small delete takes the fence-pruned path: untouched segments carried") {
    val (e, wh) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    // two disjoint key ranges land as two INSERT statements → two segments
    e.sql("insert into kvt select id as k, concat('a', id) as v from range(1, 51)")
    e.sql("insert into kvt select id as k, concat('b', id) as v from range(100, 151)")
    val v0 = segDir(wh, "kvt")
    val before = KvSegment.listSegments(v0).map(p => new java.io.File(p).getName)
    assert(before.size == 2)
    assert(e.sql("delete from kvt where k in (110, 120)") == AffectedRows(2))
    val v1 = segDir(wh, "kvt")
    assert(v1 != v0, "delete must commit a new version directory")
    assert(new java.io.File(v1, "_SUCCESS").exists())
    val after = KvSegment.listSegments(v1).map(p => new java.io.File(p).getName)
    // same segment names (sequence preserved); segment 1 carried untouched
    assert(after == before)
    assert(KvSegment.fenceIndex(s"$v1/${after.head}").n == 50)
    assert(KvSegment.fenceIndex(s"$v1/${after(1)}").n == 49)
    assert(rows(e.sql("select count(*) as n from kvt")) == Seq(Seq(99L)))
    assert(rows(e.sql("select count(*) as n from kvt where k between 109 and 121")) ==
      Seq(Seq(11L)))
  }

  test("delete of a shadowed key removes it from every segment") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt values (1, 'old1'), (2, 'old2')")
    e.sql("update kvt set v = 'new1' where k = 1") // k=1 now in two segments
    assert(e.sql("delete from kvt where k = 1") == AffectedRows(1))
    // the old copy must not resurface from the older segment
    assert(rows(e.sql("select k, v from kvt order by k")) == Seq(Seq(2L, "old2")))
  }

  test("delete above the key limit falls back to the distributed rewrite") {
    val (e, wh) = freshEngine()
    e.kvDeleteKeyLimit = 5
    try {
      e.sql("create table kvt (k int, v char) using kv")
      e.sql("insert into kvt select id as k, concat('v', id) as v from range(1, 101)")
      assert(e.sql("delete from kvt where k <= 90") == AffectedRows(90))
      assert(rows(e.sql("select count(*) as n, min(k) as lo from kvt")) ==
        Seq(Seq(10L, 91L)))
      assert(new java.io.File(segDir(wh, "kvt"), "_SUCCESS").exists())
      // delete matching nothing: no version churn
      val v = segDir(wh, "kvt")
      assert(e.sql("delete from kvt where k > 1000") == AffectedRows(0))
      assert(segDir(wh, "kvt") == v)
    } finally e.kvDeleteKeyLimit = 1000000
  }

  test("optimize compacts the segment stack to one; results unchanged") {
    val (e, wh) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt values (1, 'a'), (2, 'b')")
    e.sql("update kvt set v = 'B' where k = 2")
    e.sql("insert into kvt values (3, 'c')")
    assert(KvSegment.listSegments(segDir(wh, "kvt")).size == 3)
    assert(e.sql("optimize kvt") == AffectedRows(2))
    assert(KvSegment.listSegments(segDir(wh, "kvt")).size == 1)
    assert(rows(e.sql("select k, v from kvt order by k")) ==
      Seq(Seq(1L, "a"), Seq(2L, "B"), Seq(3L, "c")))
    assert(e.sql("optimize kvt") == AffectedRows(0))
  }

  test("range predicate through engine SQL reaches the connector as a RangeScan") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt select id as k, concat('v', id) as v from range(1, 1001)")
    val plan = rows(e.sql("explain select k, v from kvt where k between 10 and 20"))
      .map(_.mkString).mkString("\n")
    assert(plan.contains("RangeScan[10,20]"), plan)
    assert(rows(e.sql("select count(*) as n from kvt where k between 10 and 20")) ==
      Seq(Seq(11L)))
  }

  test("min/max through engine SQL answer from the fence index (agg pushdown)") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt select id as k, concat('v', id) as v from range(1, 501)")
    val plan = rows(e.sql("explain select min(k) as lo, max(k) as hi from kvt"))
      .map(_.mkString).mkString("\n")
    assert(plan.contains("PushedAggregates: [MIN(k), MAX(k)]"), plan)
    assert(rows(e.sql("select min(k) as lo, max(k) as hi from kvt")) ==
      Seq(Seq(1L, 500L)))
  }

  test("alter table and time travel are rejected on kv tables") {
    val (e, _) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    assert(code(e.sql("alter table kvt add column w char")) == 1105)
    assert(code(e.sql("alter table kvt drop column v")) == 1105)
    assert(code(e.sql("select * from kvt version as of 0")) == 1105)
  }

  test("kv tables survive an engine restart, including a delete's version bump") {
    val (e, wh) = freshEngine()
    e.sql("create table kvt (k int, v char) using kv")
    e.sql("insert into kvt select id as k, concat('v', id) as v from range(1, 21)")
    e.sql("update kvt set v = 'X' where k = 5")
    e.sql("delete from kvt where k = 7")
    val e2 = new GraftEngine(spark, wh)
    e2.sql("use t")
    assert(rows(e2.sql("select count(*) as n from kvt")) == Seq(Seq(19L)))
    assert(rows(e2.sql("select v from kvt where k = 5")) == Seq(Seq("X")))
    // still a kv table after reload: writable via the LSM path
    assert(e2.sql("insert into kvt values (100, 'z')") == AffectedRows(1))
    assert(code(e2.sql("insert into kvt values (100, 'dup')")) == 1062)
  }

  test("insert…select across tables: external parquet into kv") {
    val (e, _) = freshEngine()
    val src = ScratchDirs.create("graft_kv_src_") + "/src.parquet"
    spark.range(1, 11).selectExpr("id", "concat('n', id) as name")
      .write.parquet(src)
    e.sql(s"create external table src USING PARQUET LOCATION '$src'")
    e.sql("create table kvt (k int, v char) using kv")
    assert(e.sql("insert into kvt select id, name from src") == AffectedRows(10))
    assert(rows(e.sql(
      "select count(*) as n, min(k) as lo, max(k) as hi from kvt")) ==
      Seq(Seq(10L, 1L, 10L)))
  }
}

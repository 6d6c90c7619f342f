package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine._

/** OPTIMIZE … ZORDER BY: the clustering property itself. q69 gates
  * read-equivalence through the driver's oracle; these specs pin the
  * thing the rewrite is FOR — after z-ordering a 2-D key space into
  * several files, a tight range predicate on EITHER column finds its
  * rows concentrated in a small subset of files (per-file key
  * rectangles), which is what min/max footer pruning consumes at
  * scale. Also: maintained history stays readable, kv/unknown-column
  * rejection, and the incremental-maintenance operator's
  * group-algebra edge cases.
  */
class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshEngine(): (GraftEngine, String) = {
    val dir = ScratchDirs.create("graft_zo_wh_")
    val e = new GraftEngine(spark, dir)
    e.sql("create schema t")
    e.sql("use t")
    (e, dir)
  }

  private def rows(r: GraftResult): Seq[Seq[Any]] = r match {
    case ResultSet(df) => df.collect().toSeq.map(_.toSeq)
    case AffectedRows(n) => fail(s"expected rows, got count $n")
  }

  test("z-order clusters both dimensions: range queries touch few files") {
    val (e, wh) = freshEngine()
    // 64×64 grid inserted in row-major order: the natural layout
    // clusters y (consecutive rows share y) and scatters x
    val src = ScratchDirs.create("graft_zo_src_") + "/grid.parquet"
    spark.range(0, 4096).selectExpr("id % 64 as x", "id div 64 as y")
      .coalesce(1).write.parquet(src)
    e.sql(s"create external table src USING PARQUET LOCATION '$src'")
    e.sql("create table grid (x int, y int)")
    e.sql("insert into grid select x, y from src")
    e.optimizeTargetBytes = 4096 // force a multi-file rewrite at test size
    try {
      val written = e.sql("optimize grid zorder by (x, y)") match {
        case AffectedRows(n) => n
        case other => fail(s"expected count, got $other")
      }
      assert(written >= 4, s"want >=4 z-ordered files, got $written")
      // count distinct files containing rows of a tight range on each axis
      val dfGrid = spark.table("t.grid")
      def nFiles(c: String): Long = dfGrid
        .filter(col(c) >= 10 && col(c) <= 17)
        .select(input_file_name()).distinct().count()
      val total = dfGrid.select(input_file_name()).distinct().count()
      val fx = nFiles("x")
      val fy = nFiles("y")
      assert(total >= 4, s"total files $total")
      // an 1/8th range of either axis must live in at most half the files
      assert(fx * 2 <= total, s"x-range rows spread over $fx of $total files")
      assert(fy * 2 <= total, s"y-range rows spread over $fy of $total files")
      // data unchanged by the re-layout
      assert(rows(e.sql("select count(*) as n, sum(x) as sx, sum(y) as sy from grid")) ==
        Seq(Seq(4096L, 129024L, 129024L)))
    } finally e.optimizeTargetBytes = 128L * 1024 * 1024
  }

  test("zorder rejects kv tables, non-int and unknown columns, bad arity") {
    val (e, _) = freshEngine()
    e.sql("create table pq (a int, b char)")
    e.sql("create table kvt (k int, v char) using kv")
    def code(body: => Any): Int = intercept[GraftException](body).code
    assert(code(e.sql("optimize kvt zorder by (k, k)")) == 1105)
    assert(code(e.sql("optimize pq zorder by (a, b)")) == 1105) // b is char
    assert(code(e.sql("optimize pq zorder by (a)")) == 1105)
    assert(code(e.sql("optimize pq zorder by (a, nope)")) == 1054)
  }

  test("z-order rewrite is a version commit: prior history stays readable") {
    val (e, _) = freshEngine()
    val eng2 = e
    eng2.setVersionRetention(10)
    val src = ScratchDirs.create("graft_zo_src2_") + "/s.parquet"
    spark.range(0, 100).selectExpr("id as x", "(id * 7) % 100 as y")
      .write.parquet(src)
    eng2.sql(s"create external table src2 USING PARQUET LOCATION '$src'")
    eng2.sql("create table tz (x int, y int)")
    eng2.sql("insert into tz select x, y from src2") // v1 (retention > 2)
    eng2.sql("optimize tz zorder by (x, y)")         // v2
    assert(rows(eng2.sql("select count(*) as n from tz version as of 1")) ==
      Seq(Seq(100L)))
    assert(rows(eng2.sql("select count(*) as n from tz")) == Seq(Seq(100L)))
  }

  test("maintainGroupSum: update moving a row across groups, group death and birth") {
    import spark.implicits._
    val base = Seq(("a", 2L, 100L), ("b", 1L, 50L)).toDF("g", "cnt", "total")
    val changes = Seq(
      // one 'a' row (value 60) moves to group 'c'
      ("update_preimage", "a", 60L), ("update_postimage", "c", 60L),
      // the only 'b' row is deleted → group dies
      ("delete", "b", 50L),
      // fresh insert into 'a'
      ("insert", "a", 7L)
    ).toDF("_change_type", "g", "v")
    val out = graft.operators.Incremental
      .maintainGroupSum(base, changes, "g", col("v"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a", 2L, 47L), ("c", 1L, 60L)))
  }

  test("maintainGroupSum folded result equals recompute on random mutations") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val v1 = (1 to 500).map(i => (i.toLong, s"g${rnd.nextInt(7)}", rnd.nextInt(1000).toLong))
    // mutate: delete ids %7==0, update ids %5==0 (new value, maybe new group)
    val v2 = v1.filter(_._1 % 7 != 0).map {
      case (id, g, v) if id % 5 == 0 => (id, s"g${rnd.nextInt(7)}", v + 13L)
      case r => r
    }
    def changesOf = {
      val a = v1.map(t => t._1 -> t).toMap
      val b = v2.map(t => t._1 -> t).toMap
      val del = (a.keySet -- b.keySet).toSeq.map(k => ("delete", a(k)._2, a(k)._3))
      val upd = b.keySet.intersect(a.keySet).toSeq.filter(k => a(k) != b(k))
        .flatMap(k => Seq(("update_preimage", a(k)._2, a(k)._3),
          ("update_postimage", b(k)._2, b(k)._3)))
      del ++ upd
    }
    val base = v1.map(t => (t._2, t._3)).toDF("g", "v")
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("total"))
    val maintained = graft.operators.Incremental
      .maintainGroupSum(base, changesOf.toDF("_change_type", "g", "v"), "g", col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val recomputed = v2.groupBy(_._2).map { case (g, rs) =>
      (g, rs.size.toLong, rs.map(_._3).sum)
    }.toSet
    assert(maintained == recomputed)
  }
}

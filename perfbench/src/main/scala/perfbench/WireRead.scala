package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `wire_read`: three closed-loop connections run a read-only mix
  * over a COW table (`acct`) and a KV table (`kv`, keyed like the
  * first half of `acct`) that set-up loads from the seed. Every reply
  * is checked against the generated rows. */
final class WireRead(spark: SparkSession, seed: Long) extends Workload {
  val roundSeconds = 1.25 // eight timed rounds at --seconds 10
  val clients = 3
  val schema = "bench"

  val N = 10000 // acct rows, ids 1..N
  val M = 5000 // kv keys, 1..M
  val Groups = 50
  val Wide = 3000
  val Span = 50

  private val gen = Rng(seed, 1, 0)
  private val grp = Array.fill(N + 1)(gen.nextInt(Groups))
  private val amount = Array.fill(N + 1)(gen.nextInt(10000).toDouble)
  private val tag = Array.fill(N + 1)("t" + gen.nextInt(1000))
  private val kvv = Array.fill(M + 1)("v" + java.lang.Long.toHexString(gen.nextLong() & 0xffffffffL))
  private val grpCount = Array.tabulate(Groups)(g => (1 to N).count(grp(_) == g).toLong)
  private val grpSum = Array.tabulate(Groups)(g => (1 to N).filter(grp(_) == g).map(amount).sum)
  private val kvGrpCount = Array.tabulate(Groups)(g => (1 to M).count(grp(_) == g).toLong)
  private val kvGrpSum = Array.tabulate(Groups)(g => (1 to M).filter(grp(_) == g).map(amount).sum)
  private def acctRow(i: Int): Seq[Any] = Seq(i.toLong, grp(i).toLong, amount(i), tag(i))

  private var served: Served = _
  private var conns: Seq[WireClient] = Nil
  private var rowsReturned = 0L

  def setup(dir: String, tracer: Option[Tracer]): Unit = {
    close()
    val s = new Served(spark, dir, tracer)
    s.engine.sql(s"create schema $schema")
    s.engine.sql(s"use $schema")
    s.engine.sql("create table acct (id int, grp int, amount float, tag char, PRIMARY KEY(id))")
    s.engine.sql("create table kv (k int, v char) using kv")
    s.load(schema, "acct", Seq("id", "grp", "amount", "tag"),
      (1 to N).map(i => Row(i.toLong, grp(i).toLong, amount(i), tag(i))),
      StructType(Seq(StructField("id", LongType), StructField("grp", LongType),
        StructField("amount", DoubleType), StructField("tag", StringType))))
    s.load(schema, "kv", Seq("k", "v"), (1 to M).map(k => Row(k.toLong, kvv(k))),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    served = s
    conns = (0 until clients).map(_ => s.connect(schema))
    rowsReturned = 0L
  }

  /** One round: ten statements, rotated per client so that the three
    * connections run different statement kinds at the same time. */
  def round(c: Int, r: Int, ctx: Ctx): Unit = {
    val rng = Rng(seed, 100 + c, r)
    val conn = conns(c)
    def key(n: Int) = 1 + rng.nextInt(n)
    val ops: Seq[() => Unit] = Seq(
      { val x = key(N); () => read(ctx, conn, "cow_point",
        s"select id, grp, amount, tag from acct where id = $x", Seq(acctRow(x))) },
      { val x = key(M); () => read(ctx, conn, "kv_point",
        s"select k, v from kv where k = $x", Seq(Seq(x.toLong, kvv(x)))) },
      { val a = key(M - Span + 1); () => read(ctx, conn, "kv_range",
        s"select k, v from kv where k >= $a and k < ${a + Span} order by k",
        (a until a + Span).map(k => Seq(k.toLong, kvv(k)))) },
      { val g = 5 + rng.nextInt(10); () => read(ctx, conn, "agg",
        s"select grp, count(*), sum(amount) from acct where grp < $g group by grp order by grp",
        (0 until g).map(i => Seq[Any](i.toLong, grpCount(i), grpSum(i)))) },
      { val x = key(N); () => read(ctx, conn, "cow_point",
        s"select id, grp, amount, tag from acct where id = $x", Seq(acctRow(x))) },
      { val g = rng.nextInt(Groups); () => read(ctx, conn, "join",
        "select a.grp, count(*), sum(a.amount) from acct a join kv k " +
          s"on a.id = k.k where a.grp = $g group by a.grp",
        Seq(Seq[Any](g.toLong, kvGrpCount(g), kvGrpSum(g)))) },
      { val x = key(M); () => read(ctx, conn, "kv_point",
        s"select k, v from kv where k = $x", Seq(Seq(x.toLong, kvv(x)))) },
      { val a = rng.nextInt(N - Wide + 1); () => read(ctx, conn, "wide",
        s"select id, grp, amount, tag from acct where id > $a and id <= ${a + Wide} order by id",
        (a + 1 to a + Wide).map(acctRow)) },
      () => readSorted(ctx, conn, "show", "show tables", Seq("acct", "kv")),
      () => readSorted(ctx, conn, "describe", "describe acct", Seq("amount", "grp", "id", "tag")),
    )
    val k = (c * 3) % ops.size
    (ops.drop(k) ++ ops.take(k)).foreach(_())
  }

  private def read(ctx: Ctx, conn: WireClient, op: String, sql: String,
      want: Seq[Seq[Any]]): Unit =
    ctx.op(op)(conn.query(sql)).foreach { rep =>
      val got = ctx.planted(rep.rows)
      synchronized { rowsReturned += got.size }
      if (!Expect.rows(got, want))
        ctx.problem(s"$op: `$sql` returned ${got.take(3)} (${got.size} rows), " +
          s"expected ${want.take(3)} (${want.size} rows)")
    }

  /** Catalog listings: the first column, as a set. */
  private def readSorted(ctx: Ctx, conn: WireClient, op: String, sql: String,
      want: Seq[String]): Unit =
    ctx.op(op)(conn.query(sql)).foreach { rep =>
      val got = ctx.planted(rep.rows)
      synchronized { rowsReturned += got.size }
      if (got.map(_.head).sorted != want)
        ctx.problem(s"$op: `$sql` listed ${got.map(_.head)}, expected $want")
    }

  def finish(ctx: Ctx): Unit = ()

  def storeBytesPerRow: Double = served.storeBytes.toDouble / (N + M)

  def layerCounters: Map[String, Double] = Map(
    "wire_bytes" -> conns.map(_.bytesIn).sum.toDouble,
    "rows_returned" -> rowsReturned.toDouble,
    "table_files" -> served.liveFiles(schema, "acct").toDouble,
    "segments" -> served.liveFiles(schema, "kv").toDouble)

  def close(): Unit = {
    conns.foreach(_.close()); conns = Nil
    if (served != null) served.close()
    served = null
  }
}

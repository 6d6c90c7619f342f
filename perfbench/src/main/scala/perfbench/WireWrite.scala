package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `wire_write`: one connection runs single-row writes by key on a
  * COW table (`wacct`) and a KV table (`wkv`), an upsert, a short
  * transaction, read-backs of just-written rows and an aggregate over
  * the growing tables. The client keeps its own model of both tables;
  * every affected-row count and every read must match it, and so must
  * a final count and checksum of each table. */
final class WireWrite(spark: SparkSession, seed: Long) extends Workload {
  val roundSeconds = 3.5 // three timed rounds at --seconds 10
  val clients = 1
  val schema = "bench"
  val N0 = 1000 // initial rows of each table, keys 1..N0

  private var cow = mutable.TreeMap[Long, (Long, Double, String)]()
  private var kv = mutable.TreeMap[Long, String]()
  private var nextId = 0L
  private var served: Served = _
  private var conn: WireClient = _
  private var traced = false
  private var seenFiles = Set.empty[String]
  private var counts = mutable.Map[String, Double]().withDefaultValue(0.0)

  def setup(dir: String, tracer: Option[Tracer]): Unit = {
    close()
    val gen = Rng(seed, 2, 0)
    cow = mutable.TreeMap((1 to N0).map(i => i.toLong ->
      (gen.nextInt(50).toLong, gen.nextInt(10000).toDouble, "t" + gen.nextInt(1000))): _*)
    kv = mutable.TreeMap((1 to N0).map(k => k.toLong -> ("v" + gen.nextInt(1 << 20))): _*)
    nextId = 1000000L
    val s = new Served(spark, dir, tracer)
    s.engine.sql(s"create schema $schema")
    s.engine.sql(s"use $schema")
    s.engine.sql("create table wacct (id int, grp int, amount float, tag char, PRIMARY KEY(id))")
    s.engine.sql("create table wkv (k int, v char) using kv")
    s.load(schema, "wacct", Seq("id", "grp", "amount", "tag"),
      cow.toSeq.map { case (i, (g, a, t)) => Row(i, g, a, t) },
      StructType(Seq(StructField("id", LongType), StructField("grp", LongType),
        StructField("amount", DoubleType), StructField("tag", StringType))))
    s.load(schema, "wkv", Seq("k", "v"), kv.toSeq.map { case (k, v) => Row(k, v) },
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    served = s
    conn = s.connect(schema)
    traced = tracer.isDefined
    seenFiles = if (traced) s.dataFiles.map(_.getPath).toSet else Set.empty
    counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  }

  private def pick[K](m: mutable.TreeMap[K, _], rng: java.util.SplittableRandom): K =
    m.keysIteratorFrom(m.firstKey).drop(rng.nextInt(m.size)).next()

  /** A write: checks the affected-row count, then applies `model`. In
    * the traced run it also counts the data files the statement left. */
  private def write(ctx: Ctx, op: String, sql: String, want: Long)(model: => Unit): Unit = {
    ctx.op(op)(conn.query(sql)).foreach { rep =>
      if (rep.affected != want)
        ctx.problem(s"$op: `$sql` affected ${rep.affected} rows, expected $want")
    }
    if (!ctx.skipModelOnce()) model
    if (traced && Tracer.kindOf(sql) == "dml") {
      val now = served.dataFiles.map(_.getPath).toSet
      counts("dml") += 1
      counts("files_written") += (now -- seenFiles).size
      seenFiles = now
    }
  }

  private def read(ctx: Ctx, op: String, sql: String, want: Seq[Seq[Any]]): Unit =
    ctx.op(op)(conn.query(sql)).foreach { rep =>
      counts("rows_returned") += rep.rows.size
      if (!Expect.rows(rep.rows, want))
        ctx.problem(s"$op: `$sql` returned ${rep.rows.take(3)}, expected ${want.take(3)}")
    }

  private def cowRow(id: Long): Seq[Seq[Any]] =
    cow.get(id).map { case (g, a, t) => Seq(Seq(id, g, a, t)) }.getOrElse(Nil)
  private def kvRow(k: Long): Seq[Seq[Any]] = kv.get(k).map(v => Seq(Seq(k, v))).getOrElse(Nil)

  def round(c: Int, r: Int, ctx: Ctx): Unit = {
    val rng = Rng(seed, 200, r)
    val g = rng.nextInt(50).toLong
    val a = rng.nextInt(10000).toDouble
    val id = { nextId += 1; nextId }
    write(ctx, "cow_insert", s"insert into wacct values ($id, $g, $a, 'i$r')", 1)(
      cow(id) = (g, a, s"i$r"))
    read(ctx, "cow_readback", s"select id, grp, amount, tag from wacct where id = $id", cowRow(id))

    val uk = pick(kv, rng)
    write(ctx, "kv_update", s"update wkv set v = 'u$r' where k = $uk", 1)(kv(uk) = s"u$r")
    read(ctx, "kv_readback", s"select k, v from wkv where k = $uk", kvRow(uk))

    val ui = pick(cow, rng)
    val d = 1 + rng.nextInt(100)
    write(ctx, "cow_update", s"update wacct set amount = amount + $d where id = $ui", 1) {
      val (g0, a0, t0) = cow(ui); cow(ui) = (g0, a0 + d, t0)
    }

    val nk = { nextId += 1; nextId }
    write(ctx, "kv_insert", s"insert into wkv values ($nk, 'n$r')", 1)(kv(nk) = s"n$r")

    val oi = pick(cow, rng)
    write(ctx, "cow_upsert", s"insert into wacct values ($oi, 0, 0, 'o$r') " +
      "on duplicate key update amount = amount + 1", 2) {
      val (g0, a0, t0) = cow(oi); cow(oi) = (g0, a0 + 1, t0)
    }

    val di = pick(cow, rng)
    write(ctx, "cow_delete", s"delete from wacct where id = $di", 1)(cow.remove(di))
    val dk = pick(kv, rng)
    write(ctx, "kv_delete", s"delete from wkv where k = $dk", 1)(kv.remove(dk))

    val tid = { nextId += 1; nextId }
    val ti = pick(cow, rng)
    write(ctx, "txn_begin", "begin", 0)(())
    write(ctx, "txn_insert", s"insert into wacct values ($tid, $g, $a, 'x$r')", 1)(
      cow(tid) = (g, a, s"x$r"))
    write(ctx, "txn_update", s"update wacct set tag = 'b$r' where id = $ti", 1) {
      val (g0, a0, _) = cow(ti); cow(ti) = (g0, a0, s"b$r")
    }
    write(ctx, "txn_commit", "commit", 0)(())

    read(ctx, "cow_aggregate", "select count(*), sum(amount) from wacct",
      Seq(Seq[Any](cow.size.toLong, cow.values.map(_._2).sum)))
    read(ctx, "kv_aggregate", "select count(*), sum(k) from wkv",
      Seq(Seq(kv.size.toLong, kv.keys.sum)))
  }

  private def crc(s: String): Long = {
    val c = new java.util.zip.CRC32; c.update(s.getBytes("UTF-8")); c.getValue
  }

  /** Final count and checksum of each table against the model. */
  def finish(ctx: Ctx): Unit = {
    def check(sql: String, want: Seq[Any]): Unit = {
      val got = conn.query(sql).rows
      if (!Expect.rows(got, Seq(want)))
        ctx.problem(s"final `$sql` returned ${got.headOption}, expected $want")
    }
    check("select count(*), sum(id), sum(amount), sum(crc32(tag)) from wacct",
      Seq[Any](cow.size.toLong, cow.keys.sum, cow.values.map(_._2).sum,
        cow.values.map(v => crc(v._3)).sum))
    check("select count(*), sum(k), sum(crc32(v)) from wkv",
      Seq[Any](kv.size.toLong, kv.keys.sum, kv.values.map(crc).sum))
  }

  def storeBytesPerRow: Double = served.storeBytes.toDouble / (cow.size + kv.size)

  def layerCounters: Map[String, Double] = Map(
    "wire_bytes" -> conn.bytesIn.toDouble,
    "rows_returned" -> counts("rows_returned"),
    "dml" -> counts("dml"),
    "files_written" -> counts("files_written"),
    "table_files" -> served.liveFiles(schema, "wacct").toDouble,
    "segments" -> served.liveFiles(schema, "wkv").toDouble)

  def close(): Unit = {
    if (conn != null) conn.close()
    conn = null
    if (served != null) served.close()
    served = null
  }
}

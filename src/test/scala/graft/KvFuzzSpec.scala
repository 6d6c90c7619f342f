package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.engine._

/** Model-based fuzz of the managed-KV DML surface: a random statement
  * stream (INSERT / INSERT OVERWRITE / UPDATE / DELETE / OPTIMIZE /
  * engine restart) runs against BOTH the engine's LSM table and a
  * driver-side `Map[Long, Option[String]]` model, and the visible
  * image must match the model after every statement. This is the
  * check that newest-wins shadowing, duplicate rejection, the
  * fence-pruned delete, compaction and catalog reload COMPOSE — each
  * is spec'd in isolation in KvEngineSpec; the fuzz walks their
  * interleavings.
  */
class KvFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("random kv DML stream matches the map model (seed 1234, 90 ops)") {
    val wh = ScratchDirs.create("graft_kvfuzz_")
    var eng = new GraftEngine(spark, wh)
    eng.sql("create schema f"); eng.sql("use f")
    eng.sql("create table kvt (k int, v char) using kv")
    val rnd = new scala.util.Random(1234)
    val model = scala.collection.mutable.Map.empty[Long, Option[String]]

    def lit(v: Option[String]): String = v.map(s => s"'$s'").getOrElse("NULL")
    def randKeys(n: Int): Seq[Long] =
      rnd.shuffle((0L until 200L).toList).take(n)

    def checkImage(): Unit = {
      val got = (eng.sql("select k, v from kvt order by k") match {
        case ResultSet(df) => df
        case other => fail(s"expected rows, got $other")
      }).collect().map(r => r.getLong(0) -> Option(r.getString(1))).toSeq
      val want = model.toSeq.sortBy(_._1)
      assert(got == want, s"image diverged from model: got=${got.take(10)}… want=${want.take(10)}…")
    }

    (1 to 90).foreach { i =>
      rnd.nextInt(10) match {
        case 0 | 1 => // INSERT fresh keys (only keys absent from the model)
          val ks = randKeys(1 + rnd.nextInt(20)).filterNot(model.contains)
          if (ks.nonEmpty) {
            val vals = ks.map(k => k -> (if (rnd.nextInt(8) == 0) None
              else Some(s"v${k}_$i")))
            val res = eng.sql("insert into kvt values " +
              vals.map { case (k, v) => s"($k, ${lit(v)})" }.mkString(", "))
            assert(res == AffectedRows(vals.size))
            vals.foreach { case (k, v) => model(k) = v }
          }
        case 2 => // INSERT hitting an existing key → 1062, model unchanged
          if (model.nonEmpty) {
            val dup = model.keys.head
            val fresh = (200L + rnd.nextInt(50)).toLong
            val ex = intercept[GraftException](eng.sql(
              s"insert into kvt values ($fresh, 'x'), ($dup, 'dup')"))
            assert(ex.code == 1062)
            assert(!model.contains(fresh)) // failed statement inserted nothing
          }
        case 3 | 4 => // INSERT OVERWRITE = upsert
          val ks = randKeys(1 + rnd.nextInt(15))
          val vals = ks.map(k => k -> Some(s"o${k}_$i"))
          val res = eng.sql("insert overwrite into kvt values " +
            vals.map { case (k, v) => s"($k, ${lit(v)})" }.mkString(", "))
          assert(res == AffectedRows(vals.size))
          vals.foreach { case (k, v) => model(k) = v }
        case 5 | 6 => // UPDATE a key range (null-safe concat)
          val lo = rnd.nextInt(200); val hi = lo + rnd.nextInt(60)
          val res = eng.sql("update kvt set v = concat(coalesce(v, ''), 'u') " +
            s"where k between $lo and $hi")
          val touched = model.keys.filter(k => k >= lo && k <= hi).toSeq
          assert(res == AffectedRows(touched.size))
          touched.foreach(k => model(k) = Some(model(k).getOrElse("") + "u"))
        case 7 => // DELETE by range or by value predicate
          if (rnd.nextBoolean()) {
            val lo = rnd.nextInt(200); val hi = lo + rnd.nextInt(40)
            val res = eng.sql(s"delete from kvt where k between $lo and $hi")
            val dead = model.keys.filter(k => k >= lo && k <= hi).toSeq
            assert(res == AffectedRows(dead.size))
            dead.foreach(model.remove)
          } else {
            val m = 2 + rnd.nextInt(5)
            val res = eng.sql(s"delete from kvt where k % $m = 0")
            val dead = model.keys.filter(_ % m == 0).toSeq
            assert(res == AffectedRows(dead.size))
            dead.foreach(model.remove)
          }
        case 8 => // OPTIMIZE: visible image must be invariant
          eng.sql("optimize kvt")
        case 9 => // restart: catalog + data survive
          eng = new GraftEngine(spark, wh)
          eng.sql("use f")
      }
      if (i % 3 == 0) checkImage()
    }
    checkImage()
    assert(model.nonEmpty, "degenerate run: model ended empty")
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One-off diagnostic main for the engine statement-surface scale
  * evidence (BENCH_NOTES.md): replays the q63-shaped mutation chain
  * (INSERT…SELECT → selective COW UPDATE → COW DELETE → aggregate
  * read) against the ORDERS table — 10× the customer table the q63
  * battery entry uses — for BOTH managed formats:
  *
  *  - parquet (COW versions + time travel): checks the file-pruned
  *    mutation property at a bigger table — UPDATE/DELETE wall must
  *    track files TOUCHED by the predicate, not table size, and the
  *    probe prints per-version parquet file counts so the prune is
  *    visible, not inferred.
  *  - kv (LSM segment appends): the same chain through the managed
  *    KV path — UPDATE cost is O(matched) appended rows, DELETE is
  *    the fence-pruned version commit.
  *
  * Usage: runMain graft.ScaleProbe [sfDir]. Prints one JSON line per
  * statement: {"probe":…,"stmt":…,"sec":…,"files":…}.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed(probe: String, stmt: String, files: => String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"$probe","stmt":"$stmt","sec":$dt%.2f,"files":"$files"}""")
    }

    def segFiles(wh: String, table: String, ext: String): String = {
      val base = new java.io.File(s"$wh/data/probe/$table")
      Option(base.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .sortBy(_.getName.drop(1).toInt)
        .map { d =>
          val n = Option(d.listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(ext))
          s"${d.getName}:$n"
        }.mkString(",")
    }

    // ---- managed parquet: COW + time travel at orders size ----------
    {
      val wh = ScratchDirs.create("graft_probe_pq_")
      val eng = new graft.engine.GraftEngine(spark, wh, initialRetention = 10)
      eng.sql("create schema probe"); eng.sql("use probe")
      eng.sql(s"create external table src USING PARQUET LOCATION '$sfDir/orders.parquet'")
      eng.sql("""create table ord (o_orderkey int, o_custkey int,
        o_orderstatus char, o_totalprice float, o_orderpriority char,
        PRIMARY KEY(o_orderkey))""")
      def fs = segFiles(wh, "ord", ".parquet")
      // four range-disjoint insert commits → four data files, so the
      // file-pruned COW property is OBSERVABLE: a low-key mutation
      // must carry the other files as hard links, not rewrite them
      val maxKey = spark.read.parquet(s"$sfDir/orders.parquet")
        .agg(org.apache.spark.sql.functions.max("o_orderkey")).head().getLong(0)
      val step = maxKey / 4 + 1
      timed("parquet", "insert_select_150k_x4", fs) {
        (0L until 4L).foreach { i =>
          eng.sql(s"""insert into ord select o_orderkey, o_custkey,
            o_orderstatus, o_totalprice, o_orderpriority from src
            where o_orderkey >= ${i * step} and o_orderkey < ${(i + 1) * step}""")
        }
      }
      timed("parquet", "update_low_file_only", fs) {
        eng.sql(s"update ord set o_totalprice = 0.0 where o_orderkey < ${step / 40}")
      }
      timed("parquet", "delete_low_file_only", fs) {
        eng.sql(s"delete from ord where o_orderkey < ${step / 80}")
      }
      timed("parquet", "update_full_scan_touch_all", fs) {
        eng.sql("update ord set o_totalprice = 1.0 where o_orderkey % 1000 = 7")
      }
      timed("parquet", "read_travel_agg", fs) {
        eng.sql("""select count(*) as n from ord version as of 1""") match {
          case graft.engine.ResultSet(df) => df.collect()
          case _ => ()
        }
      }
    }

    // ---- managed kv: LSM chain at orders size -----------------------
    {
      val wh = ScratchDirs.create("graft_probe_kv_")
      val eng = new graft.engine.GraftEngine(spark, wh)
      eng.sql("create schema probe"); eng.sql("use probe")
      eng.sql(s"create external table src USING PARQUET LOCATION '$sfDir/orders.parquet'")
      eng.sql("create table kvt (k int, v char) using kv")
      def fs = segFiles(wh, "kvt", ".seg")
      timed("kv", "insert_select_150k", fs) {
        eng.sql("insert into kvt select o_orderkey, o_orderpriority from src")
      }
      timed("kv", "update_range_1k", fs) {
        eng.sql("update kvt set v = upper(v) where k between 10000 and 11000")
      }
      timed("kv", "delete_pruned", fs) {
        eng.sql("delete from kvt where k % 1000 = 7")
      }
      timed("kv", "range_agg_read", fs) {
        eng.sql("""select v, count(*) as n from kvt
          where k between 5000 and 100000 group by v""") match {
          case graft.engine.ResultSet(df) => df.collect()
          case _ => ()
        }
      }
    }

    // ---- transaction-batched catalog flush: an N-statement load
    // script inside BEGIN…COMMIT pays ONE info-schema write, vs one
    // per statement under autocommit (writeVersion defers to endTxn)
    {
      val wh = ScratchDirs.create("graft_probe_tx_")
      val eng = new graft.engine.GraftEngine(spark, wh, initialRetention = 40)
      eng.sql("create schema probe"); eng.sql("use probe")
      eng.sql(s"create external table src USING PARQUET LOCATION '$sfDir/customer.parquet'")
      eng.sql("""create table c (c_custkey int, c_acctbal float,
        PRIMARY KEY(c_custkey))""")
      eng.sql("insert into c select c_custkey, c_acctbal from src")
      val n = 16
      def chain(eng: graft.engine.GraftEngine): Unit =
        (1 to n).foreach(i =>
          eng.sql(s"update c set c_acctbal = c_acctbal + 1.0 where c_custkey % $n = ${i - 1}"))
      val w0 = eng.infoWriteCount
      timed("txn", s"autocommit_${n}_updates",
          s"catalog_writes:${eng.infoWriteCount - w0}") {
        chain(eng)
      }
      val w1 = eng.infoWriteCount
      timed("txn", s"begin_commit_${n}_updates",
          s"catalog_writes:${eng.infoWriteCount - w1}") {
        eng.sql("begin"); chain(eng); eng.sql("commit")
      }
    }
    spark.stop()
  }
}

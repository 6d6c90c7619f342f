package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftEngine
import graft.wire.{MysqlServer, TextClient}

/** Results whose rows the engine already holds on the driver (SHOW,
  * DESCRIBE, EXPLAIN, VALUES) reach a wire client with no Spark job,
  * on the text protocol (COM_QUERY) and the binary one
  * (COM_STMT_EXECUTE). Each reply keeps the column names, types and
  * nullability the engine's earlier `Seq[Tuple].toDF(...)` form gave
  * it: the expected schemas below are built with `toDF` itself. A
  * SELECT of constants folds to a local relation and runs no job
  * either. A SELECT that reads a multi-partition scan streams in
  * batches of up to `defaultParallelism` (4) partitions, one job per
  * batch, and returns exactly the rows of `collect()` in order. The
  * wire reads every column type from Spark's internal rows with no
  * encoder; each cell goes out as the encoder's `Row` value would.
  */
class LocalResultSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // keep the ORDER BY result at 4 partitions, so it really streams
    .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val jobs = new AtomicInteger
  private lazy val wh = ScratchDirs.create("graft_local_result_")
  private lazy val eng = new GraftEngine(spark, wh)
  private lazy val srv = new MysqlServer(eng)
  private lazy val client = new TextClient("127.0.0.1", srv.boundPort)

  override def beforeAll(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    eng.sql("create schema lr")
    eng.sql("use lr")
    eng.sql("create table acct (id int, name char, score float, PRIMARY KEY(id))")
    eng.sql("insert into acct values (1, 'ann', 1.5), (2, NULL, 2.5)")
    eng.sql("update acct set score = 3.5 where id = 2")
    eng.sql("create table audit (code char, n int)")
    client.query("use lr")
  }

  override def afterAll(): Unit = {
    client.close()
    srv.close()
    spark.stop()
  }

  /** Spark jobs started while `f` ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    SpecBus.drain(spark.sparkContext)
    val before = jobs.get
    val a = f
    SpecBus.drain(spark.sparkContext)
    (a, jobs.get - before)
  }

  private def text(rows: Seq[Row]): Seq[Seq[Option[String]]] =
    rows.map(_.toSeq.map(v => Option(v).map(String.valueOf)))

  /** Binary rows carry LONGLONG and DOUBLE as numbers, the rest as
    * strings. */
  private def binary(rows: Seq[Row]): Seq[Seq[Option[Any]]] =
    rows.map(_.toSeq.map(v => Option(v).map {
      case l: Long => l
      case d: Double => d
      case other => other.toString
    }))

  /** The schema `Seq[T].toDF(names: _*)` gives. */
  private def toDFSchema[T <: Product: scala.reflect.runtime.universe.TypeTag](
      names: String*): StructType = {
    val s = spark
    import s.implicits._
    Seq.empty[T].toDF(names: _*).schema
  }

  private val describeRows = Seq(
    Row("id", "int", "NO", "PRI", "NULL", ""),
    Row("name", "char", "NO", "", "NULL", ""),
    Row("score", "float", "NO", "", "NULL", ""))

  /** (statement, schema, expected rows or None when they vary per
    * call or per session). */
  private lazy val cases: Seq[(String, StructType, Option[Seq[Row]])] = Seq(
    ("show tables",
      toDFSchema[Tuple1[String]]("Tables_in_lr"),
      Some(Seq(Row("acct"), Row("audit")))),
    ("show full tables like 'ac%'",
      toDFSchema[(String, String)]("Tables_in_lr", "Table_type"),
      Some(Seq(Row("acct", "BASE TABLE")))),
    ("describe acct",
      toDFSchema[(String, String, String, String, String, String)](
        "Field", "Type", "Null", "Key", "Default", "Extra"),
      Some(describeRows)),
    ("show columns from acct",
      toDFSchema[(String, String, String, String, String, String)](
        "Field", "Type", "Null", "Key", "Default", "Extra"),
      Some(describeRows)),
    ("show variables where Variable_name like 'transaction%'",
      toDFSchema[(String, String)]("Variable_name", "Value"),
      Some(Seq(Row("transaction_isolation", "REPEATABLE-READ"),
        Row("transaction_read_only", "0")))),
    ("show processlist",
      toDFSchema[(Long, String, String, String, String, Long, String, String)](
        "Id", "User", "Host", "db", "Command", "Time", "State", "Info"),
      None),
    ("show versions for acct",
      toDFSchema[(Long, String, Long, Long, String)](
        "Version", "Committed", "Files", "Bytes", "Current"),
      None),
    ("explain select id, score from acct where id = 2",
      toDFSchema[(String, String)]("plan_type", "plan"),
      None),
    ("values (1, 'a'), (2, 'b')",
      StructType(Seq(StructField("col1", IntegerType, nullable = false),
        StructField("col2", StringType, nullable = false))),
      Some(Seq(Row(1, "a"), Row(2, "b")))),
    ("show databases",
      toDFSchema[Tuple1[String]]("Database"),
      None),
    ("show create table acct",
      toDFSchema[(String, String)]("Table", "Create Table"),
      None),
    ("show engines",
      toDFSchema[(String, String, String, String, String, String)](
        "Engine", "Support", "Comment", "Transactions", "XA", "Savepoints"),
      Some(Seq(Row("Parquet", "DEFAULT", "Columnar parquet storage on Spark",
        "NO", "NO", "NO")))),
    ("show charset",
      toDFSchema[(String, String, String, Long)](
        "Charset", "Description", "Default collation", "Maxlen"),
      Some(Seq(Row("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_ai_ci", 4L)))),
    ("show collation",
      toDFSchema[(String, String, Long, String, String, Long)](
        "Collation", "Charset", "Id", "Default", "Compiled", "Sortlen"),
      Some(Seq(Row("utf8mb4_0900_ai_ci", "utf8mb4", 255L, "Yes", "Yes", 0L)))),
    ("show grants",
      toDFSchema[Tuple1[String]]("Grants for root@%"),
      Some(Seq(Row("GRANT ALL PRIVILEGES ON *.* TO 'root'@'%'")))),
    ("show privileges",
      toDFSchema[(String, String, String)]("Privilege", "Context", "Comment"),
      None),
    ("show table status",
      toDFSchema[(String, String, Long)]("Name", "Engine", "Version"),
      None),
  )

  test("driver-local results keep the toDF shapes and rows, and reach " +
    "both protocols with no Spark job") {
    cases.foreach { case (sql, schema, rows) =>
      val df = eng.query(sql)
      assert(df.schema == schema, sql)
      val got = df.collect().toSeq
      rows.foreach(want => assert(got == want, sql))

      val ((cols, textRows), textJobs) = jobsDuring(client.query(sql))
      assert(textJobs == 0, s"text protocol ran $textJobs job(s) for `$sql`")
      assert(cols == schema.fieldNames.toSeq, sql)

      val (id, _) = client.prepare(sql)
      val ((bcols, binRows), binJobs) = jobsDuring(client.executeQuery(id, Nil))
      assert(binJobs == 0, s"binary protocol ran $binJobs job(s) for `$sql`")
      assert(bcols == schema.fieldNames.toSeq, sql)

      sql match {
        case "show processlist" =>
          assert(textRows.nonEmpty && binRows.nonEmpty)
        case s if s.startsWith("explain") =>
          assert(textRows.nonEmpty && textRows.forall(_.head.contains("plan")))
          assert(binRows.length == textRows.length)
        case _ =>
          assert(textRows == text(got), sql)
          assert(binRows == binary(got), sql)
      }
    }
  }

  test("a SELECT of constants reaches both protocols with no Spark job") {
    Seq("SELECT 1" -> Seq(Row(1)),
      "select @@version_comment limit 1" -> Seq(Row("ebikespark-0.1.0-version_comment")))
      .foreach { case (sql, want) =>
        assert(eng.query(sql).collect().toSeq == want, sql)

        val ((_, textRows), textJobs) = jobsDuring(client.query(sql))
        assert(textJobs == 0, s"text protocol ran $textJobs job(s) for `$sql`")
        assert(textRows == text(want), sql)

        val (id, _) = client.prepare(sql)
        val ((_, binRows), binJobs) = jobsDuring(client.executeQuery(id, Nil))
        assert(binJobs == 0, s"binary protocol ran $binJobs job(s) for `$sql`")
        assert(binRows == binary(want), sql)
      }
  }

  test("a multi-partition SELECT streams exactly the rows of collect(), " +
    "in order, on both protocols") {
    // four files of different sizes: a scan orders its partitions by
    // file size, so every plan of the directory reads them in the same
    // order. It is read by path, not as an engine table, so it keeps
    // its partitions: a small engine table would read as one.
    val src = s"$wh/stream_src"
    Seq(0L -> 100L, 100L -> 300L, 300L -> 600L, 600L -> 1000L).foreach {
      case (lo, hi) =>
        spark.range(lo, hi, 1, 1)
          .selectExpr("id",
            "case when id % 5 = 0 then null else concat('s', id) end as s",
            "cast(id as double) * 0.5 as x")
          .write.mode("append").parquet(src)
    }
    val big = s"parquet.`$src`"
    // A statement's jobs: the ones its analysis runs (parquet schema
    // inference of the path read), `stageJobs` that an ORDER BY runs
    // before its result (the range-partition sample and the shuffle-map
    // stage), then one result job per batch of 4 partitions.
    def check(sql: String, minParts: Int, stageJobs: Int): Unit = {
      val (df, analysisJobs) = jobsDuring(eng.query(sql))
      val parts = df.queryExecution.toRdd.getNumPartitions
      assert(parts >= minParts, s"`$sql` has $parts partitions")
      val jobs = analysisJobs + stageJobs + (parts + 3) / 4
      val want = df.collect().toSeq
      assert(want.length == 1000)

      val ((_, textRows), textJobs) = jobsDuring(client.query(sql))
      assert(textRows == text(want), sql)
      assert(textJobs == jobs, s"`$sql` ran $textJobs job(s) for $parts partitions")

      val (id, _) = client.prepare(sql)
      val ((_, binRows), binJobs) = jobsDuring(client.executeQuery(id, Nil))
      assert(binRows == binary(want), sql)
      assert(binJobs == jobs, s"`$sql` ran $binJobs job(s) for $parts partitions")
    }
    // one result job for the four file splits, and for the ORDER BY's
    // four range partitions
    check(s"select id, s, x from $big", 3, 0)
    check(s"select id, s, x from $big order by x desc", 4, 2)
    // seven range partitions, more than defaultParallelism: two result
    // jobs
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try check(s"select id, s, x from $big order by x desc", 5, 2)
    finally spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
  }

  /** Doubles by their bits, so NaN and -0.0 compare exactly. */
  private def bits(rows: Seq[Seq[Option[Any]]]): Seq[Seq[Option[Any]]] =
    rows.map(_.map(_.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case other => other
    }))

  test("every column type reaches both protocols as the encoder's Row " +
    "gives it, NULL in each column") {
    def check(sql: String, n: Int): Unit = {
      val want = eng.query(sql).collect().toSeq
      assert(want.length == n, sql)
      assert(client.query(sql)._2 == text(want), sql)
      val (id, _) = client.prepare(sql)
      assert(bits(client.executeQuery(id, Nil)._2) == bits(binary(want)), sql)
    }
    // the engine's column types, NULL in each
    eng.sql("create table typed (id int, n int, name char, score float, PRIMARY KEY(id))")
    eng.sql("insert into typed values (1, 7, 'ann', -0.0), (2, NULL, 'bo', 2.5), " +
      "(3, -9223372036854775808, NULL, 1e300), (4, 0, 'é', NULL)")
    check("select id, n, name, score, score * 1e308d, try_cast(n as int), n > 0, " +
      "try_cast(score as decimal(12, 3)), date_add(date'2020-02-28', try_cast(n as int)), " +
      "timestamp_seconds(id), array(n, id), named_struct('x', n, 'y', name), " +
      "map('k', name), try_cast(score as float), cast(id as short), cast(id as byte) " +
      "from typed order by id", 4)
    // a multi-partition ORDER BY over a path read: NULL, NaN, -0.0 and
    // infinities in every value column
    val src = s"$wh/typed_src"
    (0 until 4).foreach { f =>
      spark.range(f * 10, f * 10 + 10, 1, 1).selectExpr("id as k",
        "case when id % 4 = 0 then null else id * 1000003 - 20000000 end as l",
        "case id % 5 when 0 then null when 1 then double('NaN') when 2 then -0.0d " +
          "when 3 then double('-Infinity') else id / 7d end as d",
        "case when id % 3 = 0 then null else concat('s', id, 'ü') end as s",
        "case when id % 6 = 0 then null else id % 2 = 0 end as b",
        "case when id % 7 = 0 then null else cast(id / 3 as decimal(12, 3)) end as dec",
        "case when id % 8 = 0 then null else date_add(date'1969-12-25', cast(id as int)) end as dt",
        "case when id % 9 = 0 then null else array(id, null) end as arr")
        .write.mode("append").parquet(src)
    }
    val sql = s"select k, l, d, s, b, dec, dt, arr from parquet.`$src` order by k desc"
    assert(eng.query(sql).queryExecution.toRdd.getNumPartitions >= 4)
    check(sql, 40)
  }
}

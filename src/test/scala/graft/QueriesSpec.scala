package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Smoke: every SparkEntry query runs at sf0.001 and returns rows;
  * oracle keys are a subset of query keys; the flagship entry works.
  * (Value-level correctness is the driver's DuckDB compare —
  * replayed locally via scripts/check.py.)
  */
class QueriesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  test("oracleSql keys ⊆ queries keys") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs and returns rows at sf0.001") {
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("NTZ-spelled parquet reads as TIMESTAMP through QueryUtil.tbl") {
    // The oracle data's timestamp spelling is out of our control and
    // has changed under us once already (nanos → µs-no-UTC-flag,
    // which Spark 4 infers as TIMESTAMP_NTZ and which then breaks
    // every unix_millis call). Pin the read-boundary normalization:
    // an NTZ-spelled fixture must come back as plain TimestampType
    // with identical wall-clock micros.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val dir = ScratchDirs.create("ntzfix")
    spark.range(3)
      .select(col("id").as("event_id"),
        timestamp_micros(col("id") * 1000000L + 1700000000000000L)
          .cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val back = graft.queries.QueryUtil.tbl(spark, dir, "events")
    assert(back.schema("ts").dataType == TimestampType,
      s"NTZ parquet leaked through tbl() as ${back.schema("ts").dataType}")
    val micros = back.select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).sorted
    assert(micros.toSeq == Seq(0L, 1L, 2L).map(_ * 1000000L + 1700000000000000L))
    // normalizeTimestamps safety net: a frame that *already* carries
    // NTZ (session someone else built) is cast, value-preserving
    val raw = spark.read.schema("event_id BIGINT, ts TIMESTAMP_NTZ")
      .parquet(s"$dir/events.parquet")
    val norm = graft.queries.QueryUtil.normalizeTimestamps(raw)
    assert(norm.schema("ts").dataType == TimestampType)
    assert(norm.select(unix_micros(col("ts"))).collect()
      .map(_.getLong(0)).sorted.head == 1700000000000000L)
  }

  test("q55 fixture shape: props is uniform unquoted-int {\"k\": n}") {
    // q55's Spark/DuckDB parity depends on the props column never
    // holding quoted numbers or malformed JSON (see EventsQ q55
    // comment). Assert the typed parse succeeds on EVERY row so a
    // future datagen change fails here, loudly, not as a silent
    // oracle divergence.
    import org.apache.spark.sql.functions._
    val ev = graft.queries.QueryUtil.tbl(spark, sfDir, "events")
      .select(from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k"), col("props"))
    assert(ev.filter(col("k").isNull).count() == 0L,
      "events.props no longer parses as typed {k: BIGINT} on every row")
  }
}

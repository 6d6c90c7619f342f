package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{DirBacking, FileBacking, KvFilePartition, KvScanBuilder, KvSegment, KvShadowedPartition, KvStore}

/** DataSource V2 connector spec: key predicates push into the source
  * and prune the scan to the matched range (the reference's
  * SeekType::UsingTheIndex, reader_util.rs:263-415), projection
  * pushdown reaches the reader, and the matched range splits into
  * parallel partitions (the reference leaf was 1-partition).
  */
class KvSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val df = {
    KvStore.register("t", (0L until 100000L).map(i => i -> s"v$i"))
    spark.read.format("graft.sources.KvSource").option("name", "t").load()
  }

  test("key range predicates prune the scan to the matched slice") {
    val rows = df.filter(col("k") >= 1000 && col("k") < 2000).collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getLong(0)).min == 1000L &&
      rows.map(_.getLong(0)).max == 1999L)
    assert(KvStore.lastScan("t") == (("UsingTheIndex", 1000L)))
  }

  test("COUNT/MIN/MAX push into the source: answered from the index, zero rows read") {
    val got = df.filter(col("k") >= 1000 && col("k") < 2000)
      .agg(count(lit(1)), min(col("k")), max(col("k"))).head()
    assert(got.getLong(0) == 1000 && got.getLong(1) == 1000L &&
      got.getLong(2) == 1999L)
    assert(KvStore.lastScan("t") == (("AggPushdown", 0L)))
    // and it is visible in the plan
    val plan = df.filter(col("k") >= 1000 && col("k") < 2000)
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan)
  }

  test("a residual value filter disables aggregate pushdown") {
    val got = df.filter(col("k") < 100 && col("v").endsWith("1"))
      .agg(count(lit(1))).head()
    assert(got.getLong(0) == 10L)
    assert(KvStore.lastScan("t") == (("UsingTheIndex", 100L)))
  }

  test("equality predicate reads exactly one key; value filters stay residual") {
    val r = df.filter(col("k") === 42 && col("v").startsWith("v4")).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(42L))
    assert(KvStore.lastScan("t") == (("UsingTheIndex", 1L)))
  }

  test("unbounded scan is a full table scan with parallel partitions") {
    assert(df.count() == 100000L) // CountStar: answered at plan time
    assert(KvStore.lastScan("t") == (("AggPushdown", 0L)))
    assert(df.rdd.getNumPartitions == 4) // matched slice splits 4-way
    assert(KvStore.lastScan("t") == (("FullTableScan", 100000L)))
  }

  test("strict bounds at Long extremes match zero rows, not the full table") {
    // k > Long.MaxValue can match nothing; a wrapping `v + 1` fold
    // would widen this pushed range to the whole table
    assert(df.filter(col("k") > Long.MaxValue).count() == 0L)
    assert(KvStore.lastScan("t")._2 == 0L)
    assert(df.filter(col("k") < Long.MinValue).count() == 0L)
    assert(KvStore.lastScan("t")._2 == 0L)
  }

  test("readers consume slices shipped in the partition, not driver state") {
    // matched rows ride inside each InputPartition: values come back
    // correct even though the executor-side reader never calls KvStore
    val rows = df.filter(col("k") >= 7 && col("k") <= 9).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((7L, "v7"), (8L, "v8"), (9L, "v9")))
  }

  test("projection pushdown reaches the reader") {
    val plan = df.select(col("k")).filter(col("k") < 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RangeScan") && plan.contains("cols=k"), plan)
  }

  // ---- durable segment backing --------------------------------------

  private lazy val segPath = {
    val dir = ScratchDirs.create("gkvseg")
    val p = s"$dir/t.seg"
    KvSegment.write(p, (0L until 50000L).map(i =>
      i -> (if (i % 1000 == 7) null else s"v$i")))
    p
  }

  private lazy val fdf = spark.read.format("graft.sources.KvSource")
    .option("path", segPath).load()

  test("durable segment: range scan prunes and survives a fresh planner") {
    val got = fdf.filter(col("k") >= 300 && col("k") < 700)
      .agg(count(lit(1)), min(col("k")), max(col("k"))).head()
    assert(got.getLong(0) == 400 && got.getLong(1) == 300L && got.getLong(2) == 699L)
    // pushed aggregate: clipped index width + two boundary preads
    assert(KvStore.lastScan(segPath) == (("AggPushdown", 0L)))
    val rows = fdf.filter(col("k") >= 300 && col("k") < 700).collect()
    assert(rows.length == 400)
    assert(KvStore.lastScan(segPath) == (("UsingTheIndex", 400L)))
    // Simulate a driver restart: drop every cached key index and
    // re-plan purely from the file on disk.
    KvSegment.invalidate()
    assert(fdf.filter(col("k") === 123).select(col("v")).head().getString(0) == "v123")
    assert(KvStore.lastScan(segPath) == (("UsingTheIndex", 1L)))
  }

  test("durable segment: NULL values round-trip and full scans parallelize") {
    assert(fdf.count() == 50000L) // CountStar pushes: plan-time answer
    assert(KvStore.lastScan(segPath) == (("AggPushdown", 0L)))
    assert(fdf.rdd.getNumPartitions == 4)
    assert(KvStore.lastScan(segPath) == (("FullTableScan", 50000L)))
    val nulls = fdf.filter(col("v").isNull).agg(count(lit(1)), min(col("k"))).head()
    assert(nulls.getLong(0) == 50L && nulls.getLong(1) == 7L)
  }

  test("durable segment: task payload is (path, range), never rows") {
    val b = new KvScanBuilder(FileBacking(segPath))
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    b.pushFilters(Array(GreaterThanOrEqual("k", 10L), LessThan("k", 40010L)))
    val parts = b.build().toBatch.planInputPartitions()
    assert(parts.length == 4)
    val fps = parts.map(_.asInstanceOf[KvFilePartition])
    assert(fps.map(p => p.until - p.from).sum == 40000)
    assert(fps.forall(_.path == segPath))
    // Serialized partition stays O(1) no matter how wide the range is.
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(fps.head); oos.close()
    assert(bos.size() < 1024, s"partition payload ${bos.size()} bytes")
  }

  // ---- multi-segment tables (growth path) ---------------------------

  private def threeSegments(): String = {
    val dir = ScratchDirs.create("gkvdir")
    KvSegment.appendSegment(dir, (0L until 100L).map(i => i -> s"a$i"))
    KvSegment.appendSegment(dir, (50L until 150L).map(i => i -> s"b$i"))
    KvSegment.appendSegment(dir, (120L until 130L).map(i => i -> s"c$i"))
    dir
  }

  private lazy val segDir = threeSegments()
  private lazy val ddf = spark.read.format("graft.sources.KvSource")
    .option("dir", segDir).load()

  test("multi-segment: newest segment shadows older ones per key") {
    assert(ddf.count() == 150L)
    // lastScan counts PRE-SHADOW candidates (100 + 100 + 10): the
    // newest-wins merge happens executor-side, where it scales.
    assert(KvStore.lastScan(segDir) == (("FullTableScan", 210L)))
    val m = ddf.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 150)
    assert(m(10L) == "a10")   // only in oldest
    assert(m(60L) == "b60")   // seg2 shadows seg1
    assert(m(125L) == "c125") // seg3 shadows seg2
    assert(m(149L) == "b149") // seg3's narrow range doesn't over-shadow
  }

  test("multi-segment: range scan reads only matching slices of " +
      "matching segments") {
    val got = ddf.filter(col("k") >= 55 && col("k") <= 124).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 55..119 visible from seg2, 120..124 from seg3; seg1's 55..99 are
    // all shadowed by seg2
    assert(got.size == 70)
    assert(got(55L) == "b55" && got(119L) == "b119" &&
      got(120L) == "c120" && got(124L) == "c124")
    // candidates: seg1 rows 55..99 (45) + seg2 55..124 (70) + seg3
    // 120..124 (5) — shadow resolution is executor-side
    assert(KvStore.lastScan(segDir) == (("UsingTheIndex", 120L)))
    // plan-level: each segment's candidate range is clipped EXACTLY,
    // older segments carry shadow refs only to newer segments whose
    // key span overlaps, and the newest carries none
    val b = new KvScanBuilder(DirBacking(segDir))
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    b.pushFilters(Array(GreaterThanOrEqual("k", 55L),
      LessThanOrEqual("k", 124L)))
    val parts = b.build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[KvShadowedPartition])
    val byName = parts.map(p => new java.io.File(p.path).getName -> p).toMap
    assert(byName.keySet == Set("000001.seg", "000002.seg", "000003.seg"))
    assert(parts.map(p => p.until - p.from).sum == 120)
    val s1 = byName("000001.seg")
    assert(s1.shadowPaths.map(p => new java.io.File(p).getName).toSeq ==
      Seq("000002.seg")) // seg3's span (120+) misses seg1's (55..99)
    val s2 = byName("000002.seg")
    assert(s2.shadowPaths.map(p => new java.io.File(p).getName).toSeq ==
      Seq("000003.seg"))
    assert(byName("000003.seg").shadowPaths.isEmpty)
  }

  test("multi-segment: driver planning state is O(blocks + segments), " +
      "never O(keys)") {
    val dir = ScratchDirs.create("gkvbig")
    val n1 = 2000000
    val overlay = (n1 / 2 until n1 by 3).map(i => i.toLong -> s"b$i")
    KvSegment.appendSegment(dir, (0L until n1.toLong).map(i => i -> s"a$i"))
    KvSegment.appendSegment(dir, overlay) // rewrites every 3rd upper key
    val d = spark.read.format("graft.sources.KvSource")
      .option("dir", dir).load()
    KvSegment.invalidate()
    val got = d.filter(col("k") >= 999995L && col("k") <= 1000004L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 10)
    assert(got(999999L) == "a999999")   // not in overlay (1M ≡ 1 mod 3)
    assert(got(1000000L) == "b1000000") // overlay shadows
    assert(got(1000001L) == "a1000001")
    assert(got(1000003L) == "b1000003")
    assert(d.count() == n1.toLong) // overlay keys all shadow seg1 keys
    // The ENTIRE cached planning state across both segments: fences
    // every 4096 rows + last keys. 2.33M keys → < 700 longs, where a
    // full-key index would hold 2,333,334.
    val blocks = (n1 + KvSegment.BlockSize - 1) / KvSegment.BlockSize +
      (overlay.size + KvSegment.BlockSize - 1) / KvSegment.BlockSize
    assert(KvSegment.cachedPlanningLongs <= blocks + 4,
      s"planning holds ${KvSegment.cachedPlanningLongs} longs")
    assert(KvSegment.cachedPlanningLongs < 1000)
  }

  test("multi-segment: compaction folds to one segment preserving the " +
      "merged view, crash-safely ordered") {
    val dir = threeSegments()
    def load() = spark.read.format("graft.sources.KvSource")
      .option("dir", dir).load()
    val before = load().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val merged = KvSegment.compact(dir)
    // publish-then-delete: the merged file is the next sequence number,
    // so even a crash before the deletes reads the same state
    assert(new java.io.File(merged).getName == "000004.seg")
    assert(KvSegment.listSegments(dir) == Seq(merged))
    KvSegment.invalidate() // fresh-driver replan from disk
    // scans planned AFTER compaction read the identical merged view
    // (an already-planned scan pins the old files — see compact's
    // scaladoc; that is the parquet-rewrite contract too)
    val d = load()
    val after = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before)
    assert(d.filter(col("k") === 125).head().getString(1) == "c125")
    assert(KvStore.lastScan(dir) == (("UsingTheIndex", 1L)))
  }

  test("multi-segment: MIN/MAX push (shadow-proof extremes); COUNT falls back") {
    val dir = threeSegments()
    val d = spark.read.format("graft.sources.KvSource")
      .option("dir", dir).load()
    // keys present: 0..149 across three shadowing segments
    val mm = d.filter(col("k") >= 50 && col("k") <= 175)
      .agg(min(col("k")), max(col("k"))).head()
    assert(mm.getLong(0) == 50L && mm.getLong(1) == 149L)
    assert(KvStore.lastScan(dir) == (("AggPushdown", 0L)))
    // a COUNT over a shadowed directory needs the newest-wins merge:
    // the pushdown declines and the normal scan runs
    val c = d.filter(col("k") >= 50 && col("k") <= 175)
      .agg(count(lit(1))).head()
    assert(KvStore.lastScan(dir)._1 == "UsingTheIndex")
    // value equals the merged view's row count
    assert(c.getLong(0) ==
      d.filter(col("k") >= 50 && col("k") <= 175).collect().length.toLong)
  }

  test("pushed aggregates over an empty range: COUNT 0, NULL extremes") {
    val got = df.filter(col("k") > 100000000L)
      .agg(count(lit(1)), min(col("k")), max(col("k"))).head()
    assert(got.getLong(0) == 0L && got.isNullAt(1) && got.isNullAt(2))
    assert(KvStore.lastScan("t") == (("AggPushdown", 0L)))
  }

  test("distributed writer: range-partitioned per-task segments round-trip, " +
      "appends shadow") {
    import spark.implicits._
    val dir = ScratchDirs.create("gkvw") + "/t"
    val df = (0L until 10000L).map(i => (i, s"v$i")).toDF("k", "v")
    val paths = graft.sources.KvSegmentWriter.writeDataFrame(df, dir,
      numSegments = 4)
    assert(paths.size == 4)
    assert(KvSegment.listSegments(dir) == paths)
    // disjoint sorted ranges: each segment's fences bracket its own
    // keys and segments don't overlap
    val idx = paths.map(p => KvSegment.fenceIndex(p))
    assert(idx.map(_.n).sum == 10000)
    idx.sliding(2).foreach { case Seq(a, b) => assert(a.lastKey < b.firstKey) }
    // no tmp leftovers from the per-task atomic publish
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.contains(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    val d = spark.read.format("graft.sources.KvSource")
      .option("dir", dir).load()
    assert(d.count() == 10000L)
    assert(d.filter(col("k") === 9999L).head().getString(1) == "v9999")
    // a second distributed write appends ABOVE the existing segments
    // and shadows them
    val over = (5000L until 6000L).map(i => (i, s"o$i")).toDF("k", "v")
    val p2 = graft.sources.KvSegmentWriter.writeDataFrame(over, dir,
      numSegments = 1)
    assert(p2.map(p => new java.io.File(p).getName) == Seq("000005.seg"))
    assert(d.count() == 10000L)
    assert(d.filter(col("k") === 5500L).head().getString(1) == "o5500")
    assert(d.filter(col("k") === 4999L).head().getString(1) == "v4999")
  }

  test("durable segment: write is atomic-publish and rewrite invalidates the cache") {
    val dir = ScratchDirs.create("gkvseg2")
    val p = s"$dir/u.seg"
    KvSegment.write(p, Seq(1L -> "a", 2L -> "b"))
    val d = spark.read.format("graft.sources.KvSource").option("path", p).load()
    assert(d.count() == 2L)
    assert(!new java.io.File(p + ".tmp").exists())
    KvSegment.write(p, (0L until 10L).map(i => i -> s"w$i"))
    assert(d.count() == 10L) // (length, mtime)-stamped cache re-reads
  }
}

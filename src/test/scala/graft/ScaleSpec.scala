package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-level evidence for the cluster-scale techniques the library
  * relies on but the query battery can't show directly on flat test
  * parquet: bucketed co-located joins (no exchange at all) and
  * partition pruning (the scan skips directories, not just row
  * groups). These are the knobs a 100-TB deployment turns — the specs
  * pin the plans, not just the results.
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_customer")
    spark.stop()
  }

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    val orders = graft.queries.QueryUtil.tbl(spark, sfDir, "orders")
    val customer = graft.queries.QueryUtil.tbl(spark, sfDir, "customer")
    orders.select("o_orderkey", "o_custkey", "o_totalprice")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("bkt_orders")
    customer.select("c_custkey", "c_name")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("bkt_customer")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the non-broadcast path so co-location is what's tested
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("bkt_orders")
        .join(spark.table("bkt_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey")).agg(sum(col("o_totalprice")).as("spend"))
      val plan = j.queryExecution.explainString(SimpleMode)
      // matching bucketing on both sides satisfies the join AND the
      // post-join aggregate distribution on the same key:
      // sort-merge/shuffled-hash join with NO Exchange anywhere
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("runtime bloom filter injects on a selective fact-dim sort-merge join") {
    // At 100 TB the big lever on a selective join is Spark's runtime
    // bloom filter: the filtered build side publishes a bloom filter
    // that prunes fact rows BEFORE the shuffle. The size thresholds
    // are tuned for real deployments (app side > 10 GB), so scale
    // them down to let the tiny test corpus demonstrate the plan
    // shape the production confs produce.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevApp = spark.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val li = graft.queries.QueryUtil.tbl(spark, sfDir, "lineitem")
      val ord = graft.queries.QueryUtil.tbl(spark, sfDir, "orders")
        .filter(col("o_totalprice") > 400000.0)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no runtime bloom filter injected:\n$opt")
      assert(j.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevApp match {
        case Some(v) => spark.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", v)
        case None => spark.conf.unset(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      }
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The other 100-TB skew lever (besides explicit salting, q43/p31):
    // AQE's runtime skew-join split. Production thresholds (256 MB
    // skewed-partition floor) are scaled down so the tiny corpus can
    // demonstrate the mechanism; the assertion is on the executed
    // plan — the skewed partition must actually split (skew=true).
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val pad = "x" * 64
      // one hot key carrying ~50k padded rows vs 99 cold keys
      val left = ((0 until 50000).map(i => (0L, s"$pad$i")) ++
        (1 to 99).flatMap(k => (0 until 20).map(i => (k.toLong, s"v$i"))))
        .toDF("k", "payload")
      val right = (0 to 99).map(k => (k.toLong, s"dim$k")).toDF("k", "name")
      // max(payload) keeps the wide column flowing through the join,
      // so column pruning can't shrink the skewed shuffle partition
      val j = left.join(right, Seq("k")).groupBy(col("name"))
        .agg(count(lit(1)).as("n"), max(col("payload")).as("p"))
      assert(j.collect().length == 100)
      val executed = j.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$executed")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("partition pruning: a partitioned write is read with PartitionFilters") {
    val dir = ScratchDirs.create("graft_part_")
    val li = graft.queries.QueryUtil.tbl(spark, sfDir, "lineitem")
    li.select("l_orderkey", "l_quantity", "l_returnflag")
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
      .filter(col("l_returnflag") === "A")
      .select("l_orderkey", "l_quantity")
    val plan = read.queryExecution.explainString(SimpleMode)
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.replaceAll("\\s+", " ")
      .matches(""".*PartitionFilters: \[[^\]]*l_returnflag[^\]]*\].*"""), plan)
    // directory-level pruning: only the A partition's files are read
    val scanned = read.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.nonEmpty && scanned.forall(_ == 1),
      s"expected 1 selected partition, got $scanned")
    assert(read.count() > 0)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Plan dumps: `runMain graft.PlanDump <name1,name2,...> [sfDir] [outDir]`
  * builds each named frame, runs it to the end with its rows discarded
  * (as a `noop` write would), and prints its formatted plan, which then
  * shows the FINAL adaptive plan beside the initial one: Spark plans a
  * persisted frame with unknown partitioning until its cache is built,
  * so only the final plan shows which exchanges above it AQE dropped.
  * It is the review loop for pushdown (PushedFilters/ReadSchema), join
  * strategy and WholeStageCodegen spans before trusting a query at
  * scale. A name is any `SparkEntry.queries` entry, or one of the
  * operator pipelines below: their PUBLIC entry points materialize
  * eagerly (localCheckpoint) and so explain as a useless RDD-scan
  * stub, and this main rebuilds the LAZY internal pipeline from the
  * operator's own pieces. With `outDir`, each plan is also written to
  * `<outDir>/<name>.txt`; one Spark session serves the whole list. */
object PlanDump {
  /** The battery's co-purchase graph (p75, p86) as its adjacency. */
  private def lineitemAdjacency(spark: SparkSession, sfDir: String): DataFrame =
    Graph.adjacency(graft.operators.Association.withinGroupPairs(
      graft.queries.QueryUtil.tbl(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      "o", "p"), "x", "y")

  private val pipelines: Map[String, (SparkSession, String) => DataFrame] = Map(
    // p86's scoring pipeline (the public adamicAdarTopK checkpoints)
    "p86_adamic_adar_scored" -> { (s, dir) =>
      Graph.adamicAdarScored(lineitemAdjacency(s, dir), 64, 50)
    },
    // p75's adjacency build + first peel round (the loop persists per
    // round, so only the round-1 shape is dumpable without execution)
    "p75_kcore_round" -> { (s, dir) =>
      val nm = lineitemAdjacency(s, dir)
      Graph.kCoreRound(nm, Graph.degrees(nm), 64)
    })

  def main(args: Array[String]): Unit = {
    val frames = SparkEntry.queries ++ pipelines
    val names =
      if (args.nonEmpty) args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else pipelines.keys.toSeq.sorted
    val unknown = names.filterNot(frames.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown name(s): ${unknown.mkString(", ")}; " +
        s"valid names: ${frames.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    outDir.foreach(d => new java.io.File(d).mkdirs())
    names.foreach { name =>
      val qe = frames(name)(spark, sfDir).queryExecution
      SQLExecution.withNewExecutionId(qe, Some("planDump"))(qe.toRdd.foreach(_ => ()))
      val txt = qe.explainString(FormattedMode)
      println(s"==== $name ====")
      println(txt)
      outDir.foreach { d =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$d/$name.txt"), txt)
      }
      // frames that persist or checkpoint while they are built leave
      // state behind: clear it so the next plan is independent
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}

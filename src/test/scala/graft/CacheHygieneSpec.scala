package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Dedup, Graph, Ratings, Similarity}

/** Pins the r17 unpersist discipline (r16 verdict item 3): every
  * operator that persists an intermediate must release it before
  * returning — eager localCheckpoint of the (small) result, then
  * unpersist of the cached buffer, the [[Ratings.bradleyTerryMicro]]
  * pattern — so library callers in a long-lived engine session never
  * accumulate cache. The assertion is the verdict's own gate:
  * `spark.sharedState.cacheManager.isEmpty` after each call (frames
  * that remain lazily readable use localCheckpoint, which never
  * registers in the cache manager and frees on GC).
  */
class CacheHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again with many repeated words in this long enough document"
    (1L to 12L).map(i =>
      (i, if (i % 3 == 0) base else s"$base variant $i extra tail " + i))
      .toDF("doc_id", "text")
  }

  private def vecs: DataFrame = {
    import spark.implicits._
    (1L to 10L).map(i => (i,
      Seq.tabulate(8)(d => math.sin(i * 1.7 + d).abs + 0.1)))
      .toDF("vec_id", "embedding")
  }

  private def assertClean(tag: String)(body: => DataFrame): Unit = {
    val df = body
    df.count() // consume the result the way a caller would
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$tag left entries in the cache manager")
  }

  test("dedup operators release every cache before returning") {
    assertClean("minhashCandidates") {
      Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 8,
        rowsPerBand = 2)
    }
    assertClean("minhashCandidatesPortable") {
      Dedup.minhashCandidatesPortable(docs, "doc_id", "text",
        numHashes = 8, rowsPerBand = 2)
    }
    assertClean("minhashFidelity") {
      Dedup.minhashFidelity(docs, "doc_id", "text", numHashes = 8,
        rowsPerBand = 2)
    }
    assertClean("duplicatedSpans") {
      Dedup.duplicatedSpans(docs, "doc_id", "text", n = 4)
    }
    assertClean("exactSubstringSpans") {
      Dedup.exactSubstringSpans(docs, "doc_id", "text", n = 4,
        minTokens = 6)
    }
    assertClean("exactSubstringSpansAcross") {
      Dedup.exactSubstringSpansAcross(docs.limit(4), docs, "doc_id",
        "text", n = 4, minTokens = 6)
    }
    assertClean("overlapForPairs") {
      import spark.implicits._
      Dedup.overlapForPairs(Seq((3L, 6L), (6L, 9L)).toDF("a_id", "b_id"),
        docs, "doc_id", "text")
    }
    assertClean("stitchPairs") {
      Dedup.stitchPairs(docs, "doc_id", "text", k = 3,
        maxBoundaryFreq = 50)
    }
  }

  test("similarity operators release every cache before returning") {
    assertClean("kmeansAssign") {
      Similarity.kmeansAssign(vecs, "vec_id", "embedding", k = 2,
        iters = 2)
    }
    assertClean("semDedup") {
      Similarity.semDedup(vecs, "vec_id", "embedding", k = 2,
        iters = 1, tau = 0.95)
    }
    assertClean("ivfPqTopK") {
      Similarity.ivfPqTopK(vecs, vecs.limit(3), "vec_id", "embedding",
        k = 2, nlist = 2, nprobe = 2, m = 2, codes = 4, dims = 8,
        shortlist = 5)
    }
    assertClean("labelSilhouette") {
      import spark.implicits._
      Similarity.labelSilhouette(
        vecs.withColumn("label", (col("vec_id") % 2).cast("int")),
        "vec_id", "embedding", "label")
    }
  }

  test("graph operators release every cache, also when they throw") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 4L))
      .toDF("s", "d")
    val seeds = Seq(1L).toDF("n")
    assertClean("hitsMicro")(Graph.hitsMicro(edges, "s", "d"))
    assertClean("pageRankMicro")(Graph.pageRankMicro(edges, "s", "d"))
    assertClean("triangleCounts")(Graph.triangleCounts(edges, "s", "d"))
    assertClean("reachability") {
      Graph.reachability(edges, "s", "d", seeds, "n", maxHops = 2)
    }
    assertClean("shortestPaths") {
      Graph.shortestPaths(edges.withColumn("w", lit(1L)), "s", "d", "w",
        seeds, "n", rounds = 2)
    }
    assertClean("adjacency operators") {
      Graph.withAdjacency(edges, "s", "d") { adj =>
        Graph.kCorePeel(adj, k = 2, rounds = 2).count()
        Graph.adamicAdarTopK(adj, maxDegree = 8, topK = 5).count()
        Graph.modularity(adj, Graph.labelPropagation(adj, rounds = 2),
          "node", "label")
      }
    }
    // a body that throws after its operators persisted frames still
    // leaves nothing cached
    intercept[IllegalArgumentException] {
      Graph.withAdjacency(edges, "s", "d") { adj =>
        Graph.labelPropagation(adj, rounds = 2).count()
        Graph.kCorePeel(adj, k = 0, rounds = 1)
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a throwing graph operator left entries in the cache manager")
  }

  test("ratings operators release every cache before returning") {
    import spark.implicits._
    assertClean("bradleyTerryMicro") {
      Ratings.bradleyTerryMicro(
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L))
          .toDF("winner", "loser"), "winner", "loser", rounds = 2)
    }
  }
}

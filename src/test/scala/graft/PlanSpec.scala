package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-pinning regression tests: the physical-plan properties the
  * 100-TB design depends on, asserted over the real query battery so
  * a future edit can't silently reintroduce a scale anti-pattern.
  * Planning only — nothing executes, except a pin on a plan that AQE
  * settles only at run time.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
    case q: QueryStageExec => allNodes(q.plan)
    case other => other.children.flatMap(allNodes)
  })

  private def planText(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("no query in the battery plans an unpartitioned window") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val nodes = allNodes(fn(spark, sfDir).queryExecution.executedPlan)
      nodes.foreach {
        case w: WindowExec =>
          assert(w.partitionSpec.nonEmpty,
            s"$name plans a global single-partition WindowExec")
        case w: WindowGroupLimitExec =>
          assert(w.partitionSpec.nonEmpty,
            s"$name plans a global single-partition WindowGroupLimit")
        case _ => ()
      }
    }
  }

  test("no query in the battery plans an unbroadcast cartesian product") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.catalyst.plans.Cross
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val nodes = allNodes(fn(spark, sfDir).queryExecution.executedPlan)
      nodes.foreach {
        case c: CartesianProductExec =>
          fail(s"$name plans CartesianProductExec: ${c.simpleStringWithNodeId()}")
        case j: BroadcastNestedLoopJoinExec =>
          // the ONLY nested loops a scale-safe plan may contain: a
          // deliberate broadcast Cross fan-out (k centroids, the q07
          // dim×dim cross, p06's broadcast queries with a != residual),
          // a conditionless inner (scalar fan-out), or a theta join
          // whose build side is provably ONE row (a no-grouping
          // aggregate — q33's `> (SELECT avg …)`). Anything else is an
          // accidental theta join that should have been equi-keyed.
          import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
          val buildSide = j.buildSide match {
            case BuildLeft => j.left
            case BuildRight => j.right
          }
          val scalarBuild = allNodes(buildSide).exists {
            case a: BaseAggregateExec => a.groupingExpressions.isEmpty
            case _ => false
          }
          assert(j.joinType == Cross || j.condition.isEmpty || scalarBuild,
            s"$name plans a theta nested loop: ${j.joinType} cond=${j.condition}")
        case _ => ()
      }
    }
  }

  test("q01 pushes the date filter into the scan and prunes columns") {
    val t = planText("q01_pricing_summary")
    assert(t.contains("PushedFilters: [") && t.contains("l_shipdate"), t)
    // 6 of lineitem's 11 columns survive into ReadSchema
    val read = t.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.count(_ == ',') <= 6, read)
  }

  test("q68 range-reads the managed kv table via the pushed-down connector") {
    // the final SELECT's key predicate must reach the DSv2 scan as a
    // clipped range — the managed-KV statement surface keeps the same
    // index-range-scan path as the external connector (q56)
    val t = planText("q68_engine_kv_dml")
    assert(t.contains("RangeScan[50,1000]"), t)
  }

  test("q35 joins every dimension via broadcast, fact table unshuffled pre-agg") {
    val t = planText("q35_regional_revenue")
    assert("BroadcastHashJoin".r.findAllIn(t).size >= 3, t)
    assert(!t.contains("SortMergeJoin"), t)
  }

  test("p58 host counts broadcast back; corpus side never hash-shuffles") {
    val t = planText("p58_url_canon")
    // the ONLY hash exchange is the host-count aggregate; the per-doc
    // canonicalization stays narrow and the join back is broadcast
    assert(t.contains("BroadcastHashJoin"), t)
    assert(!t.contains("SortMergeJoin"), t)
    assert("hashpartitioning".r.findAllIn(t).size <= 2, t)
  }

  test("p05 banded range join plans a hash join, not a nested loop") {
    val t = planText("p05_embedding_neardup")
    assert(!t.contains("BroadcastNestedLoopJoin"), t)
  }

  /** Nested-loop shapes a scale-safe plan may contain: the deliberate
    * broadcast Cross fan-outs (k centroids / a 1-row scalar against
    * the corpus). Anything else — an unbroadcast CartesianProduct or
    * a theta BroadcastNestedLoopJoin — is a scale killer. */
  private def assertOnlyBroadcastCross(t: String): Unit = {
    assert(!t.contains("CartesianProduct"), t)
    t.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach {
      l => assert(l.contains("Cross"), s"non-cross nested loop: $l")
    }
  }

  /** Simple-mode plan text: one line per node INCLUDING the join
    * type (FormattedMode moves it into the detail section). */
  private def simplePlan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .executedPlan.toString

  test("p41 semdedup pair scan is an equi join on the cell id, no nested loop") {
    val t = simplePlan("p41_semdedup")
    assertOnlyBroadcastCross(t)
    // the in-cluster pair join itself is an equi join keyed on cell
    assert(t.contains("SortMergeJoin") || t.contains("ShuffledHashJoin"), t)
  }

  test("p40 LM scoring joins hash keys and pre-aggregates per doc") {
    val t = simplePlan("p40_lm_perplexity")
    // bigram-key joins must be equi joins; the only nested loop is
    // the broadcast vocab-size scalar cross join
    assertOnlyBroadcastCross(t)
    // per-doc sum is partially aggregated before its exchange
    assert(t.contains("partial_sum"), t)
  }

  test("ANN merges are partial aggregates, not window funnels") {
    Seq("p06_ann_bruteforce", "p07_ann_lsh", "p15_ann_ivf",
      "p36_ann_pq", "p37_ann_pq_rerank").foreach { q =>
      val t = planText(q)
      assert(t.contains("ObjectHashAggregate"), s"$q:\n$t")
    }
  }

  test("p59 bm25 prunes postings by broadcast query terms; top-k is a heap aggregate") {
    val t = simplePlan("p59_bm25_topk")
    assertOnlyBroadcastCross(t)
    // query vocabulary, idf, and query fan-out all broadcast — the
    // corpus-sized postings never shuffle for them
    assert(t.contains("BroadcastHashJoin"), t)
    // final per-query top-k rides the TopK aggregator's map-side
    // heaps, not a window funnel
    assert(t.contains("ObjectHashAggregate"), t)
  }

  test("p60 rrf fusion stays candidate-sized: no corpus-scale exchange after retrieval") {
    val t = simplePlan("p60_hybrid_rrf")
    assertOnlyBroadcastCross(t)
    assert(t.contains("ObjectHashAggregate"), t)
  }

  test("top-k fuses into TakeOrderedAndProject") {
    assert(planText("q11_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("hot queries stay inside whole-stage codegen") {
    // scalar-heavy scans and the custom expressions (RollingHash,
    // ShingleHashes, CosineSim) must not break codegen spans — the
    // plan shows `[codegen id : N]` per participating operator. AQE
    // hides codegen ids until stages execute, so plan without it.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("q01_pricing_summary", "q23_case_null", "p11_fingerprint",
      "p02_ngram_jaccard", "p06_ann_bruteforce",
      "p107_span_corruption").foreach { q =>
      assert(planText(q).contains("[codegen id :"), s"$q lost codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("p04 simhash sign-sum aggregates stay inside whole-stage codegen") {
    // the raise_error lane-overflow guard rides in the projection
    // AFTER the aggregate; pin that it never knocks the 16-lane
    // sign-sum HashAggregates themselves out of codegen.
    // clearCache first: earlier tests plan the whole battery, and a
    // cache-substituted InMemoryRelation prints its stored subtree
    // without codegen ids, which would false-fail the assertion
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = planText("p04_simhash")
      val aggLines = t.linesIterator
        .filter(_.matches("\\(\\d+\\) HashAggregate.*")).toSeq
      assert(aggLines.nonEmpty, t)
      assert(aggLines.forall(_.contains("[codegen id")),
        aggLines.mkString("\n"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("p23 corpus side joins the benchmark gram set without shuffling") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = allNodes(plan("p23_decontam"))
    val inner = nodes.collectFirst {
      case j: BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
    }.getOrElse(fail("no inner BroadcastHashJoin (benchmark grams) in p23"))
    // the streamed (corpus) side must reach the scan with zero
    // shuffle exchanges: grams hash inside codegen and join against
    // the broadcast benchmark set map-side only
    val streamedShuffles = allNodes(inner.left)
      .collect { case e: ShuffleExchangeLike => e }
    assert(streamedShuffles.isEmpty,
      s"corpus side of p23 shuffles: ${inner.left}")
  }

  test("p22 scores once: TopK heaps and the token join share the cache") {
    val t = planText("p22_tfidf")
    assert(t.contains("ObjectHashAggregate"), t)   // bounded TopK merge
    assert(t.contains("InMemoryRelation"), t)      // persisted fan-out seam
  }

  test("p62 weighted sample is heaps + one data shuffle, no window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val t = planText("p62_weighted_sample")
    // bounded TopK merge, not a row_number window over the frame
    assert(t.contains("ObjectHashAggregate"), t)
    assert(!t.contains("Window"), t)
    // the only exchanges are the TopK partial->final on the stratum
    // key and the battery's presentation orderBy — the E-S keys
    // themselves are narrow codegen'd expressions, so the full frame
    // never shuffles
    val shuffles = allNodes(plan("p62_weighted_sample"))
      .collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.length <= 2, s"p62 plans ${shuffles.length} shuffles")
  }

  test("q43 salted agg is two-phase: two hash exchanges plus the presentation sort only") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the salt must cost exactly one extra shuffle over a plain
    // groupBy: partial->final on (key, salt), partial->final on key,
    // then the battery's orderBy range exchange — nothing else. A
    // regression here (an extra exchange, or the salt collapsing into
    // a single phase) is what a bench move on q43 would mean.
    val nodes = allNodes(plan("q43_salted_agg"))
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
    val hashShuffles = shuffles.filter(
      _.outputPartitioning.toString.contains("hashpartitioning"))
    assert(hashShuffles.length == 2,
      s"q43 plans ${hashShuffles.length} hash exchanges, want 2 (key+salt, key)")
    assert(shuffles.length <= 3,
      s"q43 plans ${shuffles.length} total exchanges, want <= 3")
    val aggs = nodes.collect { case a: BaseAggregateExec => a }
    assert(aggs.length == 4,
      s"q43 plans ${aggs.length} aggregate nodes, want 4 (partial+final x 2 phases)")
  }

  test("p47 bloom probe is codegen'd and the corpus verify never shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val t = planText("p47_bloom_dedup")
    // the probe runs as a native expression inside the batch-side scan
    // project, not a UDF
    assert(t.contains("graft_bloom_probe"), t)
    assert(!t.contains("BatchEvalPython") && !t.contains("ScalaUDF"), t)
    val nodes = allNodes(plan("p47_bloom_dedup"))
    // exact verification streams the corpus against the broadcast
    // bloom-positive shortlist: the corpus side of the inner join must
    // reach its scan with zero exchanges
    val inner = nodes.collectFirst {
      case j: BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
    }.getOrElse(fail("no inner BroadcastHashJoin (verify shortlist) in p47"))
    val streamedShuffles = allNodes(inner.left)
      .collect { case e: ShuffleExchangeLike => e }
    assert(streamedShuffles.isEmpty,
      s"corpus side of p47 verify shuffles: ${inner.left}")
  }

  test("p68/p69 rank bounded top-k via TakeOrdered, never a global window") {
    Seq("p68_cooccur_pmi", "p69_assoc_rules").foreach { q =>
      val t = planText(q)
      assert(t.contains("TakeOrderedAndProject"),
        s"$q top-k not fused: $t")
      assert(!t.contains("WindowExec"), s"$q plans a window: $t")
    }
  }

  test("p70 ranks the Zipf head with the bounded TopK heap aggregate") {
    val t = planText("p70_scaling_laws")
    // the top-100 rank table merges via the k-heap ObjectHashAggregate
    // (map-side bounded), not a row_number window over the vocabulary
    assert(t.contains("ObjectHashAggregate"), t)
    assert(!t.contains("WindowExec"), t)
  }

  test("p76 count-min probes join the d·w counter table by broadcast") {
    // the sketch side is constant-size (d·w cells) and must broadcast
    // to the heavy-key probes — a shuffled join here would move the
    // corpus-independent counter table through an exchange for nothing
    val t = planText("p76_countmin")
    assert(t.contains("BroadcastHashJoin"), t)
    assert(!t.contains("SortMergeJoin"), t)
    assert(!t.contains("WindowExec"), t)
  }

  test("p77 skip-gram pairs are generated map-side, ranked via TakeOrdered") {
    val t = planText("p77_skipgram")
    // one pair-count aggregate, no positional self-join of the token
    // stream, top-k fused into TakeOrderedAndProject
    assert(t.contains("TakeOrderedAndProject"), s"p77 top-k not fused: $t")
    assert(!t.contains("Join"), s"p77 plans a join: $t")
    assert(!t.contains("WindowExec"), t)
  }

  test("p78 quant recall is one scan with two bounded heaps, broadcast-only joins") {
    val t = simplePlan("p78_quant_recall")
    assertOnlyBroadcastCross(t)
    // both rankings merge through the TopK heap aggregate; the exact
    // and quantized scores ride the same corpus scan
    assert(t.contains("ObjectHashAggregate"), t)
    assert(!t.contains("SortMergeJoin"), t)
    assert(!t.contains("Window "), t)
  }

  test("p85 anomaly gate is ONE window pass + one partial-combined rollup") {
    // n/S/Q must share a single day-partitioned Window operator — a
    // second window pass would re-sort the event stream for nothing —
    // and the report is pure aggregation, no join anywhere
    val nodes = allNodes(plan("p85_rolling_anomaly"))
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1,
      nodes.map(_.nodeName).mkString(", "))
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("join")),
      nodes.map(_.nodeName).mkString(", "))
  }

  test("p86 link prediction: wedges generate map-side, top-k fused, no wedge self-join") {
    // the public operator eagerly materializes (plan hides behind an
    // RDD scan), so pin the lazy scoring pipeline it runs
    val nm = graft.operators.Graph.adjacency(
      spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_orderkey", "l_partkey")
    val t = graft.operators.Graph.adamicAdarScored(nm, 64, 50)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // pairs come from the adjacency-array explode (Generate), never
    // an nb-on-nb self-join; final ranking fuses to TakeOrdered
    assert(t.contains("Generate"), t.take(2000))
    assert(t.contains("TakeOrderedAndProject"), t.take(2000))
    assert(!t.contains("CartesianProduct"), t.take(2000))
  }

  test("graph degrees group on the cached adjacency's partitioning, no exchange") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nm = graft.operators.Graph.adjacency(
      spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_orderkey", "l_partkey")
      .persist()
    try {
      // the adjacency's own exchange lives inside the cached plan; the
      // degree aggregate above the cached scan must not add another.
      // AQE learns the cached partitioning only once the cache is
      // built, so this pin runs the query and reads the final plan
      val deg = graft.operators.Graph.degrees(nm)
      deg.collect()
      val nodes = allNodes(deg.queryExecution.executedPlan)
      val scan = nodes.indexWhere(_.isInstanceOf[InMemoryTableScanExec])
      assert(scan >= 0, nodes.map(_.nodeName).mkString(", "))
      assert(!nodes.take(scan).exists(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.map(_.nodeName).mkString(", "))
    } finally nm.unpersist()
  }

  test("p87 profile joins the 1-row bounds frame by broadcast only") {
    val t = planText("p87_table_profile")
    assert(t.contains("BroadcastHashJoin"), t.take(2000))
    assert(!t.contains("SortMergeJoin"), t.take(2000))
  }

  test("p90 PCA Gram rides one wide partial+final aggregate, no explode") {
    // the corpus-sized stage of topComponentMicro is the 1-row Gram
    // frame; a Generate there would mean a per-row pair explode
    // (dim^2 row inflation) snuck back in
    val t = graft.operators.Similarity.gramFrame(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "embedding", dim = 16, quantScale = 1000)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!t.contains("Generate"), t.take(2000))
    assert(t.contains("HashAggregate"), t.take(2000))
    assert(!t.contains("Exchange hashpartitioning"), t.take(2000))
  }

  // ---- r17: pins for the r16 driver-capture movers (q60/p65/p71
  // adjudicated as host noise) — with these green, a future bench
  // move on them is noise by construction --------------------------

  test("p65 triangles: pair build is equi-keyed and pre-aggregated; " +
    "result is materialized edge-local") {
    // the triangle count itself localCheckpoints (the Graph-loop
    // discipline), so pin its INPUT plan: the within-order pair
    // build must be an equi self-join with partial aggregation, no
    // loop join
    val pairs = graft.operators.Association.withinGroupPairs(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("l_orderkey as o", "l_partkey as p"), "o", "p")
    val pt = pairs.queryExecution.executedPlan.toString
    assertOnlyBroadcastCross(pt)
    // per-order member sets partial-combine map-side, ONE exchange on
    // the group key, pairs explode from the set — no self-join at all
    assert(pt.contains("partial_collect_set"), pt)
    assert(!pt.contains("Join"), pt)
    // and the battery entry reads the checkpointed edge-grain result
    // with nothing but the presentation sort on top
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val nodes = allNodes(plan("p65_triangles"))
    assert(!nodes.exists(n => n.isInstanceOf[WindowExec] ||
      n.isInstanceOf[WindowGroupLimitExec]),
      "p65 must count triangles without any window")
    assert(nodes.collect { case e: ShuffleExchangeLike => e }.length <= 1,
      "p65 presentation must add at most the range exchange")
  }

  test("p71 cluster representative is a struct-argmax aggregate, not a window") {
    val t = simplePlan("p71_cluster_rep")
    assertOnlyBroadcastCross(t)
    val nodes = allNodes(plan("p71_cluster_rep"))
    assert(!nodes.exists(n => n.isInstanceOf[WindowExec] ||
      n.isInstanceOf[WindowGroupLimitExec]),
      "p71's keep-longest pick must be an aggregate, not a window")
    assert(t.contains("partial_min") || t.contains("partial_max"), t)
  }

  // ---- r17: new-entry pins ----------------------------------------

  test("p133 token census is one codegen scan + one group aggregate, no join") {
    val t = simplePlan("p133_token_stats")
    assert(!t.contains("Join"), t)
    assert(t.contains("partial_sum"), t)
    // the counters come from the TokenStats expression, not HOF lambdas
    assert(t.contains("graft_token_stats"), t)
    assert(!t.contains("ArrayTransform") && !t.contains("ArrayFilter"), t)
  }

  test("p134 line boilerplate tags via a hash-keyed equi join, no loop") {
    val t = simplePlan("p134_line_boilerplate")
    assertOnlyBroadcastCross(t)
    assert(t.contains("SortMergeJoin") || t.contains("ShuffledHashJoin") ||
      t.contains("BroadcastHashJoin"), t)
  }

  test("p135 semantic decontam broadcasts the eval side and partial-maxes per vector") {
    val t = simplePlan("p135_semantic_decontam")
    assertOnlyBroadcastCross(t)
    assert(t.contains("BroadcastNestedLoopJoin"), t)
    assert(t.contains("partial_max"), t)
  }
}

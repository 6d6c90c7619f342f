package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over DataFrame edge lists — importance scoring,
  * reachability, triangles, cores, communities and link prediction —
  * each a fixed-depth, engine-replayable iteration.
  *
  * Caching: every operator runs in ONE cache scope ([[cached]]). A
  * frame the operator reuses is persisted at MEMORY_AND_DISK and
  * registered with the scope; the result is materialized eagerly
  * (`localCheckpoint`) and every registered frame is released in a
  * `finally`, also when the operator throws. Callers get a
  * self-contained frame, not a cache-lifecycle obligation.
  *
  * Adjacency: the undirected operators ([[triangleCounts]],
  * [[kCorePeel]], [[labelPropagation]], [[adamicAdarTopK]],
  * [[modularity]]) read ONE canonical adjacency, built by
  * [[adjacency]]. Each proper undirected edge — self-loops dropped,
  * duplicate and reversed copies merged — appears once per
  * direction as a row `(__n, __m)`, and the frame is
  * hash-partitioned once on `__n`. Because it is symmetric, a
  * per-node aggregate groups on `__n` over the cached partitioning
  * (degrees need no exchange), the `u < v` edge set is
  * `__n < __m`, and a join on `__n` probes the cached partitions in
  * place. [[withAdjacency]] persists it in a cache scope and hands it
  * to its body, so several operators can share one adjacency; that
  * scope releases it when the body's result is materialized.
  */
object Graph {

  /** The one cache scope: `body` gets a `keep` that persists a frame
    * and registers it; the body's result is checkpointed eagerly and
    * every registered frame is released, whether or not the body
    * threw. */
  private def cached(body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val kept = ArrayBuffer.empty[DataFrame]
    try body { df =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += p
      p
    }.localCheckpoint(eager = true)
    finally kept.foreach(_.unpersist(blocking = false))
  }

  /** The canonical adjacency of `edges` (see the object doc), lazy.
    * One explode emits both directions of every proper edge (the
    * caller's edge construction is read once), and ONE exchange both
    * dedups and partitions them: grouping on `__n` into a neighbour
    * set keeps the map-side partial dedup of a `distinct`, and
    * exploding the set back to rows keeps the hash partitioning on
    * `__n`. Each node's neighbour set is one array while it is built,
    * as in the per-node neighbour arrays of [[triangleCounts]] and
    * [[adamicAdarTopK]]. */
  private[graft] def adjacency(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.filter(col(srcCol) =!= col(dstCol))
      .select(explode(array(
        struct(col(srcCol).as("__n"), col(dstCol).as("__m")),
        struct(col(dstCol).as("__n"), col(srcCol).as("__m")))).as("__e"))
      .groupBy(col("__e.__n").as("__n"))
      .agg(collect_set(col("__e.__m")).as("__ms"))
      .select(col("__n"), explode(col("__ms")).as("__m"))

  /** `(__n, __d)`: every node's degree, grouped on the adjacency's own
    * partitioning key. */
  private[graft] def degrees(nm: DataFrame): DataFrame =
    nm.groupBy(col("__n")).agg(count(lit(1)).as("__d"))

  /** A canonical adjacency persisted by [[withAdjacency]]; valid only
    * inside the body it is handed to. */
  final class Adjacency private[Graph] (private[Graph] val nm: DataFrame,
      private[Graph] val keep: DataFrame => DataFrame)

  /** Builds the canonical adjacency of the undirected edge list
    * `edges`, persists it and runs `body` over it in one cache scope:
    * the body's result is materialized eagerly, then the adjacency
    * and every frame the body's operators persisted are released. */
  def withAdjacency(edges: DataFrame, srcCol: String, dstCol: String)(
      body: Adjacency => DataFrame): DataFrame =
    cached { keep =>
      body(new Adjacency(keep(adjacency(edges, srcCol, dstCol)), keep))
    }

  /** Fixed-iteration HITS (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment") over a bipartite edge list:
    * `srcCol` is the hub side, `dstCol` the authority side. Each
    * full iteration is two exact integer sums (hub = Σ auth over
    * out-edges, auth = Σ hub over in-edges) followed by ONE L∞
    * normalization of the authority side back to 1e6 micros
    * (`round(1e6·raw/max(raw))`). Normalization choice is free in
    * HITS — only the ranking direction matters — so normalizing once
    * per iteration instead of per half-step keeps the trajectory
    * exactly engine-replayable (integer state, one deterministic
    * double divide per round) while halving the scalar-max barriers
    * and cached frames per round. Overflow bound: auth ≤ 1e6 entering
    * a round, so hub_raw ≤ 1e6·d_in and auth_raw ≤ 1e6·d_in·d_out —
    * exact in Long while max_in_degree·max_out_degree < 9.2e12
    * (degrees to ~3e6 on both sides), far past any real corpus.
    *
    * Scale shape: per round, two hash joins of the edge table
    * against the O(nodes) score frames, two partial-aggregated sums,
    * and a single broadcast 1-row max — the Pregel-lite
    * iterative-graph shape. No driver action inside the loop; plan
    * depth is O(rounds), fixed and small, so no lineage truncation
    * is needed. The deduplicated edge table persists across its
    * 2·rounds+1 consumers; the pre-norm authority frame persists
    * because it feeds both the max and the normalized output (without
    * the cache each round's two consumers would replay every earlier
    * round — exponential recompute in `rounds`; the per-half-step
    * ancestor of this shape measured 45.7s -> 13.4s at sf0.1 from
    * exactly this cache).
    *
    * Returns (dstCol, auth_micro, degree): the authority-side score
    * after `rounds` full iterations plus the in-degree. */
  def hitsMicro(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = cached { keep =>
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    val e = keep(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct())
    var auth = e.select(col("__d")).distinct()
      .select(col("__d"), lit(1000000L).as("__a"))
    (1 to rounds).foreach { _ =>
      // hub half-step stays raw: consumed exactly once, by the
      // authority sum below — no second consumer, no cache, no barrier
      val hub = e.join(auth, "__d").groupBy(col("__s"))
        .agg(sum(col("__a")).as("__h"))
      val raw = keep(e.join(hub, "__s").groupBy(col("__d"))
        .agg(sum(col("__h")).as("__a")))
      val mx = raw.agg(max(col("__a")).as("__mx"))
      auth = raw.crossJoin(broadcast(mx))
        .select(col("__d"),
          round(col("__a").cast("double") * lit(1000000.0) /
            col("__mx").cast("double"), 0).cast("long").as("__a"))
    }
    val deg = e.groupBy(col("__d")).agg(count(lit(1)).as("degree"))
    auth.join(deg, "__d")
      .select(col("__d").as(dstCol), col("__a").as("auth_micro"),
        col("degree"))
  }

  /** Fixed-iteration PageRank (Brin-Page 1998) over a directed edge
    * list, as exactly-replayable integer arithmetic: every node
    * starts at 1e6 micros; each round a node sends
    * `pr div out_degree` (integer floor division) along each
    * out-edge and the next score is
    * `150000 + (incoming * 85) div 100` — i.e. damping 0.85 and
    * uniform teleport mass (1-0.85)·1e6, all in exact Long math, so
    * any engine (DuckDB included) replays the trajectory
    * bit-for-bit. Dangling-node mass is dropped rather than
    * redistributed and scores are not re-normalized — the standard
    * "fixed-point iteration" simplification; ranking order is what
    * the pipeline consumes, and that is preserved.
    *
    * Scale shape per round: one hash join of the O(edges) edge table
    * against the O(nodes) score frame, one partial-aggregated sum,
    * one left join back to the node list — the same Pregel-lite
    * shape as [[hitsMicro]], with no driver action in the loop and
    * fixed O(rounds) plan depth. Self-loops are dropped as EDGES (a
    * self-edge is rank leakage, not signal) but their endpoints stay
    * in the node list — a node incident only to self-loops gets
    * teleport-only rank and out_degree 0, not silence.
    *
    * Returns (node, pr_micro, out_degree) with out_degree 0 for pure
    * sinks. */
  def pageRankMicro(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = cached { keep =>
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    val all = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
    val e = keep(all.filter(col("__s") =!= col("__d")).distinct())
    // node list from the UNFILTERED edges: self-loop-only nodes are
    // real nodes of the graph and must appear in the output. One
    // explode pass, not a two-branch union — the union form read the
    // raw stream (and the caller's whole edge construction above it)
    // twice; persisting the raw pair stream instead was measured
    // WORSE (caching the biggest pre-distinct frame costs more than
    // one replay), so the fix is fewer reads, not a cache
    val nodes = keep(all
      .select(explode(array(col("__s"), col("__d"))).as("__n"))
      .distinct())
    val outdeg = e.groupBy(col("__s").as("__n"))
      .agg(count(lit(1)).as("__od"))
    // node list with out-degree (0 for sinks) feeds every round AND
    // the final projection — persist once
    val nd = keep(nodes.join(outdeg, Seq("__n"), "left")
      .select(col("__n"), coalesce(col("__od"), lit(0L)).as("__od")))
    var pr = nd.select(col("__n"), lit(1000000L).as("__pr"))
    (1 to rounds).foreach { _ =>
      val shares = pr.join(nd.filter(col("__od") > 0), Seq("__n"))
        .select(col("__n").as("__s"),
          expr("__pr div __od").as("__share"))
      val incoming = e.join(shares, Seq("__s"))
        .groupBy(col("__d").as("__n"))
        .agg(sum(col("__share")).as("__in"))
      pr = nd.select(col("__n")).join(incoming, Seq("__n"), "left")
        .select(col("__n"),
          (lit(150000L) +
            expr("coalesce(__in, 0L) * 85 div 100")).as("__pr"))
    }
    pr.join(nd, Seq("__n"))
      .select(col("__n").as("node"), col("__pr").as("pr_micro"),
        col("__od").as("out_degree"))
  }

  /** Exact triangle counting via degree orientation (the classic
    * O(m^1.5) wedge-check algorithm; Schank-Wagner 2005, also the
    * MapReduce form in Suri-Vassilvitskii 2011 "Counting triangles
    * and the curse of the last reducer"). Every edge of the canonical
    * adjacency is oriented from its lower-(degree, id) endpoint
    * to the higher one — a total acyclic order under which each
    * triangle has exactly ONE wedge vertex, so a wedge self-join on
    * the low endpoint plus one closing-edge semi-join enumerates each
    * triangle exactly once. Orientation caps the wedge fan-out at
    * O(sqrt(m)) per vertex — high-degree hubs only ever fan out to
    * even-higher-rank neighbors — which is what makes the self-join
    * survive skewed degree distributions at scale.
    *
    * All joins are equi-joins on node ids (shuffle or broadcast as
    * AQE decides); the (degree, id) tuple comparison is a residual
    * predicate on the wedge join, not a join key.
    *
    * Returns (node, degree, n_triangles) for every node of the
    * undirected graph — including nodes incident only to self-loops,
    * which appear with degree 0 and n_triangles 0 (a self-loop is not
    * an undirected edge to a neighbor); that node list is read from
    * `edges` itself, since the adjacency has no self-loops. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = withAdjacency(edges, srcCol, dstCol) { adj =>
    val und = adj.nm.filter(col("__n") < col("__m"))
      .select(col("__n").as("__u"), col("__m").as("__v"))
    // every endpoint — self-loop-only nodes included — with the
    // proper-edge degree (0 for self-loop-only nodes). Single explode
    // pass over the raw stream: a u-side ∪ v-side union would read
    // the caller's whole edge-construction chain twice (persisting the
    // raw pre-distinct pair stream instead measured worse — the cache
    // write of the biggest frame costs more than one replay). An edge
    // with one NULL endpoint counts as a self-loop on the other one.
    val deg = adj.keep(edges
      .select(explode(array(least(col(srcCol), col(dstCol)),
        greatest(col(srcCol), col(dstCol)))).as("__n"))
      .distinct()
      .join(degrees(adj.nm), Seq("__n"), "left")
      .select(col("__n"), coalesce(col("__d"), lit(0L)).as("__deg")))
    // orient each edge low-(deg, id) -> high-(deg, id); carry both
    // endpoint degrees so the wedge join's order check is local
    val oe = adj.keep(und
      .join(deg.select(col("__n").as("__u"), col("__deg").as("__du")), Seq("__u"))
      .join(deg.select(col("__n").as("__v"), col("__deg").as("__dv")), Seq("__v"))
      .select(
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          struct(col("__u").as("a"), col("__v").as("b"),
            col("__dv").as("db")))
          .otherwise(struct(col("__v").as("a"), col("__u").as("b"),
            col("__du").as("db"))).as("__o"))
      .select(col("__o.a").as("__a"), col("__o.b").as("__b"),
        col("__o.db").as("__db")))
    // Edge-iterator closure (the out-neighborhood-intersection form
    // of the same oriented algorithm): triangle {a,b,c} with a the
    // lowest-rank vertex closes exactly when c ∈ N⁺(a) ∩ N⁺(b) for
    // the oriented edge (a,b) — so intersect the two out-adjacency
    // arrays PER EDGE instead of materializing wedges. The O(m^1.5)
    // wedge volume (41M wedges from 1.2M edges on the sf0.1
    // co-occurrence graph — formerly a self-join + semi-join that
    // moved all of it) now lives inside one codegen'd array_intersect
    // over orientation-bounded arrays (≤ O(sqrt m) entries each); the
    // only exchanges are the O(m) adjacency groupBy and the two O(m)
    // edge⋈adjacency hash joins. Rows that survive carry only real
    // triangles, so downstream volume is O(#triangles), not wedges.
    val outNbrs = adj.keep(oe.groupBy(col("__a"))
      .agg(collect_list(col("__b")).as("__ns")))
    // hash joins, never sort-merge: sorting rows that carry the
    // adjacency arrays would move/compare the array payloads; hashing
    // only touches the key
    val withNs = oe.select(col("__a"), col("__b"))
      .join(outNbrs.hint("shuffle_hash"), Seq("__a"))
      .join(outNbrs.select(col("__a").as("__b"), col("__ns").as("__nsb"))
          .hint("shuffle_hash"),
        Seq("__b"), "left")
      // a null __nsb means b has no out-edges — nothing can close
      .filter(col("__nsb").isNotNull)
      .select(col("__a"), col("__b"),
        array_intersect(col("__ns"), col("__nsb")).as("__t"))
      .filter(size(col("__t")) > 0)
    // per-node attribution in ONE pass: the wedge vertex a and the
    // middle b each get |∩| triangles, every closing c gets one —
    // a single explode of (2 + |∩|) credit structs per closed edge,
    // then one partial-combined sum. Exploded rows ≈ 2·(closed
    // edges) + 3·#triangles — triangle-sized, never wedge-sized.
    val perNode = withNs
      .select(explode(expr(
        """concat(
          |  array(struct(__a AS n, CAST(size(__t) AS BIGINT) AS c),
          |        struct(__b AS n, CAST(size(__t) AS BIGINT) AS c)),
          |  transform(__t, x -> struct(x AS n, CAST(1 AS BIGINT) AS c)))"""
          .stripMargin)).as("__cr"))
      .groupBy(col("__cr.n").as("__n"))
      .agg(sum(col("__cr.c")).as("n_triangles"))
    deg.join(perNode, Seq("__n"), "left")
      .select(col("__n").as("node"), col("__deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Multi-source breadth-first reachability: the minimum hop count
    * from ANY seed node to every node within `maxHops` hops, over a
    * directed edge list. This is the recursive-query capability
    * (SQL's `WITH RECURSIVE`, which Spark SQL lacks) expressed as a
    * frontier iteration: level h's frontier joins the edge table,
    * new targets are deduplicated and anti-joined against the
    * visited set, and BFS level order guarantees the first visit IS
    * the minimum distance — so no per-node min aggregation is ever
    * needed.
    *
    * Scale shape per hop: one hash join of the O(edges) table
    * against the frontier, one distinct, one anti-join against the
    * visited set — all equi-exchanges on the node id; the frontier
    * and each level's discoveries are O(nodes) at worst and usually
    * far smaller. Each level persists exactly one new frame (its
    * discoveries); the visited set is the union of those cached
    * levels, so no round replays a predecessor. Fixed `maxHops`
    * bounds plan depth; there is no driver action inside the loop
    * (an empty frontier makes the remaining rounds cheap no-op
    * joins rather than an early exit — at 1000-executor scale a
    * per-round `count()` barrier costs more than the empty joins it
    * would skip). Self-loops are dropped as edges (a self-edge
    * never changes a BFS distance).
    *
    * Returns (node, hops): every node reachable in ≤ `maxHops` hops,
    * seeds included at hops 0. */
  def reachability(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = cached { keep =>
    require(maxHops >= 1, s"maxHops $maxHops must be >= 1")
    val e = keep(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s") =!= col("__d"))
      .distinct())
    val level0 = keep(seeds.select(col(seedCol).as("__n")).distinct()
      .select(col("__n"), lit(0L).as("__h")))
    var visited = level0
    var frontier: DataFrame = level0.select(col("__n"))
    (1 to maxHops).foreach { h =>
      val next = keep(e.join(frontier.withColumnRenamed("__n", "__s"), Seq("__s"))
        .select(col("__d").as("__n"))
        .distinct()
        .join(visited.select(col("__n")), Seq("__n"), "left_anti")
        .select(col("__n"), lit(h.toLong).as("__h")))
      visited = visited.union(next)
      frontier = next.select(col("__n"))
    }
    visited.select(col("__n").as("node"), col("__h").as("hops"))
  }

  /** Fixed-round k-core peel (Seidman 1983 "Network structure and
    * minimum degree"; the distributed peel loop of Montresor et al.
    * 2013): repeatedly delete every node whose degree in the
    * CURRENT surviving subgraph is below `k`, `rounds` times. The
    * k-core is the standard graph-curation gate — peripheral
    * low-connectivity nodes (drive-by link spam, single-interaction
    * users) peel away while the dense core survives. A fixed round
    * count keeps the trajectory engine-replayable (each round is a
    * pure function of the previous subgraph); on graphs whose peel
    * converges faster the extra rounds are cheap fixpoint no-ops.
    *
    * Scale shape: the cached adjacency is never refiltered or
    * reshuffled — each round works on the DELTA. The just-removed
    * node set (small after round 1; peeling converges geometrically
    * on real degree distributions) probes the adjacency on `__n` (the
    * dying endpoint) to count, per surviving neighbour `__m`, how
    * many incident edges just died, and the degree frame is updated
    * by subtraction. Whatever strategy the planner picks for that
    * join — broadcast locally, shuffle-hash when a real graph's
    * round-1 removed set is too big to broadcast — the adjacency
    * side never re-exchanges; only node-sized frames move, and the
    * one per-round exchange is the decrement count's node-sized
    * regroup onto `__m`. (The previous spelling probed a half-sized
    * edge cache TWICE — one join per endpoint column — and
    * re-shuffled the touched stream every round; the first
    * formulation before that paid 3 edge shuffles + an edge-sized
    * cache write per round: 23.8s at sf0.1 vs ~4s.) The decrement
    * bookkeeping is exact: every edge decrements its surviving
    * endpoint exactly once, in the round its first endpoint dies
    * (both-die-same-round edges decrement nobody), which is
    * precisely "degree within the current surviving subgraph". No
    * Spark action runs inside the loop.
    *
    * Returns (node, degree): the nodes still incident to an edge
    * after `rounds` peels, with their degree inside the peeled
    * subgraph. */
  def kCorePeel(adj: Adjacency, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    var deg = adj.keep(degrees(adj.nm))
    (1 to rounds).foreach { _ => deg = adj.keep(kCoreRound(adj.nm, deg, k)) }
    deg.filter(col("__d") > 0)
      .select(col("__n").as("node"), col("__d").as("degree"))
  }

  /** One peel round of [[kCorePeel]]: the `(__n, __d)` degrees after
    * dropping every node of `deg` below `k` from the adjacency `nm`. */
  private[graft] def kCoreRound(nm: DataFrame, deg: DataFrame,
      k: Int): DataFrame = {
    val removed = deg.filter(col("__d") < k).select(col("__n"))
    // every adjacency row whose __n endpoint just died credits its
    // __m endpoint; endpoints that also died this round fall out of
    // the left join against the surviving frame below
    val dec = nm.join(removed, Seq("__n"))
      .groupBy(col("__m")).agg(count(lit(1)).as("__dc"))
      .select(col("__m").as("__n"), col("__dc"))
    deg.filter(col("__d") >= k).join(dec, Seq("__n"), "left")
      .select(col("__n"),
        (col("__d") - coalesce(col("__dc"), lit(0L))).as("__d"))
  }

  /** Bounded-hop weighted shortest paths from a seed set — the
    * weighted generalization of [[reachability]], computed as
    * `rounds` synchronous Bellman-Ford relaxations (Bellman 1958;
    * the frontier-delta form is the classic distributed SSSP of
    * Pregel/Lumsdaine et al.). After round r, `dist(n)` is exactly
    * the minimum total weight over paths from any seed using ≤ r
    * edges — the bounded-hop semantics that keeps the trajectory
    * engine-replayable in ANSI SQL (a recursive CTE with a hop
    * counter replays it verbatim; unbounded SSSP is not expressible
    * without monotone-recursion extensions). Weights are Long and
    * must be non-negative (checked per partition at relax time via
    * a codegen filter: a negative weight would make bounded-hop
    * distances order-sensitive).
    *
    * Scale shape per round: ONE edge-sized equi-join (the cached
    * edge table against the O(nodes) distance frame) and ONE
    * partial-combined min — the relaxed candidates union the
    * previous distances and min-combine per node, so `dist_r(n) =
    * min(dist_{r-1}(n), min over in-edges(dist_{r-1}(src) + w))` by
    * construction. That is the whole round: no anti-joins, no
    * merge joins (a frontier-delta variant — relax only from
    * improved nodes — pays 2 extra node-sized joins per round to
    * shrink the relax set; it wins when `rounds` approaches the
    * graph diameter, while this synchronous form wins for the
    * fixed shallow budgets a replayable pipeline uses; measured
    * 19.1s → 3.5s at sf0.1 for rounds = 4 switching delta →
    * synchronous). No driver action inside the loop. Self-loops
    * are dropped — a self-edge with w ≥ 0 never improves a
    * distance.
    *
    * Returns (node, dist): every node reachable from a seed within
    * `rounds` hops, seeds at dist 0 (weights are non-negative, so a
    * seed never improves below 0). */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame = cached { keep =>
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    val e = keep(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__s") =!= col("__d"))
      .filter(col("__w") >= 0) // negative weights break bounded-hop minimality
      .groupBy(col("__s"), col("__d")).agg(min(col("__w")).as("__w")))
    var dist = keep(seeds.select(col(seedCol).as("__n")).distinct()
      .select(col("__n"), lit(0L).as("__dist")))
    (1 to rounds).foreach { _ =>
      val cand = e.join(dist.withColumnRenamed("__n", "__s"), Seq("__s"))
        .select(col("__d").as("__n"), (col("__dist") + col("__w")).as("__dist"))
      dist = keep(dist.unionByName(cand)
        .groupBy(col("__n")).agg(min(col("__dist")).as("__dist")))
    }
    dist.select(col("__n").as("node"), col("__dist").as("dist"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    * for community detection over an undirected graph — the
    * cluster-discovery step beyond [[graft.operators.Dedup]]'s
    * connected components: components glue anything that touches,
    * LPA splits dense regions from incidental bridges, which is what
    * a near-dup/citation/co-purchase graph needs before picking
    * per-community representatives.
    *
    * Determinism (the property MLlib's async LPA gives up): labels
    * initialize to the node id, every node updates simultaneously
    * each round to the (count desc, label asc) argmax of its
    * NEIGHBOR labels, ties and convergence replayable in ANSI SQL —
    * the oracle re-runs every round. `rounds` is fixed (synchronous
    * LPA may oscillate; a fixed budget is the standard practice and
    * keeps plan depth bounded).
    *
    * Scale shape per round: one equi-join of the node-sized labels
    * onto the cached adjacency + one partial-combined (node, label)
    * count + one struct-max argmax per node — no all-pairs anything;
    * labels persist per round and the loop runs no Spark actions.
    * Returns (node, label). */
  def labelPropagation(adj: Adjacency, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    var labels = adj.keep(adj.nm.select(col("__n")).distinct()
      .select(col("__n"), col("__n").as("__l")))
    (1 to rounds).foreach { _ =>
      // labels join on the adjacency's partitioning key __n, so only
      // the node-sized label side moves; by symmetry, grouping on the
      // other endpoint __m counts each node's NEIGHBOUR labels.
      // Shuffle-hash, not sort-merge: SMJ would SORT the cached edge
      // list by __n every round (the partitioning is cached, the sort
      // order is not); SHJ streams the cached partitions and builds
      // on the node-sized label side — the p65 hint discipline
      val nbrLabels = adj.nm
        .join(labels.hint("shuffle_hash"), Seq("__n"))
        .groupBy(col("__m"), col("__l"))
        .agg(count(lit(1)).as("__c"))
      // argmax by (count desc, label asc), EXACT at any count: one
      // struct max — max(struct(count, -label)) picks the highest
      // count and, within it, the smallest label, in a single
      // partial-combined aggregate (integer comparisons, no windows,
      // no float encoding)
      labels = adj.keep(nbrLabels
        .groupBy(col("__m"))
        .agg(max(struct(col("__c"), (-col("__l")).as("__nl"))).as("__t"))
        .select(col("__m").as("__n"), (-col("__t")("__nl")).as("__l")))
    }
    labels.select(col("__n").as("node"), col("__l").as("label"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003, "Friends and
    * neighbors on the Web") over an undirected graph: score every
    * NON-adjacent candidate pair (u,v) by Σ_{w ∈ N(u)∩N(v)} 1/ln d(w)
    * — common neighbors, discounted by how promiscuous each shared
    * neighbor is — and return the `topK` highest-scoring pairs. On a
    * co-purchase / co-citation graph this is "which items SHOULD be
    * linked but aren't yet", the candidate-generation step of a
    * recommendation or retrieval-augmentation pipeline.
    *
    * Exactness: the per-neighbor weight is the integer micro-weight
    * round(1e6/ln d(w)) and scores are Long SUMS of those — exact,
    * summation-order-independent, replayable in ANSI SQL (the same
    * trick as [[hitsMicro]]'s integer trajectory). Ties break on
    * (u, v) ascending.
    *
    * Scale shape: wedges are enumerated THROUGH each shared neighbor
    * w, from w's sorted adjacency array — pairs are generated inside
    * one codegen'd nested `transform`, never via a nb⋈nb self-join
    * whose build side would be the full symmetrized edge list. The
    * fan-out is Σ C(d_w, 2) which a single hub node would blow up
    * quadratically, so middles are capped at `maxDegree`: a node with
    * d > maxDegree contributes weight ≤ 1e6/ln(maxDegree) to ANY of
    * its C(d,2) pairs — the least-informative signal in the measure
    * by construction — and dropping it bounds generated wedge rows at
    * (maxDegree/2)·Σd = maxDegree·m, linear in edges for a fixed cap.
    * (The cap is part of the operator's CONTRACT, not a hidden
    * approximation: the oracle applies the same cap.) Downstream is
    * one partial-combined (u,v) sum, one anti-join against the edge
    * set, and a TakeOrderedAndProject for the top-k — no shuffle ever
    * carries more than capped-wedge volume, and the heap keeps the
    * driver result topK-sized.
    *
    * Returns (u, v, common_neighbors, aa_micro), the topK non-edges
    * by (aa_micro desc, u, v). */
  def adamicAdarTopK(adj: Adjacency, maxDegree: Int = 64,
      topK: Int = 50): DataFrame = adamicAdarScored(adj.nm, maxDegree, topK)

  /** The scoring pipeline of [[adamicAdarTopK]] over an adjacency
    * frame `nm` — split out so PlanSpec can pin the physical shape
    * over a lazily built adjacency. */
  private[graft] def adamicAdarScored(nm: DataFrame, maxDegree: Int,
      topK: Int): DataFrame = {
    require(maxDegree >= 2, s"maxDegree $maxDegree must be >= 2")
    require(topK >= 1, s"topK $topK must be >= 1")
    // one row per eligible middle: sorted neighbor array + micro-weight,
    // grouped on the adjacency's partitioning key
    val mids = nm.groupBy(col("__n"))
      .agg(sort_array(collect_list(col("__m"))).as("__ns"))
      .filter(size(col("__ns")).between(2, maxDegree))
      .select(col("__ns"),
        expr("CAST(ROUND(1e6 / LN(size(__ns))) AS BIGINT)").as("__w"))
    // all i<j pairs of the sorted array, exploded with the weight;
    // array is sorted so u < v holds per pair without re-ordering.
    // Compiled pair generator ([[graft.functions.SortedArrayPairs]]):
    // the flatten(transform(slice…)) HOF spelling ran ~15 interpreted
    // expression evals + an O(k) slice copy per emitted wedge — the
    // dominant per-row cost of this operator (same fix and same
    // (i, j) emission order as the r17 withinGroupPairs swap).
    val wedges = mids.select(col("__w"),
      explode(graft.functions.SortedArrayPairs(col("__ns"))).as("__p"))
    wedges
      .groupBy(col("__p.x").as("u"), col("__p.y").as("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__w")).as("aa_micro"))
      .join(nm.filter(col("__n") < col("__m"))
          .select(col("__n").as("u"), col("__m").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Newman modularity per community: for a community assignment
    * (e.g. [[labelPropagation]]'s), each community's contribution
    * Q_c = e_c/m − (d_c/2m)² — intra-community edge share minus the
    * share a degree-preserving random rewiring would produce. The
    * quality gate on any clustering used for data curation (a
    * near-zero total means the "communities" are noise). Computed as
    * the exact integer rational (4·m·e_c − d_c²) / (4·m²) — decimal
    * products so a billion-edge graph cannot overflow — with ONE
    * double divide rounded to micro units at the very end.
    *
    * Scale shape: degrees group on the adjacency's partitioning
    * (no exchange); intra-edge counts are two node-keyed hash joins
    * of the `u < v` edges onto the label table, then label-grain
    * aggregates; m broadcasts as a single row. Nothing is ever
    * node×node. All three consumers (m, degrees, intra-edge join)
    * read the one cached adjacency — without a cache each would
    * replay the caller's whole edge-construction chain (for the
    * battery's co-purchase graph that is the full C(k,2) basket pair
    * explode, three times over; measured 13.4s → 9.5s at sf0.1 from
    * that cache alone).
    *
    * Returns (label, n_nodes, intra_edges, sum_degree,
    * contribution_micro) by label. */
  def modularity(adj: Adjacency, labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame = {
    val und = adj.nm.filter(col("__n") < col("__m"))
    val lab = labels.select(col(nodeCol).as("__n"),
      col(labelCol).as("__l"))
    val m = und.agg(count(lit(1)).cast("decimal(38,0)").as("__edges"))
    val deg = degrees(adj.nm)
    val perLabel = deg.join(lab, Seq("__n"))
      .groupBy(col("__l"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("__d")).as("sum_degree"))
    val intra = und
      .join(lab.toDF("__n", "__lu"), Seq("__n"))
      .join(lab.toDF("__m", "__lv"), Seq("__m"))
      .filter(col("__lu") === col("__lv"))
      .groupBy(col("__lu").as("__l"))
      .agg(count(lit(1)).as("intra_edges"))
    perLabel.join(intra, Seq("__l"), "left")
      .crossJoin(broadcast(m))
      .select(col("__l").as("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("sum_degree"),
        round(expr("CAST(4 * __edges * CAST(coalesce(intra_edges, 0) AS " +
          "DECIMAL(38,0)) - CAST(sum_degree AS DECIMAL(38,0)) * " +
          "sum_degree AS DOUBLE) / CAST(4 * __edges * __edges AS DOUBLE)") *
          lit(1000000.0), 0).cast("long").as("contribution_micro"))
  }
}

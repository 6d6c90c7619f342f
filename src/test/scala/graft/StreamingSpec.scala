package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming specs: MemoryStream-driven incremental
  * execution of the windowed aggregation and the stateful
  * sessionizer, checked against the batch formulation of the same
  * logic (Spark's unified batch/stream semantics).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // offset from epoch: a ts equal to the initial watermark (0) would
  // be dropped as late by stateful operators
  private val Base = 86400000L
  private def ts(minute: Int) = new Timestamp(Base + minute * 60000L)

  test("windowed stats over a stream match the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(5), 10, "click", 2.0),
      Event(3, ts(65), 11, "view", 3.0),
      Event(4, ts(70), 10, "click", 4.0))

    val q = EventStreams.windowedStats(input.toDF(), "1 hour", "2 hours")
      .writeStream.outputMode("complete")
      .format("memory").queryName("winstats").start()
    input.addData(events.take(2))
    q.processAllAvailable()
    input.addData(events.drop(2))
    q.processAllAvailable()
    val got = spark.table("winstats")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
    q.stop()

    val batch = EventStreams.windowedStats(events.toDF(), "1 hour", "2 hours")
      .orderBy("window_start", "event_type")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSeq
    assert(got == batch)
    assert(got.map(_._3).sum == 4)
  }

  test("windowed heavy hitters stream == batch, exact under capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // hour 1: user 10 ×3, 20 ×2, 30 ×1; hour 2: user 20 ×2, 40 ×1
    val events = Seq(
      Event(1, ts(1), 10, "click", 1.0), Event(2, ts(2), 10, "view", 1.0),
      Event(3, ts(3), 10, "click", 1.0), Event(4, ts(4), 20, "click", 1.0),
      Event(5, ts(5), 20, "view", 1.0), Event(6, ts(6), 30, "click", 1.0),
      Event(7, ts(61), 20, "click", 1.0), Event(8, ts(62), 20, "view", 1.0),
      Event(9, ts(63), 40, "click", 1.0))
    val q = EventStreams.windowedHeavyHitters(input.toDF(), "1 hour",
        "2 hours", k = 2, capacity = 64)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hh").start()
    input.addData(events.take(4))
    q.processAllAvailable()
    input.addData(events.drop(4))
    q.processAllAvailable()
    val got = spark.table("hh").orderBy("window_start", "rnk")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    q.stop()
    // capacity (64) > distinct users per window → EXACT top-2 with
    // zero error, regardless of micro-batch boundaries
    assert(got == Seq(
      (Base, 1, 10L, 3L, 0L), (Base, 2, 20L, 2L, 0L),
      (Base + 3600000L, 1, 20L, 2L, 0L), (Base + 3600000L, 2, 40L, 1L, 0L)))
    val batch = EventStreams.windowedHeavyHitters(events.toDF(), "1 hour",
        "2 hours", k = 2, capacity = 64)
      .orderBy("window_start", "rnk")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getInt(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == batch)
  }

  test("space-saving state stays bounded and bounds its error under overflow") {
    val agg = new graft.operators.TopK.SpaceSavingAgg(3, 4)
    // 100 distinct ids + a genuinely heavy id 7 (×50), capacity 4
    var m = agg.zero
    (0L until 100L).foreach { i => m = agg.reduce(m, i) }
    (1 to 50).foreach { _ => m = agg.reduce(m, 7L) }
    assert(m.size <= 4) // state never exceeds capacity
    val top = agg.finish(m)
    // the heavy id surfaces on top, its guaranteed lower bound
    // (count - err) is positive and its estimate covers the truth
    assert(top.head.id == 7L)
    assert(top.head.count >= 50L && top.head.count - top.head.err <= 50L)
    // merge of two summaries trims back to capacity
    var m2 = agg.zero
    (200L until 300L).foreach { i => m2 = agg.reduce(m2, i) }
    assert(agg.merge(m, m2).size <= 4)
  }

  test("space-saving invariants hold on random streams and random merge splits") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val agg = new graft.operators.TopK.SpaceSavingAgg(5, 8)
    // skewed random streams over a key space larger than capacity
    val stream: Gen[List[Long]] = Gen.listOfN(400,
      Gen.frequency(6 -> Gen.choose(0L, 3L), 4 -> Gen.choose(0L, 50L)))
    (0 until 30).foreach { i =>
      {
        val xs = stream.apply(Gen.Parameters.default, Seed(i.toLong)).get
        val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        // random split into two partitions, each reduced, then merged —
        // the partial+final path Spark and streaming state actually run
        val (l, r) = xs.zipWithIndex.partition(_._2 % 3 == 0)
        def summarize(ys: Seq[Long]) =
          ys.foldLeft(agg.zero)((m, x) => agg.reduce(m, x))
        val merged = agg.merge(summarize(l.map(_._1)), summarize(r.map(_._1)))
        assert(merged.size <= 8) // state bound survives merge
        merged.foreach { case (id, (c, e)) =>
          val t = truth(id)
          assert(c >= t, s"estimate $c under-counts true $t for $id")
          assert(c - e <= t, s"lower bound ${c - e} exceeds true $t for $id")
        }
      }
    }
  }

  test("SpaceSavingAggregate buffer == typed-Aggregator on random streams and merge splits") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the overflow regime is arrival-order-sensitive BY CONTRACT, so
    // the byte-equality pin drives both implementations through
    // identical reduce sequences and an identical merge split —
    // deterministic, unlike a through-Spark shuffle whose partial
    // fetch order is not pinned
    for ((k, cap) <- Seq((3, 4), (5, 8), (2, 16))) {
      val agg = new graft.operators.TopK.SpaceSavingAgg(k, cap)
      val stream: Gen[List[Long]] = Gen.listOfN(400,
        Gen.frequency(6 -> Gen.choose(0L, 3L), 4 -> Gen.choose(0L, 50L)))
      (0 until 20).foreach { i =>
        val xs = stream.apply(Gen.Parameters.default, Seed(i.toLong)).get
        val (l, r) = xs.zipWithIndex.partition(_._2 % 3 == 0)
        def oldSum(ys: Seq[Long]) =
          ys.foldLeft(agg.zero)((m, x) => agg.reduce(m, x))
        def newSum(ys: Seq[Long]) = {
          val b = new graft.functions.SpaceSavingBuffer(k, cap)
          ys.foreach(b.add)
          b
        }
        val oldM = agg.merge(oldSum(l.map(_._1)), oldSum(r.map(_._1)))
        val newB = newSum(l.map(_._1))
        newB.mergeFrom(newSum(r.map(_._1)))
        val oldRanked = oldM.toSeq.sortBy { case (id, (c, _)) => (-c, id) }
          .map { case (id, (c, e)) => (id, c, e) }
        assert(newB.ranked.toSeq == oldRanked, s"k=$k cap=$cap seed=$i")
        // serialization round-trip preserves the summary
        val expr = graft.functions.SpaceSavingAggregate(
          org.apache.spark.sql.catalyst.expressions.Literal(0L), k, cap)
        val rt = expr.deserialize(expr.serialize(newB))
        assert(rt.ranked.toSeq == newB.ranked.toSeq)
      }
    }
  }

  test("SpaceSavingAggregate == typed-Aggregator udaf through Spark in the exact regime") {
    import spark.implicits._
    // ≤capacity distinct ids per group → exact, order-insensitive
    // results; 11 partitions exercise partial/merge paths
    val rnd = new scala.util.Random(23)
    val rows = (1 to 4000).map { _ =>
      (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong)
    }
    val df = rows.toDF("g", "id").repartition(11)
    for ((k, cap) <- Seq((3, 64), (10, 4096))) {
      val got = df.groupBy("g")
        .agg(graft.operators.TopK.spaceSaving(k, cap)(col("id")).as("hh"))
        .select(col("g"), expr("to_json(hh)").as("j"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val want = df.groupBy("g")
        .agg(graft.operators.TopK.spaceSavingUdaf(k, cap)(col("id")).as("hh"))
        .select(col("g"), expr("to_json(hh)").as("j"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got === want, s"k=$k cap=$cap diverges from the udaf reference")
    }
  }

  test("stateful sessionizer closes sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val gap = 10 * 60000L // 10 min

    val q = EventStreams.sessionize(input.toDS(), gap)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    // batch 1: user 10 starts a session
    input.addData(Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 1.0))
    q.processAllAvailable()
    // batch 2: 30-min gap → previous session closes, new one opens
    input.addData(Event(3, ts(35), 10, "click", 1.0))
    q.processAllAvailable()
    val out = spark.table("sessions").orderBy("start_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    q.stop()
    assert(out.toSeq == Seq((10L, Base, Base + 5 * 60000L, 2L)))
  }

  test("event-time timeout closes a session when the stream goes quiet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.sessionizeEventTime(input.toDS(), 10 * 60000L, "5 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("et_sessions").start()
    // user 10's two events; user 99 far in the future drives the
    // watermark past 10's timeout
    input.addData(Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 1.0))
    q.processAllAvailable()
    input.addData(Event(3, ts(120), 99, "click", 1.0))
    q.processAllAvailable()
    // one more batch so the timeout (armed by the advanced watermark)
    // actually fires
    input.addData(Event(4, ts(121), 99, "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("et_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(out.contains((10L, Base, Base + 5 * 60000L, 2L)),
      s"expected user 10's session closed by timeout, got $out")
  }

  test("batch sessionizer flushes open sessions and matches oracle query") {
    import spark.implicits._
    val events = Seq(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 1.0),
      Event(3, ts(35), 10, "click", 1.0),
      Event(4, ts(2), 11, "view", 1.0))
    val out = EventStreams.sessionizeBatch(events.toDS(), 10 * 60000L)
      .orderBy("user_id", "start_ms").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 2L), (10L, 1L), (11L, 1L)))
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((10L, "gold"), (11L, "silver")).toDF("user_id", "tier")
    val q = EventStreams.enrichStream(input.toDF(), dim, "user_id")
      .select(col("event_id"), col("tier"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    input.addData(Event(1, ts(1), 10, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(2, ts(2), 11, "view", 1.0),
      Event(3, ts(3), 99, "view", 1.0)) // no dim row → null tier
    q.processAllAvailable()
    val got = spark.table("enriched").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    q.stop()
    assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
  }

  test("stream-stream interval join matches the batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val viewsIn = MemoryStream[Event]
    val buysIn = MemoryStream[Event]
    val views = Seq(
      Event(1, ts(30), 10, "view", 0.0),   // after 10's purchase at t=5
      Event(2, ts(30), 11, "view", 0.0),   // user 11 never purchases
      Event(3, ts(200), 10, "view", 0.0),  // 10's purchase now stale (>1h)
      // far-future view: the GLOBAL watermark is min(views wm,
      // purchases wm), so BOTH sides must advance before the
      // leftOuter null rows for views 2 and 3 can be emitted
      Event(4, ts(600), 99, "view", 0.0))
    val buys = Seq(
      Event(9, ts(5), 10, "purchase", 42.0),
      Event(8, ts(600), 99, "purchase", 1.0))

    val q = EventStreams.viewPurchaseJoin(
        viewsIn.toDF(), buysIn.toDF(), 3600000L, "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("vpjoin").start()
    viewsIn.addData(views.take(2)); buysIn.addData(buys.take(1))
    q.processAllAvailable()
    viewsIn.addData(views.drop(2)); buysIn.addData(buys.drop(1))
    q.processAllAvailable()
    // one more batch past the frontier lets outer-join state flush
    viewsIn.addData(Event(5, ts(601), 99, "view", 0.0))
    buysIn.addData(Event(7, ts(601), 99, "purchase", 1.0))
    q.processAllAvailable()
    val got = spark.table("vpjoin").collect()
      .map(r => (r.getLong(0), Option(r.get(4)))).toSet
    q.stop()

    val batch = EventStreams.viewPurchaseJoin(
        views.toDF(), buys.toDF(), 3600000L, "10 minutes")
      .collect().map(r => (r.getLong(0), Option(r.get(4)))).toSet
    val expected: Set[(Long, Option[Any])] =
      Set((1L, Some(42.0)), (2L, None), (3L, None))
    assert(expected.subsetOf(got), s"missing attributed/null rows: $got")
    // every batch-side row for the first four views appears in the
    // stream output too (the flush events 5/7 may add their own rows)
    assert(batch.filter(_._1 <= 4).subsetOf(got))
  }

  test("native session_window streams with a watermark and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(0), 10, "click", 1.0),
      Event(2, ts(5), 10, "view", 1.0),   // same session (gap 5m < 30m)
      Event(3, ts(60), 10, "click", 1.0), // new session
      Event(4, ts(2), 11, "view", 1.0),
      // far-future event advances the watermark so earlier sessions
      // close and emit in append mode
      Event(5, ts(600), 99, "click", 1.0))
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
        col("n_events"))
    val q = sessions(input.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("native_sessions").start()
    input.addData(events.take(4)); q.processAllAvailable()
    input.addData(events.drop(4)); q.processAllAvailable()
    val got = spark.table("native_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    val batch = sessions(events.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every closed streaming session appears in the batch result, and
    // all sessions the watermark could close were emitted
    assert(got.subsetOf(batch), s"stream=$got batch=$batch")
    assert(got.contains((10L, Base, 2L)))
    assert(got.contains((10L, Base + 60 * 60000L, 1L)))
    assert(got.contains((11L, Base + 2 * 60000L, 1L)))
  }

  test("streaming dedup drops duplicate keys across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF(), Seq("event_id"), "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedupstr").start()
    input.addData(Seq(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "view", 2.0)))
    q.processAllAvailable()
    // same event_id arrives again in a later micro-batch, inside the
    // watermark horizon — must be dropped; a new id must pass
    input.addData(Seq(
      Event(1, ts(3), 10, "click", 1.0),
      Event(3, ts(4), 11, "view", 3.0)))
    q.processAllAvailable()
    val got = spark.table("dedupstr").select("event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    q.stop()
    assert(got == Seq(1L, 2L, 3L))
  }

  test("dedup state survives a checkpointed stop/restart") {
    // the production property behind every streaming operator here:
    // state lives in the checkpointed state store, so a crash or
    // planned restart resumes exactly — a key seen BEFORE the restart
    // still dedups an arrival AFTER it.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val ckpt = ScratchDirs.create("graft_ckpt")
    val emitted = new scala.collection.concurrent.TrieMap[Long, Long]()
    def start() = EventStreams
      .dedupStream(input.toDF(), Seq("event_id"), "2 hours")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.select("event_id").collect()
          .foreach(r => emitted.put(r.getLong(0), id))
      }.start()
    val q1 = start()
    input.addData(Seq(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "view", 2.0)))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    input.addData(Seq(
      Event(1, ts(3), 10, "click", 1.0), // dup of a PRE-restart key
      Event(3, ts(4), 11, "view", 3.0)))
    q2.processAllAvailable()
    q2.stop()
    assert(emitted.keySet == Set(1L, 2L, 3L),
      s"emitted ${emitted.keySet}")
  }

  test("transformWithState profile accumulates across micro-batches; argmax = batch totals") {
    import graft.streaming.StatefulProfile
    import graft.streaming.StatefulProfile.EventIn
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventIn]
      val q = StatefulProfile.userProfiles(input.toDS())
        .writeStream.outputMode("update")
        .format("memory").queryName("twsprof").start()
      input.addData(Seq(EventIn(10, "click", 100), EventIn(10, "view", 250),
        EventIn(11, "click", 50)))
      q.processAllAvailable()
      input.addData(Seq(EventIn(10, "click", 25), EventIn(11, "buy", 900)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("twsprof").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_types"), r.getAs[Long]("total_cents"),
          r.getAs[Long]("max_cents")))
      // cumulative emissions prove the ValueState/MapState carried
      // across batches: user 10 emits (2, ...) then (3, ...)
      assert(rows.filter(_._1 == 10L).map(_._2).sorted.toSeq == Seq(2L, 3L),
        rows.mkString(", "))
      // argmax(n_events) per user equals the batch GROUP BY
      val fin = rows.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
      assert(fin(10L) == ((10L, 3L, 2L, 375L, 250L)), fin.toString)
      assert(fin(11L) == ((11L, 2L, 2L, 950L, 900L)), fin.toString)
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState event-time timer evicts an idle user's state") {
    import graft.streaming.StatefulProfile
    import graft.streaming.StatefulProfile.TimedEvent
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[TimedEvent]
      val events = input.toDS().withWatermark("ts", "0 seconds")
        .as[TimedEvent]
      val q = StatefulProfile.evictedProfiles(events, gapMs = 30 * 60000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("twsevict").start()
      // user 10 active at minutes 1 and 2, then goes quiet
      input.addData(Seq(TimedEvent(10L, ts(1), 100L),
        TimedEvent(10L, ts(2), 50L)))
      q.processAllAvailable()
      assert(spark.table("twsevict").isEmpty,
        "nothing may close while the watermark is behind the deadline")
      // another user 3 hours later pushes the watermark past 10's
      // inactivity deadline -> 10's timer fires, state evicts
      input.addData(Seq(TimedEvent(11L, ts(180), 10L)))
      q.processAllAvailable()
      // one more batch so the new watermark actually fires the timers
      input.addData(Seq(TimedEvent(11L, ts(181), 10L)))
      q.processAllAvailable()
      q.stop()
      val closed = spark.table("twsevict").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Long]("total_cents")))
      assert(closed.contains((10L, 2L, 150L)),
        s"user 10 not evicted: ${closed.mkString(", ")}")
      assert(!closed.exists(_._1 == 11L),
        "user 11 is still active and must not close")
    } finally spark.conf
      .unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("engine KV ingest is replay-idempotent: a full re-drain leaves the image unchanged") {
    import spark.implicits._
    val wh = ScratchDirs.create("graft_ingest_")
    val eng = new graft.engine.GraftEngine(spark, wh)
    eng.sql("create schema ing"); eng.sql("use ing")
    eng.sql("create table ev (k int, v char) using kv")
    val src = ScratchDirs.create("graft_ingest_src_") + "/feed.parquet"
    spark.range(1, 301)
      .selectExpr("id", "concat('t', id % 5) as typ").write.parquet(src)
    def drain(ckpt: String): Unit =
      graft.streaming.EngineIngest.ingestAvailableNow(
        eng, "ev",
        spark.readStream.schema("id LONG, typ STRING")
          .option("maxFilesPerTrigger", "1").parquet(src),
        keySql = "id", valueSql = "typ", checkpoint = ckpt)
    def image(): Seq[(Long, String)] = (eng.sql(
      "select k, v from ev order by k") match {
      case graft.engine.ResultSet(df) => df
      case other => fail(s"expected rows, got $other")
    }).as[(Long, String)].collect().toSeq
    drain(s"$wh/ckpt1")
    val first = image()
    assert(first.size == 300 && first.head == ((1L, "t1")))
    // a FRESH checkpoint reprocesses the entire feed — the worst-case
    // replay. The upsert sink must converge to the identical image.
    drain(s"$wh/ckpt2")
    assert(image() == first)
    // and the segment stack really did grow (shadowed appends, not a
    // silent skip) — proving convergence came from upsert semantics
    val segs = graft.sources.KvSegment.listSegments(
      s"$wh/data/ing/ev/v0")
    assert(segs.size >= 2, s"expected appended segments, got ${segs.size}")
  }

  test("crash-injection fuzz: a kill between sink write and " +
    "checkpoint commit replays to the exact batch image") {
    import spark.implicits._
    // 6 part files → 6 micro-batches under maxFilesPerTrigger=1; the
    // value is a pure function of the key so replay at ANY batch
    // boundary must converge to the batch-computed image
    val src = ScratchDirs.create("graft_crash_src_") + "/feed.parquet"
    spark.range(1, 241).repartition(6)
      .selectExpr("id", "concat('v', id % 7) as typ").write.parquet(src)
    val expected = spark.read.parquet(src)
      .selectExpr("id", "typ").as[(Long, String)].collect().toSeq.sorted
    def stream = spark.readStream.schema("id LONG, typ STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
    val rnd = new scala.util.Random(20260816L)
    // seeded trials over the two crash points the exactly-once
    // argument must survive: BEFORE the sink write (batch lost, plain
    // replay) and AFTER it (batch DOUBLE-delivered — the upsert must
    // absorb the duplicate)
    (1 to 3).foreach { trial =>
      val crashAt = rnd.nextInt(6).toLong
      val afterWrite = trial % 2 == 0
      val wh = ScratchDirs.create(s"graft_crash_$trial")
      val eng = new graft.engine.GraftEngine(spark, wh)
      eng.sql("create schema cr"); eng.sql("use cr")
      eng.sql("create table ev (k int, v char) using kv")
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      def drain(): Unit = {
        val q = stream.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$wh/ckpt")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            val crash = id == crashAt && fired.compareAndSet(false, true)
            if (!crash || afterWrite)
              graft.streaming.EngineIngest.upsertBatch(eng, "ev", b,
                keySql = "id", valueSql = "typ")
            if (crash)
              throw new RuntimeException(s"injected crash at batch $id")
          }
          .start()
        q.awaitTermination()
      }
      val ex = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException](drain())
      assert(ex.getMessage.contains("injected crash") ||
        Option(ex.getCause).exists(_.getMessage.contains("injected")))
      assert(fired.get, "the injected crash never fired")
      // restart on the SAME checkpoint: streaming replays the batch
      // whose commit was lost; the upsert sink absorbs it
      drain()
      val image = (eng.sql("select k, v from ev order by k") match {
        case graft.engine.ResultSet(df) => df
        case other => fail(s"expected rows, got $other")
      }).as[(Long, String)].collect().toSeq.sorted
      assert(image == expected,
        s"trial $trial (crash at $crashAt, afterWrite=$afterWrite)")
    }
  }

  test("streaming MERGE accumulates per-user aggregates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = ScratchDirs.create("graft_smrg_")
    val eng = new graft.engine.GraftEngine(spark, wh)
    eng.sql("create schema sm")
    eng.sql("use sm")
    eng.sql("create table uagg (user_id int, n_events int, " +
      "total_cents int, PRIMARY KEY(user_id))")
    val input = MemoryStream[(Long, Long)] // (user_id, cents)
    val sq = input.toDF().toDF("user_id", "cents")
      .writeStream
      .option("checkpointLocation", s"$wh/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.createOrReplaceGlobalTempView("smrg_batch")
        try { eng.sql(
          """merge into uagg t using (
            |  select user_id as k, count(*) as n, sum(cents) as c
            |  from global_temp.smrg_batch group by user_id) s
            |on t.user_id = s.k
            |when matched then update set
            |  n_events = t.n_events + s.n, total_cents = t.total_cents + s.c
            |when not matched then insert (user_id, n_events, total_cents)
            |  values (s.k, s.n, s.c)""".stripMargin); () }
        finally { b.sparkSession.catalog.dropGlobalTempView("smrg_batch"); () }
      }
      .start()
    // batch 1: users 1 and 2 appear (insert leg)
    input.addData((1L, 100L), (1L, 50L), (2L, 10L))
    sq.processAllAvailable()
    // batch 2: user 1 accumulates (update leg), user 3 inserts
    input.addData((1L, 25L), (3L, 7L))
    sq.processAllAvailable()
    sq.stop()
    val img = eng.query(
      "select user_id, n_events, total_cents from uagg order by user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // same totals as the one-shot batch aggregate: additive increments
    // are micro-batch-partition invariant
    assert(img == Seq((1L, 3L, 175L), (2L, 1L, 10L), (3L, 1L, 7L)))
  }
}

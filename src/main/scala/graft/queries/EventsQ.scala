package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QueryUtil._

/** Batch analytics over the `events` table: time bucketing,
  * sessionization, pivot. (The reference has no temporal operators —
  * these exercise the Spark-native extension surface; streaming
  * variants live in graft.streaming.)
  */
object EventsQ {

  val defs: Map[String, Q] = Map(

    // ---- tumbling 1h windows keyed by epoch millis (bigint output
    // avoids timestamp-type mismatch between engines).
    "q37_events_hourly" -> Q(
      (s, dir) => tbl(s, dir, "events")
        .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          money(sum(cents(col("value")))).as("total_value"))
        .orderBy(col("hour_ms"), col("event_type")),
      Some(s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |count(*) AS cnt, ${oSumCents("value")} AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin)),

    // ---- sessionization: 30-minute inactivity gap splits sessions;
    // pure window-function formulation, no stateful shuffle loops.
    "q38_sessionization" -> Q(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        tbl(s, dir, "events")
          .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ms").isNull
              || unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1L)
              .otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_sess")).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        |count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts,
        |    lag(epoch_ms(ts), 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_ms
        |    FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- semi-structured extraction: the props column is a JSON
    // string; from_json with an explicit schema is the typed path
    // (one parse per row inside codegen, columns prune after the
    // parse) vs get_json_object's per-path string scans. Aggregates
    // the extracted field per event type.
    // PARITY ASSUMPTION: Spark's from_json with `k BIGINT` yields
    // NULL for a quoted value ({"k": "7"}) or malformed JSON, while
    // the DuckDB oracle's CAST(props->>'k' AS BIGINT) casts quoted
    // numbers and ERRORS on malformed JSON — the two agree only
    // because the fixture emits uniform unquoted-int {"k": n}.
    // QueriesSpec ("q55 fixture shape") asserts that shape so a
    // datagen change fails loudly instead of silently diverging.
    "q55_json_extract" -> Q(
      (s, dir) => tbl(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |max(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- time-series gap-fill / resample ([[graft.operators
    // .Resample.resampleHourlyLocf]]): densify each user's purchase
    // history onto an hourly grid and carry the last observed value
    // forward into silent hours. The battery entry runs UNCAPPED
    // (explicit Long.MaxValue — the fixture's spans are short); real
    // deployments pass maxGridHours to bound a sparse years-long
    // key's generated rows (see the operator's scaladoc + spec).
    "q54_gapfill" -> Q(
      (s, dir) => {
        val hours = tbl(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"),
            unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
          .agg(money(sum(cents(col("value")))).as("hour_value"))
        graft.operators.Resample.resampleHourlyLocf(hours, "user_id",
            "hour_ms", "hour_value", maxGridHours = Long.MaxValue)
          .orderBy(col("user_id"), col("hour_ms"))
      },
      Some(s"""WITH hrs AS (SELECT user_id,
        |    epoch_ms(date_trunc('hour', ts)) AS hour_ms,
        |    ${oSumCents("value")} AS hour_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(
        |    min(hour_ms), max(hour_ms), 3600000)) AS hour_ms
        |  FROM hrs GROUP BY user_id)
        |SELECT g.user_id AS user_id, g.hour_ms AS hour_ms,
        |  CAST(h.hour_value IS NOT NULL AS BIGINT) AS observed,
        |  last_value(h.hour_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hour_ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |FROM grid g LEFT JOIN hrs h
        |  ON h.user_id = g.user_id AND h.hour_ms = g.hour_ms
        |ORDER BY user_id, hour_ms""".stripMargin)),

    // ---- DataSource V2 index range scan, oracle-checked end to end:
    // a durable KvSegment table is built from orders by the
    // DISTRIBUTED writer (KvSegmentWriter: range-partition + sort
    // within partitions + per-task segment publish — no driver
    // collect anywhere), then read through the connector with a
    // pushed key range: Catalyst folds the predicates into
    // [1000, 4999], the planner fence-clips the exact slice and
    // splits it 4-ways. The oracle is the same range over the source
    // table — proving pushdown + slicing return exactly the
    // relational answer.
    "q56_kv_rangescan" -> Q(
      (s, dir) => {
        val d = kvFixtureDir(dir, "kvseg")
        if (!kvFixtureReady(d)) {
          graft.sources.KvSegmentWriter.writeDataFrame(
            tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
              col("o_orderpriority").as("v")), d, numSegments = 1)
          kvFixtureSeal(d)
        }
        s.read.format("graft.sources.KvSource")
          .option("path", new java.io.File(d, "000001.seg").getPath).load()
          .filter(col("k") >= 1000 && col("k") < 5000)
          .select(col("k"), col("v"))
          .orderBy(col("k"))
      },
      Some("""SELECT o_orderkey AS k, o_orderpriority AS v FROM orders
        |WHERE o_orderkey >= 1000 AND o_orderkey < 5000
        |ORDER BY k""".stripMargin)),

    // ---- DataSource V2 AGGREGATE pushdown, oracle-checked: the same
    // durable segment as q56, but the query is COUNT/MIN/MAX over the
    // pushed key range — the connector answers from the fence-clipped
    // index (count = clipped width, extremes = two boundary preads)
    // at PLAN time and the scan reads zero data rows (KvSourceSpec
    // pins "PushedAggregates" in the plan and the AggPushdown scan
    // telemetry). The oracle is the identical aggregate over the
    // relational source.
    "q67_kv_agg_pushdown" -> Q(
      (s, dir) => {
        val d = kvFixtureDir(dir, "kvseg")
        if (!kvFixtureReady(d)) {
          graft.sources.KvSegmentWriter.writeDataFrame(
            tbl(s, dir, "orders").select(col("o_orderkey").as("k"),
              col("o_orderpriority").as("v")), d, numSegments = 1)
          kvFixtureSeal(d)
        }
        s.read.format("graft.sources.KvSource")
          .option("path", new java.io.File(d, "000001.seg").getPath).load()
          .filter(col("k") >= 1000 && col("k") < 5000)
          .agg(count(lit(1)).as("cnt"), min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
      },
      Some("""SELECT count(*) AS cnt, min(o_orderkey) AS min_k,
        |max(o_orderkey) AS max_k FROM orders
        |WHERE o_orderkey >= 1000 AND o_orderkey < 5000""".stripMargin)),

    // ---- multi-segment KV newest-wins merge, oracle-checked: four
    // range-partitioned base segments carry all orders (distributed
    // build, no driver collect), a fifth (newer) segment overrides
    // keys [2000, 3000) with rewritten values — the LSM upsert shape.
    // The scan must read the override from the newer segment, the
    // rest from the base, and never emit a shadowed row; the oracle
    // expresses the same merge as a CASE over the source table.
    "q57_kv_multiseg" -> Q(
      (s, dir) => {
        val d = kvFixtureDir(dir, "kvdir")
        if (!kvFixtureReady(d)) {
          val orders = tbl(s, dir, "orders")
            .select(col("o_orderkey").as("k"), col("o_orderpriority").as("v"))
          graft.sources.KvSegmentWriter.writeDataFrame(orders, d,
            numSegments = 4)
          graft.sources.KvSegmentWriter.writeDataFrame(
            orders.filter(col("k") >= 2000 && col("k") < 3000)
              .withColumn("v", concat(lit("X-"), col("v"))),
            d, numSegments = 1)
          kvFixtureSeal(d)
        }
        s.read.format("graft.sources.KvSource").option("dir", d).load()
          .filter(col("k") >= 1000 && col("k") < 5000)
          .select(col("k"), col("v"))
          .orderBy(col("k"))
      },
      Some("""SELECT o_orderkey AS k,
        |CASE WHEN o_orderkey >= 2000 AND o_orderkey < 3000
        |  THEN 'X-' || o_orderpriority ELSE o_orderpriority END AS v
        |FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 5000
        |ORDER BY k""".stripMargin)),

    // ---- pivot: event_type counts to columns per user.
    "q39_pivot_event_types" -> Q(
      (s, dir) => tbl(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("signup"), lit(0L)).as("signup"),
          coalesce(col("view"), lit(0L)).as("view"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
        |CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- retention cohorts: users grouped by first-activity week,
    // distinct actives per week offset — the product-analytics
    // retention matrix. Two hash aggregates + one join on user_id;
    // the (user, week) distinct pass partial-aggregates map-side.
    "q48_retention_cohorts" -> Q(
      (s, dir) => {
        val w = tbl(s, dir, "events")
          .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
          .distinct()
        val first = w.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
        w.join(first, Seq("user_id"))
          .groupBy(col("cohort"),
            expr("CAST(datediff(wk, cohort) div 7 AS BIGINT)").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort"), col("week_offset"))
      },
      Some("""WITH w AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM events),
        |first AS (SELECT user_id, min(wk) AS cohort FROM w GROUP BY 1)
        |SELECT f.cohort AS cohort,
        |  CAST(date_diff('day', f.cohort, w.wk) // 7 AS BIGINT) AS week_offset,
        |  count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN first f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin)),

    // ---- Spark's NATIVE session_window operator (vs q38's manual
    // lag-based islands): gap-based sessions as a first-class
    // aggregate. Spark closes a session at lastEvent + gap EXCLUSIVE,
    // so the oracle's island break is `>=` gap, not `>`.
    "q49_session_window" -> Q(
      (s, dir) => tbl(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("sw.start")).as("session_start_ms"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start_ms")),
      Some("""WITH x AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
        |      AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, ts, sum(brk) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin)),

    // ---- conversion funnel: of the users who viewed, how many later
    // purchased (first purchase strictly after first view) — ordered
    // conversion, not co-occurrence. Two tiny per-user min aggregates
    // + one join; rate is an exact integer/integer division.
    "q50_conversion_funnel" -> Q(
      (s, dir) => {
        val ev = tbl(s, dir, "events")
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
        val p = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
        v.join(p, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_viewers"),
            count(when(col("first_purchase") > col("first_view"), 1))
              .as("n_converted"))
          .select(col("n_viewers"), col("n_converted"),
            (col("n_converted").cast("double") /
              col("n_viewers").cast("double")).as("conv_rate"))
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS first_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, min(ts) AS first_purchase FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT count(*) AS n_viewers,
        |  count(CASE WHEN p.first_purchase > v.first_view THEN 1 END)
        |    AS n_converted,
        |  CAST(count(CASE WHEN p.first_purchase > v.first_view THEN 1 END)
        |    AS DOUBLE) / count(*) AS conv_rate
        |FROM v LEFT JOIN p USING (user_id)""".stripMargin)),

    // ---- key-skew profile: the heaviest event types with share of
    // total — the pre-join diagnostic for salting / AQE skew tuning.
    // Bounded TopK merge over the key dictionary; total via a
    // broadcast 1-row aggregate.
    "p31_skew_profile" -> Q(
      (s, dir) => graft.operators.Skew
        .profile(tbl(s, dir, "events"), "event_type", 5)
        .select(col("rnk").cast("long").as("rnk"), col("event_type"),
          col("n_rows"), round(col("share"), 6).as("share"))
        .orderBy(col("rnk")),
      Some(s"""WITH c AS (SELECT event_type, count(*) AS n_rows,
        |  ${oPoly60("event_type")} AS kh
        |  FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n_total FROM events),
        |r AS (SELECT event_type, n_rows, row_number() OVER (
        |    ORDER BY n_rows DESC, kh) AS rnk FROM c)
        |SELECT rnk, event_type, n_rows,
        |  round(CAST(n_rows AS DOUBLE)/n_total, 6) AS share
        |FROM r, t WHERE rnk <= 5 ORDER BY rnk""".stripMargin)),

    // ---- bounded-state heavy hitters per hour: the batch twin of
    // EventStreams.windowedHeavyHitters (space-saving summaries,
    // O(capacity) state per window). With capacity above the
    // distinct-user count the result is the EXACT top-3 — which is
    // what lets a plain SQL oracle verify the approximate machinery.
    "q51_heavy_hitters" -> Q(
      (s, dir) => graft.streaming.EventStreams
        .windowedHeavyHitters(tbl(s, dir, "events"), "1 hour", "2 hours",
          k = 3, capacity = 4096)
        .select(unix_millis(col("window_start")).as("hour_ms"),
          col("rnk").cast("long").as("rnk"), col("user_id"),
          col("est_count"), col("max_err"))
        .orderBy(col("hour_ms"), col("rnk")),
      Some("""WITH c AS (SELECT date_trunc('hour', ts) AS h, user_id,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |r AS (SELECT h, user_id, cnt, row_number() OVER (
        |    PARTITION BY h ORDER BY cnt DESC, user_id) AS rnk FROM c)
        |SELECT epoch_ms(h) AS hour_ms, CAST(rnk AS BIGINT) AS rnk,
        |  user_id, cnt AS est_count, CAST(0 AS BIGINT) AS max_err
        |FROM r WHERE rnk <= 3 ORDER BY hour_ms, rnk""".stripMargin)),

    // ---- the hourly rollup as a REAL Structured Streaming query,
    // oracle-gated: readStream over the same parquet, the q37
    // aggregation, Trigger.AvailableNow to drain the source and
    // stop. Complete output mode makes the final memory-sink table
    // equal the batch answer exactly regardless of how AvailableNow
    // batches the files (a watermark+append run would hold back
    // still-open trailing windows — that production shape, plus
    // late-data handling, is twin-checked in StreamingSpec; THIS
    // entry pins stream==batch==DuckDB through the driver's gate).
    // The memory sink holds only the hours×types rollup, not events.
    "q58_stream_hourly" -> Q(
      (s, dir) => {
        val src = tblStream(s, dir, "events")
        val agg = src
          .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"),
            col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            money(sum(cents(col("value")))).as("total_value"))
        val sink = s"q58_mem_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        val sq = agg.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
          .format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        s.table(sink).orderBy(col("hour_ms"), col("event_type"))
      },
      Some(s"""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        |count(*) AS cnt, ${oSumCents("value")} AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin)),

    // ---- streaming exactly-once dedup, oracle-gated: the "replayed
    // feed" shape — TWO readStream sources over the same events
    // table, unioned (every event arrives twice), then stateful
    // dropDuplicates on the unique event key. AvailableNow drains
    // both sources; the FILE sink receives each event exactly once
    // regardless of how the duplicates split across micro-batches
    // (both copies are bit-identical rows, so first-wins is
    // value-deterministic). The sink is a parquet directory — the
    // deduped feed stays DISTRIBUTED (executor-written part files,
    // nothing event-sized ever lands on the driver, unlike a memory
    // sink); the compact per-type rollup is a batch aggregate over
    // those files, so the oracle is a straight GROUP BY over the
    // source — equality proves the stream removed exactly the
    // duplicate half. (An in-stream rollup can't carry the exact
    // COUNT(DISTINCT user_id) this report wants — streaming
    // aggregation forbids exact distincts — so dedup-to-files +
    // batch rollup IS the production shape for this output.) The
    // watermarked-state-expiry variant for unbounded feeds is
    // twin-checked in StreamingSpec; THIS entry pins
    // stream==batch==DuckDB through the driver's gate.
    "q59_stream_dedup" -> Q(
      (s, dir) => {
        val doubled = tblStream(s, dir, "events")
          .unionAll(tblStream(s, dir, "events"))
        val out = graft.ScratchDirs.create("graft_q59_")
        val sq = doubled.dropDuplicates("event_id").writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .format("parquet").option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        s.read.parquet(s"$out/data")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("user_id")).as("n_users"),
            money(sum(cents(col("value")))).as("total_value"))
          .orderBy(col("event_type"))
      },
      Some(s"""SELECT event_type, count(*) AS cnt,
        |count(DISTINCT user_id) AS n_users,
        |${oSumCents("value")} AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- stream-stream interval join, oracle-gated: views and
    // purchases as two readStream sources over the same events table,
    // INNER-joined on user within a 1-hour attribution window ending
    // at the view — the online feature-attribution shape
    // (EventStreams.viewPurchaseJoin). Inner matches emit as they
    // form, and the generous watermark keeps both sides' state alive
    // across the bounded input's whole time range, so the drained
    // AvailableNow run is complete under ANY micro-batching — which
    // is what lets a plain SQL self-join oracle gate it. (The
    // production shape — tight watermark, left-outer null emission,
    // state eviction — is twin-checked in StreamingSpec.) The sink is
    // a parquet DIRECTORY, q59's shape: matched pairs stay distributed
    // in executor-written part files (a memory sink would land every
    // pair on the driver AND leave a temp table registered for the
    // rest of a bench battery); the compact hourly rollup is a batch
    // aggregate over those files.
    "q60_stream_join" -> Q(
      (s, dir) => {
        val views = tblStream(s, dir, "events")
          .filter(col("event_type") === "view")
        val purchases = tblStream(s, dir, "events")
          .filter(col("event_type") === "purchase")
        val joined = graft.streaming.EventStreams.viewPurchaseJoin(
          views, purchases, intervalMs = 3600000L,
          watermark = "30 days", joinType = "inner")
        val out = graft.ScratchDirs.create("graft_q60_")
        val sq = joined.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .format("parquet").option("path", s"$out/data")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        s.read.parquet(s"$out/data")
          .groupBy(unix_millis(date_trunc("hour", col("view_ts")))
            .as("hour_ms"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("view_id")).as("n_views"),
            money(sum(cents(col("purchase_value")))).as("purchase_value"))
          .orderBy(col("hour_ms"))
      },
      Some(s"""SELECT epoch_ms(date_trunc('hour', v.ts)) AS hour_ms,
        |count(*) AS n_pairs, count(DISTINCT v.event_id) AS n_views,
        |${oSumCents("p.value")} AS purchase_value
        |FROM events v JOIN events p ON p.user_id = v.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts <= v.ts AND p.ts >= v.ts - INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY hour_ms""".stripMargin)),

    // ---- the space-saving heavy-hitter UDAF as a REAL streaming
    // run, oracle-gated: q51's windowed top-3 (bounded O(capacity)
    // state per window — the custom mergeable TopK.spaceSaving
    // aggregate) over a readStream source, drained with AvailableNow
    // into a complete-mode memory sink. Capacity exceeds the
    // distinct-user count, so the streaming incremental merges land
    // on the EXACT per-hour top-3 — the same plain-SQL oracle as the
    // batch entry gates the custom aggregate's streaming state path.
    "q61_stream_heavy_hitters" -> Q(
      (s, dir) => {
        val hh = graft.streaming.EventStreams.windowedHeavyHitters(
          tblStream(s, dir, "events"), "1 hour", "2 hours",
          k = 3, capacity = 4096)
        val sink = s"q61_mem_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        val sq = hh.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
          .format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        s.table(sink)
          .select(unix_millis(col("window_start")).as("hour_ms"),
            col("rnk").cast("long").as("rnk"), col("user_id"),
            col("est_count"), col("max_err"))
          .orderBy(col("hour_ms"), col("rnk"))
      },
      Some("""WITH c AS (SELECT date_trunc('hour', ts) AS h, user_id,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |r AS (SELECT h, user_id, cnt, row_number() OVER (
        |    PARTITION BY h ORDER BY cnt DESC, user_id) AS rnk FROM c)
        |SELECT epoch_ms(h) AS hour_ms, CAST(rnk AS BIGINT) AS rnk,
        |  user_id, cnt AS est_count, CAST(0 AS BIGINT) AS max_err
        |FROM r WHERE rnk <= 3 ORDER BY hour_ms, rnk""".stripMargin)),

    // ---- per-user running profile through Spark 4's arbitrary-state
    // operator (transformWithState + RocksDB state store), oracle-
    // gated: ValueState (count/sum/max triple) + MapState (per-type
    // counts) per user, every emission cumulative. Because all state
    // transitions commute over input rows, the per-user emission with
    // the highest n_events IS the final profile under ANY
    // AvailableNow micro-batching — picked batch-side as a struct
    // argmax (n_events leads and strictly increases per user) — so a
    // plain GROUP BY oracle gates the new state API's whole path.
    "q66_stream_profile" -> Q(
      (s, dir) => {
        import s.implicits._
        val src = tblStream(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            cents(col("value")).as("cents"))
          .as[graft.streaming.StatefulProfile.EventIn]
        val prevProvider =
          s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        s.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val sink = s"q66_mem_${java.util.UUID.randomUUID.toString.replace("-", "")}"
          val sq = graft.streaming.StatefulProfile.userProfiles(src)
            .writeStream
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
            .format("memory").queryName(sink)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          sq.awaitTermination()
          s.table(sink)
            .groupBy(col("user_id"))
            .agg(max(struct(col("n_events"), col("n_types"),
              col("total_cents"), col("max_cents"))).as("fin"))
            .select(col("user_id"), col("fin.n_events").as("n_events"),
              col("fin.n_types").as("n_types"),
              money(col("fin.total_cents")).as("total_value"),
              money(col("fin.max_cents")).as("max_value"))
            .orderBy(col("user_id"))
        } finally prevProvider match {
          case Some(p) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      },
      Some(s"""SELECT user_id, count(*) AS n_events,
        |count(DISTINCT event_type) AS n_types,
        |${oSumCents("value")} AS total_value,
        |CAST(max(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |  AS max_value
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- streaming ingestion INTO the engine's managed KV store,
    // oracle-gated: the events feed drains micro-batch by micro-batch
    // through foreachBatch, each batch landing as an engine-SQL
    // INSERT OVERWRITE into a `USING KV` table — the LSM upsert makes
    // a replayed batch converge (exactly-once WITHOUT a commit log;
    // StreamingSpec's twin re-drains the whole feed from a fresh
    // checkpoint into the same table and pins image invariance). The
    // value packs (event_type, cents) as 'type:cents'; the final
    // per-type rollup is read back THROUGH the engine's DSv2 scan, so
    // equality with a plain GROUP BY over the source proves the whole
    // stream→segment→scan round trip.
    "q71_stream_engine_ingest" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q71_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q71")
        eng.sql("use q71")
        eng.sql("create table ev (k int, v char) using kv")
        graft.streaming.EngineIngest.ingestAvailableNow(
          eng, "ev", tblStream(s, dir, "events"),
          keySql = "event_id",
          valueSql = "concat(event_type, ':', " +
            "cast(cast(round(value * 100) as bigint) as string))",
          checkpoint = s"$wh/ckpt")
        eng.sql(
          """select split_part(v, ':', 1) as event_type,
            |  count(*) as cnt,
            |  cast(sum(cast(split_part(v, ':', 2) as bigint)) as double) / 100.0
            |    as total_value
            |from ev group by 1 order by event_type""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some(s"""SELECT event_type, count(*) AS cnt,
        |${oSumCents("value")} AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- the PSI drift gate IN-STREAM: p89's stage-1 bin counts as
    // a Complete-mode streaming aggregate (additive, so stream ==
    // batch exactly regardless of micro-batching), memory sink
    // bounded at |keys|·bins rows — never event-sized — then the
    // pure-function PSI report over the drained counts. The oracle
    // is p89's batch SQL verbatim: equality pins that the monitoring
    // gate can run continuously on the live feed.
    "q72_stream_drift" -> Q(
      (s, dir) => {
        val src = tblStream(s, dir, "events").select(col("event_type"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"),
          (dayofmonth(col("ts")) > 15).as("is_cur"))
        val counts = graft.operators.Curation.psiBinCounts(
          src, "event_type", "cents", "is_cur",
          bins = 10, lo = 0L, hi = 50000L)
        val sink = s"q72_mem_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        val sq = counts.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
          .format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        graft.operators.Curation.psiFromBinCounts(
          s.table(sink), "event_type", bins = 10)
      },
      Some("""WITH ev AS (SELECT event_type AS k, (day(ts) > 15) AS cur,
        |    CAST(ROUND(value*100) AS BIGINT) AS x FROM events),
        |b AS (SELECT k, cur, least(9, greatest(0, (x - 0) * 10 // 50000)) AS b
        |  FROM ev),
        |c AS (SELECT k, b,
        |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS nr
        |  FROM b GROUP BY 1, 2),
        |spine AS (SELECT k, r.range AS b
        |  FROM (SELECT DISTINCT k FROM ev), range(0, 10) r),
        |f AS (SELECT spine.k, spine.b, COALESCE(c.nc, 0) AS nc,
        |    COALESCE(c.nr, 0) AS nr
        |  FROM spine LEFT JOIN c ON spine.k = c.k AND spine.b = c.b),
        |t AS (SELECT k, CAST(SUM(nr) AS BIGINT) AS tr,
        |    CAST(SUM(nc) AS BIGINT) AS tc FROM f GROUP BY 1),
        |terms AS (SELECT f.k, f.nr, f.nc,
        |    CAST(ROUND(1e6 * (
        |      (CAST(f.nr + 1 AS DOUBLE) / (t.tr + 10) -
        |       CAST(f.nc + 1 AS DOUBLE) / (t.tc + 10)) *
        |      LN((CAST(f.nr + 1 AS DOUBLE) / (t.tr + 10)) /
        |         (CAST(f.nc + 1 AS DOUBLE) / (t.tc + 10)))
        |    )) AS BIGINT) AS tm
        |  FROM f JOIN t USING (k))
        |SELECT k AS event_type, CAST(SUM(nr) AS BIGINT) AS n_ref,
        |  CAST(SUM(nc) AS BIGINT) AS n_cur,
        |  CAST(SUM(tm) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- incremental aggregate maintenance via streaming MERGE: the
    // events feed drains through foreachBatch, each micro-batch
    // PRE-AGGREGATED to (user, n, cents) and upserted into a managed
    // per-user summary table by engine-SQL MERGE INTO (matched →
    // increment, not matched → insert) — the lakehouse foreachBatch-
    // upsert pattern, on this engine's own file-pruned COW merge. The
    // batch frame crosses into the engine through a global temp view
    // (the [[graft.streaming.EngineIngest]] bridge), so rows travel
    // executor→merge-join, never the driver. Increments are additive,
    // so any micro-batch partition of the feed converges to the same
    // table (StreamingSpec drives a multi-batch split and pins it);
    // unlike q71's overwrite-upsert a REPLAYED batch would
    // double-count — real deployments add a batch-id column for
    // replay dedup (documented, not needed under AvailableNow's
    // run-to-completion). Oracle: plain GROUP BY over the source.
    "q75_stream_merge" -> Q(
      (s, dir) => {
        val wh = graft.ScratchDirs.create("graft_q75_")
        val eng = new graft.engine.GraftEngine(s, wh)
        eng.sql("create schema q75")
        eng.sql("use q75")
        eng.sql(
          """create table uagg (user_id int, n_events int,
            |total_cents int, PRIMARY KEY(user_id))""".stripMargin)
        val view = s"q75_batch_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        val sq = tblStream(s, dir, "events")
          .select(col("user_id"), cents(col("value")).as("cents"))
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$wh/ckpt")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.createOrReplaceGlobalTempView(view)
            try { eng.sql(
              s"""merge into uagg t using (
                 |  select user_id as k, count(*) as n, sum(cents) as c
                 |  from global_temp.$view group by user_id) s
                 |on t.user_id = s.k
                 |when matched then update set
                 |  n_events = t.n_events + s.n,
                 |  total_cents = t.total_cents + s.c
                 |when not matched then insert (user_id, n_events, total_cents)
                 |  values (s.k, s.n, s.c)""".stripMargin); () }
            finally { b.sparkSession.catalog.dropGlobalTempView(view); () }
          }
          .start()
        sq.awaitTermination()
        eng.sql(
          """select user_id, n_events,
            |  cast(total_cents as double) / 100.0 as total_value
            |from uagg order by user_id""".stripMargin) match {
          case graft.engine.ResultSet(df) => df
          case other => throw new IllegalStateException(
            s"expected a result set from the engine, got $other")
        }
      },
      Some(s"""SELECT user_id, count(*) AS n_events,
        |${oSumCents("value")} AS total_value
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ---- the Gopher quality gate IN-STREAM: p129's per-row rule
    // verdicts are stateless, so they run unchanged on the live feed;
    // the keep-rate monitor is a Complete-mode (source, keep) count —
    // additive, stream == batch exactly regardless of micro-batching
    // — through a memory sink bounded at |sources|·2 rows. The
    // source tag rides a stream-static join against the same table
    // (the gate's output is id-keyed). Oracle: the batch gate GROUPed
    // BY (source, keep) — equality pins that ingest-time quality
    // monitoring matches the offline funnel.
    "q87_stream_gate" -> Q(
      (s, dir) => {
        val gated = graft.operators.Curation.gopherGate(
          tblStream(s, dir, "documents"), "doc_id", "text",
          stopWords = Seq("the", "a"))
        val srcTag = tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        val counts = gated.join(srcTag, Seq("doc_id"))
          .groupBy(col("source"), col("keep"))
          .agg(count(lit(1)).as("n_docs"))
        val sink = s"q87_mem_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        val sq = counts.writeStream
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
          .format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
        s.table(sink).orderBy(col("source"), col("keep"))
      },
      Some {
        """WITH t AS (SELECT doc_id, source, text,
          |    str_split_regex(trim(lower(text)), '\s+') AS tk
          |  FROM documents),
          |m AS (SELECT doc_id, source,
          |    CAST(len(tk) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(tk, x -> length(x)))
          |      AS BIGINT) AS chars,
          |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]')))
          |      AS BIGINT) AS alpha,
          |    CAST(len(list_distinct(list_filter(tk, x -> x IN
          |      ('the','a'))))
          |      AS BIGINT) AS n_stop,
          |    CAST((length(text) - length(replace(text, '#', ''))) +
          |      (length(text) - length(replace(text, '...', ''))) / 3 +
          |      (length(text) - length(replace(text, '…', '')))
          |      AS BIGINT) AS n_sym
          |  FROM t)
          |SELECT source,
          |  (n_words >= 50 AND n_words <= 100000 AND
          |    chars >= n_words * 3 AND chars <= n_words * 10 AND
          |    alpha * 5 >= n_words * 4 AND n_stop >= 2 AND
          |    n_sym * 10 <= n_words) AS keep,
          |  CAST(count(*) AS BIGINT) AS n_docs
          |FROM m GROUP BY 1, 2 ORDER BY source, keep""".stripMargin
      })
  )

  /** KV fixture directory keyed by a CONTENT fingerprint of the source
    * orders table (per-file name + length + mtime), not the testdata
    * path's hashCode — so regenerated testdata at the same path gets a
    * fresh fixture instead of silently reusing a stale segment, and
    * distinct dirs can't collide onto one fixture via abs(hashCode)
    * (abs(Int.MinValue) is negative; hex has no such edge). */
  private def kvFixtureDir(dir: String, tag: String): String = {
    val src = new java.io.File(s"$dir/orders.parquet")
    val files =
      if (src.isDirectory)
        Option(src.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      else Array(src)
    var h = 1125899906842597L
    files.foreach { f =>
      f.getName.foreach(c => h = h * 31 + c)
      h = h * 31 + f.length()
      h = h * 31 + f.lastModified()
    }
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${java.lang.Long.toHexString(h)}"
  }

  /** A fixture is complete only once sealed: a crash mid-build leaves
    * no marker, in which case any partial segments are wiped HERE so
    * the rebuild starts from sequence 000001 on an empty dir — simpler
    * and stronger than counting segments. */
  private def kvFixtureReady(d: String): Boolean = {
    if (new java.io.File(d, "_SUCCESS").exists()) true
    else {
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
        .foreach(_.delete())
      false
    }
  }

  private def kvFixtureSeal(d: String): Unit =
    new java.io.File(d, "_SUCCESS").createNewFile()
}

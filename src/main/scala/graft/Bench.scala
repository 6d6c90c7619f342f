package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE {"metric":"total",...} JSON line
  * (final stdout line, sized to fit the driver's ~2KB stdout tail:
  * total + slowest-first truncated queries map + detail pointer); the
  * FULL per-query map goes to the detail file (SPARK_GRAFT_BENCH_OUT,
  * default BENCH_LOCAL_latest.json).
  *
  * Queries are forced through the noop datasource sink — count()
  * would let Catalyst prune expensive projections, under-measuring
  * scalar-heavy queries. A warm-up action first absorbs JVM/codegen
  * startup so q
  * times measure the queries, not the session bring-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // Cluster-side tuning hook: SPARK_GRAFT_SPARK_CONF="k=v;k=v"
    // overlays session confs (e.g. advisory partition sizes for a real
    // cluster) without touching the timing methodology; unset, the
    // session is byte-identical to the historical bench contract.
    sys.env.get("SPARK_GRAFT_SPARK_CONF").foreach {
      _.split(";").map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: JVM + parquet footer caches + codegen paths. Partial
    // scale-up dirs carry only a table subset (documents-only,
    // events-only): warm on the first present table.
    val warm = Seq("lineitem", "documents", "events", "embeddings")
      .find(t => new java.io.File(s"$sfDir/$t.parquet").exists())
      .getOrElse(sys.error(s"no warmable table in $sfDir"))
    if (warm == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$warm.parquet").count()

    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // optional filter (same contract as Verify): SPARK_GRAFT_ONLY=p27,p28
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Repetitions as FULL BATTERY PASSES, per-query min ACROSS
    // passes — not back-to-back reps of one query. Back-to-back reps
    // (r5–r14) let a transient host-load window poison BOTH samples
    // of a contiguous query cluster (r14: p86–p89/p21/p112 spiked
    // 12–47× in the driver capture while isolated runs matched the
    // committed numbers). Two passes separated by the whole battery
    // (~minutes) decorrelate the samples: a load window would have to
    // recur at the same query an entire pass later to survive the
    // min. Still an honest cold-cache measure — caches are cleared
    // after every query.
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)

    // /proc/loadavg at start/end makes a noisy run self-labeling in
    // the contract line (1/5/15-min runqueue averages).
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "n/a" }
    val loadStart = loadavg

    val battery = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    val best = scala.collection.mutable.Map[String, Double]()
    (1 to reps).foreach { pass =>
      battery.foreach { case (name, fn) =>
        // snapshot temp views so per-query cleanup can drop only what
        // THIS query registered (streaming entries create a
        // UUID-named memory-sink table per run; without the drop,
        // those tables — and their in-memory rows — stay registered
        // for the rest of the battery, inflating later streaming
        // entries up to ~3x over their isolated cost)
        val preViews = spark.sessionState.catalog
          .listLocalTempViews("*").map(_.table).toSet
        // label the query's jobs (guide §1.5) so UI/event-log stage
        // timings attribute to battery entries
        spark.sparkContext.setJobDescription(s"bench:$name:pass$pass")
        val t0 = System.nanoTime()
        try run(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}")
        }
        spark.sparkContext.setJobDescription(null)
        val dt = (System.nanoTime() - t0) / 1e9
        // release this query's persist()ed frames: cached blocks left
        // behind otherwise accumulate across the battery and tax
        // every later query with eviction + GC churn (measured ~1-4s
        // per query at sf0.1 — isolated runs of the same queries are
        // 3-10x faster than their in-battery times without this)
        spark.sessionState.catalog.listLocalTempViews("*").map(_.table)
          .filterNot(preViews).foreach { v =>
            try spark.catalog.dropTempView(v)
            catch { case _: Throwable => () }
          }
        spark.catalog.clearCache()
        best(name) = best.get(name).fold(dt)(math.min(_, dt))
      }
    }
    val results = battery.map { case (name, _) => name -> best(name) }
    val loadEnd = loadavg
    val loadJson =
      s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd""""
    val qs = results.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir",$loadJson}"""
    // The JSON contract line goes to BOTH stdout (printed after
    // spark.stop() so it is the process's final line, immune to
    // shutdown-log interleaving and front-truncated log tails) and a
    // file (SPARK_GRAFT_BENCH_OUT, default BENCH_LOCAL_latest.json in
    // the cwd) so per-query timings survive any stdout capture limit.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_LOCAL_latest.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // Tail-cap-aware stdout emission. The driver keeps only the LAST
    // ~2000 chars of stdout and its parser accepts exactly one
    // {"metric":"total",...} line; the full 222-query contract line
    // is ~6 KB and can NEVER fit, so r12–r17 parsed as null however
    // the lines were ordered (r16/r17 named the fitting line
    // "total_compact", which the parser rejects). Emission order,
    // least → most durable:
    //   1. per-query chunk lines (the LAST chunks survive a front
    //      truncation, extending per-query coverage beyond what the
    //      final line can carry);
    //   2. the contract line LAST — "metric":"total", sized to fit
    //      the tail cap with room to spare: total + the slowest
    //      queries (the entries any perf audit reads first),
    //      slowest-first, plus n_queries/omitted/detail pointing at
    //      the full record. The FULL map is never printed to stdout
    //      (only written to the detail file above), so one run can
    //      never emit two differing "total" lines.
    val chunks = results.grouped(35).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      val cq = c.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"chunk","part":${i + 1},"of":${chunks.size},"queries":$cq}""")
    }
    val bySlow = results.sortBy(-_._2)
    val budget = 1200 // chars for the queries map (whole line ≤ ~1.6KB)
    // the longest slowest-first prefix that fits: the first fragment
    // over budget ends the map, so no faster query with a shorter name
    // can take the place of a slower one
    val frags = bySlow.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
    val kept = frags.zip(frags.scanLeft(0)(_ + _.length + 1).tail)
      .takeWhile(_._2 <= budget).map(_._1)
    val contract =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${kept.mkString("{", ",", "}")},"sf":"$sfDir","n_queries":${results.size},"omitted":${results.size - kept.size},"detail":"$outPath",$loadJson}"""
    println(contract)
  }
}

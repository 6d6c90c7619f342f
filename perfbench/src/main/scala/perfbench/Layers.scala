package perfbench

/** The per-layer metrics of a traced timed region. Every workload
  * prints the same names (wire_write adds its two write metrics); a
  * layer the workload does not reach reads 0 (no wire on the battery,
  * no battery entries on the wire). */
object Layers {
  def metrics(wl: Workload, r: Main.Region, t: Tracer): Seq[(String, (Double, String))] = {
    val n = math.max(1L, r.ops).toDouble
    val c = r.counters.withDefaultValue(0.0)
    val all = t.total(_ => true)
    val (reads, readNs) = t.calls("read")
    val (dmls, dmlNs) = t.calls("dml")
    val callNs = t.calls.values.map(_._2).sum
    val execMs = t.total(_.endsWith(":exec")).jobMs
    val wire = wl.isInstanceOf[WireRead] || wl.isInstanceOf[WireWrite]
    def per(x: Double, d: Double) = if (d > 0) x / d else 0.0

    val rows = Seq(
      "wire.self_ms" -> (if (wire) (r.samples.map(_._2).sum - callNs / 1e6 - execMs) / n else 0.0, "ms"),
      "wire.bytes_per_stmt" -> (per(c("wire_bytes"), n), "B"),
      "engine.read_call_ms" -> (per(readNs / 1e6, reads.toDouble), "ms"),
      "engine.read_exec_ms" -> (per(t.total(_ == "read:exec").jobMs, reads.toDouble), "ms"),
      "engine.table_files" -> (c("table_files"), "count"),
      "sources.segments_per_table" -> (c("segments"), "count"),
      "catalyst.parse_ms" -> (t.phaseMs("parsing") / n, "ms"),
      "catalyst.analysis_ms" -> (t.phaseMs("analysis") / n, "ms"),
      "catalyst.optimize_ms" -> (t.phaseMs("optimization") / n, "ms"),
      "catalyst.plan_ms" -> (t.phaseMs("planning") / n, "ms"),
      "spark.jobs_per_op" -> (all.jobs / n, "count"),
      "spark.stages_per_op" -> (all.stages / n, "count"),
      "spark.tasks_per_op" -> (all.tasks / n, "count"),
      "spark.records_read_per_row_returned" -> (per(all.recordsRead.toDouble, c("rows_returned")), "ratio"),
      "spark.executor_run_ms" -> (all.runMs / n, "ms"),
      "spark.executor_cpu_ms" -> (all.cpuMs / n, "ms"),
      "spark.shuffle_read_bytes" -> (all.shuffleRead / n, "B"),
      "spark.shuffle_write_bytes" -> (all.shuffleWrite / n, "B"),
      "spark.spill_bytes" -> (all.spill / n, "B"),
      "spark.task_skew" -> (t.taskSkew, "ratio"),
      "jvm.gc_ms_per_op" -> (r.gcMs / n, "ms"),
      "jvm.peak_rss_mb" -> (Main.peakRssMb, "MB"))

    val passes = r.samples.groupBy(_._1)
    val battery = Battery.Entries.flatMap { e =>
      val a = t.total(_ == s"entry:$e")
      val k = passes.get(e).map(_.size.toDouble).getOrElse(0.0)
      Seq(
        s"battery.$e.wall_ms" -> (passes.get(e).map(v => Main.median(v.map(_._2))).getOrElse(0.0), "ms"),
        s"battery.$e.executor_ms" -> (per(a.runMs, k), "ms"),
        s"battery.$e.shuffle_bytes" -> (per((a.shuffleRead + a.shuffleWrite).toDouble, k), "B"),
        s"battery.$e.jobs" -> (per(a.jobs.toDouble, k), "count"))
    }
    // the write path: only wire_write writes
    val writes = if (!wl.isInstanceOf[WireWrite]) Nil else Seq(
      "engine.write_ms" -> (per(dmlNs / 1e6, dmls.toDouble), "ms"),
      "engine.files_written_per_write" -> (per(c("files_written"), c("dml")), "count"))
    rows ++ writes ++ battery
  }
}

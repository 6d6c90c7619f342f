package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A closed-loop workload. `setup` builds a fresh state from the seed;
  * `round(c, r)` is round `r` of client `c`, the same statements on
  * every run for the same seed. */
trait Workload {
  def clients: Int
  /** The share of `--seconds` one round stands for: a run performs
    * `ceil(seconds / roundSeconds)` rounds on every client, a count
    * that does not depend on the host's speed. */
  def roundSeconds: Double
  def setup(dir: String, tracer: Option[Tracer]): Unit
  def round(c: Int, r: Int, ctx: Ctx): Unit
  def finish(ctx: Ctx): Unit
  def storeBytesPerRow: Double
  /** Raw counters for the per-layer metrics; additive ones are
    * differenced over the timed region. */
  def layerCounters: Map[String, Double]
  def close(): Unit
}

/** Collects latencies, failures and correctness problems of one run.
  * With `plant` set it hands one checker a wrong answer, for the
  * checker self-test. */
final class Ctx(plant: Boolean) {
  val samples = mutable.ArrayBuffer[(String, Double)]()
  val problems = mutable.ArrayBuffer[String]()
  var attempted, failed = 0L
  @volatile var timing = false
  private var planted = false

  def op[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        synchronized { if (timing) failed += 1 }
        problem(s"$name failed: ${e.getMessage}")
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    synchronized { if (timing) { attempted += 1; samples += name -> ms } }
    r
  }
  def problem(msg: String): Unit = synchronized { if (problems.size < 20) problems += msg }

  private def plantNow(): Boolean = synchronized {
    val now = plant && timing && !planted
    if (now) planted = true
    now
  }
  /** A wire reply with one cell changed, once, when planting. */
  def planted(rows: Vector[IndexedSeq[String]]): Vector[IndexedSeq[String]] =
    if (rows.nonEmpty && plantNow()) rows.updated(0, rows(0).updated(0, rows(0)(0) + "9"))
    else rows
  /** True once, when planting: the caller leaves one write out of its model. */
  def skipModelOnce(): Boolean = plantNow()
  /** Battery rows with the first row's cells replaced, when planting.
    * Called from the untimed first pass, whose rows the oracle checks. */
  def plantedRows(rows: Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] =
    if (plant && rows.nonEmpty && synchronized { val n = !planted; planted = true; n }) {
      val r = rows(0)
      rows.updated(0, org.apache.spark.sql.Row.fromSeq(r.toSeq.map {
        case l: Long => l + 1
        case i: Int => i + 1
        case d: Double => d + 1
        case s: String => s + "9"
        case x => x
      }))
    } else rows
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Main {
  final case class Region(samples: Seq[(String, Double)], seconds: Double,
      ops: Long, gcMs: Double, counters: Map[String, Double])

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble

  /** The untimed warm-up round, then the same fixed number of timed
    * rounds on every client. */
  def region(wl: Workload, ctx: Ctx, seconds: Double,
      atStart: () => Unit = () => ()): Region = {
    def onClients(body: Int => Unit): Unit = {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (0 until wl.clients).map { c =>
        new Thread(() => try body(c) catch { case e: Throwable => errs.add(e) }, s"bench-client-$c")
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
    }
    onClients(c => wl.round(c, 0, ctx))
    atStart()
    val before = wl.layerCounters
    val n0 = ctx.samples.size
    val gc0 = gcMs
    ctx.timing = true
    val t0 = System.nanoTime()
    val rounds = math.max(1, math.ceil(seconds / wl.roundSeconds).toInt)
    onClients(c => (1 to rounds).foreach { r =>
      val t = System.nanoTime()
      wl.round(c, r, ctx)
      System.err.println(f"round client $c round $r ${(System.nanoTime() - t) / 1e6}%.0f ms")
    })
    val dt = (System.nanoTime() - t0) / 1e9
    ctx.timing = false
    val after = wl.layerCounters
    val counters = after.map { case (k, v) =>
      k -> (if (Set("wire_bytes", "rows_returned", "dml", "files_written")(k))
        v - before.getOrElse(k, 0.0) else v)
    }
    val s = ctx.samples.drop(n0).toSeq
    s.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(f"op $k%-24s n=${v.size}%4d median=${median(v.map(_._2))}%9.1f ms")
    }
    System.err.println(f"region ${dt}%.2f s, ${s.size} ops")
    Region(s, dt, s.size.toLong, gcMs - gc0, counters)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The end-to-end metrics of one timed region. */
  def endToEnd(r: Region, setupS: Double, storeBpr: Double): Seq[(String, Double, String)] = {
    val ms = r.samples.map(_._2)
    val perOp = r.samples.groupBy(_._1).values.map(v => median(v.map(_._2)))
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", r.ops / r.seconds, "1/s"),
      ("p50_ms", median(ms), "ms"),
      ("geomean_ms", math.exp(perOp.map(math.log).sum / perOp.size), "ms"),
      ("store_bytes_per_row", storeBpr, "B"))
  }

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt
    val ctx = new Ctx(opt.get("plant").contains("1"))

    // a phase timeline for jvm.log
    val started = System.nanoTime()
    def mark(w: String) = System.err.println(f"T ${(System.nanoTime() - started) / 1e9}%.1f $w")
    val spark = graft.Sessions.local(cores)
    val sessionS = (System.nanoTime() - started) / 1e9
    mark("session")
    spark.sparkContext.setLogLevel("ERROR")
    val wl: Workload = opt("workload") match {
      case "wire_read" => new WireRead(spark, seed)
      case "wire_write" => new WireWrite(spark, seed)
      case "battery_core" => new Battery(spark, seed)
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = new Tracer(spark)

    // Every timed region runs on its own fresh state. setup_s is the
    // Spark session start plus the median of three set-ups; the third
    // serves the timed region. A traced run times a traced region and
    // then a plain one, and reports the traced region's per-layer
    // metrics and, as tracing overhead, its end-to-end metrics minus
    // the plain region's. The plain region runs second, in a warmer
    // JVM, so the overhead is rather over- than understated.
    def setupAt(i: Int, traced: Boolean): Double = {
      val d = new File(s"$work/state$i"); Files.delete(d); d.mkdirs()
      val t0 = System.nanoTime()
      wl.setup(d.getPath, if (traced) Some(tracer) else None)
      mark(s"setup $i")
      sessionS + (System.nanoTime() - t0) / 1e9
    }
    def plainRegion(setupS: Double) = {
      val r = region(wl, ctx, seconds)
      wl.finish(ctx)
      mark("region")
      endToEnd(r, setupS, wl.storeBytesPerRow)
    }
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    val s1 = setupAt(1, traced = false)
    if (!trace) {
      val s2 = setupAt(2, traced = false)
      val s3 = setupAt(3, traced = false)
      plainRegion(median(Seq(s1, s2, s3))).foreach { case (k, v, u) => out(k) = (v, u) }
    } else {
      tracer.attach()
      val s2 = setupAt(2, traced = true)
      val r = region(wl, ctx, seconds, () => tracer.reset())
      tracer.drain()
      out ++= Layers.metrics(wl, r, tracer)
      wl.finish(ctx)
      tracer.detach()
      mark("traced region")
      val traced = endToEnd(r, s2, wl.storeBytesPerRow)
      val plain = plainRegion(setupAt(3, traced = false))
      traced.zip(plain).foreach { case ((k, b, u), (_, a, _)) => out(s"overhead.$k") = (b - a, u) }
    }
    val record = Seq(
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString)
    val extra = wl match {
      case b: Battery => Seq("battery_inputs" -> b.inputDir, "battery_results" -> b.resultsDir)
      case _ => Nil
    }
    wl.close()
    spark.stop()
    mark("stopped")

    def q(s: String) = Json.str(s)
    val json = new StringBuilder("{")
    json ++= s""""correct":${ctx.problems.isEmpty},"attempted":${ctx.attempted},"failed":${ctx.failed},"""
    json ++= s""""problems":[${ctx.problems.map(q).mkString(",")}],"""
    json ++= (record ++ extra).map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("\"record\":{", ",", "},")
    json ++= out.map { case (k, (v, u)) =>
      s"""${q(k)}:{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":${q(u)}}"""
    }.mkString("\"metrics\":{", ",", "}}")
    java.nio.file.Files.writeString(new File(s"$work/result.json").toPath, json.toString)
  }
}

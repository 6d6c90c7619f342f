package perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{GraftResult, StatementProbe}

/** Per-layer recorder for the traced run, attached from outside the
  * program: a SparkListener (jobs, stages, task metrics), a
  * QueryExecutionListener (Catalyst phase times from each query's
  * QueryPlanningTracker) and a statement probe around
  * `GraftSession.sql`. Spark work is attributed through one local
  * property, [[Tracer.TagKey]], set on the thread that submits it:
  * `<kind>:call` while the engine runs a statement, `<kind>:exec`
  * while the wire layer materialises its result, `entry:<name>` for a
  * battery entry. Every counter is guarded by the tracer's lock. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with StatementProbe {
  import Tracer._

  final class Agg {
    var jobs, stages, tasks, recordsRead, shuffleRead, shuffleWrite, spill = 0L
    var jobMs, runMs, cpuMs = 0.0
  }
  private val aggs = mutable.Map[String, Agg]()
  private val jobs = mutable.Map[Int, (String, Long)]()
  private val stageTags = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  val phaseMs: mutable.Map[String, Double] = mutable.Map().withDefaultValue(0.0)
  /** statement kind -> (calls, total ns inside GraftSession.sql) */
  val calls: mutable.Map[String, (Long, Long)] = mutable.Map().withDefaultValue((0L, 0L))

  private def agg(tag: String): Agg = aggs.getOrElseUpdate(tag, new Agg)
  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(TagKey))).getOrElse("untagged")

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  /** Forgets everything counted so far (after waiting for the bus). */
  def reset(): Unit = {
    drain()
    synchronized {
      aggs.clear(); jobs.clear(); stageTags.clear(); stageTaskMs.clear()
      phaseMs.clear(); calls.clear()
    }
  }

  /** Waits for the listener bus, so every event so far is counted. */
  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobs(e.jobId) = (tag, e.time)
    agg(tag).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (tag, t0) => agg(tag).jobMs += e.time - t0 }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = tagOf(e.properties)
    stageTags(e.stageInfo.stageId) = tag
    agg(tag).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageTags.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.recordsRead += m.inputMetrics.recordsRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, s) => phaseMs(name) += s.durationMs }
  }

  override def call(statement: String, run: () => GraftResult): GraftResult = {
    val kind = kindOf(statement)
    val sc = spark.sparkContext
    sc.setLocalProperty(TagKey, s"$kind:call")
    val t0 = System.nanoTime()
    try run()
    finally {
      val dt = System.nanoTime() - t0
      synchronized { val (n, ns) = calls(kind); calls(kind) = (n + 1, ns + dt) }
      sc.setLocalProperty(TagKey, s"$kind:exec")
    }
  }

  /** Sum of the aggregates whose tag satisfies `p`. */
  def total(p: String => Boolean): Agg = synchronized {
    val t = new Agg
    aggs.filter(kv => p(kv._1)).values.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.recordsRead += a.recordsRead; t.shuffleRead += a.shuffleRead
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
      t.jobMs += a.jobMs; t.runMs += a.runMs; t.cpuMs += a.cpuMs
    }
    t
  }

  /** Mean over stages with at least two tasks of max ÷ median task
    * time; 1.0 when no stage had two tasks. */
  def taskSkew: Double = synchronized {
    val r = stageTaskMs.values.filter(_.size >= 2).map { d =>
      val s = d.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (r.isEmpty) 1.0 else r.sum / r.size
  }
}

object Tracer {
  val TagKey = "perfbench.tag"

  /** Statement kind as the benchmark counts it: `read` (result-set
    * statements), `dml` (row changes), `other` (transaction control). */
  def kindOf(statement: String): String = {
    val l = statement.trim.toLowerCase
    if (Seq("select", "with", "show", "desc", "explain").exists(l.startsWith)) "read"
    else if (Seq("insert", "update", "delete", "replace", "merge").exists(l.startsWith)) "dml"
    else "other"
  }
}

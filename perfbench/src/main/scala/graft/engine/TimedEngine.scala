package graft.engine

import org.apache.spark.sql.SparkSession

/** Benchmark-side seam for the traced run: an engine whose wire
  * sessions report each `GraftSession.sql` call to a probe. Nothing
  * in the program changes; the probe wraps the public call from
  * outside. It lives in this package only because the session
  * constructor is package-private. */
trait StatementProbe {
  def call(statement: String, run: () => GraftResult): GraftResult
}

final class TimedEngine(spark: SparkSession, warehouse: String,
    probe: StatementProbe) extends GraftEngine(spark, warehouse) {
  override def newSession(): GraftSession = new TimedSession(this, probe)
}

final class TimedSession(e: GraftEngine, probe: StatementProbe)
    extends GraftSession(e) {
  private def plain(statement: String): GraftResult = super.sql(statement)
  override def sql(statement: String): GraftResult =
    probe.call(statement, () => plain(statement))
}

package perfbench

import java.io.File
import java.nio.file.attribute.BasicFileAttributes
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.engine.{GraftEngine, TimedEngine}
import graft.wire.MysqlServer

/** One engine on a fresh warehouse, served over the MySQL wire. */
final class Served(spark: SparkSession, val dir: String, tracer: Option[Tracer]) {
  val engine: GraftEngine = tracer match {
    case Some(t) => new TimedEngine(spark, s"$dir/warehouse", t)
    case None => new GraftEngine(spark, s"$dir/warehouse")
  }
  val server = new MysqlServer(engine, 0)
  def connect(schema: String): WireClient = {
    val c = new WireClient(server.boundPort)
    c.query(s"use $schema")
    c
  }
  def close(): Unit = server.close()

  /** Files and bytes under the warehouse's table data. A new version
    * hard-links the files it carries over, so bytes are counted once
    * per file on disk, not once per path. */
  def dataFiles: Seq[File] = Files.walk(new File(s"$dir/warehouse/data"))
  def storeBytes: Long = dataFiles.map { f =>
    val a = java.nio.file.Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
    (Option(a.fileKey).getOrElse(f.getPath), a.size)
  }.toMap.values.sum

  /** Data files in the live (newest) version of one table. */
  def liveFiles(schema: String, table: String): Int = {
    val versions = Option(new File(s"$dir/warehouse/data/$schema/$table").listFiles)
      .getOrElse(Array.empty).filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    if (versions.isEmpty) 0
    else versions.maxBy(_.getName.drop(1).toLong).listFiles
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
  }

  /** Loads generated rows into a managed table through the engine:
    * the rows go to a parquet file, and `INSERT … SELECT` copies it into
    * the managed table. */
  def load(schema: String, table: String, cols: Seq[String],
      rows: Seq[org.apache.spark.sql.Row], sparkSchema: org.apache.spark.sql.types.StructType): Unit = {
    val src = s"$dir/src_$table"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), sparkSchema)
      .coalesce(1).write.parquet(src)
    engine.sql(s"use $schema")
    engine.sql(s"insert into $table select ${cols.mkString(", ")} from parquet.`$src`")
  }
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}

/** Shared checking helpers: every reply is compared cell by cell with
  * the value computed by the benchmark itself. Numbers compare as
  * numbers (the server prints doubles the JVM way), text exactly. */
object Expect {
  def cell(got: String, want: Any): Boolean = want match {
    case null => got == null
    case l: Long => got != null && scala.util.Try(got.toLong).toOption.contains(l)
    case i: Int => got != null && scala.util.Try(got.toLong).toOption.contains(i.toLong)
    case d: Double => got != null && scala.util.Try(got.toDouble).toOption.contains(d)
    case s: String => got == s
  }
  def rows(got: Vector[IndexedSeq[String]], want: Seq[Seq[Any]]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g.size == w.size && g.zip(w).forall { case (c, x) => cell(c, x) }
    }
}

/** Seeded key draws; `Rng(seed, a, b)` gives the same stream for the
  * same arguments on every run. */
object Rng {
  def apply(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + a * 1000003L + b)
}

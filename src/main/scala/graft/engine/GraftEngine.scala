package graft.engine

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession, graftshim}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, OneRowRelation, SubqueryAlias, UnresolvedWith, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{ExplainMode, ExtendedMode, SimpleMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import SqlText._

/** Spark-native SQL engine with the reference's statement surface
  * (`wqc200/ebike`): CREATE/DROP SCHEMA+TABLE, USE, INSERT VALUES
  * (rowid + PRIMARY/UNIQUE duplicate rejection), UPDATE/DELETE
  * (query-then-mutate copy-on-write), ALTER ADD/DROP COLUMN, the SHOW
  * family, EXPLAIN, SET/COMMIT no-ops, session variables and
  * `database()`, prepared-statement parameter splicing — with all
  * SELECT planning/execution delegated to Spark SQL the way the
  * reference delegates to DataFusion
  * (`/root/reference/src/execute_impl/select.rs:41-95`).
  *
  * Storage: one parquet directory per table version under the
  * warehouse; the catalog is itself a set of queryable
  * information_schema parquet tables (`src/meta/initial.rs:423-680`).
  * UPDATE/DELETE rewrite to a new version directory and swap the
  * pointer — the Spark-native equivalent of the reference's
  * query-then-mutate two-phase shape (`src/execute_impl/update.rs`,
  * `delete.rs`).
  *
  * Deviations from reference quirks (SURVEY §7.4): INSERT…SELECT
  * actually inserts the query result instead of the reference's
  * silent zero-row insert (`insert.rs:76-100`); DELETE
  * leaves no dangling index state; SHOW VARIABLES LIKE filters on the
  * variable *name* (the reference filters on the value —
  * `show_variables.rs:75-83` — a bug we do not replicate); a SELECT
  * naming a `rowid` attribute reads each COW table it references
  * through the table's full image, so there `*` includes rowid.
  */
class GraftEngine(val spark: SparkSession, warehouse: String,
    initialRetention: Int = 2) {
  import Meta._

  private val dataRoot = s"$warehouse/data"
  private val infoRoot = s"$warehouse/$InfoSchemaDb"

  private var schemas: Set[String] = Set.empty
  private var tables: Map[(String, String), TableDef] = Map.empty
  // (schema, name) -> stored SELECT body, engine dialect (expanded
  // per statement in enginePlan; persisted in info-schema `views`)
  private var views: Map[(String, String), String] = Map.empty
  private var globals: Map[String, String] = Map.empty

  // Engine sessions get the engine's optimizer rules and planner
  // strategy automatically: a pure `y < x <= y+W` join plans as two
  // hash joins instead of a nested loop, a small engine-table read runs
  // as one partition with no exchange, a SELECT of constants answers
  // from the driver (Spark's ConvertToLocalRelation then folds a LIMIT
  // above it), and a file scan's filter constants are bound outside the
  // generated code, so a statement of a shape that ran before compiles
  // nothing. Library users opt in to the range-join rewrite via
  // spark.sql.extensions or experimental.extraOptimizations.
  spark.experimental.extraOptimizations ++= Seq(graft.plans.BandedRangeJoin,
    graft.plans.SingleSplitScan, graft.plans.FoldConstantSelect,
    org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation)
    .filterNot(spark.experimental.extraOptimizations.contains)
  spark.experimental.extraStrategies ++= Seq(graft.plans.BindFilterLiterals)
    .filterNot(spark.experimental.extraStrategies.contains)

  // ---- session registry (SHOW PROCESSLIST / KILL) ------------------
  // Connection pools (HikariCP health probes, mysqladmin) issue SHOW
  // PROCESSLIST and KILL; the registry is the synthesized-resultset
  // source and the KILL target index. ConcurrentHashMap because
  // registration happens on connection threads outside the statement
  // locks. Declared BEFORE the default session below — GraftSession's
  // constructor registers itself here.
  private val sessionSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val liveSessions =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, GraftSession]()

  /** Default session — the engine's own "connection". Additional
    * connections call [[newSession]] and get isolated current-schema
    * and prepared-statement state (reference: one `Execution` per
    * connection, `execution.rs:84-113`). */
  val session: GraftSession = new GraftSession(this)

  /** Open a new, isolated session against the shared catalog. */
  def newSession(): GraftSession = new GraftSession(this)

  private[engine] def nextSessionId(): Long = sessionSeq.incrementAndGet()
  private[engine] def register(s: GraftSession): Unit =
    liveSessions.put(s.id, s)
  private[engine] def deregister(s: GraftSession): Unit =
    liveSessions.remove(s.id)
  private[engine] def sessionById(id: Long): Option[GraftSession] =
    Option(liveSessions.get(id))
  private[engine] def allSessions: Seq[GraftSession] = {
    val it = liveSessions.values.iterator()
    val b = Seq.newBuilder[GraftSession]
    while (it.hasNext) b += it.next()
    b.result().sortBy(_.id)
  }

  /** Statement concurrency. Reads — SELECT/EXPLAIN/SHOW/DESCRIBE/USE
    * and the transaction no-ops — share the read lock and run
    * concurrently across sessions; catalog- or data-mutating
    * statements (DDL/DML) take the write lock and run exclusively.
    * This narrows the reference's whole-statement global mutex
    * (`execution.rs` → `Arc<Mutex<GlobalContext>>`) to the mutation
    * window a Spark engine actually needs: a long UPDATE still
    * excludes readers (they would otherwise see a half-swapped COW
    * registration), but readers never serialize behind each other —
    * including EXPLAIN ANALYZE, which executes its plan under the
    * read lock. No statement's analysis consults shared Spark session
    * state: reads and writes resolve every engine name on the parsed
    * plan ([[resolveNames]]), so reads from different sessions analyze
    * in parallel. The DataFrame a read statement returns executes
    * entirely outside engine locks. */
  private val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** The session whose statement is executing on THIS thread —
    * thread-local so concurrent read statements from different
    * sessions can't see each other's current schema. */
  private val activeTL = new ThreadLocal[GraftSession]

  private def active: GraftSession = activeTL.get()

  private def currentSchema: Option[String] = active.currentSchema

  /** How many newest committed versions each COW table keeps on disk.
    * The floor of 2 is the in-flight-reader grace window
    * ([[writeVersion]]); anything above it is time-travel history,
    * readable via [[tableAsOf]] / `VERSION AS OF` until the version
    * falls out of the window. History is cheap at scale: the
    * file-pruned mutation path carries untouched files into v(N+1) as
    * hard links, so N retained versions cost O(files changed across
    * the window), not N full table images — the same economics as a
    * lakehouse table format's snapshot log.
    *
    * Passed at construction (`initialRetention`) so load-time
    * reconciliation already honors it — a restart with the default
    * would otherwise trim history to the grace floor before a setter
    * could run. */
  @volatile private var retainVersions: Int = {
    if (initialRetention < 2) throw Errors.generic(
      s"version retention must be >= 2 (in-flight reader grace), got $initialRetention")
    initialRetention
  }

  /** Set the version-retention window (min 2 — see
    * [[retainVersions]]). Shrinking it takes effect at the next
    * mutation / reload; it never deletes eagerly. */
  def setVersionRetention(n: Int): Unit = {
    if (n < 2) throw Errors.generic(
      s"version retention must be >= 2 (in-flight reader grace), got $n")
    retainVersions = n
  }

  // ------------------------------------------------------------------
  // public API
  // ------------------------------------------------------------------

  /** Execute one SQL statement in the default session. */
  def sql(statementRaw: String): GraftResult = sqlAs(session, statementRaw)

  /** Execute one SQL statement in the given session. Throws
    * GraftException on error. */
  private[engine] def sqlAs(ses: GraftSession,
      statementRaw: String): GraftResult = {
    val stmt = statementRaw.trim.stripSuffix(";").trim
    if (stmt.isEmpty) throw Errors.generic("empty statement")
    if (ses.killed)
      throw GraftException(1317, "Query execution was interrupted " +
        s"(connection ${ses.id} was killed)")
    val lower = stmt.toLowerCase
    ses.busy = true; ses.lastInfo = stmt
    ses.stateSince = System.currentTimeMillis
    // BEGIN/COMMIT/ROLLBACK take the WRITE lock: they mutate the
    // engine-wide GC pin registry (txnPins), and ROLLBACK re-commits
    // table images
    val readOnly = lower.startsWith("select") || lower.startsWith("with") ||
      lower.startsWith("values") || lower.startsWith("(") ||
      lower.startsWith("explain") || lower.startsWith("show") ||
      lower.startsWith("desc") || lower.startsWith("use") ||
      lower.startsWith("set") || lower.startsWith("analyze") ||
      lower.startsWith("kill") // flips one volatile flag — no catalog
    val l: java.util.concurrent.locks.Lock =
      if (readOnly) lock.readLock() else lock.writeLock()
    // save/restore instead of set/remove: EXPLAIN re-enters sqlAs for
    // its inner statement on the same thread
    val prev = activeTL.get()
    activeTL.set(ses)
    l.lock()
    try {
      // MySQL implicit commit: DDL ends any open transaction BEFORE
      // executing — a txn can never hold undo entries for a table
      // whose shape (or existence) changed under it
      if (ses.txn.isDefined && lower.matches(
        "(?s)(create|drop|alter|truncate|rename|optimize|vacuum|restore)\\b.*"))
        endTxn(ses)
      if (lower.startsWith("select") || lower.startsWith("with") ||
        lower.startsWith("values") || lower.startsWith("(")) ResultSet(doSelect(stmt))
      else if (lower.startsWith("explain")) doExplain(stmt)
      else if (lower.matches("(?s)create\\s+(schema|database)\\b.*"))
        doCreateSchema(stmt)
      else if (lower.matches("(?s)create\\s+external\\s+table\\b.*"))
        doCreateExternalTable(stmt)
      else if (lower.matches("(?s)create\\s+table\\b.*")) doCreateTable(stmt)
      else if (lower.matches("(?s)create\\s+(or\\s+replace\\s+)?view\\b.*"))
        doCreateView(stmt)
      else if (lower.matches("(?s)drop\\s+view\\b.*")) doDropView(stmt)
      else if (lower.matches("(?s)drop\\s+(schema|database)\\b.*"))
        doDropSchema(stmt)
      else if (lower.matches("(?s)drop\\s+table\\b.*")) doDropTable(stmt)
      else if (lower.matches("(?s)alter\\s+table\\b.*")) doAlterTable(stmt)
      else if (lower.startsWith("insert") ||
        lower.startsWith("replace")) doInsert(stmt)
      else if (lower.startsWith("update") || lower.startsWith("delete") ||
        lower.startsWith("merge")) doWrite(stmt)
      else if (lower.startsWith("optimize")) doOptimize(stmt)
      else if (lower.startsWith("vacuum")) doVacuum(stmt)
      else if (lower.startsWith("restore")) doRestore(stmt)
      else if (lower.startsWith("analyze")) doAnalyze(stmt)
      else if (lower.startsWith("show")) doShow(stmt)
      else if (lower.startsWith("use")) doUse(stmt)
      else if (lower.startsWith("desc")) doDescribe(stmt)
      else if (lower.startsWith("set")) AffectedRows(0) // no-op, like SetVariable (set_variable.rs:34-36)
      else if (lower.startsWith("truncate")) doTruncate(stmt)
      else if (lower.startsWith("rename")) doRename(stmt)
      // Reference treats all three as accepted no-ops — autocommit
      // only (execution.rs:1265-1267). Documented deviation: BEGIN
      // opens a real transaction over the version store (see
      // [[GraftSession.txn]]); with no BEGIN the autocommit behavior
      // is unchanged.
      else if (lower.startsWith("begin") || lower.startsWith("start transaction")) {
        endTxn(ses) // MySQL: BEGIN implicitly commits any open txn
        ses.txn = Some(scala.collection.mutable.LinkedHashMap.empty)
        AffectedRows(0)
      }
      else if (lower.startsWith("commit")) { endTxn(ses); AffectedRows(0) }
      else if (lower.startsWith("rollback")) doRollback(ses)
      else if (lower.startsWith("kill")) doKill(stmt)
      else throw Errors.generic(s"unsupported statement: ${stmt.take(60)}")
    } catch {
      case e: GraftException => throw e
      case e: AnalysisException =>
        val cond = Option(e.getCondition).getOrElse("")
        if (cond.contains("TABLE_OR_VIEW_NOT_FOUND"))
          throw GraftException(1146, e.getMessage)
        else throw GraftException(1105, e.getMessage)
    } finally {
      l.unlock()
      activeTL.set(prev)
      ses.busy = false
      ses.stateSince = System.currentTimeMillis
    }
  }

  /** `KILL [CONNECTION | QUERY] <id>` — marks the target session
    * killed: its next statement fails with 1317 and the wire loop
    * closes its connection at the next command. QUERY and CONNECTION
    * behave identically here (statement-boundary semantics — see
    * [[GraftSession.killed]]); unknown ids raise MySQL's 1094. A
    * session may kill itself (mysqladmin does). */
  private def doKill(stmt: String): GraftResult = {
    val m = "(?is)kill\\s+(?:connection\\s+|query\\s+)?(\\d+)\\s*$".r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val id = m.group(1).toLong
    val target = sessionById(id)
      .getOrElse(throw GraftException(1094, s"Unknown thread id: $id"))
    target.killed = true
    AffectedRows(0)
  }

  /** Convenience: run and return the DataFrame of a result set. */
  def query(statement: String): DataFrame = sql(statement) match {
    case ResultSet(df) => df
    case AffectedRows(n) => throw Errors.generic(s"statement returned count $n, not rows")
  }

  // prepared statements — delegate to the default session (the cache
  // is per-session state, GraftSession)
  def prepare(statement: String): Int = session.prepare(statement)
  def executePrepared(id: Int, params: Seq[Any]): GraftResult =
    session.executePrepared(id, params)
  def closePrepared(id: Int): Unit = session.closePrepared(id)

  // ------------------------------------------------------------------
  // bootstrap / registration
  // ------------------------------------------------------------------

  private def bootstrapOrLoad(): Unit = {
    new File(dataRoot).mkdirs()
    new File(infoRoot).mkdirs()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$InfoSchemaDb`")
    if (new File(s"$infoRoot/tables").exists()) load() else bootstrap()
    InfoSchema.dual(spark).createOrReplaceTempView("dual")
  }

  /** Fresh warehouse: built-in schemas + catalog tables
    * (`/root/reference/src/meta/meta_util.rs:338-408` init_meta). */
  private def bootstrap(): Unit = {
    schemas = BuiltinSchemas.toSet
    BuiltinSchemas.foreach(s => spark.sql(s"CREATE DATABASE IF NOT EXISTS `$s`"))

    val user = TableDef("mysql", "user", Seq(
      ColumnDef("host", "char", nullable = false, 1, 1),
      ColumnDef("user", "char", nullable = false, 2, 2)),
      Seq("host", "user"), Nil, 3, 0L)
    val gv = TableDef("performance_schema", "global_variables", Seq(
      ColumnDef("variable_name", "char", nullable = false, 1, 1),
      ColumnDef("variable_value", "char", nullable = true, 2, 2)),
      Seq("variable_name"), Nil, 3, 0L)
    tables = Map((user.schema, user.name) -> user, (gv.schema, gv.name) -> gv)

    writeRows(user, Seq(Seq("%", "root")))
    writeRows(gv, Meta.globalVariables.map { case (k, v) => Seq(k, v) })
    tables.values.foreach(registerTable)
    globals = Meta.globalVariables.toMap
    persistInfoSchema()
  }

  private def load(): Unit = {
    // Catalog boot is a DRIVER-SIDE collect by design: table/column
    // metadata must live in driver maps for statement planning (the
    // reference caches its MetaData maps the same way at startup,
    // meta/initial.rs:682-718 read_all_table). The documented
    // contract is O(catalog rows) driver memory — catalog rows scale
    // with SCHEMA COUNT (tables × columns), never with data, so even
    // a 100-TB warehouse's catalog is a few MB. The guard below makes
    // a corrupt or runaway catalog fail actionably instead of
    // exhausting the driver: `columns` is the largest catalog table,
    // and its count is a footer-only parquet job.
    val colCount = spark.read.parquet(s"$infoRoot/columns").count()
    if (colCount > GraftEngine.maxCatalogBootRows)
      throw Errors.generic(
        s"catalog too large to boot: $colCount column rows exceed " +
          s"maxCatalogBootRows=${GraftEngine.maxCatalogBootRows}; " +
          "raise GraftEngine.maxCatalogBootRows or split schemas " +
          "across warehouses")
    val sch = spark.read.parquet(s"$infoRoot/schemata")
      .select("schema_name").collect().map(_.getString(0)).toSet
    val cols = spark.read.parquet(s"$infoRoot/columns").collect()
      .map(r => (r.getAs[String]("table_schema"), r.getAs[String]("table_name"),
        r.getAs[String]("column_name"), r.getAs[Long]("ordinal_position"),
        r.getAs[String]("is_nullable") == "YES", r.getAs[String]("data_type"),
        r.getAs[Long]("store_id")))
    val stats = spark.read.parquet(s"$infoRoot/statistics").collect()
      .map(r => (r.getAs[String]("table_schema"), r.getAs[String]("table_name"),
        r.getAs[String]("index_name"), r.getAs[Long]("seq_in_index"),
        r.getAs[String]("column_name")))
    val tbls = spark.read.parquet(s"$infoRoot/tables").collect()
      .filter(_.getAs[String]("table_type") != "VIEW")
      .map(r => (r.getAs[String]("table_schema"), r.getAs[String]("table_name"),
        r.getAs[Long]("data_version"),
        Option(r.getAs[String]("location")).filter(_.nonEmpty),
        r.getAs[String]("engine").stripPrefix("external_")))
    // pre-views warehouses have no views catalog — empty map
    views =
      if (new File(s"$infoRoot/views").exists())
        spark.read.parquet(s"$infoRoot/views").collect()
          .map(r => (r.getAs[String]("table_schema"),
            r.getAs[String]("table_name")) ->
            r.getAs[String]("view_definition")).toMap
      else Map.empty
    schemas = sch
    tables = tbls.map { case (s, t, v, loc, fmt) =>
      val cds = cols.filter(c => c._1 == s && c._2 == t).sortBy(_._4)
        .map(c => ColumnDef(c._3, c._6, c._5, c._7.toInt, c._4.toInt)).toSeq
      val idx = stats.filter(x => x._1 == s && x._2 == t)
        .groupBy(_._3).map { case (n, rows) =>
          n -> rows.sortBy(_._4).map(_._5).toSeq
        }
      val pk = idx.getOrElse("PRIMARY", Seq.empty)
      val uq = (idx - "PRIMARY").toSeq.sortBy(_._1)
      val next = (cds.map(_.storeId) :+ 0).max + 1
      (s, t) -> TableDef(s, t, cds, pk, uq, next, v, loc, fmt)
    }.toMap
    val catalogDirty = reconcileVersions()
    (schemas ++ BuiltinSchemas).foreach(s =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$s`"))
    tables.values.foreach(registerTable)
    if (catalogDirty) persistInfoSchema() else registerInfoTables()
    globals = spark.table("performance_schema.global_variables")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Crash recovery for the COW version swap (see [[writeVersion]]):
    * a crash can leave an orphan version directory (new image written
    * and committed, catalog flip never persisted), a partial one (no
    * `_SUCCESS`), or a catalog pointing at a directory a half-finished
    * cleanup already deleted. Reconcile per table: keep the catalog's
    * version if its directory carries the committer's `_SUCCESS`
    * marker; otherwise fall forward to the highest committed version
    * on disk. Every other version directory is garbage-collected.
    * Returns whether the catalog needs re-persisting. */
  private def reconcileVersions(): Boolean = {
    var dirty = false
    def committed(d: File) = new File(d, "_SUCCESS").exists()
    tables = tables.map { case (k, td) =>
      if (td.external) k -> td
      else {
        val base = new File(s"$dataRoot/${td.schema}/${td.name}")
        // a crash inside the pruned-write staging step can leave a
        // .stage dir — never adoptable (not a version), just GC it
        Option(base.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.isDirectory && f.getName.matches("v\\d+\\.stage"))
          .foreach(deleteRecursively)
        val byVer = Option(base.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
          .map(f => f.getName.drop(1).toLong -> f).toMap
        val adopt =
          if (byVer.get(td.version).exists(committed)) td.version
          else byVer.collect { case (v, d) if committed(d) => v }
            .reduceOption(_ max _).getOrElse(td.version)
        // GC: uncommitted partials and anything newer than the adopted
        // version always go; committed history inside the retention
        // window survives a restart (time travel is durable)
        byVer.foreach { case (v, d) =>
          if (v != adopt && (v > adopt || !committed(d) ||
              v <= adopt - retainVersions)) deleteRecursively(d)
        }
        if (adopt == td.version) k -> td
        else { dirty = true; k -> td.copy(version = adopt) }
      }
    }
    dirty
  }

  private def tableDir(td: TableDef): String =
    td.location.getOrElse(s"$dataRoot/${td.schema}/${td.name}/v${td.version}")

  private def registerTable(td: TableDef): Unit = {
    if (!td.external) new File(tableDir(td)).mkdirs()
    spark.sql(s"DROP TABLE IF EXISTS `${td.schema}`.`${td.name}`")
    // csv needs header skipping on every read; schema comes from the
    // catalog (inferred once at CREATE), not re-inferred per session.
    // `kv` maps to the DSv2 range-pushdown connector (the reference's
    // KV store IS its table store — reader_util.rs:263-415 — so the
    // statement surface must reach the same index-range-scan path):
    // location is a multi-segment directory, read newest-wins.
    val (provider, opts) =
      if (td.format == "kv")
        (classOf[graft.sources.KvSource].getName,
          Map("dir" -> tableDir(td)))
      else (td.format, Map("path" -> tableDir(td)) ++
        (if (td.format == "csv") Map("header" -> "true") else Map.empty))
    // the marker graft.plans.SingleSplitScan recognises engine tables by
    spark.catalog.createTable(s"${td.schema}.${td.name}", provider,
      td.visibleSchema,
      opts + (graft.plans.SingleSplitScan.EngineTableOption -> "true"))
  }

  private val infoTables = Seq("schemata", "tables", "columns", "statistics",
    "table_constraints", "key_column_usage", "check_constraints",
    "referential_constraints", "views")

  /** Info tables whose content depends on table definitions — the
    * set a table-level DDL statement has to rewrite. `schemata` only
    * moves on schema DDL, and the two `*_constraints` catalogs are
    * constant after bootstrap (the engine supports neither), so a
    * CREATE TABLE persists five tiny tables, not eight. */
  private val tableShapeInfo = Seq("tables", "columns", "statistics",
    "table_constraints", "key_column_usage")

  /** (schema, driver-local rows) for one info table — catalog-scale
    * by construction ([[GraftEngine.maxCatalogBootRows]] bounds it). */
  private def infoLocal(name: String)
      : (org.apache.spark.sql.types.StructType, Seq[Seq[Any]]) = {
    val defs = tables.values.toSeq
    name match {
      case "schemata" =>
        (InfoSchema.schemataSchema, InfoSchema.schemata(schemas.toSeq))
      case "tables" =>
        (InfoSchema.tablesSchema, InfoSchema.tables(defs, views.keys.toSeq))
      case "columns" =>
        (InfoSchema.columnsSchema, InfoSchema.columns(defs))
      case "statistics" =>
        (InfoSchema.statisticsSchema, InfoSchema.statistics(defs))
      case "table_constraints" =>
        (InfoSchema.tableConstraintsSchema, InfoSchema.tableConstraints(defs))
      case "key_column_usage" =>
        (InfoSchema.keyColumnUsageSchema, InfoSchema.keyColumnUsage(defs))
      case "check_constraints" =>
        (InfoSchema.checkConstraintsSchema, Nil)
      case "referential_constraints" =>
        (InfoSchema.referentialConstraintsSchema, Nil)
      case "views" =>
        (InfoSchema.viewsSchema, InfoSchema.views(
          views.toSeq.map { case ((sc, n), d) => (sc, n, d) }))
    }
  }

  /** Persist + (re)register the named info tables — all of them for
    * DDL (any of the 8 can change shape), but a DATA mutation only
    * moves `tables.data_version`, so [[writeVersion]]/[[kvDelete]]
    * pass `Seq("tables")` and a COW UPDATE pays ONE tiny parquet
    * write + one registration instead of eight of each. The narrowed
    * write still persists the catalog pointer the crash-reconcile
    * path reads, so every recovery window is unchanged. Writes are
    * DRIVER-SIDE ([[DriverParquet]]): the previous
    * `coalesce(1).write.parquet` ran one Spark job + commit protocol
    * per tiny table (~0.15–0.25s each), which made catalog flushes
    * the dominant wall of the engine-lifecycle battery entries
    * (measured: a CREATE TABLE spent ~0.75s of ~0.8s in its five
    * catalog writes; driver-side the statement is ~0.05s). */
  private def persistInfoSchema(names: Seq[String] = infoTables): Unit = {
    names.foreach { n =>
      val (schema, rows) = infoLocal(n)
      DriverParquet.overwrite(spark, s"$infoRoot/$n", schema, rows)
      infoWriteCount += 1
    }
    registerInfoTables(names)
  }

  /** Count of individual info-schema table writes since engine start
    * — observability for the transaction-batched catalog flush
    * (ScaleProbe's O(1)-writes-per-transaction evidence). */
  private[graft] var infoWriteCount: Long = 0L

  private def registerInfoTables(names: Seq[String] = infoTables): Unit =
    names.foreach { n =>
      val path = s"$infoRoot/$n"
      // a registration that already points at THIS engine's warehouse
      // only needs a file-listing refresh after the image rewrite;
      // drop + recreate remains for first registration and for the
      // several-engines-one-SparkSession case, where the other
      // engine's registration must be re-pointed here
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(
        n, Some(InfoSchemaDb))
      val samePath =
        try spark.sessionState.catalog.getTableMetadata(ident)
          .storage.locationUri.exists(u =>
            new File(u).getAbsolutePath == new File(path).getAbsolutePath)
        catch { case _: Exception => false }
      if (samePath) spark.catalog.refreshTable(s"$InfoSchemaDb.$n")
      else {
        spark.sql(s"DROP TABLE IF EXISTS `$InfoSchemaDb`.`$n`")
        spark.catalog.createTable(s"$InfoSchemaDb.$n", "parquet",
          infoLocal(n)._1, Map("path" -> path))
      }
    }

  // ------------------------------------------------------------------
  // name resolution
  // ------------------------------------------------------------------

  /** Qualify with the session schema, lowercase — `fill_up_table_name`
    * (`/root/reference/src/meta/meta_util.rs:256-279`): error 1046
    * when unqualified with no schema selected. */
  private def resolveName(raw: String): (String, String) =
    qualify(splitTopLevel(raw.trim, '.').map(ident), currentSchema)

  private def qualify(parts: Seq[String], schema: Option[String]): (String, String) =
    parts match {
      case Seq(t) => (schema.getOrElse(throw Errors.noSchemaSelected), t)
      case Seq(s, t) => (s, t)
      case Seq(_, s, t) => (s, t) // catalog.schema.table → ignore catalog 'def'
      case _ => throw Errors.generic(s"bad table name: ${parts.mkString(".")}")
    }

  private def lookup(raw: String): TableDef = baseTable(resolveName(raw))

  private def baseTable(key: (String, String)): TableDef =
    tables.getOrElse(key, {
      val (s, t) = key
      if (views.contains(key)) throw Errors.generic(
        s"'$s.$t' is a view — this statement targets base tables")
      throw Errors.noSuchTable(s, t)
    })

  private def readFull(td: TableDef): DataFrame =
    spark.read.schema(td.fullSchema).parquet(tableDir(td))

  /** Snapshot read of `td` at a historical `version`. The snapshot
    * presents the schema AS WRITTEN at that version (parquet is
    * self-describing, so a column added by a later ALTER simply isn't
    * there — correct time-travel semantics), minus the internal
    * rowid. A version directory with no data files is an empty table
    * and reads as zero rows with the CURRENT visible schema (its
    * as-written schema left no trace on disk). */
  /** [[snapshotDf]] minus the rowid drop — the CDC path
    * ([[changes]]) needs the stable row identity. */
  private def snapshotRaw(td: TableDef, version: Long): DataFrame = {
    if (td.external) throw Errors.generic(
      s"table '${td.schema}.${td.name}' is external — unversioned, no time travel")
    if (td.format == "kv") throw Errors.generic(
      s"table '${td.schema}.${td.name}' is a kv table — LSM appends shadow " +
        "in place (no per-statement snapshots), no time travel")
    if (version == td.version) // current image: the live read path
      return spark.read.schema(td.fullSchema).parquet(tableDir(td))
    val dir = new File(s"$dataRoot/${td.schema}/${td.name}/v$version")
    if (version > td.version || !dir.isDirectory ||
        !new File(dir, "_SUCCESS").exists())
      throw Errors.generic(
        s"version $version of '${td.schema}.${td.name}' does not exist " +
          s"or fell out of the retention window (current ${td.version}, " +
          s"retaining $retainVersions)")
    val hasData = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))
    if (!hasData)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        td.fullSchema)
    else // mergeSchema: an append commit after ALTER ADD COLUMN
      // leaves mixed-schema files in one version dir
      spark.read.option("mergeSchema", "true").parquet(dir.getPath)
  }

  private def snapshotDf(td: TableDef, version: Long): DataFrame =
    snapshotRaw(td, version).drop(RowId)

  /** Time-travel read: the committed image of `name` (optionally
    * schema-qualified) at `version`, as a DataFrame. Versions are
    * retained per [[setVersionRetention]]; asking for a GC'd or
    * future version throws. SQL surface: `SELECT … FROM t VERSION AS
    * OF n` and `SHOW VERSIONS FOR t`. */
  def tableAsOf(name: String, version: Long): DataFrame = {
    val prev = activeTL.get()
    activeTL.set(session)
    lock.readLock().lock()
    try snapshotDf(lookup(name), version)
    finally { lock.readLock().unlock(); activeTL.set(prev) }
  }

  /** On-demand change data feed: the row-level diff between two
    * retained versions, keyed on the engine's stable rowid (INSERT
    * assigns it, UPDATE preserves it — [[doUpdate]]). Returns the
    * TO-version's visible columns plus `rowid` and `_change_type` in
    * {insert, delete, update_preimage, update_postimage}; pre-image
    * rows cast old values into the to-schema (a column added between
    * the versions reads NULL pre-image).
    *
    * One full-outer join on rowid + one generated-column explode —
    * single pass, no driver materialization, unchanged rows drop at
    * the explode (empty array), so the output is O(changed rows).
    * This is what an incremental 100-TB pipeline consumes instead of
    * re-reading the table: dedup/index/train-shard maintenance over
    * O(delta), not O(corpus). */
  def changes(name: String, fromVersion: Long, toVersion: Long): DataFrame = {
    val prev = activeTL.get()
    activeTL.set(session)
    lock.readLock().lock()
    try {
      if (fromVersion >= toVersion) throw Errors.generic(
        s"changes: fromVersion $fromVersion must be < toVersion $toVersion")
      val td = lookup(name)
      val oldDf = snapshotRaw(td, fromVersion)
      val newDf = snapshotRaw(td, toVersion)
      val outCols = newDf.columns.filter(_ != RowId).toSeq
      val common = oldDf.columns.intersect(newDf.columns)
        .filter(_ != RowId).toSeq
      val newTypes = newDf.schema.fields.map(f => f.name -> f.dataType).toMap
      // old values projected INTO the to-schema (missing -> null)
      def oldAs(c: String): Column =
        (if (oldDf.columns.contains(c)) col(c).cast(newTypes(c))
        else lit(null).cast(newTypes(c))).as("__o_" + c)
      val o = oldDf.select(col(RowId) +: lit(true).as("__o_present") +:
        outCols.map(oldAs): _*)
      val n = newDf.select(col(RowId) +: lit(true).as("__n_present") +:
        outCols.map(c => col(c).as("__n_" + c)): _*)
      val j = o.join(n, Seq(RowId), "full_outer")
      def tagged(tag: String, r: Column): Column =
        struct(lit(tag).as("_change_type"), r.as("__vals"))
      val oldVals = struct(outCols.map(c => col("__o_" + c).as(c)): _*)
      val newVals = struct(outCols.map(c => col("__n_" + c).as(c)): _*)
      // null-safe compare on the COMMON columns only: a column that
      // exists in just one version can't count as a change by itself
      val oldCmp = struct(common.map(c => col("__o_" + c)): _*)
      val newCmp = struct(common.map(c => col("__n_" + c)): _*)
      // no otherwise: unchanged rows yield a NULL array, which
      // explode drops — output is O(changed rows)
      val events = when(col("__o_present").isNull,
          array(tagged("insert", newVals)))
        .when(col("__n_present").isNull,
          array(tagged("delete", oldVals)))
        .when(!(oldCmp <=> newCmp),
          array(tagged("update_preimage", oldVals),
            tagged("update_postimage", newVals)))
      j.select(col(RowId), explode(events).as("__e"))
        .select(col(RowId) +: col("__e._change_type") +:
          outCols.map(c => col(s"__e.__vals.$c").as(c)): _*)
    } finally { lock.readLock().unlock(); activeTL.set(prev) }
  }

  // ------------------------------------------------------------------
  // SELECT / EXPLAIN
  // ------------------------------------------------------------------

  private def rewrite(stmt: String): String =
    substituteVars(stmt, globals, Version, currentSchema)

  /** SELECT, run the way Spark's own `sql` runs it — parse on the
    * statement's planning tracker, then `Dataset.ofRows` on the same
    * tracker — with the engine's names resolved on the parsed plan in
    * between ([[enginePlan]]). Spark analyzes eagerly, under the
    * caller's statement lock; the DataFrame executes outside it. */
  private def doSelect(stmt: String): DataFrame =
    graftshim.ofRows(spark)(enginePlan(stmt, currentSchema, Set.empty, _))

  /** Parse `stmt` after `@@var`/`database()` substitution, timed as
    * `tracker`'s parsing phase. */
  private def parseStatement(stmt: String, schema: Option[String],
      tracker: QueryPlanningTracker): LogicalPlan = {
    val text = substituteVars(stmt, globals, Version, schema)
    tracker.measurePhase(QueryPlanningTracker.PARSING)(
      spark.sessionState.sqlParser.parsePlan(text))
  }

  private def enginePlan(stmt: String, schema: Option[String],
      expanding: Set[(String, String)],
      tracker: QueryPlanningTracker): LogicalPlan =
    resolveNames(parseStatement(stmt, schema, tracker), schema, expanding, tracker)

  /** Resolve the engine's names on a parsed plan, as the reference
    * does on its AST before DataFusion plans (`fix_statement`,
    * `execution.rs:157-333`). SELECT and the write statements
    * ([[doWrite]]) share it. One walk over the plan, its expressions'
    * subquery plans and its CTE definitions:
    *  - `t VERSION AS OF n` reads the table's committed v<n> snapshot
    *    (Spark's analyzer reserves that syntax for v2 catalogs);
    *  - an engine view expands to its stored body, resolved by this
    *    function against the VIEW's schema (MySQL definer-schema
    *    resolution); `expanding` holds the views being expanded and
    *    catches the cycles a CREATE OR REPLACE can introduce;
    *  - every other single-part name is qualified with `schema`
    *    (`default` when none is selected), except CTE names in scope
    *    and Spark temp views (`dual`); any other two-part name (a path
    *    read such as ``parquet.`/Dir` ``) stays as parsed;
    *  - when the statement names an attribute `rowid`, each COW table
    *    reads through its full image, rowid included. The reference
    *    hides rowid from `*` (`meta_def.rs:385-395`); in such a
    *    statement `*` includes it here. KV tables have no rowid.
    * The walk carries the CTE names in scope down the tree, which a
    * bottom-up transform cannot. Nothing here touches shared session
    * state, so concurrent reads analyze in parallel. */
  private def resolveNames(parsed: LogicalPlan, schema: Option[String],
      expanding: Set[(String, String)],
      tracker: QueryPlanningTracker): LogicalPlan = {
    def namesRowid(p: LogicalPlan): Boolean =
      p.expressions.exists(_.exists {
        case a: UnresolvedAttribute => a.nameParts.last.equalsIgnoreCase(RowId)
        case q: SubqueryExpression => namesRowid(q.plan)
        case _ => false
      }) || (p.children ++ p.innerChildren).exists {
        case c: LogicalPlan => namesRowid(c)
        case _ => false
      }
    val withRowid = namesRowid(parsed)
    def alias(key: (String, String), plan: LogicalPlan) =
      SubqueryAlias(Seq("spark_catalog", key._1, key._2), plan)
    def relation(r: UnresolvedRelation, ctes: Set[String]): LogicalPlan = {
      val parts = r.multipartIdentifier.map(_.toLowerCase)
      val key = parts match {
        case Seq(t) if !ctes(t) => (schema.getOrElse("default"), t)
        case Seq(s, t) => (s, t)
        case _ => return r // a CTE name, or a catalog-qualified name
      }
      views.get(key) match {
        case Some(body) =>
          if (expanding(key)) throw Errors.generic(
            s"view '${key._1}.${key._2}' is recursively defined")
          alias(key, enginePlan(body, Some(key._1), expanding + key, tracker))
        case None => tables.get(key) match {
          case Some(td) if withRowid && !td.external && td.format != "kv" =>
            alias(key, readFull(td).queryExecution.analyzed)
          case None if parts.size == 1 &&
              spark.sessionState.catalog.isTempView(parts) => r
          case None if parts.size == 2 => r // as parsed: a path read is case-sensitive
          case _ => r.copy(multipartIdentifier = Seq(key._1, key._2))
        }
      }
    }
    def walk(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        var scope = ctes
        val defs = w.cteRelations.map { case (name, body, depth) =>
          val own = scope + name.toLowerCase
          val resolved = walk(body, if (w.allowRecursion) own else scope)
          scope = own
          (name, resolved.asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = walk(w.child, scope), cteRelations = defs)
      case RelationTimeTravel(r: UnresolvedRelation, None, Some(v)) =>
        val td = baseTable(qualify(r.multipartIdentifier.map(_.toLowerCase), schema))
        val ver = v.toLongOption.getOrElse(
          throw Errors.generic(s"VERSION AS OF needs an integer version, got $v"))
        alias((td.schema, td.name), snapshotDf(td, ver).queryExecution.analyzed)
      case r: UnresolvedRelation => relation(r, ctes)
      case _ => p.mapChildren(walk(_, ctes)).transformExpressions {
        case q: SubqueryExpression => q.withNewPlan(walk(q.plan, ctes))
      }
    }
    walk(parsed, Set.empty)
  }

  private def doExplain(stmt: String): GraftResult = {
    val m = "(?is)^explain\\s+(verbose\\s+|analyze\\s+)*".r
      .findFirstMatchIn(stmt).get
    val mods = stmt.substring(0, m.end).toLowerCase
    val verbose = mods.contains("verbose")
    val analyze = mods.contains("analyze")
    val inner = stmt.substring(m.end)
    // dispatch the inner statement to the read handlers directly:
    // re-entering sqlAs would attempt a read→write lock upgrade for
    // EXPLAIN <DML> (deadlock), and the old path executed the DML
    // before rejecting it — explain is read-only by definition
    val innerLower = inner.trim.toLowerCase
    val df = (if (innerLower.startsWith("show")) doShow(inner.trim)
      else if (innerLower.startsWith("desc")) doDescribe(inner.trim)
      else ResultSet(doSelect(inner))) match {
      case ResultSet(d) => d
      case AffectedRows(n) =>
        throw Errors.generic(s"statement returned count $n, not rows")
    }
    if (analyze) {
      // run the plan for real, then report it with runtime metrics —
      // the reference executes the explain plan too (explain.rs:41-105)
      val qe = df.queryExecution
      qe.toRdd.count() // executes without collecting rows to the driver
      def metricLines(p: org.apache.spark.sql.execution.SparkPlan): Seq[Row] = {
        val self =
          if (p.metrics.isEmpty) Seq.empty
          else Seq(Row("metric", p.nodeName + ": " +
            p.metrics.toSeq.sortBy(_._1)
              .map { case (k, sm) => s"$k=${sm.value}" }.mkString(", ")))
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(q.plan)
          case other => other.children
        }
        self ++ kids.flatMap(metricLines)
      }
      val planRows = qe
        .explainString(if (verbose) ExtendedMode else SimpleMode)
        .split("\n").toSeq.map(l => Row("plan", l))
      ResultSet(stringResult("plan_type", "plan")(
        planRows ++ metricLines(qe.executedPlan)))
    } else {
      val text = df.queryExecution
        .explainString(if (verbose) ExtendedMode else SimpleMode)
      ResultSet(stringResult("plan_type", "plan")(
        text.split("\n").toSeq.map(l => Row("plan", l))))
    }
  }

  // ------------------------------------------------------------------
  // DDL
  // ------------------------------------------------------------------

  private def doCreateSchema(stmt: String): GraftResult = {
    val m = "(?is)^create\\s+(?:schema|database)\\s+(if\\s+not\\s+exists\\s+)?(.+)$"
      .r.findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val ifNotExists = m.group(1) != null
    val name = ident(m.group(2))
    if (name == InfoSchemaDb || schemas.contains(name)) {
      if (ifNotExists) return AffectedRows(0)
      throw Errors.dbExists(name)
    }
    schemas += name
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")
    persistInfoSchema(Seq("schemata"))
    AffectedRows(1)
  }

  private def doDropSchema(stmt: String): GraftResult = {
    val m = "(?is)^drop\\s+(?:schema|database)\\s+(if\\s+exists\\s+)?(.+)$"
      .r.findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val ifExists = m.group(1) != null
    val name = ident(m.group(2))
    if (!schemas.contains(name)) {
      if (ifExists) return AffectedRows(0)
      throw Errors.unknownDb(name)
    }
    tables.values.filter(_.schema == name).toSeq.foreach(dropTableImpl)
    views = views.filterNot(_._1._1 == name)
    schemas -= name
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
    if (currentSchema.contains(name)) active.currentSchema = None
    persistInfoSchema("schemata" +: "views" +: tableShapeInfo)
    AffectedRows(1)
  }

  private def doCreateTable(stmt: String): GraftResult = {
    val ctas = ("(?is)^create\\s+table\\s+(if\\s+not\\s+exists\\s+)?" +
      "([^(\\s]+)\\s+as\\s+((?:select|with|\\().*)$").r.findFirstMatchIn(stmt)
    ctas.foreach { c => return doCreateTableAs(c) }
    // CREATE TABLE … LIKE: MySQL's empty structural clone — columns,
    // PRIMARY KEY and UNIQUE keys copy; data and history do not.
    val like = ("(?is)^create\\s+table\\s+(if\\s+not\\s+exists\\s+)?" +
      "([^(\\s]+)\\s+like\\s+(\\S+)\\s*$").r.findFirstMatchIn(stmt)
    like.foreach { c =>
      val ifNotExists = c.group(1) != null
      val (schema, name) = resolveName(c.group(2))
      if (!schemas.contains(schema)) throw Errors.unknownDb(schema)
      val src = lookup(c.group(3))
      if (tables.contains((schema, name)) ||
          views.contains((schema, name))) {
        if (ifNotExists) return AffectedRows(0)
        throw Errors.tableExists(name)
      }
      if (src.format == "kv" || src.external)
        throw Errors.generic("CREATE TABLE LIKE clones managed parquet " +
          s"tables; '${src.qualified}' is ${if (src.external) "external"
            else "a kv table"}")
      val td = TableDef(schema, name, src.columns, src.primaryKey,
        src.uniques, src.nextStoreId, 0L)
      tables += (schema, name) -> td
      registerTable(td)
      persistInfoSchema(tableShapeInfo)
      return AffectedRows(0)
    }
    val m = ("(?is)^create\\s+table\\s+(if\\s+not\\s+exists\\s+)?([^(\\s]+)\\s*" +
      "\\((.*)\\)\\s*(?:using\\s+(\\w+)\\s*)?$")
      .r.findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val ifNotExists = m.group(1) != null
    val managedFmt = Option(m.group(4)).map(_.toLowerCase).getOrElse("parquet")
    if (managedFmt != "parquet" && managedFmt != "kv")
      throw Errors.generic(s"unsupported managed table format: $managedFmt " +
        "(managed tables are PARQUET or KV; other formats via CREATE EXTERNAL TABLE)")
    val (schema, name) = resolveName(m.group(2))
    if (!schemas.contains(schema)) throw Errors.unknownDb(schema)
    if (tables.contains((schema, name)) ||
        views.contains((schema, name))) {
      if (ifNotExists) return AffectedRows(0)
      throw Errors.tableExists(name)
    }
    var cols = Vector.empty[ColumnDef]
    var pk = Seq.empty[String]
    var uniques = Vector.empty[(String, Seq[String])]
    var storeId = 1

    def parseColList(inner: String): Seq[String] =
      splitTopLevel(inner, ',').map(ident)

    splitTopLevel(m.group(3), ',').foreach { item =>
      val low = item.toLowerCase
      val parenStart = item.indexOf('(')
      if (low.startsWith("primary key")) {
        pk = parseColList(item.substring(parenStart + 1, item.lastIndexOf(')')))
      } else if (low.startsWith("unique") || low.startsWith("key") ||
        low.startsWith("index")) {
        val inner = item.substring(parenStart + 1, item.lastIndexOf(')'))
        val nameTok = item.substring(0, parenStart).trim.split("\\s+")
          .drop(1).filterNot(t => Set("key", "index").contains(t.toLowerCase))
        val idxName = nameTok.lastOption.map(ident)
          .getOrElse(s"uniq_${uniques.size + 1}")
        if (low.startsWith("unique")) uniques :+= (idxName -> parseColList(inner))
        // plain KEY/INDEX defs are accepted and ignored (no physical index)
      } else if (low.startsWith("constraint")) {
        val inner = item.substring(parenStart + 1, item.lastIndexOf(')'))
        val head = item.substring(0, parenStart).toLowerCase
        if (head.contains("primary key")) pk = parseColList(inner)
        else if (head.contains("unique")) {
          val idxName = ident(item.split("\\s+")(1))
          uniques :+= (idxName -> parseColList(inner))
        }
      } else {
        val toks = item.trim.split("\\s+", 3)
        if (toks.length < 2) throw Errors.generic(s"bad column def: $item")
        val cname = ident(toks(0))
        val ctype = Meta.parseSqlType(toks(1))
        val rest = if (toks.length > 2) toks(2).toLowerCase else ""
        // nullable iff declared NULL (meta_def.rs:388-391); default NOT NULL
        val nullable = rest.trim == "null" || rest.contains("default null")
        cols :+= ColumnDef(cname, ctype, nullable, storeId, cols.size + 1)
        storeId += 1
      }
    }
    if (cols.isEmpty) throw Errors.generic("table must have at least one column")
    val colNames = cols.map(_.name).toSet
    (pk ++ uniques.flatMap(_._2)).foreach { c =>
      if (!colNames.contains(c)) throw Errors.unknownColumn(c, "key definition")
    }
    if (managedFmt == "kv") {
      // Managed KV table — the reference's KV-as-primary-store shape
      // (`/root/reference/src/store/engine/sled.rs:36-44`) as a
      // first-class engine format: rows live in numbered write-once
      // [[graft.sources.KvSegment]] files, reads go through the DSv2
      // range-pushdown connector, and mutations are LSM appends
      // (newest-wins shadowing), not parquet COW. The connector's row
      // shape is fixed, so the declared schema must be exactly
      // (k INT, v CHAR); the key IS the row identity (no rowid) and
      // is implicitly PRIMARY.
      val shapeOk = cols.map(c => (c.name, c.sqlType)) == Seq("k" -> "int", "v" -> "char")
      if (!shapeOk) throw Errors.generic(
        "kv tables have a fixed schema: CREATE TABLE t (k INT, v CHAR) USING KV")
      if (pk.nonEmpty && pk != Seq("k")) throw Errors.generic(
        "kv tables: the key column 'k' is the primary key; no other key is supported")
      if (uniques.nonEmpty) throw Errors.generic(
        "kv tables: no secondary UNIQUE constraints (the key is the only index)")
      val td = TableDef(schema, name, cols, Seq("k"), Nil, storeId, 0L,
        None, "kv")
      tables += (schema, name) -> td
      registerTable(td)
      persistInfoSchema(tableShapeInfo)
      return AffectedRows(1)
    }
    val td = TableDef(schema, name, cols, pk, uniques, storeId, 0L)
    tables += (schema, name) -> td
    registerTable(td)
    persistInfoSchema(tableShapeInfo)
    AffectedRows(1)
  }

  /** `CREATE TABLE [IF NOT EXISTS] t AS <select>` — schema inferred
    * from the query (analysis only, no extra execution), mapped onto
    * the engine's declared-type surface (integral/boolean → INT,
    * fractional/decimal → FLOAT, everything else → CHAR via its
    * canonical string form), then bulk-loaded through the same
    * INSERT…SELECT path as any other write (rowids, constraint
    * machinery, version commit). The reference's vendored parser
    * prints this syntax (`statement.rs:35-37`) but its executor
    * never materializes the query — supporting it is the same
    * documented deviation as INSERT…SELECT (SURVEY §7.4): execute,
    * don't silently no-op. CTAS columns are nullable with no keys
    * (MySQL semantics: constraints come from a later ALTER, not the
    * SELECT). */
  private def doCreateTableAs(
      m: scala.util.matching.Regex.Match): GraftResult = {
    import org.apache.spark.sql.types._
    val ifNotExists = m.group(1) != null
    val (schema, name) = resolveName(m.group(2))
    if (!schemas.contains(schema)) throw Errors.unknownDb(schema)
    if (tables.contains((schema, name)) ||
        views.contains((schema, name))) {
      if (ifNotExists) return AffectedRows(0)
      throw Errors.tableExists(name)
    }
    val query = m.group(3).trim
    val df = doSelect(query)
    val lowered = df.schema.fieldNames.map(ident)
    if (lowered.distinct.length != lowered.length)
      throw GraftException(1060,
        s"Duplicate column name in CTAS select list: ${lowered.mkString(", ")}")
    // unaliased computed columns arrive as generated names like
    // `count(1)` — parquet forbids several of those characters, so
    // fail HERE with the MySQL bad-column-name code and a fix hint
    // instead of letting the bulk load throw a storage error after
    // the table is already registered
    lowered.filterNot(_.matches("[a-z_][a-z0-9_]*")).headOption.foreach {
      bad =>
        throw GraftException(1166,
          s"Incorrect column name '$bad' — alias computed columns " +
            "in the CTAS select list (… AS name)")
    }
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val t = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
          BooleanType => "int"
        case FloatType | DoubleType | _: DecimalType => "float"
        case _ => "char"
      }
      ColumnDef(ident(f.name), t, nullable = true, i + 1, i + 1)
    }.toVector
    val td = TableDef(schema, name, cols, Nil, Nil, cols.size + 1, 0L)
    tables += (schema, name) -> td
    registerTable(td)
    persistInfoSchema(tableShapeInfo)
    doInsert(s"insert into `$schema`.`$name` $query")
  }

  /** CREATE EXTERNAL TABLE name [USING PARQUET|CSV|JSON] LOCATION
    * 'path': wrap pre-existing files (schema inferred once) as a
    * read-only catalog table — the migration path for data that was
    * never written by this engine. */
  private def doCreateExternalTable(stmt: String): GraftResult = {
    val m = ("(?is)^create\\s+external\\s+table\\s+(if\\s+not\\s+exists\\s+)?(\\S+)\\s+" +
      "(?:using\\s+(parquet|csv|json|orc|kv)\\s+)?location\\s+'([^']+)'\\s*$").r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val ifNotExists = m.group(1) != null
    val (schema, name) = resolveName(m.group(2))
    val fmt = Option(m.group(3)).map(_.toLowerCase).getOrElse("parquet")
    val path = m.group(4)
    if (!schemas.contains(schema)) throw Errors.unknownDb(schema)
    if (tables.contains((schema, name)) ||
        views.contains((schema, name))) {
      if (ifNotExists) return AffectedRows(0)
      throw Errors.tableExists(name)
    }
    // External data's timestamp spelling is not ours: parquet
    // µs-no-UTC-flag infers as TIMESTAMP_NTZ on Spark 4, which breaks
    // timezone-aware calls downstream. Catalog it as plain TIMESTAMP —
    // value-preserving under the engine's UTC session TZ, and the scan
    // honors the catalog schema, so pushdown is unaffected.
    val inferred = fmt match {
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").format("csv").load(path).schema
      case "kv" => spark.read.format(classOf[graft.sources.KvSource].getName)
        .option("dir", path).load().schema
      case other => spark.read.format(other).load(path).schema
    }
    val cols = inferred.fields.zipWithIndex.map { case (f, i) =>
      val dt = f.dataType match {
        case org.apache.spark.sql.types.TimestampNTZType =>
          org.apache.spark.sql.types.TimestampType
        case other => other
      }
      ColumnDef(f.name.toLowerCase, dt.sql.toLowerCase,
        f.nullable, i + 1, i + 1)
    }.toSeq
    val td = TableDef(schema, name, cols, Seq.empty, Nil,
      cols.size + 1, 0L, Some(path), fmt)
    tables += (schema, name) -> td
    registerTable(td)
    persistInfoSchema(tableShapeInfo)
    AffectedRows(1)
  }

  private def requireWritable(td: TableDef): Unit =
    if (td.external)
      throw Errors.generic(
        s"Table '${td.qualified}' is an external table and is read-only")

  private def requireNotKv(td: TableDef, what: String): Unit =
    if (td.format == "kv")
      throw Errors.generic(s"$what: kv table '${td.qualified}' has a " +
        "fixed (k INT, v CHAR) schema")

  private def dropTableImpl(td: TableDef): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${td.schema}`.`${td.name}`")
    // external: unregister only, never touch the user's data files
    if (!td.external)
      deleteRecursively(new File(s"$dataRoot/${td.schema}/${td.name}"))
    tables -= ((td.schema, td.name))
  }

  private def doDropTable(stmt: String): GraftResult = {
    val m = "(?is)^drop\\s+table\\s+(if\\s+exists\\s+)?(.+)$"
      .r.findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val ifExists = m.group(1) != null
    val (s, t) = resolveName(m.group(2))
    tables.get((s, t)) match {
      case Some(td) =>
        dropTableImpl(td); persistInfoSchema(tableShapeInfo); AffectedRows(1)
      case None =>
        if (ifExists) AffectedRows(0) else throw Errors.unknownTable(t)
    }
  }

  private def doAlterTable(stmt: String): GraftResult = {
    val add = "(?is)^alter\\s+table\\s+(\\S+)\\s+add\\s+(?:column\\s+)?(\\w+)\\s+(\\w+(?:\\(\\d+\\))?)\\s*(.*)$"
      .r.findFirstMatchIn(stmt)
    val drop = "(?is)^alter\\s+table\\s+(\\S+)\\s+drop\\s+(?:column\\s+)?(\\w+)\\s*$"
      .r.findFirstMatchIn(stmt)
    // the ALTER spelling of RENAME TABLE (same semantics, one table)
    val ren = "(?is)^alter\\s+table\\s+(\\S+)\\s+rename\\s+(?:(?:to|as)\\s+)?(\\S+)\\s*$"
      .r.findFirstMatchIn(stmt)
    ren.foreach { m =>
      renameImpl(lookup(m.group(1)), resolveName(m.group(2)))
      persistInfoSchema(tableShapeInfo)
      return AffectedRows(0)
    }
    (add, drop) match {
      case (Some(m), _) =>
        val td = lookup(m.group(1))
        requireNotKv(td, "ALTER TABLE")
        val cname = ident(m.group(2))
        if (td.columns.exists(_.name == cname))
          throw GraftException(1060, s"Duplicate column name '$cname'")
        val ctype = Meta.parseSqlType(m.group(3))
        val nullable = m.group(4).trim.toLowerCase == "null" || m.group(4).trim.isEmpty
        // ADD COLUMN is metadata-only: existing rows read the new
        // column as NULL because no cell exists (add_column.rs:34-80 —
        // parquet missing-column semantics are identical).
        val nc = ColumnDef(cname, ctype, nullable, td.nextStoreId,
          td.columns.size + 1)
        val ntd = td.copy(columns = td.columns :+ nc,
          nextStoreId = td.nextStoreId + 1)
        tables += (td.schema, td.name) -> ntd
        registerTable(ntd)
        persistInfoSchema(tableShapeInfo)
        AffectedRows(0)
      case (_, Some(m)) =>
        val td = lookup(m.group(1))
        requireNotKv(td, "ALTER TABLE")
        val cname = ident(m.group(2))
        if (!td.columns.exists(_.name == cname))
          throw Errors.unknownColumn(cname, td.name)
        val remaining = td.columns.filterNot(_.name == cname)
          .zipWithIndex.map { case (c, i) => c.copy(ordinal = i + 1) }
        val ntd = td.copy(columns = remaining,
          primaryKey = td.primaryKey.filterNot(_ == cname),
          uniques = td.uniques.map { case (n, cs) => n -> cs.filterNot(_ == cname) }
            .filter(_._2.nonEmpty))
        tables += (td.schema, td.name) -> ntd
        registerTable(ntd)
        persistInfoSchema(tableShapeInfo)
        AffectedRows(0)
      case _ => throw Errors.generic(s"cannot parse: $stmt")
    }
  }

  // ------------------------------------------------------------------
  // DML
  // ------------------------------------------------------------------

  /** Duplicate-key validation in ONE Spark job per statement: every
    * per-constraint probe (intra-batch duplicates, collisions with
    * existing rows) unions into a single limit(1) collect. The naive
    * per-constraint loop costs 2×constraints jobs per INSERT — OLTP-
    * shaped statements care (reference does per-key point gets,
    * insert.rs:195-218). */
  private def constraintViolation(df: DataFrame, existing: Option[DataFrame],
      td: TableDef): Unit = {
    if (td.allConstraints.isEmpty) return
    val probes = td.allConstraints.flatMap { case (idxName, cs) =>
      val csCols = cs.map(col)
      val key = concat_ws("-", cs.map(c => col(c).cast("string")): _*)
      val dupIn = df.groupBy(csCols: _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1)
        .select(lit(idxName).as("__idx"), key.as("__vals"))
      val clash = existing.map(ex =>
        df.select(csCols: _*)
          .join(ex.select(csCols: _*), cs, "left_semi")
          .select(lit(idxName).as("__idx"), key.as("__vals")))
      Seq(dupIn) ++ clash
    }
    val hit = probes.reduce(_ unionAll _).limit(1).collect()
    if (hit.nonEmpty)
      throw Errors.duplicateEntry(hit(0).getString(1), hit(0).getString(0))
  }

  private def doInsert(stmt: String): GraftResult = {
    val m = ("(?is)^(insert|replace)\\s+(ignore\\s+)?(overwrite\\s+)?" +
      "into\\s+([^(\\s]+)\\s*(\\(([^)]*)\\)\\s*)?(.*)$").r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    // REPLACE INTO: MySQL's delete-then-insert upsert — rows
    // conflicting with the new batch on ANY unique key are dropped,
    // then every new row appends; affected = inserted + deleted.
    val replaceMode = m.group(1).equalsIgnoreCase("replace")
    // INSERT IGNORE: rows conflicting with EXISTING data skip
    // silently (affected = what landed). In-batch self-conflicts
    // stay 1062 — the documented batch-semantics deviation shared
    // with REPLACE/ODKU (MySQL resolves them by row order).
    val ignoreMode = m.group(2) != null
    val overwrite = m.group(3) != null
    if (replaceMode && (overwrite || ignoreMode))
      throw Errors.generic("REPLACE does not take IGNORE or OVERWRITE")
    if (ignoreMode && overwrite)
      throw Errors.generic("INSERT takes IGNORE or OVERWRITE, not both")
    val td = lookup(m.group(4))
    requireWritable(td)
    val targetCols =
      Option(m.group(6)).map(g => splitTopLevel(g, ',').map(ident))
        .getOrElse(td.columns.map(_.name))
    var rest = m.group(7).trim
    // INSERT … ON DUPLICATE KEY UPDATE <assignments>: split the
    // clause off the source text (quote-aware — a literal containing
    // the phrase never matches)
    val odku: Option[String] = {
      val re = "(?is)\\s+on\\s+duplicate\\s+key\\s+update\\s+".r
      re.findAllMatchIn(rest).toSeq
        .filterNot(mm => inQuotes(rest, mm.start)).lastOption.map { mm =>
          val clause = rest.substring(mm.end).trim
          rest = rest.substring(0, mm.start).trim
          clause
        }
    }
    if (odku.isDefined && (replaceMode || ignoreMode))
      throw Errors.generic(
        "ON DUPLICATE KEY UPDATE does not combine with REPLACE/IGNORE")
    val restLower = rest.toLowerCase
    val unknown = targetCols.filterNot(c => td.columns.exists(_.name == c))
    if (unknown.nonEmpty) throw Errors.unknownColumn(unknown.head, td.name)

    // (source rows named as targetCols, affected count if known
    // without a job)
    val (sourceDf, knownCount) =
      if (restLower.startsWith("values")) {
        val rowsText = rest.substring("values".length).trim
        val rows = splitTopLevel(rowsText, ',').map { r =>
          val t = r.trim
          if (!t.startsWith("(") || !t.endsWith(")"))
            throw Errors.generic(s"bad VALUES row: $t")
          t
        }
        rows.foreach { r =>
          val n = splitTopLevel(r.substring(1, r.length - 1), ',').size
          if (n != targetCols.size)
            throw GraftException(1136,
              s"Column count doesn't match value count (expected ${targetCols.size}, got $n)")
        }
        // constant-expression evaluation via Spark SQL, the way the
        // reference folds VALUES cells through DataFusion physical
        // exprs (insert.rs:117-166)
        (doSelect(s"SELECT * FROM VALUES ${rows.mkString(", ")} " +
          s"AS __ins(${targetCols.mkString(", ")})"), Some(rows.size.toLong))
      } else if (restLower.startsWith("select") ||
        restLower.startsWith("with") || restLower.startsWith("(")) {
        // INSERT…SELECT: the reference silently inserts NOTHING here
        // (insert.rs:76-100) — a trap, not a feature. Executing the
        // query and appending is the Spark-natural upgrade (SURVEY
        // §7.4 deviation, now supported rather than erroring).
        // Columns map by position, MySQL-style.
        val src = doSelect(rest)
        if (src.columns.length != targetCols.size)
          throw GraftException(1136,
            s"Column count doesn't match value count (expected ${targetCols.size}, got ${src.columns.length})")
        (src.toDF(targetCols: _*), None)
      } else throw Errors.generic(
        "only INSERT ... VALUES or INSERT ... SELECT is supported")

    if (td.format == "kv") {
      // REPLACE on the LSM store IS the upsert append (newest wins);
      // ODKU's read-modify-write has the UPDATE statement for that
      if (odku.isDefined) requireNotKv(td, "ON DUPLICATE KEY UPDATE")
      if (ignoreMode) requireNotKv(td, "INSERT IGNORE")
      return kvInsert(td, sourceDf, targetCols, knownCount,
        overwrite || replaceMode)
    }

    val newRowsPlan = sourceDf.select(
      expr("replace(uuid(), '-', '')").as(RowId) +:
        td.columns.map { c =>
          if (targetCols.contains(c.name)) col(c.name).cast(c.sparkType).as(c.name)
          else lit(null).cast(c.sparkType).as(c.name)
        }: _*)
    // SELECT sources: persist so constraint probes, the count, and the
    // write evaluate the source once — and uuid() stays consistent
    val newRows =
      if (knownCount.isEmpty)
        newRowsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else newRowsPlan
    try {
      val existing = if (tableHasData(td)) Some(readFull(td)) else None
      if (replaceMode || odku.isDefined)
        return doUpsert(td, newRows, existing, knownCount, replaceMode,
          odku)
      if (ignoreMode)
        return doInsertIgnore(td, newRows, existing, knownCount)
      // duplicate-key rejection (error 1062) unless INSERT OVERWRITE
      // (insert.rs:195-218)
      constraintViolation(newRows, if (overwrite) None else existing, td)

      val n = knownCount.getOrElse(newRows.count())
      if (overwrite && existing.isDefined && td.allConstraints.nonEmpty) {
        // upsert shape: drop conflicting pre-existing rows, then append all
        var kept = existing.get
        td.allConstraints.foreach { case (_, cs) =>
          kept = kept.join(newRows.select(cs.map(col): _*), cs, "left_anti")
        }
        writeVersion(td, kept.unionByName(newRows))
      } else if (retainVersions > 2 ||
          Option(active).flatMap(_.txn).isDefined) {
        // version commit also whenever a transaction is open: the
        // in-place append below would bypass writeVersion's undo log
        // and make an insert-only transaction silently unrollbackable.
        // Cost matches time-travel mode: existing files are carried
        // as hard links, never rewritten.
        // time-travel mode: every INSERT is a version commit so each
        // statement is a readable snapshot. Existing files are
        // CARRIED (hard links) — the commit costs O(existing files)
        // metadata plus the new rows, never a data rewrite; the same
        // append-commit economics as a lakehouse snapshot log.
        val cur = new File(tableDir(td))
        val carry = Option(cur.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
        writeVersion(td, newRows, carry)
      } else {
        // default (retention = grace floor): in-place append — no
        // snapshot per INSERT, no per-statement version churn
        newRows.write.mode("append").parquet(tableDir(td))
        spark.catalog.refreshTable(s"${td.schema}.${td.name}")
      }
      AffectedRows(n)
    } finally {
      if (knownCount.isEmpty) newRows.unpersist()
    }
  }

  private def tableHasData(td: TableDef): Boolean =
    if (td.format == "kv")
      graft.sources.KvSegment.listSegments(tableDir(td)).nonEmpty
    else {
      val d = new File(tableDir(td))
      d.exists() && d.listFiles().exists(_.getName.endsWith(".parquet"))
    }

  /** INSERT IGNORE: new rows conflicting with EXISTING data on any
    * unique key skip silently; the rest land through the same
    * append paths plain INSERT uses (in-place append at the grace
    * floor, carry-linked version commit in time-travel mode or
    * inside a transaction). In-batch self-conflicts stay 1062 —
    * batch semantics, as [[doUpsert]]. */
  private def doInsertIgnore(td: TableDef, newRows: DataFrame,
      existing: Option[DataFrame],
      knownCount: Option[Long]): GraftResult = {
    constraintViolation(newRows, None, td)
    val fresh = existing match {
      case None => newRows
      case Some(ex) =>
        var f = newRows
        td.allConstraints.foreach { case (_, cs) =>
          f = f.join(ex.select(cs.map(col): _*), cs, "left_anti")
        }
        f
    }
    val n =
      if (existing.isEmpty) knownCount.getOrElse(fresh.count())
      else fresh.count()
    if (n == 0) return AffectedRows(0)
    if (retainVersions > 2 || Option(active).flatMap(_.txn).isDefined) {
      val cur = new File(tableDir(td))
      val carry = Option(cur.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      writeVersion(td, fresh, carry)
    } else {
      fresh.write.mode("append").parquet(tableDir(td))
      spark.catalog.refreshTable(s"${td.schema}.${td.name}")
    }
    AffectedRows(n)
  }

  /** REPLACE INTO / INSERT … ON DUPLICATE KEY UPDATE over the COW
    * store. Batch semantics: a batch that conflicts with ITSELF is
    * rejected (1062) — MySQL replays rows sequentially, so a
    * self-conflicting batch is order-defined there; rejecting keeps
    * the set-oriented engine deterministic. REPLACE drops existing
    * rows conflicting on ANY unique key then appends the whole batch
    * (affected = inserted + deleted, MySQL's arithmetic); ODKU
    * resolves conflicts against ANY unique index in MySQL's index
    * order — PRIMARY first, then UNIQUE keys as declared — so the
    * upsert-by-unique-key idiom updates the matched row instead of
    * erroring. Matched rows get the assignments (with `VALUES(col)`
    * meaning the incoming row's value, and bare column names the OLD
    * row's — MySQL's rules), unmatched rows insert (affected =
    * inserts + 2·CHANGED updates; a matched row whose post-image
    * equals its pre-image counts 0, as MySQL). The final image is
    * then re-validated against every non-PK UNIQUE key (1062 on
    * collision): an assignment creating a UNIQUE collision, or the
    * order-defined case of two incoming rows reaching one existing
    * row through different indexes, must not persist silently.
    * Both are single COW version commits — one statement, one
    * snapshot, however many rows conflict. */
  private def doUpsert(td: TableDef, newRows: DataFrame,
      existing: Option[DataFrame], knownCount: Option[Long],
      replaceMode: Boolean, odku: Option[String]): GraftResult = {
    constraintViolation(newRows, None, td)
    val n = knownCount.getOrElse(newRows.count())
    existing match {
      case None =>
        writeVersion(td, newRows)
        AffectedRows(n)
      case Some(ex) if replaceMode =>
        var kept = ex
        td.allConstraints.foreach { case (_, cs) =>
          kept = kept.join(newRows.select(cs.map(col): _*), cs, "left_anti")
        }
        val deleted = ex.count() - kept.count()
        writeVersion(td, kept.unionByName(newRows))
        AffectedRows(n + deleted)
      case Some(ex) =>
        val keys = td.allConstraints.map(_._2)
        if (keys.isEmpty) throw Errors.generic(
          "ON DUPLICATE KEY UPDATE requires a PRIMARY KEY or UNIQUE key")
        // each right-hand side parses as a Spark expression, VALUES(col)
        // becomes the incoming row's column (aliased __new_*) on the
        // tree, and its subqueries resolve as an UPDATE's do
        val parsed = splitTopLevel(odku.get, ',').map { a =>
          val i = a.indexOf('=')
          if (i < 0) throw Errors.generic(s"bad assignment: $a")
          Assignment(UnresolvedAttribute(Seq(ident(a.substring(0, i)))),
            spark.sessionState.sqlParser.parseExpression(rewrite(a.substring(i + 1)))
              .transform {
                case f: UnresolvedFunction if f.nameParts.size == 1 &&
                    f.nameParts.head.equalsIgnoreCase("values") =>
                  f.arguments match {
                    case Seq(UnresolvedAttribute(c)) =>
                      UnresolvedAttribute(Seq("__new_" + c.last.toLowerCase))
                    case _ => throw Errors.generic(
                      s"VALUES() takes one column name: ${a.trim}")
                  }
              })
        }
        val assignments = resolveNames(UpdateTable(OneRowRelation(), parsed, None),
            currentSchema, Set.empty, new QueryPlanningTracker) match {
          case u: UpdateTable => assignedColumns(u.assignments, td)
        }
        if (assignments.keys.exists(td.primaryKey.contains))
          throw Errors.generic(
            "ON DUPLICATE KEY UPDATE cannot change the PRIMARY KEY")
        def applyAssignments(joined: DataFrame): DataFrame =
          joined.select(
            col(RowId) +: td.columns.map { c =>
              assignments.get(c.name).fold(col(c.name))(_.cast(c.sparkType).as(c.name))
            }: _*)
        // MySQL's affected arithmetic counts 2 only for rows the
        // assignments CHANGED — a matched row whose post-image is
        // identical counts 0 (null-safe compare, so NULL→NULL is
        // "unchanged").
        val changedCond = assignments.map { case (c, rhs) =>
          val cd = td.columns.find(_.name == c).get
          not(rhs.cast(cd.sparkType) <=> col(c))
        }.reduce(_ || _)
        // resolve conflicts against EVERY unique index in MySQL's
        // index order — PRIMARY first, then UNIQUE keys as declared:
        // each constraint matches the still-unconsumed incoming rows
        // against the still-unmatched existing image; a matched
        // incoming row is consumed (it updates, never inserts) and
        // the matched existing row leaves the pool (one update per
        // existing row per statement — a second incoming row that
        // would reach the same existing row through a LATER index
        // inserts instead and trips the final-image 1062 below,
        // keeping the set-oriented engine deterministic where MySQL's
        // row-replay order would decide).
        val newSide = newRows.select(col(RowId).as("__new_rowid") +:
          td.columns.map(c => col(c.name).as(s"__new_${c.name}")): _*)
        var pool = ex            // existing rows not yet matched
        var remaining = newSide  // incoming rows not yet consumed
        var matched = 0L
        var changed = 0L
        var updatedParts = List.empty[DataFrame]
        keys.foreach { keyCols =>
          val joined = pool.join(remaining,
            keyCols.map(c => col(c) === col(s"__new_$c")).reduce(_ && _))
          val mc = joined.agg(count(lit(1)).as("__m"),
            coalesce(sum(when(changedCond, 1L).otherwise(0L)), lit(0L))
              .as("__c")).collect()(0)
          if (mc.getLong(0) > 0) {
            matched += mc.getLong(0)
            changed += mc.getLong(1)
            updatedParts ::= applyAssignments(joined)
            // matched keys never contain NULL (they equi-joined), so
            // the value-keyed anti joins remove exactly those rows
            pool = pool.join(joined.select(keyCols.map(col): _*),
              keyCols, "left_anti")
            remaining = remaining.join(
              joined.select(keyCols.map(c => col(s"__new_$c")): _*),
              keyCols.map(c => s"__new_$c"), "left_anti")
          }
        }
        val fresh = newRows.join(
          remaining.select(col("__new_rowid").as(RowId)), Seq(RowId),
          "left_semi")
        val image = updatedParts.foldLeft(pool)(_ unionByName _)
          .unionByName(fresh)
        // assignments can still SET a unique column to a colliding
        // value (and the order-defined multi-index case above lands
        // here too) — re-validate the final image against every
        // declared unique key rather than persist a silent duplicate.
        // Skipped when the PK is the only constraint: assignments
        // cannot change the PK, and PK matching consumed every PK
        // collision.
        if (td.uniques.nonEmpty) constraintViolation(image, None, td)
        writeVersion(td, image)
        AffectedRows((n - matched) + 2 * changed)
    }
  }

  /** UPDATE, DELETE and MERGE, parsed once by Spark's parser into
    * `UpdateTable`, `DeleteFromTable` or `MergeIntoTable`. The target
    * must name a writable base table; its alias, or else the table's
    * own name, qualifies the target's columns. Everything else in the
    * statement (conditions, assignments, a MERGE source) goes through
    * [[resolveNames]], so engine views, `VERSION AS OF`, `rowid` and
    * the session schema resolve as in a SELECT; each expression then
    * binds to the target frame as a `Column`. */
  private def doWrite(stmt: String): GraftResult = {
    val tracker = new QueryPlanningTracker
    def unparsed = Errors.generic(s"cannot parse: ${stmt.take(60)}")
    val (target, rest) = parseStatement(stmt, currentSchema, tracker) match {
      case u: UpdateTable => (u.table, u.copy(table = OneRowRelation()))
      case d: DeleteFromTable => (d.table, d.copy(table = OneRowRelation()))
      case m: MergeIntoTable => (m.targetTable, m.copy(targetTable = OneRowRelation()))
      case _ => throw unparsed
    }
    val (rel, alias) = target match {
      case SubqueryAlias(a, r: UnresolvedRelation) => (r, Some(a.name))
      case r: UnresolvedRelation => (r, None)
      case _ => throw unparsed
    }
    val td = baseTable(qualify(rel.multipartIdentifier.map(_.toLowerCase), currentSchema))
    requireWritable(td)
    val tA = alias.getOrElse(td.name)
    resolveNames(rest, currentSchema, Set.empty, tracker) match {
      case u: UpdateTable => doUpdate(td, tA, assignedColumns(u.assignments, td),
        u.condition.map(graftshim.column).getOrElse(lit(true)))
      case d: DeleteFromTable => doDelete(td, tA, graftshim.column(d.condition))
      case m: MergeIntoTable => doMerge(td, tA, m)
    }
  }

  /** A SET list as target column → value, each column checked
    * against `td` (1054). */
  private def assignedColumns(assignments: Seq[Assignment],
      td: TableDef): Map[String, Column] =
    assignments.map { a =>
      val c = a.key match {
        case UnresolvedAttribute(parts) => parts.last.toLowerCase
        case k => throw Errors.generic(s"bad assignment target: $k")
      }
      if (!td.columns.exists(_.name == c)) throw Errors.unknownColumn(c, td.name)
      c -> graftshim.column(a.value)
    }.toMap

  private def doUpdate(td: TableDef, alias: String,
      assigns: Map[String, Column], cond: Column): GraftResult = {
    if (td.format == "kv") return kvUpdate(td, alias, assigns, cond)
    // query-then-mutate: assignments see the consistent pre-image
    // (update.rs:55-108; SURVEY §3.2)
    val n = mutateVersion(td, alias, cond, sub => {
      val updated = sub.where(cond).select(col(RowId) +: td.columns.map { c =>
        assigns.get(c.name).fold(col(c.name))(_.cast(c.sparkType).as(c.name))
      }: _*)
      sub.where(not(coalesce(cond, lit(false)))).unionByName(updated)
    })
    AffectedRows(n)
  }

  /** File size target for OPTIMIZE rewrites (~128 MB, the usual
    * scan-efficiency sweet spot). Var (test seam): specs shrink it so
    * a small table rewrites into several files and the z-order
    * clustering property is observable at test size. */
  private[graft] var optimizeTargetBytes: Long = 128L * 1024 * 1024

  /** `OPTIMIZE [TABLE] t [ZORDER BY (c1, c2[, c3])]` — rewrite the
    * current image as a fresh version commit (same `_SUCCESS`
    * discipline, retained history untouched and still readable).
    *
    * Plain form: compact into ~[[optimizeTargetBytes]]-target files —
    * needed once per-statement INSERT commits (time-travel mode)
    * accumulate small files; a 100-TB scan pays per-file open/footer
    * costs, so file count is a first-class scale concern. The rewrite
    * is a `coalesce` — narrow, no shuffle. Returns files removed;
    * 0 = already compact.
    *
    * ZORDER form: range-partition and sort the image by the Morton
    * z-value of 2–3 INT columns ([[graft.functions.ZOrder]]) so each
    * output file covers a small hyper-rectangle of the key space —
    * min/max footer stats then prune files for predicates on ANY
    * z-order column, where single-key layouts only serve one. One
    * shuffle (range exchange on z), stats from one driver-side
    * min/max row. Always rewrites (re-clustering is the point);
    * returns the files written. Rejected on kv tables — the segment
    * store is already key-ordered. */
  /** `ANALYZE TABLE <name>` — per-column data profile of the table's
    * CURRENT visible contents (null/distinct counts, typed bounds)
    * via [[graft.operators.Profile.tableProfile]]. Beyond-parity
    * extension surface (the reference has no data-statistics
    * statement; its SHOW TABLE STATUS is metadata-only): the engine
    * twin of Spark's ANALYZE TABLE, returned as a result set instead
    * of written to a stats store. Routes through [[doSelect]] so
    * rowid hiding, external formats, and KV newest-wins merge all
    * apply before profiling. */
  private def doAnalyze(stmt: String): GraftResult = {
    val m = "(?is)^analyze\\s+table\\s+(.+?)\\s*$".r.findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(
        s"cannot parse: ${stmt.take(60)} (expected ANALYZE TABLE <name>)"))
    val t = m.group(1).trim
    lookup(t) // 1146 before any scan if the table doesn't exist
    ResultSet(graft.operators.Profile.tableProfile(doSelect(s"SELECT * FROM $t")))
  }

  private def doOptimize(stmt: String): GraftResult = {
    val m = ("(?is)^optimize\\s+(?:table\\s+)?(\\S+?)" +
      "(?:\\s+zorder\\s+by\\s*\\(([^)]*)\\))?\\s*$").r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val td = lookup(m.group(1))
    requireWritable(td)
    val zcols = Option(m.group(2))
      .map(g => splitTopLevel(g, ',').map(ident)).getOrElse(Seq.empty)
    if (zcols.nonEmpty) return doZOrder(td, zcols)
    if (td.format == "kv") {
      // KV OPTIMIZE = segment compaction: fold the multi-segment LSM
      // table back to one newest-wins-merged segment
      // ([[graft.sources.KvSegment.compact]] — a maintenance-window
      // operation, same read-contract caveats as parquet file
      // rewrites). Returns segments removed; 0 = already compact.
      val segs = graft.sources.KvSegment.listSegments(tableDir(td))
      if (segs.size <= 1) return AffectedRows(0)
      graft.sources.KvSegment.compact(tableDir(td))
      spark.catalog.refreshTable(s"${td.schema}.${td.name}")
      return AffectedRows(segs.size - 1)
    }
    def parquetCount(d: File): Int =
      Option(d.listFiles()).getOrElse(Array.empty[File])
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val dir = new File(tableDir(td))
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val nOut = math.max(1,
      math.ceil(parts.map(_.length).sum.toDouble / optimizeTargetBytes).toInt)
    if (parts.length <= nOut) return AffectedRows(0)
    writeVersion(td, readFull(td).coalesce(nOut))
    val ntd = tables((td.schema, td.name))
    AffectedRows(parts.length - parquetCount(new File(tableDir(ntd))))
  }

  private def doZOrder(td: TableDef, zcols: Seq[String]): GraftResult = {
    requireNotKv(td, "OPTIMIZE ZORDER")
    if (zcols.size < 2 || zcols.size > 3)
      throw Errors.generic("ZORDER BY takes 2 or 3 columns")
    zcols.foreach { c =>
      val cd = td.columns.find(_.name == c)
        .getOrElse(throw Errors.unknownColumn(c, td.name))
      if (cd.sqlType != "int")
        throw Errors.generic(s"ZORDER BY column '$c' must be INT")
    }
    val full = readFull(td)
    // one stats row: (min, max) per z column, for bucket normalization
    val aggExprs = zcols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val statsRow = full.agg(aggExprs.head, aggExprs.tail: _*).head()
    val stats = zcols.indices.map { i =>
      (Option(statsRow.get(2 * i)).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(statsRow.get(2 * i + 1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    val bytes = Option(new File(tableDir(td)).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / optimizeTargetBytes).toInt)
    val z = graft.functions.ZOrder.zvalue(zcols.map(col), stats)
    writeVersion(td, full.withColumn("__z", z)
      .repartitionByRange(nOut, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z"))
    val ntd = tables((td.schema, td.name))
    def parquetCount2(d: File): Int =
      Option(d.listFiles()).getOrElse(Array.empty[File])
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    AffectedRows(parquetCount2(new File(tableDir(ntd))))
  }

  /** `VACUUM [TABLE] <name> [RETAIN <n> VERSIONS]` — one-shot GC of
    * this table's committed version history: every snapshot directory
    * older than the newest `n` (default: the grace floor of 2) is
    * deleted; time-travel reads of a vacuumed version then fail with
    * the standard retention error. The lakehouse maintenance
    * statement that pairs with OPTIMIZE: retention-as-policy is
    * [[setVersionRetention]] (applied at every commit), VACUUM is
    * retention-as-action (reclaim now, policy unchanged). `n >= 2`
    * is enforced — the floor exists because a concurrent reader's
    * planned files must survive the commit that races it
    * ([[writeVersion]]'s grace discipline); vacuuming the previous
    * version out from under an in-flight reader would break the
    * documented read contract. Runs under the write lock, so no
    * statement is mid-analysis while directories disappear. Returns
    * the number of version directories removed. */
  private def doVacuum(stmt: String): GraftResult = {
    val m = ("(?is)^vacuum\\s+(?:table\\s+)?(\\S+?)" +
      "(?:\\s+retain\\s+(\\d+)\\s+versions?)?\\s*$").r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(
        s"cannot parse: ${stmt.take(60)} (expected VACUUM <table> [RETAIN <n> VERSIONS])"))
    val td = lookup(m.group(1))
    requireWritable(td) // external tables have no managed history
    val n = Option(m.group(2)).map(_.toLong).getOrElse(2L)
    if (n < 2) throw Errors.generic(
      "VACUUM must retain at least 2 versions (in-flight reader grace)")
    val base = new File(tableDir(td)).getParentFile
    val stale = Option(base.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .filter(_.getName.drop(1).toLong <= td.version - n)
    stale.foreach(deleteRecursively)
    AffectedRows(stale.length.toLong)
  }

  /** `CREATE [OR REPLACE] VIEW <name> AS <select>` — a stored,
    * persisted SELECT (info-schema `views`; listed as TABLE_TYPE
    * 'VIEW' in `tables` and SHOW FULL TABLES). The body is validated
    * NOW by full analysis through [[doSelect]] (unknown tables / bad
    * SQL fail the DDL, not the later read), then stored as text and
    * re-expanded per statement — so a view always reflects the
    * CURRENT state of its base tables, including schema changes that
    * re-analyze cleanly. Name conflicts with tables or views → 1050;
    * OR REPLACE swaps the definition atomically under the write
    * lock. Beyond the reference surface (it ships only the
    * Create_view_priv flag in SHOW GRANTS, no view execution —
    * `show_grants.rs:1283`); semantics follow MySQL except
    * definer-schema name resolution (see [[enginePlan]]). */
  private def doCreateView(stmt: String): GraftResult = {
    val m = "(?is)^create\\s+(or\\s+replace\\s+)?view\\s+(\\S+)\\s+as\\s+(.+)$".r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(
        s"cannot parse: ${stmt.take(60)} (expected CREATE [OR REPLACE] VIEW <name> AS <select>)"))
    val orReplace = m.group(1) != null
    val (vs, vn) = resolveName(m.group(2))
    if (!schemas.contains(vs)) throw Errors.unknownDb(vs)
    if (tables.contains((vs, vn))) throw Errors.tableExists(vn)
    if (views.contains((vs, vn)) && !orReplace) throw Errors.tableExists(vn)
    val body = m.group(3).trim
    // validate: full analysis, result discarded, with the body's names
    // resolved in the view's schema as every read resolves them. The
    // view itself is not yet being expanded: a replace that closes a
    // cycle through the old definition succeeds and its reads fail,
    // as in MySQL.
    graftshim.ofRows(spark)(enginePlan(body, Some(vs), Set.empty, _))
    views += (vs, vn) -> body
    persistInfoSchema(Seq("views", "tables"))
    AffectedRows(0)
  }

  /** `DROP VIEW [IF EXISTS] <name>` — 1051 when absent (and a
    * targeted error when the name is a base table: DROP TABLE is the
    * statement for those). */
  private def doDropView(stmt: String): GraftResult = {
    val m = "(?is)^drop\\s+view\\s+(if\\s+exists\\s+)?(\\S+)\\s*$".r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
    val ifExists = m.group(1) != null
    val (vs, vn) = resolveName(m.group(2))
    if (!views.contains((vs, vn))) {
      if (ifExists) return AffectedRows(0)
      if (tables.contains((vs, vn))) throw Errors.generic(
        s"'$vs.$vn' is a base table — use DROP TABLE")
      throw Errors.unknownTable(vn)
    }
    views -= ((vs, vn))
    persistInfoSchema(Seq("views", "tables"))
    AffectedRows(0)
  }

  /** `RESTORE [TABLE] <name> [TO] VERSION AS OF <n>` — rewind the
    * table's DATA image to a retained snapshot by committing it as a
    * NEW version (never by moving the pointer backwards): history is
    * preserved, the restore itself is time-travelable and CDF-visible
    * (`changes(n, restoredVersion)` shows what the rewind undid,
    * rowids are carried from the snapshot so unchanged rows diff
    * away), and a bad restore is repaired by another RESTORE. Data
    * only, deliberately: DDL is not rewound — the snapshot is aligned
    * to the CURRENT declared schema (column added since `n` → NULL,
    * column dropped since `n` → discarded), because the catalog holds
    * one live definition per table and resurrecting dropped columns
    * would silently undo ALTERs. Restoring to the current version is
    * a no-op (no version committed). A vacuumed / out-of-retention
    * `n` fails with the standard retention error from the snapshot
    * read. Runs under the table write lock like every mutation. */
  private def doRestore(stmt: String): GraftResult = {
    val m = ("(?is)^restore\\s+(?:table\\s+)?(\\S+?)\\s+(?:to\\s+)?" +
      "version\\s+as\\s+of\\s+(\\d+)\\s*$").r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(
        s"cannot parse: ${stmt.take(60)} " +
          "(expected RESTORE <table> [TO] VERSION AS OF <n>)"))
    val td = lookup(m.group(1))
    requireWritable(td)
    requireNotKv(td, "RESTORE")
    val v = m.group(2).toLong
    if (v == td.version) return AffectedRows(0L)
    restoreImpl(td, v)
    val ntd = tables((td.schema, td.name))
    // parquet count(*) is footer-only — no data scan
    AffectedRows(spark.read.schema(ntd.fullSchema)
      .parquet(tableDir(ntd)).count())
  }

  /** Core of RESTORE (shared with ROLLBACK): re-commit the version-`v`
    * data image, aligned to the CURRENT declared schema, as a NEW
    * version. Throws the standard retention error if `v` is gone. */
  private def restoreImpl(td: TableDef, v: Long): Unit = {
    val snap = snapshotRaw(td, v) // throws the retention error if gone
    val have = snap.columns.toSet
    val aligned = snap.select(
      col(RowId) +: td.columns.map { c =>
        if (have(c.name)) col(c.name).cast(c.sparkType).as(c.name)
        else lit(null).cast(c.sparkType).as(c.name)
      }: _*)
    writeVersion(td, aligned)
  }

  /** GC pins from open transactions: (schema, table) → the pre-txn
    * versions some session may still ROLLBACK to (a multiset — two
    * sessions can pin the same version). [[writeVersion]]'s grace GC
    * never deletes a version directory at or above a table's lowest
    * pin, however many COW commits a long transaction stacks on top
    * of it. Mutated only under the write lock: undo recording happens
    * inside mutation statements, and BEGIN/COMMIT/ROLLBACK classify
    * as write statements in [[sqlAs]]. Pins live and die with the
    * process, like the sessions that own them — after a crash,
    * reconcileVersions' plain retention window applies. */
  private val txnPins =
    scala.collection.mutable.Map[(String, String), List[Long]]()

  /** Close `ses`'s transaction, if open, releasing its GC pins.
    * COMMIT is exactly this: every mutation already committed its COW
    * version when it ran — transaction demarcation here buys UNDO
    * (rollback-to-snapshot), not deferred visibility. Isolation is
    * unchanged from autocommit (read-committed-ish: other sessions
    * see each statement as it lands), documented in SURVEY §2.7. */
  private def endTxn(ses: GraftSession,
      flushPending: Boolean = true): Unit = {
    ses.txn.foreach(_.foreach { case (k, v) =>
      txnPins.updateWith(k) {
        case Some(vs) =>
          val rest = vs.diff(List(v))
          if (rest.isEmpty) None else Some(rest)
        case None => None
      }
    })
    ses.txn = None
    // flush catalog writes the transaction's mutations deferred —
    // ONE write however many statements ran (see writeVersion).
    // Reached by COMMIT, implicit-commit DDL, and BEGIN-over-open-txn
    // with flushPending=true. ROLLBACK passes false: its pendingInfo
    // holds pointers at the UNCOMMITTED txn versions, and flushing
    // them here would open a crash window in which the partial
    // transaction is durable — the restores that follow persist the
    // correct restored image themselves (restoreImpl → writeVersion
    // runs with txn=None, so each rewind flushes immediately).
    if (flushPending && ses.pendingInfo.nonEmpty)
      persistInfoSchema(ses.pendingInfo.toSeq)
    ses.pendingInfo = Set.empty
  }

  /** ROLLBACK — rewind every version-store table this transaction
    * mutated to its logged pre-transaction version, via the RESTORE
    * machinery (each rewind is itself a NEW version: history is
    * preserved and the rollback is CDF-visible, like RESTORE).
    * Managed-KV mutations are NOT rewound — LSM segment appends are
    * non-transactional storage here, exactly MySQL's behavior for a
    * non-transactional engine inside a transaction. Rollback with no
    * open transaction is a no-op. */
  private def doRollback(ses: GraftSession): GraftResult = {
    val log = ses.txn.map(_.toSeq).getOrElse(Nil)
    // end FIRST: the restore commits below must not log undo entries
    // into the very transaction they are unwinding. Their source
    // snapshots stay safe without pins — writeVersion reads the old
    // image before its GC step runs, and GC is per-table.
    // flushPending=false: do NOT persist the uncommitted txn versions
    // (see endTxn) — the restores below write the durable image.
    endTxn(ses, flushPending = false)
    log.foreach { case ((s, t), v) =>
      // best-effort across concurrent DDL: a table another session
      // dropped or renamed since our first write has nothing to
      // rewind under this name
      tables.get((s, t)).foreach { td =>
        if (td.version != v) restoreImpl(td, v)
      }
    }
    AffectedRows(0)
  }

  /** `TRUNCATE [TABLE] <name>` — commit an EMPTY image as a new
    * version. DDL, MySQL semantics: implicitly commits (sqlAs ended
    * any open transaction before dispatch) and cannot be rolled back
    * — but the pre-truncate data stays time-travelable within
    * retention, and a RESTORE undoes it. Returns 0 affected rows,
    * as MySQL does. */
  private def doTruncate(stmt: String): GraftResult = {
    val m = "(?is)^truncate\\s+(?:table\\s+)?(\\S+)\\s*$".r
      .findFirstMatchIn(stmt)
      .getOrElse(throw Errors.generic(
        s"cannot parse: ${stmt.take(60)} (expected TRUNCATE [TABLE] <name>)"))
    val td = lookup(m.group(1))
    requireWritable(td)
    requireNotKv(td, "TRUNCATE")
    writeVersion(td, spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), td.fullSchema))
    AffectedRows(0)
  }

  /** `RENAME TABLE <a> TO <b>[, <c> TO <d>]…` — catalog move, renamed
    * left to right (each step sees the previous steps' results, so
    * MySQL's chain-swap idiom `a TO tmp, b TO a, tmp TO b` works).
    * Managed tables (parquet AND kv) move their whole version/segment
    * directory tree: all retained history travels with the name, so
    * time travel, CDF and RESTORE keep working across a rename.
    * External tables keep their data in place (location-addressed).
    * Views are NOT rewritten — like MySQL, a view referencing the old
    * name breaks at next expansion (1146). */
  private def doRename(stmt: String): GraftResult = {
    val body = stmt.trim.replaceFirst("(?is)^rename\\s+table\\s+", "")
    if (body == stmt.trim)
      throw Errors.generic(s"cannot parse: ${stmt.take(60)}")
    val pairs = body.split(",").toSeq.map { p =>
      p.trim.split("(?i)\\s+to\\s+") match {
        case Array(a, b) => (a.trim, b.trim)
        case _ => throw Errors.generic(s"cannot parse: ${stmt.take(60)} " +
          "(expected RENAME TABLE a TO b[, c TO d]…)")
      }
    }
    pairs.foreach { case (from, to) => renameImpl(lookup(from), resolveName(to)) }
    persistInfoSchema(tableShapeInfo)
    AffectedRows(0)
  }

  private def renameImpl(td: TableDef, to: (String, String)): Unit = {
    val (ns, nn) = to
    if (!schemas.contains(ns)) throw Errors.unknownDb(ns)
    if (tables.contains((ns, nn)) || views.contains((ns, nn)))
      throw GraftException(1050, s"Table '$ns.$nn' already exists")
    spark.sql(s"DROP TABLE IF EXISTS `${td.schema}`.`${td.name}`")
    if (!td.external) {
      val src = new File(s"$dataRoot/${td.schema}/${td.name}")
      val dst = new File(s"$dataRoot/$ns/$nn")
      if (src.exists()) {
        dst.getParentFile.mkdirs()
        Files.move(src.toPath, dst.toPath)
      }
    }
    tables -= ((td.schema, td.name))
    val ntd = td.copy(schema = ns, name = nn)
    tables += (ns, nn) -> ntd
    registerTable(ntd)
  }

  private def doDelete(td: TableDef, alias: String, cond: Column): GraftResult =
    if (td.format == "kv") kvDelete(td, alias, cond)
    else AffectedRows(mutateVersion(td, alias, cond,
      sub => sub.where(not(coalesce(cond, lit(false))))))

  // ------------------------------------------------------------------
  // MERGE
  // ------------------------------------------------------------------

  /** `MERGE INTO t [[AS] a] USING <table> | (<query>) [AS] b ON <cond>
    * WHEN MATCHED [AND c] THEN UPDATE SET … | DELETE …
    * WHEN NOT MATCHED [AND c] THEN INSERT (cols) VALUES (…)`, in
    * Spark's MERGE grammar, parsed by Spark's parser ([[doWrite]]).
    *
    * The upsert statement the reference's surface lacks (its users
    * emulate it with INSERT-probe-then-UPDATE loops over point gets —
    * `physical_plan/insert.rs:195-218`'s one-key-at-a-time check is
    * the closest artifact). Beyond-parity §2.7 extension, executed as
    * set-oriented DataFrame operations over the aliased target and
    * source instead of per-key probes:
    *
    *  1. file prune — a LEFT SEMI join of target against source under
    *     the ON condition finds the files holding any matched row
    *     (their names taken at the target's scan). Untouched
    *     files are CARRIED into the new version as hard links (the
    *     [[mutateVersion]] economics): a merge that touches 1% of
    *     files rewrites 1%.
    *  2. one LEFT OUTER join of the touched subset against the source
    *     computes, per target row, the first applicable MATCHED action
    *     in declared order (0 keep / 1 update / 2 delete, one `when`
    *     chain) and the row's assigned values; kept/updated rows keep
    *     their rowid (CDF-visible as update_pre/postimage).
    *  3. unmatched source rows enter through a LEFT ANTI join with the
    *     INSERT projection (fresh rowids), duplicate-key checked
    *     against the carried+kept image (error 1062) like any INSERT.
    *
    * SQL-standard guard: if any WHEN MATCHED clause exists and one
    * target row matches >1 source rows, the statement fails (1105)
    * rather than updating nondeterministically. Rejected with 1105:
    * more than one UPDATE, DELETE or NOT MATCHED clause, `UPDATE SET
    * *`, `INSERT *`, `WHEN NOT MATCHED BY SOURCE`, a derived source
    * with no alias, and KV targets (their INSERT is already
    * newest-wins upsert by construction). Affected rows = updated +
    * deleted + inserted. */
  private def doMerge(td: TableDef, tA: String, m: MergeIntoTable): GraftResult = {
    requireNotKv(td, "MERGE")
    def unsupported(what: String) = Errors.generic(s"MERGE: $what is not supported")
    if (m.notMatchedBySourceActions.nonEmpty)
      throw unsupported("WHEN NOT MATCHED BY SOURCE")
    // (action code, condition) in declared order; 1 = update, 2 = delete
    val matched = m.matchedActions.map {
      case u: UpdateAction => (1, u.condition)
      case d: DeleteAction => (2, d.condition)
      case _ => throw unsupported("UPDATE SET *")
    }
    Seq(1 -> "UPDATE", 2 -> "DELETE").foreach { case (code, what) =>
      if (matched.count(_._1 == code) > 1)
        throw Errors.generic(s"MERGE supports at most one WHEN MATCHED … $what clause")
    }
    val assigns = m.matchedActions.collectFirst {
      case u: UpdateAction => assignedColumns(u.assignments, td)
    }.getOrElse(Map.empty)
    val insert = m.notMatchedActions match {
      case Seq() => None
      case Seq(i: InsertAction) => Some((i.condition, assignedColumns(i.assignments, td)))
      case Seq(_) => throw unsupported("INSERT *")
      case _ => throw Errors.generic("MERGE supports at most one WHEN NOT MATCHED clause")
    }
    val sA = m.sourceTable match {
      case SubqueryAlias(a, _) => a.name
      case r: UnresolvedRelation => r.multipartIdentifier.last
      case _ => throw Errors.generic("MERGE: a derived USING source requires an alias")
    }
    val srcDf0 = graftshim.ofRows(spark)(_ => m.sourceTable)
    if (srcDf0.columns.exists(_.startsWith("__merge_")))
      throw Errors.generic("MERGE: source may not have a column named __merge_*")
    // evaluated by the probe, the multi-match check, both legs, and
    // the counts — persist so a nondeterministic source stays stable
    val srcDf = srcDf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val src = srcDf.as(sA)
    val on = graftshim.column(m.mergeCondition)
    def cond(c: Option[Expression]) = c.map(graftshim.column).getOrElse(lit(true))
    def emptyTarget: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], td.fullSchema)
    try {
      val hasData = tableHasData(td)
      // --- step 1: matched-file prune (semi-join flavor of mutateVersion)
      val allFiles =
        if (!hasData) Array.empty[File]
        else Option(new File(tableDir(td)).listFiles())
          .getOrElse(Array.empty[File])
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      val matchedNames: Set[String] =
        if (!hasData) Set.empty
        else withFileName(td, tA).join(src, on, "left_semi")
          .select("__f").distinct().collect().map(_.getString(0)).toSet
      val (touched, carried) = allFiles.partition(f => matchedNames(f.getName))
      val tgt = (
        if (touched.isEmpty) emptyTarget
        else if (carried.isEmpty) readFull(td)
        else spark.read.schema(td.fullSchema)
          .parquet(touched.map(_.getPath).toIndexedSeq: _*)).as(tA)

      // --- SQL-standard cardinality guard (only when a MATCHED clause
      // can act on the ambiguity)
      if (matched.nonEmpty && touched.nonEmpty &&
          tgt.join(src, on).groupBy(tgt(RowId)).count()
            .where(col("count") > 1).limit(1).collect().nonEmpty)
        throw GraftException(1105,
          "MERGE: a row of the target table matched multiple source rows")

      // --- step 2: one left-join pass over the touched subset
      val marked = srcDf.withColumn("__merge_m", lit(1)).as(sA)
      val act = matched.foldLeft(when(marked("__merge_m").isNull, 0)) {
        case (w, (code, c)) => w.when(cond(c), code)
      }.otherwise(0)
      val acted = tgt.join(marked, on, "left_outer")
        .select(col("*"), act.as("__merge_act"))
      val kept = acted.where(col("__merge_act") =!= 2)
        .select(tgt(RowId) +: td.columns.map { c =>
          assigns.get(c.name).fold(tgt(c.name))(e =>
            when(col("__merge_act") === 1, e.cast(c.sparkType))
              .otherwise(tgt(c.name))).as(c.name)
        }: _*)
      val actCounts: Map[Int, Long] =
        if (touched.isEmpty) Map.empty
        else acted.groupBy("__merge_act").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nUpd = actCounts.getOrElse(1, 0L)
      val nDel = actCounts.getOrElse(2, 0L)

      // --- step 3: NOT MATCHED inserts (anti join; matched target rows
      // all live in touched files, so anti-vs-sub ≡ anti-vs-full)
      val insRowsOpt = insert.map { case (c, values) =>
        src.join(tgt, on, "left_anti").where(cond(c))
          .select(expr("replace(uuid(), '-', '')").as(RowId) +:
            td.columns.map(tc =>
              values.getOrElse(tc.name, lit(null)).cast(tc.sparkType).as(tc.name)): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      try {
        val nIns = insRowsOpt.map(_.count()).getOrElse(0L)
        if (touched.isEmpty && nIns == 0L)
          return AffectedRows(0) // nothing matched, nothing to insert
        insRowsOpt.foreach { ins =>
          // duplicate-key gate vs the post-merge image (1062), like INSERT
          val carriedDf =
            if (carried.isEmpty) emptyTarget
            else spark.read.schema(td.fullSchema)
              .parquet(carried.map(_.getPath).toIndexedSeq: _*)
          constraintViolation(ins, Some(kept.unionByName(carriedDf)), td)
        }
        val image = insRowsOpt.map(kept.unionByName(_)).getOrElse(kept)
        writeVersion(td, image, carried.toIndexedSeq)
        AffectedRows(nUpd + nDel + nIns)
      } finally insRowsOpt.foreach(_.unpersist())
    } finally srcDf.unpersist()
  }

  // ------------------------------------------------------------------
  // managed KV tables: the LSM write path
  // ------------------------------------------------------------------
  // The reference's primary store is a KV engine written one cell at a
  // time from the driver (`/root/reference/src/store/engine/sled.rs`,
  // `physical_plan/insert.rs:29-104`); its statement surface mutates
  // that store directly. Here the same surface lands on the
  // multi-segment [[graft.sources.KvSegment]] table: INSERT/UPDATE are
  // DISTRIBUTED segment appends (range-partitioned, task-written,
  // atomically published — [[graft.sources.KvSegmentWriter]]) whose new
  // sequence numbers shadow older values newest-wins, so a mutation
  // costs O(rows touched), never a table rewrite — the LSM upsert
  // economics parquet COW can't offer. DELETE has no tombstone in the
  // segment format (a stored NULL is a value), so it commits a NEW
  // VERSION DIRECTORY like parquet COW: segments whose fence range
  // can't contain a deleted key are carried as hard links, touched
  // segments are rewritten in parallel tasks with the deleted keys
  // removed (removing a key from EVERY segment that holds it keeps
  // newest-wins visibility exact), and `_SUCCESS` commits the swap.
  // Durability: per-segment publish is write-once-rename; a crash
  // mid-INSERT leaves a prefix of the new segments visible (the same
  // partial-statement exposure as the reference's per-key insert loop,
  // `insert.rs:195-218`), and a crash mid-DELETE leaves the old
  // version adopted by [[reconcileVersions]].

  /** Rows per appended segment: ~4M keys ≈ 32 MB of key+offset index
    * per segment file, so a 1 B-row statement lands as ~256 parallel
    * segment writes instead of one giant file. */
  private val kvRowsPerSegment = 4000000L

  /** Deleted-key sets up to this size take the segment-pruned path
    * (sorted key array broadcast to per-segment rewrite tasks); bigger
    * deletes fall back to a full distributed rewrite — at that
    * selectivity the table rewrite IS the proportional cost.
    * Var (test seam): specs shrink it to exercise the fallback. */
  private[graft] var kvDeleteKeyLimit: Int = 1000000

  private def kvSegmentsFor(n: Long): Int =
    math.max(1, math.min(256L, (n + kvRowsPerSegment - 1) / kvRowsPerSegment)).toInt

  private def kvQualified(td: TableDef): String = s"${td.schema}.${td.name}"

  private def kvInsert(td: TableDef, sourceDf: DataFrame,
      targetCols: Seq[String], knownCount: Option[Long],
      overwrite: Boolean): GraftResult = {
    val rowsPlan = sourceDf.select(td.columns.map { c =>
      if (targetCols.contains(c.name)) col(c.name).cast(c.sparkType).as(c.name)
      else lit(null).cast(c.sparkType).as(c.name)
    }: _*)
    // SELECT sources: persist so the null/dup probes, the count and
    // the segment write evaluate the source once
    val rows =
      if (knownCount.isEmpty)
        rowsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rowsPlan
    try {
      if (rows.filter(col("k").isNull).limit(1).collect().nonEmpty)
        throw GraftException(1048, "Column 'k' cannot be null")
      // duplicate-key rejection (1062): within the batch always;
      // against the live image unless INSERT OVERWRITE — overwrite is
      // the LSM upsert, the appended segment shadows newest-wins
      val dupIn = rows.groupBy(col("k")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).select(col("k"))
      val probes =
        if (overwrite || !tableHasData(td)) dupIn
        else dupIn.unionAll(rows.select(col("k"))
          .join(spark.table(kvQualified(td)).select(col("k")), Seq("k"), "left_semi"))
      val hit = probes.limit(1).collect()
      if (hit.nonEmpty)
        throw Errors.duplicateEntry(hit(0).getLong(0).toString, "PRIMARY")
      val n = knownCount.getOrElse(rows.count())
      if (n > 0)
        graft.sources.KvSegmentWriter.writeDataFrame(
          rows, tableDir(td), "k", "v", kvSegmentsFor(n))
      spark.catalog.refreshTable(kvQualified(td))
      AffectedRows(n)
    } finally { if (knownCount.isEmpty) rows.unpersist() }
  }

  private def kvUpdate(td: TableDef, alias: String,
      assigns: Map[String, Column], cond: Column): GraftResult = {
    if (assigns.contains("k")) throw Errors.generic(
      "kv tables: the key 'k' is the row identity and cannot be " +
        "UPDATEd (DELETE + INSERT moves a row)")
    // query-then-mutate on the CURRENT newest-wins image; only the
    // matched rows are appended (with their updated value), so the
    // statement costs O(matched), and the new segment shadows the old
    // values — no read-modify-rewrite of untouched data
    val cur = spark.table(kvQualified(td)).as(alias)
    val updated = cur.where(cond).select(col("k"),
        assigns.get("v").fold(col("v"))(_.cast("string").as("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = updated.count()
      if (n > 0) {
        graft.sources.KvSegmentWriter.writeDataFrame(
          updated, tableDir(td), "k", "v", kvSegmentsFor(n))
        spark.catalog.refreshTable(kvQualified(td))
      }
      AffectedRows(n)
    } finally updated.unpersist()
  }

  private def kvDelete(td: TableDef, alias: String, cond: Column): GraftResult = {
    import graft.sources.{KvSegment, KvSegmentWriter}
    val dir = tableDir(td)
    val segs = KvSegment.listSegments(dir)
    if (segs.isEmpty) return AffectedRows(0)
    val cur = spark.table(kvQualified(td)).as(alias)
    // matched keys come from the merged CURRENT image (cond may test
    // v): a key deleted "now" must vanish from every segment that
    // holds any version of it. limit(K+1) gives an exact count when
    // the delete is small — the common case pays one bounded job.
    val sample = cur.where(cond).select(col("k"))
      .limit(kvDeleteKeyLimit + 1).collect().map(_.getLong(0))
    if (sample.isEmpty) return AffectedRows(0)
    val ntd = td.copy(version = td.version + 1)
    val newDir = new File(tableDir(ntd))
    deleteRecursively(newDir)
    newDir.mkdirs()
    val n: Long =
      if (sample.length <= kvDeleteKeyLimit) {
        val keysSorted = sample.sorted
        // fence-pruned: only segments whose [first,last] key range can
        // contain a deleted key are rewritten; the rest hard-link into
        // v(N+1) unread (the parquet mutateVersion carry, LSM-shaped)
        val (touched, carried) = segs.partition { p =>
          val fi = KvSegment.fenceIndex(p)
          fi.n > 0 && {
            val i = {
              // first deleted key >= segment's first key
              val j = java.util.Arrays.binarySearch(keysSorted, fi.firstKey)
              if (j >= 0) j else -(j + 1)
            }
            i < keysSorted.length && keysSorted(i) <= fi.lastKey
          }
        }
        carried.foreach { p =>
          val src = new File(p)
          val dst = new File(newDir, src.getName).toPath
          try Files.createLink(dst, src.toPath)
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(src.toPath, dst)
          }
        }
        if (touched.nonEmpty) {
          val bc = spark.sparkContext.broadcast(keysSorted)
          val newDirPath = newDir.getPath
          // one task per touched segment: read it, drop deleted keys,
          // publish the filtered twin under the SAME name (sequence
          // numbers preserved ⇒ shadowing relations preserved).
          // Deterministic content, atomic rename — retries converge.
          // An all-deleted segment is simply not republished.
          spark.sparkContext.parallelize(touched, touched.size).foreach { p =>
            val kept = KvSegment.readAll(p).filter { case (kk, _) =>
              java.util.Arrays.binarySearch(bc.value, kk) < 0 }
            if (kept.nonEmpty)
              KvSegment.writeSorted(
                new File(newDirPath, new File(p).getName).getPath, kept)
          }
          bc.unpersist()
        }
        sample.length.toLong
      } else {
        // mass delete: distributed rewrite of the complement image
        val keep = cur.where(not(coalesce(cond, lit(false))))
        val cnt = cur.where(cond).count()
        KvSegmentWriter.writeDataFrame(keep, newDir.getPath, "k", "v",
          math.max(1, segs.size))
        cnt
      }
    new File(newDir, "_SUCCESS").createNewFile() // commit point
    tables += (td.schema, td.name) -> ntd
    registerTable(ntd)
    persistInfoSchema(Seq("tables")) // data_version only — no shape change
    // same grace-GC window as writeVersion: old versions beyond the
    // retention floor go; the floor covers in-flight readers
    val base = newDir.getParentFile
    Option(base.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .filter(_.getName.drop(1).toLong <= ntd.version - retainVersions)
      .foreach(deleteRecursively)
    AffectedRows(n)
  }

  /** `td`'s full image aliased `alias`, plus `__f`, the name of the
    * file each row comes from. The name is the scan's `_metadata`
    * column, so it survives the shuffle join a subquery in a condition
    * can plan into (`input_file_name()` above a shuffle reads ""), and
    * a filter on the frame still pushes into the scan. Part-file names
    * are unique within a version directory. */
  private def withFileName(td: TableDef, alias: String): DataFrame =
    readFull(td).select(col("*"), col("_metadata.file_name").as("__f")).as(alias)

  /** File-pruned COW mutation: one scan finds the files that contain
    * ≥1 row matching `cond` (parquet min/max row-group stats + the
    * pushed predicate make never-matching files cheap to rule out —
    * their data pages are skipped), then ONLY those files are read
    * back through `rewriteMatched` and rewritten; every untouched file
    * is carried into v(N+1) as a hard link (copy fallback), unread and
    * unwritten. A selective UPDATE on a 10k-file table rewrites the
    * handful of files its predicate touches instead of the full image
    * — at 100 TB this is the difference between a point mutation and
    * re-writing the table. Returns the matched-row count. */
  private def mutateVersion(td: TableDef, alias: String, cond: Column,
      rewriteMatched: DataFrame => DataFrame): Long = {
    val full = readFull(td).as(alias)
    val perFile = withFileName(td, alias).where(cond)
      .groupBy("__f").agg(count(lit(1)).as("__n"))
      .collect()
    val n = perFile.map(_.getLong(1)).sum
    val matchedNames = perFile.map(_.getString(0)).toSet
    val allFiles = Option(new File(tableDir(td)).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val (touched, carried) = allFiles.partition(f => matchedNames(f.getName))
    val sub =
      if (touched.isEmpty) full.where(lit(false))
      else if (carried.isEmpty) full
      else spark.read.schema(td.fullSchema)
        .parquet(touched.map(_.getPath).toIndexedSeq: _*).as(alias)
    writeVersion(td, rewriteMatched(sub), carried.toIndexedSeq)
    n
  }

  /** Copy-on-write swap: write the new table image to v(N+1) with the
    * plan's natural parallelism (a coalesce(1) here would funnel every
    * UPDATE/DELETE rewrite through one task — a wall at scale), flip
    * the catalog pointer, grace-GC stale version directories
    * (newest 2 retained for in-flight readers). Atomicity comes from
    * the version-directory swap, not from single-file writes: the
    * `_SUCCESS` marker in v(N+1) is the commit point, and
    * [[reconcileVersions]] repairs any crash between these steps on
    * the next load (catalog wins when its directory committed;
    * orphans are GC'd; a dangling pointer falls forward).
    *
    * `carry` are prior-version files proven untouched by the mutation
    * ([[mutateVersion]]): they enter v(N+1) as hard links (copy
    * fallback), never read or rewritten. To keep the commit point
    * exact, Spark's own output (with its premature `_SUCCESS`) goes
    * to a `.stage` directory first; files are moved into the real
    * v(N+1), carried links added, and `_SUCCESS` created LAST — a
    * crash at any earlier step leaves an uncommitted partial that
    * reconciliation GCs, exactly as before. */
  private def writeVersion(td: TableDef, df: DataFrame,
      carry: Seq[File] = Nil): Unit = {
    // open transaction on this session? log the table's PRE-mutation
    // version once (first write wins — that's the rollback target)
    // and pin it against the grace GC below. ROLLBACK's own restore
    // commits never land here: doRollback ends the txn first.
    Option(active).flatMap(_.txn).foreach { log =>
      val k = (td.schema, td.name)
      if (!log.contains(k)) {
        log(k) = td.version
        txnPins.updateWith(k)(vs => Some(td.version :: vs.getOrElse(Nil)))
      }
    }
    val ntd = td.copy(version = td.version + 1)
    val finalDir = new File(tableDir(ntd))
    if (carry.isEmpty) {
      df.write.mode("overwrite").parquet(tableDir(ntd))
    } else {
      val stage = new File(tableDir(ntd) + ".stage")
      deleteRecursively(stage)
      df.write.mode("overwrite").parquet(stage.getPath)
      deleteRecursively(finalDir)
      finalDir.mkdirs()
      stage.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.move(f.toPath, new File(finalDir, f.getName).toPath)
      }
      carry.foreach { f =>
        // part names embed a per-job UUID; a collision with the fresh
        // write is all but impossible, but never silently overwrite
        val name = if (new File(finalDir, f.getName).exists())
          "carry-" + f.getName else f.getName
        val dst = new File(finalDir, name).toPath
        try Files.createLink(dst, f.toPath)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(f.toPath, dst)
        }
      }
      new File(finalDir, "_SUCCESS").createNewFile() // commit point
      deleteRecursively(stage)
    }
    tables += (td.schema, td.name) -> ntd
    registerTable(ntd)
    // data_version only — no shape change. Inside an open transaction
    // the catalog write DEFERS to COMMIT (one flush per transaction,
    // not per statement — an N-statement load script pays one catalog
    // write): in-memory state is what every read path uses, so only
    // the persisted information_schema image lags, and a crash before
    // the flush makes [[reconcileVersions]] adopt the catalog's
    // pre-transaction pointer and GC the unflushed versions — the
    // crash ROLLS THE TRANSACTION BACK, strictly better atomicity
    // than the per-statement flush (partial transactions were durable
    // before). Opportunistic, not guaranteed: another session's
    // autocommit mutation flushes the whole catalog early.
    Option(active).filter(_.txn.isDefined) match {
      case Some(ses) => ses.pendingInfo += "tables"
      case None => persistInfoSchema(Seq("tables"))
    }
    // Grace-period GC, not immediate delete: a read statement's
    // DataFrame executes OUTSIDE engine locks (sqlAs scaladoc), so
    // the version a concurrent reader planned against must survive
    // the mutation that commits while it collects. The floor of 2
    // retained versions covers any reader that straddles one commit;
    // a reader would have to straddle two full COW commits between
    // analysis and collect to lose its files (documented read
    // contract: collect promptly). [[retainVersions]] above the floor
    // is time-travel history, kept across restarts
    // ([[reconcileVersions]] applies the same window).
    // never GC at or above a table's lowest txn pin: an open
    // transaction's ROLLBACK target must survive however many COW
    // commits the transaction stacks on top of the retention window
    val pinFloor = txnPins.get((td.schema, td.name)).map(_.min)
    val base = new File(tableDir(ntd)).getParentFile
    Option(base.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .filter { f =>
        val v = f.getName.drop(1).toLong
        v <= ntd.version - retainVersions && pinFloor.forall(v < _)
      }
      .foreach(deleteRecursively)
  }

  // ------------------------------------------------------------------
  // SHOW / USE / DESCRIBE
  // ------------------------------------------------------------------

  private def doUse(stmt: String): GraftResult = {
    val name = ident(stmt.trim.split("\\s+", 2)(1))
    if (!schemas.contains(name) && name != InfoSchemaDb)
      throw Errors.unknownDb(name)
    // session state only: statements qualify bare names with it on
    // the parsed plan; the shared Spark session's current database is
    // never set
    active.currentSchema = Some(name)
    AffectedRows(1)
  }

  private def likeFilter(df: DataFrame, c: String, pat: Option[String]): DataFrame =
    pat.map(p => df.filter(col(c).like(p))).getOrElse(df)

  private def doDescribe(stmt: String): GraftResult = {
    val t = stmt.trim.split("\\s+", 2)(1)
    showColumns(lookup(t))
  }

  /** A result whose rows are already on the driver: a LocalRelation
    * over an explicit schema. No encoder is derived by reflection, and
    * it plans as a `LocalTableScanExec`, which the wire returns with no
    * Spark job. Nullability is the tuple encoders': strings nullable,
    * numbers not. */
  private def localResult(cols: (String, DataType)*)(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(cols.map { case (n, t) =>
      StructField(n, t, nullable = t == StringType) }))

  private def stringResult(names: String*)(rows: Seq[Row]): DataFrame =
    localResult(names.map(_ -> StringType): _*)(rows)

  private def showColumns(td: TableDef): GraftResult = {
    val rows = td.columns.map { c =>
      val key =
        if (td.primaryKey.contains(c.name)) "PRI"
        else if (td.uniques.exists(_._2.contains(c.name))) "UNI"
        else ""
      Row(c.name, c.sqlType, if (c.nullable) "YES" else "NO", key, "NULL", "")
    }
    ResultSet(stringResult("Field", "Type", "Null", "Key", "Default", "Extra")(rows))
  }

  private def doShow(stmt: String): GraftResult = {
    val lower = stmt.toLowerCase.replaceAll("\\s+", " ").trim
    val likePat = "(?is).*\\slike\\s+'([^']*)'\\s*$".r
      .findFirstMatchIn(stmt).map(_.group(1))

    if (lower.startsWith("show databases")) {
      // built from the in-memory catalog (not the shared external
      // tables) so concurrent engines on one SparkSession don't
      // cross-talk; same output as SELECT schema_name FROM schemata
      ResultSet(stringResult("Database")(schemas.toSeq.sorted.map(Row(_))))
    } else if (lower.matches("show (full )?tables.*")) {
      val full = lower.startsWith("show full")
      val db = "(?is)\\s(?:from|in)\\s+(\\w+)".r.findFirstMatchIn(stmt)
        .map(g => ident(g.group(1)))
        .orElse(currentSchema)
        .getOrElse(throw Errors.noSchemaSelected)
      if (!schemas.contains(db)) throw Errors.unknownDb(db)
      val base = stringResult(s"Tables_in_$db", "Table_type")(
        (tables.values.filter(_.schema == db).toSeq
          .map(t => (t.name, "BASE TABLE")) ++
          views.keys.filter(_._1 == db).map(v => (v._2, "VIEW")))
          .sortBy(_._1).map(Row.fromTuple))
      val filtered = likeFilter(base, s"Tables_in_$db", likePat)
      ResultSet(if (full) filtered else filtered.drop("Table_type"))
    } else if (lower.startsWith("show columns") || lower.startsWith("show fields")) {
      val m = "(?is)show\\s+(?:full\\s+)?(?:columns|fields)\\s+(?:from|in)\\s+(\\S+)"
        .r.findFirstMatchIn(stmt)
        .getOrElse(throw Errors.generic(s"cannot parse: $stmt"))
      showColumns(lookup(m.group(1)))
    } else if (lower.startsWith("show create table")) {
      val raw = stmt.trim.split("\\s+").last
      val (cs, cn) = resolveName(raw)
      if (views.contains((cs, cn)))
        ResultSet(stringResult("View", "Create View")(
          Seq(Row(cn, s"CREATE VIEW $cn AS ${views((cs, cn))}"))))
      else {
        val td = lookup(raw)
        ResultSet(stringResult("Table", "Create Table")(
          Seq(Row(td.name, td.createTableSql))))
      }
    } else if (lower.matches("show versions (for|from|in) .*")) {
      // time-travel history: the on-disk version directories still
      // inside the retention window (newest first). `Current` marks
      // the catalog pointer; only committed versions are readable
      // via VERSION AS OF / tableAsOf.
      val td = lookup(stmt.trim.split("\\s+").last)
      if (td.external) throw Errors.generic(
        s"table '${td.schema}.${td.name}' is external — unversioned")
      val base = new File(s"$dataRoot/${td.schema}/${td.name}")
      val rows = Option(base.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map { d =>
          val parts = Option(d.listFiles()).getOrElse(Array.empty[File])
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
          val v = d.getName.drop(1).toLong
          Row(v, if (new File(d, "_SUCCESS").exists()) "YES" else "NO",
            parts.length.toLong, parts.map(_.length).sum,
            if (v == td.version) "YES" else "NO")
        }.sortBy(-_.getLong(0)).toSeq
      ResultSet(localResult("Version" -> LongType, "Committed" -> StringType,
        "Files" -> LongType, "Bytes" -> LongType, "Current" -> StringType)(rows))
    } else if (lower.startsWith("show variables")) {
      // LIKE deviation: filter on the NAME (the reference filters on
      // the value, show_variables.rs:75-83 — a bug). WHERE filters
      // over (Variable_name, Value) like the reference's WHERE arm
      // (show_variables.rs:49-118).
      val base = stringResult("Variable_name", "Value")(
        globals.toSeq.sortBy(_._1).map(Row.fromTuple))
      val whereIdx = indexOfKeyword(stmt, "where")
      if (whereIdx >= 0)
        ResultSet(base.filter(expr(rewrite(stmt.substring(whereIdx + 5)))))
      else ResultSet(likeFilter(base, "Variable_name", likePat))
    } else if (lower.startsWith("show engines")) {
      ResultSet(stringResult("Engine", "Support", "Comment", "Transactions",
        "XA", "Savepoints")(Seq(Row("Parquet", "DEFAULT",
        "Columnar parquet storage on Spark", "NO", "NO", "NO"))))
    } else if (lower.startsWith("show charset") ||
      lower.startsWith("show character set")) {
      ResultSet(localResult("Charset" -> StringType, "Description" -> StringType,
        "Default collation" -> StringType, "Maxlen" -> LongType)(
        Seq(Row("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_ai_ci", 4L))))
    } else if (lower.startsWith("show collation")) {
      ResultSet(localResult("Collation" -> StringType, "Charset" -> StringType,
        "Id" -> LongType, "Default" -> StringType, "Compiled" -> StringType,
        "Sortlen" -> LongType)(
        Seq(Row("utf8mb4_0900_ai_ci", "utf8mb4", 255L, "Yes", "Yes", 0L))))
    } else if (lower.startsWith("show grants")) {
      ResultSet(stringResult("Grants for root@%")(
        Seq(Row("GRANT ALL PRIVILEGES ON *.* TO 'root'@'%'"))))
    } else if (lower.startsWith("show privileges")) {
      ResultSet(stringResult("Privilege", "Context", "Comment")(Seq(
        Row("Select", "Tables", "To retrieve rows from table"),
        Row("Insert", "Tables", "To insert data into tables"),
        Row("Update", "Tables", "To update existing rows"),
        Row("Delete", "Tables", "To delete existing rows"))))
    } else if (lower.matches("show (full )?processlist")) {
      // synthesized from the live-session registry (§2.9's pattern);
      // the calling session shows as Query/executing with this very
      // statement as Info — MySQL's own behavior
      val now = System.currentTimeMillis
      val rows = allSessions.map { s =>
        Row(s.id, "root", "localhost", s.currentSchema.orNull,
          if (s.busy) "Query" else "Sleep",
          math.max(0L, (now - s.stateSince) / 1000L),
          if (s.busy) "executing" else "",
          if (s.busy) s.lastInfo else null)
      }
      ResultSet(localResult("Id" -> LongType, "User" -> StringType,
        "Host" -> StringType, "db" -> StringType, "Command" -> StringType,
        "Time" -> LongType, "State" -> StringType, "Info" -> StringType)(rows))
    } else if (lower.startsWith("show table status")) {
      val db = "(?is)\\s(?:from|in)\\s+(\\w+)".r.findFirstMatchIn(stmt)
        .map(g => ident(g.group(1)))
        .orElse(currentSchema)
        .getOrElse(throw Errors.noSchemaSelected)
      val rows = tables.values.filter(_.schema == db).toSeq.sortBy(_.name)
        .map(t => Row(t.name, "Parquet", t.version))
      ResultSet(localResult("Name" -> StringType, "Engine" -> StringType,
        "Version" -> LongType)(rows))
    } else throw Errors.generic(s"unsupported SHOW: $stmt")
  }

  // ------------------------------------------------------------------

  /** Bootstrap seed rows (mysql.user, global_variables) — a handful
    * of driver-known rows, written driver-side like the info-schema
    * images ([[DriverParquet]]); a Spark job per seed table was pure
    * bootstrap overhead. */
  private def writeRows(td: TableDef, rows: Seq[Seq[Any]]): Unit = {
    val schema = td.fullSchema
    val withId = rows.map { r =>
      java.util.UUID.randomUUID.toString.replace("-", "") +: r
    }
    DriverParquet.overwrite(spark, tableDir(td), schema, withId)
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  // run last: needs every val above initialized
  bootstrapOrLoad()
}

object GraftEngine {
  /** Boot-time bound on driver-collected catalog rows (the `columns`
    * info-schema table — the largest one). Catalog size scales with
    * schema complexity, not data: 10M column rows ≈ a warehouse with
    * ~1M tables, far past any sane single-warehouse catalog, so the
    * default only trips on corruption or runaway DDL loops. Var
    * (test seam + operator escape hatch). */
  @volatile var maxCatalogBootRows: Long = 10000000L
}

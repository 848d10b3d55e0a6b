package graft

import java.sql.{Date, DriverManager}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Layout, Merge, Prepare, Validate}

/** Where the pipeline's four relations (estadisticas, errores, visitantes,
  * bitacora) are materialized and read back from.
  *
  *  - [[SinkMode.Parquet]] (default): the scale-native mode — partitioned
  *    parquet appends + the versioned visitantes pointer swap.
  *  - [[SinkMode.Jdbc]]: the reference's literal sink family (MySQL via
  *    SQLAlchemy append loaders, utils/utils_load.py:24-31, and the staging
  *    replace + rename for visitantes, tasks/load.py:33-55) re-expressed as
  *    `df.write.jdbc`. Intended for dimension-sized outputs that must land
  *    in an operational database; the 100 TB relations stay on Parquet.
  */
sealed trait SinkMode
object SinkMode {
  case object Parquet extends SinkMode
  /** @param url JDBC url (e.g. `jdbc:derby:/tmp/db;create=true`)
    * @param replace how the visitantes table is refreshed per batch —
    *   [[JdbcReplace.StagingSwap]] (default, works on any dialect with
    *   RENAME TABLE) or [[JdbcReplace.Upsert]] (the reference's stated
    *   MySQL intent, README.md:92: `ON DUPLICATE KEY UPDATE`; Derby gets
    *   the equivalent standard `MERGE INTO`)
    */
  final case class Jdbc(url: String, user: String = "", password: String = "",
                        replace: JdbcReplace = JdbcReplace.StagingSwap)
    extends SinkMode
}

/** Per-batch visitantes refresh protocol for [[SinkMode.Jdbc]]. */
sealed trait JdbcReplace
object JdbcReplace {
  /** Write to `visitantes_staging`, swap in via RENAME (readers never see a
    * half-written table). The default — dialect-portable, crash-recoverable.
    */
  case object StagingSwap extends JdbcReplace
  /** Stage the merged frame, then ONE set-based upsert into the live table —
    * the reference's documented intent for the broken MERGE (README.md:92,
    * `INSERT ... ON DUPLICATE KEY UPDATE`). Dialect-gated: MySQL uses the
    * stated `ON DUPLICATE KEY UPDATE` form (requires a PRIMARY KEY/UNIQUE on
    * email — the reference schema declares one, database/schema.sql:19-27);
    * Derby uses standard `MERGE INTO`, which needs no key. In-place updates:
    * concurrent readers see row-level progress rather than the staging
    * swap's atomic flip — the tradeoff that buys not needing RENAME rights.
    */
  case object Upsert extends JdbcReplace
}

/** End-to-end batch assembly of the reference ETL (SURVEY.md §3, §7.1):
  * glob scan → layout check (P16) → validity flags (P4-P6) → single-pass
  * valid/invalid materialization (P7/P8) → `estadisticas` (P11-P15) /
  * `visitantes` merge (A1+J1) / `errores` (G1+P1) / `bitacora` (A3).
  *
  * Reference lifecycle: flows/etl_flow.py:20-47 + flows/orchestrator_flow.py:16-56.
  * The dispatcher's one-subflow-per-file fan-out becomes ONE Spark job over
  * all files with per-file grouping (`groupBy(nombreArchivo)`) — same
  * observable outputs, arbitrarily many files per run.
  *
  * Scale design (100 TB framing):
  *  - ONE scan of the input CSVs: the flagged frame is materialized to
  *    parquet partitioned by `is_valid`, so the valid/invalid split and every
  *    downstream consumer read partition-pruned parquet instead of re-parsing
  *    CSV (the reference parses once but holds everything in RAM; a naive
  *    two-filter Spark plan would scan the CSV twice).
  *  - `estadisticas`/`errores` are written partitioned by `nombreArchivo`
  *    with dynamic partition overwrite → re-running a file replaces exactly
  *    its own partitions. Idempotent reruns subsume the reference's
  *    per-file transaction rollback (tasks/load.py:33-55).
  *  - the `visitantes` upsert (J1) rewrites via full-outer join into a NEW
  *    version directory, published by the shared versioned-state protocol
  *    ([[StateDir.publish]]: atomic pointer swap, current + 2 prior
  *    versions kept) — readers never observe a half-written table.
  *  - `outDir` may be any Hadoop FS URI (bare local path, `file:`,
  *    `hdfs://`, ...): every state probe goes through the path's own
  *    filesystem.
  *  - `bitacora` is appended LAST: it is the ledger consumers audit
  *    (README.md:166-174), so a file appears there only after its data
  *    committed.
  */
object Pipeline {

  /** One row per processed file, mirroring the reference's bitacora insert. */
  final case class RunSummary(files: Long, okRows: Long, errRows: Long)

  /** S3: schema-enforced read of the listed report files, all columns raw
    * strings (validation precedes casts), rows tagged with their source
    * file's basename (replaces the reference's per-file dispatch identity).
    */
  def readReports(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Layout.rawSchema)
      .csv(files: _*)
      .withColumn("nombreArchivo", element_at(split(input_file_name(), "/"), -1))

  /** S1: driver-side file listing (metadata only — never a data scan). */
  def listReports(spark: SparkSession, inputDir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(inputDir, "report_*.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getPath.toString).sorted
  }

  // ---------- JDBC sink plumbing (SinkMode.Jdbc) ----------

  private def jdbcProps(m: SinkMode.Jdbc): java.util.Properties = {
    val p = new java.util.Properties()
    if (m.user.nonEmpty) { p.put("user", m.user); p.put("password", m.password) }
    p
  }

  /** Case-insensitive table existence via DatabaseMetaData (Derby folds
    * unquoted identifiers to upper case; MySQL keeps them as written).
    * Scoped to the connection's current schema: an unscoped getTables(null,
    * null, ...) would match a same-named table in ANOTHER user's schema and
    * misdirect the rename/drop ladder in [[jdbcReplaceVisitantes]]. Falls
    * back to unscoped only when the driver reports no current schema (e.g.
    * MySQL, where schema == catalog and unqualified names already resolve
    * against the connection's database).
    */
  private def jdbcTableExists(m: SinkMode.Jdbc, table: String): Boolean = {
    val conn = DriverManager.getConnection(m.url, jdbcProps(m))
    try {
      val md = conn.getMetaData
      // getTables treats its schema/table arguments as SQL LIKE patterns, so
      // a literal '_' or '%' (e.g. schema 'app_user', table 'visitantes_old')
      // would wildcard the match — exactly the cross-schema false positive
      // the schema scoping exists to exclude. Escape both with the driver's
      // declared escape string before passing them as patterns.
      val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
      def escapeLike(s: String): String = esc match {
        case Some(e) =>
          s.replace(e, e + e).replace("_", e + "_").replace("%", e + "%")
        case None => s // driver has no escape char; pass through unaltered
      }
      val schema =
        try Option(conn.getSchema).filter(_.nonEmpty).map(escapeLike).orNull
        catch { case _: Throwable => null } // pre-JDBC-4.1 drivers
      Seq(table, table.toUpperCase, table.toLowerCase).distinct.exists { t =>
        val rs = md.getTables(null, schema, escapeLike(t), null)
        try rs.next() finally rs.close()
      }
    } finally conn.close()
  }

  private def jdbcExec(m: SinkMode.Jdbc, sql: String): Unit = {
    val conn = DriverManager.getConnection(m.url, jdbcProps(m))
    try {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    } finally conn.close()
  }

  /** Key/filter string columns that must be created VARCHAR(255) — the
    * reference's declared types (database/schema.sql:19-39). Spark's
    * Derby/MySQL dialects default StringType to CLOB/TEXT, and Derby
    * refuses to COMPARE a CLOB (error 42818), which breaks the upsert
    * MERGE's ON clause and any pushed-down equality filter on the ledger.
    */
  private val jdbcVarcharCols: Map[String, Seq[String]] = Map(
    "visitantes" -> Seq("email"),
    "bitacora" -> Seq("nombreArchivo", "estatus"),
    "errores" -> Seq("email", "tipoError", "nombreArchivo"),
    "estadisticas" -> Seq("email", "nombreArchivo"))

  /** All JDBC table writes funnel through here so creation types stay
    * consistent between the live tables and their staging twins (which get
    * RENAMEd into, or MERGEd against, the live name).
    */
  private def writeJdbc(df: DataFrame, m: SinkMode.Jdbc, table: String,
                        mode: String): Unit = {
    val base = table.stripSuffix("_staging").stripSuffix("_upsert_src")
    val types = jdbcVarcharCols.getOrElse(base, Nil)
      .filter(df.columns.contains)
      .map(c => s"$c VARCHAR(255)").mkString(", ")
    val w = df.write.mode(mode)
    (if (types.nonEmpty) w.option("createTableColumnTypes", types) else w)
      .jdbc(m.url, table, jdbcProps(m))
  }

  /** The reference's staging-replace load for visitantes (tasks/load.py:33-55
    * + utils_load staging table): write the merged table to
    * `visitantes_staging`, then swap it in with RENAMEs so readers never see
    * a half-written table (RENAME TABLE is metadata-only in Derby and MySQL
    * alike). On entry, repair any crash between the two renames of a prior
    * run (same roll-forward/roll-back ladder as PostProcess.compactParquet).
    */
  private def jdbcReplaceVisitantes(df: DataFrame, m: SinkMode.Jdbc): Unit = {
    if (!jdbcTableExists(m, "visitantes") && jdbcTableExists(m, "visitantes_old"))
      jdbcExec(m, "RENAME TABLE visitantes_old TO visitantes") // roll back
    if (jdbcTableExists(m, "visitantes_old"))
      jdbcExec(m, "DROP TABLE visitantes_old")
    writeJdbc(df, m, "visitantes_staging", "overwrite")
    if (jdbcTableExists(m, "visitantes"))
      jdbcExec(m, "RENAME TABLE visitantes TO visitantes_old")
    jdbcExec(m, "RENAME TABLE visitantes_staging TO visitantes")
    if (jdbcTableExists(m, "visitantes_old"))
      jdbcExec(m, "DROP TABLE visitantes_old")
  }

  /** [[JdbcReplace.Upsert]]: stage the merged frame, apply it with ONE
    * set-based upsert statement (bulk, not row-at-a-time — the staging
    * write is a normal parallel `df.write.jdbc`, and the DB merges
    * internally). First batch (no target table yet) creates the table via
    * explicit DDL WITH `PRIMARY KEY (email)` before appending: Spark's JDBC
    * writer emits no key constraint, and on MySQL a keyless table makes
    * every later `ON DUPLICATE KEY UPDATE` degenerate to plain INSERT —
    * duplicate emails would silently accumulate each batch (Derby's MERGE
    * matches on the ON clause and would mask the defect in tests).
    */
  private def jdbcUpsertVisitantes(df: DataFrame, m: SinkMode.Jdbc): Unit = {
    if (!jdbcTableExists(m, "visitantes")) {
      jdbcExec(m, createKeyedTableDdl(m.url, "visitantes", df.schema, "email"))
      writeJdbc(df, m, "visitantes", "append")
      return
    }
    writeJdbc(df, m, "visitantes_upsert_src", "overwrite")
    jdbcExec(m, upsertStatement(m.url, "visitantes", "email",
      df.columns.toSeq, "visitantes_upsert_src"))
    jdbcExec(m, "DROP TABLE visitantes_upsert_src")
  }

  /** Dialect-gated CREATE TABLE with a declared primary key — what the
    * upsert path's first batch runs instead of letting the JDBC writer
    * create a keyless table. Identifiers are quoted exactly as the writer
    * would quote them (backticks on MySQL, double quotes elsewhere) so the
    * subsequent `df.write.jdbc(..., "append")` resolves the same column
    * names. Types mirror the reference schema's choices
    * (database/schema.sql:19-39: VARCHAR(255) keys, DATETIME timestamps).
    */
  private[graft] def createKeyedTableDdl(url: String, table: String,
                                         schema: org.apache.spark.sql.types.StructType,
                                         pk: String): String = {
    import org.apache.spark.sql.types._
    require(schema.fieldNames.contains(pk), s"pk column $pk not in ${schema.fieldNames.toSeq}")
    val mysql = url.startsWith("jdbc:mysql")
    def q(c: String) = if (mysql) s"`$c`" else "\"" + c + "\""
    def sqlType(t: DataType): String = t match {
      case StringType => "VARCHAR(255)"
      case IntegerType | ShortType | ByteType => "INT"
      case LongType => "BIGINT"
      case DoubleType => "DOUBLE"
      case FloatType => "REAL"
      case TimestampType => if (mysql) "DATETIME" else "TIMESTAMP"
      case DateType => "DATE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case BooleanType => "BOOLEAN"
      case other => throw new IllegalArgumentException(
        s"no JDBC type mapping for $other in $table DDL")
    }
    val cols = schema.fields.map { f =>
      val notNull = if (f.name == pk) " NOT NULL" else ""
      s"${q(f.name)} ${sqlType(f.dataType)}$notNull"
    }.mkString(", ")
    s"CREATE TABLE $table ($cols, PRIMARY KEY (${q(pk)}))"
  }

  /** Dialect-gated set-based upsert text. Column identifiers are quoted
    * with the dialect's quote char because Spark's JDBC writer creates them
    * case-sensitively quoted; table names stay unquoted (the writer emits
    * them verbatim, so they fold per dialect default). Unit-tested
    * directly; unsupported dialects fail loudly rather than guessing.
    */
  private[graft] def upsertStatement(url: String, table: String, key: String,
                                     cols: Seq[String], src: String): String =
    if (url.startsWith("jdbc:mysql")) {
      def q(c: String) = s"`$c`"
      val colList = cols.map(q).mkString(", ")
      val updates = cols.filterNot(_ == key)
        .map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
      s"INSERT INTO $table ($colList) SELECT $colList FROM $src " +
        s"ON DUPLICATE KEY UPDATE $updates"
    } else if (url.startsWith("jdbc:derby")) {
      def q(c: String) = "\"" + c + "\""
      val sets = cols.filterNot(_ == key)
        .map(c => s"${q(c)} = s.${q(c)}").mkString(", ")
      val ins = cols.map(q).mkString(", ")
      val vals = cols.map(c => s"s.${q(c)}").mkString(", ")
      s"MERGE INTO $table t USING $src s ON t.${q(key)} = s.${q(key)} " +
        s"WHEN MATCHED THEN UPDATE SET $sets " +
        s"WHEN NOT MATCHED THEN INSERT ($ins) VALUES ($vals)"
    } else throw new IllegalArgumentException(
      s"no upsert dialect for $url — use JdbcReplace.StagingSwap")

  // ---------- ledger / visitantes state, per sink mode ----------

  /** Files already recorded in the bitacora ledger. The reference README
    * claims "filter already-processed files" but never implements it
    * (SURVEY.md §2.10) — here the ledger check makes reruns append-safe:
    * a processed file can never double-count into the visitantes merge.
    */
  def processedFiles(spark: SparkSession, outDir: String,
                     sink: SinkMode = SinkMode.Parquet): Set[String] = sink match {
    case m: SinkMode.Jdbc =>
      if (!jdbcTableExists(m, "bitacora")) Set.empty
      else spark.read.jdbc(m.url, "bitacora", jdbcProps(m))
        .select("nombreArchivo").distinct().collect().map(_.getString(0)).toSet
    case SinkMode.Parquet =>
      val bitDir = s"$outDir/bitacora"
      if (!StateDir.exists(spark, bitDir)) Set.empty
      else spark.read.parquet(bitDir)
        .select("nombreArchivo").distinct().collect().map(_.getString(0)).toSet
  }

  /** P16 for real files: the schema-enforced CSV read can never fail the
    * column check (it imposes our schema positionally), so a wrong-layout
    * file would silently parse into garbage. Instead the HEADER LINE of each
    * file is read driver-side (one metadata-sized read per file, no Spark
    * job) and validated against the expected 15 columns — missing columns
    * quarantine the file (reference: hard per-file failure,
    * utils/utils_transform.py:85-96); extra columns only warn (:97-101).
    */
  def checkHeader(spark: SparkSession, file: String): Validate.LayoutCheck = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val header =
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    val cols = Option(header).map(_.split(",", -1).map(_.trim).toSeq).getOrElse(Seq.empty)
    Validate.checkLayout2(cols)
  }

  /** True when the file has a header line but no data line (driver-side,
    * reads at most two lines — the streaming zero-row reconcile gate).
    */
  def isHeaderOnly(spark: SparkSession, file: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(file)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try {
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      r.readLine() != null && r.readLine() == null
    } finally in.close()
  }

  /** Basename of a listed file — its `nombreArchivo` ledger key. */
  private[graft] def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** (basename, motivo) for every file whose probe threw — the SYSTEM
    * failures [[recordSystemFailures]] takes.
    */
  private[graft] def systemFailures(checks: Seq[(String, Try[_])]): Seq[(String, String)] =
    checks.collect { case (f, Failure(e)) =>
      (baseName(f), s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }

  /** The per-file gate ahead of [[processBatch]], two failure classes with
    * different fates:
    *  - LAYOUT failure (header readable, columns wrong): deterministic →
    *    quarantined immediately ('Fallido' ledger row, never retried; the
    *    reference's retry ladder cannot fix a wrong header either).
    *  - SYSTEM failure (open/read threw — ACL, truncation, upload race):
    *    transient → retried on subsequent runs until the reference's
    *    2-day horizon (README.md:110-115), then quarantined
    *    ([[recordSystemFailures]]; `partial` as documented there).
    * Returns the files that passed and the number quarantined.
    */
  private[graft] def gateFiles(spark: SparkSession, outDir: String, files: Seq[String],
                               asOf: Date, sink: SinkMode, horizonDays: Int,
                               partial: Boolean): (Seq[String], Int) = {
    val checks = files.map(f => f -> Try(checkHeader(spark, f)))
    val horizon = recordSystemFailures(spark, outDir, systemFailures(checks), asOf,
      horizonDays, partial)
    val (good, layoutBad) = checks.collect { case (f, Success(c)) => (f, c) }.partition(_._2.ok)
    val toQuarantine = layoutBad.map(p => baseName(p._1)) ++ horizon.expired
    quarantine(spark, outDir, toQuarantine, asOf, sink)
    (good.map(_._1), toQuarantine.size)
  }

  /** Ledger rows for wrong-layout files: recorded as 'Fallido' so they never
    * re-enter processing. Shared by the batch driver and the streaming gate.
    */
  def quarantine(spark: SparkSession, outDir: String, basenames: Seq[String], asOf: Date,
                 sink: SinkMode = SinkMode.Parquet): Unit =
    ledgerRows(spark, outDir, basenames, asOf, "Fallido", sink)

  /** Outcome of [[recordSystemFailures]]: `retry` stays out of bitacora (the
    * file re-enters the next run), `expired` is past the horizon and must be
    * quarantined by the caller.
    */
  final case class RetryDecision(retry: Seq[String], expired: Seq[String])

  /** The reference's SYSTEM-failure retry horizon (README.md:110-115: retry
    * for 2 days, then quarantine), which idempotent reruns alone do not
    * express — without a horizon, a file whose open fails every day (ACL
    * broken, truncated upload, path racing the uploader) is retried FOREVER
    * and never surfaces in the ledger consumers audit.
    *
    * Semantics per failing file: first failure opens a `reintentos` ledger
    * row (`outDir/reintentos` parquet — engine state, not a reference
    * relation); while `asOf − fechaPrimerFallo < horizonDays` the file is
    * left un-ledgered so the pending scan retries it next run; at/past the
    * horizon it is reported `expired` and the caller quarantines it
    * ('Fallido' bitacora row → never re-listed).
    *
    * Horizon boundary — DELIBERATE `>=` reading (round-14 advice asked for
    * the pin): with the default `horizonDays = 2`, a file first failing on
    * day D is retried on D+1 and quarantined on D+2 — i.e. the file spends
    * exactly 2 calendar days (D and D+1) in the failing-retry state, which
    * is how this engine reads the reference's "Reintento automático al día
    * siguiente (máx. 2 días)": two days OF retrying, not two retry
    * attempts after the first. A caller wanting the other reading (retries
    * on D+1 AND D+2, quarantine D+3) passes `horizonDays = 3`.
    * RetryHorizonSpec pins the boundary in both batch and streaming form. A file that recovers
    * simply processes: its ledger row drops on the next rewrite. LAYOUT
    * failures never enter here — a wrong header is deterministic, so
    * retrying cannot fix it and [[runBatch]] quarantines those immediately;
    * mid-batch Spark failures stay whole-batch-rerun (the idempotent-rerun
    * contract subsumes the reference's task retry ladder).
    *
    * Scale shape: the ledger is one row per CURRENTLY-failing file — the
    * same bounded per-file cardinality as bitacora — rewritten whole each
    * run via a driver-side merge (same discipline as the documented
    * one-row-per-file ledger collects).
    *
    * `partial = true` is for callers that see only a SLICE of the failing
    * set (a streaming micro-batch sees its own file list): prior rows not
    * mentioned in `failures` are preserved instead of dropped, and horizon
    * decisions are returned only for the passed files. Full-view callers
    * (runBatch, reconcilePendingFiles) keep the default whole-rewrite,
    * whose next run prunes rows for files that processed or quarantined
    * meanwhile.
    */
  def recordSystemFailures(spark: SparkSession, outDir: String,
                           failures: Seq[(String, String)], asOf: Date,
                           horizonDays: Int = 2,
                           partial: Boolean = false): RetryDecision = {
    import spark.implicits._
    require(horizonDays >= 1, s"horizonDays must be >= 1, got $horizonDays")
    val dir = s"$outDir/reintentos"
    val present = StateDir.exists(spark, dir)
    val prior: Map[String, (Date, Date, Int, String)] =
      if (!present) Map.empty
      else spark.read.parquet(dir)
        .select("nombreArchivo", "fechaPrimerFallo", "fechaUltimoFallo",
          "intentos", "motivo")
        .collect()
        .map(r => r.getString(0) ->
          (r.getDate(1), r.getDate(2), r.getInt(3), r.getString(4))).toMap
    val merged = failures.map { case (f, motivo) =>
      // intentos counts failing DAYS, not run invocations: a same-day
      // idempotent rerun (crash mid-batch, rerun) must not inflate the
      // audit count, so the bump is gated on the last-failure date moving
      val (first, n) = prior.get(f)
        .map { case (d, last, k, _) => (d, if (last.before(asOf)) k + 1 else k) }
        .getOrElse((asOf, 1))
      (f, first, asOf, n, motivo)
    }
    val (expired, retry) = merged.partition { case (_, first, _, _, _) =>
      java.time.temporal.ChronoUnit.DAYS.between(
        first.toLocalDate, asOf.toLocalDate) >= horizonDays
    }
    // partial: the caller sees only a SLICE of the currently-failing set
    // (a streaming micro-batch sees its own files, not every pending
    // file), so prior rows it does not mention are PRESERVED — the
    // whole-rewrite drop-on-recovery semantic belongs to full-view callers
    // (runBatch's pending scan, reconcilePendingFiles), whose next rewrite
    // prunes rows for files that processed or quarantined meanwhile.
    // Horizon decisions are likewise only returned for the files the
    // caller actually passed — it cannot quarantine a file outside its
    // view.
    val mentioned = failures.map(_._1).toSet
    val preserved =
      if (!partial) Seq.empty
      else prior.collect { case (f, (first, last, n, motivo)) if !mentioned(f) =>
        (f, first, last, n, motivo)
      }.toSeq
    val rows = merged ++ preserved
    if (rows.nonEmpty || present)
      // EXPIRED rows stay in this rewrite: the caller quarantines them
      // AFTER this returns, and a crash in between must leave the
      // first-failure date on disk — dropping the row first would restart
      // the horizon from scratch on the rerun. Once the quarantine commits,
      // the file is in bitacora, never re-lists, and its stale row drops on
      // the next rewrite. Recovered files drop out immediately (they
      // processed and live in bitacora now).
      rows.toDF("nombreArchivo", "fechaPrimerFallo", "fechaUltimoFallo",
          "intentos", "motivo")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    RetryDecision(retry.map(_._1), expired.map(_._1))
  }

  /** Resolve the current visitantes table version, if any. */
  def currentVisitantes(spark: SparkSession, outDir: String,
                        sink: SinkMode = SinkMode.Parquet): Option[DataFrame] = sink match {
    case m: SinkMode.Jdbc =>
      if (jdbcTableExists(m, "visitantes"))
        Some(spark.read.jdbc(m.url, "visitantes", jdbcProps(m)))
      else None
    case SinkMode.Parquet => StateDir.read(spark, s"$outDir/visitantes")
  }

  /** Full batch run. Returns per-run totals (the driver-visible contract the
    * reference exposes through bitacora).
    */
  def runBatch(spark: SparkSession, inputDir: String, outDir: String, asOf: Date,
               sink: SinkMode = SinkMode.Parquet,
               retryHorizonDays: Int = 2): RunSummary = {
    val done = processedFiles(spark, outDir, sink)
    val pending = listReports(spark, inputDir).filterNot(p => done.contains(baseName(p)))
    if (pending.isEmpty) return RunSummary(0, 0, 0)
    val (todo, quarantined) =
      gateFiles(spark, outDir, pending, asOf, sink, retryHorizonDays, partial = false)
    if (todo.isEmpty) return RunSummary(quarantined.toLong, 0, 0)
    val s = processBatch(spark, readReports(spark, todo), outDir, asOf,
      expectedFiles = todo.map(baseName), sink = sink)
    s.copy(files = s.files + quarantined)
  }

  /** Transform + load for one batch of tagged raw rows — the shared core of
    * the batch driver above and [[graft.streaming.StreamingPipeline]]'s
    * foreachBatch sink.
    *
    * `expectedFiles`: basenames the caller believes are in this batch. A
    * header-only (zero-row) file contributes no rows, so the data-derived
    * bitacora would skip it and the ledger's "processed file never re-enters"
    * guarantee would break — it would be re-listed and re-read every run.
    * Expected files absent from the data-derived ledger get an explicit
    * (0, 0, 'Completado') row.
    */
  def processBatch(spark: SparkSession, raw: DataFrame, outDir: String, asOf: Date,
                   expectedFiles: Seq[String] = Seq.empty,
                   sink: SinkMode = SinkMode.Parquet): RunSummary = {
    // P16: missing columns are a hard failure; extra columns flow through.
    val layout = Validate.checkLayout(raw.drop("nombreArchivo"))
    require(layout.ok, s"layout check failed, missing columns: ${layout.missing.mkString(", ")}")

    // All-empty batch (every expected file was header-only): a partitioned
    // write of zero rows leaves no readable parquet behind, so skip the
    // transform entirely and just ledger the files.
    if (raw.isEmpty) {
      emptyFileLedger(spark, outDir, expectedFiles, asOf, sink)
      return RunSummary(expectedFiles.size.toLong, 0, 0)
    }

    // P4-P8: flag + single-pass materialized split. The scratch dir must be
    // truncated WHOLE (static overwrite): under the session's dynamic
    // partition-overwrite mode, a batch with no invalid rows would leave the
    // previous run's is_valid=false partition in place and resurrect its
    // rows into this batch.
    val staged = s"$outDir/_staged"
    Validate.withValidityFlags(raw)
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("is_valid").parquet(staged)
    // Partition-column type inference never yields BooleanType — the
    // `is_valid=true/false` directory names read back as STRING; restore the
    // boolean the split predicate needs.
    val flagged = spark.read.parquet(staged)
      .withColumn("is_valid", col("is_valid").cast("boolean"))
    val (ok, err) = Validate.split(flagged)

    // estadisticas: P11→P2→P12-15, reference column order. Parquet mode
    // writes per-file partitions (idempotent rerun = partition replace);
    // JDBC mode mirrors the reference's SQLAlchemy append loader
    // (utils/utils_load.py:24-31 — rerun-safety comes from the ledger gate,
    // which never re-admits a processed file).
    val prepared = Prepare.dropFlags(Prepare.prepare(ok))
    val estadisticas = Prepare.estadisticas(prepared, col("nombreArchivo"))
    // errores: G1 explode + P1 projection.
    val exploded = Prepare.errores(Prepare.explodeErrors(err), col("nombreArchivo"))
    sink match {
      case m: SinkMode.Jdbc =>
        writeJdbc(estadisticas, m, "estadisticas", "append")
        writeJdbc(exploded, m, "errores", "append")
      case SinkMode.Parquet =>
        estadisticas.write.mode("overwrite").partitionBy("nombreArchivo")
          .parquet(s"$outDir/estadisticas")
        exploded.write.mode("overwrite").partitionBy("nombreArchivo")
          .parquet(s"$outDir/errores")
    }

    // visitantes: A1 delta + J1 merge, then the mode's replace protocol —
    // next version + StateDir pointer publish (current + 2 prior kept) on
    // parquet, staging table + RENAME swap on JDBC.
    val delta = Prepare.visitantes(prepared)
    val merged = currentVisitantes(spark, outDir, sink)
      .map(target => Merge.mergeVisitantes(target, delta, asOf))
      .getOrElse(delta)
      .select(Merge.allCols.map(col): _*)
    sink match {
      case m: SinkMode.Jdbc => m.replace match {
        case JdbcReplace.StagingSwap => jdbcReplaceVisitantes(merged, m)
        case JdbcReplace.Upsert => jdbcUpsertVisitantes(merged, m)
      }
      case SinkMode.Parquet =>
        val vdir = s"$outDir/visitantes"
        val next = StateDir.current(spark, vdir).getOrElse(0L) + 1
        val versionDir = StateDir.versionPath(vdir, next)
        merged.write.mode("overwrite").parquet(versionDir)
        StateDir.publish(spark, vdir, next, StateDir.versions(spark, vdir, below = next))
        // SCD-2 history of the visitantes dimension (SURVEY §2.5 rollover
        // semantics, kept queryable by time): this batch's updates are the
        // merged states of the keys the batch touched, effective asOf. The
        // closed extent under visitantes_scd/closed only ever appends —
        // existing files stay byte-untouched (the Scd.applyBatchDelta write
        // path at Pipeline level; cold history never rewrites). Rebased on
        // the JUST-WRITTEN version dir, not `merged`: the lazy merge plan
        // would redo the full-outer join over the previous version. JDBC mode keeps the reference's Type-1 table only: an
        // operational DB's dimension history is the warehouse's job, not
        // the OLTP sink's. This hook sits INSIDE the documented
        // pointer-swap-to-ledger-append crash window (README "Rerun
        // idempotence"): the SCD history inherits the ledger-gate rerun
        // contract — a rerun after a crash here re-merges the delta and the
        // history closes the pre-crash state with the re-merged state on
        // top; recovery is restoring the retained prior visitantes version
        // before rerunning.
        val touched = spark.read.parquet(versionDir)
          .join(delta.select("email"), Seq("email"), "left_semi")
          .withColumn("_eff", lit(asOf))
        operators.Scd.applyBatchDeltaDirs(spark,
          s"$outDir/visitantes_scd/open", s"$outDir/visitantes_scd/closed",
          touched, "email", Merge.allCols.filterNot(_ == "email"), "_eff")
    }

    // bitacora: the per-file ledger, appended last. Files the caller expected
    // but that produced zero rows (header-only inputs) still get a ledger row
    // — otherwise they are never marked processed and re-enter every run.
    // One collect serves the append, the seen-set, and the totals: the frame
    // is one row per file, and re-aggregating it would re-run the whole
    // staged-read DAG per consumer.
    val bit = Prepare.bitacora(ok, exploded).withColumn("fechaProceso", lit(asOf))
    val rows = bit.collect() // one row per file — the whole DAG runs ONCE
    val collected = spark.createDataFrame(java.util.Arrays.asList(rows: _*), bit.schema)
    sink match {
      case m: SinkMode.Jdbc =>
        writeJdbc(collected, m, "bitacora", "append")
      case SinkMode.Parquet =>
        collected.write.mode("append").parquet(s"$outDir/bitacora")
    }
    val name = bit.schema.fieldIndex("nombreArchivo")
    val oks = bit.schema.fieldIndex("registrosExitosos")
    val errs = bit.schema.fieldIndex("registrosFallidos")
    val seen = rows.map(_.getString(name)).toSet
    emptyFileLedger(spark, outDir, expectedFiles.filterNot(seen), asOf, sink)
    RunSummary(seen.size.toLong + expectedFiles.count(!seen(_)),
      rows.map(_.getLong(oks)).sum, rows.map(_.getLong(errs)).sum)
  }

  /** 'Completado' (0/0) ledger rows for expected files that contributed no
    * data rows — see [[processBatch]]'s `expectedFiles` contract.
    */
  private def emptyFileLedger(spark: SparkSession, outDir: String,
                              basenames: Seq[String], asOf: Date,
                              sink: SinkMode): Unit =
    ledgerRows(spark, outDir, basenames, asOf, "Completado", sink)

  /** Shared bitacora ledger-row writer (schema in ONE place — quarantine and
    * the empty-file path must stay byte-compatible in the same directory).
    */
  private[graft] def ledgerRows(spark: SparkSession, outDir: String,
                                basenames: Seq[String], asOf: Date,
                                estatus: String,
                                sink: SinkMode = SinkMode.Parquet): Unit =
    if (basenames.nonEmpty) {
      import spark.implicits._
      val df = basenames.toDF("nombreArchivo")
        .withColumn("registrosExitosos", lit(0L))
        .withColumn("registrosFallidos", lit(0L))
        .withColumn("estatus", lit(estatus))
        .withColumn("fechaProceso", lit(asOf))
      sink match {
        case m: SinkMode.Jdbc => writeJdbc(df, m, "bitacora", "append")
        case SinkMode.Parquet => df.write.mode("append").parquet(s"$outDir/bitacora")
      }
    }
}

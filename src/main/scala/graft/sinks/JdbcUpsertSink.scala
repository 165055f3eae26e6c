package graft.sinks

import org.apache.spark.sql.DataFrame
import org.slf4j.LoggerFactory

import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.Properties

/** Injection-safe SQL identifier quoting (double-quote style, embedded
  * quotes doubled) — behavior of the reference's Slick `quoteIdentifier`
  * (simple-anonymizer/src/scala/simpleanonymizer/SlickProfile.scala:13-20;
  * hostile-identifier test TableCopierIntegrationTest.scala:182-216).
  */
object Ident {
  def quote(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""
  def quoteQualified(schema: String, name: String): String = s"${quote(schema)}.${quote(name)}"
}

/** SQL text builders for the JDBC sink — upsert, sequence reset, constraint
  * deferral. Pure string builders (unit-testable without a database); the
  * execution side lives in [[JdbcUpsertSink]].
  */
object SinkSql {
  import Ident._

  /** INSERT ... [ON CONFLICT target action] with `?` placeholders —
    * reference CopyAction.scala:92-125.
    *
    * @param pkColumns resolved primary-key columns, used when the conflict
    *   target is [[OnConflict.ConflictTarget.PrimaryKey]] (sorted for
    *   determinism, as the reference does CopyAction.scala:111).
    */
  def insert(
      schema: String,
      table: String,
      columns: Seq[String],
      onConflict: Option[OnConflict],
      pkColumns: => Seq[String] = Seq.empty
  ): String = {
    val columnList   = columns.map(quote).mkString(", ")
    val placeholders = columns.map(_ => "?").mkString(", ")
    val conflictStr = onConflict.map { oc =>
      val targetCols: Either[String, Seq[String]] = oc.target match {
        case OnConflict.ConflictTarget.Constraint(name) => Left(name)
        case OnConflict.ConflictTarget.Columns(cols)    => Right(cols)
        case OnConflict.ConflictTarget.PrimaryKey       => Right(pkColumns.sorted)
      }
      val conflictTarget = targetCols match {
        case Left(constraint) => s"ON CONSTRAINT ${quote(constraint)}"
        case Right(cols) =>
          require(
            cols.nonEmpty,
            s"ON CONFLICT for $schema.$table needs a non-empty column target " +
              "(PrimaryKey target requires pkColumns to be resolvable)"
          )
          s"(${cols.map(quote).mkString(", ")})"
      }
      val action = oc.action match {
        case OnConflict.Action.DoNothing => "DO NOTHING"
        case OnConflict.Action.DoUpdate(updateCols) =>
          "DO UPDATE SET " +
            updateCols
              .getOrElse(columns.toSet -- targetCols.getOrElse(Seq.empty))
              .map(c => s"${quote(c)} = EXCLUDED.${quote(c)}")
              .mkString(", ")
      }
      s" ON CONFLICT $conflictTarget $action"
    }.getOrElse("")
    s"INSERT INTO ${quoteQualified(schema, table)} ($columnList) VALUES ($placeholders)$conflictStr"
  }

  /** ANSI `MERGE INTO target USING staging` rendering the same conflict
    * semantics as [[insert]]'s ON CONFLICT clause — the execution path on
    * databases without PostgreSQL's `INSERT .. ON CONFLICT` (Derby, H2,
    * Oracle, SQL Server), and the natural BULK shape everywhere: rows are
    * staged with parallel appends, then one set-based statement applies
    * them (a hash join inside the database instead of per-row conflict
    * checks).
    *
    * `ConflictTarget.Constraint` is not expressible — MERGE's ON clause
    * needs columns; resolve the constraint to its column list first.
    * `Action.DoNothing` renders with no WHEN MATCHED clause (conflicting
    * rows are skipped); `DoUpdate` updates the requested (or all
    * non-target) columns, sorted for deterministic SQL.
    */
  def mergeFromStaging(
      schema: String,
      table: String,
      stagingTable: String,
      columns: Seq[String],
      onConflict: OnConflict,
      pkColumns: => Seq[String] = Seq.empty
  ): String = {
    val targetCols = onConflict.target match {
      case OnConflict.ConflictTarget.Columns(cols) => cols
      case OnConflict.ConflictTarget.PrimaryKey    => pkColumns.sorted
      case OnConflict.ConflictTarget.Constraint(name) =>
        throw new IllegalArgumentException(
          s"MERGE upsert for $schema.$table cannot target constraint $name by name — " +
            "resolve it to its column list (ConflictTarget.Columns) first"
        )
    }
    require(
      targetCols.nonEmpty,
      s"MERGE upsert for $schema.$table needs a non-empty column target " +
        "(PrimaryKey target requires pkColumns to be resolvable)"
    )
    val on = targetCols.map(c => s"tgt.${quote(c)} = src.${quote(c)}").mkString(" AND ")
    val matched = onConflict.action match {
      case OnConflict.Action.DoNothing => ""
      case OnConflict.Action.DoUpdate(updateCols) =>
        val setCols = updateCols.getOrElse(columns.toSet -- targetCols).toSeq.sorted
        require(setCols.nonEmpty, s"MERGE DO UPDATE for $schema.$table has no columns to update")
        " WHEN MATCHED THEN UPDATE SET " + setCols.map(c => s"${quote(c)} = src.${quote(c)}").mkString(", ")
    }
    val insertCols = columns.map(quote).mkString(", ")
    val insertVals = columns.map(c => s"src.${quote(c)}").mkString(", ")
    s"MERGE INTO ${quoteQualified(schema, table)} tgt USING ${quoteQualified(schema, stagingTable)} src" +
      s" ON $on$matched WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"
  }

  /** Post-copy sequence realignment — reference TableCopier.scala:20-35. */
  def sequenceReset(schema: String, sequence: String, table: String, column: String): String =
    s"SELECT setval('${quoteQualified(schema, sequence)}', " +
      s"coalesce(max(${quote(column)}), 0) + 1, false) FROM ${quoteQualified(schema, table)}"

  /** Sequence reset for an ALREADY-QUALIFIED sequence name, as returned by
    * discovery (`pg_get_serial_sequence` yields e.g. `public.users_id_seq`,
    * quoted where needed) — setval takes it as a regclass literal.
    */
  def sequenceResetDiscovered(qualifiedSequence: String, schema: String, table: String, column: String): String =
    s"SELECT setval('${qualifiedSequence.replace("'", "''")}', " +
      s"coalesce(max(${quote(column)}), 0) + 1, false) FROM ${quoteQualified(schema, table)}"

  /** Defer a self-ref FK constraint around a copy transaction —
    * reference ConstraintDeferrer.scala:23-42 (PostgreSQL 9.4+).
    */
  def deferConstraint(schema: String, table: String, constraint: String): String =
    s"ALTER TABLE ${quoteQualified(schema, table)} ALTER CONSTRAINT ${quote(constraint)} DEFERRABLE INITIALLY DEFERRED"

  /** Restore a constraint's deferrability — reference ConstraintDeferrer.scala:46-60. */
  def restoreConstraint(schema: String, table: String, constraint: String, deferrable: Boolean, initiallyDeferred: Boolean): String = {
    val mode =
      if (!deferrable) "NOT DEFERRABLE"
      else if (initiallyDeferred) "DEFERRABLE INITIALLY DEFERRED"
      else "DEFERRABLE INITIALLY IMMEDIATE"
    s"ALTER TABLE ${quoteQualified(schema, table)} ALTER CONSTRAINT ${quote(constraint)} $mode"
  }
}

/** Upsert-capable JDBC sink: Spark's built-in JDBC writer only appends, so
  * ON CONFLICT semantics (reference CopyAction.scala:92-125, S5 in SURVEY
  * §2) need a custom write path — `foreachPartition` with a prepared
  * statement and `executeBatch` every `batchSize` rows (reference default
  * 5000, TableSpec.scala:22). Each partition writes on its own connection
  * in one transaction; inter-partition atomicity is the caller's concern
  * (same as any parallel JDBC load).
  *
  * Delivery semantics: Spark tasks are AT-LEAST-ONCE — a task retry, stage
  * retry, or speculative duplicate that fires AFTER a partition's commit
  * replays that partition's rows. Idempotency therefore requires an
  * [[OnConflict]] strategy against a primary key / unique constraint
  * (DoNothing makes replays no-ops; DoUpdate makes them idempotent
  * overwrites). For the plain-append path (`onConflict = None`) disable
  * speculative execution (`spark.speculation=false`, the default) and treat
  * a mid-write job failure as "truncate and reload" — exactly the posture
  * of any parallel JDBC bulk load.
  */
/** Binds one column value into a PreparedStatement slot. The seam that lets
  * database-specific value types (PostgreSQL `json`/`jsonb`, enums, ...)
  * write correctly through a generic JDBC path — the reference wraps such
  * values in `PGobject` per column (CopyAction.scala:186-197); the
  * driver-agnostic equivalent binds with `java.sql.Types.OTHER` so the
  * server casts the text to the column's declared type.
  */
trait ColumnValueWriter extends Serializable {
  def set(stmt: PreparedStatement, idx: Int, value: Any): Unit
}

object ColumnValueWriter {

  /** Plain `setObject` — correct for every standard SQL type. */
  val Default: ColumnValueWriter = (stmt: PreparedStatement, idx: Int, value: Any) => stmt.setObject(idx, value)

  /** String payload for a `json`/`jsonb` (or other server-cast) column. */
  val JsonString: ColumnValueWriter = (stmt: PreparedStatement, idx: Int, value: Any) =>
    if (value == null) stmt.setNull(idx, java.sql.Types.OTHER)
    else stmt.setObject(idx, value.toString, java.sql.Types.OTHER)

  /** Writer overrides for a table given its column→database-type map
    * (e.g. from `information_schema.columns.data_type`): JSON-typed columns
    * get [[JsonString]], everything else the default.
    */
  def forColumnTypes(types: Map[String, String]): Map[String, ColumnValueWriter] =
    types.collect {
      case (c, t) if t.equalsIgnoreCase("json") || t.equalsIgnoreCase("jsonb") => c -> JsonString
    }
}

object JdbcUpsertSink {
  private val logger = LoggerFactory.getLogger(getClass)

  /** Writes `df` into `schema.table`, one connection and one transaction
    * per partition, and returns the rows sent. The count comes from the
    * write itself (a `LongAccumulator` each partition adds to after its
    * commit), so the source plan runs once. Spark applies an action's
    * accumulator update once per task, even when the task is retried.
    */
  def write(
      df: DataFrame,
      url: String,
      connectionProperties: Properties,
      schema: String,
      table: String,
      onConflict: Option[OnConflict],
      pkColumns: Seq[String] = Seq.empty,
      batchSize: Int = 5000,
      columnWriters: Map[String, ColumnValueWriter] = Map.empty
  ): Long = {
    val columns = df.schema.fieldNames.toSeq
    val sql     = SinkSql.insert(schema, table, columns, onConflict, pkColumns)
    logger.info("Upsert SQL: {}", sql)
    val n = columns.size
    // Resolved per column ONCE on the driver; the array ships in the task
    // closure (writers are Serializable by contract).
    val writers: Array[ColumnValueWriter] =
      columns.map(c => columnWriters.getOrElse(c, ColumnValueWriter.Default)).toArray
    val sent = df.sparkSession.sparkContext.longAccumulator(s"rows sent to $schema.$table")
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn: Connection = DriverManager.getConnection(url, connectionProperties)
        try {
          conn.setAutoCommit(false)
          val stmt: PreparedStatement = conn.prepareStatement(sql)
          try {
            var pending = 0
            var total   = 0L
            rows.foreach { row =>
              var i = 0
              while (i < n) { writers(i).set(stmt, i + 1, row.get(i)); i += 1 }
              stmt.addBatch()
              pending += 1
              total += 1
              if (pending >= batchSize) { stmt.executeBatch(); pending = 0 }
            }
            if (pending > 0) stmt.executeBatch()
            conn.commit()
            sent.add(total)
          } finally stmt.close()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }
    sent.value
  }

  /** A filled staging table, ready for [[mergeStaged]]: `mergeSql` applies
    * it to its target, `rows` is what [[write]] sent into it.
    */
  final case class Staged(schema: String, stagingTable: String, mergeSql: String, rows: Long)

  /** First step of a stage-and-merge upsert: create a fresh staging table
    * `table + stagingSuffix` shaped like the target, with no constraints,
    * and append `df` into it in parallel. A table of that exact name left
    * behind by a process that died before its drop is dropped first, so
    * one writer per target table at a time is assumed. The MERGE is
    * rendered before any data moves; if the write fails, the staging
    * table is dropped and the target is untouched.
    */
  def stage(
      df: DataFrame,
      url: String,
      connectionProperties: Properties,
      schema: String,
      table: String,
      onConflict: OnConflict,
      pkColumns: Seq[String] = Seq.empty,
      batchSize: Int = 5000,
      columnWriters: Map[String, ColumnValueWriter] = Map.empty,
      stagingSuffix: String = "_GRAFT_STAGE"
  ): Staged = {
    val staging  = table + stagingSuffix
    val mergeSql = SinkSql.mergeFromStaging(schema, table, staging, df.schema.fieldNames.toSeq, onConflict, pkColumns)
    val empty    = Staged(schema, staging, mergeSql, 0L)
    withConnection(url, connectionProperties) { conn =>
      if (tableExists(conn, schema, staging)) {
        logger.warn("Dropping leftover staging table {}.{}", schema, staging)
        exec(conn, s"DROP TABLE ${Ident.quoteQualified(schema, staging)}")
      }
      exec(conn,
        s"CREATE TABLE ${Ident.quoteQualified(schema, staging)} AS " +
          s"SELECT * FROM ${Ident.quoteQualified(schema, table)} WITH NO DATA")
    }
    // No driver connection stays open while the executors write.
    try empty.copy(rows = write(df, url, connectionProperties, schema, staging, None, Seq.empty, batchSize, columnWriters))
    catch {
      case e: Throwable =>
        try withConnection(url, connectionProperties)(dropStaging(_, Seq(empty)))
        catch { case d: java.sql.SQLException => e.addSuppressed(d) }
        throw e
    }
  }

  /** Second step: apply every staged table's MERGE, in the given order
    * (parents before children under FK constraints), in ONE transaction
    * on `conn` — all of them land or none does.
    */
  def mergeStaged(conn: Connection, staged: Seq[Staged]): Unit = {
    val autoCommit = conn.getAutoCommit
    conn.setAutoCommit(false)
    try {
      staged.foreach { s =>
        logger.info("Merge SQL: {}", s.mergeSql)
        exec(conn, s.mergeSql)
      }
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.setAutoCommit(autoCommit)
  }

  /** Last step: drop each staging table. A drop that fails is logged and
    * skipped, so it never hides the error that brought the caller here;
    * the next [[stage]] of that table removes what it left.
    */
  def dropStaging(conn: Connection, staged: Seq[Staged]): Unit =
    staged.foreach { s =>
      try exec(conn, s"DROP TABLE ${Ident.quoteQualified(s.schema, s.stagingTable)}")
      catch {
        case e: java.sql.SQLException =>
          logger.warn(s"Could not drop staging table ${s.schema}.${s.stagingTable}", e)
      }
    }

  /** Upsert via stage-and-merge: [[stage]] `df`, apply its ONE atomic
    * [[SinkSql.mergeFromStaging]] on a driver connection ([[mergeStaged]]),
    * drop staging ([[dropStaging]]); returns the rows sent. Executes
    * [[OnConflict]] semantics live on any ANSI-MERGE database (Derby — the
    * embedded DB in this environment — H2, Oracle, SQL Server); PostgreSQL
    * targets can use either this or [[write]]'s native ON CONFLICT path.
    * Also the preferred BULK upsert shape: the conflict resolution is one
    * set-based join in the database, and a Spark task retry merely
    * re-appends into staging (the merge dedups), making the path tolerant
    * of at-least-once task semantics. [[graft.Graft.runJdbc]] uses the
    * three steps directly, to stage many tables at once and merge them in
    * one transaction.
    *
    * Staging rows must be unique on the conflict target (standard MERGE
    * restriction — two staged rows matching one target row is an error);
    * upstream dedup (e.g. `dropDuplicates(targetCols)`) is the caller's
    * job, same as the reference's per-row upsert.
    */
  def upsertViaStagingMerge(
      df: DataFrame,
      url: String,
      connectionProperties: Properties,
      schema: String,
      table: String,
      onConflict: OnConflict,
      pkColumns: Seq[String] = Seq.empty,
      batchSize: Int = 5000,
      columnWriters: Map[String, ColumnValueWriter] = Map.empty,
      stagingSuffix: String = "_GRAFT_STAGE"
  ): Long = {
    val staged =
      stage(df, url, connectionProperties, schema, table, onConflict, pkColumns, batchSize, columnWriters, stagingSuffix)
    withConnection(url, connectionProperties) { conn =>
      try mergeStaged(conn, Seq(staged))
      finally dropStaging(conn, Seq(staged))
    }
    staged.rows
  }

  private def withConnection[T](url: String, connectionProperties: Properties)(f: Connection => T): T = {
    val conn = DriverManager.getConnection(url, connectionProperties)
    try f(conn)
    finally conn.close()
  }

  /** Whether `schema.table` exists, by exact name: `getTables` takes
    * patterns, and `_` in a staging name matches any character there.
    */
  private def tableExists(conn: Connection, schema: String, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, schema, table, null)
    try
      Iterator.continually(rs).takeWhile(_.next())
        .exists(r => r.getString("TABLE_NAME") == table && r.getString("TABLE_SCHEM") == schema)
    finally rs.close()
  }

  private def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.executeUpdate(sql)
    finally st.close()
  }

  /** [[write]] wrapped in self-ref constraint deferral: discovers `table`'s
    * self-referencing FK constraints on the target, defers them, writes,
    * restores — the reference's per-table orchestration
    * (TableCopier.scala:66-68). Hierarchical rows arrive in partition
    * order, so a child can precede its parent; deferral moves the FK check
    * to COMMIT. No-op wrapper when the table has no self-ref constraint.
    */
  def writeDeferringSelfRefs(
      df: DataFrame,
      url: String,
      connectionProperties: Properties,
      schema: String,
      table: String,
      onConflict: Option[OnConflict],
      pkColumns: Seq[String] = Seq.empty,
      batchSize: Int = 5000,
      columnWriters: Map[String, ColumnValueWriter] = Map.empty
  ): Long =
    withConnection(url, connectionProperties) { conn =>
      val constraints = ConstraintDeferrer.selfRefConstraints(conn, schema, table)
      ConstraintDeferrer.onConnection(conn).withDeferred(constraints) {
        write(df, url, connectionProperties, schema, table, onConflict, pkColumns, batchSize, columnWriters)
      }
    }

  /** Execute a post-copy sequence reset for every discovered sequence
    * ([[graft.sources.JdbcCatalog.discoverSequences]]) — reference
    * TableCopier.scala:20-35 semantics: next value = max(column)+1.
    */
  def resetSequences(
      conn: Connection,
      schema: String,
      sequences: Seq[graft.sources.JdbcCatalog.SequenceInfo]
  ): Unit =
    sequences.foreach { s =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(SinkSql.sequenceResetDiscovered(s.sequence, schema, s.table, s.column))
        rs.close()
      } finally st.close()
    }
}

package graft

import graft.dsl.{OutputColumn, TableSpec}
import graft.plans.{CoverageValidator, FilterPropagation, SchemaManifest, TableSorter}
import graft.sinks.JdbcUpsertSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import java.sql.DriverManager
import java.util.concurrent.Executors
import scala.concurrent.ExecutionContext
import scala.util.Success

/** High-level orchestrator: anonymized, optionally subsetted copies of a
  * multi-table catalog — the Spark-native analogue of the reference's
  * `DbCopier` (simple-anonymizer/src/scala/simpleanonymizer/DbCopier.scala:51-163).
  *
  * Per-table `TableSpec`s only need non-PK/non-FK columns: key columns are
  * passed through automatically (explicit entries win). Coverage is
  * validated BEFORE any data moves. Filters propagate through the FK graph
  * (semi joins + self-ref closures). Tables are planned in FK-topological
  * levels; for parquet sinks the level order is only a scheduling hint, for
  * FK-constrained JDBC sinks it is load-bearing.
  *
  * Snapshot consistency: the reference exports a PostgreSQL snapshot so all
  * per-table cursors see one point in time (DbCopier.scala:130-145). For
  * immutable lake sources this is a no-op; for JDBC sources, supply a
  * catalog of frames built from a single exported snapshot.
  */
class Graft(
    catalog: Map[String, DataFrame],
    manifest: SchemaManifest,
    skippedTables: Set[String] = Set.empty
) {
  private val logger = LoggerFactory.getLogger(getClass)

  /** Merge automatic PK/FK passthrough columns into each spec (explicit spec
    * entries take precedence) — reference DbCopier.scala:85-99.
    */
  private def addKeys(specs: Map[String, TableSpec]): Map[String, TableSpec] =
    specs.map { case (tableName, spec) =>
      val keyColumns =
        (manifest.pks.getOrElse(tableName, Seq.empty) ++
          manifest.fkColumnsByTable.getOrElse(tableName, Set.empty).toSeq.sorted)
          .map(OutputColumn.SourceColumn(_))
      tableName -> spec.copy(
        columns = (spec.columns ++ keyColumns).distinctBy(_.name)
      )
    }

  /** Build the per-table output plan: validation, filter propagation, key
    * merge, projection compile. Pure planning — nothing executes until the
    * returned frames are acted on.
    */
  def plan(tableSpecs: (String, TableSpec)*): Map[String, DataFrame] = {
    val schemas  = catalog.map { case (t, df) => t -> df.schema.fieldNames.toSeq }
    val specsMap = addKeys(tableSpecs.toMap)

    specsMap.foreach { case (t, spec) =>
      catalog.get(t).foreach(_ => CoverageValidator.ensureKnownColumns(t, spec, schemas(t)))
    }
    CoverageValidator.validate(manifest.tables, skippedTables, specsMap, manifest, schemas)

    val rawSpecs = tableSpecs.toMap
    val effective = FilterPropagation.computeFilteredTables(
      catalog,
      manifest,
      t => rawSpecs.get(t).flatMap(_.whereClause)
    )

    // Tables caught in a cross-table FK cycle receive no topological level,
    // so FilterPropagation never visits them. Mirror the reference DbCopier:
    // warn and proceed without them rather than failing the whole plan
    // (reference TableSorter drops them with a 'will not be copied' warning).
    val unleveled = specsMap.keySet -- skippedTables -- effective.keySet
    if (unleveled.nonEmpty)
      logger.warn(
        "Tables in an FK cycle will not be copied: {}",
        unleveled.toSeq.sorted.mkString(", ")
      )

    specsMap.collect {
      case (t, spec) if !skippedTables.contains(t) && effective.contains(t) =>
        // The effective frame already carries the explicit filter — compile
        // only projection/limit on top of it.
        t -> spec.copy(whereClause = None).compile(effective(t))
    }
  }

  /** Execute the plan into parquet at `outDir/<table>`, levels sequential,
    * tables within a level in parallel (reference DbCopier.scala:57-83);
    * returns per-table row counts (reference returns Map[table -> count]).
    * A level fails only after every table of it has finished; the first
    * failure is thrown with the others attached as suppressed exceptions.
    */
  def run(outDir: String, spark: SparkSession)(tableSpecs: (String, TableSpec)*): Map[String, Long] = {
    val plans  = plan(tableSpecs: _*)
    val levels = TableSorter(manifest.tables, manifest.fks)
    logger.info("Copying {} tables in {} levels...", plans.size, levels.size)

    val pool             = Executors.newFixedThreadPool(math.max(2, levels.map(_.size).max))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      levels.foldLeft(Map.empty[String, Long]) { (acc, level) =>
        val writes = level.collect {
          case table if skippedTables.contains(table) =>
            () => table -> 0L
          case table if plans.contains(table) =>
            () => {
              val path = s"$outDir/$table"
              plans(table).write.mode("overwrite").parquet(path)
              // Parquet footer metadata makes this count a metadata-only read.
              table -> spark.read.parquet(path).count()
            }
        }
        acc ++ Parallel.all(writes)
      }
    } finally pool.shutdown()
  }

  /** Execute the plan into a TARGET DATABASE — the full reference workflow
    * (DbCopier.run), with sequences realigned afterwards when a discovery
    * query is supplied. How tables are ordered depends on `upsertVia`:
    *
    *  - `StageAndMerge` (with an `onConflict`): every planned table is
    *    staged at once ([[graft.sinks.JdbcUpsertSink.stage]]) — staging
    *    tables carry no constraints, so the Spark writes need no order and
    *    Spark's task slots alone cap the open target connections. Then
    *    the MERGEs run in FK-topological order in ONE transaction on a
    *    driver connection ([[graft.sinks.JdbcUpsertSink.mergeStaged]]):
    *    the refresh lands whole or not at all. If any staging write fails,
    *    the target is not touched. Every staging table created is dropped
    *    either way.
    *  - otherwise every write goes straight into the FK-constrained
    *    target, so levels run in FK-topological order (parents commit
    *    before the children that reference them), tables within a level
    *    in parallel, self-referencing constraints deferred around each
    *    table's write ([[graft.sinks.JdbcUpsertSink.writeDeferringSelfRefs]]).
    *
    * When several tables fail, the first failure is thrown with the
    * others attached as suppressed exceptions.
    *
    * @param onConflict  upsert strategy per the reference's CopyAction;
    *                    None = plain append (see JdbcUpsertSink's
    *                    at-least-once note)
    * @param upsertVia   how `onConflict` executes: `InsertOnConflict`
    *                    renders PostgreSQL `INSERT .. ON CONFLICT` per
    *                    batch row; `StageAndMerge` appends into staging
    *                    tables and applies one ANSI `MERGE` per table (any
    *                    MERGE-capable database — Derby/H2/Oracle/SQL
    *                    Server — and the bulk-friendly shape on all of
    *                    them). Ignored when `onConflict` is None.
    * @param sequenceDiscovery dialect SQL for
    *                    [[graft.sources.JdbcCatalog.discoverSequences]]
    *                    (PG: `JdbcCatalog.PgSequenceDiscoverySql`); None
    *                    skips sequence reset (e.g. Derby targets)
    * @return rows the sink sent per table (counted by the write itself,
    *         so the source plans run once; 0 for skipped tables)
    */
  def runJdbc(
      url: String,
      connectionProperties: java.util.Properties,
      targetSchema: String,
      onConflict: Option[graft.sinks.OnConflict] = None,
      sequenceDiscovery: Option[String] = None,
      upsertVia: Graft.UpsertPath = Graft.UpsertPath.InsertOnConflict
  )(tableSpecs: (String, TableSpec)*): Map[String, Long] = {
    val plans  = plan(tableSpecs: _*)
    val levels = TableSorter(manifest.tables, manifest.fks)
    logger.info("Copying {} tables into {} in {} levels...", plans.size, targetSchema, levels.size)
    def pks(table: String) = manifest.pks.getOrElse(table, Seq.empty)
    val skipped = levels.flatten.filter(skippedTables.contains).map(_ -> 0L).toMap

    val pool             = Executors.newFixedThreadPool(math.max(2, plans.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val counts =
      try onConflict match {
        case Some(oc) if upsertVia == Graft.UpsertPath.StageAndMerge =>
          val fkOrder = levels.flatten.filter(plans.contains)
          val outcomes = Parallel.awaitAll(fkOrder.map { table =>
            () => table -> JdbcUpsertSink.stage(plans(table), url, connectionProperties, targetSchema, table, oc, pks(table))
          })
          val conn = DriverManager.getConnection(url, connectionProperties)
          try {
            try {
              val staged = Parallel.valuesOrFirstFailure(outcomes)
              JdbcUpsertSink.mergeStaged(conn, staged.map(_._2))
              skipped ++ staged.map { case (table, s) => table -> s.rows }
            } finally JdbcUpsertSink.dropStaging(conn, outcomes.collect { case Success((_, s)) => s })
          } finally conn.close()
        case _ =>
          levels.foldLeft(skipped) { (acc, level) =>
            val writes = level.filter(plans.contains).map { table =>
              () => table -> JdbcUpsertSink.writeDeferringSelfRefs(
                plans(table), url, connectionProperties, targetSchema, table, onConflict, pks(table))
            }
            acc ++ Parallel.all(writes)
          }
      } finally pool.shutdown()

    sequenceDiscovery.foreach { query =>
      val conn = DriverManager.getConnection(url, connectionProperties)
      try {
        val seqs = graft.sources.JdbcCatalog.discoverSequences(conn, targetSchema, query)
        logger.info("Resetting {} sequences...", seqs.size)
        JdbcUpsertSink.resetSequences(conn, targetSchema, seqs)
      } finally conn.close()
    }
    counts
  }
}

object Graft {

  /** How [[Graft.runJdbc]] executes an [[graft.sinks.OnConflict]] strategy. */
  sealed trait UpsertPath
  object UpsertPath {

    /** Per-batch `INSERT .. ON CONFLICT` (PostgreSQL dialect). */
    case object InsertOnConflict extends UpsertPath

    /** Staging table + one ANSI `MERGE` ([[graft.sinks.JdbcUpsertSink.upsertViaStagingMerge]]). */
    case object StageAndMerge extends UpsertPath
  }

  /** Catalog loader for the driver-provided parquet fixture layout
    * (`<dir>/<table>.parquet`).
    */
  def parquetCatalog(spark: SparkSession, dir: String, tables: Seq[String]): Map[String, DataFrame] =
    tables.map(t => t -> spark.read.parquet(s"$dir/$t.parquet")).toMap
}

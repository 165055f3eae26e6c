package graftbench

import graft.Graft
import graft.dsl.{OutputColumn, TableSpec}
import graft.functions.Anonymizer
import graft.plans.{LogicalFK, SchemaManifest}
import graft.sinks.OnConflict
import graft.sources.JdbcCatalog
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

import java.sql.{Connection, DriverManager}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** A workload whose operation is one call the benchmark repeats back to back. */
trait BatchWorkload {
  /** Generates inputs and loads them; `rep` keeps repeated set-ups apart. */
  def setup(rep: Int): Unit
  def op(id: Int, spans: Spans): Unit
  /** Errors in the output of operation `id`; empty when it is correct. */
  def verify(id: Int): Seq[String]
  def sourceRowsPerOp: Long
  def bytesOutPerIn(): Double
  /** Rows that pass through an anonymizer in one operation. */
  def rowsAnonymizedPerOp: Long
  def describe: Map[String, Any]
  /** Untimed operations between set-up and the timed phase. */
  def warmupOps: Int
}

object CopySpecs {
  val anonymizers: Map[String, Anonymizer] = Map(
    "FullName" -> Anonymizer.FullName, "Email" -> Anonymizer.Email,
    "PhoneNumber" -> Anonymizer.PhoneNumber, "StreetAddress" -> Anonymizer.StreetAddress)

  def manifest(snow: Snowflake): SchemaManifest =
    SchemaManifest(
      snow.tables.map(_.name),
      snow.tables.map(t => t.name -> Seq(t.pk)).toMap,
      snow.fks.map(fk => LogicalFK(s"FK_${fk.child}_${fk.col}", fk.child, fk.parent, Seq(fk.col -> snow.table(fk.parent).pk))))

  /** One spec per table: every non-key column, PII columns anonymized. */
  def specs(snow: Snowflake, filters: Map[String, String]): Seq[(String, TableSpec)] =
    snow.tables.map { t =>
      val keys = (t.pk +: snow.fks.filter(_.child == t.name).map(_.col)).toSet
      val cols: Seq[OutputColumn] = t.cols.filterNot(c => keys(c.name)).map { c =>
        c.pii.fold[OutputColumn](OutputColumn.SourceColumn(c.name))(a => OutputColumn.SourceColumn(c.name).mapString(anonymizers(a)))
      }
      val spec = TableSpec(cols)
      t.name -> filters.get(t.name).fold(spec)(spec.where)
    }

  def rowsAnonymized(snow: Snowflake, kept: Map[String, Set[Long]]): Long =
    snow.tables.filter(_.cols.exists(_.pii.nonEmpty)).map(t => kept(t.name).size.toLong).sum

  def sparkType(kind: String): DataType = kind match {
    case "long"   => LongType
    case "int"    => IntegerType
    case "double" => DoubleType
    case "string" => StringType
  }

  def describe(snow: Snowflake, kept: Map[String, Set[Long]]): Map[String, Any] = Map(
    "rows" -> snow.tables.map(t => t.name -> t.rows.size).toMap,
    "kept_rows" -> snow.tables.map(t => t.name -> kept(t.name).size).toMap,
    "hierarchy_depth" -> snow.hierarchyDepth,
    "customer_selectivity" -> kept("CUSTOMER").size.toDouble / snow.table("CUSTOMER").rows.size)
}

/** `subset_copy`: `Graft.run` from parquet into a fresh parquet directory,
  * keeping one customer segment (~2%) and the active employee hierarchy.
  */
final class SubsetCopy(spark: SparkSession, seed: Long, work: String) extends BatchWorkload {
  private val size = Snowflake.Size(customers = 5000, employees = 400, ordersPerCustomer = 4,
    linesPerOrder = 3, parts = 500, suppliers = 50)
  private val filters = Map("CUSTOMER" -> s"C_SEGMENT = '${Snowflake.KeptSegment}'", "EMPLOYEE" -> "E_ACTIVE = 1")

  private var snow: Snowflake             = _
  private var kept: Map[String, Set[Long]] = _
  private var inDir: String               = _
  private var referenceHash: Option[Long] = None
  private var outBytes                    = 0L

  private def outDir(id: Int) = s"$work/out/op$id"

  def setup(rep: Int): Unit = {
    snow = Snowflake.generate(seed, size)
    kept = snow.expectedSubset
    inDir = s"$work/in$rep"
    referenceHash = None
    snow.tables.foreach { t =>
      val schema = StructType(t.cols.map(c => StructField(c.name, CopySpecs.sparkType(c.kind))))
      spark.createDataFrame(t.rows.map(r => Row.fromSeq(r.toSeq)).asJava, schema)
        .write.parquet(s"$inDir/${t.name}.parquet")
    }
  }

  def op(id: Int, spans: Spans): Unit = {
    val catalog = spans("sources.catalog", id)(Graft.parquetCatalog(spark, inDir, snow.tables.map(_.name)))
    val graft   = new Graft(catalog, CopySpecs.manifest(snow))
    spans("Graft.run", id)(graft.run(outDir(id), spark)(CopySpecs.specs(snow, filters): _*))
  }

  def verify(id: Int): Seq[String] = {
    val dir = outDir(id)
    val out = snow.tables.map { t =>
      t.name -> spark.read.parquet(s"$dir/${t.name}").select(t.cols.map(c => org.apache.spark.sql.functions.col(c.name)): _*)
        .collect().toSeq.map(_.toSeq.toArray[Any])
    }.toMap
    val verdict = Verifier.verify(snow, kept, out)
    val same = referenceHash.forall(_ == verdict.contentHash)
    if (referenceHash.isEmpty) referenceHash = Some(verdict.contentHash)
    outBytes = Files.bytes(dir)
    Files.delete(dir)
    verdict.errors ++ (if (same) Nil else Seq("content hash differs from the first operation's"))
  }

  def sourceRowsPerOp: Long = snow.rowCount
  def bytesOutPerIn(): Double = outBytes.toDouble / Files.bytes(inDir)
  def rowsAnonymizedPerOp: Long = CopySpecs.rowsAnonymized(snow, kept)
  def describe: Map[String, Any] = CopySpecs.describe(snow, kept) ++ Map("input_bytes" -> Files.bytes(inDir))
  def warmupOps: Int = 5
}

/** `full_refresh`: `Graft.runJdbc` with DO UPDATE through stage-and-merge,
  * from an in-memory Derby source schema into an FK-constrained target
  * that already holds every key. No filter; every PII column anonymized.
  */
final class FullRefresh(spark: SparkSession, seed: Long) extends BatchWorkload {
  private val size = Snowflake.Size(customers = 500, employees = 200, ordersPerCustomer = 3,
    linesPerOrder = 2, parts = 100, suppliers = 20)
  private val props = new Properties()

  private var snow: Snowflake             = _
  private var all: Map[String, Set[Long]] = _
  private var url: String                 = _
  private var rowBytes                    = (0L, 0L)
  private var reps                        = List.empty[Int]
  private var referenceHash: Option[Long] = None

  private def sqlType(kind: String) = kind match {
    case "long"   => "BIGINT"
    case "int"    => "INT"
    case "double" => "DOUBLE"
    case "string" => "VARCHAR(120)"
  }

  private def ddl(schema: String, t: Table): String = {
    val cols = t.cols.map { c =>
      s"${c.name} ${sqlType(c.kind)}" + (if (c.name == t.pk) " NOT NULL PRIMARY KEY" else "")
    }
    val fks = snow.fks.filter(_.child == t.name).map { fk =>
      s"CONSTRAINT ${schema}_FK_${t.name}_${fk.col} FOREIGN KEY (${fk.col}) " +
        s"REFERENCES $schema.${fk.parent}(${snow.table(fk.parent).pk})"
    }
    s"CREATE TABLE $schema.${t.name} (${(cols ++ fks).mkString(", ")})"
  }

  private def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  def setup(rep: Int): Unit = {
    // Drop the previous repetition's database; each repetition loads its own.
    reps.foreach(r =>
      try DriverManager.getConnection(s"jdbc:derby:memory:graftbench$r;drop=true").close()
      catch { case _: java.sql.SQLException => () })
    reps = List(rep)
    snow = Snowflake.generate(seed, size)
    all = snow.tables.map(t => t.name -> t.rows.map(_(0).asInstanceOf[Long]).toSet).toMap
    url = s"jdbc:derby:memory:graftbench$rep;create=true"
    referenceHash = None
    withConn { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      Seq("SRC", "TGT").foreach { schema =>
        st.executeUpdate(s"CREATE SCHEMA $schema")
        snow.tables.foreach(t => st.executeUpdate(ddl(schema, t)))
        // The target starts with every source row, so every refreshed key conflicts.
        snow.tables.foreach { t =>
          val ins = c.prepareStatement(
            s"INSERT INTO $schema.${t.name} VALUES (${t.cols.map(_ => "?").mkString(", ")})")
          t.rows.foreach { r =>
            r.indices.foreach { i =>
              if (r(i) == null) ins.setNull(i + 1, java.sql.Types.BIGINT) else ins.setObject(i + 1, r(i))
            }
            ins.addBatch()
          }
          ins.executeBatch()
          ins.close()
        }
      }
      st.close()
      c.commit()
    }
  }

  def op(id: Int, spans: Spans): Unit = {
    val (manifest, catalog) = spans("sources.catalog", id) {
      val m = withConn(JdbcCatalog.manifestFromMetadata(_, "SRC"))
      (m, JdbcCatalog.catalog(spark, url, props, "SRC", m))
    }
    spans("Graft.runJdbc", id)(
      new Graft(catalog, manifest).runJdbc(url, props, "TGT", onConflict = Some(OnConflict.doUpdate),
        upsertVia = Graft.UpsertPath.StageAndMerge)(CopySpecs.specs(snow, Map.empty): _*))
  }

  def verify(id: Int): Seq[String] = {
    val out = withConn { c =>
      val st = c.createStatement()
      try snow.tables.map { t =>
        val rs   = st.executeQuery(s"SELECT ${t.cols.map(_.name).mkString(", ")} FROM TGT.${t.name}")
        val rows = Iterator.continually(rs).takeWhile(_.next()).map(r => t.cols.indices.map(i => r.getObject(i + 1)).toArray[Any]).toVector
        rs.close()
        t.name -> (rows: Seq[Array[Any]])
      }.toMap
      finally st.close()
    }
    val verdict = Verifier.verify(snow, all, out)
    rowBytes = (snow.tables.map(t => Verifier.rowBytes(out.getOrElse(t.name, Nil))).sum,
      snow.tables.map(t => Verifier.rowBytes(t.rows)).sum)
    val same = referenceHash.forall(_ == verdict.contentHash)
    if (referenceHash.isEmpty) referenceHash = Some(verdict.contentHash)
    verdict.errors ++ (if (same) Nil else Seq("target checksum differs from the first refresh's"))
  }

  def sourceRowsPerOp: Long = snow.rowCount
  /** Row bytes the target holds after a refresh per source row byte. */
  def bytesOutPerIn(): Double = rowBytes._1.toDouble / rowBytes._2
  def rowsAnonymizedPerOp: Long = CopySpecs.rowsAnonymized(snow, all)
  def describe: Map[String, Any] =
    CopySpecs.describe(snow, all) ++ Map("source_row_bytes" -> snow.tables.map(t => Verifier.rowBytes(t.rows)).sum)
  /** A refresh keeps getting faster for about fourteen operations: the JIT
    * is still compiling the classes Derby and Spark generate for it.
    */
  def warmupOps: Int = 14
}

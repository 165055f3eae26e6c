package graft.tools

import graft.Graft
import graft.functions.{GraftFunctions, Lens}
import org.apache.spark.sql.functions._

/** Smoke drive: applies the anonymizer UDF surface + a JSON lens over the
  * driver-provided parquet fixtures and prints samples. Usage:
  *   runMain graft.tools.Smoke [sfDir]
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session()

    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    val anon = customer.select(
      col("c_custkey"),
      col("c_name"),
      GraftFunctions.fullName(col("c_name")).as("anon_name"),
      GraftFunctions.email(col("c_name")).as("anon_email"),
      GraftFunctions.phoneNumber(col("c_name")).as("anon_phone"),
      GraftFunctions.city(col("c_mktsegment")).as("anon_city"),
      GraftFunctions.partialRedact(2, 2)(col("c_name")).as("partial"),
    )
    println("=== anonymized customer sample ===")
    anon.show(5, truncate = false)

    // Determinism across the whole table: same input → same output.
    val distinctPairs = anon.select("c_name", "anon_email").distinct().count()
    val distinctNames = customer.select("c_name").distinct().count()
    println(s"determinism: distinct (name,email) pairs = $distinctPairs, distinct names = $distinctNames")

    // Tpch.events normalizes ts to long nanos across fixture generations
    // (legacy TIMESTAMP(NANOS) long mapping vs TIMESTAMP(MICROS) NTZ).
    val events = graft.Tpch.events(spark, sfDir)
    val lensed = events.select(
      col("event_id"),
      col("props"),
      GraftFunctions.lensUdf(Lens.Field("k"), _ => "REDACTED")(col("props")).as("props_k_lens"),
    )
    println("=== lens over events.props (k is numeric → warn+passthrough contract) ===")
    lensed.show(3, truncate = false)

    // A string-field JSON built on the fly, lens targets "name".
    val synth = customer.limit(3).select(
      concat(lit("{\"name\": \""), col("c_name"), lit("\", \"seg\": \""), col("c_mktsegment"), lit("\"}")).as("j")
    )
    val out = synth.select(
      col("j"),
      GraftFunctions.lensUdf(Lens.Field("name"), graft.functions.Anonymizer.FullName)(col("j")).as("j_anon")
    )
    println("=== lens Field(name) with FullName anonymizer ===")
    out.show(3, truncate = false)

    // Full pipeline drive: subsetting + anonymization across the FK graph
    // region ← nation ← {customer, supplier}, orders ← customer, lineitem ← orders.
    import graft.dsl.TableSpec
    import graft.plans.{LogicalFK, SchemaManifest}
    val tables = Seq("region", "nation", "customer", "orders", "lineitem")
    val manifest = SchemaManifest(
      tables = tables,
      pks = Map(
        "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
        "customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
        "lineitem" -> Seq("l_orderkey", "l_linenumber")
      ),
      fks = Seq(
        LogicalFK("fk_nation_region", "nation", "region", Seq(("n_regionkey", "r_regionkey"))),
        LogicalFK("fk_cust_nation", "customer", "nation", Seq(("c_nationkey", "n_nationkey"))),
        LogicalFK("fk_orders_cust", "orders", "customer", Seq(("o_custkey", "c_custkey"))),
        LogicalFK("fk_li_orders", "lineitem", "orders", Seq(("l_orderkey", "o_orderkey")))
      )
    )
    val catalog = Graft.parquetCatalog(spark, sfDir, tables)
    val graftRunner = new Graft(catalog, manifest)
    val outDir = java.nio.file.Files.createTempDirectory("graft-smoke").toString
    val counts = graftRunner.run(outDir, spark)(
      "region"   -> TableSpec.select(row => Seq(row.r_name)).where("r_regionkey = 0"),
      "nation"   -> TableSpec.select(row => Seq(row.n_name)),
      "customer" -> TableSpec.select(row => Seq(
        row.c_name.mapString(graft.functions.Anonymizer.FullName),
        row.c_acctbal, row.c_mktsegment)),
      "orders"   -> TableSpec.select(row => Seq(
        row.o_orderstatus, row.o_totalprice, row.o_orderdate, row.o_orderpriority)),
      "lineitem" -> TableSpec.select(row => Seq(
        row.l_partkey, row.l_suppkey, row.l_quantity, row.l_extendedprice,
        row.l_discount, row.l_tax, row.l_returnflag, row.l_linestatus, row.l_shipdate))
    )
    println(s"=== graft run (region filter propagated 4 hops) ===")
    println(s"counts: $counts")
    println(s"wrote to $outDir")

    // Driver-contract smoke: flagship entry must return rows.
    val entryRows = graft.SparkEntry.entry(spark).count()
    println(s"=== SparkEntry.entry rows: $entryRows ===")
    require(entryRows > 0, "entry() returned no rows")

    spark.stop()
  }
}

package graft

import graft.dsl.TableSpec
import graft.functions.Anonymizer
import graft.plans.{CoverageValidator, LogicalFK, SchemaManifest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class GraftSpec extends SparkSpec {

  private lazy val users = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1, "Ann", "ann@real.com"),
      Row(2, "Bob", "bob@real.com"),
      Row(3, "Cid", null)
    ),
    StructType(Seq(
      StructField("id", IntegerType, false),
      StructField("name", StringType),
      StructField("email", StringType)
    ))
  )
  private lazy val orders = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(10, 1, "note-a"),
      Row(11, 3, "note-b")
    ),
    StructType(Seq(
      StructField("id", IntegerType, false),
      StructField("user_id", IntegerType, false),
      StructField("note", StringType)
    ))
  )

  private lazy val manifest = SchemaManifest(
    tables = Seq("users", "orders"),
    pks = Map("users" -> Seq("id"), "orders" -> Seq("id")),
    fks = Seq(LogicalFK("fk_orders_users", "orders", "users", Seq(("user_id", "id"))))
  )
  private lazy val graft = new Graft(Map("users" -> users, "orders" -> orders), manifest)

  describe("Tpch.events fixture-generation tolerance") {
    // The driver has shipped events.ts as both TIMESTAMP(NANOS) (read as
    // a nanos long under the legacy conf) and TIMESTAMP(MICROS) (read as
    // TIMESTAMP_NTZ). Tpch.events must normalize BOTH physical forms to
    // the same nanos-epoch LongType — pin each branch against a fixture
    // written here, so a future fixture flip can't silently break one.
    it("normalizes legacy nanos-long and timestamp fixtures to the same nanos epoch") {
      import org.apache.spark.sql.functions._
      val micros = 1700000000123456L // µs since epoch
      val dir = java.nio.file.Files.createTempDirectory("events_forms_").toString
      try {
        // Legacy form: a plain LongType nanos column named ts.
        spark.range(1).select(
          lit(1L).as("event_id"), lit(micros * 1000L).as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"),
          lit(1.5).as("value"), lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
        // Refreshed form: a true timestamp column (µs precision).
        spark.range(1).select(
          lit(1L).as("event_id"), timestamp_micros(lit(micros)).as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"),
          lit(1.5).as("value"), lit("{}").as("props"))
          .write.mode("overwrite").parquet(s"$dir/ts/events.parquet")
        val legacy  = Tpch.events(spark, s"$dir/nanos")
        val refresh = Tpch.events(spark, s"$dir/ts")
        legacy.schema("ts").dataType shouldBe LongType
        refresh.schema("ts").dataType shouldBe LongType
        legacy.select("ts").head.getLong(0) shouldBe micros * 1000L
        refresh.select("ts").head.getLong(0) shouldBe micros * 1000L
      } finally {
        def rm(p: java.io.File): Unit = { Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); () }
        rm(new java.io.File(dir))
      }
    }
  }

  describe("plan") {
    it("auto-passes PK/FK columns through and applies transforms") {
      val plans = graft.plan(
        "users"  -> TableSpec.select(row => Seq(row.name.mapString(Anonymizer.FirstName), row.email.mapString(Anonymizer.Email))),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      plans("users").columns should contain("id") // merged PK
      plans("orders").columns.toSet shouldBe Set("note", "id", "user_id") // merged PK + FK
      val names = plans("users").select("name").collect().map(_.getString(0))
      names.foreach(n => _root_.graft.functions.DataLists.firstNames should contain(n))
    }
    it("explicit spec entries override automatic key passthrough") {
      val plans = graft.plan(
        "users"  -> TableSpec.select(row => Seq(row.id := 0, row.name, row.email)),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      plans("users").select("id").collect().map(_.getInt(0)).distinct shouldBe Array(0)
    }
    it("propagates filters into the plan (orders of filtered users)") {
      val plans = graft.plan(
        "users"  -> TableSpec.select(row => Seq(row.name, row.email)).where("id <= 1"),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      plans("orders").select("id").collect().map(_.getInt(0)) shouldBe Array(10)
    }
    it("fails fast when a table has no spec, with a copy-pastable snippet") {
      val e = intercept[IllegalArgumentException] {
        graft.plan("users" -> TableSpec.select(row => Seq(row.name, row.email)))
      }
      e.getMessage should include("1 table(s) have no spec")
      e.getMessage should include(""""orders" -> TableSpec.select { row =>""")
      e.getMessage should include("row.note")
      e.getMessage should not include "row.user_id" // FK columns are auto-passed
    }
    it("fails fast when a spec misses data columns") {
      val e = intercept[IllegalArgumentException] {
        graft.plan(
          "users"  -> TableSpec.select(row => Seq(row.name)),
          "orders" -> TableSpec.select(row => Seq(row.note))
        )
      }
      e.getMessage should include("Table 'users' has 1 unhandled column(s)")
      e.getMessage should include("row.email")
    }
    it("fails fast on unknown spec columns") {
      val e = intercept[IllegalArgumentException] {
        graft.plan(
          "users"  -> TableSpec.select(row => Seq(row.name, row.email, row.nope)),
          "orders" -> TableSpec.select(row => Seq(row.note))
        )
      }
      e.getMessage should include("Unknown columns in spec for table 'users': nope")
    }
    it("skipped tables need no spec and are not planned") {
      val g     = new Graft(Map("users" -> users, "orders" -> orders), manifest, skippedTables = Set("orders"))
      val plans = g.plan("users" -> TableSpec.select(row => Seq(row.name, row.email)))
      plans.keySet shouldBe Set("users")
    }
    it("tables in a cross-table FK cycle are warned about and dropped, not crashed on") {
      // a ↔ b cycle plus an independent copyable table.
      val a = spark.createDataFrame(
        java.util.Arrays.asList(Row(1, 1, "x")),
        StructType(Seq(
          StructField("id", IntegerType, false),
          StructField("b_id", IntegerType, false),
          StructField("payload", StringType)
        ))
      )
      val b = spark.createDataFrame(
        java.util.Arrays.asList(Row(1, 1, "y")),
        StructType(Seq(
          StructField("id", IntegerType, false),
          StructField("a_id", IntegerType, false),
          StructField("payload", StringType)
        ))
      )
      val cyclicManifest = SchemaManifest(
        tables = Seq("a", "b", "users"),
        pks = Map("a" -> Seq("id"), "b" -> Seq("id"), "users" -> Seq("id")),
        fks = Seq(
          LogicalFK("fk_a_b", "a", "b", Seq(("b_id", "id"))),
          LogicalFK("fk_b_a", "b", "a", Seq(("a_id", "id")))
        )
      )
      val g = new Graft(Map("a" -> a, "b" -> b, "users" -> users), cyclicManifest)
      val plans = g.plan(
        "a"     -> TableSpec.select(row => Seq(row.payload)),
        "b"     -> TableSpec.select(row => Seq(row.payload)),
        "users" -> TableSpec.select(row => Seq(row.name, row.email))
      )
      // Reference DbCopier semantics: cyclic tables are not copied; the rest
      // of the plan proceeds.
      plans.keySet shouldBe Set("users")
      plans("users").count() shouldBe 3
    }
  }

  describe("run") {
    it("writes per-table parquet and returns row counts") {
      val out = java.nio.file.Files.createTempDirectory("graft-run").toString
      val counts = graft.run(out, spark)(
        "users"  -> TableSpec.select(row => Seq(row.name.mapString(Anonymizer.FirstName), row.email.mapString(Anonymizer.Email))).where("id <= 2"),
        "orders" -> TableSpec.select(row => Seq(row.note))
      )
      counts shouldBe Map("users" -> 2L, "orders" -> 1L)
      val written = spark.read.parquet(s"$out/users")
      written.count() shouldBe 2
      // Determinism: anonymized copy is reproducible.
      written.select("name").collect().map(_.getString(0)).sorted shouldBe
        Array("Ann", "Bob").map(Anonymizer.FirstName(_)).sorted
    }
  }

  describe("run, when a table of a level fails") {
    it("throws only after every table of the level finished") {
      val schema = StructType(Seq(StructField("id", IntegerType, false), StructField("payload", StringType)))
      def table  = spark.createDataFrame(java.util.Arrays.asList(Row(1, "x")), schema)
      val g = new Graft(Map("bad" -> table, "slow" -> table),
        SchemaManifest(tables = Seq("bad", "slow"), pks = Map("bad" -> Seq("id"), "slow" -> Seq("id")), fks = Nil))
      val out = java.nio.file.Files.createTempDirectory("graft-run-fail").toString
      intercept[Exception] {
        g.run(out, spark)(
          "bad"  -> TableSpec.select(row => Seq(row.payload.mapString(_ => throw new IllegalStateException("bad plan")))),
          "slow" -> TableSpec.select(row => Seq(row.payload.mapString { s => Thread.sleep(2000); s })))
      }
      new java.io.File(s"$out/slow/_SUCCESS").exists shouldBe true
    }
  }

  describe("SQL function registration") {
    it("anon_* functions work from spark.sql and match the Scala API") {
      _root_.graft.functions.GraftFunctions.registerAll(spark)
      users.createOrReplaceTempView("users_sql")
      val viaSql = spark
        .sql("SELECT anon_full_name(name) AS fn, anon_email(email) AS em FROM users_sql WHERE id = 1")
        .head
      viaSql.getString(0) shouldBe Anonymizer.FullName("Ann")
      viaSql.getString(1) shouldBe Anonymizer.Email("ann@real.com")
    }
  }

  describe("CoverageValidator.getDataColumns") {
    it("excludes PK and FK columns") {
      CoverageValidator.getDataColumns(
        "orders", manifest,
        Map("orders" -> Seq("id", "user_id", "note"))
      ) shouldBe Seq("note")
    }
  }
}

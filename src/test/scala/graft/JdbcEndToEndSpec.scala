package graft

import graft.dsl.TableSpec
import graft.functions.Anonymizer
import graft.sinks.{JdbcUpsertSink, OnConflict}
import graft.sources.JdbcCatalog
import org.apache.spark.sql.DataFrame

import java.sql.DriverManager
import java.util.Properties

/** The full reference workflow — catalog discovery, spec DSL, filter
  * propagation, anonymization, JDBC write-back — driven end-to-end against
  * a real embedded database (Derby ships on Spark's classpath).
  */
class JdbcEndToEndSpec extends SparkSpec {
  private val url   = "jdbc:derby:memory:graftdb;create=true"
  private val props = new Properties()

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conn = DriverManager.getConnection(url)
    val st   = conn.createStatement()
    st.executeUpdate("CREATE TABLE USERS (ID INT PRIMARY KEY, NAME VARCHAR(100), EMAIL VARCHAR(200), ACTIVE INT)")
    st.executeUpdate(
      "CREATE TABLE ORDERS (ID INT PRIMARY KEY, USER_ID INT NOT NULL, NOTE VARCHAR(200), " +
        "CONSTRAINT FK_ORDERS_USERS FOREIGN KEY (USER_ID) REFERENCES USERS(ID))"
    )
    st.executeUpdate("INSERT INTO USERS VALUES (1, 'Ann Real', 'ann@real.com', 1), (2, 'Bob Real', 'bob@real.com', 1), (3, 'Cid Real', 'cid@real.com', 0)")
    st.executeUpdate("INSERT INTO ORDERS VALUES (10, 1, 'alpha'), (11, 2, 'beta'), (12, 3, 'gamma')")
    st.executeUpdate("CREATE TABLE USERS_OUT (ID INT, NAME VARCHAR(100), EMAIL VARCHAR(200), ACTIVE INT)")
    st.executeUpdate("CREATE TABLE ORDERS_OUT (ID INT, USER_ID INT, NOTE VARCHAR(200))")
    st.executeUpdate(
      "CREATE TABLE CATEGORIES (ID INT PRIMARY KEY, PARENT_ID INT, LABEL VARCHAR(50), " +
        "CONSTRAINT FK_CAT_PARENT FOREIGN KEY (PARENT_ID) REFERENCES CATEGORIES(ID))"
    )
    st.executeUpdate("CREATE TABLE WRITERS_OUT (ID INT, NOTE VARCHAR(200))")
    st.executeUpdate("CREATE TABLE STREAM_OUT (K INT PRIMARY KEY, V DOUBLE)")
    st.executeUpdate("CREATE TABLE SEQCAT (TNAME VARCHAR(50), CNAME VARCHAR(50), SNAME VARCHAR(80))")
    st.executeUpdate(
      "INSERT INTO SEQCAT VALUES ('users', 'id', 'APP.users_id_seq'), ('orders', 'id', 'APP.orders_id_seq'), ('views', 'id', NULL)"
    )
    st.close(); conn.close()
  }

  private def exec(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try sqls.foreach(st.executeUpdate)
      finally st.close()
    } finally c.close()
  }

  private def query(sql: String): List[List[Any]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n  = rs.getMetaData.getColumnCount
      Iterator.continually(rs).takeWhile(_.next()).map(r => (1 to n).map(r.getObject(_): Any).toList).toList
    } finally c.close()
  }

  private def stagingTablesLeft(): List[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.getMetaData.getTables(null, null, "%", null)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => s"${r.getString("TABLE_SCHEM")}.${r.getString("TABLE_NAME")}")
        .filter(_.endsWith("_GRAFT_STAGE")).toList
    } finally c.close()
  }

  /** Three FK-chained tables A <- B <- C in `schema`, with no rows. */
  private def createChain(schema: String): Unit =
    exec(
      s"CREATE SCHEMA $schema",
      s"CREATE TABLE $schema.A (ID INT PRIMARY KEY, V VARCHAR(20))",
      s"CREATE TABLE $schema.B (ID INT PRIMARY KEY, A_ID INT NOT NULL REFERENCES $schema.A(ID), V VARCHAR(20))",
      s"CREATE TABLE $schema.C (ID INT PRIMARY KEY, B_ID INT NOT NULL REFERENCES $schema.B(ID), V VARCHAR(20))"
    )

  private def manifestOf(schema: String) = {
    val c = DriverManager.getConnection(url)
    try JdbcCatalog.manifestFromMetadata(c, schema)
    finally c.close()
  }

  private val chainSpecs: Seq[(String, TableSpec)] =
    Seq("A", "B", "C").map(_ -> TableSpec.select(row => Seq(row.V)))

  describe("JdbcCatalog.manifestFromMetadata") {
    it("discovers tables, PKs, and FK edges from DatabaseMetaData") {
      val conn = DriverManager.getConnection(url)
      try {
        val m = JdbcCatalog.manifestFromMetadata(conn, "APP")
        m.tables should contain allOf ("USERS", "ORDERS")
        m.pks("USERS") shouldBe Seq("ID")
        val fk = m.fks.find(_.childTable == "ORDERS").get
        fk.parentTable shouldBe "USERS"
        fk.columns shouldBe Seq("USER_ID" -> "ID")
      } finally conn.close()
    }
  }

  describe("database-to-database anonymized subset copy") {
    it("discover -> plan -> anonymize -> propagate -> JDBC write-back") {
      val conn     = DriverManager.getConnection(url)
      val manifest = try JdbcCatalog.manifestFromMetadata(conn, "APP").copy(tables = Seq("USERS", "ORDERS"))
      finally conn.close()
      val srcCatalog = JdbcCatalog.catalog(spark, url, props, "APP", manifest)

      val graft = new Graft(srcCatalog, manifest)
      val plans = graft.plan(
        "USERS" -> TableSpec.select { row =>
          Seq(row.NAME.mapString(Anonymizer.FullName), row.EMAIL.mapString(Anonymizer.Email), row.ACTIVE)
        }.where("ACTIVE = 1"),
        "ORDERS" -> TableSpec.select(row => Seq(row.NOTE))
      )

      // Write back through the upsert-capable sink (plain-append path).
      JdbcUpsertSink.write(plans("USERS"), url, props, "APP", "USERS_OUT", onConflict = None)
      JdbcUpsertSink.write(plans("ORDERS"), url, props, "APP", "ORDERS_OUT", onConflict = None)

      val verify = DriverManager.getConnection(url)
      try {
        val st = verify.createStatement()
        val rs = st.executeQuery("SELECT ID, NAME, EMAIL FROM USERS_OUT ORDER BY ID")
        val users = Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2), r.getString(3))).toList
        users.map(_._1) shouldBe List(1, 2) // ACTIVE=0 user filtered out
        users.map(_._2) shouldBe List("Ann Real", "Bob Real").map(Anonymizer.FullName(_))
        users.foreach(_._3 should fullyMatch regex "[a-z]+\\.[a-z]+@(example\\.com|test\\.com|fake\\.org|sample\\.net)")

        val rs2 = st.executeQuery("SELECT ID FROM ORDERS_OUT ORDER BY ID")
        val orderIds = Iterator.continually(rs2).takeWhile(_.next()).map(_.getInt(1)).toList
        orderIds shouldBe List(10, 11) // order of inactive user propagated away
      } finally verify.close()
    }
  }

  describe("Graft.runJdbc (database-to-database, FK-constrained target)") {
    it("writes levels in FK order so constrained child inserts succeed") {
      val setup = DriverManager.getConnection(url)
      try {
        val st = setup.createStatement()
        st.executeUpdate("CREATE SCHEMA TGT")
        st.executeUpdate("CREATE TABLE TGT.USERS (ID INT PRIMARY KEY, NAME VARCHAR(100), EMAIL VARCHAR(200), ACTIVE INT)")
        st.executeUpdate(
          "CREATE TABLE TGT.ORDERS (ID INT PRIMARY KEY, USER_ID INT NOT NULL REFERENCES TGT.USERS(ID), NOTE VARCHAR(200))"
        )
        st.close()
      } finally setup.close()

      val conn     = DriverManager.getConnection(url)
      val manifest = try JdbcCatalog.manifestFromMetadata(conn, "APP").copy(tables = Seq("USERS", "ORDERS"))
      finally conn.close()
      val graft = new Graft(JdbcCatalog.catalog(spark, url, props, "APP", manifest), manifest)

      // If the level order were wrong, the ORDERS insert would hit the FK
      // constraint (its USERS rows not yet committed) and fail the run.
      val counts = graft.runJdbc(url, props, "TGT")(
        "USERS" -> TableSpec.select { row =>
          Seq(row.NAME.mapString(Anonymizer.FullName), row.EMAIL.mapString(Anonymizer.Email), row.ACTIVE)
        }.where("ACTIVE = 1"),
        "ORDERS" -> TableSpec.select(row => Seq(row.NOTE))
      )
      counts shouldBe Map("USERS" -> 2L, "ORDERS" -> 2L)

      val verify = DriverManager.getConnection(url)
      try {
        val st = verify.createStatement()
        val rs = st.executeQuery(
          "SELECT o.ID, u.NAME FROM TGT.ORDERS o JOIN TGT.USERS u ON o.USER_ID = u.ID ORDER BY o.ID"
        )
        val rows = Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2))).toList
        rows.map(_._1) shouldBe List(10, 11)
        rows.foreach(_._2 should not include "Real") // anonymized
      } finally verify.close()

      // Re-run the SAME copy with every key now conflicting, through the
      // stage-and-merge upsert path: DO NOTHING must leave the target
      // unchanged instead of failing on duplicate PKs — the full
      // orchestrated upsert workflow live on a real database.
      val counts2 = graft.runJdbc(url, props, "TGT",
        onConflict = Some(OnConflict.doNothing),
        upsertVia = Graft.UpsertPath.StageAndMerge)(
        "USERS" -> TableSpec.select { row =>
          Seq(row.NAME.mapString(Anonymizer.FullName), row.EMAIL.mapString(Anonymizer.Email), row.ACTIVE)
        }.where("ACTIVE = 1"),
        "ORDERS" -> TableSpec.select(row => Seq(row.NOTE))
      )
      counts2 shouldBe Map("USERS" -> 2L, "ORDERS" -> 2L)
      val verify2 = DriverManager.getConnection(url)
      try {
        val rs = verify2.createStatement().executeQuery("SELECT count(*) FROM TGT.USERS")
        rs.next() shouldBe true
        rs.getInt(1) shouldBe 2 // unchanged — conflicts skipped, not duplicated
      } finally verify2.close()
    }
  }

  describe("live upsert via stage-and-merge (Derby MERGE executes OnConflict semantics)") {
    // The reference runs ON CONFLICT end-to-end on PostgreSQL
    // (DbCopierIntegrationTest); this environment has no PG, but Derby's
    // ANSI MERGE executes the same DO NOTHING / DO UPDATE semantics live —
    // conflicting keys, real constraint, real data.
    def fetch(sql: String): List[(Int, String, Int)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(sql)
        Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2), r.getInt(3))).toList
      } finally c.close()
    }

    it("DO NOTHING keeps existing rows and inserts only new keys") {
      import spark.implicits._
      val setup = DriverManager.getConnection(url)
      try {
        val st = setup.createStatement()
        st.executeUpdate("CREATE TABLE UP_NOTHING (ID INT PRIMARY KEY, NAME VARCHAR(50), V INT)")
        st.executeUpdate("INSERT INTO UP_NOTHING VALUES (1, 'old-one', 10), (2, 'old-two', 20)")
        st.close()
      } finally setup.close()

      val df = Seq((2, "new-two", 99), (3, "new-three", 30)).toDF("ID", "NAME", "V")
      graft.sinks.JdbcUpsertSink.upsertViaStagingMerge(
        df, url, props, "APP", "UP_NOTHING", OnConflict.doNothing, pkColumns = Seq("ID"))

      fetch("SELECT ID, NAME, V FROM UP_NOTHING ORDER BY ID") shouldBe
        List((1, "old-one", 10), (2, "old-two", 20), (3, "new-three", 30))
      // Staging table cleaned up.
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.getMetaData.getTables(null, "APP", "UP_NOTHING_GRAFT_STAGE", null)
        rs.next() shouldBe false
      } finally conn.close()
    }

    it("DO UPDATE overwrites conflicting rows and inserts new keys") {
      import spark.implicits._
      val setup = DriverManager.getConnection(url)
      try {
        val st = setup.createStatement()
        st.executeUpdate("CREATE TABLE UP_UPDATE (ID INT PRIMARY KEY, NAME VARCHAR(50), V INT)")
        st.executeUpdate("INSERT INTO UP_UPDATE VALUES (1, 'old-one', 10), (2, 'old-two', 20)")
        st.close()
      } finally setup.close()

      val df = Seq((2, "new-two", 99), (3, "new-three", 30)).toDF("ID", "NAME", "V")
      graft.sinks.JdbcUpsertSink.upsertViaStagingMerge(
        df, url, props, "APP", "UP_UPDATE", OnConflict.doUpdate, pkColumns = Seq("ID"))

      fetch("SELECT ID, NAME, V FROM UP_UPDATE ORDER BY ID") shouldBe
        List((1, "old-one", 10), (2, "new-two", 99), (3, "new-three", 30))
    }

    it("drops a staging table a dead process left behind, then upserts") {
      import spark.implicits._
      exec(
        "CREATE TABLE UP_STALE (ID INT PRIMARY KEY, NAME VARCHAR(50), V INT)",
        "INSERT INTO UP_STALE VALUES (1, 'old-one', 10)",
        // Left by a run that died between CREATE and DROP, in another shape.
        "CREATE TABLE UP_STALE_GRAFT_STAGE (JUNK INT)",
        "INSERT INTO UP_STALE_GRAFT_STAGE VALUES (7)"
      )
      val df = Seq((1, "new-one", 11), (2, "new-two", 20)).toDF("ID", "NAME", "V")
      JdbcUpsertSink.upsertViaStagingMerge(
        df, url, props, "APP", "UP_STALE", OnConflict.doUpdate, pkColumns = Seq("ID")) shouldBe 2L
      fetch("SELECT ID, NAME, V FROM UP_STALE ORDER BY ID") shouldBe List((1, "new-one", 11), (2, "new-two", 20))
      stagingTablesLeft() shouldBe empty
    }

    it("DO UPDATE with an explicit update-column subset leaves other columns alone") {
      import spark.implicits._
      val setup = DriverManager.getConnection(url)
      try {
        val st = setup.createStatement()
        st.executeUpdate("CREATE TABLE UP_SUBSET (ID INT PRIMARY KEY, NAME VARCHAR(50), V INT)")
        st.executeUpdate("INSERT INTO UP_SUBSET VALUES (1, 'old-one', 10)")
        st.close()
      } finally setup.close()

      val df = Seq((1, "new-one", 99)).toDF("ID", "NAME", "V")
      graft.sinks.JdbcUpsertSink.upsertViaStagingMerge(
        df, url, props, "APP", "UP_SUBSET", OnConflict.doUpdate(Seq("ID"), Set("V")))

      fetch("SELECT ID, NAME, V FROM UP_SUBSET ORDER BY ID") shouldBe
        List((1, "old-one", 99)) // V updated, NAME untouched
    }
  }

  describe("Graft.runJdbc stage-and-merge (stage every table at once, merge in one transaction)") {
    import spark.implicits._

    def chainCatalog(a: Seq[(Int, String)], b: Seq[(Int, Int, String)], c: Seq[(Int, Int, String)]): Map[String, DataFrame] =
      Map("A" -> a.toDF("ID", "V"), "B" -> b.toDF("ID", "A_ID", "V"), "C" -> c.toDF("ID", "B_ID", "V"))

    it("runs one Spark job per copied table and returns the rows each write sent") {
      createChain("SM_JOBS")
      val graft = new Graft(
        chainCatalog(Seq(1 -> "a1", 2 -> "a2"), Seq((10, 1, "b1"), (11, 2, "b2")), Seq((100, 10, "c1"))),
        manifestOf("SM_JOBS"))
      val (counts, jobs) = jobsDuring(
        graft.runJdbc(url, props, "SM_JOBS", onConflict = Some(OnConflict.doUpdate),
          upsertVia = Graft.UpsertPath.StageAndMerge)(chainSpecs: _*))
      jobs shouldBe 3
      counts shouldBe Map("A" -> 2L, "B" -> 2L, "C" -> 1L)
      query("SELECT C.ID, B.ID, A.ID FROM SM_JOBS.C C JOIN SM_JOBS.B B ON C.B_ID = B.ID JOIN SM_JOBS.A A ON B.A_ID = A.ID") shouldBe
        List(List(100, 10, 1))
      stagingTablesLeft() shouldBe empty
    }

    it("returns the rows written for frames with empty partitions, on every write path") {
      createChain("SM_COUNTS")
      val manifest = manifestOf("SM_COUNTS").copy(tables = Seq("A"))
      val a        = Seq(1 -> "a1", 2 -> "a2").toDF("ID", "V").repartition(3) // at least one empty partition
      val graft    = new Graft(Map("A" -> a), manifest)
      val spec     = "A" -> TableSpec.select(row => Seq(row.V))

      // Plain append (the level-by-level path that InsertOnConflict also takes).
      graft.runJdbc(url, props, "SM_COUNTS")(spec) shouldBe Map("A" -> 2L)
      graft.runJdbc(url, props, "SM_COUNTS", onConflict = Some(OnConflict.doUpdate),
        upsertVia = Graft.UpsertPath.StageAndMerge)(spec) shouldBe Map("A" -> 2L)
      JdbcUpsertSink.upsertViaStagingMerge(a, url, props, "SM_COUNTS", "A", OnConflict.doUpdate,
        pkColumns = Seq("ID")) shouldBe 2L
      JdbcUpsertSink.writeDeferringSelfRefs(a.where("ID = 1").withColumn("ID", $"ID" + 100),
        url, props, "SM_COUNTS", "A", onConflict = None) shouldBe 1L
      query("SELECT ID FROM SM_COUNTS.A ORDER BY ID") shouldBe List(List(1), List(2), List(101))
    }

    it("rolls every MERGE back when a late one fails, and drops every staging table") {
      createChain("SM_TXN")
      exec("INSERT INTO SM_TXN.A VALUES (1, 'old')", "INSERT INTO SM_TXN.B VALUES (10, 1, 'old')")
      // C's row points at a B key that exists nowhere: its MERGE, the last
      // in FK order, fails the target's FK check after A's and B's ran.
      val graft = new Graft(
        chainCatalog(Seq(1 -> "new", 2 -> "new"), Seq((10, 1, "new")), Seq((100, 99, "dangling"))),
        manifestOf("SM_TXN"))
      an[java.sql.SQLException] should be thrownBy
        graft.runJdbc(url, props, "SM_TXN", onConflict = Some(OnConflict.doUpdate),
          upsertVia = Graft.UpsertPath.StageAndMerge)(chainSpecs: _*)
      query("SELECT ID, V FROM SM_TXN.A ORDER BY ID") shouldBe List(List(1, "old"))
      query("SELECT ID, V FROM SM_TXN.B ORDER BY ID") shouldBe List(List(10, "old"))
      query("SELECT ID FROM SM_TXN.C") shouldBe empty
      stagingTablesLeft() shouldBe empty
    }

    it("reports every table whose staging failed, not only the first") {
      createChain("SM_SHAPE")
      exec("CREATE SCHEMA SM_EMPTY") // none of the chain's tables exist here
      val graft = new Graft(
        chainCatalog(Seq(1 -> "a"), Seq((10, 1, "b")), Seq((100, 10, "c"))), manifestOf("SM_SHAPE"))
      val e = the[java.sql.SQLException] thrownBy
        graft.runJdbc(url, props, "SM_EMPTY", onConflict = Some(OnConflict.doUpdate),
          upsertVia = Graft.UpsertPath.StageAndMerge)(chainSpecs: _*)
      val messages = (e +: e.getSuppressed.toSeq).map(_.getMessage)
      messages should have size 3
      Seq("SM_EMPTY.A", "SM_EMPTY.B", "SM_EMPTY.C").foreach(t => messages.exists(_.contains(t)) shouldBe true)
      stagingTablesLeft() shouldBe empty
    }
  }

  describe("ConstraintDeferrer.selfRefConstraints") {
    it("discovers the self-ref FK with its original (non-)deferrability") {
      val conn = DriverManager.getConnection(url)
      try {
        val cs = graft.sinks.ConstraintDeferrer.selfRefConstraints(conn, "APP", "CATEGORIES")
        cs.map(_.name) shouldBe Seq("FK_CAT_PARENT")
        cs.head.deferrable shouldBe false // Derby FKs are never deferrable
        // Cross-table FKs are NOT picked up (ORDERS→USERS is not self-ref).
        graft.sinks.ConstraintDeferrer.selfRefConstraints(conn, "APP", "ORDERS") shouldBe empty
      } finally conn.close()
    }
    it("writeDeferringSelfRefs is a clean no-op wrapper for tables without self-refs") {
      import spark.implicits._
      val df = Seq((100, "wrapped")).toDF("ID", "NOTE")
      JdbcUpsertSink.writeDeferringSelfRefs(df, url, props, "APP", "WRITERS_OUT", onConflict = None)
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery("SELECT NOTE FROM WRITERS_OUT WHERE ID = 100")
        rs.next() shouldBe true
        rs.getString(1) shouldBe "wrapped"
      } finally conn.close()
    }
  }

  describe("SnapshotCoordinator") {
    import graft.sources.SnapshotCoordinator
    it("holds a REPEATABLE READ transaction and yields the exported id") {
      // Derby has no pg_export_snapshot; the injectable export statement
      // exercises the held-transaction lifecycle against a real database.
      val got = SnapshotCoordinator.withSnapshot(
        () => DriverManager.getConnection(url),
        exportSql = "VALUES 'snap-42'"
      ) { id => id }
      got shouldBe "snap-42"
    }
    it("close never throws, even after the connection is gone") {
      val c = SnapshotCoordinator.export(() => DriverManager.getConnection(url), exportSql = "VALUES 'x'")
      c.close()
      noException should be thrownBy c.close()
    }
    it("withSnapshot pairs with JdbcCatalog.withSnapshot worker properties") {
      val p = JdbcCatalog.withSnapshot(props, "snap-42")
      p.getProperty("sessionInitStatement") should include("SET TRANSACTION SNAPSHOT 'snap-42'")
    }
  }

  describe("JdbcCatalog.readTable partitioned") {
    it("N-way range partitioning reads every row exactly once") {
      val df = JdbcCatalog.readTable(
        spark, url, props, "APP", "USERS",
        partitioning = Some(JdbcCatalog.PartitionSpec("ID", 1, 4, 2))
      )
      df.rdd.getNumPartitions shouldBe 2
      df.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3)
    }
    it("a where predicate is pushed into the source scan (filters before transfer)") {
      val df = JdbcCatalog.readTable(
        spark, url, props, "APP", "USERS",
        where = Some("\"ID\" >= 2")
      )
      df.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(2, 3)
      // Composes with range partitioning (the derived table is what gets
      // range-split).
      val parts = JdbcCatalog.readTable(
        spark, url, props, "APP", "USERS",
        partitioning = Some(JdbcCatalog.PartitionSpec("ID", 1, 4, 2)),
        where = Some("\"ID\" <> 2")
      )
      parts.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(1, 3)
    }
  }

  describe("JdbcCatalog.discoverSequences") {
    it("runs the (injectable) discovery query, binding schema to every placeholder") {
      val conn = DriverManager.getConnection(url)
      try {
        val seqs = JdbcCatalog.discoverSequences(
          conn, "APP",
          query = "SELECT TNAME, CNAME, SNAME FROM APP.SEQCAT WHERE ? <> 'never'"
        )
        seqs.map(_.sequence) shouldBe Seq("APP.users_id_seq", "APP.orders_id_seq") // NULL row dropped
        seqs.head shouldBe JdbcCatalog.SequenceInfo("users", "id", "APP.users_id_seq")
      } finally conn.close()
    }
  }

  describe("per-column value writers") {
    it("write applies the column's writer (the json/jsonb seam, exercised with a custom writer)") {
      import spark.implicits._
      val upper: graft.sinks.ColumnValueWriter =
        (stmt: java.sql.PreparedStatement, idx: Int, v: Any) =>
          stmt.setObject(idx, if (v == null) null else v.toString.toUpperCase)
      val df = Seq((200, "quiet")).toDF("ID", "NOTE")
      JdbcUpsertSink.write(df, url, props, "APP", "WRITERS_OUT", onConflict = None,
        columnWriters = Map("NOTE" -> upper))
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery("SELECT NOTE FROM WRITERS_OUT WHERE ID = 200")
        rs.next() shouldBe true
        rs.getString(1) shouldBe "QUIET"
      } finally conn.close()
    }
  }

  describe("EventStream.toJdbcUpsertSink (stream → live Derby, effectively-once)") {
    it("upserts each micro-batch and absorbs a replayed batch without duplicates") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      def tableState(): Map[Int, Double] = {
        val conn = DriverManager.getConnection(url)
        try {
          val rs  = conn.createStatement().executeQuery("SELECT K, V FROM STREAM_OUT")
          val out = scala.collection.mutable.Map.empty[Int, Double]
          while (rs.next()) out(rs.getInt(1)) = rs.getDouble(2)
          out.toMap
        } finally conn.close()
      }

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Int, Double)]
      val query = graft.streaming.EventStream.toJdbcUpsertSink(
        input.toDF().toDF("K", "V"), "jdbc_upsert_stream",
        url, props, "APP", "STREAM_OUT", OnConflict.doUpdate, pkColumns = Seq("K"))
      input.addData((1, 1.0), (2, 2.0))
      query.processAllAvailable()
      tableState() shouldBe Map(1 -> 1.0, 2 -> 2.0)
      input.addData((2, 20.0), (3, 3.0)) // key 2 updated, key 3 new
      query.processAllAvailable()
      query.stop()
      val afterStream = Map(1 -> 1.0, 2 -> 20.0, 3 -> 3.0)
      tableState() shouldBe afterStream

      // foreachBatch is at-least-once: simulate the failure-replay of the
      // last batch by running the identical upsert again — the merge must
      // land on the same rows, not append or error.
      JdbcUpsertSink.upsertViaStagingMerge(
        Seq((2, 20.0), (3, 3.0)).toDF("K", "V"),
        url, props, "APP", "STREAM_OUT", OnConflict.doUpdate, pkColumns = Seq("K"))
      tableState() shouldBe afterStream
    }
  }

  describe("source-side filter pushdown, end-to-end against live Derby") {
    import graft.plans.{FilterPropagation, SelfRefClosure}
    import graft.sources.SourceSql
    import org.apache.spark.sql.functions.col

    it("spec -> SourceSql -> pushed-down live read -> anonymize equals the semi-join plan") {
      val conn     = DriverManager.getConnection(url)
      val manifest = try JdbcCatalog.manifestFromMetadata(conn, "APP").copy(tables = Seq("USERS", "ORDERS"))
      finally conn.close()

      // Engine plan (authoritative): unfiltered reads, semi-join propagation.
      val srcCatalog = JdbcCatalog.catalog(spark, url, props, "APP", manifest)
      val clauseSql = Map("USERS" -> "ACTIVE = 1")
      val clauses   = clauseSql.map { case (t, c) => t -> TableSpec.WhereClause.Single(c) }
      val planned = FilterPropagation.computeFilteredTables(srcCatalog, manifest, clauses.get)

      // Pushdown twin: the SAME predicates rendered as source WHERE text,
      // evaluated by Derby inside the scan.
      val preds = SourceSql.propagate(manifest.tables, manifest.fks)(
        t => clauseSql.get(t).map(SourceSql.Pred(_)))
      val pushedOrders = JdbcCatalog.readTable(spark, url, props, "APP", "ORDERS",
        where = Some(preds("ORDERS").sql))

      // The warehouse already filtered: pushed read carries only the
      // qualifying rows — exactly the semi-join plan's.
      val planRows = planned("ORDERS").select("ID").collect().map(_.getInt(0)).sorted
      pushedOrders.select("ID").collect().map(_.getInt(0)).sorted shouldBe planRows
      planRows shouldBe Array(10, 11)

      // And the full pipeline over the pushed read: anonymize + hash the
      // same rows the plan path would.
      val anonPushed = pushedOrders.select(col("ID"),
        org.apache.spark.sql.functions.udf(Anonymizer.LoremText(_: String)).apply(col("NOTE")).as("NOTE"))
      val anonPlan = planned("ORDERS").select(col("ID"),
        org.apache.spark.sql.functions.udf(Anonymizer.LoremText(_: String)).apply(col("NOTE")).as("NOTE"))
      anonPushed.collect().map(_.toString).sorted shouldBe anonPlan.collect().map(_.toString).sorted
    }

    it("self-ref closure degrades to the engine-side fixpoint on a source without recursive CTEs") {
      // Hierarchy with a filtered-out MID node: 7 is 'dead', so 8 is
      // unreachable even though 8 itself passes the filter — only the
      // closure can express that, never a flat predicate.
      val conn = DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.executeUpdate(
          "INSERT INTO CATEGORIES VALUES (1, NULL, 'root'), (2, 1, 'a'), (3, 2, 'b'), " +
            "(4, NULL, 'dead'), (5, 4, 'under-dead-root'), (6, 3, 'c'), (7, 2, 'dead'), (8, 7, 'under-dead-mid')")
        st.close()
      } finally conn.close()
      val mConn    = DriverManager.getConnection(url)
      val manifest = try JdbcCatalog.manifestFromMetadata(mConn, "APP").copy(tables = Seq("CATEGORIES"))
      finally mConn.close()
      val selfFk  = manifest.fks.find(_.isSelfRef).get
      val clauseSql = Map("CATEGORIES" -> "LABEL <> 'dead'")
      val clauses   = clauseSql.map { case (t, c) => t -> TableSpec.WhereClause.Single(c) }
      def preds(t: String) = clauseSql.get(t).map(SourceSql.Pred(_))

      // The PostgreSQL rendering (WITH RECURSIVE inside IN) is real SQL
      // the reference's warehouse runs — Derby rejects it, which is
      // exactly why the closure cannot ride the WHERE here.
      val full = SourceSql.propagate(manifest.tables, manifest.fks)(preds)
      an[Exception] should be thrownBy
        JdbcCatalog.readTable(spark, url, props, "APP", "CATEGORIES",
          where = Some(SourceSql.Pred(clauseSql("CATEGORIES")).and(full("CATEGORIES")).sql)
        ).collect()

      // The pushable split: explicit filter pushes (Derby filters at its
      // scan), the closure comes back as an engine-side obligation.
      val (pushed, closures) = SourceSql.propagatePushable(manifest.tables, manifest.fks)(preds)
      pushed.get("CATEGORIES") shouldBe None // no cross-ref parent: nothing beyond the explicit clause
      closures("CATEGORIES") shouldBe Seq(selfFk)

      val pushedRead = JdbcCatalog.readTable(spark, url, props, "APP", "CATEGORIES",
        where = Some("LABEL <> 'dead'"))
      // Source already dropped the 'dead' rows...
      pushedRead.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3, 5, 6, 8)
      // ...and the engine fixpoint finishes the job on the REDUCED frame.
      val closed = SelfRefClosure.filterReachable(
        pushedRead, pushedRead, selfFk.fkColumns, selfFk.pkColumns)
      closed.select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3, 6)

      // Identical to the all-engine path on the unfiltered read.
      val srcCatalog = JdbcCatalog.catalog(spark, url, props, "APP", manifest)
      val planned = FilterPropagation.computeFilteredTables(srcCatalog, manifest, clauses.get)
      planned("CATEGORIES").select("ID").collect().map(_.getInt(0)).sorted shouldBe Array(1, 2, 3, 6)
    }
  }
}

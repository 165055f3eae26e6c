package graftbench

import java.util.SplittableRandom

/** A column of a generated table. `pii` names the anonymizer the copy
  * applies to it; `kind` is one of long, int, double, string.
  */
final case class Col(name: String, kind: String, pii: Option[String] = None)

/** A generated table; the first column is the primary key. */
final case class Table(name: String, cols: Seq[Col], rows: IndexedSeq[Array[Any]]) {
  def pk: String = cols.head.name
  def index(col: String): Int = cols.indexWhere(_.name == col)
}

final case class Fk(child: String, col: String, parent: String)

/** A seeded snowflake catalog: region←nation←customer←orders←lineitem,
  * part/supplier←lineitem, and an employee table whose `E_MANAGER`
  * hierarchy is at least [[Snowflake.SpineLength]] levels deep and is
  * referenced by customer. Tables are listed parents first, and every
  * manager id is smaller than its report's id.
  */
final case class Snowflake(tables: Seq[Table], fks: Seq[Fk]) {
  def table(name: String): Table = tables.find(_.name == name).get

  /** Primary keys of the rows the subset copy must keep: customers of
    * [[Snowflake.KeptSegment]] whose rep is kept, active employees whose
    * whole manager chain is active, and everything that hangs off kept
    * rows. Tables no filter reaches are kept whole. Computed from the
    * generated rows alone.
    */
  def expectedSubset: Map[String, Set[Long]] = {
    val emp    = table("EMPLOYEE")
    val (eMgr, eActive) = (emp.index("E_MANAGER"), emp.index("E_ACTIVE"))
    val keptEmp = scala.collection.mutable.Set.empty[Long]
    emp.rows.foreach { r =>
      val mgr = r(eMgr)
      if (r(eActive) == 1 && (mgr == null || keptEmp(mgr.asInstanceOf[Long]))) keptEmp += r(0).asInstanceOf[Long]
    }
    val cust = table("CUSTOMER")
    val keptCust = cust.rows.collect {
      case r if r(cust.index("C_SEGMENT")) == Snowflake.KeptSegment &&
          keptEmp(r(cust.index("C_REP")).asInstanceOf[Long]) => r(0).asInstanceOf[Long]
    }.toSet
    def keptBy(t: String, col: String, parents: Set[Long]): Set[Long] = {
      val tb = table(t)
      val i  = tb.index(col)
      tb.rows.collect { case r if parents(r(i).asInstanceOf[Long]) => r(0).asInstanceOf[Long] }.toSet
    }
    val keptOrders = keptBy("ORDERS", "O_CUST", keptCust)
    val keptLines  = keptBy("LINEITEM", "L_ORDER", keptOrders)
    val filtered   = Map("EMPLOYEE" -> keptEmp.toSet, "CUSTOMER" -> keptCust,
      "ORDERS" -> keptOrders, "LINEITEM" -> keptLines)
    tables.map(t => t.name -> filtered.getOrElse(t.name, t.rows.map(_(0).asInstanceOf[Long]).toSet)).toMap
  }

  /** Longest manager chain, counted in levels. */
  def hierarchyDepth: Int = {
    val emp   = table("EMPLOYEE")
    val mgr   = emp.index("E_MANAGER")
    val depth = scala.collection.mutable.Map.empty[Long, Int]
    emp.rows.foreach { r =>
      val m = r(mgr)
      depth(r(0).asInstanceOf[Long]) = if (m == null) 1 else depth(m.asInstanceOf[Long]) + 1
    }
    depth.values.max
  }

  def rowCount: Long = tables.map(_.rows.size.toLong).sum
}

object Snowflake {
  val KeptSegment = "SEG07"
  val Segments    = 50
  val Roots       = 4
  val SpineLength = 24

  final case class Size(
      customers: Int,
      employees: Int,
      ordersPerCustomer: Int,
      linesPerOrder: Int,
      parts: Int,
      suppliers: Int)

  private def tbl(name: String, cols: Col*)(rows: IndexedSeq[Array[Any]]) = Table(name, cols, rows)

  def generate(seed: Long, size: Size): Snowflake = {
    val rnd = new SplittableRandom(seed)
    def pick(n: Int): Long = 1L + rnd.nextInt(n)
    def money(): Double = rnd.nextInt(1000000) / 100.0

    val region = tbl("REGION", Col("R_ID", "long"), Col("R_NAME", "string"))(
      (0 until 5).map(i => Array[Any](i.toLong, s"region-$i")))
    val nation = tbl("NATION", Col("N_ID", "long"), Col("N_REGION", "long"), Col("N_NAME", "string"))(
      (0 until 25).map(i => Array[Any](i.toLong, (i % 5).toLong, s"nation-$i")))

    // Ids 1..Roots are roots; the next SpineLength ids form one chain under
    // root 1, so the hierarchy is at least SpineLength+1 levels deep; every
    // other employee reports to a random earlier one.
    val spineEnd = Roots + SpineLength
    val employee = tbl("EMPLOYEE", Col("E_ID", "long"), Col("E_MANAGER", "long"), Col("E_ACTIVE", "int"),
      Col("E_NAME", "string", Some("FullName")), Col("E_EMAIL", "string", Some("Email")))(
      (1 to size.employees).map { id =>
        val mgr: Any =
          if (id <= Roots) null
          else if (id <= spineEnd) (if (id == Roots + 1) 1L else (id - 1).toLong)
          else pick(id - 1)
        val active = if (id <= spineEnd || rnd.nextInt(10) != 0) 1 else 0
        Array[Any](id.toLong, mgr, active, s"Emp$id Rx${rnd.nextInt(1000)}", s"emp$id@corp.invalid")
      })

    val customer = tbl("CUSTOMER", Col("C_ID", "long"), Col("C_NATION", "long"), Col("C_REP", "long"),
      Col("C_SEGMENT", "string"), Col("C_NAME", "string", Some("FullName")),
      Col("C_EMAIL", "string", Some("Email")), Col("C_PHONE", "string", Some("PhoneNumber")),
      Col("C_ADDRESS", "string", Some("StreetAddress")))(
      (1 to size.customers).map { id =>
        Array[Any](id.toLong, rnd.nextInt(25).toLong, pick(size.employees), f"SEG${rnd.nextInt(Segments)}%02d",
          f"Customer#$id%06d", s"cust$id@shop.invalid", f"+1-555-$id%07d", s"Unit $id Block ${rnd.nextInt(90)}")
      })

    val part = tbl("PART", Col("P_ID", "long"), Col("P_NAME", "string"), Col("P_PRICE", "double"))(
      (1 to size.parts).map(id => Array[Any](id.toLong, s"part-$id", money())))
    val supplier = tbl("SUPPLIER", Col("S_ID", "long"), Col("S_NATION", "long"),
      Col("S_NAME", "string", Some("FullName")), Col("S_PHONE", "string", Some("PhoneNumber")))(
      (1 to size.suppliers).map(id =>
        Array[Any](id.toLong, rnd.nextInt(25).toLong, s"Supplier#$id", f"+44-20-$id%07d")))

    val statuses = Vector("F", "O", "P")
    val orders = tbl("ORDERS", Col("O_ID", "long"), Col("O_CUST", "long"), Col("O_TOTAL", "double"),
      Col("O_STATUS", "string"))(
      (0 until size.customers * size.ordersPerCustomer).map { i =>
        Array[Any]((i + 1).toLong, pick(size.customers), money(), statuses(rnd.nextInt(3)))
      })
    val lineitem = tbl("LINEITEM", Col("L_ID", "long"), Col("L_ORDER", "long"), Col("L_PART", "long"),
      Col("L_SUPP", "long"), Col("L_QTY", "int"), Col("L_PRICE", "double"))(
      (0 until orders.rows.size * size.linesPerOrder).map { i =>
        Array[Any]((i + 1).toLong, (i / size.linesPerOrder + 1).toLong, pick(size.parts), pick(size.suppliers),
          1 + rnd.nextInt(50), money())
      })

    Snowflake(
      Seq(region, nation, employee, customer, part, supplier, orders, lineitem),
      Seq(Fk("NATION", "N_REGION", "REGION"), Fk("EMPLOYEE", "E_MANAGER", "EMPLOYEE"),
        Fk("CUSTOMER", "C_NATION", "NATION"), Fk("CUSTOMER", "C_REP", "EMPLOYEE"),
        Fk("SUPPLIER", "S_NATION", "NATION"), Fk("ORDERS", "O_CUST", "CUSTOMER"),
        Fk("LINEITEM", "L_ORDER", "ORDERS"), Fk("LINEITEM", "L_PART", "PART"),
        Fk("LINEITEM", "L_SUPP", "SUPPLIER")))
  }
}

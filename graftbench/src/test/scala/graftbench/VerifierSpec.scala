package graftbench

import org.scalatest.funsuite.AnyFunSuite

class VerifierSpec extends AnyFunSuite {
  private val snow = Snowflake.generate(11, Snowflake.Size(customers = 600, employees = 120, ordersPerCustomer = 2,
    linesPerOrder = 2, parts = 50, suppliers = 10))
  private val kept = snow.expectedSubset

  /** A correct copy: the kept rows, every PII value replaced. */
  private val good: Map[String, Seq[Array[Any]]] = snow.tables.map { t =>
    t.name -> t.rows.filter(r => kept(t.name)(r(0).asInstanceOf[Long])).map { r =>
      t.cols.zip(r).map { case (c, v) => if (c.pii.nonEmpty && v != null) s"anon-${v.hashCode}" else v }.toArray[Any]
    }.toSeq
  }.toMap

  test("the generator keeps a small customer segment and a deep hierarchy") {
    assert(snow.hierarchyDepth > Snowflake.SpineLength)
    assert(kept("CUSTOMER").nonEmpty && kept("CUSTOMER").size < snow.table("CUSTOMER").rows.size / 10)
    assert(kept("EMPLOYEE").size < snow.table("EMPLOYEE").rows.size)
  }

  test("a correct copy passes, and its content hash ignores row order") {
    val v = Verifier.verify(snow, kept, good)
    assert(v.ok, v.errors)
    assert(Verifier.verify(snow, kept, good.map { case (t, rs) => t -> rs.reverse }).contentHash == v.contentHash)
  }

  test("a copy with one row dropped fails") {
    val bad = good.updated("ORDERS", good("ORDERS").tail)
    val v   = Verifier.verify(snow, kept, bad)
    assert(!v.ok)
    assert(v.errors.exists(_.startsWith("ORDERS:")))
  }

  test("a copy with one PII value left in clear fails") {
    val cust  = snow.table("CUSTOMER")
    val email = cust.index("C_EMAIL")
    val row   = good("CUSTOMER").head.clone()
    row(email) = cust.rows.find(_(0) == row(0)).get(email)
    val v = Verifier.verify(snow, kept, good.updated("CUSTOMER", row +: good("CUSTOMER").tail))
    assert(v.errors.exists(_.contains("C_EMAIL")), v.errors)
  }

  test("a dangling foreign key fails") {
    val li   = good("LINEITEM")
    val bad  = li.head.clone()
    bad(snow.table("LINEITEM").index("L_ORDER")) = -1L
    val v = Verifier.verify(snow, kept, good.updated("LINEITEM", bad +: li.tail))
    assert(v.errors.exists(_.contains("L_ORDER")), v.errors)
  }
}

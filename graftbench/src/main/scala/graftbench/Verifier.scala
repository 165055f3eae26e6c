package graftbench

/** Checks one copied catalog against what the generator says it must be.
  * It never calls the code under test: expected keys come from
  * [[Snowflake.expectedSubset]], and the anonymization check only asks that
  * no source PII value reaches the output.
  */
object Verifier {

  /** `errors` is empty when the copy is correct. `contentHash` covers every
    * column, so equal hashes across operations mean identical output.
    */
  final case class Verdict(errors: Seq[String], contentHash: Long) {
    def ok: Boolean = errors.isEmpty
  }

  /** Order-independent 64-bit hash of rows: a wrapping sum of FNV-1a row hashes. */
  def setHash(table: String, rows: Iterable[Seq[Any]]): Long =
    rows.foldLeft(0L) { (acc, r) =>
      var h = 0xcbf29ce484222325L
      (table +: r.map(String.valueOf)).mkString("\u0001").foreach { c =>
        h = (h ^ c) * 0x100000001b3L
      }
      acc + h
    }

  /** Logical size of rows: UTF-8 bytes of strings, eight per number. */
  def rowBytes(rows: Iterable[Array[Any]]): Long =
    rows.iterator.flatMap(_.iterator).map {
      case s: String => s.getBytes("UTF-8").length.toLong
      case null      => 0L
      case _         => 8L
    }.sum

  private def keyCols(snow: Snowflake, t: Table): Seq[Int] =
    0 +: snow.fks.filter(_.child == t.name).map(fk => t.index(fk.col))

  /** @param out table → rows, columns in the generator's order */
  def verify(snow: Snowflake, kept: Map[String, Set[Long]], out: Map[String, Seq[Array[Any]]]): Verdict = {
    val errors = Seq.newBuilder[String]
    snow.tables.foreach { t =>
      val rows = out.getOrElse(t.name, Nil)
      val want = kept(t.name)
      if (rows.size != want.size) errors += s"${t.name}: ${rows.size} rows, expected ${want.size}"
      val keys = keyCols(snow, t)
      val expectedKeys = setHash(t.name, t.rows.filter(r => want(r(0).asInstanceOf[Long])).map(r => keys.map(r(_))))
      if (setHash(t.name, rows.map(r => keys.map(r(_)))) != expectedKeys)
        errors += s"${t.name}: key hash differs from the generator's kept keys"
      t.cols.zipWithIndex.collect { case (c, i) if c.pii.nonEmpty =>
        val source = t.rows.iterator.map(_(i)).filter(_ != null).toSet
        val leaked = rows.iterator.map(_(i)).filter(source).take(1).toSeq
        leaked.foreach(v => errors += s"${t.name}.${c.name}: source value '$v' survives anonymization")
      }
    }
    snow.fks.foreach { fk =>
      val parentKeys = out.getOrElse(fk.parent, Nil).map(_(0)).toSet
      val i          = snow.table(fk.child).index(fk.col)
      val dangling   = out.getOrElse(fk.child, Nil).count(r => r(i) != null && !parentKeys(r(i)))
      if (dangling > 0) errors += s"${fk.child}.${fk.col}: $dangling values missing from ${fk.parent}"
    }
    Verdict(errors.result(), snow.tables.map(t => setHash(t.name, out.getOrElse(t.name, Nil).map(_.toSeq))).sum)
  }
}

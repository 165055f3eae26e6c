package graftbench

/** Maps a Spark long-form call site to the graft module that launched the
  * job: the innermost (first-listed) frame of a `graft.*` class decides.
  */
object Modules {
  val Unattributed = "unattributed"

  /** Operators that are layers of their own; other operators report as `operators`. */
  private val OperatorLayers = Set("Dedup", "IndexStore", "CorpusPipeline")

  /** `[at ][loader/module/]pkg.Class.method(File.scala:12)` → `pkg.Class`. */
  private[graftbench] def frameClass(line: String): Option[String] = {
    val paren = line.indexOf('(')
    if (paren < 0) None
    else {
      val qualified = line.substring(0, paren).trim.stripPrefix("at ").trim
      val method    = qualified.substring(qualified.lastIndexOf('/') + 1)
      val dot       = method.lastIndexOf('.')
      if (dot <= 0) None else Some(method.substring(0, dot))
    }
  }

  def moduleOfClass(className: String): Option[String] =
    if (!className.startsWith("graft.")) None
    else {
      val parts = className.split('.')
      if (parts.length == 2) Some(parts(1).takeWhile(_ != '$'))
      else if (parts(1) == "operators") {
        val op = parts(2).takeWhile(_ != '$')
        Some(if (OperatorLayers(op)) op else "operators")
      } else Some(parts(1))
    }

  def moduleOf(callSite: String): String =
    if (callSite == null) Unattributed
    else
      callSite.linesIterator
        .flatMap(frameClass)
        .flatMap(moduleOfClass)
        .nextOption()
        .getOrElse(Unattributed)
}

package graftbench

import org.scalatest.funsuite.AnyFunSuite

class IndexIngestSpec extends AnyFunSuite {
  /** Twelve batches of four planted (doc, source) pairs each. */
  private val planted: Seq[Set[(Long, Long)]] =
    (0 until 12).map(b => (0 until 4).map(i => (2000L + 40 * b + i, 1L + 4 * b + i)).toSet)

  private def run(probe: Set[(Long, Long)] => Set[(Long, Long)]): Seq[String] = {
    val checked = planted.zipWithIndex.map { case (p, b) => IndexIngest.checkBatch(b.toLong, probe(p), p) }
    checked.flatMap(_._2) ++ IndexIngest.recallError(checked.map(_._1).sum, planted.map(_.size).sum)
  }

  test("a probe that finds every planted pair passes") {
    assert(run(identity).isEmpty)
  }

  test("a probe that misses one planted pair in the run still passes") {
    assert(run(p => if (p.contains((2000L, 1L))) p - ((2000L, 1L)) else p).isEmpty)
  }

  test("an empty probe result fails the run") {
    val errors = run(_ => Set.empty)
    assert(errors.size == 1 && errors.head.contains("found 0 of 48"), errors)
  }

  test("a probe that matches a pair that was not planted fails its batch") {
    val errors = run(p => p + ((1L, 2L)))
    assert(errors.size == planted.size && errors.forall(_.contains("not planted")), errors)
  }
}

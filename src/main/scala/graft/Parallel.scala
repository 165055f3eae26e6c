package graft

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Try}

/** Waiting for sibling work that runs concurrently on driver threads: the
  * table writes of one [[Graft]] level and the per-index sweeps of
  * [[graft.operators.CorpusPipeline]]. `Future.sequence` fails fast, so an
  * `Await` on it returns at the first failure while siblings still run
  * (an index compaction still holding its lease) and drops every other
  * failure; these helpers wait for all of them.
  */
private[graft] object Parallel {

  /** Runs every thunk on `ec` and waits for ALL of them — never returning
    * while a sibling still runs — yielding each outcome in input order.
    */
  def awaitAll[T](thunks: Seq[() => T])(implicit ec: ExecutionContext): Seq[Try[T]] =
    thunks.map(t => Future(t())).map(f => Await.ready(f, Duration.Inf).value.get)

  /** Every value, or the first failure with the others attached via
    * `addSuppressed`.
    */
  def valuesOrFirstFailure[T](outcomes: Seq[Try[T]]): Seq[T] =
    outcomes.collect { case Failure(e) => e } match {
      case Seq() => outcomes.map(_.get)
      case first +: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }

  /** Every thunk's value once all have finished ([[awaitAll]]), or the
    * first failure with the others suppressed ([[valuesOrFirstFailure]]).
    */
  def all[T](thunks: Seq[() => T])(implicit ec: ExecutionContext): Seq[T] =
    valuesOrFirstFailure(awaitAll(thunks))
}

package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, DurationInt}
import scala.util.Try

import org.apache.spark.SparkContext

/** Bounded waiting for concurrent backfill jobs (guide §2.6 overlap):
  * the concurrency is an OPTIMIZATION, so a wedged job must degrade to
  * sequential recomputation — never convert the whole query into an
  * unbounded hang (`Await.result(_, Duration.Inf)` did exactly that) and
  * never leave the abandoned job running on the shared session.
  */
object Futures {
  /** A pass running concurrently under its own Spark job group. */
  final class Raced[T] private[Futures] (val future: Future[T], val sc: SparkContext,
                                         val group: String)

  /** How long a timed-out pass may take to wind down after its job group
    * is cancelled before the fallback starts anyway.
    */
  private val CancelGrace: Duration = 30.seconds

  /** Starts `body` on `ec` with every Spark job it submits tagged with
    * job group `group`, so [[awaitOr]] can cancel them.
    */
  def race[T](sc: SparkContext, group: String)(body: => T)
             (implicit ec: ExecutionContext): Raced[T] =
    new Raced(Future {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }, sc, group)

  /** The pass's value if it completes within `timeout`. Otherwise its job
    * group is cancelled, the pass is given [[CancelGrace]] to end, and the
    * sequential `fallback` is computed on the caller's thread. Both paths
    * are deterministic for our callers (synopsis passes over the same
    * cached partitions), so the choice cannot move a bit of output.
    * Non-timeout failures propagate — a genuinely failing job must
    * fail the query, not be papered over.
    */
  def awaitOr[T](r: Raced[T], timeout: Duration)(fallback: => T): T =
    try Await.result(r.future, timeout)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        r.sc.cancelJobGroup(r.group)
        Try(Await.ready(r.future, CancelGrace))
        fallback
    }
}

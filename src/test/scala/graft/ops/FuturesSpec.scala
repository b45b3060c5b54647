package graft.ops

import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.DurationInt

import org.apache.spark.JobExecutionStatus
import org.scalatest.funsuite.AnyFunSuite

class FuturesSpec extends AnyFunSuite {
  private lazy val sc = graft.LocalSpark.root.sparkContext

  /** A Spark job whose one task sleeps until it is interrupted — a wedged job. */
  private def wedgedJob(): Int =
    sc.parallelize(Seq(1), 1).map { x => Thread.sleep(600000); x }.collect().head

  test("awaitOr returns the future's value when it completes in time") {
    assert(Futures.awaitOr(Futures.race(sc, "futures-spec-ok")(42), 10.seconds)(sys.error("no")) == 42)
  }

  test("awaitOr falls back to the sequential path when the future hangs") {
    val raced = Futures.race(sc, "futures-spec-hang")(wedgedJob())
    assert(Futures.awaitOr(raced, 1.second)(7) == 7)
  }

  test("awaitOr propagates a real failure instead of papering over it") {
    val boom = Futures.race[Int](sc, "futures-spec-boom")(throw new IllegalStateException("job died"))
    intercept[IllegalStateException] {
      Futures.awaitOr(boom, 10.seconds)(0)
    }
    ()
  }

  test("awaitOr cancels the timed-out job group: none of its jobs stays active") {
    val group = "futures-spec-cancel"
    val raced = Futures.race(sc, group)(wedgedJob())
    // the pass must have a running job before the timeout fires
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(group).nonEmpty)
    assert(Futures.awaitOr(raced, 500.millis)(-1) == -1)
    assert(raced.future.isCompleted, "the cancelled pass must have ended")
    // job-end events reach the status tracker through the listener bus
    org.apache.spark.ListenerBusDrain(sc)
    val active = sc.statusTracker.getJobIdsForGroup(group).filter(id =>
      sc.statusTracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
    assert(active.isEmpty, s"jobs of $group still active: ${active.mkString(",")}")
  }
}

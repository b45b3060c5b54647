package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench contamination guard (round-15 verdict #1): a capture taken
  * while campaign JVMs (or their babysitter) are resident must stamp
  * itself invalid. The scan is a pure function of `ps -eo args` output,
  * tested here against the real argv shapes the fleet produces.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val streamLine =
    "java -Xmx8g -Dspark.local.dir=/tmp/graft_spill/s70 -cp /tmp/c:/opt/spark/jars/* " +
      "graft.lab.TailCampaign /root/testdata/sf0.1 160 2147483647 /tmp/graft_band 70 32 256"
  private val retryLine =
    "java -Xmx14g -cp /tmp/c:/opt/spark/jars/* graft.lab.FailedRetry " +
      "/root/testdata/sf0.1 160 /tmp/graft_band b 1500 0 1 m.json seed.cp /tmp/pool"
  private val babysitLine = "/bin/bash tools/fleet_babysit.sh"
  private val evaluateLine =
    "java -Xmx8g -cp /tmp/c:/opt/spark/jars/* graft.estimate.Evaluate " +
      "v20,mlp,gbt data/band/campaign_x160_c2.cp data/band/x160/stats.json"

  test("clean listing yields no contaminants") {
    val ps = Seq(
      "ps -eo args",
      "/bin/bash tools/disk_guard.sh 85 /root/repo/data/r16logs/disk_guard.log",
      "java -cp /tmp/c:/opt/spark/jars/* graft.Bench").mkString("\n")
    assert(Bench.contaminants(ps).isEmpty)
  }

  test("resident campaign JVMs and the babysitter are each named") {
    val ps = Seq(streamLine, retryLine, babysitLine).mkString("\n")
    assert(Bench.contaminants(ps).toSet == Set(
      "graft.lab.TailCampaign", "graft.lab.FailedRetry", "fleet_babysit.sh"))
  }

  test("a grep over the same tokens does not false-positive") {
    // exact-argv-token matching: a shell running a regex scan for the
    // fleet carries the pattern as ONE token, never the bare class name
    val ps = Seq(
      "grep -E graft.lab.TailCampaign|graft.lab.FailedRetry",
      "sh -c ps -eo args | grep -c graft.lab.TailCampaign|graft.lab.FailedRetry")
      .mkString("\n")
    assert(Bench.contaminants(ps).isEmpty)
  }

  test("a resident estimator evaluation is named") {
    // its seed fan-out saturates every core for the whole run
    val ps = Seq("java -cp /tmp/c:/opt/spark/jars/* graft.Bench", evaluateLine).mkString("\n")
    assert(Bench.contaminants(ps) == Seq("graft.estimate.Evaluate"))
  }

  test("duplicate residents collapse to one name") {
    val ps = Seq(streamLine, streamLine.replace("s70", "s71")).mkString("\n")
    assert(Bench.contaminants(ps) == Seq("graft.lab.TailCampaign"))
  }
}

package graft.lab

import org.scalatest.funsuite.AnyFunSuite

/** Smoke for the flagship lifecycle (balanced generation → REAL measured
  * runtimes → GBT → held-out metrics) at the smallest scale. The full
  * measured campaign at sf0.01 is run out-of-band and its metrics are
  * recorded in README.md next to the reference's published band.
  */
class CampaignSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("campaign measures, splits, trains and evaluates end-to-end") {
    val r = Campaign.run(spark, "/root/testdata/sf0.001", n = 10)
    assert(r.nMeasured > 0, "no queries survived measurement")
    assert(r.nTrain + r.nTest == r.nMeasured)
    assert(r.nTrain > 0, "holdout swallowed the whole workload")
    // train metrics must be finite and in-range; held-out quality is a
    // statement about the sf0.01 campaign, not this 10-query smoke
    assert(r.trainAcc >= 0.0 && r.trainAcc <= 1.0)
    assert(r.trainMae >= 0.0 && !r.trainMae.isNaN)
    assert(r.trainF1 >= 0.0 && r.trainF1 <= 1.0)
  }

  test("checkpoint save is atomic: rename over target, no temp left behind") {
    val dir = java.nio.file.Files.createTempDirectory("cpsave")
    val p = dir.resolve("campaign.cp")
    Campaign.saveCheckpoint(p, "first")
    assert(java.nio.file.Files.readString(p) == "first")
    Campaign.saveCheckpoint(p, "second")
    assert(java.nio.file.Files.readString(p) == "second",
      "save must replace the existing checkpoint")
    assert(!java.nio.file.Files.exists(dir.resolve("campaign.cp.tmp")),
      "temp sibling must be renamed away, not accumulated")
    java.nio.file.Files.delete(p); java.nio.file.Files.delete(dir)
  }
}

package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The z-order layout must (a) compute the Morton interleave exactly,
  * (b) bound any 2-D box by a SOUND z-interval (no in-box row escapes
  * it), and (c) actually concentrate a box into few files — the whole
  * point of the layout — where a one-dimensional sort scatters it.
  */
class ZOrderStoreSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  /** Driver-side reference Morton interleave. */
  private def zRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).map(i =>
      (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).sum

  private def grid(n: Int) = {
    import spark.implicits._
    (0 until n).flatMap(a => (0 until n).map(b => (a.toLong * n + b, a.toLong, b.toLong)))
      .toDF("id", "da", "db")
  }

  test("zValue matches the reference interleave bit-for-bit") {
    val got = grid(16).withColumn("z", ZOrderStore.zValue(col("da"), col("db"), 4))
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    for (a <- 0L until 16L; b <- 0L until 16L)
      assert(got((a, b)) == zRef(a, b, 4), s"z($a,$b)")
    // the canonical low bits: b supplies bit 0, a supplies bit 1
    assert(got((1L, 0L)) == 2L && got((0L, 1L)) == 1L && got((3L, 3L)) == 15L)
  }

  test("zInterval is sound: every in-box z-value falls inside it") {
    val bits = 6
    for ((loA, hiA, loB, hiB) <- Seq((3L, 17L, 9L, 40L), (0L, 63L, 5L, 5L), (20L, 21L, 60L, 63L))) {
      val (zLo, zHi) = ZOrderStore.zInterval(loA, hiA, loB, hiB, bits)
      for (a <- loA to hiA; b <- loB to hiB) {
        val z = zRef(a, b, bits)
        assert(z >= zLo && z <= zHi, s"z($a,$b)=$z outside [$zLo,$zHi]")
      }
    }
  }

  test("z-ordered layout concentrates a 2-D box into few files; 1-D sort does not") {
    val dir = Files.createTempDirectory("graft_zorder_").toString
    val bits = 6
    val df = grid(64) // 4096 rows over a 64x64 plane
    ZOrderStore.writeZOrdered(df, s"$dir/z", "da", "db", bits, numFiles = 16)
    // the 1-D strawman: same file count, sorted on da alone
    df.withColumn("zval", ZOrderStore.zValue(col("da"), col("db"), bits))
      .repartitionByRange(16, col("da")).sortWithinPartitions("da")
      .write.parquet(s"$dir/linear")

    // the canonical z-order win: a box WIDE in the 1-D sort dimension
    // and narrow in the other — da's stats prune nothing for the linear
    // layout, and each linear file spans all of db, so it reads 16/16.
    // Z-order tiles are tight in both dims: the stripe hits one tile row.
    val (loA, hiA, loB, hiB) = (0L, 63L, 40L, 47L)
    def overlapping(path: String): Int =
      ZOrderStore.fileOverlap(spark, path, "da", "db", loA, hiA, loB, hiB)
        .where(col("overlaps")).count().toInt
    val zFiles = overlapping(s"$dir/z")
    val linFiles = overlapping(s"$dir/linear")
    assert(zFiles <= 6, s"z-order: box touches $zFiles of 16 files")
    assert(linFiles == 16, s"1-D sort unexpectedly concentrated: $linFiles")

    // the box read is exact (z-range pruned nothing it shouldn't) ...
    val got = ZOrderStore.readBox(spark, s"$dir/z", "da", "db", bits, loA, hiA, loB, hiB)
      .select("id").collect().map(_.getLong(0)).toSet
    val want = df.where(col("da").between(loA, hiA) && col("db").between(loB, hiB))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // ... and the z-range reaches the parquet scan as a pushed filter
    val scanStr = ZOrderStore.readBox(spark, s"$dir/z", "da", "db", bits, loA, hiA, loB, hiB)
      .queryExecution.executedPlan.toString
    assert(scanStr.contains("GreaterThanOrEqual(zval") || scanStr.contains("zval"),
      s"z-range not pushed to scan:\n$scanStr")
  }
}

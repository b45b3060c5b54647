package graft.ops

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SRP bucketing parity + self-join plan shape.
  *
  * The driver-precomputed hyperplane literals must stay bit-identical to
  * the hash-derived Column formula they replaced (the DuckDB oracle
  * recomputes that formula in SQL), and the bucket self-join must reuse
  * one exchange rather than executing the bucket subtree per side.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  test("driver-side planeComponents == hash-derived Column formula") {
    import spark.implicits._
    val pairs = for (p <- 0 until 4; i <- 0 until 64) yield (p, i)
    val fromCols = pairs.toDF("p", "i")
      .withColumn("c",
        (PortableHash.hash60(concat(lit("plane"), col("p"), lit(":"), col("i")))
          .cast("double") / lit((1L << 60).toDouble)) - lit(0.5))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val precomputed = Similarity.planeComponents(4, 64)
    pairs.foreach { case (p, i) =>
      assert(precomputed(p)(i) == fromCols((p, i)),
        s"plane$p:$i precomputed=${precomputed(p)(i)} column=${fromCols((p, i))}")
    }
  }

  test("srpBucket over literal planes == the per-row hashed HOF form it replaced") {
    import spark.implicits._
    val rng = new Random(11)
    val df = (1 to 200).map(i => (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1)))
      .toDF("id", "vec")
    // the pre-optimization formulation, kept verbatim as the semantic spec
    def oldPlaneComponent(plane: Int, dim: org.apache.spark.sql.Column) =
      (PortableHash.hash60(concat(lit(s"plane$plane:"), dim.cast("string"))).cast("double")
        / lit((1L << 60).toDouble)) - lit(0.5)
    val oldBucket = (0 until 3).map { p =>
      val prods = aggregate(
        zip_with(col("vec"), sequence(lit(0), size(col("vec")) - 1),
          (x, i) => (x.cast("double") * oldPlaneComponent(p, i)).cast("decimal(20,12)")),
        lit(0).cast("decimal(30,12)"), (acc, x) => (acc + x).cast("decimal(30,12)"))
      when(prods >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val out = df.select(
      Similarity.srpBucket(col("vec"), 3).as("fast"), oldBucket.as("slow")).collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1), s"bucket mismatch: $r"))
  }

  test("ivfAssign: a centroid's nearest centroid is itself (cos=1 self-cell)") {
    import spark.implicits._
    val rng = new Random(17)
    val df = (1 to 200).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", col("vec_id") % 20 === 0)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vector got exactly one cell, and every centroid self-assigned
    assert(assigned.size == 200)
    (1 to 200).map(_.toLong).filter(_ % 20 == 0).foreach { c =>
      assert(assigned(c) == c, s"centroid $c assigned to cell ${assigned(c)}")
    }
    // all cells are centroid ids
    assert(assigned.values.toSet.subsetOf((1 to 200).map(_.toLong).filter(_ % 20 == 0).toSet))
  }

  test("ivfTopK matches brute-force ranking inside the probed cells") {
    import spark.implicits._
    val rng = new Random(19)
    val df = (0 until 150).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding",
        col("vec_id") % 15 === 0, col("vec_id") % 50 === 0, k = 3, nprobe = 2)
      .collect()
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding",
        col("vec_id") % 50 === 0, k = 150)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // every IVF hit carries the exact brute-force cosine (same kernel)
      assert(brute(key) == r.getDouble(2), s"cos mismatch at $key")
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 3)
    }
  }

  test("LSH candidate self-join reuses one exchange (band subtree runs once)") {
    import spark.implicits._
    val rng = new Random(13)
    val dir = java.nio.file.Files.createTempDirectory("simspec").toString
    // docs i and i+150 share text: identical signatures guarantee LSH
    // collisions — an empty join would let AQE fold the final plan to
    // EmptyRelation and erase the ReusedQueryStage under test
    val texts = (1 to 150).map(_ => (1 to 60).map(_ => s"w${rng.nextInt(80)}").mkString(" "))
    (0 until 300).map(i => ((i + 1).toLong, texts(i % 150)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    // parquet-backed input: a local relation would be constant-folded on
    // the driver and never build the exchange under test
    val df = spark.read.parquet(s"$dir/docs.parquet")
    val wide = Dedup.minhashSignaturesWide(df, "doc_id", "text", k = 8, shingleN = 3)
    val pairs = Dedup.lshCandidates(Dedup.lshBandsWide(wide, "doc_id", 4, 2), "doc_id")
    pairs.collect() // finalize THIS plan's AQE stages
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected exchange reuse in:\n$plan")
  }

  test("salted nearDupPairs == unsalted same-bucket reference, skew-proof") {
    import spark.implicits._
    val rng = new Random(23)
    val df = (1 to 400).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val salted = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.3, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: all-pairs exact cosine, restricted to same-bucket pairs
    val buckets = df.select(col("vec_id"),
        Similarity.srpBucket(col("embedding"), 2).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reference = Similarity.cosinePairs(df, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => buckets(a) == buckets(b) }.toSet
    assert(salted == reference,
      s"missing=${reference.diff(salted).take(3)} extra=${salted.diff(reference).take(3)}")
    // salting must not duplicate pairs
    val ids = salted.toSeq.map { case (a, b, _) => (a, b) }
    assert(ids.distinct.size == ids.size)
  }

  test("cosineDouble stays far inside the prefilter margin of exact cosine") {
    import spark.implicits._
    val rng = new Random(41)
    // include near-zero-norm and high-dim rows — the margin contract's
    // worst cases
    val rows = (1 to 200).map { i =>
      val scale = if (i % 17 == 0) 1e-4f else 1f
      (i.toLong, Array.fill(64)((rng.nextFloat() * 2 - 1) * scale))
    }
    val df = rows.toDF("vec_id", "embedding")
    val n = Similarity.withNorm2(df, "embedding")
    val a = n.select(col("vec_id").as("ia"), col("embedding").as("va"), col("norm2").as("na"))
    val b = n.select(col("vec_id").as("ib"), col("embedding").as("vb"), col("norm2").as("nb"))
    // per-pair: |cosDecimal − cosDouble| must stay under the norm-aware
    // slack prefilterPass screens with (margin + dims·1e-12/(‖a‖‖b‖)) —
    // the soundness condition for never dropping a true pair. Assert
    // with 10× headroom.
    val slack = lit(Similarity.PrefilterMargin) +
      size(col("va")).cast("double") * lit(1e-12) /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    val worst = a.join(b, col("ia") < col("ib"))
      .select((abs(
        Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")) -
        Similarity.cosineDouble(col("va"), col("vb"), col("na"), col("nb"))) /
        slack).as("ratio"))
      .agg(max(col("ratio"))).collect()(0).getDouble(0)
    assert(worst < 0.1,
      s"divergence reached $worst of the screening slack — soundness headroom gone")
  }

  test("pqEncode self-codes codewords; pqAdcTopK == driver-side LUT reference") {
    import spark.implicits._
    val rng = new Random(31)
    val n = 120; val m = 4; val subDim = 4
    val data = (0 until n).map(i => (i.toLong, Array.fill(m * subDim)(rng.nextFloat() * 2 - 1)))
    val df = data.toDF("vec_id", "embedding")
    val codePred = col("vec_id") % 10 === 0
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", codePred, m, subDim)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size == n * m)
    // every codeword-source vector's subvector is distance 0 from itself
    for (i <- 0 until n by 10; s <- 0 until m)
      assert(codes((i.toLong, s)) == i.toLong, s"codeword $i sub $s self-code")
    // driver-side reference ADC, double arithmetic (ranking is ulp-robust
    // here because the synthetic vectors are well separated)
    val vecs = data.toMap
    def sq(id: Long, s: Int) = vecs(id).slice(s * subDim, (s + 1) * subDim).map(_.toDouble)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val queries = (0 until n by 30).map(_.toLong)
    val expect = queries.flatMap { q =>
      val scored = (0 until n).map(_.toLong).filter(_ != q).map { b =>
        b -> (0 until m).map(s => d2(sq(q, s), sq(codes((b, s)), s))).sum
      }.sortBy { case (b, d) => (d, b) }.take(3)
      scored.zipWithIndex.map { case ((b, _), r) => (q, b, r + 1) }
    }.toSet
    val got = Similarity.pqAdcTopK(df, "vec_id", "embedding",
        codePred, col("vec_id") % 30 === 0, m, subDim, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == expect, s"missing=${expect.diff(got).take(5)} extra=${got.diff(expect).take(5)}")
  }
}

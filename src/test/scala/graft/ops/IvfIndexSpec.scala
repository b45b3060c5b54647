package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BucketedStore

/** Persisted IVF index: repeated ANN serving must (a) return exactly
  * what the one-shot in-memory path returns, (b) read the corpus cells
  * in place through the bucket layout — no index-side shuffle — and
  * (c) refuse probes whose parameters don't match the build.
  */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("ivf_wh").toString
  // force the shuffle-join path so the index-side no-shuffle claim is
  // about the bucket layout, not a broadcast
  private lazy val spark =
    graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def embeddings = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("index probe matches the one-shot IVF path and keeps the index side shuffle-free") {
    val centPred = col("vec_id") % 32 === 0
    val queryPred = col("vec_id") % 100 === 0
    Similarity.buildIvfIndex(embeddings, "vec_id", "embedding", centPred,
      "ivf_idx", s"$warehouse/ivf_idx", numBuckets = 4)

    val fromIndex = Similarity.ivfIndexTopK(embeddings.where(queryPred),
      "vec_id", "embedding", "ivf_idx", k = 5, nprobe = 2)
    val oneShot = Similarity.ivfTopK(embeddings, "vec_id", "embedding",
      centPred, queryPred, k = 5, nprobe = 2)
    val a = fromIndex.collect().map(_.toSeq).toSet
    val b = oneShot.collect().map(_.toSeq).toSet
    assert(a == b, s"index path diverged: only-in-index=${a -- b}, only-in-oneshot=${b -- a}")
    assert(a.nonEmpty)

    // plan proof: the cell join's index side reads its buckets in place
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    def scansIndex(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      BucketedStore.planNodes(p).exists {
        case s: FileSourceScanExec => s.toString.contains("ivf_idx")
        case _ => false
      }
    // plan already finalized by the collect above — no second run needed
    val all = BucketedStore.planNodes(fromIndex.queryExecution.executedPlan)
    val join = all.collect {
      case j: SortMergeJoinExec => j: org.apache.spark.sql.execution.SparkPlan
      case j: ShuffledHashJoinExec => j: org.apache.spark.sql.execution.SparkPlan
    }.find(j => j.children.exists(scansIndex))
      .getOrElse(fail(s"no shuffle join over the index in plan:\n${fromIndex.queryExecution.executedPlan}"))
    val idxSide = join.children.find(scansIndex)
      .getOrElse(fail("no join side scans the index table"))
    assert(!BucketedStore.subtreeHasShuffle(idxSide),
      s"index side shuffled:\n${join.children.mkString("\n---\n")}")
  }

  test("appended vectors are served by subsequent probes") {
    // exact copies of two corpus vectors under new ids: after the
    // append, a probe with the original vectors must surface the copies
    // (cosine 1.0 -> rank 1 ahead of any non-identical neighbor)
    val newRows = embeddings.where(col("vec_id").isin(3L, 7L))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(newRows, "vec_id", "embedding", "ivf_idx")
    val got = Similarity.ivfIndexTopK(embeddings.where(col("vec_id").isin(3L, 7L)),
        "vec_id", "embedding", "ivf_idx", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (q <- Seq(3L, 7L))
      assert(got.contains((q, q + 100000L)), s"appended copy of $q not served: $got")
  }

  test("append refuses ids already present in the index") {
    // ids 3 and 7 are in the original corpus build — re-appending them
    // would store two rows per id and probes would serve both
    val dup = embeddings.where(col("vec_id").isin(3L, 7L))
      .select(col("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(dup, "vec_id", "embedding", "ivf_idx")
    }
    assert(e.getMessage.contains("already present"))
  }

  test("empty batch fails with a clear message, not an NPE") {
    val empty = embeddings.where(lit(false))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfIndexTopK(empty, "vec_id", "embedding", "ivf_idx", k = 3, nprobe = 2)
    }
    assert(e.getMessage.contains("empty batch"))
    val b = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(empty, "vec_id", "embedding", lit(true),
        "ivf_empty", s"$warehouse/ivf_empty", numBuckets = 2)
    }
    assert(b.getMessage.contains("empty corpus"))
  }

  test("probe refuses an index built with a different id column") {
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfIndexTopK(embeddings, "other_id", "embedding", "ivf_idx",
        k = 5, nprobe = 2)
    }
    assert(e.getMessage.contains("graft.ivf.idCol"))
  }

  test("probing a table not built by buildIvfIndex (no properties) fails fast") {
    // a bucketed table of the index's shape but none of the graft.ivf.*
    // properties — must NOT silently serve
    val fake = embeddings.where(col("vec_id") < 4)
      .select(col("vec_id").as("id"), col("embedding").as("vec"), lit(0).as("cell"))
    BucketedStore.writeBucketed(fake, "not_an_ivf_index", "cell", 4, s"$warehouse/not_an_ivf_index")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfIndexTopK(embeddings.where(col("vec_id") === 3L), "vec_id", "embedding",
        "not_an_ivf_index", k = 3, nprobe = 2)
    }
    assert(e.getMessage.contains("<missing>"))
  }
}

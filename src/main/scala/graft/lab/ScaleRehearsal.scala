package graft.lab

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, PortableHash, Similarity}

/** Scale rehearsal for the dedup/ANN paths: grow a synthetic corpus
  * 1×/3×/10× and record candidate-pair counts and wall-times, to show
  * the candidate generation grows subquadratically WHEN ITS KNOB SCALES
  * WITH THE DATA (the claim a 100 TB deployment rests on):
  *
  *  - MinHash/LSH bands (q32 path): bucket collisions require real
  *    signature agreement, so candidates track near-dup density — no
  *    knob change needed, growth ~linear in n for constant dup density.
  *  - SimHash pigeonhole (q35 path): chunk width IS the knob; at a fixed
  *    radius the chunk-collision probability is constant, so candidates
  *    are a constant FRACTION of n² — the radius must tighten (or bits
  *    grow) as n grows, exactly like any exact-recall Hamming index.
  *  - SRP near-dup (q42 path): plane count is the knob; +1 plane halves
  *    expected bucket size, so planes ≈ log2(n / targetBucket) keeps
  *    per-bucket work constant and total candidates ~linear.
  *
  * The corpus is generated distributed (pure Column exprs, no driver
  * loops): Zipf-ish pseudo-text over a fixed vocabulary and hash-derived
  * unit-range embeddings, with a planted near-dup for every 50th id so
  * the interesting signal stays at constant density across scales.
  */
object ScaleRehearsal {

  /** Deterministic synthetic documents: `n` docs of 40–80 words from a
    * 2000-word Zipf-ish vocabulary; id 50k+1 is a near-dup of id 50k
    * (same words except the first).
    */
  def syntheticDocs(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n).toDF("doc_id")
      .repartition(spark.sparkContext.defaultParallelism)
    // near-dup planting: content keyed on the PREVIOUS id for 50k+1
    val contentId = when(col("doc_id") % 50 === 1, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val h = PortableHash.hash60(concat(lit("len:"), contentId.cast("string")))
    val len = (h % 41 + 40).cast("int") // 40..80 words
    val words = transform(sequence(lit(0), len - 1), j => {
      val hw = PortableHash.hash60(concat(lit("w:"), contentId.cast("string"), lit(":"), j.cast("string")))
      val hw2 = PortableHash.hash60(concat(lit("w2:"), contentId.cast("string"), lit(":"), j.cast("string")))
      // product of two INTEGER uniforms scaled back to [0, 2000) →
      // Zipf-ish skew toward low ranks. floor() of the double quotient is
      // exact here (operands < 2^53, true quotient never within an ulp of
      // an integer it isn't); a plain Column `/` without floor() once made
      // every rank fractional-unique, which silently removed ALL natural
      // vocabulary collisions from the rehearsal corpus
      val rank = floor((hw % 2000) * (hw2 % 2000) / lit(2000)).cast("long")
      // the near-dup copy differs in exactly its first word
      when(j === 0 && col("doc_id") % 50 === 1, lit("neardupmarker"))
        .otherwise(concat(lit("w"), rank.cast("string")))
    })
    base.select(col("doc_id"), concat_ws(" ", words).as("text"))
  }

  /** Deterministic synthetic embeddings: hash-derived components in
    * [-0.5, 0.5); id 50k+1 is a jittered copy of id 50k (first component
    * shifted by 0.01).
    */
  def syntheticEmbeddings(spark: SparkSession, n: Long, dims: Int = 64): DataFrame = {
    val base = spark.range(n).toDF("vec_id")
      .repartition(spark.sparkContext.defaultParallelism)
    val contentId = when(col("vec_id") % 50 === 1, col("vec_id") - 1)
      .otherwise(col("vec_id"))
    val vec = transform(sequence(lit(0), lit(dims - 1)), j => {
      val hv = PortableHash.hash60(concat(lit("e:"), contentId.cast("string"), lit(":"), j.cast("string")))
      val c = (hv.cast("double") / lit((1L << 60).toDouble)) - 0.5
      (when(j === 0 && col("vec_id") % 50 === 1, c + 0.01).otherwise(c)).cast("float")
    })
    base.select(col("vec_id"), vec.as("embedding"))
  }

  /** planes ≈ log2(n / targetBucket), min 3 — the SRP knob rule. */
  def planesFor(n: Long, targetBucket: Long = 60L): Int =
    math.max(3, (math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).ceil.toInt)

  /** Planted chain graph: ids 0..n-1 tiled into disjoint chains of
    * `chainLen` CONSECUTIVE ids (component diameter = chainLen − 1,
    * the worst case for label propagation), one edge per consecutive
    * pair — generated distributed, no driver loop. The component count
    * is exactly ceil(n / chainLen), which the rehearsal asserts so a
    * wrong fixpoint can never pass as a fast one.
    */
  def chainEdges(spark: SparkSession, n: Long, chainLen: Long): DataFrame =
    spark.range(n).toDF("id_a")
      .repartition(spark.sparkContext.defaultParallelism)
      .where(col("id_a") % chainLen =!= (chainLen - 1) && col("id_a") + 1 < n)
      .select(col("id_a"), (col("id_a") + 1).as("id_b"))

  final case class Cell(n: Long, pairs: Long, seconds: Double, knob: String)

  private def timed(body: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toLong).getOrElse(500L)
    val spark = graft.Session.local()
    // the reliable-CC rehearsal checkpoints to a real directory (on a
    // cluster this is durable storage; locally a temp dir stands in,
    // deleted at exit — reliable checkpoints outlive the session by
    // design, so nothing else cleans them up)
    val ccCheckpointDir = java.nio.file.Files.createTempDirectory("cc_checkpoint")
    spark.sparkContext.setCheckpointDir(ccCheckpointDir.toString)
    // every graph here fits connectedComponents' driver finish under the
    // default broadcast threshold; the CC sections measure the distributed
    // rounds (the path past that threshold), so they run on a child
    // session that never broadcasts
    val ccSpark = spark.newSession()
    ccSpark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {

    val scales = Seq(1L, 3L, 10L)
    val rows = scales.map { s =>
      val n = baseN * s
      // materialize once so every op times its own work, not generation
      val dir = java.nio.file.Files.createTempDirectory(s"rehearsal$n").toString
      syntheticDocs(spark, n).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      syntheticEmbeddings(spark, n).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val embs = spark.read.parquet(s"$dir/embeddings.parquet")

      val (lshPairs, lshSec) = timed {
        val wide = Dedup.minhashSignaturesWide(docs, "doc_id", "text", k = 8, shingleN = 3)
        Dedup.lshCandidates(Dedup.lshBandsWide(wide, "doc_id", 4, 2), "doc_id").count()
      }
      val (simPairs, simSec) = timed {
        val sim = Dedup.simhash(docs, "doc_id", "text")
        Dedup.simhashPairs(sim, "doc_id", maxHamming = 6).count()
      }
      val planes = planesFor(n)
      val (srpPairs, srpSec) = timed {
        Similarity.nearDupPairs(embs, "vec_id", "embedding", 0.9, planes).count()
      }
      // SemDeDup knob rule: centroid count grows WITH n (fixed id
      // modulus ⇒ cells ∝ n, cell size constant), so the within-cell
      // candidate volume — the only superlinear risk in the operator —
      // grows linearly: cells × C(cellSize, 2)
      val (semCand, _) = timed {
        val assigned = Similarity.ivfAssign(embs, "vec_id", "embedding",
          col("vec_id") % 50 === 0)
        val a = assigned.select(col("cell"), col("id").as("ia"))
        val b = assigned.select(col("cell"), col("id").as("ib"))
        a.join(b, "cell").where(col("ia") < col("ib")).count()
      }
      val (semKept, semSec) = timed {
        Similarity.semanticDedup(embs, "vec_id", "embedding",
          col("vec_id") % 50 === 0, tau = 0.9)
          .where(col("kept")).count()
      }
      // dupSpans has no quadratic term to guard (dup-position volume is
      // bounded by total positions = O(total chars)); the rehearsal
      // checks that bound holds empirically — duplicated-position count
      // and wall-time must track corpus size ~linearly even though the
      // planted near-dups guarantee real cross-document span hits
      val (dupPos, dupSec) = timed {
        Dedup.dupSpans(docs, "doc_id", "text", l = 20)
          .agg(sum(col("n_dup_pos"))).collect()(0).getLong(0)
      }
      // ---- CC fixpoint under cluster-scale settings (reliable=true,
      // distributed finish, on ccSpark):
      // the verdict-flagged cost center. Measured here: pointer-jumping
      // ROUND COUNT (must grow ~O(log component-diameter), i.e. stay
      // flat as n grows at constant dup density) and wall-clock, with
      // fault-tolerant checkpoints on a real checkpoint dir — the exact
      // configuration a 1000-executor run would use.
      // edges are MATERIALIZED before the clock starts — cc_sec must
      // time the fixpoint alone, not the minhash/banding/candidate
      // pipeline feeding it (the first cut of this rehearsal timed both
      // and attributed edge-generation scaling to the fixpoint)
      val ccDocs = ccSpark.read.parquet(s"$dir/documents.parquet")
      val wide = Dedup.minhashSignaturesWide(ccDocs, "doc_id", "text", k = 8, shingleN = 3)
      val edges = Dedup.lshCandidates(Dedup.lshBandsWide(wide, "doc_id", 4, 2), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      edges.count()
      val (ccComps, ccSec) = timed {
        Dedup.connectedComponents(edges, "id_a", "id_b",
          ccDocs, "doc_id", reliable = true)
          .select("cluster_id").distinct().count()
      }
      val ccRounds = Dedup.lastRounds
      edges.unpersist()
      val (semRelKept, semRelSec) = timed {
        Similarity.semanticDedup(ccSpark.read.parquet(s"$dir/embeddings.parquet"),
          "vec_id", "embedding", col("vec_id") % 50 === 0, tau = 0.9, reliable = true)
          .where(col("kept")).count()
      }
      val semRounds = Dedup.lastRounds
      (n, Cell(n, lshPairs, lshSec, "bands=4x2"),
          Cell(n, simPairs, simSec, "r=6"),
          Cell(n, srpPairs, srpSec, s"planes=$planes"),
          Cell(n, semCand, semSec, s"kept=$semKept"),
          Cell(n, dupPos, dupSec, "l=20"),
          Cell(n, ccComps, ccSec, s"rounds=$ccRounds"),
          Cell(n, semRelKept, semRelSec, s"rounds=$semRounds"))
    }

    println("| n | lsh_pairs | lsh_sec | sim_pairs | sim_sec | srp_pairs | srp_sec | srp_planes | sem_cand | sem_sec | sem_kept | dup_pos | dup_sec |")
    println("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    rows.foreach { case (n, l, h, p, sd, ds, _, _) =>
      println(f"| $n | ${l.pairs} | ${l.seconds}%.2f | ${h.pairs} | ${h.seconds}%.2f | ${p.pairs} | ${p.seconds}%.2f | ${p.knob} | ${sd.pairs} | ${sd.seconds}%.2f | ${sd.knob} | ${ds.pairs} | ${ds.seconds}%.2f |")
    }
    println()
    println("| n | cc_components | cc_rounds | cc_sec | sem_kept | sem_rounds | sem_sec |  (reliable=true, real checkpoint dir, no broadcast)")
    println("|---|---|---|---|---|---|---|")
    rows.foreach { case (n, _, _, _, _, _, cc, sr) =>
      println(f"| $n | ${cc.pairs} | ${cc.knob} | ${cc.seconds}%.2f | ${sr.pairs} | ${sr.knob} | ${sr.seconds}%.2f |")
    }
    // growth factors vs the 10× size jump (subquadratic ⇔ « 100)
    val first = rows.head; val last = rows.last
    def g(a: Long, b: Long) = if (a == 0) Double.NaN else b.toDouble / a
    println(f"growth n=×${g(first._1, last._1)}%.1f: " +
      f"lsh_pairs=×${g(first._2.pairs, last._2.pairs)}%.1f " +
      f"sim_pairs=×${g(first._3.pairs, last._3.pairs)}%.1f " +
      f"srp_pairs=×${g(first._4.pairs, last._4.pairs)}%.1f " +
      f"sem_cand=×${g(first._5.pairs, last._5.pairs)}%.1f " +
      f"dup_pos=×${g(first._6.pairs, last._6.pairs)}%.1f " +
      f"cc_sec=×${g(math.round(first._7.seconds * 1000), math.round(last._7.seconds * 1000))}%.1f " +
      f"sem_rel_sec=×${g(math.round(first._8.seconds * 1000), math.round(last._8.seconds * 1000))}%.1f")

    // ---- CC round growth vs component DIAMETER (the O(log d) claim
    // itself). The near-dup rows above hold cluster diameter constant
    // while n grows — they prove rounds flat in n, not the log-d law.
    // Planted worst-case chains of diameter 2^k at several n measure
    // it directly: pointer jumping halves the label chain each round,
    // so DOUBLING the diameter must cost ~ONE more round, never 2×.
    println()
    println("| n | chain diameter d | log2(d) | cc_components | cc_rounds | cc_sec |  (reliable=true, real checkpoint dir, no broadcast)")
    println("|---|---|---|---|---|---|")
    for (n <- Seq(2000L, 6000L, 20000L); d <- Seq(16L, 64L, 256L)) {
      val nodes = ccSpark.range(n).toDF("node_id")
      val edges = chainEdges(ccSpark, n, d + 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      edges.count()
      val (comps, sec) = timed {
        Dedup.connectedComponents(edges, "id_a", "id_b", nodes, "node_id",
          reliable = true).select("cluster_id").distinct().count()
      }
      val rounds = Dedup.lastRounds
      edges.unpersist()
      val expected = (n + d) / (d + 1) // ceil(n / chainLen)
      require(comps == expected,
        s"chain fixpoint wrong: $comps components, expected $expected (n=$n d=$d)")
      println(f"| $n | $d | ${(math.log(d.toDouble) / math.log(2)).round} | $comps | $rounds | $sec%.2f |")
    }
    spark.stop()
    } finally {
      // reliable checkpoints survive the session on purpose; this run's
      // temp dir must not — clean up on failure paths too (a crashed
      // 10x row would otherwise leak every round's checkpoint files)
      val walk = java.nio.file.Files.walk(ccCheckpointDir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}

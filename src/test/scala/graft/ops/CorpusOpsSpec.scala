package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-pipeline operators added in round 3: connected components over
  * near-dup pairs, benchmark contamination, sequence packing, and
  * repetition metrics. Tests pin the exact deterministic semantics the
  * DuckDB oracles recompute.
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.LocalSpark.session()

  /** The connected-components cases run on two sessions: the suite's
    * own, where every graph here fits the broadcast threshold and the
    * driver finishes, and a child that never broadcasts, where the
    * distributed min-label rounds finish. The driver case keeps the
    * test's plain name.
    */
  private lazy val noBroadcast =
    graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
  private val finishes: Seq[(String, () => SparkSession)] =
    Seq("" -> (() => spark), " (distributed finish)" -> (() => noBroadcast))

  /** Labels of `connectedComponents` as a map, after checking which
    * finish ran: the driver runs no round, the distributed finish at
    * least one whenever an edge survives.
    */
  private def components[T](s: SparkSession, edges: DataFrame, nodes: DataFrame,
                            reliable: Boolean = false): Map[T, T] = {
    val got = Dedup.connectedComponents(edges, "id_a", "id_b", nodes, "id", reliable)
    val rounds = Dedup.lastRounds
    if (s eq spark) assert(rounds == 0, s"driver finish expected, ran $rounds rounds")
    else assert(rounds > 0 || got.where(col("id") =!= col("cluster_id")).isEmpty,
      "distributed finish expected, ran no round")
    got.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap
  }

  /** Plain union-find with path compression: each node's component
    * minimum.
    */
  private def referenceComponents(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n + 1)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      // union larger -> smaller, so every root is its component minimum
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (1 to n).map(i => i.toLong -> find(i).toLong).toMap
  }

  finishes.foreach { case (finish, session) =>
    test(s"connectedComponents labels every node with its component minimum$finish") {
      val s = session(); import s.implicits._
      // components: {1,2,3,4} (chain), {5,6} (pair), {7} (singleton), {8,9,10} (triangle)
      val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 6L),
        (8L, 9L), (9L, 10L), (10L, 8L)).toDF("id_a", "id_b")
      val got = components[Long](s, edges, (1L to 10L).toDF("id"))
      val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 8L)
      assert(got == want)
    }

    test(s"connectedComponents is partition-independent and handles a long chain$finish") {
      val s = session(); import s.implicits._
      // a 40-node path graph: worst-case diameter for the propagation loop
      val edges = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val got = components[Long](s, edges.repartition(7), (1L to 40L).toDF("id").repartition(3))
      assert(got == (1L to 40L).map(_ -> 1L).toMap)
    }

    test(s"connectedComponents agrees with a reference union-find on a seeded random graph$finish") {
      val s = session(); import s.implicits._
      val rnd = new scala.util.Random(20260812L)
      val n = 120
      val edges = Seq.fill(90)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter(e => e._1 != e._2)
      val got = components[Long](s, edges.toDF("id_a", "id_b"), (1L to n.toLong).toDF("id"))
      assert(got == referenceComponents(n, edges))
    }

    test(s"connectedComponents ignores edges touching nodes outside the given set$finish") {
      val s = session(); import s.implicits._
      // edge (5,9): 9 is not in the node set — must neither appear in the
      // output nor pull 5's label anywhere
      val edges = Seq((1L, 2L), (5L, 9L)).toDF("id_a", "id_b")
      val got = components[Long](s, edges, (1L to 5L).toDF("id"))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    }

    test(s"connectedComponents pointer jump converges in O(log diameter) rounds$finish") {
      val s = session(); import s.implicits._
      // 64-node path: diameter 63. Plain min-propagation needs ~63 rounds;
      // with the label(label(n)) jump the chain halves every round, so the
      // count must land well under the diameter (2^8 > 63 → ≤ 8 + slack)
      val edges = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val got = components[Long](s, edges, (1L to 64L).toDF("id"))
      assert(got == (1L to 64L).map(_ -> 1L).toMap)
      assert(Dedup.lastRounds <= 10,
        s"64-chain took ${Dedup.lastRounds} rounds — pointer jump not effective")
    }

    test(s"connectedComponents keeps string ids native (no silent long cast)$finish") {
      val s = session(); import s.implicits._
      // a cast("long") would turn these ids into all-NULL labels and
      // converge instantly to garbage
      val edges = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b")).toDF("id_a", "id_b")
      val got = components[String](s, edges, Seq("doc-a", "doc-b", "doc-c", "doc-z").toDF("id"))
      assert(got == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
        "doc-c" -> "doc-a", "doc-z" -> "doc-z"))
    }

    test(s"connectedComponents keeps decimal ids native beyond the long range$finish") {
      val s = session(); import s.implicits._
      val big = BigDecimal("9223372036854775808") // Long.MaxValue + 1
      val id = (i: Int) => (big + i).bigDecimal
      val edges = Seq((id(3), id(1)), (id(2), id(3)), (id(5), id(6))).toDF("id_a", "id_b")
        .select(col("id_a").cast("decimal(20,0)").as("id_a"), col("id_b").cast("decimal(20,0)").as("id_b"))
      val nodes = (1 to 7).map(id).toDF("id").select(col("id").cast("decimal(20,0)").as("id"))
      val got = components[java.math.BigDecimal](s, edges, nodes)
      assert(got.map { case (k, v) => (BigDecimal(k) - big).toInt -> (BigDecimal(v) - big).toInt } ==
        Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 5, 6 -> 5, 7 -> 7))
    }

    test(s"connectedComponents widens mixed endpoint id types$finish") {
      val s = session(); import s.implicits._
      val edges = Seq((2L, 1), (3L, 2), (5L, 6)).toDF("id_a", "id_b")
      val got = components[Long](s, edges, (1L to 7L).toDF("id"))
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
    }

    test(s"connectedComponents computes its input pairs once, local or reliable$finish") {
      val s = session(); import s.implicits._
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(java.nio.file.Files.createTempDirectory("cc-ckpt").toString)
      val pairs = (1L until 40L).map(i => (i, i + 1))
      Seq(false, true).foreach { reliable =>
        val reads = s.sparkContext.longAccumulator
        val edges = s.sparkContext.parallelize(pairs, 3).map { p => reads.add(1); p }.toDF("id_a", "id_b")
        val got = components[Long](s, edges, (1L to 40L).toDF("id"), reliable)
        assert(got == (1L to 40L).map(_ -> 1L).toMap)
        assert(reads.value == pairs.size,
          s"reliable=$reliable: ${reads.value} pair rows computed for ${pairs.size} pairs")
      }
    }

    test(s"connectedComponents reliable=true checkpoints through the configured dir$finish") {
      val s = session(); import s.implicits._
      val edges = Seq((2L, 1L), (3L, 2L)).toDF("id_a", "id_b")
      val nodes = (1L to 4L).toDF("id")
      // without a checkpoint dir the reliable path must fail fast
      if (s.sparkContext.getCheckpointDir.isEmpty) intercept[IllegalArgumentException] {
        Dedup.connectedComponents(edges, "id_a", "id_b", nodes, "id", reliable = true)
      }
      val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
      s.sparkContext.setCheckpointDir(dir)
      val got = components[Long](s, edges, nodes, reliable = true)
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
      // proof the reliable path actually wrote checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"reliable=true left no files under $dir")
    }

    test(s"connectedComponents on an empty node set returns empty$finish") {
      val s = session(); import s.implicits._
      val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      val nodes = Seq.empty[Long].toDF("id")
      assert(components[Long](s, edges, nodes).isEmpty)
    }

    test(s"connectedComponents equals a reference union-find on 20 seeded graphs at 1, 3 and 7 partitions$finish") {
      val s = session(); import s.implicits._
      (1 to 20).foreach { seed =>
        val rnd = new scala.util.Random(seed)
        val n = 10 + rnd.nextInt(60)
        val edges = Seq.fill(rnd.nextInt(2 * n))((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        val want = referenceComponents(n, edges)
        val parts = Seq(1, 3, 7)(seed % 3)
        val got = components[Long](s, edges.toDF("id_a", "id_b").repartition(parts),
          (1L to n.toLong).toDF("id").repartition(parts))
        assert(got == want, s"seed $seed, $parts partitions")
      }
    }
  }

  test("connectedComponents: concurrent driver and distributed finishes leave the session's conf alone") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    // 4 KiB admits 256 long-pair edge rows: the 39-edge chain finishes on
    // the driver, the 600-edge random graph on the distributed rounds
    val s = graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "4096")
    import s.implicits._
    val chain = () => Dedup.connectedComponents(
      (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b"), "id_a", "id_b",
      (1L to 40L).toDF("id"), "id")
    val rnd = new scala.util.Random(7L)
    val randomEdges = Seq.fill(600)((rnd.nextInt(400).toLong + 1, rnd.nextInt(400).toLong + 1))
    val random = () => Dedup.connectedComponents(randomEdges.toDF("id_a", "id_b"),
      "id_a", "id_b", (1L to 400L).toDF("id"), "id")
    val unrelated = () => s.range(0, 20000).groupBy((col("id") % 7).as("k")).count()
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    def run(build: () => DataFrame) = { val df = build(); (rows(df), Dedup.lastRounds) }
    val conf = s.conf.getAll
    val sequential = Seq(chain, random, unrelated).map(run)
    assert(sequential(0)._2 == 0 && sequential(1)._2 > 0,
      s"expected one driver and one distributed finish, ran ${sequential.map(_._2)} rounds")
    val concurrent = Await.result(
      Future.sequence(Seq(chain, random, unrelated).map(b => Future(run(b)))), 120.seconds)
    // the pool thread of the unrelated query may hold an earlier CC's count
    assert(concurrent.map(_._1) == sequential.map(_._1))
    assert(concurrent.take(2).map(_._2) == sequential.take(2).map(_._2))
    assert(s.conf.getAll == conf)
  }

  test("connectedComponents: the distributed finish runs on the caller's session and leaves its conf alone") {
    val s = graft.LocalSpark.session("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    import s.implicits._
    val conf = s.conf.getAll
    val got = Dedup.connectedComponents(
      (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b"), "id_a", "id_b",
      (1L to 40L).toDF("id"), "id")
    assert(Dedup.lastRounds > 0)
    assert(got.sparkSession eq s)
    assert(got.where(col("cluster_id") === 1L).count() == 40L)
    assert(s.conf.getAll == conf)
  }

  test("connectedComponents: the distributed finish keeps only the blocks behind its result") {
    val s = noBroadcast
    import s.implicits._
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val got = Dedup.connectedComponents(
      (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b"), "id_a", "id_b",
      (1L to 70L).toDF("id"), "id")
    assert(Dedup.lastRounds > 0)
    val backing = got.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(backing.nonEmpty)
    assert(sc.getPersistentRDDs.keySet -- before == backing)
    assert(got.where(col("cluster_id") === 1L).count() == 64L)
  }

  test("keepBest keeps the top-scored doc per cluster, ties to the smallest id") {
    import spark.implicits._
    val rows = Seq(
      // cluster 1: clear winner by score
      (1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 20L),
      // cluster 5: score tie -> smallest id wins
      (5L, 5L, 40L), (6L, 5L, 40L), (7L, 5L, 15L),
      // singleton cluster
      (9L, 9L, 1L)
    ).toDF("doc_id", "cluster_id", "score")
    val kept = Dedup.keepBest(rows.repartition(3), "cluster_id", "doc_id", "score")
      .select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(2L -> 1L, 5L -> 5L, 9L -> 9L))
    val e = intercept[IllegalArgumentException] {
      Dedup.keepBest(rows.withColumn("doc_id", $"doc_id".cast("string")),
        "cluster_id", "doc_id", "score")
    }
    assert(e.getMessage.contains("numeric id"))
  }

  test("simhashPairs rejects radius configs whose pigeonhole cannot prune") {
    import spark.implicits._
    val sim = Seq((1L, 7L), (2L, 7L)).toDF("doc_id", "simhash")
    // maxHamming=14 → 15 chunks of 4 bits: unrelated fingerprints collide
    // with p ≈ 15/16 — quadratic by configuration, must fail fast
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(sim, "doc_id", maxHamming = 14)
    }
    assert(e.getMessage.contains("all-pairs"))
    // the same radius with an explicit opt-in (verification corpus) runs
    assert(Dedup.simhashPairs(sim, "doc_id", 14, maxCollisionFraction = 1.0)
      .count() == 1)
    // a corpus-scale radius (3 → 4 chunks of 15 bits, p ≈ 1.2e-4) passes
    // the default guard and still finds the qualifying pair exactly
    val got = Dedup.simhashPairs(sim, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 0L)))
  }

  test("ngramContamination counts distinct train-overlapping shingles per eval doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // train: shingles {abg, bgd'}
      (2L, "alpha beta gamma epsilon"),      // train
      (10L, "alpha beta gamma delta"),       // eval: all 2 shingles in train
      (20L, "zeta eta theta iota"),          // eval: 0 of 2 in train
      (30L, "one two")                       // eval: no shingles at all
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(docs, "doc_id", "text",
        col("doc_id") >= 10, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got(0) == ((10L, 2L, 2L, 1.0)))
    assert(got(1) == ((20L, 2L, 0L, 0.0)))
    assert(got(2) == ((30L, 0L, 0L, 0.0)))
  }

  test("packSequences chops the per-group token stream at exact budget boundaries") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", 300L), (2L, "s1", 300L), (3L, "s1", 500L), (4L, "s1", 10L),
      (5L, "s2", 1200L), (6L, "s2", 1L)
    ).toDF("doc_id", "source", "n_tokens")
    val got = Sampling.packSequences(docs.repartition(5), "doc_id", "source", "n_tokens", 512L)
      .select("doc_id", "seq_id", "seq_off")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // s1 stream offsets: doc1@0, doc2@300, doc3@600, doc4@1100
    // s2 stream offsets: doc5@0, doc6@1200
    assert(got.toSeq == Seq(
      (1L, 0L, 0L), (2L, 0L, 300L), (3L, 1L, 88L), (4L, 2L, 76L),
      (5L, 0L, 0L), (6L, 2L, 176L)))
  }

  test("packSequences: a document larger than the budget spans sequences; stream stays exact") {
    import spark.implicits._
    // doc 1 alone fills seqs 0..2 (1300 tokens / 512); doc 2 starts at
    // offset 1300 -> seq 2 off 276; doc 3 at 1400 -> seq 2 off 376
    val docs = Seq((1L, "g", 1300L), (2L, "g", 100L), (3L, "g", 50L))
      .toDF("doc_id", "source", "n_tokens")
    val got = Sampling.packSequences(docs, "doc_id", "source", "n_tokens", 512L)
      .select("doc_id", "seq_id", "seq_off")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 0L, 0L), (2L, 2L, 276L), (3L, 2L, 376L)))
  }

  test("vocabulary with k beyond the vocab size returns every word") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabulary(docs, "doc_id", "text", 100)
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("a", "b", "c"))
  }

  test("shuffleShards is a stable permutation: contiguous positions per shard") {
    import spark.implicits._
    val docs = (1L to 500L).toDF("id")
    val a = Sampling.shuffleShards(docs, "id", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val b = Sampling.shuffleShards(docs.repartition(13), "id", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq, "not repartition-stable")
    assert(a.forall(x => x._2 >= 0 && x._2 < 8))
    // positions within each shard are exactly 1..|shard|
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // the permutation is not the identity order (it actually shuffles)
    val inOrder = a.sortBy(x => (x._2, x._3)).map(_._1)
    assert(inOrder.toSeq != inOrder.sorted.toSeq)
  }

  test("vocabulary returns the top-k words with tf/df, ties broken by word") {
    import spark.implicits._
    val docs = Seq((1L, "b a a c"), (2L, "a b d"), (3L, "b")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabulary(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // tf: a=3 b=3 c=1 d=1 → top2 = a, b (tie broken by word keeps both)
    assert(got.toSeq == Seq(("a", 3L, 2L), ("b", 3L, 3L)))
  }

  test("topTerms ranks by tf·n_docs/df with deterministic tie-break") {
    import spark.implicits._
    val docs = Seq((1L, "x x y common"), (2L, "y common"), (3L, "common")).toDF("doc_id", "text")
    val got = TextAnalysis.topTerms(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(5))).sortBy(x => (x._1, x._3))
    // doc1: x tf=2 df=1 → 6.0; y tf=1 df=2 → 1.5; common tf=1 df=3 → 1.0
    assert(got.toSeq == Seq((1L, "x", 1), (1L, "y", 2),
      (2L, "y", 1), (2L, "common", 2), (3L, "common", 1)))
  }

  test("cleanText strips markup, redacts PII spans, collapses whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<p>Hello  <b>world</b></p> mail me at bob.smith+x@example.co.uk ok"),
      (2L, "call +1 (555) 123-4567 now\n\tplease"),
      (3L, "plain text stays")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanText(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got(0) == ((1L, "Hello world mail me at <EMAIL> ok", 4L, 1L, 0L)))
    assert(got(1) == ((2L, "call <PHONE> now please", 0L, 0L, 1L)))
    assert(got(2) == ((3L, "plain text stays", 0L, 0L, 0L)))
  }

  test("repetitionMetrics exposes top-term coverage without tie-broken terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam ham"),   // top word 4/5; top bigram "spam spam" 3/4
      (2L, "all words differ here"),     // top word 1/4; top bigram 1/3
      (3L, "single")                     // one word, no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).sortBy(_._1)
    assert(got(0) == ((1L, 5L, 4L, 0.8, 4L, 3L, 0.75)))
    assert(got(1) == ((2L, 4L, 1L, 0.25, 3L, 1L, 1.0 / 3.0)))
    assert(got(2) == ((3L, 1L, 1L, 1.0, 0L, 0L, 0.0)))
  }

  test("corpusDiff labels by content hash: added/removed/changed/unchanged") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "gone"), (3L, "before")).toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (3L, "after"), (4L, "fresh")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old, neu, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "unchanged"), (2L, "removed"),
      (3L, "changed"), (4L, "added")))
  }

  test("containmentPairs scores quote-inclusion that Jaccard misses") {
    import spark.implicits._
    // doc 2 is doc 1 quoted inside much longer unrelated text: the
    // small side's shingles are fully contained, but the union is
    // dominated by the long side
    val quote = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 60).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, quote),
      (2L, s"$filler $quote"),
      (3L, "wholly unrelated words nothing shared here at all")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, maxDf = 50, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // doc 1 has 4 shingles, every one inside doc 2 (the "$filler $quote"
    // join also creates bridging shingles, but all 4 of doc 1's survive)
    val (nInter, contAb, contBa) = cont((1L, 2L))
    assert(nInter == 4 && contAb == 1.0, s"n_inter=$nInter cont_ab=$contAb")
    assert(contBa < 0.1, s"long side must NOT be contained: $contBa")
    assert(!cont.contains((1L, 3L)) && !cont.contains((2L, 3L)))
    // the same pair under symmetric Jaccard at the same bar: invisible
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 50, 0.9).collect()
    assert(jac.isEmpty, "Jaccard at 0.9 must miss the quote-inclusion pair")
  }
}

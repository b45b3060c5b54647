package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.BucketedStore

import PortableHash.hash60

/** Deduplication operators for large-scale text corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Extends the reference's capability surface
  * (it has no dedup beyond workload-string dedup, dqo/datasets/__init__.py:150)
  * with the operators a training-data pipeline needs.
  *
  * Scale design (100 TB): every op is one explode + one hash-partitioned
  * aggregation/join — no unbounded collect (connectedComponents collects
  * only an edge set under the broadcast threshold). Candidate
  * generation (LSH bands, SimHash pigeonhole chunks) bounds the join
  * fan-out so the all-pairs quadratic blow-up never materializes; the
  * exact similarity is only computed on candidate pairs. Common-shingle
  * skew is handled with a document-frequency cap (`maxDf`) that drops
  * stop-shingles before the self-join.
  */
object Dedup {

  /** Whitespace tokens of the lowercased text. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** Shingles from an already-materialized token array. Callers MUST bind
    * the token array to its own projection first: inlining `tokens(text)`
    * here would re-run the regex split once per lambda element (O(words²)
    * per document — observed 5× slowdown before this split).
    */
  def shinglesOf(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n), i => concat_ws(" ", slice(t, i + 1, lit(n))))
    ).otherwise(array())

  /** (id, shingle) rows: tokens materialized in their own projection, and
    * the input pre-partitioned by id so (a) the CPU-heavy explode runs on
    * all cores even when the source is a single small file and (b) the
    * downstream per-id groupBy reuses the partitioning without another
    * shuffle. The shingles come from a position GENERATOR + in-row
    * concat_ws(slice) — not explode([[shinglesOf]]), whose transform
    * lambda is CodegenFallback (one interpreted dispatch per shingle);
    * this path stays entirely inside whole-stage codegen and emits the
    * identical (id, shingle) multiset.
    */
  private[graft] def shingleRows(df: DataFrame, idCol: String, textCol: String,
                                 n: Int): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"), explode(
        when(size(col("toks")) >= n, sequence(lit(0), size(col("toks")) - n))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col(idCol), concat_ws(" ", slice(col("toks"), col("i") + 1, lit(n))).as("sh"))

  /** Exact dedup: group identical texts by md5, keep the smallest id.
    * One shuffle on the 128-bit content hash; group sizes are tiny
    * (true duplicates), so no skew handling is needed.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).cast("long").as("n_copies"))

  /** Mersenne-prime modulus for the affine MinHash family. */
  val MinhashP: Long = 2147483647L

  /** Deterministic affine-family constants (a odd, both < P). Literal
    * values are embedded in both the Spark plan and the oracle SQL.
    */
  def minhashConsts(i: Int): (Long, Long) = {
    val a = ((2L * i + 1L) * 2654435761L) % MinhashP
    val b = (i.toLong * 40503L * 65537L + 17L) % MinhashP
    (a, b)
  }

  /** MinHash signatures as flat rows (id, seed, min_hash): explode shingles
    * once, md5-hash each shingle ONCE, then derive the k permutations with
    * an affine universal-hash family ((a·h + b) mod 2^31-1 — products stay
    * under 2^62, so plain BIGINT math reproduces everywhere). k
    * min-aggregates in one map-side-combining groupBy — the shuffle
    * carries only k longs per document.
    */
  /** Wide MinHash signatures: one row per document, columns s0..s{k-1}.
    * This is the internal currency of the LSH pipeline — banding consumes
    * it directly, so no unpivot/re-pivot round-trip sits on the scale
    * path. [[minhashSignatures]] flattens it for the flat-row API surface.
    */
  def minhashSignaturesWide(df: DataFrame, idCol: String, textCol: String,
                            k: Int, shingleN: Int): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, shingleN)
      .withColumn("hb", hash60(col("sh")) % MinhashP)
    val aggs = (0 until k).map { s =>
      val (a, b) = minhashConsts(s)
      min((col("hb") * a + b) % MinhashP).as(s"s$s")
    }
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures as flat rows (id, seed, min_hash) — the public
    * per-seed surface over [[minhashSignaturesWide]].
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleN: Int): DataFrame = {
    val stacked = (0 until k).map(s => s"$s, s$s").mkString(", ")
    minhashSignaturesWide(df, idCol, textCol, k, shingleN)
      .selectExpr(idCol, s"stack($k, $stacked) AS (seed, min_hash)")
  }

  /** LSH band keys from the WIDE signature form (the scale path): each of
    * `bands` bands of `rowsPerBand` signature values hashes to a bucket
    * key — a pure projection, no extra shuffle.
    */
  def lshBandsWide(wide: DataFrame, idCol: String,
                   bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}"))
      hash60(concat_ws(",", parts: _*)).as(s"band$b")
    }
    val withBands = wide.select(col(idCol) +: bandCols: _*)
    val stacked = (0 until bands).map(b => s"$b, band$b").mkString(", ")
    withBands.selectExpr(idCol, s"stack($bands, $stacked) AS (band, bucket)")
  }

  /** Candidate pairs from LSH buckets (a < b, distinct). The self-join is
    * hash-partitioned on (band, bucket); bucket sizes are bounded by the
    * band width choice, keeping fan-out quadratic only within buckets.
    */
  def lshCandidates(bandDf: DataFrame, idCol: String): DataFrame = {
    val a = bandDf.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = bandDf.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    // shuffle join on purpose: both sides canonicalize identically below
    // the exchange, so ReuseExchange runs the minhash+banding subtree
    // ONCE; a broadcast join would recompute it per side and is not an
    // option at corpus scale anyway
    a.join(b.hint("shuffle_merge"), Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * shingle, with a document-frequency cap dropping stop-shingles (skew
    * guard at scale; also bounds fan-out). Returns pairs with
    * jaccard >= `threshold`.
    */
  /** Shared candidate core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: per-pair distinct-shingle intersection counts
    * with both documents' set sizes riding along —
    * `(id_a, id_b, n_a, n_b, n_inter)`. One linear pipeline, two
    * shuffles, DF-capped before any pair fan-out.
    */
  private def shinglePairCounts(df: DataFrame, idCol: String, textCol: String,
                                shingleN: Int, maxDf: Long): DataFrame = {
    // per-document DISTINCT shingles computed in-row (array_distinct):
    // no global distinct shuffle, and the per-doc set size |A| is a plain
    // scalar projection off the scan rather than a third aggregation over
    // the exploded rows (the old shape re-ran tokenize+explode per branch)
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), array_distinct(shinglesOf(col("toks"), shingleN)).as("shs"))
    // |A| (the per-doc distinct-shingle count) rides along every exploded
    // row: it costs 8 bytes per row and deletes BOTH size-lookup joins —
    // the whole op becomes one linear pipeline with exactly two shuffles
    // (per-shingle buckets, then per-pair counts). n_sh is packed INSIDE
    // the generator expression: referencing `shs` from both a sibling
    // projection and the generator makes Catalyst re-inline the whole
    // tokenize+shingle subtree per consumer (measured 20× slower).
    val docSh = base
      .select(col("id"), explode(transform(col("shs"), x =>
        struct(x.as("sh"), size(col("shs")).cast("long").as("n_sh")))).as("e"))
      .select(col("id"), col("e.n_sh").as("n_sh"), col("e.sh").as("sh"))
    // bucket docs per shingle, capping document frequency BEFORE any pair
    // fan-out (the skew guard): a stop-shingle never materializes its
    // quadratic bucket. Pair generation is then a bounded in-row
    // expansion (≤ maxDf·(maxDf-1)/2 per shingle) instead of a self-join
    // that shuffles the exploded set twice.
    // (r16 probe note: a pre-filtering COUNT pass + join that dropped
    // singleton shingles before this aggregation was tried and measured
    // SLOWER — the extra exchange + recomputed explode cost more than the
    // collect_list saves at every scale tested; the one-shuffle shape
    // below stands.)
    val buckets = docSh.groupBy("sh")
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("ids"))
      .where(size(col("ids")) <= maxDf)
    // pair expansion as TWO generators, not nested transform/flatten:
    // higher-order functions are CodegenFallback (interpreted lambda per
    // element), while explode/posexplode run inside whole-stage codegen —
    // same (i < j) pair multiset, same ≤ maxDf·(maxDf-1)/2 in-row bound,
    // the sorted bucket array just fans out through GenerateExec instead
    // of building nested arrays in interpreted mode
    val pairs = buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("b"))
      .select(col("a.id").as("id_a"), col("a.n_sh").as("n_a"),
              col("b.id").as("id_b"), col("b.n_sh").as("n_b"))
    // n_a/n_b are functionally dependent on the ids — grouping on them
    // too keeps them available without any join-back
    pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("n_inter"))
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, maxDf: Long, threshold: Double): DataFrame =
    shinglePairCounts(df, idCol, textCol, shingleN, maxDf)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")

  /** Broder CONTAINMENT pairs (Broder 1997's c(A,B) = |A∩B|/|A|): the
    * asymmetric companion to [[ngramJaccardPairs]] — a short document
    * quoted wholesale inside a long one scores containment ≈ 1 while
    * its Jaccard stays tiny (the union is dominated by the long side),
    * so symmetric dedup misses exactly the quote-inclusion /
    * boilerplate-embedding duplicates this operator exists to catch.
    * Emits both directions (`cont_ab` = |A∩B|/|A|, `cont_ba`) for pairs
    * where either reaches `threshold`; each is ONE IEEE division of two
    * exact integers, so the threshold decision is engine-portable.
    * Same candidate core, same DF cap, same two-shuffle scale shape.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, maxDf: Long, threshold: Double): DataFrame =
    shinglePairCounts(df, idCol, textCol, shingleN, maxDf)
      .withColumn("cont_ab", col("n_inter").cast("double") / col("n_a"))
      .withColumn("cont_ba", col("n_inter").cast("double") / col("n_b"))
      .where(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select("id_a", "id_b", "n_inter", "cont_ab", "cont_ba")

  private val SimBits = 60

  /** 60-bit SimHash over whitespace tokens: per token, each hash bit votes
    * +1/-1; the fingerprint keeps the sign of each bit's vote sum.
    * Bit tests use pure modular arithmetic (h mod 2^(j+1) >= 2^j) so the
    * oracle can reproduce them; one explode + 60 conditional sums, all
    * map-side combined.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .withColumn("h", hash60(col("w")))
    val votes = (0 until SimBits).map { j =>
      val lo = lit(1L << j)
      val hi = lit(if (j + 1 == 63) Long.MaxValue else (1L << (j + 1)))
      sum(when(col("h") % hi >= lo, 1).otherwise(-1)).as(s"v$j")
    }
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val fp = (0 until SimBits)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(idCol), fp.as("simhash"))
  }

  /** Near-dup pairs by Hamming distance <= maxHamming, using pigeonhole
    * candidate generation: the 60-bit fingerprint splits into
    * (maxHamming+1) chunks; any pair within distance must agree on at
    * least one chunk, so the self-join on (chunkIdx, chunkValue) finds
    * every qualifying pair — identical output to brute force, without the
    * all-pairs product.
    *
    * The pigeonhole only prunes when the chunks are WIDE: with C =
    * maxHamming+1 chunks of w = 60/C bits, two unrelated fingerprints
    * still collide on some chunk with p ≈ C/2^w (union bound), and the
    * candidate join degenerates toward all-pairs as that fraction grows
    * (at maxHamming=14: 15 4-bit chunks, p ≈ 0.94 — quadratic by
    * configuration). The guard fails fast when the fraction exceeds
    * `maxCollisionFraction` (default 5%); a small verification corpus
    * that genuinely wants exact recall at a wide radius must raise it
    * EXPLICITLY, which keeps the scale hazard visible at the call site.
    */
  def simhashPairs(simDf: DataFrame, idCol: String, maxHamming: Int,
                   maxCollisionFraction: Double = 0.05): DataFrame = {
    val chunks = maxHamming + 1
    val width = SimBits / chunks
    val collisionFrac = chunks / math.pow(2.0, width)
    require(collisionFrac <= maxCollisionFraction,
      f"simhashPairs(maxHamming=$maxHamming) yields $chunks chunks of $width bits: " +
        f"unrelated fingerprints collide with p~=$collisionFrac%.3f > $maxCollisionFraction%.3f " +
        "(candidate join degenerates toward all-pairs at corpus scale) — tighten the " +
        "radius or raise maxCollisionFraction explicitly for a small verification corpus")
    val chunked = simDf.select(
      col(idCol).as("id"), col("simhash"),
      explode(array((0 until chunks).map { c =>
        // integer chunk extraction: (sim mod 2^((c+1)w)) div 2^(cw);
        // Column./ is double division, which loses bits past 2^53
        struct(lit(c).as("ck"),
          expr(s"CAST((simhash % ${1L << ((c + 1) * width)}) DIV ${1L << (c * width)} AS BIGINT)")
            .as("cv"))
      }: _*)).as("chunk"))
      .select(col("id"), col("simhash"), col("chunk.ck"), col("chunk.cv"))
    val a = chunked.select(col("ck"), col("cv"), col("id").as("id_a"), col("simhash").as("sim_a"))
    val b = chunked.select(col("ck"), col("cv"), col("id").as("id_b"), col("simhash").as("sim_b"))
    // shuffle join: identical canonical subtrees → ReuseExchange computes
    // the simhash+chunk subtree once (see lshCandidates)
    a.join(b.hint("shuffle_merge"), Seq("ck", "cv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bitCount(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  private def bitCount(c: Column): Column = bit_count(c)

  /** Connected components over a near-dup pair graph: every node gets
    * `cluster_id` = the smallest node id reachable through the pairs —
    * the canonical "keep one doc per duplicate cluster" step downstream
    * of any candidate-pair generator ([[lshCandidates]],
    * [[ngramJaccardPairs]], [[simhashPairs]], embedding near-dup). The
    * result is the exact component minimum — deterministic regardless of
    * partitioning, join order or which finish below runs.
    *
    * One pipeline with a size-based finish, decided the way a broadcast
    * join is:
    *
    *  1. Edges touching a node outside `nodes` are semi-joined away and
    *     both endpoints take one id type. When a driver finish is
    *     possible, that edge set is checkpointed once, so the caller's
    *     (typically expensive, unpersisted) pair pipeline runs exactly
    *     once whichever finish follows.
    *  2. Driver finish, when the edge set fits the session's
    *     `spark.sql.autoBroadcastJoinThreshold` at two ids of the id
    *     type's `defaultSize` per row. One job (after the checkpoint
    *     write when `reliable`) materializes the edges, counts them and
    *     ships them to the driver, never more rows than that bound
    *     admits; union-find on the driver labels them, the labels come
    *     back as a local relation and nothing stays persisted.
    *     [[lastRounds]] reads 0.
    *  3. Distributed finish, when the edge set is over the bound or the
    *     threshold is −1 (never broadcast): iterative min-label
    *     propagation. Each round joins the current labels across the
    *     symmetrized edges, keeps the per-node minimum and pointer-jumps
    *     (`label(n) := min(label(n), label(label(n)))`), so the round
    *     count is O(log diameter) — on a 64-node chain at most 10
    *     (asserted in CorpusOpsSpec); a single scalar probe per round
    *     detects the fixpoint. Every round is checkpointed to truncate the
    *     otherwise exponentially growing lineage — `localCheckpoint` by
    *     default, or a reliable `checkpoint` with `reliable = true` for
    *     real clusters where executor loss would kill local blocks
    *     mid-iteration (the caller must have set
    *     `SparkContext.setCheckpointDir` to a fault-tolerant location
    *     first) — and released once the next round is materialized, so
    *     only the blocks behind the returned frame stay. [[lastRounds]]
    *     reads the round count. The rounds plan on the caller's
    *     session under its own conf: every checkpoint keeps its origin
    *     plan's constraint set, and on Spark 4.1 the driver's planning
    *     time per round stays flat as the rounds go on (about 20 ms a
    *     round over 6–10 rounds on chains of 2k–20k nodes).
    *
    * Both finishes label only edge-incident nodes; isolated nodes come
    * back self-labeled via one left join of the node set + coalesce —
    * not a Union with an identity-seeded branch, whose node=cluster_id
    * alias-equality constraint crashes Catalyst's Union constraint
    * rewriting under constraint propagation (the r15 crash).
    *
    * Labels carry the node id in its NATIVE type (min works for any
    * orderable id — long, string, decimal): a `cast("long")` would turn
    * string doc-ids into all-NULL labels. Id types whose values the
    * union-find cannot compare as Spark does (binary, floating point,
    * non-binary collations) always take the distributed finish.
    *
    * A per-partition union-find pass before the collect (contracting the
    * edges to a star forest) was measured and left out: on the pair
    * graphs of q49/q70/q90 and q100 it removed 0–9% of the rows (e.g.
    * 590 edges → 538 forest rows at sf0.1) for one more shuffle.
    */
  def connectedComponents(edges: DataFrame, idA: String, idB: String,
                          nodes: DataFrame, idCol: String,
                          reliable: Boolean = false): DataFrame = {
    val spark = nodes.sparkSession
    if (reliable) require(spark.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs SparkContext.setCheckpointDir (a fault-tolerant path)")
    val nodeSet = nodes.select(col(idCol).as("node")).distinct()
    // components over EXACTLY the given node set: an edge endpoint
    // outside it (e.g. a pair computed before a filter dropped the doc)
    // must not introduce phantom rows or labels. A semi-join ignores
    // duplicate keys, so it reads the ids without the node set's distinct.
    val ids = nodes.select(col(idCol))
    val joined = edges.select(col(idA).as("src"), col(idB).as("dst"))
      .join(ids.select(col(idCol).as("src")), Seq("src"), "left_semi")
      .join(ids.select(col(idCol).as("dst")), Seq("dst"), "left_semi")
    // one id type for both endpoints (e.g. int and bigint widen to
    // bigint), the type the symmetrized rounds would widen them to
    val idType = symmetrized(joined).schema("src").dataType
    val typed = joined.select(col("src").cast(idType).as("src"), col("dst").cast(idType).as("dst"))
    val bound = GraftBridge.broadcastThreshold(spark)
    val labels = idOrder(idType).filter(_ => bound >= 0) match {
      case None => minLabelRounds(typed, reliable)
      case Some(key) =>
        // checkpointed once, so the pair pipeline runs once whichever
        // finish follows. A lazy reliable checkpoint would compute its
        // input twice (for the first job, then to write the files), so a
        // reliable one is eager.
        val edgeSet = checkpoint(typed, reliable, eager = reliable)
        val out = driverFinish(edgeSet, key, bound / (2L * idType.defaultSize))
          .getOrElse(minLabelRounds(edgeSet, reliable))
        release(edgeSet)
        out
    }
    nodeSet.join(labels, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }

  /** The driver finish of [[connectedComponents]]: union-find on the
    * driver over `edges` (checkpointed (src, dst) pairs) when there are
    * at most `limit` of them, with the labels as a local relation; None,
    * and the edges materialized, when there are more. ONE job
    * materializes the checkpoint, counts every partition and ships a
    * partition's rows only when they are within its share of `limit`, so
    * the driver never receives more than `limit` rows; only an edge set
    * skewed past one partition's share needs a second job.
    */
  private def driverFinish(edges: DataFrame, key: Any => Comparable[Any],
                           limit: Long): Option[DataFrame] = {
    val rows = edges.rdd
    val share = limit / math.max(1, rows.getNumPartitions)
    val parts = edges.sparkSession.sparkContext.runJob(rows, (it: Iterator[Row]) => {
      val kept = mutable.ArrayBuffer.empty[Row]
      var n = 0L
      it.foreach { r => n += 1; if (n <= share) kept += r }
      (n, if (n <= share) kept.toArray else Array.empty[Row])
    })
    if (parts.map(_._1).sum > limit) None else {
      val uf = new UnionFind(key)
      val pairs = if (parts.forall(_._1 <= share)) parts.flatMap(_._2) else edges.collect()
      pairs.foreach(r => uf.union(r.get(0), r.get(1)))
      lastRoundsTL.set(0)
      val idType = edges.schema("src").dataType
      Some(edges.sparkSession.createDataFrame(
        uf.labels.map { case (n, l) => Row(n, l) }.toList.asJava,
        StructType(Seq(StructField("node", idType), StructField("cluster_id", idType)))))
    }
  }

  /** The distributed finish of [[connectedComponents]] over `edges`
    * ((src, dst) pairs, read once).
    */
  private def minLabelRounds(edges: DataFrame, reliable: Boolean): DataFrame = {
    // hash-partitioned on dst BEFORE the checkpoint: the LogicalRDD keeps
    // that partitioning, so the per-round propagate join co-partitions on
    // dst without re-shuffling the edges every round
    val sym = checkpoint(symmetrized(edges).repartition(col("dst")), reliable)
    // every iterated node is a src of some sym edge (symmetrized), so
    // prop is TOTAL over labels and the merge join is inner
    var labels = checkpoint(sym.select(col("src").as("node")).distinct()
      .withColumn("cluster_id", col("node")), reliable)
    // fixpoint = no label changed this round (a changed-row count, NOT a
    // sum of labels: label sums overflow Long for 60-bit hash ids, and an
    // empty edge set sums to NULL)
    var converged = labels.isEmpty
    var rounds = 0
    while (!converged) {
      val prop = sym.join(labels, sym("dst") === labels("node"))
        .select(col("src").as("node"), col("cluster_id").as("prop_min"))
        .groupBy("node").agg(min("prop_min").as("prop_min"))
      val merged = labels.join(prop, Seq("node"))
        .select(col("node"), col("cluster_id").as("prev"),
          least(col("cluster_id"), col("prop_min")).as("mid"))
      // SYNCHRONOUS pointer jump against the PREVIOUS round's labels: mid
      // is always an iterated-node id (min over such ids, by induction
      // from the identity seeding), so label(mid) is one total inner join
      // away and the whole round — propagate, merge, jump — materializes
      // in ONE checkpoint. The label chain still halves per round.
      val next = checkpoint(merged.join(
          labels.select(col("node").as("cl"), col("cluster_id").as("cl_lab")),
          col("mid") === col("cl"))
        .select(col("node"), col("prev"),
          least(col("mid"), col("cl_lab")).as("cluster_id")), reliable)
      rounds += 1
      // next == prev everywhere ⟹ mid == prev (the jump can only lower
      // further) ⟹ propagation fixpoint ⟹ labels constant across every
      // edge ⟹ exact component minimum; one cheap scan of the
      // checkpointed blocks confirms it
      converged = next.where(col("cluster_id") =!= col("prev")).isEmpty
      release(labels)
      labels = next.select("node", "cluster_id")
    }
    release(sym)
    lastRoundsTL.set(rounds)
    labels
  }

  /** Both orientations of every (src, dst) edge, out of ONE generator
    * pass: a union of two projections would consume the input twice.
    */
  private def symmetrized(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Keys that order node ids as Spark does, or None when the boxed
    * values cannot: strings compare by their UTF-8 bytes (Java's `String`
    * order is UTF-16 units), the other supported types by their natural
    * order, which for these types is Spark's. Binary ids have no value
    * equality on the JVM, floating-point ids need Spark's NaN and −0.0
    * normalization, and collated strings compare by their collation.
    */
  private def idOrder(dt: DataType): Option[Any => Comparable[Any]] = dt match {
    case StringType =>
      Some(v => UTF8String.fromString(v.asInstanceOf[String]).asInstanceOf[Comparable[Any]])
    case ByteType | ShortType | IntegerType | LongType | _: DecimalType | DateType | TimestampType | TimestampNTZType =>
      Some(_.asInstanceOf[Comparable[Any]])
    case _ => None
  }

  /** Union-find over node ids compared by value, each set remembering
    * its least id under `key` (union by size, path halving).
    */
  private final class UnionFind(key: Any => Comparable[Any]) {
    private val index = mutable.HashMap.empty[Any, Int]
    private val ids = mutable.ArrayBuffer.empty[Any]
    private val parent = mutable.ArrayBuffer.empty[Int]
    private val size = mutable.ArrayBuffer.empty[Int]
    private val least = mutable.ArrayBuffer.empty[Any]

    private def find(v: Any): Int = {
      var i = index.getOrElseUpdate(v, {
        ids += v; parent += ids.size - 1; size += 1; least += v; ids.size - 1
      })
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }

    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (big, small) = if (size(ra) >= size(rb)) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) += size(small)
        if (key(least(small)).compareTo(key(least(big))) < 0) least(big) = least(small)
      }
    }

    /** Every id seen, with the least id of its set. */
    def labels: Iterator[(Any, Any)] = ids.iterator.map(v => v -> least(find(v)))
  }

  /** `df` checkpointed: local blocks, or the checkpoint dir when
    * `reliable`. A lazy checkpoint is written by the first job that
    * reads the frame.
    */
  private def checkpoint(df: DataFrame, reliable: Boolean, eager: Boolean = true): DataFrame =
    if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)

  /** Drops the blocks of a checkpointed frame. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Canonical-corpus selection: keep ONE representative per duplicate
    * cluster — the document with the highest `scoreCol`, ties to the
    * smallest `idCol`. Composes downstream of [[connectedComponents]]
    * (cluster → best doc) to turn a clustered corpus into the deduped
    * corpus a training run actually reads.
    *
    * Scale design: the winner per cluster is ONE struct-max aggregation
    * — struct ordering is lexicographic, so max of (score, -id) is
    * "highest score, then smallest id" with full map-side combining and
    * no per-group sort (a ROW_NUMBER window would sort every cluster);
    * the kept rows come back via a semi-join on (cluster, id), which
    * AQE broadcasts when the winner set is small.
    */
  def keepBest(df: DataFrame, clusterCol: String, idCol: String,
               scoreCol: String): DataFrame = {
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBest needs a numeric id for the deterministic tie-break; " +
        s"$idCol is ${df.schema(idCol).dataType.simpleString}")
    val winners = df.groupBy(col(clusterCol))
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("neg_id"))).as("w"))
      .select(col(clusterCol), (-col("w.neg_id")).as(idCol))
    df.join(winners, Seq(clusterCol, idCol), "left_semi")
  }

  /** Distributed min-label rounds the most recent [[connectedComponents]]
    * call ON THIS THREAD ran: 0 when the driver finished it — a
    * test-introspection hook (the O(log diameter) assertion in
    * CorpusOpsSpec). ThreadLocal, not a shared var: concurrent CC runs in
    * one JVM must not report each other's round counts.
    */
  private[graft] val lastRoundsTL: ThreadLocal[Int] =
    ThreadLocal.withInitial(() => 0)
  private[graft] def lastRounds: Int = lastRoundsTL.get()

  /** Single-column probe key for the LSH index: (band, bucket) folded
    * into one hash. Spark's bucketed-scan planner only elides the
    * index-side shuffle when the join keys are EXACTLY the bucketing
    * column (joining on the (band, bucket) pair disables the bucketed
    * scan), so the index is keyed, bucketed, and probed on this fold. A
    * cross-band hash collision (~2^-60) can only ADD a candidate pair,
    * and candidates are similarity-verified downstream.
    */
  private def bandKey(band: Column, bucket: Column): Column =
    hash60(concat_ws(":", band, bucket))

  private def bandRowsWithKey(docs: DataFrame, idCol: String, textCol: String,
                              k: Int, shingleN: Int, bands: Int): DataFrame = {
    // k % bands != 0 would silently ignore trailing signature values;
    // bands > k would hash ZERO columns per band (every doc collides)
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    lshBandsWide(
      minhashSignaturesWide(docs, idCol, textCol, k, shingleN), idCol, bands, k / bands)
      .withColumn("bkey", bandKey(col("band"), col("bucket")))
  }

  /** Persist a corpus's LSH band rows as a BUCKETED table keyed on the
    * folded band key — the reusable dedup index for incremental
    * ingestion. Build once over the existing corpus; every arriving
    * batch probes it via [[incrementalLshCandidates]] (and is folded in
    * with [[appendToLshIndex]] once accepted) without the index ever
    * being re-read into a shuffle. The signature parameters are stamped
    * as table properties and checked at probe/append time — a
    * mismatched probe computes band keys over different signature
    * slices and silently finds nothing, which in a dedup pipeline means
    * every duplicate is silently ingested. The write, the check and the
    * append are [[graft.sources.BucketedStore]]'s index contract.
    * `numBuckets` sizes downstream probe parallelism (at 100 TB: pick so
    * one bucket fits an executor).
    */
  def buildLshIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, shingleN: Int, bands: Int,
                    table: String, path: String, numBuckets: Int): Unit =
    BucketedStore.writeBucketed(
      bandRowsWithKey(docs, idCol, textCol, k, shingleN, bands), table, "bkey", numBuckets, path,
      lshParams(idCol, k, shingleN, bands))

  /** The build parameters an LSH index carries as table properties. */
  private def lshParams(idCol: String, k: Int, shingleN: Int, bands: Int): Map[String, String] =
    Map("graft.lsh.k" -> k.toString, "graft.lsh.shingleN" -> shingleN.toString,
      "graft.lsh.bands" -> bands.toString, "graft.lsh.idCol" -> idCol)

  /** Fold an ACCEPTED batch's band rows into the index (same bucket
    * layout, append mode) so later batches dedup against it too —
    * without this, batch-vs-batch duplicates pass unseen until a full
    * rebuild.
    */
  def appendToLshIndex(newDocs: DataFrame, idCol: String, textCol: String,
                       k: Int, shingleN: Int, bands: Int, indexTable: String): Unit = {
    BucketedStore.requireProperties(newDocs.sparkSession, indexTable,
      lshParams(idCol, k, shingleN, bands))
    BucketedStore.appendBucketed(
      bandRowsWithKey(newDocs, idCol, textCol, k, shingleN, bands), indexTable)
  }

  /** Incremental dedup: candidates between a NEW batch and the existing
    * corpus via the persisted [[buildLshIndex]] table. The new batch
    * (small) computes its own band rows and shuffles once to the index's
    * bucket layout; the index side reads its buckets IN PLACE — no
    * shuffle, no recompute, probe cost ∝ batch size. This is the
    * ingestion-time shape at 100 TB: the quadratic-risk side (the
    * corpus) never moves.
    */
  def incrementalLshCandidates(newDocs: DataFrame, idCol: String, textCol: String,
                               k: Int, shingleN: Int, bands: Int,
                               indexTable: String): DataFrame = {
    BucketedStore.requireProperties(newDocs.sparkSession, indexTable,
      lshParams(idCol, k, shingleN, bands))
    val bandRows = bandRowsWithKey(newDocs, idCol, textCol, k, shingleN, bands)
    val newBands = bandRows.select(col("bkey"), col(idCol).as("id_new"))
    val idx = newDocs.sparkSession.table(indexTable)
      .select(col("bkey"), col(idCol).as("id_idx"))
    val vsIndex = newBands.join(idx, Seq("bkey"))
      .where(col("id_new") =!= col("id_idx"))
      .select("id_new", "id_idx")
    // batch-INTERNAL duplicates never meet the index (neither copy is in
    // it yet), so probing alone would ingest both: union a self-join over
    // the batch's own band rows, oriented so the smaller id plays the
    // "already present" side — downstream keep-min then keeps exactly it
    val within = lshCandidates(bandRows, idCol)
      .select(col("id_b").as("id_new"), col("id_a").as("id_idx"))
    vsIndex.union(within).distinct()
  }

  /** Benchmark-contamination check: for each eval-side document, how many
    * of its distinct word `shingleN`-grams appear in ANY train-side
    * document. `evalPred` marks the eval side; everything else is train.
    * Returns (id, n_sh, n_contam, contam_frac) for every eval document
    * (including shingle-less ones, at zero).
    *
    * Scale design: the train side collapses to its DISTINCT shingle set
    * before the join (one map-side-combined aggregation — a stop-shingle
    * appears once, so the subsequent join key has no quadratic skew: the
    * per-key fan-out is exactly the eval-side count). The join is
    * hash-partitioned on the shingle; shuffle volume is O(distinct
    * shingles), never document pairs. The contaminated count is a
    * map-side-combined groupBy on the eval id.
    */
  def ngramContamination(df: DataFrame, idCol: String, textCol: String,
                         evalPred: Column, shingleN: Int): DataFrame =
    contamination(df, idCol, textCol, evalPred, shingleN)((trainSh, _) => trainSh)

  /** Shared contamination core — the one place the semantics live, so
    * the plain path and the bloom-prefiltered path
    * ([[graft.ops.Sketches.bloomContamination]]) cannot drift apart
    * (both are oracle-checked against the SAME SQL). `trainFilter` may
    * drop train-shingle occurrences that provably cannot match
    * (receives the raw train occurrences and the eval shingle rows —
    * NOT deduplicated: the bloom build treats duplicates as idempotent
    * inserts, and skipping the distinct deletes one exchange); the
    * result is exact as long as the filter keeps every true overlap.
    */
  private[ops] def contamination(df: DataFrame, idCol: String, textCol: String,
                                 evalPred: Column, shingleN: Int)
                                (trainFilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // persisted: three consumers (train set, eval explode, eval sizes)
    // branch off this base, and without the persist each branch re-runs
    // the tokenize+shingle+distinct subtree — the re-inlining trap
    // ngramJaccardPairs documents (measured 20× there). At warehouse
    // scale, materialize the shingled base as a staging table instead.
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), evalPred.as("is_eval"), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("is_eval"),
        array_distinct(shinglesOf(col("toks"), shingleN)).as("shs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalSh = base.where(col("is_eval"))
      .select(col(idCol), explode(col("shs")).as("sh"))
    val trainSh = trainFilter(
        base.where(!col("is_eval")).select(explode(col("shs")).as("sh")),
        evalSh.select("sh"))
      .distinct()
    val hits = evalSh.join(trainSh, "sh")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contam"))
    base.where(col("is_eval"))
      .select(col(idCol), size(col("shs")).cast("long").as("n_sh"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_contam", coalesce(col("n_contam"), lit(0L)))
      .withColumn("contam_frac",
        when(col("n_sh") === 0, lit(0.0))
          .otherwise(col("n_contam").cast("double") / col("n_sh")))
  }

  /** Chunk-level (sub-document) exact dedup with document reassembly —
    * the C4 recipe of dropping repeated spans while keeping the rest of
    * each document, adapted to span = `w` consecutive tokens (the corpus
    * has no sentence boundaries). Every document is cut into
    * non-overlapping `w`-token chunks; across the whole corpus only the
    * FIRST occurrence of each distinct chunk text (smallest
    * (id, chunk_idx)) survives; surviving chunks are stitched back into
    * a cleaned document in original order.
    *
    * Returns one row per input document (documents whose every chunk was
    * dropped keep their row with empty text): (id, clean_text, n_chunks,
    * n_kept).
    *
    * Scale design (100 TB): chunking is pure per-row Column work on the
    * token array — one explode, no join. First-occurrence selection is a
    * `groupBy(chunk_text).agg(min(struct(id, idx)))`, which map-side
    * combines, so a boilerplate chunk repeated 10^9 times (cookie-banner
    * skew) collapses to one row per partition BEFORE the shuffle — the
    * window-function formulation (`row_number() over (partition by
    * chunk_text)`) would put all 10^9 copies in one task, which is why
    * this is an aggregate and not a window. The aggregate's output IS the
    * keeper set (no join-back): reassembly and the per-document totals
    * are two aggregations on the id key, and Catalyst reuses one
    * exchange for both sides of the final join.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"chunk width must be >= 1, got $w")
    val spark = df.sparkSession
    val chunks = df
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), posexplode(
        when(size(col("toks")) > 0,
          transform(
            sequence(lit(0), floor((size(col("toks")) + w - 1) / lit(w)).cast("int") - 1),
            i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))
        ).otherwise(array())))
      .toDF(idCol, "chunk_idx", "chunk_text")
    // keepers: exactly the first occurrence of each distinct chunk
    val keepers = chunks
      .groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("first"))
      .select(col("first")(idCol).as(idCol),
        col("first")("chunk_idx").as("chunk_idx"), col("chunk_text"))
    val rebuilt = keepers
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          s => s("chunk_text")), " ").as("clean_text"),
        count(lit(1)).cast("long").as("n_kept"))
    val totals = chunks.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_chunks"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_chunks"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact duplicated-substring coverage — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * exact-substring signal, re-expressed relationally instead of via a
    * suffix array: every length-`l` character gram of every document is
    * posted to a corpus-wide table, grams occurring at ≥ 2 positions
    * (anywhere — another document or the same one twice) mark their
    * source positions as duplicated, and the per-document result is the
    * interval-union length of those duplicated windows. `dup_ratio` is
    * the fraction of the document covered by text that exists verbatim
    * elsewhere in the corpus — the span-level dedup signal shingle
    * Jaccard (document-level) and [[chunkDedup]] (token-chunk level)
    * cannot see.
    *
    * Scale shape: volume is O(total chars) exploded rows keyed on the
    * gram — one count aggregation (map-side combined) and one equi-join
    * back, then a PER-DOCUMENT window for the interval union (bounded by
    * document length, never corpus-wide). Boilerplate grams with huge
    * multiplicity skew the join key; AQE skew-join splits them, and the
    * join payload is 16 bytes/row. The suffix-array formulation finds
    * maximal spans exactly; this gram formulation finds the same
    * coverage for spans ≥ `l` at relational cost — the standard
    * trade in distributed settings.
    *
    * Output: one row per input document —
    * `(id, n_chars, n_pos, n_dup_pos, dup_chars, dup_ratio)`.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, l: Int): DataFrame = {
    require(l >= 2, s"gram length must be >= 2, got $l")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // every start position of a length-l gram; docs shorter than l have
    // none. Persisted: both the multiplicity aggregate and the join-back
    // consume this frame, and their projections differ enough that
    // exchange reuse cannot collapse them — without the persist the
    // dominant explode+substr pass over every character position runs
    // TWICE (cache lifecycle is session-owned, same rule as q43/q84).
    val pos = base.where(col("n_chars") >= l)
      .select(col("id"),
        explode(sequence(lit(0L), col("n_chars") - l)).as("pos"),
        col("text"))
      .withColumn("gram", col("text").substr(col("pos").cast("int") + 1, lit(l)))
      .select("id", "pos", "gram")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-wide multiplicity per gram; only duplicated grams survive
    val dupGrams = pos.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("gram")
    val dupPos = pos.join(dupGrams, Seq("gram")).select("id", "pos")
    // interval union per doc: sorted starts, each contributes
    // min(l, gap-to-previous) covered characters
    val w = Window.partitionBy("id").orderBy("pos")
    val perDoc = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("add", when(col("prev").isNull, lit(l.toLong))
        .otherwise(least(lit(l.toLong), col("pos") - col("prev"))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_dup_pos"), sum("add").cast("long").as("dup_chars"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_chars"),
        greatest(col("n_chars") - l + 1, lit(0L)).as("n_pos"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        // zero-length documents: 0/0 is NaN in Spark but NULL in SQL
        // engines — pin the ratio to 0.0 explicitly
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
            col("n_chars"), 6))
          .as("dup_ratio"))
  }

  /** Edit-distance near-duplicate verification: LSH candidate pairs
    * ([[lshCandidates]] over [[minhashSignaturesWide]]) re-scored with
    * the EXACT Levenshtein distance, keeping pairs whose normalized
    * distance (dist / max(len_a, len_b)) is ≤ `maxDistFrac`. The classic
    * two-phase dedup: a sub-quadratic sketch proposes, an exact
    * character-level metric disposes — shingle overlap can confuse
    * reordered text for near-identical text; edit distance cannot.
    *
    * Scale shape: the O(len_a · len_b) DP runs ONLY on candidate pairs
    * (bounded by the LSH band/bucket geometry), never all pairs, and the
    * text join-back is two hash joins on the id. Spark's `levenshtein`
    * is a codegen'd built-in; at very long documents cap inputs upstream
    * (the DP is quadratic in length — that cost is inherent to the
    * metric, not the plan).
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleN: Int, bands: Int,
                        maxDistFrac: Double): DataFrame = {
    val wide = minhashSignaturesWide(df, idCol, textCol, k, shingleN)
    val cand = lshCandidates(lshBandsWide(wide, idCol, bands, k / bands), idCol)
    val docs = df.select(col(idCol).as("_ed_id"), col(textCol).as("_ed_text"))
    cand
      .join(docs.select(col("_ed_id").as("id_a"), col("_ed_text").as("text_a")), Seq("id_a"))
      .join(docs.select(col("_ed_id").as("id_b"), col("_ed_text").as("text_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("text_a")), length(col("text_b"))).cast("long"))
      // one IEEE division of two exact integers: the threshold decision
      // is bit-identical in every engine
      .withColumn("dist_ratio", col("dist").cast("double") / col("max_len"))
      .where(col("dist_ratio") <= maxDistFrac)
      .select("id_a", "id_b", "dist", "max_len", "dist_ratio")
  }

  /** Snapshot diff between two corpus versions — the audit a dataset
    * release needs: per id, `added` / `removed` / `changed` /
    * `unchanged`, decided by content hash so a byte-identical rewrite
    * is not noise. One hash-equi full-outer join on the id; content
    * never moves (only 32-hex digests shuffle). At 100 TB store both
    * snapshots bucketed on the id ([[graft.sources.BucketedStore]]) so
    * the join co-locates shard-for-shard, and filter `unchanged` before
    * materializing — it is almost all of the output by mass.
    */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("_h_old"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("_h_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("_h_old").isNull, "added")
          .when(col("_h_new").isNull, "removed")
          .when(col("_h_old") === col("_h_new"), "unchanged")
          .otherwise("changed").as("status"))
  }
}

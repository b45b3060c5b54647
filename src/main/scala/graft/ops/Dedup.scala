package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import PortableHash.hash60

/** Deduplication operators for large-scale text corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Extends the reference's capability surface
  * (it has no dedup beyond workload-string dedup, dqo/datasets/__init__.py:150)
  * with the operators a training-data pipeline needs.
  *
  * Scale design (100 TB): every op is one explode + one hash-partitioned
  * aggregation/join — no driver-side loops, no collect. Candidate
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
    * [[ngramJaccardPairs]], [[simhashPairs]], embedding near-dup).
    *
    * Algorithm: iterative min-label propagation. Each round joins the
    * current labels across the (symmetrized) edges and keeps the
    * per-node minimum; labels only ever decrease, so the total strictly
    * falls until the fixpoint, which the loop detects with a single
    * scalar aggregate per round. Rounds = graph diameter (not n). The
    * result is the exact component minimum — deterministic regardless of
    * partitioning or join order.
    *
    * Scale design: each round is one shuffle keyed on the node id for
    * the propagate-join + min-groupBy, plus one keyed on the label for
    * a pointer-jump shortcut (`label(n) := min(label(n),
    * label(label(n)))`), which makes the round count O(log diameter)
    * instead of O(diameter) — on a 64-node chain, 6 rounds instead of
    * 63 (asserted in CorpusOpsSpec). Near-dup graphs have tiny
    * diameters anyway (duplicate clusters are dense); the shortcut is
    * insurance for adversarial chains. Checkpointing truncates the
    * otherwise exponentially growing lineage each round:
    * `localCheckpoint` (fast, executor-local blocks) by default, or a
    * reliable `checkpoint` with `reliable = true` for real clusters
    * where executor loss would kill local blocks mid-iteration — the
    * caller must have set `SparkContext.setCheckpointDir` to a
    * fault-tolerant location first.
    *
    * Labels carry the node id in its NATIVE type (min works for any
    * orderable id — long, string, decimal): the previous `cast("long")`
    * turned string doc-ids into all-NULL labels and converged instantly
    * to garbage.
    */
  def connectedComponents(edges: DataFrame, idA: String, idB: String,
                          nodes: DataFrame, idCol: String,
                          reliable: Boolean = false): DataFrame = {
    val spark = nodes.sparkSession
    if (reliable) require(spark.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs SparkContext.setCheckpointDir (a fault-tolerant path)")
    def cp(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // Catalyst guard for the whole driver-orchestrated loop: every
    // checkpoint captures the origin plan's CONSTRAINT SET into its
    // LogicalRDD, and each later reference to that frame pays
    // rewriteStatsAndConstraints over it. On join-dense CC plans the
    // ExpressionSet closure blows up combinatorially — r16 thread-dumped
    // minutes of single-threaded driver planning per round when one
    // checkpointed frame was referenced 4× (the synchronous-jump round
    // below). Constraints only gate optional rewrites (inferred filters),
    // never results, and every frame in the loop is already filtered and
    // null-free by construction — switch propagation off for the loop so
    // every captured constraint set is empty, and restore after. The
    // returned labels frame is a checkpointed LogicalRDD, so downstream
    // consumers plan under the caller's own setting.
    val ckey = "spark.sql.constraintPropagation.enabled"
    val cprev = spark.conf.get(ckey)
    spark.conf.set(ckey, "false")
    try {
      val nodeSet = cp(nodes.select(col(idCol).as("node")).distinct())
      // contract: components over EXACTLY the given node set — an edge
      // endpoint outside it (e.g. a pair computed before a filter dropped
      // the doc) must not introduce phantom rows or labels, so foreign
      // edges are semi-joined away up front. The symmetrized edges are
      // hash-partitioned on dst BEFORE the checkpoint: the LogicalRDD
      // keeps that partitioning, so the per-round propagate join
      // co-partitions on dst without re-shuffling the (2|E|-row) edge
      // frame every round — one setup exchange replaces one per round.
      // both orientations come out of ONE generator pass over the edge
      // frame — the old union-of-two-projections consumed the caller's
      // (typically expensive, typically unpersisted) pair pipeline TWICE
      val sym = cp(edges
        .select(explode(array(
          struct(col(idA).as("src"), col(idB).as("dst")),
          struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .join(nodeSet.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(nodeSet.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .repartition(col("dst")))
      // iterate ONLY over edge-incident nodes: an isolated node keeps
      // label = self forever, so it has no business riding through every
      // round's joins — near-dup graphs at corpus scale are sparse, and
      // the iterated frame is O(edge endpoints), not O(corpus). Isolated
      // nodes are unioned back (self-labeled) after the fixpoint.
      var labels = cp(sym.select(col("src").as("node")).distinct()
        .withColumn("cluster_id", col("node")))
      // fixpoint = no label changed this round (a changed-row count, NOT
      // a sum of labels: label sums overflow Long for 60-bit hash ids,
      // and an empty edge set sums to NULL)
      var converged = labels.isEmpty
      var rounds = 0
      while (!converged) {
        // every incident node is a src of some sym edge (symmetrized),
        // so prop is TOTAL over labels and the merge join is inner
        val prop = sym.join(labels, sym("dst") === labels("node"))
          .select(col("src").as("node"), col("cluster_id").as("prop_min"))
          .groupBy("node").agg(min("prop_min").as("prop_min"))
        val merged = labels.join(prop, Seq("node"))
          .select(col("node"), col("cluster_id").as("prev"),
            least(col("cluster_id"), col("prop_min")).as("mid"))
        // SYNCHRONOUS pointer jump against the PREVIOUS round's labels:
        // mid is always an incident-node id (min over such ids, by
        // induction from the identity seeding), so label(mid) is one
        // total inner join away and the whole round — propagate, merge,
        // jump — materializes in ONE checkpoint instead of r16's two.
        // The label chain still halves per round, hence O(log d) rounds.
        val next = cp(merged.join(
            labels.select(col("node").as("cl"), col("cluster_id").as("cl_lab")),
            col("mid") === col("cl"))
          .select(col("node"), col("prev"),
            least(col("mid"), col("cl_lab")).as("cluster_id")))
        rounds += 1
        // next == prev everywhere ⟹ mid == prev (the jump can only
        // lower further) ⟹ propagation fixpoint ⟹ labels constant
        // across every edge ⟹ exact component minimum — same proof as
        // the two-checkpoint round, one cheap scan of the checkpointed
        // blocks to confirm
        converged = next.where(col("cluster_id") =!= col("prev")).isEmpty
        labels = next.select("node", "cluster_id")
      }
      lastRoundsTL.set(rounds)
      // isolated nodes come back self-labeled via ONE left join +
      // coalesce — not a Union with an identity-seeded branch, whose
      // node=cluster_id alias-equality constraint crashes Catalyst's
      // Union constraint rewriting when the caller consumes this frame
      // with constraint propagation back on (NoSuchElementException in
      // rewriteConstraints — the r15 crash this code already dodged once)
      nodeSet.join(labels, Seq("node"), "left")
        .select(col("node").as(idCol),
          coalesce(col("cluster_id"), col("node")).as("cluster_id"))
    } finally { spark.conf.set(ckey, cprev) }
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

  /** Rounds the most recent [[connectedComponents]] call ON THIS THREAD
    * took — a test-introspection hook (the O(log diameter) assertion in
    * CorpusOpsSpec). ThreadLocal, not a shared var: concurrent CC runs
    * in one JVM must not report each other's round counts.
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
    * being re-read into a shuffle. The signature parameters are stored
    * as table properties and validated at probe/append time — a
    * mismatched probe would silently find nothing. `numBuckets` sizes
    * downstream probe parallelism (at 100 TB: pick so one bucket fits
    * an executor).
    */
  def buildLshIndex(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, shingleN: Int, bands: Int,
                    table: String, path: String, numBuckets: Int): Unit = {
    graft.sources.BucketedStore.writeBucketed(
      bandRowsWithKey(docs, idCol, textCol, k, shingleN, bands), table, "bkey", numBuckets, path)
    docs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES(" +
        s"'graft.lsh.k'='$k','graft.lsh.shingleN'='$shingleN'," +
        s"'graft.lsh.bands'='$bands','graft.lsh.idCol'='$idCol'," +
        s"'graft.lsh.buckets'='$numBuckets')")
  }

  /** Assert the caller's signature parameters match what the index was
    * built with — a mismatch computes band keys over different
    * signature slices and the probe silently returns nothing, which in
    * a dedup pipeline means every duplicate is silently ingested.
    */
  private def validateIndexParams(spark: org.apache.spark.sql.SparkSession,
                                  indexTable: String, idCol: String,
                                  k: Int, shingleN: Int, bands: Int): Map[String, String] = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $indexTable").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = Map("graft.lsh.k" -> k.toString, "graft.lsh.shingleN" -> shingleN.toString,
      "graft.lsh.bands" -> bands.toString, "graft.lsh.idCol" -> idCol)
    // a MISSING property is a failure too: a table not built by
    // buildLshIndex must not silently pass as "matching"
    val bad = want.filter { case (p, v) => !props.get(p).contains(v) }
    require(bad.isEmpty,
      s"index $indexTable was built with different parameters: " +
        bad.map { case (p, v) => s"$p: caller=$v index=${props.getOrElse(p, "<missing>")}" }
          .mkString("; "))
    props
  }

  /** Fold an ACCEPTED batch's band rows into the index (same bucket
    * layout, append mode) so later batches dedup against it too —
    * without this, batch-vs-batch duplicates pass unseen until a full
    * rebuild.
    */
  def appendToLshIndex(newDocs: DataFrame, idCol: String, textCol: String,
                       k: Int, shingleN: Int, bands: Int, indexTable: String): Unit = {
    val spark = newDocs.sparkSession
    val props = validateIndexParams(spark, indexTable, idCol, k, shingleN, bands)
    // the append writer must re-declare the table's bucket spec or Spark
    // rejects it ("Specified bucketing does not match")
    val numBuckets = props.get("graft.lsh.buckets").map(_.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"$indexTable lacks graft.lsh.buckets — not built by buildLshIndex?"))
    bandRowsWithKey(newDocs, idCol, textCol, k, shingleN, bands)
      .write.format("parquet")
      .bucketBy(numBuckets, "bkey").sortBy("bkey")
      .mode("append").saveAsTable(indexTable)
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
    validateIndexParams(newDocs.sparkSession, indexTable, idCol, k, shingleN, bands)
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

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.BucketedStore


/** Similarity search over an embedding column (`array<float>`).
  *
  * Exact cosine is computed with decimal-accumulated dot products so the
  * result is independent of summation order (and therefore reproducible by
  * the DuckDB oracle): float32 inputs are exact in double, each pairwise
  * product is exact in double, and rounding each product to a fixed
  * decimal scale then summing decimals is associative-exact.
  *
  * Scale design: brute-force top-k broadcasts the (small) query set and
  * scans the corpus once — no shuffle of the corpus itself. The LSH
  * variant buckets vectors by random-hyperplane sign bits so candidate
  * generation is a bucket-local join; at 100 TB the bucket key is the
  * shuffle key and the per-bucket fan-out is bounded by the plane count.
  */
object Similarity {

  /** Order-independent dot product of two float-array columns, via the
    * native codegen'd [[graft.plans.DecimalDotProduct]] kernel
    * (bit-identical to the composed
    * `aggregate(zip_with(cast decimal(20,12)))` form it replaced).
    */
  def dotDecimal(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.toColumn(graft.plans.DecimalDotProduct(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b)))
  }

  /** Cosine similarity (double) from decimal-exact dot and norms. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotDecimal(a, b).cast("double") /
      (sqrt(normA.cast("double")) * sqrt(normB.cast("double")))

  /** All-double cosine — the cheap PREFILTER twin of [[cosine]]: a
    * plain double dot via higher-order functions (whole-stage codegen,
    * no decimal arithmetic). Shares [[cosine]]'s denominators (the
    * decimal norm2 columns cast to double), so the two differ ONLY in
    * the numerator: the decimal kernel rounds each product HALF_UP at
    * scale 12 (DecimalDot.scala:80) while the double path keeps IEEE
    * products, giving |cosine − cosineDouble| ≤
    * dims·0.5e-12 / (‖a‖·‖b‖) plus double-summation noise. See
    * [[prefilterPass]] for the sound screening predicate built on this
    * bound.
    */
  def cosineDouble(a: Column, b: Column, normA: Column, normB: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    // native kernel, not aggregate(zip_with(...)): higher-order functions
    // are CodegenFallback — one interpreted lambda dispatch per element
    // of every screened pair made the prefilter costlier than the exact
    // rescore it guards. Same IEEE product/sum sequence, bit-identical
    // result (DecimalDotSpec pins the two forms element-wise).
    GraftBridge.toColumn(graft.plans.DoubleDotProduct(
      GraftBridge.toExpression(a), GraftBridge.toExpression(b))) /
      (sqrt(normA.cast("double")) * sqrt(normB.cast("double")))
  }

  /** Fixed component of the screening slack — generously covers the
    * double-side summation noise (≤ dims·2⁻⁵³ relative on |cos| ≤ 1);
    * the decimal-side quantization term is norm-dependent and added
    * per-pair in [[prefilterPass]]. */
  val PrefilterMargin = 1e-6

  /** Sound filter-refine screen: true unless even the worst-case
    * decimal-vs-double divergence could not lift this pair to
    * `threshold`. The slack is norm-aware — dims·1e-12/(‖a‖‖b‖) (2× the
    * proven per-product rounding bound) plus [[PrefilterMargin]] — so a
    * pair whose DECIMAL cosine reaches the threshold is NEVER dropped,
    * for any input scale including near-zero-norm vectors, and the
    * refined result stays bit-identical to the exact-only form.
    */
  def prefilterPass(va: Column, vb: Column, na: Column, nb: Column,
                    threshold: Double): Column = {
    val slack = lit(PrefilterMargin) +
      size(va).cast("double") * lit(1e-12) /
        (sqrt(na.cast("double")) * sqrt(nb.cast("double")))
    cosineDouble(va, vb, na, nb) >= lit(threshold) - slack
  }

  /** Shared conditional fan-out ([[graft.ops.Spread]]): row placement
    * never affects a per-row result or any of the order-independent
    * aggregates downstream (decimal sums, struct min/max argmax, counts).
    */
  private def spread(df: DataFrame): DataFrame = Spread(df)

  /** Corpus with per-row squared norm attached (one pass, reusable).
    * Small single-split sources are spread across cores first — the
    * downstream scoring join inherits the corpus partitioning, and a
    * one-partition corpus would score every candidate pair on one thread.
    */
  def withNorm2(df: DataFrame, vecCol: String): DataFrame =
    spread(df).withColumn("norm2", dotDecimal(col(vecCol), col(vecCol)))

  /** One side of a pair join over a normed frame: the `lead` columns,
    * then id, vector and squared norm renamed with the side's suffix
    * (`a` for queries, `b` for the corpus).
    */
  private def side(df: DataFrame, idCol: String, vecCol: String, suffix: String,
                   lead: Column*): DataFrame =
    df.select(lead ++ Seq(col(idCol).as(s"id_$suffix"), col(vecCol).as(s"vec_$suffix"),
      col("norm2").as(s"norm2_$suffix")): _*)

  /** The last step of every top-k search here: each query's (`id_a`)
    * candidates ranked by `score`, ties to the smaller `id_b`, and the
    * first `k` kept as (id_a, id_b, `out`, rank).
    */
  private def rankTopK(scored: DataFrame, score: Column, k: Int, out: Column): DataFrame = {
    val w = Window.partitionBy(col("id_a")).orderBy(score, col("id_b"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id_a"), col("id_b"), out, col("rank"))
  }

  /** Exact-cosine top-k over candidate pairs of a query side (`a`) and a
    * corpus side (`b`): self pairs dropped, highest cosine first,
    * reported at 6 decimals as `cos_sim`.
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    rankTopK(pairs.where(col("id_a") =!= col("id_b"))
        .withColumn("cos", cosine(col("vec_a"), col("vec_b"), col("norm2_a"), col("norm2_b"))),
      col("cos").desc, k, round(col("cos"), 6).as("cos_sim"))

  /** Exact top-k cosine neighbors for the query rows selected by
    * `queryPred`. The query side is tiny → broadcast; the corpus is
    * scanned once; per-query ranking is a window over k·|queries| rows.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame = {
    val corpus = side(withNorm2(df, vecCol), idCol, vecCol, "b")
    val queries = side(withNorm2(df.where(queryPred), vecCol), idCol, vecCol, "a")
    cosineTopK(corpus.crossJoin(broadcast(queries)), k)
  }

  /** All pairs with cosine >= threshold (exact). Quadratic — intended for
    * candidate verification or small partitions; the scale path is
    * [[lshBucketTopK]] / MinHash-style banding upstream.
    */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val n = withNorm2(df, vecCol)
    side(n, idCol, vecCol, "a").crossJoin(side(n, idCol, vecCol, "b")).where(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b"), col("norm2_a"), col("norm2_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Default embedding dimensionality of the testdata corpus (and of the
    * oracle SQL, which enumerates the same 64 hash-derived components).
    * Every SRP entry point takes `dims` explicitly — the literal
    * hyperplanes only project the first `dims` components, so a corpus
    * with wider vectors MUST pass its true dimensionality or buckets
    * silently ignore the tail dimensions.
    */
  val DefaultDims = 64

  /** Deterministic pseudo-random hyperplane components, precomputed ON THE
    * DRIVER: component (p, i) = hash60("plane<p>:<i>") / 2^60 - 0.5, bit
    * identical to the Column-expression form it replaced (long→double is
    * the same IEEE rounding in Scala and in Spark's cast) and to the
    * DuckDB oracle's recomputation. Shipping the planes as literals
    * removes planes×dims md5 evaluations PER ROW from the scale path.
    */
  private[ops] def planeComponents(planes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(planes, dims) { (p, i) =>
      PortableHash.hash60Value(s"plane$p:$i") / (1L << 60).toDouble - 0.5
    }

  /** Sign-random-projection bucket id from `planes` hyperplanes. Vectors
    * in the same bucket are ANN candidates; search cost drops by
    * ~2^planes. Each plane projection runs through the codegen'd
    * decimal-dot kernel against a literal double array (no per-row
    * hashing, no interpreted lambda dispatch); decimal accumulation keeps
    * the sign decision independent of summation order
    * (oracle-reproducible).
    */
  def srpBucket(vecCol: Column, planes: Int, dims: Int = DefaultDims): Column = {
    val comps = planeComponents(planes, dims)
    (0 until planes).map { p =>
      when(dotDecimal(vecCol, typedLit(comps(p).toSeq)) >= 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Embedding-cosine near-duplicate pairs, SRP-bucketed: the scale path
    * for embedding dedup. Candidates come from a bucket-local self-join
    * (the bucket id is the shuffle key; fan-out is quadratic only inside
    * a bucket, halved by the id_a < id_b orientation), then exact
    * decimal-dot cosine keeps pairs at or above `threshold`. The
    * all-pairs [[cosinePairs]] is the verification-only counterpart.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, planes: Int, saltBuckets: Int = 0,
                   dims: Int = DefaultDims): DataFrame = {
    // SALTED self-join: the bucket key alone has only 2^planes values and
    // SRP buckets are skewed, so a plain shuffle join keys the whole
    // cosine workload onto a handful of tasks (observed 9× slowdown) and
    // a broadcast join dies at corpus scale. Salting restores full
    // parallelism deterministically: side A gets salt = hash(id) % S,
    // side B is replicated across all S salts, the join runs on
    // (bucket, salt) — every (a, b) pair meets exactly once, work spreads
    // over 2^planes × S balanced partitions, and skew inside a bucket is
    // flattened by the id hash. Replication costs S× of ONE side's
    // signatures — at 100 TB pick S ≈ executor-core count, and grow
    // `planes` with the corpus (SCALE.md knob rule) so buckets stay small.
    // the internals are added with withColumn, which silently REPLACES an
    // existing column of the same name (including idCol/vecCol when the
    // caller named them "bucket"/"salt"/"norm2") — fail fast instead
    val clash = df.columns.intersect(Seq("norm2", "bucket", "salt"))
    require(clash.isEmpty,
      s"input columns collide with nearDupPairs internals: ${clash.mkString(", ")}")
    val S = if (saltBuckets > 0) saltBuckets
            else df.sparkSession.sparkContext.defaultParallelism
    val bucketed = withNorm2(df, vecCol)
      .withColumn("bucket", srpBucket(col(vecCol), planes, dims))
    val a = side(bucketed, idCol, vecCol, "a", col("bucket"))
      .withColumn("salt", PortableHash.hash60(concat(lit("salt:"), col("id_a").cast("string"))) % S)
    val b = side(bucketed, idCol, vecCol, "b", col("bucket"))
      .withColumn("salt", explode(sequence(lit(0L), lit(S - 1L))))
    a.join(b.hint("shuffle_merge"), Seq("bucket", "salt"))
      .where(col("id_a") < col("id_b"))
      // filter-refine: the all-double prefilter prunes the bucket-local
      // pair bulk inside codegen; the decimal-exact kernel then CONFIRMS
      // only the survivors. prefilterPass's norm-aware slack guarantees
      // no true pair is dropped — the final rows are bit-identical to
      // the exact-only form
      .where(prefilterPass(col("vec_a"), col("vec_b"), col("norm2_a"), col("norm2_b"), threshold))
      .withColumn("cos", cosine(col("vec_a"), col("vec_b"), col("norm2_a"), col("norm2_b")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Normed corpus PERSISTED under its ORIGINAL column names: the IVF
    * ops read it from several branches (centroid set, query set,
    * assignment scan, rerank side), and without the persist each branch
    * re-runs the norm pass — a dims-length decimal dot per row. Keeping
    * the original names matters: the centroid/query predicates reference
    * them, so `corpus.where(pred)` resolves directly against the cached
    * plan and hits the cache — a rename-first layout forces the analyzer
    * into missing-attribute resolution, whose rewritten subtree no
    * longer matches the cache entry. At warehouse scale, materialize the
    * assignment instead (e.g. `BucketedStore` by cell); cache lifecycle
    * is session-owned (`spark.catalog.clearCache()` between jobs — see
    * Bench/Verify).
    */
  private def ivfCorpus(df: DataFrame, vecCol: String): DataFrame =
    withNorm2(df, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The IVF codebook: the rows `centroidPred` selects from a normed
    * corpus, as (cent_id, cvec, cnorm2).
    */
  private def centroids(corpus: DataFrame, idCol: String, vecCol: String,
                        centroidPred: Column): DataFrame =
    corpus.where(centroidPred)
      .select(col(idCol).as("cent_id"), col(vecCol).as("cvec"), col("norm2").as("cnorm2"))

  /** IVF cell assignment: every vector of a normed corpus goes to its
    * nearest centroid of `cents` (highest exact cosine; ties to the
    * lowest centroid id). Centroids are rows selected by a predicate
    * ([[centroids]]) — a deterministic rule rather than trained k-means,
    * so the oracle can recompute the exact same cells; the
    * Voronoi/candidate mechanics are identical either way, and a trained
    * codebook can be swapped in via the same predicate-over-a-centroid-
    * table shape. Returns (id, vec, norm2, cell).
    *
    * Scale design: centroids broadcast (C ≪ n), the n×C scoring stays
    * map-side and projects to slim (id, cell) rows BEFORE any shuffle
    * (vectors never fan out C-fold), the argmax is a map-side-combined
    * `max(struct)` aggregate, and the join back to the corpus is one
    * co-partitioned hash join on the id.
    */
  private[graft] def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                                 cents: DataFrame): DataFrame = {
    val scored = corpus.crossJoin(broadcast(cents))
      .select(col(idCol).as("id"),
        struct(
          cosine(col(vecCol), col("cvec"), col("norm2"), col("cnorm2")).as("cos"),
          (-col("cent_id")).as("neg_cent")).as("cand"))
    val cells = scored.groupBy("id")
      .agg(max(col("cand")).as("best"))
      .select(col("id").as("__cell_id"), (-col("best.neg_cent")).as("cell"))
    corpus.join(cells, col(idCol) === col("__cell_id"))
      .select(col(idCol).as("id"), col(vecCol).as("vec"), col("norm2"), col("cell"))
  }

  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroidPred: Column): DataFrame = {
    val corpus = ivfCorpus(df, vecCol)
    assignCells(corpus, idCol, vecCol, centroids(corpus, idCol, vecCol, centroidPred))
  }

  /** The IVF probe: each query (a `side` "a" frame) scores the broadcast
    * codebook `cents` by exact cosine and keeps its `nprobe` nearest
    * cells (ties to the lower centroid id), as (cell, id_a, vec_a,
    * norm2_a).
    */
  private def probeCells(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("id_a")).orderBy(col("qcos").desc, col("cent_id"))
    queries.crossJoin(broadcast(cents))
      .withColumn("qcos", cosine(col("vec_a"), col("cvec"), col("norm2_a"), col("cnorm2")))
      .withColumn("prank", row_number().over(w))
      .where(col("prank") <= nprobe)
      .select(col("cent_id").as("cell"), col("id_a"), col("vec_a"), col("norm2_a"))
  }

  /** IVF ANN top-k: queries probe their `nprobe` nearest cells and
    * exact-rerank only the vectors assigned there — the
    * coarse-quantizer counterpart of the SRP path ([[lshBucketTopK]]).
    * Recall rises with `nprobe` at linear candidate cost; the candidate
    * join is hash-partitioned on the cell id with the (tiny) probe side
    * broadcast.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              centroidPred: Column, queryPred: Column,
              k: Int, nprobe: Int): DataFrame = {
    // ONE persisted norm pass feeds assignment, centroids, and queries;
    // predicates filter the cached corpus under its original names so
    // every branch is a cache hit
    val corpus0 = ivfCorpus(df, vecCol)
    val cents = centroids(corpus0, idCol, vecCol, centroidPred)
    // persist the assignment too: the crossJoin scoring pass over every
    // (vector, centroid) pair is the expensive stage, and without this
    // it re-runs on every action over the result (bench round 6 measured
    // q43 run-to-run spread 9.2× from exactly that recomputation)
    val assigned = side(assignCells(corpus0, idCol, vecCol, cents), "id", "vec", "b", col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = probeCells(side(corpus0.where(queryPred), idCol, vecCol, "a"), cents, nprobe)
    cosineTopK(assigned.join(broadcast(probes), "cell"), k)
  }

  /** The vector lengths of `df`'s `vecCol`: "d" when every vector has d
    * components, "lo..hi" when they differ, None when `df` is empty.
    */
  private def vectorDims(df: DataFrame, vecCol: String): Option[String] = {
    val r = df.agg(min(size(col(vecCol))), max(size(col(vecCol)))).head
    if (r.isNullAt(0)) None
    else Some(if (r.getInt(0) == r.getInt(1)) r.getInt(0).toString
              else s"${r.getInt(0)}..${r.getInt(1)}")
  }

  /** The build parameters an IVF index carries as table properties: the
    * id column and the vector length (the decimal dot kernel truncates to
    * the SHORTER operand, so a wrong-length probe or append would
    * silently compute garbage cosines instead of failing).
    */
  private def ivfParams(idCol: String, dims: String): Map[String, String] =
    Map("graft.ivf.idCol" -> idCol, "graft.ivf.dims" -> dims)

  /** Persist the IVF index for repeated serving: the cell assignments
    * land as a parquet table BUCKETED on `cell` (the probe join key)
    * with the centroid codebook as a small side table, under
    * [[graft.sources.BucketedStore]]'s index contract (the build
    * parameters stamped as table properties, checked by every probe and
    * append). A later [[ivfIndexTopK]] probes it without recomputing
    * assignments and, because the cell side is pre-bucketed, without
    * shuffling the corpus: only the (small) query batch moves. At
    * 100 TB the index build is the one expensive pass; every subsequent
    * query batch costs O(batch × nprobe × cell size).
    */
  def buildIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                    centroidPred: Column, table: String, path: String,
                    numBuckets: Int): Unit = {
    val corpus = ivfCorpus(df, vecCol)
    val dims = vectorDims(corpus, vecCol).getOrElse(throw new IllegalArgumentException(
      s"empty corpus: nothing to index into $table"))
    require(!dims.contains(".."), s"mixed vector dims in corpus: $dims")
    val cents = centroids(corpus, idCol, vecCol, centroidPred)
    cents.write.mode("overwrite").format("parquet")
      .option("path", s"$path/centroids").saveAsTable(s"${table}_centroids")
    BucketedStore.writeBucketed(assignCells(corpus, idCol, vecCol, cents), table, "cell",
      numBuckets, s"$path/cells", ivfParams(idCol, dims))
    corpus.unpersist()
    ()
  }

  /** Check a probe or append batch against a [[buildIvfIndex]] table:
    * the batch must hold vectors, and its id column and vector length
    * must be the build's ([[BucketedStore.requireProperties]]).
    */
  private def requireIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
                              indexTable: String): Unit = {
    val dims = vectorDims(batch, vecCol).getOrElse(throw new IllegalArgumentException(
      s"empty batch: no vectors to validate against $indexTable"))
    BucketedStore.requireProperties(batch.sparkSession, indexTable, ivfParams(idCol, dims))
  }

  /** Fold a NEW vector batch into a persisted [[buildIvfIndex]] table:
    * each vector joins the cell of its nearest stored centroid (the
    * codebook is NOT re-fit — same quantizer, so existing cells stay
    * valid) and appends under the table's bucket layout
    * ([[BucketedStore.appendBucketed]]): index growth costs O(batch),
    * never a corpus rewrite. Re-fit the codebook with [[kmeansStep]] + a
    * rebuild when drift warrants it.
    */
  def appendToIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                       indexTable: String): Unit = {
    val spark = newVecs.sparkSession
    requireIvfIndex(newVecs, idCol, vecCol, indexTable)
    // the index stores one row per id: a batch with duplicate ids is a
    // caller bug — fail loudly instead of storing two rows per id
    val idCounts = newVecs.agg(
      count(lit(1)).as("n"), count_distinct(col(idCol)).as("nd")).head
    require(idCounts.getLong(0) == idCounts.getLong(1),
      s"batch has ${idCounts.getLong(0) - idCounts.getLong(1)} duplicate $idCol " +
        s"rows — the index stores one row per id; dedup the batch first")
    // ids already IN the index are the same bug across batches:
    // re-appending would silently store two rows per id and ivfIndexTopK
    // would serve both. Semi-join the (small) batch against the index —
    // the index side streams through its scan, nothing shuffles in full
    val preexisting = newVecs.select(col(idCol).as("id"))
      .join(spark.table(indexTable).select(col("id")), Seq("id"), "left_semi")
      .count()
    require(preexisting == 0L,
      s"$preexisting batch ids already present in $indexTable — the index " +
        "stores one row per id; subtract them or rebuild the index")
    BucketedStore.appendBucketed(assignCells(withNorm2(newVecs, vecCol), idCol, vecCol,
      spark.table(s"${indexTable}_centroids")), indexTable)
  }

  /** ANN top-k for a NEW query batch against a persisted
    * [[buildIvfIndex]] table: queries rank the broadcast codebook, keep
    * their `nprobe` nearest cells, and exact-rerank only those cells'
    * members. The index side joins in place through its bucket layout
    * (asserted shuffle-free in IvfIndexSpec); nothing of the corpus
    * is recomputed or moved.
    */
  def ivfIndexTopK(queries: DataFrame, idCol: String, vecCol: String,
                   indexTable: String, k: Int, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    requireIvfIndex(queries, idCol, vecCol, indexTable)
    val probes = probeCells(side(withNorm2(queries, vecCol), idCol, vecCol, "a"),
      spark.table(s"${indexTable}_centroids"), nprobe)
    cosineTopK(side(spark.table(indexTable), "id", "vec", "b", col("cell")).join(probes, "cell"), k)
  }

  /** SRP ANN top-k: the corpus is bucketed once by [[srpBucket]], each
    * query row joins the corpus buckets `queryBucket` lists for it (a
    * bucket column, or an `explode` of several), and the candidates are
    * exact-reranked. Only the (tiny) query side fans out, before the
    * broadcast join.
    */
  private def srpTopK(df: DataFrame, idCol: String, vecCol: String, queryPred: Column,
                      k: Int, planes: Int, dims: Int, queryBucket: Column): DataFrame = {
    val bucketed = withNorm2(df, vecCol)
      .withColumn("bucket", srpBucket(col(vecCol), planes, dims))
    val queries = side(bucketed.where(queryPred), idCol, vecCol, "a", queryBucket)
    cosineTopK(side(bucketed, idCol, vecCol, "b", col("bucket")).join(broadcast(queries), "bucket"), k)
  }

  /** Multi-probe SRP ANN top-k: each query searches its own bucket PLUS
    * every bucket at Hamming distance 1 (one sign bit flipped) — the
    * standard recall lever for sign-random-projection LSH: the planes+1
    * probes recover neighbors that a single hyperplane put on the wrong
    * side, at linear (not exponential) extra candidate cost.
    *
    * Scale design: identical to [[lshBucketTopK]] — the corpus is
    * bucketed once; only the (tiny) query side fans out ×(planes+1)
    * before the broadcast join.
    */
  def srpMultiProbeTopK(df: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, k: Int, planes: Int,
                        dims: Int = DefaultDims): DataFrame = {
    val flips = array(
      col("bucket") +: (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)
    srpTopK(df, idCol, vecCol, queryPred, k, planes, dims, explode(flips).as("bucket"))
  }

  /** One Lloyd iteration over the IVF cells: per-(cell, dimension) mean
    * of the member vectors, computed with decimal-exact sums so the
    * result is independent of partitioning/summation order (and
    * reproducible by the oracle). Returns flat (cell, dim, n_members,
    * mean) rows — the updated codebook for the next [[ivfAssign]] round.
    *
    * Scale design: one explode (×dims) then a map-side-combined groupBy
    * on (cell, dim) — shuffle volume is one decimal per (cell, dim)
    * partial, not the vectors.
    */
  def kmeansStep(df: DataFrame, idCol: String, vecCol: String,
                 centroidPred: Column): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, centroidPred)
    assigned.select(col("cell"), posexplode(col("vec")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(
        count(lit(1)).as("n_members"),
        // bround (HALF_EVEN) before the decimal cast: raw float values are
        // dyadic, so exact scale-12 TIES occur (e.g. 1625/8192 =
        // 0.1983642578125) — Spark's plain cast rounds ties HALF_UP while
        // DuckDB rounds them half-even; bround resolves the tie the
        // DuckDB way and the cast is then exact. (Products never tie, so
        // the dot-product paths don't need this.)
        sum(bround(col("x").cast("double"), 12).cast("decimal(20,12)")).as("s"))
      .select(col("cell"), col("dim"), col("n_members"),
        (col("s").cast("double") / col("n_members")).as("mean"))
  }

  /** ANN top-k restricted to same-SRP-bucket candidates: the scale path.
    * Recall is tunable via `planes` (fewer planes → bigger buckets →
    * higher recall, more compute). Exact re-scoring inside buckets.
    */
  def lshBucketTopK(df: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int, planes: Int,
                    dims: Int = DefaultDims): DataFrame =
    srpTopK(df, idCol, vecCol, queryPred, k, planes, dims, col("bucket"))

  // ---- product quantization (PQ / ADC) ------------------------------

  /** Explode a vector column into its `m` contiguous subvectors:
    * (id, sub, svec) with sub ∈ [0, m). Subspace `sub` covers dims
    * [sub·subDim, (sub+1)·subDim).
    */
  private def subspaced(df: DataFrame, idCol: String, vecCol: String,
                        m: Int, subDim: Int): DataFrame =
    df.select(col(idCol).as("id"),
      posexplode(array((0 until m).map(i =>
        slice(col(vecCol), i * subDim + 1, subDim)): _*)).as(Seq("sub", "svec")))

  /** The PQ codebook: every subvector of the rows `codePred` selects is a
    * codeword of its subspace, as (sub, code, cvec, cnorm2).
    */
  private def codebook(df: DataFrame, idCol: String, vecCol: String,
                       codePred: Column, m: Int, subDim: Int): DataFrame =
    subspaced(df.where(codePred), idCol, vecCol, m, subDim)
      .select(col("sub"), col("id").as("code"), col("svec").as("cvec"),
        dotDecimal(col("svec"), col("svec")).as("cnorm2"))

  /** Product-quantize the corpus: per subspace, assign every vector the
    * nearest codeword by squared L2 (argmin ‖x_m − c_m‖² ≡ argmax
    * 2·x_m·c_m − ‖c_m‖², exact in decimal arithmetic; ties break to the
    * smaller codeword id). `codePred` selects the codeword source rows —
    * the same deterministic-codebook convention as [[ivfTopK]]'s
    * `centroidPred`; one Lloyd refinement per subspace composes via
    * [[kmeansStep]] exactly as for IVF. Returns (id, sub, code).
    *
    * Scale design: THIS is how 100 TB of embeddings become servable —
    * m·log2(K) bits per vector (64-dim float32 → 8 bytes at m=8, K=256,
    * a 32× compression) with distance arithmetic against a broadcast
    * codebook. The encode pass broadcasts the (tiny) codebook, fans each
    * row out ×m in-row, and the per-(id, sub) argmax is a map-side-
    * combined aggregate — the corpus shuffles slim (id, sub, best)
    * structs, never the vectors.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codePred: Column, m: Int, subDim: Int): DataFrame = {
    val words = codebook(df, idCol, vecCol, codePred, m, subDim)
    // spread the ENCODE side: the ×m in-row fan-out, the broadcast-join
    // scoring against every codeword, and the partial argmax all run
    // upstream of the first exchange — on a single-split source that
    // whole pipeline would occupy one task
    subspaced(spread(df), idCol, vecCol, m, subDim)
      .join(broadcast(words), "sub")
      .select(col("id"), col("sub"), struct(
        (dotDecimal(col("svec"), col("cvec")) * 2 - col("cnorm2")).as("score"),
        (-col("code")).as("neg_code")).as("cand"))
      .groupBy("id", "sub").agg(max(col("cand")).as("best"))
      .select(col("id"), col("sub"), (-col("best.neg_code")).as("code"))
  }

  /** The two PQ tables of an ADC search: the corpus codes (id_b, sub,
    * code) and each query's exact distance table to every (sub,
    * codeword), d²(q_m, c) = ‖q_m‖² − 2·q_m·c + ‖c‖² in decimal
    * arithmetic, as (id_a, sub, code, d2).
    */
  private def adcTables(df: DataFrame, idCol: String, vecCol: String,
                        codePred: Column, queryPred: Column,
                        m: Int, subDim: Int): (DataFrame, DataFrame) = {
    val codes = pqEncode(df, idCol, vecCol, codePred, m, subDim)
      .select(col("id").as("id_b"), col("sub"), col("code"))
    val lut = subspaced(df.where(queryPred), idCol, vecCol, m, subDim)
      .withColumn("qnorm2", dotDecimal(col("svec"), col("svec")))
      .join(broadcast(codebook(df, idCol, vecCol, codePred, m, subDim)), "sub")
      .select(col("id").as("id_a"), col("sub"), col("code"),
        (col("qnorm2") - dotDecimal(col("svec"), col("cvec")) * 2 + col("cnorm2")).as("d2"))
    (codes, lut)
  }

  /** ADC top-k over the looked-up distance terms (id_a, id_b, d2) of the
    * candidate pairs: a pair's m terms summed (map-side combined),
    * smallest sum first, reported at 6 decimals as `adc_dist`.
    */
  private def adcTopK(terms: DataFrame, k: Int): DataFrame =
    rankTopK(terms.groupBy("id_a", "id_b").agg(sum(col("d2")).as("adc2")),
      col("adc2").asc, k, round(col("adc2").cast("double"), 6).as("adc_dist"))

  /** Asymmetric-distance (ADC) top-k over the PQ codes: each query
    * computes one exact distance table to every (sub, codeword)
    * ([[adcTables]]) and a corpus vector's approximate distance is the
    * sum of its m table lookups. Smallest sum wins; ties break to the
    * smaller corpus id.
    *
    * Scale design: the distance tables are |queries|·m·K tiny rows —
    * broadcast; the corpus side contributes only its code rows (no
    * vectors move), and the per-pair sum is a map-side-combined
    * aggregate of exactly m terms. The full-corpus scan per query is
    * the PQ bargain: a LUT add per subspace instead of a float dot —
    * compose with [[ivfTopK]] cells (IVF-PQ) to cut the scan to the
    * probed cells.
    */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                codePred: Column, queryPred: Column,
                m: Int, subDim: Int, k: Int): DataFrame = {
    val (codes, lut) = adcTables(df, idCol, vecCol, codePred, queryPred, m, subDim)
    adcTopK(codes.join(broadcast(lut), Seq("sub", "code")).where(col("id_a") =!= col("id_b")), k)
  }

  /** IVF-PQ: the coarse quantizer ([[ivfTopK]]'s cosine cells) restricts
    * the scan to each query's `nprobe` nearest cells, and PQ/ADC
    * ([[pqAdcTopK]]) scores the surviving candidates from code lookups —
    * the composition both Scaladocs point at, and the standard serving
    * shape for billion-vector corpora: the full-corpus ADC scan of plain
    * PQ becomes a probed-cells scan, and the probed cells are served
    * from m·log2(K)-bit codes, not vectors.
    *
    * Scale design: the corpus contributes (id, cell) and (id, sub, code)
    * rows only — vectors never shuffle; probe lists and query LUTs are
    * broadcast (|queries|·nprobe and |queries|·m·K rows); the ADC sum is
    * a map-side-combined aggregate of exactly m terms per surviving
    * pair. Distances are decimal-exact, identical to [[pqAdcTopK]] for
    * any pair both would score — IVF changes WHICH pairs are scored
    * (recall), never their distance.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                centroidPred: Column, codePred: Column, queryPred: Column,
                m: Int, subDim: Int, k: Int, nprobe: Int): DataFrame = {
    val corpus0 = ivfCorpus(df, vecCol)
    val cents = centroids(corpus0, idCol, vecCol, centroidPred)
    // coarse cells for the corpus (persisted: reused by the pair join
    // and — via the shared plan — by nothing else; cheap to keep)
    val assigned = assignCells(corpus0, idCol, vecCol, cents)
      .select(col("id").as("id_b"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = probeCells(side(corpus0.where(queryPred), idCol, vecCol, "a"), cents, nprobe)
      .select("cell", "id_a")
    val (codes, lut) = adcTables(df, idCol, vecCol, codePred, queryPred, m, subDim)
    // candidate pairs = corpus members of probed cells (never all pairs)
    val pairs = assigned.join(broadcast(probes), "cell")
      .where(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b")
    // ADC: m LUT lookups per pair. The join on (id_a, sub, code) is
    // total for every pair by construction (the LUT covers all (query,
    // sub, codeword) triples), so no subspace term can silently drop out
    // of a sum.
    adcTopK(pairs.join(codes, "id_b").join(broadcast(lut), Seq("id_a", "sub", "code")), k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — a training-data-pipeline extension beyond the
    * reference's workload surface): coarse-quantize the embedding space
    * with the same deterministic Voronoi assignment as [[ivfTopK]], call
    * two members of one cell semantic duplicates when their exact cosine
    * reaches `tau`, close the duplicate relation transitively
    * ([[graft.ops.Dedup.connectedComponents]] — edges never cross cells,
    * so the global pointer-jumping converges cell-locally), and keep per
    * duplicate group the member LEAST similar to its cell centroid —
    * the paper's keep-rule: the outlier preserves the most diversity.
    *
    * Scale shape: the pairwise stage is bounded by cell sizes (never
    * corpus all-pairs — grow the centroid count with the corpus so
    * cells stay small, the same knob rule as IVF), centroid scoring is
    * one broadcast crossJoin inherited from [[ivfAssign]], and the
    * keep rule is a map-side-combinable struct-min, not a global
    * window. Returns every input id with its cell, duplicate-group
    * label (min reachable id), centroid cosine, and a `kept` flag.
    * `reliable` forwards to the CC fixpoint: fault-tolerant
    * `checkpoint` (needs SparkContext.setCheckpointDir) instead of
    * `localCheckpoint` — the cluster-scale setting, where an executor
    * loss must not kill a multi-round lineage.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroidPred: Column, tau: Double,
                    reliable: Boolean = false): DataFrame = {
    val corpus0 = ivfCorpus(df, vecCol)
    val cents = centroids(corpus0, idCol, vecCol, centroidPred)
    // persisted: feeds the centroid-cos join, BOTH sides of the
    // within-cell pair join, and the final labeling join
    val withCent = assignCells(corpus0, idCol, vecCol, cents)
      .join(broadcast(cents.withColumnRenamed("cent_id", "cell")), "cell")
      .select(col("id"), col("cell"), col("vec"), col("norm2"),
        cosine(col("vec"), col("cvec"), col("norm2"), col("cnorm2")).as("cent_cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = side(withCent, "id", "vec", "a", col("cell"))
    val b = side(withCent, "id", "vec", "b", col("cell"))
    // cell-local near-dup edges; shuffle join on the cell id so the
    // persisted assignment subtree is scanned, not broadcast-copied
    val edges = a.join(b.hint("shuffle_merge"), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      // same filter-refine as nearDupPairs: double prefilter prunes the
      // cell-local bulk, decimal-exact confirms the survivors
      .where(prefilterPass(col("vec_a"), col("vec_b"), col("norm2_a"), col("norm2_b"), tau))
      .where(cosine(col("vec_a"), col("vec_b"), col("norm2_a"), col("norm2_b")) >= tau)
      .select("id_a", "id_b")
    val labels = graft.ops.Dedup.connectedComponents(
        edges, "id_a", "id_b", withCent.select(col("id")), "id",
        reliable = reliable)
      .select(col("id"), col("cluster_id").as("group_id"))
    // least-similar-to-centroid representative: struct-min orders by
    // (cent_cos ASC, id ASC), combining map-side — ties break to the
    // smallest id deterministically
    val kept = withCent.join(labels, "id")
      .groupBy("group_id")
      .agg(min(struct(col("cent_cos"), col("id"))).as("best"))
      .select(col("group_id").as("kg"), col("best.id").as("keep_id"))
    withCent.join(labels, "id")
      .join(kept, col("group_id") === col("kg"))
      .select(col("id").as(idCol), col("cell"), col("group_id"),
        round(col("cent_cos"), 6).as("cent_cos"),
        (col("id") === col("keep_id")).as("kept"))
  }
}

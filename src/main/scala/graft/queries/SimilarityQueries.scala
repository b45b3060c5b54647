package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Similarity
import graft.ops.PortableHash.{duckHash60 => dh}

import QueryDef.frame

/** Vector similarity and ANN search over the embeddings table:
  * brute-force top-k, all-pairs cosine, SRP buckets (single and
  * multi-probe), embedding near-dups, IVF cells, one k-means step,
  * SemDeDup, product quantization and IVF-PQ.
  */
object SimilarityQueries {

  private val CosThresh = 0.35
  private val TopK = 5
  private val IvfCentMod = 32  // deterministic centroid rule: vec_id % 32 == 0
  private val IvfNprobe = 2    // probe the 2 nearest cells per query
  private val PqM = 8            // PQ subspaces over the 64-dim embeddings
  private val PqSubDim = 8       // dims per subspace
  private val PqCodeMod = 48     // deterministic codebook: vec_id % 48 == 0

  val all: Seq[QueryDef] = Seq(
    frame("q38_ann_topk",
      s"""WITH norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t GROUP BY vec_id
         |), pairs AS (
         |  SELECT q.vec_id AS id_a, c.vec_id AS id_b, q.embedding AS ea, c.embedding AS eb
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
         |), dots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs) t
         |  GROUP BY id_a, id_b
         |), scored AS (
         |  SELECT id_a, id_b,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos
         |  FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |), ranked AS (
         |  SELECT id_a, id_b, cos,
         |         ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rank
         |  FROM scored
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK ORDER BY id_a, rank""".stripMargin) { (s, dir) =>
      Similarity.bruteForceTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % 100 === 0, TopK)
        .orderBy("id_a", "rank")
    },
    frame("q39_cosine_pairs",
      s"""WITH norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t GROUP BY vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
         |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
         |), dots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs) t
         |  GROUP BY id_a, id_b
         |)
         |SELECT id_a, id_b,
         |       round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
         |FROM dots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= $CosThresh
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Similarity.cosinePairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", CosThresh)
        .orderBy("id_a", "id_b")
    },
    // approximate ANN path, oracle-checked via hash-derived hyperplanes
    frame("q40_srp_ann", {
      // SRP hyperplanes are hash-derived, so the DuckDB oracle recomputes
      // them exactly: per-plane decimal dot against md5-derived
      // components, sign bits -> bucket, then bucket-local exact top-k
      val nPlanes = 3
      val caseP = (0 until nPlanes).map(p => s"WHEN $p THEN ${1 << p}").mkString(" ")
      s"""WITH comp AS (
         |  SELECT p, i,
         |         (${dh("'plane' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
         |            / 1152921504606846976.0) - 0.5 AS c
         |  FROM (SELECT unnest(range(0, $nPlanes)) AS p) ps,
         |       (SELECT unnest(range(0, 64)) AS i) dims
         |), vals AS (
         |  SELECT vec_id, unnest(embedding) AS x,
         |         generate_subscripts(embedding, 1) - 1 AS i
         |  FROM embeddings
         |), dots AS (
         |  SELECT v.vec_id, c.p,
         |         SUM(CAST(CAST(v.x AS DOUBLE) * c.c AS DECIMAL(20,12))) AS dot
         |  FROM vals v JOIN comp c ON c.i = v.i
         |  GROUP BY v.vec_id, c.p
         |), buckets AS (
         |  SELECT vec_id,
         |         CAST(SUM(CASE WHEN dot >= 0 THEN (CASE p $caseP END) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |), norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM vals GROUP BY vec_id
         |), pairs AS (
         |  SELECT q.vec_id AS id_a, c.vec_id AS id_b, q.embedding AS ea, c.embedding AS eb
         |  FROM embeddings q
         |  JOIN buckets bq ON bq.vec_id = q.vec_id
         |  JOIN buckets bc ON bc.bucket = bq.bucket
         |  JOIN embeddings c ON c.vec_id = bc.vec_id
         |  WHERE q.vec_id % 100 = 0 AND q.vec_id <> c.vec_id
         |), pdots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs) t
         |  GROUP BY id_a, id_b
         |), ranked AS (
         |  SELECT id_a, id_b,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos,
         |         ROW_NUMBER() OVER (PARTITION BY id_a
         |           ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) DESC, id_b) AS rank
         |  FROM pdots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK ORDER BY id_a, rank""".stripMargin
    }) { (s, dir) =>
      Similarity.lshBucketTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % 100 === 0, TopK, planes = 3)
        .orderBy("id_a", "rank")
    },
    // embedding-cosine near-dup dedup, SRP-bucketed (the scale path for
    // what q39 verifies all-pairs)
    frame("q42_embed_neardup", {
      // same hash-derived SRP hyperplanes as q40; bucket-local pairs with
      // exact decimal-dot cosine at or above the threshold
      val nPlanes = 3
      val caseP = (0 until nPlanes).map(p => s"WHEN $p THEN ${1 << p}").mkString(" ")
      s"""WITH comp AS (
         |  SELECT p, i,
         |         (${dh("'plane' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
         |            / 1152921504606846976.0) - 0.5 AS c
         |  FROM (SELECT unnest(range(0, $nPlanes)) AS p) ps,
         |       (SELECT unnest(range(0, 64)) AS i) dims
         |), vals AS (
         |  SELECT vec_id, unnest(embedding) AS x,
         |         generate_subscripts(embedding, 1) - 1 AS i
         |  FROM embeddings
         |), dots AS (
         |  SELECT v.vec_id, c.p,
         |         SUM(CAST(CAST(v.x AS DOUBLE) * c.c AS DECIMAL(20,12))) AS dot
         |  FROM vals v JOIN comp c ON c.i = v.i
         |  GROUP BY v.vec_id, c.p
         |), buckets AS (
         |  SELECT vec_id,
         |         CAST(SUM(CASE WHEN dot >= 0 THEN (CASE p $caseP END) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |), norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM vals GROUP BY vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
         |  FROM embeddings a
         |  JOIN buckets ba ON ba.vec_id = a.vec_id
         |  JOIN buckets bb ON bb.bucket = ba.bucket
         |  JOIN embeddings b ON b.vec_id = bb.vec_id
         |  WHERE a.vec_id < b.vec_id
         |), pdots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs) t
         |  GROUP BY id_a, id_b
         |)
         |SELECT id_a, id_b,
         |       round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
         |FROM pdots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= $CosThresh
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      Similarity.nearDupPairs(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          CosThresh, planes = 3)
        .orderBy("id_a", "id_b")
    },
    // IVF coarse-quantizer ANN: cells from deterministic centroids so the
    // oracle reproduces the exact Voronoi assignment
    frame("q43_ivf_ann", {
      // IVF: assign every vector to its nearest deterministic centroid
      // (cos DESC, cent_id tie-break), probe the nprobe nearest cells per
      // query, exact-rerank inside the probed cells
      s"""WITH norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t GROUP BY vec_id
         |), cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id % $IvfCentMod = 0
         |), adots AS (
         |  SELECT vec_id, cent_id,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT e.vec_id, c.cent_id, unnest(e.embedding) AS x, unnest(c.cvec) AS y
         |        FROM embeddings e, cents c) t
         |  GROUP BY vec_id, cent_id
         |), acos AS (
         |  SELECT a.vec_id, a.cent_id,
         |         CAST(a.dot AS DOUBLE) / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
         |  FROM adots a
         |  JOIN norms nv ON nv.vec_id = a.vec_id
         |  JOIN norms nc ON nc.vec_id = a.cent_id
         |), cells AS (
         |  SELECT vec_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
         |    FROM acos) WHERE rn = 1
         |), probes AS (
         |  SELECT vec_id AS id_a, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
         |    FROM acos WHERE vec_id % 100 = 0) WHERE rn <= $IvfNprobe
         |), pairs AS (
         |  SELECT p.id_a, s.vec_id AS id_b, qa.embedding AS ea, qb.embedding AS eb
         |  FROM probes p
         |  JOIN cells s ON s.cell = p.cell
         |  JOIN embeddings qa ON qa.vec_id = p.id_a
         |  JOIN embeddings qb ON qb.vec_id = s.vec_id
         |  WHERE p.id_a <> s.vec_id
         |), pdots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs) t
         |  GROUP BY id_a, id_b
         |), ranked AS (
         |  SELECT id_a, id_b,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos,
         |         ROW_NUMBER() OVER (PARTITION BY id_a
         |           ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) DESC, id_b) AS rank
         |  FROM pdots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK ORDER BY id_a, rank""".stripMargin
    }) { (s, dir) =>
      Similarity.ivfTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % IvfCentMod === 0, col("vec_id") % 100 === 0, TopK, IvfNprobe)
        .orderBy("id_a", "rank")
    },
    // one Lloyd iteration over the IVF cells: decimal-exact per-dim means
    frame("q44_kmeans_step", {
      // recompute the q43 cell assignment, then decimal-exact per-(cell,
      // dim) means of the member vectors
      s"""WITH norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t GROUP BY vec_id
         |), cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id % $IvfCentMod = 0
         |), adots AS (
         |  SELECT vec_id, cent_id,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT e.vec_id, c.cent_id, unnest(e.embedding) AS x, unnest(c.cvec) AS y
         |        FROM embeddings e, cents c) t
         |  GROUP BY vec_id, cent_id
         |), acos AS (
         |  SELECT a.vec_id, a.cent_id,
         |         CAST(a.dot AS DOUBLE) / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
         |  FROM adots a
         |  JOIN norms nv ON nv.vec_id = a.vec_id
         |  JOIN norms nc ON nc.vec_id = a.cent_id
         |), cells AS (
         |  SELECT vec_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
         |    FROM acos) WHERE rn = 1
         |), vals AS (
         |  SELECT vec_id, unnest(embedding) AS x,
         |         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim
         |  FROM embeddings
         |)
         |SELECT c.cell, v.dim, CAST(COUNT(*) AS BIGINT) AS n_members,
         |       CAST(SUM(CAST(CAST(v.x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE) / COUNT(*) AS mean
         |FROM vals v JOIN cells c ON c.vec_id = v.vec_id
         |GROUP BY c.cell, v.dim
         |ORDER BY c.cell, v.dim""".stripMargin
    }) { (s, dir) =>
      Similarity.kmeansStep(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % IvfCentMod === 0)
        .orderBy("cell", "dim")
    },
    // multi-probe SRP: each query also searches its 1-bit-flip buckets
    frame("q47_srp_multiprobe", {
      // q40's buckets plus 1-bit-flip probe buckets per query
      val nPlanes = 3
      val caseP = (0 until nPlanes).map(p => s"WHEN $p THEN ${1 << p}").mkString(" ")
      val caseFlip = (0 until nPlanes).map(p => s"WHEN $p THEN xor(bucket, ${1L << p})").mkString(" ")
      s"""WITH comp AS (
         |  SELECT p, i,
         |         (${dh("'plane' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)")}
         |            / 1152921504606846976.0) - 0.5 AS c
         |  FROM (SELECT unnest(range(0, $nPlanes)) AS p) ps,
         |       (SELECT unnest(range(0, 64)) AS i) dims
         |), vals AS (
         |  SELECT vec_id, unnest(embedding) AS x,
         |         generate_subscripts(embedding, 1) - 1 AS i
         |  FROM embeddings
         |), dots AS (
         |  SELECT v.vec_id, c.p,
         |         SUM(CAST(CAST(v.x AS DOUBLE) * c.c AS DECIMAL(20,12))) AS dot
         |  FROM vals v JOIN comp c ON c.i = v.i
         |  GROUP BY v.vec_id, c.p
         |), buckets AS (
         |  SELECT vec_id,
         |         CAST(SUM(CASE WHEN dot >= 0 THEN (CASE p $caseP END) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |), norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM vals GROUP BY vec_id
         |), probes AS (
         |  SELECT b.vec_id AS id_a,
         |         CASE WHEN f = -1 THEN bucket ELSE (CASE f $caseFlip END) END AS bucket
         |  FROM buckets b, (SELECT unnest(range(-1, $nPlanes)) AS f) fs
         |  WHERE b.vec_id % 100 = 0
         |), pairs AS (
         |  SELECT p.id_a, bc.vec_id AS id_b, qa.embedding AS ea, qb.embedding AS eb
         |  FROM probes p
         |  JOIN buckets bc ON bc.bucket = p.bucket
         |  JOIN embeddings qa ON qa.vec_id = p.id_a
         |  JOIN embeddings qb ON qb.vec_id = bc.vec_id
         |  WHERE p.id_a <> bc.vec_id
         |), pdots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM pairs) t
         |  GROUP BY id_a, id_b
         |), ranked AS (
         |  SELECT id_a, id_b,
         |         CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos,
         |         ROW_NUMBER() OVER (PARTITION BY id_a
         |           ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) DESC, id_b) AS rank
         |  FROM pdots JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK ORDER BY id_a, rank""".stripMargin
    }) { (s, dir) =>
      Similarity.srpMultiProbeTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % 100 === 0, TopK, planes = 3)
        .orderBy("id_a", "rank")
    },
    // SemDeDup: Voronoi-cell clustering (q43's deterministic centroids),
    // within-cell cosine near-dup groups, keep the member LEAST similar
    // to its centroid (the diversity-preserving outlier)
    frame("q100_semantic_dedup", {
      // SemDeDup: q43's Voronoi assignment, within-cell cosine edges at
      // the q42 threshold, transitive closure via recursive CTE (q49's
      // pattern), keep-rule = lowest centroid cosine (ties to lowest id)
      s"""WITH RECURSIVE norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t GROUP BY vec_id
         |), cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id % $IvfCentMod = 0
         |), adots AS (
         |  SELECT vec_id, cent_id,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT e.vec_id, c.cent_id, unnest(e.embedding) AS x, unnest(c.cvec) AS y
         |        FROM embeddings e, cents c) t
         |  GROUP BY vec_id, cent_id
         |), acos AS (
         |  SELECT a.vec_id, a.cent_id,
         |         CAST(a.dot AS DOUBLE) / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
         |  FROM adots a
         |  JOIN norms nv ON nv.vec_id = a.vec_id
         |  JOIN norms nc ON nc.vec_id = a.cent_id
         |), cells AS (
         |  SELECT vec_id, cell, cent_cos FROM (
         |    SELECT vec_id, cent_id AS cell, cos AS cent_cos,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
         |    FROM acos) WHERE rn = 1
         |), cpairs AS (
         |  SELECT ca.vec_id AS id_a, cb.vec_id AS id_b, ea.embedding AS ea, eb.embedding AS eb
         |  FROM cells ca JOIN cells cb ON cb.cell = ca.cell AND ca.vec_id < cb.vec_id
         |  JOIN embeddings ea ON ea.vec_id = ca.vec_id
         |  JOIN embeddings eb ON eb.vec_id = cb.vec_id
         |), cdots AS (
         |  SELECT id_a, id_b,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT id_a, id_b, unnest(ea) AS x, unnest(eb) AS y FROM cpairs) t
         |  GROUP BY id_a, id_b
         |), dedges AS (
         |  SELECT id_a, id_b FROM cdots
         |  JOIN norms na ON na.vec_id = id_a JOIN norms nb ON nb.vec_id = id_b
         |  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= $CosThresh
         |), dsym AS (
         |  SELECT id_a AS src, id_b AS dst FROM dedges
         |  UNION ALL
         |  SELECT id_b AS src, id_a AS dst FROM dedges
         |), dreach(node, r) AS (
         |  SELECT vec_id, vec_id FROM cells
         |  UNION
         |  SELECT s.src, dreach.r FROM dsym s JOIN dreach ON dreach.node = s.dst
         |), dlabels AS (
         |  SELECT node AS vec_id, CAST(MIN(r) AS BIGINT) AS group_id
         |  FROM dreach GROUP BY node
         |), keeprule AS (
         |  SELECT group_id, vec_id AS keep_id FROM (
         |    SELECT l.group_id, l.vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY l.group_id
         |                              ORDER BY c.cent_cos ASC, l.vec_id) AS rk
         |    FROM dlabels l JOIN cells c ON c.vec_id = l.vec_id) t WHERE rk = 1
         |)
         |SELECT c.vec_id, c.cell, l.group_id,
         |       round(c.cent_cos, 6) AS cent_cos,
         |       (c.vec_id = k.keep_id) AS kept
         |FROM cells c
         |JOIN dlabels l ON l.vec_id = c.vec_id
         |JOIN keeprule k ON k.group_id = l.group_id
         |ORDER BY c.vec_id""".stripMargin
    }) { (s, dir) =>
      Similarity.semanticDedup(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % IvfCentMod === 0, CosThresh)
        .orderBy("vec_id")
    },
    // product quantization + asymmetric-distance top-k: codes from a
    // deterministic per-subspace codebook, query LUTs, summed lookups
    frame("q78_pq_adc", {
      // subspace slicing, per-subspace codeword dots, argmin encode,
      // query distance tables, ADC sum — each stage decimal-exact in
      // the q38 idiom so the approximate DISTANCES (not just the ranks)
      // must match bit-for-bit
      s"""WITH sv AS (
         |  SELECT vec_id, CAST(i // $PqSubDim AS INTEGER) AS sub, i, x
         |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |               unnest(embedding) AS x FROM embeddings) t
         |), cw AS (
         |  SELECT * FROM sv WHERE vec_id % $PqCodeMod = 0
         |), cnorm AS (
         |  SELECT vec_id AS code, sub,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS cnorm2
         |  FROM cw GROUP BY 1, 2
         |), enc_dot AS (
         |  SELECT s.vec_id AS id, c.vec_id AS code, s.sub,
         |         SUM(CAST(CAST(s.x AS DOUBLE) * CAST(c.x AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM sv s JOIN cw c ON c.i = s.i
         |  GROUP BY 1, 2, 3
         |), codes AS (
         |  SELECT id, sub, code FROM (
         |    SELECT e.id, e.sub, e.code,
         |           ROW_NUMBER() OVER (PARTITION BY e.id, e.sub
         |             ORDER BY (e.dot * 2 - n.cnorm2) DESC, e.code) AS rn
         |    FROM enc_dot e JOIN cnorm n ON n.code = e.code AND n.sub = e.sub) t
         |  WHERE rn = 1
         |), qnorm AS (
         |  SELECT vec_id AS id_a, sub,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS qnorm2
         |  FROM sv WHERE vec_id % 100 = 0 GROUP BY 1, 2
         |), lut AS (
         |  SELECT q.vec_id AS id_a, q.sub, c.vec_id AS code,
         |         SUM(CAST(CAST(q.x AS DOUBLE) * CAST(c.x AS DOUBLE) AS DECIMAL(20,12))) AS qcdot
         |  FROM sv q JOIN cw c ON c.i = q.i
         |  WHERE q.vec_id % 100 = 0 GROUP BY 1, 2, 3
         |), adc AS (
         |  SELECT l.id_a, k.id AS id_b,
         |         SUM(n.qnorm2 - l.qcdot * 2 + cn.cnorm2) AS adc2
         |  FROM codes k
         |  JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  JOIN qnorm n ON n.id_a = l.id_a AND n.sub = k.sub
         |  JOIN cnorm cn ON cn.code = k.code AND cn.sub = k.sub
         |  WHERE l.id_a <> k.id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, round(CAST(adc2 AS DOUBLE), 6) AS adc_dist,
         |       CAST(rn AS INTEGER) AS rank
         |FROM (SELECT id_a, id_b, adc2,
         |             ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY adc2, id_b) AS rn
         |      FROM adc) t
         |WHERE rn <= $TopK ORDER BY id_a, rank""".stripMargin
    }) { (s, dir) =>
      Similarity.pqAdcTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % PqCodeMod === 0, col("vec_id") % 100 === 0,
          PqM, PqSubDim, TopK)
        .orderBy("id_a", "rank")
    },
    // IVF-PQ: coarse cells restrict the scan to nprobe cells per query,
    // PQ/ADC scores the candidates from code lookups — the composed
    // billion-vector serving shape (q43's quantizer × q78's codes)
    frame("q85_ivf_pq", {
      // q43's coarse-cell CTEs (cosine assignment + nprobe probes)
      // gate WHICH pairs are scored; q78's PQ CTEs score them — the
      // ADC distances must still match bit-for-bit
      s"""WITH norms AS (
         |  SELECT vec_id, SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS n2
         |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t GROUP BY vec_id
         |), cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id % $IvfCentMod = 0
         |), adots AS (
         |  SELECT vec_id, cent_id,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM (SELECT e.vec_id, c.cent_id, unnest(e.embedding) AS x, unnest(c.cvec) AS y
         |        FROM embeddings e, cents c) t
         |  GROUP BY vec_id, cent_id
         |), acos AS (
         |  SELECT a.vec_id, a.cent_id,
         |         CAST(a.dot AS DOUBLE) / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
         |  FROM adots a
         |  JOIN norms nv ON nv.vec_id = a.vec_id
         |  JOIN norms nc ON nc.vec_id = a.cent_id
         |), cells AS (
         |  SELECT vec_id, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
         |    FROM acos) WHERE rn = 1
         |), probes AS (
         |  SELECT vec_id AS id_a, cent_id AS cell FROM (
         |    SELECT vec_id, cent_id,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id) AS rn
         |    FROM acos WHERE vec_id % 100 = 0) WHERE rn <= $IvfNprobe
         |), sv AS (
         |  SELECT vec_id, CAST(i // $PqSubDim AS INTEGER) AS sub, i, x
         |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |               unnest(embedding) AS x FROM embeddings) t
         |), cw AS (
         |  SELECT * FROM sv WHERE vec_id % $PqCodeMod = 0
         |), cnorm AS (
         |  SELECT vec_id AS code, sub,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS cnorm2
         |  FROM cw GROUP BY 1, 2
         |), enc_dot AS (
         |  SELECT s.vec_id AS id, c.vec_id AS code, s.sub,
         |         SUM(CAST(CAST(s.x AS DOUBLE) * CAST(c.x AS DOUBLE) AS DECIMAL(20,12))) AS dot
         |  FROM sv s JOIN cw c ON c.i = s.i
         |  GROUP BY 1, 2, 3
         |), codes AS (
         |  SELECT id, sub, code FROM (
         |    SELECT e.id, e.sub, e.code,
         |           ROW_NUMBER() OVER (PARTITION BY e.id, e.sub
         |             ORDER BY (e.dot * 2 - n.cnorm2) DESC, e.code) AS rn
         |    FROM enc_dot e JOIN cnorm n ON n.code = e.code AND n.sub = e.sub) t
         |  WHERE rn = 1
         |), qnorm AS (
         |  SELECT vec_id AS id_a, sub,
         |         SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(20,12))) AS qnorm2
         |  FROM sv WHERE vec_id % 100 = 0 GROUP BY 1, 2
         |), lut AS (
         |  SELECT q.vec_id AS id_a, q.sub, c.vec_id AS code,
         |         SUM(CAST(CAST(q.x AS DOUBLE) * CAST(c.x AS DOUBLE) AS DECIMAL(20,12))) AS qcdot
         |  FROM sv q JOIN cw c ON c.i = q.i
         |  WHERE q.vec_id % 100 = 0 GROUP BY 1, 2, 3
         |), cand AS (
         |  SELECT p.id_a, s.vec_id AS id_b
         |  FROM probes p JOIN cells s ON s.cell = p.cell
         |  WHERE p.id_a <> s.vec_id
         |), adc AS (
         |  SELECT ca.id_a, ca.id_b,
         |         SUM(n.qnorm2 - l.qcdot * 2 + cn.cnorm2) AS adc2
         |  FROM cand ca
         |  JOIN codes k ON k.id = ca.id_b
         |  JOIN lut l ON l.id_a = ca.id_a AND l.sub = k.sub AND l.code = k.code
         |  JOIN qnorm n ON n.id_a = ca.id_a AND n.sub = k.sub
         |  JOIN cnorm cn ON cn.code = k.code AND cn.sub = k.sub
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, round(CAST(adc2 AS DOUBLE), 6) AS adc_dist,
         |       CAST(rn AS INTEGER) AS rank
         |FROM (SELECT id_a, id_b, adc2,
         |             ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY adc2, id_b) AS rn
         |      FROM adc) t
         |WHERE rn <= $TopK ORDER BY id_a, rank""".stripMargin
    }) { (s, dir) =>
      Similarity.ivfPqTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % IvfCentMod === 0, col("vec_id") % PqCodeMod === 0,
          col("vec_id") % 100 === 0, PqM, PqSubDim, TopK, IvfNprobe)
        .orderBy("id_a", "rank")
    }
  )
}

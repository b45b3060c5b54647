package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Sampling}
import graft.ops.PortableHash.{duckHash60 => dh}

import QueryDef.frame

/** Near-duplicate and exact dedup: content hashes, MinHash/LSH, n-gram
  * Jaccard and containment, edit distance, SimHash, duplicated spans,
  * chunk dedup, connected-component clusters and what is built on them
  * (canonical corpus, group-aware split), contamination and corpus diff.
  */
object DedupQueries {

  private val K = 8            // minhash signature length
  private[queries] val ShingleN = 3     // word shingle width
  private val Bands = 4        // LSH bands (of K/Bands rows each)
  private val MaxDf = 50       // stop-shingle document-frequency cap
  private val JaccThresh = 0.05
  private val MaxHamming = 14  // simhash near-dup radius (60-bit hashes)
  private val ContThresh = 0.25 // Broder containment threshold (q103)
  private val ChunkW = 4         // tokens per chunk for sub-document dedup (q79)
  private val EditMaxFrac = 0.35 // q109 normalized edit-distance ceiling
  private val DupL = 20          // q110 duplicated-substring gram length (chars)

  /** Word array + shingle CTEs shared by several oracles. */
  private[queries] val shingleCte =
    s"""docw AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(1, greatest(len(w) - ${ShingleN - 2}, 1)),
       |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
       |  FROM docw
       |)""".stripMargin

  // q33's near-dup pair derivation + the transitive closure over it —
  // the duplicate-cluster labeling shared by the q49, q70 and q90 oracles
  // (ends with the open `reach(node, r)` CTE; append further CTEs with
  // a comma or a final SELECT)
  private val clusterCte =
    s"""WITH RECURSIVE $shingleCte, dsh AS (
       |  SELECT DISTINCT doc_id AS id, sh FROM sh
       |), rare AS (
       |  SELECT sh FROM dsh GROUP BY sh HAVING COUNT(*) <= $MaxDf
       |), fsh AS (
       |  SELECT id, dsh.sh FROM dsh JOIN rare ON dsh.sh = rare.sh
       |), sizes AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM dsh GROUP BY id
       |), inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM fsh a JOIN fsh b ON a.sh = b.sh
       |  WHERE a.id < b.id GROUP BY a.id, b.id
       |), edges AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.id = id_a
       |  JOIN sizes sb ON sb.id = id_b
       |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= $JaccThresh
       |), sym AS (
       |  SELECT id_a AS src, id_b AS dst FROM edges
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst FROM edges
       |), reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.node = s.dst
       |)""".stripMargin

  /** MinHash → banded LSH → candidate pairs, ending with an open
    * `cand(id_a, id_b)` CTE — the q32 oracle body, reused by the q109
    * edit-distance verification oracle.
    */
  private lazy val lshCandCte: String = {
    val bandRows = (0 until Bands).map { b =>
      val cols = (0 until K / Bands).map(r => s"s${b * (K / Bands) + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, ${dh(s"concat_ws(',', $cols)")} AS bucket FROM sigw"
    }.mkString("\n  UNION ALL\n  ")
    val sigCols = (0 until K)
      .map(s => s"MIN(CASE WHEN seed = $s THEN min_hash END) AS s$s").mkString(", ")
    s"""$shingleCte, $sigCte, sigw AS (
       |  SELECT doc_id, $sigCols FROM sig GROUP BY doc_id
       |), bands AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id < b.doc_id
       |)""".stripMargin
  }

  private val sigCte = {
    val seedRows = (0 until K).map { s =>
      val (a, b) = Dedup.minhashConsts(s)
      s"SELECT $s AS seed, $a AS ma, $b AS mb"
    }.mkString("\n    UNION ALL ")
    s"""hb AS (
       |  SELECT doc_id, ${dh("sh")} % ${Dedup.MinhashP} AS hb FROM sh
       |), seeds AS (
       |    $seedRows
       |), sig AS (
       |  SELECT doc_id, seed, MIN((hb * ma + mb) % ${Dedup.MinhashP}) AS min_hash
       |  FROM hb, seeds
       |  GROUP BY doc_id, seed
       |)""".stripMargin
  }

  private def simhashVotesSql: String = {
    val votes = (0 until 60).map { j =>
      s"SUM(CASE WHEN h % ${1L << (j + 1)} >= ${1L << j} THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n      ")
    val fp = (0 until 60).map(j => s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents
       |), hashed AS (
       |  SELECT doc_id, ${dh("w")} AS h FROM tok
       |), votes AS (
       |  SELECT doc_id,
       |      $votes
       |  FROM hashed GROUP BY doc_id
       |), simhashed AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes
       |)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    frame("q30_dedup_exact",
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    },
    frame("q31_minhash_sig",
      s"""WITH $shingleCte, $sigCte
         |SELECT doc_id, CAST(seed AS INTEGER) AS seed, min_hash FROM sig ORDER BY doc_id, seed""".stripMargin) { (s, dir) =>
      Dedup.minhashSignatures(Tables.load(s, dir, "documents"), "doc_id", "text", K, ShingleN)
        .orderBy("doc_id", "seed")
    },
    frame("q32_lsh_candidates",
      s"""WITH $lshCandCte
         |SELECT id_a, id_b FROM cand
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val wide = Dedup.minhashSignaturesWide(Tables.load(s, dir, "documents"), "doc_id", "text", K, ShingleN)
      Dedup.lshCandidates(Dedup.lshBandsWide(wide, "doc_id", Bands, K / Bands), "doc_id")
        .orderBy("id_a", "id_b")
    },
    frame("q33_ngram_jaccard",
      s"""WITH $shingleCte, dsh AS (
         |  SELECT DISTINCT doc_id AS id, sh FROM sh
         |), rare AS (
         |  SELECT sh FROM dsh GROUP BY sh HAVING COUNT(*) <= $MaxDf
         |), fsh AS (
         |  SELECT id, dsh.sh FROM dsh JOIN rare ON dsh.sh = rare.sh
         |), sizes AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM dsh GROUP BY id
         |), inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM fsh a JOIN fsh b ON a.sh = b.sh
         |  WHERE a.id < b.id GROUP BY a.id, b.id
         |)
         |SELECT id_a, id_b, n_inter,
         |       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.id = id_a
         |JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= $JaccThresh
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          ShingleN, MaxDf, JaccThresh)
        .orderBy("id_a", "id_b")
    },
    // Broder containment: asymmetric |A∩B|/|A| near-dup signal — catches
    // quote-inclusion pairs whose symmetric Jaccard stays tiny
    frame("q103_containment",
      // same DF-capped intersection counts as q33; the score divides by
      // ONE side's set size (asymmetric), both directions emitted
      s"""WITH $shingleCte, dsh AS (
         |  SELECT DISTINCT doc_id AS id, sh FROM sh
         |), rare AS (
         |  SELECT sh FROM dsh GROUP BY sh HAVING COUNT(*) <= $MaxDf
         |), fsh AS (
         |  SELECT id, dsh.sh FROM dsh JOIN rare ON dsh.sh = rare.sh
         |), sizes AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM dsh GROUP BY id
         |), inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM fsh a JOIN fsh b ON a.sh = b.sh
         |  WHERE a.id < b.id GROUP BY a.id, b.id
         |)
         |SELECT id_a, id_b, n_inter,
         |       CAST(n_inter AS DOUBLE) / sa.n_sh AS cont_ab,
         |       CAST(n_inter AS DOUBLE) / sb.n_sh AS cont_ba
         |FROM inter
         |JOIN sizes sa ON sa.id = id_a
         |JOIN sizes sb ON sb.id = id_b
         |WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n_sh,
         |               CAST(n_inter AS DOUBLE) / sb.n_sh) >= $ContThresh
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          ShingleN, MaxDf, ContThresh)
        .orderBy("id_a", "id_b")
    },
    // two-phase near-dup: LSH proposes candidate pairs, EXACT Levenshtein
    // disposes — the character-level metric shingle overlap can't fake
    //
    // q109: the q32 candidate derivation re-scored with DuckDB's own
    // exact levenshtein (same unit-cost DP as Spark's built-in)
    frame("q109_edit_distance",
      s"""WITH $lshCandCte, scored AS (
         |  SELECT c.id_a, c.id_b,
         |         CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
         |         CAST(GREATEST(length(da.text), length(db.text)) AS BIGINT) AS max_len
         |  FROM cand c
         |  JOIN documents da ON da.doc_id = c.id_a
         |  JOIN documents db ON db.doc_id = c.id_b
         |)
         |SELECT id_a, id_b, dist, max_len,
         |       CAST(dist AS DOUBLE) / max_len AS dist_ratio
         |FROM scored
         |WHERE CAST(dist AS DOUBLE) / max_len <= $EditMaxFrac
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Dedup.editDistancePairs(Tables.load(s, dir, "documents"), "doc_id", "text",
          K, ShingleN, Bands, EditMaxFrac)
        .orderBy("id_a", "id_b")
    },
    // Lee et al. exact-substring dedup signal: fraction of each doc
    // covered by length-DupL char grams that occur >= 2 times corpus-wide
    frame("q110_dup_spans",
      s"""WITH base AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars FROM documents
         |), pos AS (
         |  SELECT doc_id, text, unnest(range(0, n_chars - ${DupL - 1})) AS pos
         |  FROM base WHERE n_chars >= $DupL
         |), grams AS (
         |  SELECT doc_id, pos, substr(text, pos + 1, $DupL) AS gram FROM pos
         |), dupg AS (
         |  SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
         |), dpos AS (
         |  SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)
         |), cov AS (
         |  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM dpos
         |), agg AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pos,
         |         CAST(SUM(CASE WHEN prev IS NULL THEN $DupL
         |                       ELSE LEAST($DupL, pos - prev) END) AS BIGINT) AS dup_chars
         |  FROM cov GROUP BY doc_id
         |)
         |SELECT b.doc_id, b.n_chars,
         |       CAST(GREATEST(b.n_chars - ${DupL - 1}, 0) AS BIGINT) AS n_pos,
         |       CAST(COALESCE(a.n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
         |       CAST(COALESCE(a.dup_chars, 0) AS BIGINT) AS dup_chars,
         |       CASE WHEN b.n_chars = 0 THEN 0.0
         |            ELSE ROUND(CAST(COALESCE(a.dup_chars, 0) AS DOUBLE) / b.n_chars, 6)
         |       END AS dup_ratio
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.dupSpans(Tables.load(s, dir, "documents"), "doc_id", "text", DupL)
        .orderBy("doc_id")
    },
    frame("q34_simhash",
      s"""WITH $simhashVotesSql
         |SELECT doc_id, simhash FROM simhashed ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.simhash(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    frame("q35_simhash_pairs",
      s"""WITH $simhashVotesSql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM simhashed a, simhashed b
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming
         |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val sim = Dedup.simhash(Tables.load(s, dir, "documents"), "doc_id", "text")
      // exact-recall verification config: radius 14 keeps ~94% of random
      // chunk collisions, fine at 500 docs, quadratic at corpus scale —
      // the explicit override is the documented opt-in (see simhashPairs)
      Dedup.simhashPairs(sim, "doc_id", MaxHamming, maxCollisionFraction = 1.0)
        .orderBy("id_a", "id_b")
    },
    // corpus snapshot diff: the "new" snapshot drops ids % 7 == 0,
    // rewrites text where % 5 == 0, and adds fresh ids — the diff must
    // label every id by content hash, not by presence alone
    frame("q99_corpus_diff",
      s"""WITH newsnap AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
         |), d AS (
         |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         |         CASE WHEN o.doc_id IS NULL THEN 'added'
         |              WHEN n.doc_id IS NULL THEN 'removed'
         |              WHEN md5(o.text) = md5(n.text) THEN 'unchanged'
         |              ELSE 'changed' END AS status
         |  FROM documents o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
         |)
         |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM d GROUP BY status ORDER BY status""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val newSnap = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      Dedup.corpusDiff(docs, newSnap, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("status")
    },
    // connected components over the n-gram-Jaccard near-dup graph:
    // every doc labeled with the min doc id reachable through dup pairs
    frame("q49_dedup_clusters",
      // q33's near-dup pairs as the edge set, then the transitive closure
      // via a recursive CTE: cluster_id = min doc id reachable
      s"""$clusterCte
         |SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text", ShingleN, MaxDf, JaccThresh)
      Dedup.connectedComponents(edges, "id_a", "id_b", docs, "doc_id")
        .orderBy("doc_id")
    },
    // the dedup pipeline's endpoint: cluster near-dups (as q49), then
    // keep ONE representative per cluster — highest n_chars, ties to
    // the smallest doc_id — via the map-side-combinable struct-max
    // (the oracle recomputes it as a ROW_NUMBER window)
    //
    // clustering composed with keep-best selection: one representative
    // per duplicate cluster (max n_chars, ties to the smallest doc_id)
    frame("q70_canonical_corpus",
      s"""$clusterCte, labels AS (
         |  SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY node
         |)
         |SELECT doc_id, cluster_id, n_chars FROM (
         |  SELECT d.doc_id, l.cluster_id, d.n_chars,
         |         ROW_NUMBER() OVER (PARTITION BY l.cluster_id
         |                            ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM documents d JOIN labels l ON l.doc_id = d.doc_id) t
         |WHERE rk = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text", ShingleN, MaxDf, JaccThresh)
      val labels = Dedup.connectedComponents(edges, "id_a", "id_b", docs, "doc_id")
      Dedup.keepBest(docs.join(labels, "doc_id"), "cluster_id", "doc_id", "n_chars")
        .select("doc_id", "cluster_id", "n_chars")
        .orderBy("cluster_id")
    },
    // leakage-safe split: near-dup clusters (as q49) roll the split die
    // on the CLUSTER id, so no near-duplicate pair straddles train/test
    frame("q90_groupaware_split",
      s"""$clusterCte, labels AS (
         |  SELECT node AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
         |  FROM reach GROUP BY node
         |)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN d < 80 THEN 'train' WHEN d < 90 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |             ${dh("'gsplit:' || CAST(cluster_id AS VARCHAR)")} % 100 AS d
         |      FROM labels)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text", ShingleN, MaxDf, JaccThresh)
      val labels = Dedup.connectedComponents(edges, "id_a", "id_b", docs, "doc_id")
      Sampling.splitByGroup(labels, "cluster_id", 80, 10)
        .select("doc_id", "cluster_id", "split").orderBy("doc_id")
    },
    // benchmark-contamination: distinct train/eval 3-gram overlap per
    // eval doc (eval side = doc_id % 10 == 0)
    frame("q51_contamination",
      s"""WITH $shingleCte, dsh AS (
         |  SELECT DISTINCT doc_id AS id, sh FROM sh
         |), train AS (
         |  SELECT DISTINCT sh FROM dsh WHERE id % 10 <> 0
         |), evalsh AS (
         |  SELECT id, sh FROM dsh WHERE id % 10 = 0
         |), hits AS (
         |  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_contam
         |  FROM evalsh JOIN train USING (sh) GROUP BY id
         |), nsh AS (
         |  -- LEFT JOIN keeps shingle-less eval docs (count of NULL = 0)
         |  SELECT d.doc_id AS id, CAST(COUNT(dsh.sh) AS BIGINT) AS n_sh
         |  FROM documents d LEFT JOIN dsh ON dsh.id = d.doc_id
         |  WHERE d.doc_id % 10 = 0 GROUP BY d.doc_id
         |)
         |SELECT nsh.id AS doc_id, n_sh,
         |       CAST(COALESCE(n_contam, 0) AS BIGINT) AS n_contam,
         |       CASE WHEN n_sh = 0 THEN 0.0
         |            ELSE CAST(COALESCE(n_contam, 0) AS DOUBLE) / n_sh END AS contam_frac
         |FROM nsh LEFT JOIN hits ON hits.id = nsh.id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.ngramContamination(Tables.load(s, dir, "documents"), "doc_id", "text",
          col("doc_id") % 10 === 0, ShingleN)
        .orderBy("doc_id")
    },
    // C4-style sub-document dedup: drop repeated 4-token chunks
    // corpus-wide, stitch the survivors back into cleaned documents
    frame("q79_chunk_dedup",
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents
         |), idx AS (
         |  SELECT doc_id, arr,
         |         unnest(range(0, CAST(ceil(len(arr)::DOUBLE / $ChunkW) AS BIGINT))) AS ci
         |  FROM toks
         |), ct AS (
         |  SELECT doc_id, ci,
         |         array_to_string(arr[ci*$ChunkW+1 : ci*$ChunkW+$ChunkW], ' ') AS chunk_text
         |  FROM idx
         |), ranked AS (
         |  SELECT doc_id, ci, chunk_text,
         |         ROW_NUMBER() OVER (PARTITION BY chunk_text ORDER BY doc_id, ci) AS rn
         |  FROM ct
         |)
         |SELECT doc_id,
         |       COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY ci), '') AS clean_text,
         |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |       CAST(COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept
         |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.chunkDedup(Tables.load(s, dir, "documents"), "doc_id", "text", ChunkW)
        .orderBy("doc_id")
    }
  )
}

package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, Sampling, TextAnalysis}
import graft.ops.PortableHash.{duckHash60 => dh}
import graft.queries.TextQueries.textAnalysisSelect

import QueryDef.frame

/** Corpus curation and sampling: deterministic splits, stratified,
  * temperature, weighted and mixture samples, the end-to-end curation
  * pipeline, sequence packing, shuffle shards, training order, per-source
  * caps and token-budget apportionment.
  */
object CurationQueries {

  private val TempTotal = 300L // temperature-sample draw size (q101)
  private val PackBudget = 512L // tokens per packed training sequence
  private val ShuffleShards = 16 // training shards for the corpus shuffle
  // target domain mixture for q76: upsample src0 2.5x, keep 1/4 of
  // src1, drop src2 entirely, pass everything else through at 1.0
  private val MixWeights = Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0)
  private val OrderParts = 8     // range partitions for the q91 global order
  private val CapK = 25          // per-source document cap (q93)
  private val CapSalts = 8       // q93 skew sub-buckets
  private val BudgetTokens = 1000000L // q94 global token budget
  private val WSampleK = 40      // q107 weighted-sample size

  val all: Seq[QueryDef] = Seq(
    // deterministic weighted sample: priority = hash(id)/n_chars, k smallest
    frame("q107_weighted_sample",
      s"""SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         |       CAST((${dh("'wsamp:' || CAST(doc_id AS VARCHAR)")} % ${1L << 50}) AS DOUBLE)
         |         / CAST(n_chars AS DOUBLE) AS priority
         |FROM documents WHERE n_chars > 0
         |ORDER BY priority, doc_id LIMIT $WSampleK""".stripMargin) { (s, dir) =>
      Sampling.weightedSample(
          Tables.load(s, dir, "documents").withColumn("w", col("n_chars")),
          "doc_id", "w", WSampleK)
        .orderBy("doc_id")
    },
    // hash-deterministic stratified train/valid/test split
    frame("q45_split",
      s"""SELECT doc_id, lang,
         |       CASE WHEN d < 80 THEN 'train' WHEN d < 90 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |             ${dh("'split:' || lang || ':' || CAST(doc_id AS VARCHAR)")} % 100 AS d
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.deterministicSplit(Tables.load(s, dir, "documents"), "doc_id", "lang", 80, 10)
        .select("doc_id", "lang", "split").orderBy("doc_id")
    },
    // fixed-size deterministic sample per stratum
    frame("q46_stratified_sample",
      s"""SELECT doc_id, lang, CAST(rn AS INTEGER) AS sample_rank FROM (
         |  SELECT doc_id, lang,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |           ORDER BY ${dh("'sample:' || lang || ':' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents) WHERE rn <= 10
         |ORDER BY lang, sample_rank""".stripMargin) { (s, dir) =>
      Sampling.stratifiedSample(Tables.load(s, dir, "documents"), "doc_id", "lang", 10)
        .select("doc_id", "lang", "sample_rank").orderBy("lang", "sample_rank")
    },
    // temperature-scaled mixture sampling: p_lang ∝ n^0.5, exact
    // largest-remainder allocation, hash-ranked per-group draw
    frame("q101_temperature_sample",
      // n^0.5 weights floored into exact integers, Hamilton apportionment
      // in HUGEINT (q94's scheme), then q46's hash-ranked per-group draw
      s"""WITH counts AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
         |), w AS (
         |  SELECT lang, n,
         |         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS HUGEINT) AS iw
         |  FROM counts
         |), t AS (SELECT SUM(iw) AS tt FROM w),
         |b AS (
         |  SELECT lang, n, iw,
         |         (iw * $TempTotal) // tt AS base,
         |         (iw * $TempTotal) % tt AS rem
         |  FROM w, t
         |), e AS (SELECT SUM(base) AS sb FROM b),
         |alloc AS (
         |  SELECT lang, n,
         |         CAST(base + CASE WHEN rk <= $TempTotal - sb THEN 1 ELSE 0 END AS BIGINT) AS group_alloc
         |  FROM (SELECT lang, n, base,
         |               row_number() OVER (ORDER BY rem DESC, lang) AS rk
         |        FROM b), e
         |), ranked AS (
         |  SELECT doc_id, lang,
         |         ROW_NUMBER() OVER (PARTITION BY lang
         |           ORDER BY ${dh("'temp:' || lang || ':' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents
         |)
         |SELECT r.doc_id, r.lang, CAST(rn AS INTEGER) AS sample_rank,
         |       a.n AS group_n, a.group_alloc
         |FROM ranked r JOIN alloc a USING (lang)
         |WHERE rn <= a.group_alloc
         |ORDER BY lang, sample_rank""".stripMargin) { (s, dir) =>
      Sampling.temperatureSample(Tables.load(s, dir, "documents"), "doc_id", "lang", TempTotal)
        .orderBy("lang", "sample_rank")
    },
    // end-to-end corpus curation: text metrics -> exact-dedup keep ->
    // quality filter -> stratified split, all composed from the library
    frame("q48_curation",
      s"""WITH m AS (
         |$textAnalysisSelect
         |), keep AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), cur AS (
         |  SELECT m.doc_id, m.lang_pred, m.quality
         |  FROM m JOIN keep ON keep.doc_id = m.doc_id
         |  WHERE m.quality >= 0.9
         |)
         |SELECT doc_id, lang_pred, quality,
         |       CASE WHEN d < 80 THEN 'train' WHEN d < 90 THEN 'valid' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang_pred, quality,
         |             ${dh("'split:' || lang_pred || ':' || CAST(doc_id AS VARCHAR)")} % 100 AS d
         |      FROM cur)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val metrics = TextAnalysis.analyze(docs, "doc_id", "text")
      val keep = Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val curated = metrics.join(keep, "doc_id").where(col("quality") >= 0.9)
      Sampling.deterministicSplit(curated, "doc_id", "lang_pred", 80, 10)
        .select("doc_id", "lang_pred", "quality", "split").orderBy("doc_id")
    },
    // concat-and-chop sequence packing: budget-token training sequences
    // per source, documents may straddle boundaries
    frame("q52_pack_sequences",
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), cum AS (
         |  SELECT doc_id, source, n_tokens,
         |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_tok
         |  FROM toks
         |)
         |SELECT doc_id, source, n_tokens,
         |       CAST(start_tok // $PackBudget AS BIGINT) AS seq_id,
         |       CAST(start_tok % $PackBudget AS BIGINT) AS seq_off
         |FROM cum ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.wsTokenCount(Dedup.tokens(col("text"))).as("n_tokens"))
      Sampling.packSequences(docs, "doc_id", "source", "n_tokens", PackBudget)
        .select("doc_id", "source", "n_tokens", "seq_id", "seq_off")
        .orderBy("doc_id")
    },
    // deterministic corpus shuffle into independently-ordered shards
    frame("q56_shuffle_shards",
      s"""SELECT doc_id, CAST(h % $ShuffleShards AS INTEGER) AS shard,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShuffleShards
         |           ORDER BY h, doc_id) AS BIGINT) AS shard_pos
         |FROM (SELECT doc_id,
         |             ${dh("'shuffle:' || CAST(doc_id AS VARCHAR)")} AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.shuffleShards(Tables.load(s, dir, "documents"), "doc_id", ShuffleShards)
        .select("doc_id", "shard", "shard_pos").orderBy("doc_id")
    },
    // domain-mixture resampling: copies ~ per-domain weight, hash-
    // thresholded fractional part, explode fan-out — zero joins/shuffles
    frame("q76_mixture_sample", {
      // CASE chain mirrors mixtureSample's when-chain; the integer
      // thresholds come from the SAME mixtureParts computation the
      // operator uses, so there is no float re-derivation to disagree
      val arms = MixWeights.toSeq.sortBy(_._1).map { case (dom, w) =>
        val (whole, thresh) = Sampling.mixtureParts(w)
        s"WHEN '$dom' THEN $whole + CASE WHEN h < $thresh THEN 1 ELSE 0 END"
      }.mkString("\n         ")
      val (dWhole, dThresh) = Sampling.mixtureParts(1.0)
      val maxCopies = MixWeights.values.map(math.ceil(_).toInt).max max 1
      s"""WITH hashed AS (
         |  SELECT doc_id, source,
         |         ${dh("'mix:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents
         |), counted AS (
         |  SELECT doc_id, source,
         |         CASE source
         |         $arms
         |         ELSE $dWhole + CASE WHEN h < $dThresh THEN 1 ELSE 0 END END AS copies
         |  FROM hashed)
         |SELECT doc_id, source, CAST(c.copy AS INTEGER) AS copy
         |FROM counted, (SELECT unnest(range(0, $maxCopies)) AS copy) c
         |WHERE c.copy < copies
         |ORDER BY doc_id, copy""".stripMargin
    }) { (s, dir) =>
      Sampling.mixtureSample(Tables.load(s, dir, "documents"), "doc_id", "source",
          MixWeights, defaultWeight = 1.0)
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy("doc_id", "copy")
    },
    // contiguous epoch-deterministic training order: range exchange on
    // the portable hash + per-partition offsets — no global-window
    // row_number single reducer anywhere
    //
    // the partition-offset mechanics are Spark-side plumbing; the
    // CONTRACT is "rank in the hash-ordered global permutation", which
    // one window states directly at oracle scale
    frame("q91_training_order",
      s"""SELECT doc_id,
         |       CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS train_pos
         |FROM (SELECT doc_id, ${dh("'order:' || CAST(doc_id AS VARCHAR)")} AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.trainingOrder(Tables.load(s, dir, "documents"), "doc_id", OrderParts)
        .select("doc_id", "train_pos").orderBy("doc_id")
    },
    // per-source corpus cap (no domain may dominate): salted two-phase
    // top-k — the hot-source task is bounded by salts*k rows, never the
    // whole source
    frame("q93_domain_cap",
      s"""SELECT doc_id, source, CAST(rk AS BIGINT) AS rank_in_group
         |FROM (SELECT doc_id, source,
         |             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
         |      FROM (SELECT doc_id, source,
         |                   ${dh("'cap:' || source || ':' || CAST(doc_id AS VARCHAR)")} AS h
         |            FROM documents))
         |WHERE rk <= $CapK
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Sampling.capPerGroup(Tables.load(s, dir, "documents"), "doc_id", "source",
          CapK, CapSalts)
        .select(col("doc_id"), col("source"), col("rank_in_group").cast("long"))
        .orderBy("doc_id")
    },
    // largest-remainder apportionment of a global token budget across
    // sources — exact integer arithmetic, Σalloc == budget
    frame("q94_token_budget",
      s"""WITH g AS (
         |  SELECT source, CAST(SUM(n_chars) AS HUGEINT) AS tok FROM documents GROUP BY source
         |), t AS (SELECT SUM(tok) AS tt FROM g),
         |b AS (
         |  SELECT source, tok,
         |         (tok * ${BudgetTokens}) // tt AS base,
         |         (tok * ${BudgetTokens}) % tt AS rem
         |  FROM g, t
         |), e AS (SELECT SUM(base) AS sb FROM b)
         |SELECT source, CAST(tok AS BIGINT) AS group_tokens,
         |       CAST(base + CASE WHEN rk <= ${BudgetTokens} - sb THEN 1 ELSE 0 END AS BIGINT) AS token_alloc
         |FROM (SELECT source, tok, base,
         |             row_number() OVER (ORDER BY rem DESC, source) AS rk
         |      FROM b), e
         |ORDER BY source""".stripMargin) { (s, dir) =>
      Sampling.allocateTokenBudget(Tables.load(s, dir, "documents"), "source",
          "n_chars", BudgetTokens)
        .orderBy("source")
    }
  )
}

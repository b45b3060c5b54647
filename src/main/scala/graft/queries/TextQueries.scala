package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Bpe, TextAnalysis}
import graft.ops.PortableHash.{duckHash60 => dh}

import QueryDef.frame

/** Text analysis: language/quality metrics, repetition, vocabulary,
  * characteristic terms, cleaning and PII redaction, bigram LM, BM25,
  * a Naive Bayes quality filter, inverted index, context windows and
  * BPE merges.
  */
object TextQueries {

  private val VocabK = 100       // vocabulary induction size
  private val TopTermsK = 3      // characteristic terms per document
  private val LmK = 1.0          // add-k smoothing for the bigram LM (q80)
  private val Bm25Terms = Seq("join", "vector", "spark") // q89 query terms
  private val Bm25K = 20         // q89 result size
  private val NbTerms = Seq("the", "a", "join", "vector", "scan", "filter",
    "group", "hash", "batch", "window", "stream", "customer") // q95 features
  private val NbLabelChars = 300L // q95 weak label: n_chars > 300
  private val InvMinDf = 5       // q106 inverted index: drop the hapax tail
  private val InvMaxPostings = 20 // q106 posting-list cap per term
  private val CtxWindow = 32     // q108 context window (tokens)
  private val CtxStride = 24     // q108 window stride (overlapping)
  private val BpeMerges = 16     // q115 learned merge count

  private val langCase: String = {
    val profiles = TextAnalysis.langProfiles
    val scoreExprs = profiles.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"list_sum(list_transform(w, x -> CASE WHEN x IN ($inList) THEN 1 ELSE 0 END)) AS score_$l"
    }.mkString(",\n      ")
    val bestExpr = profiles.map { case (l, _) => s"score_$l" }.mkString("greatest(", ", ", ")")
    val pickExpr = profiles.reverse.foldLeft("'und'") { case (els, (l, _)) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
    s"""langscore AS (
       |  SELECT doc_id, w, text,
       |      $scoreExprs,
       |      list_max(list_transform(w, x -> ascii(x))) AS max_cp
       |  FROM docw2
       |), langpick AS (
       |  SELECT doc_id, w, text, max_cp, $bestExpr AS best,
       |         score_en, score_de, score_fr, score_es
       |  FROM langscore
       |)""".stripMargin -> pickExpr
  }._1

  private val langPickExpr: String = {
    val profiles = TextAnalysis.langProfiles
    profiles.reverse.foldLeft("'und'") { case (els, (l, _)) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $els END"
    }
  }

  private val allStopwords =
    TextAnalysis.langProfiles.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")

  /** Full text-analysis SELECT (no ORDER BY): q36's oracle body, reused
    * as a subquery by the q48 curation-pipeline oracle.
    */
  private[queries] lazy val textAnalysisSelect: String =
    s"""WITH docw2 AS (
       |  SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
       |), $langCase, qual AS (
       |  SELECT doc_id, text, w, max_cp, best,
       |         score_en, score_de, score_fr, score_es,
       |         CAST(length(text) AS DOUBLE) AS n_chars,
       |         CAST(len(w) AS DOUBLE) AS n_words,
       |         CAST(length(text) - length(replace(replace(replace(replace(replace(replace(text,
       |             '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS DOUBLE) AS punct,
       |         CAST(list_sum(list_transform(w,
       |             x -> CASE WHEN x IN ($allStopwords) THEN 1 ELSE 0 END)) AS DOUBLE) AS stops
       |  FROM langpick
       |), fps AS (
       |  SELECT doc_id,
       |         -- CAST: DuckDB SUM(BIGINT) is HUGEINT (arrow decimal128);
       |         -- Spark emits BIGINT — the driver's hash is type-sensitive.
       |         CAST(SUM(${dh("CAST(pos AS VARCHAR) || ':' || tw")} % ${1L << 40}) % ${1L << 40} AS BIGINT) AS fingerprint
       |  FROM (SELECT doc_id, unnest(w) AS tw, generate_subscripts(w, 1) - 1 AS pos FROM docw2) t
       |  GROUP BY doc_id
       |)
       |SELECT q.doc_id,
       |       CASE WHEN max_cp >= ${0x4E00} THEN 'zh' ELSE $langPickExpr END AS lang_pred,
       |       round(
       |         (CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 1.0
       |               WHEN n_chars < 100 THEN n_chars / 100.0
       |               ELSE 10000.0 / n_chars END) * 0.4 +
       |         (CASE WHEN n_chars / greatest(n_words, 1.0) >= 3.0
       |                AND n_chars / greatest(n_words, 1.0) <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |         (CASE WHEN punct / greatest(n_chars, 1.0) <= 0.1 THEN 1.0 ELSE 0.5 END) * 0.2 +
       |         (CASE WHEN stops / greatest(n_words, 1.0) >= 0.05 THEN 1.0 ELSE 0.7 END) * 0.2,
       |         6) AS quality,
       |       CAST(len(w) AS BIGINT) AS n_ws_tokens,
       |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_re_tokens,
       |       fps.fingerprint
       |FROM qual q JOIN fps ON fps.doc_id = q.doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // inverted index: term -> df/cf + doc-ordered capped posting list
    frame("q106_inverted_index",
      s"""WITH words AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2
         |), byterm AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
         |  FROM tf GROUP BY term
         |), ranked AS (
         |  SELECT term, doc_id, tf,
         |         ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
         |  FROM tf
         |), posts AS (
         |  SELECT term,
         |         string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
         |                    ',' ORDER BY doc_id) AS postings
         |  FROM ranked WHERE rn <= $InvMaxPostings GROUP BY term
         |)
         |SELECT b.term, b.df, b.cf, p.postings
         |FROM byterm b JOIN posts p USING (term)
         |WHERE b.df >= $InvMinDf
         |ORDER BY term""".stripMargin) { (s, dir) =>
      TextAnalysis.invertedIndex(Tables.load(s, dir, "documents"), "doc_id", "text",
          InvMinDf, InvMaxPostings)
        .orderBy("term")
    },
    // LM training context windows: CtxWindow tokens at CtxStride steps
    frame("q108_context_windows",
      s"""WITH base AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
         |), w AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nw FROM base
         |), starts AS (
         |  SELECT doc_id, toks,
         |         unnest(range(0, GREATEST(nw - $CtxWindow, 0) + 1, $CtxStride)) AS start_pos
         |  FROM w
         |)
         |SELECT doc_id,
         |       CAST(start_pos // $CtxStride AS BIGINT) AS window_id,
         |       CAST(start_pos AS BIGINT) AS start_pos,
         |       CAST(len(list_slice(toks, start_pos + 1, start_pos + $CtxWindow)) AS BIGINT) AS n_toks,
         |       array_to_string(list_slice(toks, start_pos + 1, start_pos + $CtxWindow), ' ') AS window_text
         |FROM starts ORDER BY doc_id, window_id""".stripMargin) { (s, dir) =>
      TextAnalysis.contextWindows(Tables.load(s, dir, "documents"), "doc_id", "text",
          CtxWindow, CtxStride)
        .orderBy("doc_id", "window_id")
    },
    // BPE merge learning (Sennrich vocab formulation): no SQL-oracle
    // form exists (per-round argmax-then-rewrite fixpoint), so the
    // driver records rows-only; BpeSpec's independent driver-side
    // reference implementation is the correctness anchor
    frame("q115_bpe_merges") { (s, dir) =>
      import s.implicits._
      Bpe.learnMerges(Tables.load(s, dir, "documents"), "text", BpeMerges)
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
        .orderBy("rank")
    },
    frame("q36_text_analyze", s"$textAnalysisSelect\nORDER BY q.doc_id") { (s, dir) =>
      TextAnalysis.analyze(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // Gopher-style repetition filters: top-word / top-bigram coverage
    frame("q53_repetition",
      s"""WITH docw AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w FROM documents
         |), wc AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (SELECT doc_id, unnest(w) AS term FROM docw) t GROUP BY doc_id, term
         |), wagg AS (
         |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
         |         CAST(MAX(n) AS BIGINT) AS top_word_n
         |  FROM wc GROUP BY doc_id
         |), bg AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, greatest(len(w), 1)),
         |                i -> w[i] || ' ' || w[i+1])) AS b
         |  FROM docw
         |), bc AS (
         |  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY doc_id, b
         |), bagg AS (
         |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         |         CAST(MAX(n) AS BIGINT) AS top_bigram_n
         |  FROM bc GROUP BY doc_id
         |)
         |SELECT w.doc_id, n_words, top_word_n,
         |       CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
         |       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
         |       CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
         |            ELSE CAST(top_bigram_n AS DOUBLE) / n_bigrams END AS top_bigram_frac
         |FROM wagg w LEFT JOIN bagg ON bagg.doc_id = w.doc_id
         |ORDER BY w.doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetitionMetrics(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // vocabulary induction: corpus-wide top-100 words by frequency
    frame("q57_vocab",
      s"""SELECT word, tf, df FROM (
         |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS tf,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
         |        FROM documents) t
         |  GROUP BY w ORDER BY tf DESC, w LIMIT $VocabK)
         |ORDER BY word""".stripMargin) { (s, dir) =>
      TextAnalysis.vocabulary(Tables.load(s, dir, "documents"), "doc_id", "text", VocabK)
        .orderBy("word")
    },
    // per-doc characteristic terms: tf·n_docs/df score, no libm
    frame("q58_top_terms",
      s"""WITH words AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, word FROM words) t GROUP BY word
         |), nd AS (
         |  SELECT COUNT(DISTINCT doc_id) AS n FROM documents
         |), scored AS (
         |  SELECT t.doc_id, t.word, t.tf, d.df,
         |         CAST(t.tf AS DOUBLE) * (SELECT n FROM nd) / d.df AS score
         |  FROM tf t JOIN dfreq d USING (word)
         |), ranked AS (
         |  SELECT doc_id, word, tf, df, score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS term_rank
         |  FROM scored
         |)
         |SELECT doc_id, word, tf, df, score, CAST(term_rank AS INTEGER) AS term_rank
         |FROM ranked WHERE term_rank <= $TopTermsK
         |ORDER BY doc_id, term_rank""".stripMargin) { (s, dir) =>
      TextAnalysis.topTerms(Tables.load(s, dir, "documents"), "doc_id", "text", TopTermsK)
        .orderBy("doc_id", "term_rank")
    },
    // ingestion cleaning: strip markup, redact emails/phones, collapse
    // whitespace, count removals
    frame("q59_clean_text", {
      val (tag, email, phone, ws) =
        (TextAnalysis.TagRe, TextAnalysis.EmailRe, TextAnalysis.PhoneRe, TextAnalysis.WsRe)
      s"""SELECT doc_id,
         |       trim(regexp_replace(
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(text, '$tag', ' ', 'g'),
         |             '$email', '<EMAIL>', 'g'),
         |           '$phone', '<PHONE>', 'g'),
         |         '$ws', ' ', 'g')) AS clean_text,
         |       CAST(len(regexp_extract_all(text, '$tag')) AS BIGINT) AS n_tags,
         |       CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.cleanText(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // BM25 relevance search (rational idf — ranking-identical, oracle
    // bit-exact): in-row term frequencies, ONE broadcast corpus-stats
    // row, TakeOrdered top-20
    frame("q89_bm25_search", {
      // per-term score replicated with EXPLICIT CAST(… AS DOUBLE) on every
      // constant (a bare 1.2 is a DECIMAL in DuckDB — decimal 2.2 cast to
      // double need not equal double(1.2)+1.0) and the same left-assoc
      // op order as the Column expression, so every IEEE step matches
      def ts(i: Int): String = {
        val idf = s"(((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE)) + CAST(0.5 AS DOUBLE)) / (CAST(df$i AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
        val den = s"(CAST(tf$i AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))"
        s"($idf * ((CAST(tf$i AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) / $den))"
      }
      val tfDefs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, w -> w = '$t')) AS BIGINT) AS tf$i" }.mkString(",\n|         ")
      val dfDefs = Bm25Terms.indices.map(i =>
        s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i").mkString(",\n|         ")
      val score = Bm25Terms.indices.map(ts).reduce((a, b) => s"($a + $b)")
      val anyHit = Bm25Terms.indices.map(i => s"tf$i > 0").mkString(" OR ")
      val tfCols = Bm25Terms.indices.map(i => s"tf$i").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
         |), base AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         |         $tfDefs
         |  FROM tok
         |), st AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl,
         |         $dfDefs
         |  FROM base
         |)
         |SELECT doc_id, $tfCols, dl, score FROM (
         |  SELECT doc_id, $tfCols, dl, ROUND($score, 6) AS score
         |  FROM base, st WHERE $anyHit
         |  ORDER BY score DESC, doc_id LIMIT $Bm25K)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.bm25Search(Tables.load(s, dir, "documents"), "doc_id", "text",
          Bm25Terms, Bm25K)
        .orderBy("doc_id")
    },
    // compliance pass: count + redact emails/phones/IPv4 per document.
    // Pseudo-PII is synthesized deterministically from doc_id (the
    // corpus itself is clean) so the counts are non-trivial; docs with
    // doc_id % 3 == 0 stay untouched as negative cases
    frame("q92_pii_redact", {
      val seeded = "CASE WHEN doc_id % 3 <> 0 THEN text || ' reach u' || CAST(doc_id AS VARCHAR)" +
        " || '@mail.example.org or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')" +
        " || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')" +
        " || ' from 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE text END"
      val pats = graft.ops.TextAnalysis.PiiPatterns
      val counts = pats.map { case (name, pat, _) =>
        s"CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_$name"
      }.mkString(",\n|       ")
      val redacted = pats.foldLeft("t") { case (c, (_, pat, repl)) =>
        s"regexp_replace($c, '$pat', '$repl', 'g')"
      }
      s"""SELECT doc_id,
         |       $counts,
         |       $redacted AS clean_text
         |FROM (SELECT doc_id, $seeded AS t FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val seeded = docs.withColumn("text",
        when(col("doc_id") % 3 =!= 0,
          concat(col("text"), lit(" reach u"), col("doc_id").cast("string"),
            lit("@mail.example.org or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" from 10.1."), (col("doc_id") % 256).cast("string"), lit(".7")))
          .otherwise(col("text")))
      TextAnalysis.redactPii(seeded, "doc_id", "text").orderBy("doc_id")
    },
    // weak-label quality filter: a long-doc heuristic label distilled
    // into a Bernoulli NB over marker-word presence — training is one
    // count aggregate, so the oracle re-fits the model exactly
    frame("q95_nb_quality", {
      // re-fit the two-row count model and replay the fixed-order score
      // sum: every non-ln step is an exactly-rounded double op spelled
      // identically; ln ulp drift is absorbed by the final ROUND(…, 4)
      val featDefs = NbTerms.zipWithIndex.map { case (t, i) =>
        s"list_contains(regexp_split_to_array(lower(text), '\\s+'), '$t') AS f$i"
      }.mkString(",\n|         ")
      val cntDefs = NbTerms.indices.flatMap(i => Seq(
        s"CAST(SUM(CASE WHEN weak_label AND f$i THEN 1 ELSE 0 END) AS BIGINT) AS dp$i",
        s"CAST(SUM(CASE WHEN NOT weak_label AND f$i THEN 1 ELSE 0 END) AS BIGINT) AS dn$i"
      )).mkString(",\n|         ")
      def pp(i: Int) = s"((CAST(dp$i AS DOUBLE) + 1.0) / (CAST(np AS DOUBLE) + 2.0))"
      def pn(i: Int) = s"((CAST(dn$i AS DOUBLE) + 1.0) / (CAST(nn AS DOUBLE) + 2.0))"
      val termSum = NbTerms.indices.map(i =>
        s"(CASE WHEN f$i THEN ln(${pp(i)} / ${pn(i)}) " +
          s"ELSE ln((1.0 - ${pp(i)}) / (1.0 - ${pn(i)})) END)")
        .foldLeft("ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE))")((a, b) => s"($a + $b)")
      s"""WITH base AS (
         |  SELECT doc_id, n_chars > $NbLabelChars AS weak_label,
         |         $featDefs
         |  FROM documents
         |), st AS (
         |  SELECT CAST(SUM(CASE WHEN weak_label THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |         CAST(SUM(CASE WHEN NOT weak_label THEN 1 ELSE 0 END) AS BIGINT) AS nn,
         |         $cntDefs
         |  FROM base
         |)
         |SELECT doc_id, weak_label, score, score > 0 AS predicted
         |FROM (SELECT doc_id, weak_label, ROUND($termSum, 4) AS score
         |      FROM base, st)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      TextAnalysis.nbQualityFilter(Tables.load(s, dir, "documents"), "doc_id",
          "text", col("n_chars") > NbLabelChars, NbTerms)
        .orderBy("doc_id")
    },
    // CCNet-style corpus-trained bigram-LM likelihood per document
    frame("q80_bigram_lm",
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS arr FROM documents
         |), bi AS (
         |  SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
         |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr))) AS i FROM toks)
         |), c2 AS (
         |  SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2
         |), c1 AS (
         |  SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1
         |), v AS (
         |  SELECT COUNT(DISTINCT w) AS v
         |  FROM (SELECT unnest(arr) AS w FROM toks)
         |)
         |SELECT bi.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       ROUND(AVG(ln((c2.c2 + $LmK) / (c1.c1 + $LmK * v.v))), 4) AS avg_logp
         |FROM bi
         |JOIN c2 USING (w1, w2)
         |JOIN c1 USING (w1)
         |CROSS JOIN v
         |GROUP BY bi.doc_id ORDER BY bi.doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.bigramLmScore(Tables.load(s, dir, "documents"), "doc_id", "text", LmK)
        .orderBy("doc_id")
    }
  )
}

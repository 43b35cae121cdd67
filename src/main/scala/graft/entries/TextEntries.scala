package graft
package entries

import graft.pipeline.{Similarity, TextAnalysis}
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The LLM-pipeline text-analysis entries: tokens, quality filters,
  * language id, PII redaction, decontamination, packing, token-budget
  * sampling and BM25 retrieval. */
object TextEntries {

  /** The fixed query table for `text_bm25_batch` — shared by the entry
    * and its generated oracle. Query 5's term is absent from the corpus
    * by construction (the no-candidates case). */
  private val BatchQueries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "merge",
    2L -> "customer", 2L -> "window", 2L -> "table",
    3L -> "stream", 3L -> "filter",
    4L -> "the", 4L -> "data",
    5L -> "zzz_absent_term")

  /** Shared CTE chain replaying [[pipeline.Sampling.importanceWeights]]
    * (target = the English slice, 256 hash buckets): ends in `iw`
    * (doc_id, t_mass, r_mass, weight) for both the weighting entry and
    * the weighted-resample entry to build on. */
  private val ImportanceCtes =
    """WITH toks AS (
      |  SELECT doc_id, lang, tok FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) WHERE tok != ''),
      |bk AS (
      |  SELECT doc_id, lang,
      |         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 256 AS b
      |  FROM toks),
      |tb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tm FROM bk
      |       WHERE lang = 'en' GROUP BY b),
      |rb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rm FROM bk GROUP BY b),
      |tot AS (
      |  SELECT (SELECT CAST(SUM(tm) AS BIGINT) FROM tb) AS tt,
      |         (SELECT CAST(SUM(rm) AS BIGINT) FROM rb) AS rt),
      |d AS (
      |  SELECT bk.doc_id,
      |         CAST(SUM(COALESCE(tb.tm, 0)) AS BIGINT) AS t_mass,
      |         CAST(SUM(COALESCE(rb.rm, 0)) AS BIGINT) AS r_mass
      |  FROM bk LEFT JOIN tb ON bk.b = tb.b LEFT JOIN rb ON bk.b = rb.b
      |  GROUP BY bk.doc_id),
      |iw AS (
      |  SELECT doc_id, t_mass, r_mass,
      |         (CAST(t_mass AS DOUBLE) + 1.0) / (CAST(r_mass AS DOUBLE) + 1.0)
      |           * (CAST(rt AS DOUBLE) / CAST(tt AS DOUBLE)) AS weight
      |  FROM d CROSS JOIN tot)""".stripMargin

  val all: Seq[Entry] = Seq(

    // ---- LLM-pipeline: text analysis -----------------------------------
    Entry("text_tokens", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE $WsTokensSql END AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("text_ngram_repetition", (s, dir) => {
      // Gopher within-doc repetition gates: duplicate-bigram fraction,
      // top-bigram character dominance, duplicate pseudo-paragraph
      // fraction — catches template spam / generation loops exact dedup
      // can't see. One shuffle-free codegen'd kernel pass per row; a
      // synthetic looped document (-1) is injected on BOTH sides so
      // every gate provably fires
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(s.range(1).select(lit(-1L).as("doc_id"),
          concat(lit("begin "), repeat(lit("spam loop "), 40), lit("end"))
            .as("text")))
      TextAnalysis.repetitionStats(docs, "doc_id", col("text"),
          n = 2, chunkWords = 8)
        .orderBy("doc_id")
    },
      // top gram ties break (cnt DESC, gram ASC) — the kernel's contract;
      // docs with < 2 tokens have zero grams and 0.0 fractions both sides
      // (the token-level sibling gates live under `text_repetition`)
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -1, 'begin ' || repeat('spam loop ', 40) || 'end'),
        |toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |         length(text) AS len FROM d),
        |g AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len(t) >= 2
        |         THEN [array_to_string(t[i:i+1], ' ')
        |               FOR i IN range(1, len(t))]
        |         ELSE [] END AS grams,
        |    [array_to_string(t[8*i+1 : 8*i+8], ' ')
        |     FOR i IN range(0, CAST(ceil(len(t) / 8.0) AS INT))] AS chunks
        |  FROM toks),
        |gc AS (
        |  SELECT doc_id, gram, COUNT(*) AS cnt
        |  FROM g, UNNEST(grams) AS u(gram)
        |  GROUP BY doc_id, gram),
        |r AS (
        |  SELECT doc_id, cnt, length(gram) AS gchars,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY cnt DESC, gram ASC) AS rn
        |  FROM gc),
        |a AS (
        |  -- SUM over BIGINT is HUGEINT in DuckDB (float-ifies in the
        |  -- driver comparer) — pin it back to BIGINT
        |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS total_grams,
        |         COUNT(*) AS distinct_grams
        |  FROM gc GROUP BY doc_id),
        |top AS (SELECT doc_id, cnt AS top_cnt, gchars FROM r WHERE rn = 1)
        |SELECT g.doc_id,
        |  COALESCE(a.total_grams, 0) AS total_grams,
        |  COALESCE(a.distinct_grams, 0) AS distinct_grams,
        |  CASE WHEN a.total_grams > 0
        |       THEN CAST('1' AS DOUBLE) - CAST(a.distinct_grams AS DOUBLE)
        |              / CAST(a.total_grams AS DOUBLE)
        |       ELSE CAST('0' AS DOUBLE) END AS dup_gram_frac,
        |  CASE WHEN g.len > 0 AND top.top_cnt IS NOT NULL
        |       THEN CAST(top.top_cnt * top.gchars AS DOUBLE)
        |              / CAST(g.len AS DOUBLE)
        |       ELSE CAST('0' AS DOUBLE) END AS top_gram_frac,
        |  CASE WHEN len(g.chunks) > 0
        |       THEN CAST('1' AS DOUBLE)
        |              - CAST(len(list_distinct(g.chunks)) AS DOUBLE)
        |              / CAST(len(g.chunks) AS DOUBLE)
        |       ELSE CAST('0' AS DOUBLE) END AS dup_chunk_frac
        |FROM g LEFT JOIN a USING (doc_id) LEFT JOIN top USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    Entry("text_quality", (s, dir) => {
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_token_len"), col("alpha_ratio"), col("punct_ratio"),
          col("quality_score"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id,
        |  CAST($WsTokensSql AS BIGINT) AS n_tokens,
        |  (length(text) - ($WsTokensSql - 1))
        |    / CAST($WsTokensSql AS DOUBLE) AS mean_token_len,
        |  $AlphaRatioSql AS alpha_ratio,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  $QualityScoreSql AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("text_corpus_filter", (s, dir) => {
      // the composed C4-style corpus cleanup in ONE shuffle-free,
      // codegen'd projection pass: language gate + quality gate + token
      // bounds — what a training pipeline runs before dedup
      val q = TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      q.filter(col("lang_pred") === "en" && col("quality_score") >= 0.5 &&
          col("n_tokens").between(20, 1000))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("quality_score"))
        .orderBy("doc_id")
    },
      // composed from the SAME SQL fragments the component oracles use —
      // a formula tweak lands everywhere or nowhere
      s"""WITH q AS (
        |  SELECT doc_id,
        |    CAST($WsTokensSql AS BIGINT) AS n_tokens,
        |    $QualityScoreSql AS quality_score,
        |    $LangPredSql AS lang_pred
        |  FROM documents)
        |SELECT doc_id, n_tokens, quality_score FROM q
        |WHERE lang_pred = 'en' AND quality_score >= 0.5
        |  AND n_tokens BETWEEN 20 AND 1000
        |ORDER BY doc_id""".stripMargin),

    Entry("text_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")).orderBy("doc_id")
    },
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |                          ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("text_langid", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred")).orderBy("doc_id")
    },
      s"""SELECT doc_id, $LangPredSql AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("text_repetition", (s, dir) => {
      // Gopher-style repetition gates, shuffle-free: one codegen'd kernel
      // pass per row computes [total, distinct, top]; the oracle replays
      // the same numbers with the explode→two-groupBy SQL formulation this
      // per-row shape deliberately avoids at corpus scale
      val st = TextAnalysis.tokenStats(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          element_at(st, 1).as("n_tokens"),
          element_at(st, 2).as("distinct_tokens"),
          (element_at(st, 3).cast("double") / element_at(st, 1))
            .as("top_ratio"))
        .orderBy("doc_id")
    },
      """WITH counts AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       COUNT(*) AS distinct_tokens,
        |       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_ratio
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Entry("text_redact_pii", (s, dir) => {
      // PII scrubbing gate: the corpus has no PII, so both sides inject a
      // deterministic email+phone per doc, then redact — the oracle proves
      // pattern-for-pattern replacement parity (Java regex vs RE2)
      val injected = concat(
        substring(col("text"), 1, 40),
        lit(" contact "), col("source"), lit("_"),
        col("doc_id").cast("string"), lit("@mail.example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.redactPii(injected).as("redacted"))
        .orderBy("doc_id")
    },
      """WITH inj AS (
        |  SELECT doc_id,
        |         substring(text, 1, 40) || ' contact ' || source || '_' ||
        |         CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-' ||
        |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM inj ORDER BY doc_id""".stripMargin),

    Entry("text_decontaminate", (s, dir) => {
      // benchmark decontamination: flag training docs sharing a 3-shingle
      // with the held-out slice (doc_id % 97 == 0 plays the eval set). The
      // eval n-gram set is broadcast — the corpus never shuffles for
      // candidates; the hit-count shuffle carries contaminated grams only
      val docs = t(s, dir, "documents")
      graft.pipeline.Decontaminate.overlapHits(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |ev AS (SELECT DISTINCT g FROM sh, UNNEST(sh.s) AS u(g)
        |       WHERE doc_id % 97 = 0)
        |SELECT sh.doc_id, COUNT(DISTINCT g) AS ngram_hits
        |FROM sh, UNNEST(sh.s) AS u(g)
        |WHERE sh.doc_id % 97 != 0 AND g IN (SELECT g FROM ev)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),

    Entry("text_decontaminate_fuzzy", (s, dir) => {
      // FUZZY benchmark decontamination: MinHash-signature agreement
      // between training docs and the held-out slice (doc_id % 97 == 0),
      // the paraphrase-robust companion to text_decontaminate's exact
      // 3-gram gate. Planted leaks (eval docs re-labeled +1000000 into
      // the training side) exercise the matches = k ceiling alongside
      // any natural near-dups; eval bands broadcast, the corpus pays one
      // signature shuffle
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val heldOut = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0).unionByName(
        heldOut.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      graft.pipeline.Dedup.fuzzyDecontaminate(train, heldOut, "doc_id",
          col("text"), shingleN = 3, k = 8, bands = 4, minMatches = 4)
        .orderBy("doc_id")
    },
      """WITH ev AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |ad AS (
        |  SELECT 't' AS side, doc_id, text FROM documents
        |  WHERE doc_id % 97 <> 0
        |  UNION ALL SELECT 't', doc_id + 1000000, text FROM ev
        |  UNION ALL SELECT 'e', doc_id, text FROM ev),
        |toks AS (SELECT side, doc_id, string_split(text, ' ') AS t FROM ad),
        |sh AS (
        |  SELECT side, doc_id,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |ex AS (SELECT side, doc_id, unnest(s) AS g FROM sh),
        |hx AS (
        |  SELECT side, doc_id, i,
        |         MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || g),
        |                             1, 15))::BIGINT) AS m
        |  FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
        |  GROUP BY side, doc_id, i),
        |bk AS (
        |  SELECT side, doc_id, CAST(i // 2 AS INTEGER) AS band,
        |         list(m ORDER BY i) AS key
        |  FROM hx GROUP BY side, doc_id, band),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS did, b.doc_id AS eid
        |  FROM bk a JOIN bk b
        |    ON a.band = b.band AND a.key = b.key
        |   AND a.side = 't' AND b.side = 'e'),
        |ag AS (
        |  SELECT c.did, c.eid,
        |         CAST(SUM(CASE WHEN ha.m = hb.m THEN 1 ELSE 0 END)
        |              AS BIGINT) AS matches
        |  FROM cand c
        |  JOIN hx ha ON ha.side = 't' AND ha.doc_id = c.did
        |  JOIN hx hb ON hb.side = 'e' AND hb.doc_id = c.eid AND hb.i = ha.i
        |  GROUP BY 1, 2),
        |best AS (
        |  SELECT did, eid, matches,
        |         ROW_NUMBER() OVER (PARTITION BY did
        |                            ORDER BY matches DESC, eid) AS rn
        |  FROM ag)
        |SELECT did AS doc_id, eid AS eval_id, matches,
        |       CAST(matches AS DOUBLE) / 8.0 AS est_jaccard
        |FROM best WHERE rn = 1 AND matches >= 4
        |ORDER BY doc_id""".stripMargin),

    Entry("text_top_terms", (s, dir) => {
      // per-doc distinctive terms: TF-IDF ordering realized with INTEGER
      // keys (tf DESC, df ASC, token) — same order as any monotone idf,
      // but exact and engine-replayable (no ln() rounding divergence)
      TextAnalysis.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank")
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
        |       WHERE token != '' GROUP BY 1, 2),
        |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |        ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, dfq.df ASC, tf.token ASC) AS rank
        |      FROM tf JOIN dfq USING (token))
        |SELECT doc_id, token, tf, df, rank FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    Entry("text_classifier", (s, dir) => {
      // model-based quality gate: linear scorer over integer features with
      // dyadic weights — every product/sum exact in doubles, so the logit
      // replays bit-identically in the oracle; threshold splits the corpus
      // near its median
      val score = TextAnalysis.classifierScore(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), score.as("score"), (score >= 5.5).as("keep"))
        .orderBy("doc_id")
    },
      // integer features via the text_repetition counts CTE + per-occurrence
      // stopword hits; weights CAST to DOUBLE (a bare literal is DECIMAL in
      // DuckDB and the product would land in the hasher's decimal divergence)
      """WITH counts AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |st AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist, MAX(c) AS top
        |       FROM counts GROUP BY doc_id),
        |f AS (
        |  SELECT d.doc_id, st.total, st.dist, st.top,
        |    len(list_filter(regexp_split_to_array(lower(trim(d.text)), '\s+'),
        |        x -> x IN ('the','and','of','to','in','is','that','with',
        |                   'for','was'))) AS stop_hits,
        |    length(d.text) AS chars
        |  FROM documents d JOIN st USING (doc_id)),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(total AS BIGINT) * CAST(-0.03125 AS DOUBLE)
        |      + dist * CAST(0.125 AS DOUBLE)
        |      + top * CAST(-0.25 AS DOUBLE)
        |      + stop_hits * CAST(0.5 AS DOUBLE)
        |      + chars * CAST(0.015625 AS DOUBLE) AS score
        |  FROM f)
        |SELECT doc_id, score, score >= 5.5 AS keep
        |FROM scored ORDER BY doc_id""".stripMargin),

    Entry("text_c4_clean", (s, dir) => {
      // rule-based segment cleanup: a blocklisted phrase is injected on
      // every fourth doc (the synthetic corpus carries none) so the
      // blocklist rule actually fires; the short-segment rule prunes each
      // doc's ragged final chunk; terminal-punctuation rule is spec-pinned
      // (no punctuation exists in this corpus). One shuffle-free filter
      // pass, then per-doc reassembly
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 4 === 0,
          concat(col("text"),
            lit(" javascript cookie banner click here accept all terms")))
          .otherwise(col("text")))
      TextAnalysis.ruleClean(docs, "doc_id",
          graft.functions.TextFunctions.word_chunks(col("text"), 8),
          minWords = 4, banned = Seq("javascript", "lorem ipsum", "{"),
          requireTerminal = false, minKeptLines = 2)
        .select(col("id").as("doc_id"), col("clean_text"), col("kept_lines"))
        .orderBy("doc_id")
    },
      // same injected phrase, same 8-word chunking as the entry; word count
      // uses the quality-features whitespace formula, 1-based subscripts
      // only for ordering
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0
        |              THEN text ||
        |                   ' javascript cookie banner click here accept all terms'
        |              ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
        |l AS (
        |  SELECT doc_id,
        |         [array_to_string(t[8*i+1 : 8*i+8], ' ')
        |          FOR i IN range(0, CAST(ceil(len(t) / 8.0) AS INT))] AS lines
        |  FROM toks),
        |e AS (
        |  SELECT doc_id, unnest(lines) AS line,
        |         generate_subscripts(lines, 1) AS pos
        |  FROM l),
        |k AS (
        |  SELECT * FROM e
        |  WHERE len(regexp_split_to_array(trim(line), '\s+')) >= 4
        |    AND NOT contains(lower(line), 'javascript')
        |    AND NOT contains(lower(line), 'lorem ipsum')
        |    AND NOT contains(lower(line), '{'))
        |SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
        |       COUNT(*) AS kept_lines
        |FROM k GROUP BY doc_id HAVING COUNT(*) >= 2
        |ORDER BY doc_id""".stripMargin),

    Entry("text_ngram_novelty", (s, dir) => {
      // integer-exact redundancy ranking: share of each doc's distinct
      // trigrams that exist nowhere else — one explode, one two-phase df
      // aggregation, one merge-hinted join back; the division is the only
      // float op
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id",
          col("text"), n = 3)
        .select(col("id").as("doc_id"), col("n_shingles"),
          col("unique_shingles"), col("novelty"))
        .orderBy("doc_id")
    },
      // same shingle semantics as jaccardOracle; per-shingle row count IS
      // document frequency because shingle sets are distinct per doc
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |sh AS (SELECT doc_id, unnest(s) AS sh FROM sh0),
        |f AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
        |SELECT sh.doc_id, COUNT(*) AS n_shingles,
        |       CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS unique_shingles,
        |       SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END)
        |         / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN f USING (sh)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin),

    Entry("text_line_dedup", (s, dir) => {
      // cross-document boilerplate removal: an 8-word header is injected
      // on every fifth doc (the synthetic corpus carries no real
      // boilerplate) so the removal path is actually exercised — the
      // header lines vanish, near-dup-shared chunks go with them, and the
      // rest reassembles in order; 8-word pseudo-paragraphs stand in for
      // real lines
      val docs = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(lit("standard header boilerplate notice applies here today ok "),
            col("text"))).otherwise(col("text")))
      TextAnalysis.boilerplateLineDedup(docs, "doc_id",
          graft.functions.TextFunctions.word_chunks(col("text"), 8),
          maxDocFreq = 1)
        .orderBy("id")
    },
      // same injected header, same 8-word chunking, 1-based subscripts used
      // only for ordering
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0
        |              THEN 'standard header boilerplate notice applies here today ok '
        |                   || text
        |              ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
        |l AS (
        |  SELECT doc_id,
        |         [array_to_string(t[8*i+1 : 8*i+8], ' ')
        |          FOR i IN range(0, CAST(ceil(len(t) / 8.0) AS INT))] AS lines
        |  FROM toks),
        |e AS (
        |  SELECT doc_id, unnest(lines) AS line,
        |         generate_subscripts(lines, 1) AS pos
        |  FROM l),
        |b AS (SELECT line FROM e GROUP BY line
        |      HAVING COUNT(DISTINCT doc_id) > 1),
        |k AS (SELECT e.* FROM e ANTI JOIN b USING (line))
        |SELECT doc_id AS id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
        |       COUNT(*) AS kept_lines
        |FROM k GROUP BY doc_id ORDER BY id""".stripMargin),

    Entry("pack_sequences", (s, dir) => {
      // deterministic concat-and-chunk packing for training batches:
      // md5-hash order, 8 shards, 512-token budget; a doc belongs to the
      // pack where its first token lands, start_tok gives the loader the
      // exact slice offset. One shuffle (shard), per-shard window sort
      graft.pipeline.Packing.packSequences(t(s, dir, "documents"), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 512, shards = 8)
        .select(col("doc_id"), col("shard"), col("pack_no"), col("start_tok"))
        .orderBy("doc_id")
    },
      s"""WITH base AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE $WsTokensSql END AS BIGINT) AS tok
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, h % 8 AS shard, tok,
        |    CAST(COALESCE(SUM(tok) OVER (
        |      PARTITION BY h % 8 ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM base)
        |SELECT doc_id, shard,
        |       CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS pack_no, start_tok
        |FROM packed ORDER BY doc_id""".stripMargin),

    Entry("pack_shards", (s, dir) => {
      // export-shard manifest: hash-assign every doc to one of 16 shards
      // and reduce each to the integrity line an exporter publishes next
      // to its files — rows, token/byte mass, id range, and an order-
      // independent content checksum (Σ md5-hash mod p: commutative, so
      // the manifest is partitioning-invariant). One partial aggregation;
      // the shuffle carries ≤ partitions×shards rows at any corpus size
      graft.pipeline.Packing.shardManifest(t(s, dir, "documents"), "doc_id",
          TextAnalysis.tokenCount(col("text")), col("n_chars"),
          graft.pipeline.Sampling.md5Hash60(col("text")), shards = 16)
        .orderBy("shard")
    },
      // shard-manifest replay: the same 60-bit md5 shard assignment, each
      // shard reduced to its integrity line; every SUM re-cast to BIGINT
      // (DuckDB widens SUM(BIGINT) to HUGEINT)
      s"""WITH base AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 16 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE $WsTokensSql END AS BIGINT) AS tok,
        |    CAST(n_chars AS BIGINT) AS b,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007 AS chk
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |       CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |       CAST(SUM(b) AS BIGINT) AS n_bytes,
        |       CAST(SUM(chk) AS BIGINT) AS checksum,
        |       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM base GROUP BY shard ORDER BY shard""".stripMargin),

    Entry("sample_token_budget", (s, dir) => {
      // fixed-token-budget corpus slice: systematic selection in md5-hash
      // order until each of 8 shards fills its share of a 16k-token
      // budget (overshoot ≤ one doc tail per shard); integer-exact,
      // nested (a bigger budget only adds docs), one shuffle
      graft.pipeline.Sampling.tokenBudgetSample(t(s, dir, "documents"),
          "doc_id", TextAnalysis.tokenCount(col("text")),
          budget = 16000L, shards = 8)
        .select(col("doc_id"), col("shard"), col("start_tok"), col("n_tok"))
        .orderBy("doc_id")
    },
      // same cumsum replay as pack_sequences; quota = 16000/8 = 2000 per
      // shard (no remainder), kept iff start_tok < quota
      s"""WITH base AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE $WsTokensSql END AS BIGINT) AS n_tok
        |  FROM documents),
        |laid AS (
        |  SELECT doc_id, h % 8 AS shard, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (
        |      PARTITION BY h % 8 ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM base)
        |SELECT doc_id, shard, start_tok, n_tok
        |FROM laid WHERE start_tok < 2000 ORDER BY doc_id""".stripMargin),

    Entry("sample_epochs", (s, dir) => {
      // epoch-aware upsampling: src0 repeated to 60 rows (whole epochs +
      // a hash-truncated partial), src1 cut to 10 — the "small source × N
      // epochs" mixing recipe; unlisted sources drop. Rows duplicate in a
      // narrow post-window explode, never through a shuffle
      graft.pipeline.Sampling.upsampleEpochs(t(s, dir, "documents"),
          "source", "doc_id", Map("src0" -> 60L, "src1" -> 10L))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    },
      // epoch upsample replay: r = integer-ceil(quota/n) whole epochs, the
      // last truncated to the quota − (r−1)·n smallest-hash rows
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |q AS (SELECT source, n,
        |        CASE source WHEN 'src0' THEN 60 WHEN 'src1' THEN 10
        |             ELSE 0 END AS q
        |      FROM c),
        |r AS (SELECT source, n, q, (q + n - 1) // n AS r
        |      FROM q WHERE q > 0),
        |ranked AS (
        |  SELECT d.doc_id, d.source, r.n, r.q, r.r,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
        |                               1, 15))::BIGINT, d.doc_id) AS rn
        |  FROM documents d JOIN r USING (source)),
        |e AS (SELECT doc_id, source, n, q, r, rn,
        |             unnest(range(r)) AS epoch FROM ranked)
        |SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
        |FROM e
        |WHERE epoch < r - 1 OR rn <= q - (r - 1) * n
        |ORDER BY doc_id, epoch""".stripMargin),

    Entry("sample_importance", (s, dir) => {
      // DSIR-style importance weighting: target = the English slice, raw =
      // whole corpus; token mass bucketed into 256 hashed buckets (two
      // 256-row BROADCAST tables — the "model" never scales with the
      // vocabulary), per-doc INTEGER mass sums, one final division;
      // kept = more target-like than the raw average
      val docs = t(s, dir, "documents")
      graft.pipeline.Sampling.importanceWeights(
          docs, "doc_id", col("text"),
          docs.filter(col("lang") === "en"), col("text"), buckets = 256)
        .orderBy("doc_id")
    },
      // DSIR importance weighting: both bucket tables rebuilt in SQL from
      // the same md5-derived hash; HUGEINT sums cast to BIGINT (the r5
      // hasher lesson)
      s"""$ImportanceCtes
        |SELECT doc_id, t_mass, r_mass, weight, weight > 1.0 AS kept
        |FROM iw ORDER BY doc_id""".stripMargin),

    Entry("sample_split", (s, dir) => {
      // deterministic train/val/test assignment: hash-range boundaries,
      // shuffle-free, and stable under corpus growth (a doc's split never
      // changes when other docs arrive — random splits leak on refresh)
      graft.pipeline.Sampling.assignSplits(t(s, dir, "documents"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")).orderBy("doc_id")
    },
      // split boundaries inlined from the SAME left-to-right partial-sum
      // doubles the plan uses
      {
      val b1 = ((0.0 + 0.8) * (1L << 60)).toLong
      val b2 = (((0.0 + 0.8) + 0.1) * (1L << 60)).toLong
      s"""SELECT doc_id,
         |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |            < $b1 THEN 'train'
         |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |            < $b2 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    Entry("sample_weighted", (s, dir) => {
      // DSIR resample: keep-probability min(1, 0.3·weight) decided by
      // the deterministic hash threshold — a shuffle-free filter over
      // the weighting output; rows with higher importance survive at
      // proportionally higher rates, samples nest in both arguments
      val docs = t(s, dir, "documents")
      val weighted = graft.pipeline.Sampling.importanceWeights(
        docs, "doc_id", col("text"),
        docs.filter(col("lang") === "en"), col("text"), buckets = 256)
      graft.pipeline.Sampling.weightedHashSample(
          weighted, "doc_id", col("weight"), fraction = 0.3)
        .select(col("doc_id"), col("weight"))
        .orderBy("doc_id")
    },
      // DSIR resample: the weighted hash-threshold filter over the SAME
      // importance CTEs — both sides compare double(hash) against
      // min(1, f·weight)·2^60 in the identical op order
      s"""$ImportanceCtes
        |SELECT doc_id, weight FROM iw
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           AS DOUBLE)
        |      < least(1.0, CAST('0.3' AS DOUBLE) * weight)
        |        * CAST(1152921504606846976 AS DOUBLE)
        |ORDER BY doc_id""".stripMargin),

    Entry("sample_shuffle", (s, dir) => {
      // deterministic per-epoch corpus shuffle as a PERMUTATION COLUMN:
      // sharded md5-hash order (one shuffle + per-shard window sort),
      // exact global positions via shard-offset cumsum over the 8-row
      // count table
      graft.pipeline.Sampling.shuffleOrder(t(s, dir, "documents"),
          "doc_id", shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"), col("global_pos"))
        .orderBy("doc_id")
    },
      """WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |           AS hv
        |  FROM documents),
        |s AS (SELECT doc_id, hv, hv % 8 AS shard FROM h)
        |SELECT doc_id, shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |              ORDER BY hv, doc_id) AS BIGINT) AS pos,
        |       CAST(ROW_NUMBER() OVER (ORDER BY shard, hv, doc_id) AS BIGINT)
        |         - 1 AS global_pos
        |FROM s ORDER BY doc_id""".stripMargin),

    Entry("text_bm25", (s, dir) => {
      // ranked retrieval: BM25 with the rational (un-logged) RSJ idf —
      // every step an exact-input IEEE op, term sum in fixed query order,
      // so the score hash-replays; candidate shuffle carries only the
      // query terms' postings, corpus stats are one broadcast row
      graft.pipeline.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
          col("text"), terms = Seq("spark", "customer", "window"), topK = 10)
        .orderBy("rank")
    }, graft.pipeline.Retrieval.bm25OracleSql(
      "documents", "doc_id", Seq("spark", "customer", "window"), topK = 10)),

    Entry("text_bm25_prf", (s, dir) => {
      // pseudo-relevance-feedback expansion (the RM3 core): top-5 docs
      // by the original terms donate their 5 most frequent new terms
      // (len >= 3, ties by term), and the union set re-retrieves through
      // the batch scorer's canonical term-sorted fold — the classic
      // recall lever when queries underspecify the corpus vocabulary.
      // Two corpus scans + one feedback-id-filtered mine; the expanded
      // vocabulary rides into round 2 as the TermCounts kernel's
      // plan-time lookup
      graft.pipeline.Retrieval.bm25PrfTopK(t(s, dir, "documents"),
          "doc_id", col("text"), terms = Seq("spark", "customer"),
          fbDocs = 5, fbTerms = 5, topK = 10)
        .orderBy("rank")
    },
      // PRF replay: round 1 = the inline column-chain shape LIMITed to the
      // feedback set, expansion mined from those docs' tokens, round 2 =
      // the batch row-fold shape over originals UNION mined terms
      graft.pipeline.Retrieval.bm25PrfOracleSql(
      "documents", "doc_id", Seq("spark", "customer"),
      fbDocs = 5, fbTerms = 5, topK = 10)),

    Entry("rag_ndcg", (s, dir) => {
      // graded retrieval quality: nDCG@5 with binary relevance (the
      // hard-negatives positive set) — DCG folds literal discounts
      // left-to-right, ideal DCG is a prefix-sum literal, one division
      val docs = t(s, dir, "documents")
      val cands = graft.pipeline.Retrieval.bm25BatchTopKLocal(docs,
        "doc_id", col("text"), BatchQueries, topK = 5)
      val qrels = docs.select(
        (col("doc_id") % 7 + 1).as("query_id"), col("doc_id"))
      graft.pipeline.Retrieval.ndcgAtK(cands, qrels, k = 5)
        .orderBy("query_id")
    },
      // nDCG@5 replay: the SAME Scala-computed discount/prefix-sum doubles
      // as the entry, embedded through VARCHAR casts (correctly-rounded
      // literal path); term sums are exact (one nonzero per rank), the
      // DCG fold and the final division share the entry's association
      {
      val (discs, idcgs) = graft.pipeline.Retrieval.dcgDiscounts(5)
      def dl(d: Double) = s"CAST('${d.toString}' AS DOUBLE)"
      val termSelects = (1 to 5).map { i =>
        s"SUM(CASE WHEN rank = $i AND rel = 1 THEN ${dl(discs(i - 1))} " +
          s"ELSE CAST(0 AS DOUBLE) END) AS t$i"
      }.mkString(",\n         ")
      val idcgCase = (1 to 5).map { j =>
        s"WHEN $j THEN ${dl(idcgs(j - 1))}"
      }.mkString(" ")
      s"""WITH cand AS (
         |  SELECT query_id, doc_id, rank FROM (
         |${graft.pipeline.Retrieval.bm25BatchOracleSql(
             "documents", "doc_id", BatchQueries, topK = 5)})),
         |qr AS (SELECT doc_id % 7 + 1 AS query_id, doc_id FROM documents),
         |marked AS (
         |  SELECT c.query_id, c.rank,
         |         CASE WHEN qr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM cand c LEFT JOIN qr
         |    ON qr.query_id = c.query_id AND qr.doc_id = c.doc_id),
         |terms AS (
         |  SELECT query_id,
         |         $termSelects
         |  FROM marked GROUP BY 1),
         |rc AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS r
         |       FROM qr GROUP BY 1),
         |f AS (
         |  SELECT t.query_id,
         |         (((((CAST(0 AS DOUBLE) + t1) + t2) + t3) + t4) + t5)
         |           AS dcg,
         |         LEAST(COALESCE(rc.r, CAST(0 AS BIGINT)), 5) AS rk
         |  FROM terms t LEFT JOIN rc USING (query_id))
         |SELECT query_id, dcg,
         |       CASE WHEN rk = 0 THEN CAST(0 AS DOUBLE)
         |            ELSE dcg / (CASE rk $idcgCase END) END AS ndcg
         |FROM f ORDER BY query_id""".stripMargin
    }),

    Entry("rag_mrr", (s, dir) => {
      // retrieval-quality gate: reciprocal rank of the first relevant
      // result per query (relevance = the hard-negatives positive set);
      // queries whose candidates hold no positive emit rr = 0.0 with a
      // −1 sentinel rank (nullable ints float-ify in the driver comparer)
      val docs = t(s, dir, "documents")
      val cands = graft.pipeline.Retrieval.bm25BatchTopKLocal(docs,
        "doc_id", col("text"), BatchQueries, topK = 5)
      val qrels = docs.select(
        (col("doc_id") % 7 + 1).as("query_id"), col("doc_id"))
      graft.pipeline.Retrieval.reciprocalRank(cands, qrels, k = 5)
        .select(col("query_id"),
          coalesce(col("first_rel_rank"), lit(-1L)).as("first_rel_rank"),
          col("rr"))
        .orderBy("query_id")
    },
      // first-relevant rank per query from the nested batch oracle; the
      // positive set is the same doc_id % 7 + 1 predicate; rr is one IEEE
      // division, missing-positive queries carry the -1 sentinel
      s"""WITH cand AS (
         |  SELECT query_id, doc_id, rank FROM (
         |${graft.pipeline.Retrieval.bm25BatchOracleSql(
             "documents", "doc_id", BatchQueries, topK = 5)})),
         |rel AS (
         |  SELECT query_id, MIN(rank) AS first_rel_rank FROM cand
         |  WHERE doc_id % 7 + 1 = query_id GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM cand)
         |SELECT qs.query_id,
         |       COALESCE(rel.first_rel_rank, CAST(-1 AS BIGINT))
         |         AS first_rel_rank,
         |       COALESCE(CAST(1 AS DOUBLE) / rel.first_rel_rank,
         |                CAST(0 AS DOUBLE)) AS rr
         |FROM qs LEFT JOIN rel USING (query_id)
         |ORDER BY query_id""".stripMargin),

    Entry("text_bm25_tables", (s, dir) => {
      // lexical retrieval's SERVING shape: the inverted index is three
      // durable parquet tables (postings, doclens, stats) written once
      // at build time — query batches read term-pruned postings and
      // never re-tokenize the corpus; exact integers throughout, so the
      // inline text_bm25 oracle replays this entry unchanged
      val root = prepared(s, s"bm25tables:$dir") {
        val out = scratchDir(s, "bm25_index", dir)
        val (postings, doclens, stats) = graft.pipeline.Retrieval
          .bm25IndexTables(t(s, dir, "documents"), "doc_id", col("text"))
        postings.write.mode("overwrite").parquet(s"$out/postings")
        doclens.write.mode("overwrite").parquet(s"$out/doclens")
        stats.write.mode("overwrite").parquet(s"$out/stats")
        out
      }
      graft.pipeline.Retrieval.bm25TopKFromTables(
          s.read.parquet(s"$root/postings"), s.read.parquet(s"$root/doclens"),
          s.read.parquet(s"$root/stats"), "doc_id",
          terms = Seq("spark", "customer", "window"), topK = 10)
        .orderBy("rank")
    },
      // the stored-index path must land the inline path's exact rows
      graft.pipeline.Retrieval.bm25OracleSql(
      "documents", "doc_id", Seq("spark", "customer", "window"), topK = 10)),

    Entry("rag_hard_negatives", (s, dir) => {
      // contrastive-training negative mining: depth-20 BM25 candidates
      // per query, anti-joined against the known-positive table (every
      // doc is a positive for query doc_id % 7 + 1), re-ranked by
      // retriever order and cut to 5 negatives per query
      import s.implicits._
      val docs = t(s, dir, "documents")
      val queriesDf = BatchQueries.toDF("query_id", "term")
      val positives = docs.select(
        (col("doc_id") % 7 + 1).as("query_id"), col("doc_id"))
      graft.pipeline.Retrieval.hardNegatives(docs, "doc_id", col("text"),
          queriesDf, positives, topK = 5, depth = 20)
        .orderBy("query_id", "neg_rank")
    },
      // depth-20 batch retrieval nested as a derived table; the positive
      // set (query_id = doc_id % 7 + 1) becomes a NOT predicate, negatives
      // re-numbered by retriever rank (unique per query — engine-exact)
      s"""WITH cand AS (
         |  SELECT query_id, doc_id, score, rank FROM (
         |${graft.pipeline.Retrieval.bm25BatchOracleSql(
             "documents", "doc_id", BatchQueries, topK = 20)})),
         |neg AS (
         |  SELECT query_id, doc_id, score,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                                 ORDER BY rank) AS BIGINT)
         |           AS neg_rank
         |  FROM cand WHERE NOT (doc_id % 7 + 1 = query_id))
         |SELECT query_id, doc_id, score, neg_rank FROM neg
         |WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin),

    Entry("rag_rrf_fusion", (s, dir) => {
      // hybrid retrieval: BM25 lexical top-20 + dense cosine top-20
      // (query vector 7), fused by reciprocal rank — only RANKS enter
      // the formula, so the two retrievers' incomparable score scales
      // never meet; the fusion join is candidate-sized (the retrievers
      // already did the corpus-scale work). The lexical side serves
      // from the STORED postings index (shared bm25tables fixture;
      // bm25TopKFromTables ≡ inline bm25TopK is spec-pinned bit-equal),
      // which is how a production hybrid retriever actually runs — no
      // per-query corpus re-tokenization.
      val root = prepared(s, s"bm25tables:$dir") {
        val out = scratchDir(s, "bm25_index", dir)
        val (postings, doclens, stats) = graft.pipeline.Retrieval
          .bm25IndexTables(t(s, dir, "documents"), "doc_id", col("text"))
        postings.write.mode("overwrite").parquet(s"$out/postings")
        doclens.write.mode("overwrite").parquet(s"$out/doclens")
        stats.write.mode("overwrite").parquet(s"$out/stats")
        out
      }
      val lex = graft.pipeline.Retrieval.bm25TopKFromTables(
          s.read.parquet(s"$root/postings"), s.read.parquet(s"$root/doclens"),
          s.read.parquet(s"$root/stats"), "doc_id",
          terms = Seq("spark", "customer", "window"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val den = Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") === 7, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.pipeline.Retrieval.rrfFuse(Seq(lex, den), Seq("doc_id"),
          c = 60, topK = 10)
        .orderBy("rank")
    },
      // RRF: the full bm25 oracle nests as a derived table (lexical
      // ranks), the dense ranks replay Spark's exact cosine expression
      // (cosSql), and each fused term is one IEEE division of exact
      // integers folded lex-then-dense — the entry's association
      s"""WITH lex AS (
         |  SELECT doc_id, rank FROM (
         |${graft.pipeline.Retrieval.bm25OracleSql(
             "documents", "doc_id", Seq("spark", "customer", "window"),
             topK = 20)})),
         |e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sims AS (
         |  SELECT c.vec_id AS doc_id, ${cosSql("q.v", "c.v")} AS sim
         |  FROM e q JOIN e c ON q.vec_id = 7 AND c.vec_id != 7),
         |den AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id,
         |           CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id)
         |                AS BIGINT) AS rank
         |    FROM sims) WHERE rank <= 20),
         |ids AS (SELECT doc_id FROM lex UNION SELECT doc_id FROM den),
         |scored AS (
         |  SELECT ids.doc_id,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + lex.rank), CAST(0 AS DOUBLE))
         |    + COALESCE(CAST(1 AS DOUBLE) / (60 + den.rank), CAST(0 AS DOUBLE))
         |      AS rrf_score
         |  FROM ids LEFT JOIN lex USING (doc_id) LEFT JOIN den USING (doc_id)),
         |ranked AS (
         |  SELECT doc_id, rrf_score,
         |         CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
         |              AS BIGINT) AS rank
         |  FROM scored)
         |SELECT doc_id, rrf_score, rank FROM ranked
         |WHERE rank <= 10 ORDER BY rank""".stripMargin),

    Entry("text_bm25_batch", (s, dir) => {
      // batched retrieval: a 5-query table against the corpus in ONE job
      // (eval-set retrieval / hard-negative mining); per-(query, doc)
      // term partials fold in canonical term order, so even the float
      // sum replays; query 5's term never occurs — the query simply
      // yields no rows
      graft.pipeline.Retrieval.bm25BatchTopKLocal(t(s, dir, "documents"),
          "doc_id", col("text"), BatchQueries, topK = 5)
        .orderBy("query_id", "rank")
    }, graft.pipeline.Retrieval.bm25BatchOracleSql(
      "documents", "doc_id", BatchQueries, topK = 5)),

    Entry("text_bm25_batch_tables", (s, dir) => {
      // mining-scale serving (the r11 verdict's #2): the SAME 5-query
      // batch as text_bm25_batch served from the STORED postings index —
      // the scan touches only the query terms' postings (isin prune;
      // term-partitioned postings prune to files at scale), the corpus
      // text is never re-tokenized, and the canonical-order seqSum fold
      // makes the scores bit-equal to the inline batch (one oracle for
      // both). Shares the durable index build with text_bm25_tables.
      val root = prepared(s, s"bm25tables:$dir") {
        val out = scratchDir(s, "bm25_index", dir)
        val (postings, doclens, stats) = graft.pipeline.Retrieval
          .bm25IndexTables(t(s, dir, "documents"), "doc_id", col("text"))
        postings.write.mode("overwrite").parquet(s"$out/postings")
        doclens.write.mode("overwrite").parquet(s"$out/doclens")
        stats.write.mode("overwrite").parquet(s"$out/stats")
        out
      }
      graft.pipeline.Retrieval.bm25BatchTopKFromTables(
          s.read.parquet(s"$root/postings"), s.read.parquet(s"$root/doclens"),
          s.read.parquet(s"$root/stats"), "doc_id", BatchQueries, topK = 5)
        .orderBy("query_id", "rank")
    },
      // the stored-postings batch path must land the inline batch's exact
      // rows (same canonical-order fold; absent terms contribute +0.0)
      graft.pipeline.Retrieval.bm25BatchOracleSql(
      "documents", "doc_id", BatchQueries, topK = 5)),

    Entry("text_bm25_append", (s, dir) => {
      // incremental index maintenance (the r12 verdict's #1, mirroring
      // the ANN append gates): the corpus splits into a base build and
      // an appended batch — postings/doclens land via parquet
      // mode("append") (old files never rewritten: O(|batch|) at scale,
      // not O(corpus)), the one-row stats folds incrementally — and the
      // appended index must serve the FULL-corpus BM25 oracle
      // bit-for-bit, because per-term dfs derive at query time from the
      // pruned postings, so nothing stored goes stale.
      val root = prepared(s, s"bm25append:$dir") {
        val out = scratchDir(s, "bm25_append_index", dir)
        val docsT = t(s, dir, "documents")
        val (p0, d0, st0) = graft.pipeline.Retrieval.bm25IndexTables(
          docsT.filter(col("doc_id") % 10 =!= 0), "doc_id", col("text"))
        p0.write.mode("overwrite").parquet(s"$out/postings")
        d0.write.mode("overwrite").parquet(s"$out/doclens")
        st0.write.mode("overwrite").parquet(s"$out/stats")
        val (pd, dd, merged) = graft.pipeline.Retrieval.bm25AppendToTables(
          docsT.filter(col("doc_id") % 10 === 0), "doc_id", col("text"),
          s.read.parquet(s"$out/stats"))
        // fold the merged row before the overwrite replaces its own input
        val mergedRows = merged.collect().toSeq
        pd.write.mode("append").parquet(s"$out/postings")
        dd.write.mode("append").parquet(s"$out/doclens")
        s.createDataFrame(s.sparkContext.parallelize(mergedRows),
            merged.schema)
          .write.mode("overwrite").parquet(s"$out/stats")
        out
      }
      graft.pipeline.Retrieval.bm25TopKFromTables(
          s.read.parquet(s"$root/postings"), s.read.parquet(s"$root/doclens"),
          s.read.parquet(s"$root/stats"), "doc_id",
          terms = Seq("spark", "customer", "window"), topK = 10)
        .orderBy("rank")
    },
      // APPENDED index (base build + incremental batch) must land the
      // full-corpus inline oracle's exact rows
      graft.pipeline.Retrieval.bm25OracleSql(
      "documents", "doc_id", Seq("spark", "customer", "window"), topK = 10)),

    Entry("text_bm25_delete", (s, dir) => {
      // the OTHER half of index maintenance: a full-corpus index built
      // once, then every 10th document DELETED incrementally
      // (bm25DeleteFromTables: anti-joined postings/doclens + the
      // one-row stats folded DOWN, realized here as the snapshot
      // rewrite) — the shrunk index must serve the REMAINING-corpus
      // BM25 oracle bit-for-bit, because per-term dfs derive at query
      // time so deleted docs vanish from every term's df with no
      // term-level bookkeeping. Build + delete are fixture (the index
      // lifecycle); the entry times the serving query.
      val root = prepared(s, s"bm25delete:$dir") {
        val out = scratchDir(s, "bm25_delete_index", dir)
        val docsT = t(s, dir, "documents")
        val (p0, d0, st0) = graft.pipeline.Retrieval.bm25IndexTables(
          docsT, "doc_id", col("text"))
        p0.write.mode("overwrite").parquet(s"$out/full_postings")
        d0.write.mode("overwrite").parquet(s"$out/full_doclens")
        st0.write.mode("overwrite").parquet(s"$out/full_stats")
        val (p1, d1, st1) = graft.pipeline.Retrieval.bm25DeleteFromTables(
          docsT.filter(col("doc_id") % 10 === 0).select(col("doc_id")),
          "doc_id",
          s.read.parquet(s"$out/full_postings"),
          s.read.parquet(s"$out/full_doclens"),
          s.read.parquet(s"$out/full_stats"))
        p1.write.mode("overwrite").parquet(s"$out/postings")
        d1.write.mode("overwrite").parquet(s"$out/doclens")
        st1.write.mode("overwrite").parquet(s"$out/stats")
        out
      }
      graft.pipeline.Retrieval.bm25TopKFromTables(
          s.read.parquet(s"$root/postings"), s.read.parquet(s"$root/doclens"),
          s.read.parquet(s"$root/stats"), "doc_id",
          terms = Seq("spark", "customer", "window"), topK = 10)
        .orderBy("rank")
    },
      // DELETED index (full build − every 10th doc) must land the
      // REMAINING-corpus inline oracle's exact rows
      graft.pipeline.Retrieval.bm25OracleSql(
      "(SELECT * FROM documents WHERE doc_id % 10 <> 0)", "doc_id",
      Seq("spark", "customer", "window"), topK = 10)),

    Entry("text_normalize", (s, dir) => {
      // canonical pre-tokenization normalization; the corpus is ASCII and
      // single-spaced, so typographic punctuation and ragged whitespace
      // are injected on BOTH sides — curly-quoted lead token, em-dash,
      // NBSP, a tab run and a curly apostrophe on every third doc
      val injected = concat(
        lit("\u201C"), col("source"), lit("\u201D\u2014\u00A0"), col("text"),
        when(col("doc_id") % 3 === 0, lit("  \tEnd\u2019s "))
          .otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.normalizeText(injected).as("norm_text"))
        .orderBy("doc_id")
    },
      // same typographic injection as the entry (chr codes: 8220/8221 curly
      // double quotes, 8216/8217 curly singles, 8211/8212 dashes, 160 NBSP,
      // 9 tab); regexp_replace needs the 'g' flag — DuckDB defaults to
      // first-match-only where Java replaces all
      """WITH inj AS (
        |  SELECT doc_id,
        |         chr(8220) || source || chr(8221) || chr(8212) || chr(160)
        |           || text ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN '  ' || chr(9) || 'End' || chr(8217) || 's '
        |              ELSE '' END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |       lower(trim(regexp_replace(
        |         translate(raw,
        |           chr(8220)||chr(8221)||chr(8216)||chr(8217)
        |             ||chr(8211)||chr(8212)||chr(160),
        |           '""''''-- '),
        |         '[ \t\n\r]+', ' ', 'g'))) AS norm_text
        |FROM inj ORDER BY doc_id""".stripMargin)
  )
}

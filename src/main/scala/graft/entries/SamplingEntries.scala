package graft
package entries

import graft.pipeline.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import EntryHelpers._

/** The LLM-pipeline sampling and corpus-statistics entries: sampling and
  * mixing, quantiles, rollups, sketches (KMV, HLL, CMS), BPE, drift and
  * layout. */
object SamplingEntries {

  /** Full k-medians replay: `iters` chained (assign → exact component
    * medians → COALESCE empty cells) rounds, then the final assignment.
    * Mirrors [[graft.pipeline.Clustering.kmediansAssign]] CTE-for-stage;
    * the median recipe is the same compressed cum-count quantile as the
    * stat_quantiles oracle. */
  private def kmediansOracle(k: Int, iters: Int): String =
    kmediansCtes(k, iters) +
      s"""sf AS (SELECT e.vec_id, c$iters.cid,
         |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${cosSql("e.v", s"c$iters.cv")} DESC, c$iters.cid) AS rn
         |  FROM e CROSS JOIN c$iters)
         |SELECT vec_id, cid AS cluster FROM sf WHERE rn = 1
         |ORDER BY vec_id""".stripMargin

  /** KMV cardinality sketch replayed from the whole corpus — shared by the
    * direct entry and the persisted-merge entry (whose result is identical
    * by the sketch-union identity). */
  private val kmvOracle =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT DISTINCT source,
      |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      |  FROM tok WHERE tok != ''),
      |r AS (
      |  SELECT source, h,
      |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM h),
      |s AS (
      |  SELECT source, COUNT(*) AS sketch_size, MAX(h) AS h_k
      |  FROM r WHERE rn <= 64 GROUP BY source)
      |SELECT source, sketch_size, h_k,
      |       CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
      |            ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
      |                   / CAST(h_k AS DOUBLE) END AS est_distinct
      |FROM s ORDER BY source""".stripMargin

  /** Merge rounds for the BPE entries — small enough that the DuckDB
    * replay (nMerges materialized CTE levels) stays cheap at the gate's
    * scale, large enough that multi-character tokens emerge. */
  private val BpeMerges = 12

  /** BPE learning memoized per (session, sfDir): setup for
    * `text_bpe_vocab` (the vocabulary derivation is the measured op
    * there; `text_bpe_learn` itself always trains live). */
  private def bpeModel(s: SparkSession, dir: String)
      : (Seq[graft.pipeline.Bpe.Merge], DataFrame) =
    prepared(s, s"bpe:$dir") {
      graft.pipeline.Bpe.learn(t(s, dir, "documents"), col("text"), BpeMerges)
    }

  /** The shared WITH-chain replaying [[pipeline.Bpe.learn]] in DuckDB:
    * wf0 = the word-frequency base with space-wrapped char symbols
    * (content '<' escaped to chr(57344)=U+E000 exactly as
    * [[pipeline.Bpe.escapeContent]] does, so a content token can never
    * equal the end-of-word marker); then per round i: p_i = weighted
    * adjacent-pair counts, b_i = the best pair (total DESC, pair ASC),
    * wf_i = the merge applied via the same TWO nested left-to-right
    * `replace` passes (pass 2 catches occurrences whose leading space the
    * previous match consumed — two passes are a guaranteed fixpoint, see
    * Bpe scaladoc). Every level is MATERIALIZED — each wf is referenced
    * twice (p_{i+1} and wf_{i+1}), so plain CTE inlining would duplicate
    * the chain 2^n times. */
  private def bpeChainSql(n: Int): String = {
    val sb = new StringBuilder(
      """WITH wf0 AS MATERIALIZED (
        |  SELECT w, COUNT(*) AS cnt,
        |         ' ' || regexp_replace(replace(w, '<', chr(57344)),
        |                               '(.)', '\1 ', 'g') || '</w> ' AS sym
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '),
        |                                  x -> x != '')) AS w
        |        FROM documents)
        |  GROUP BY w)""".stripMargin)
    for (i <- 1 to n) sb ++= s""",
       |p$i AS MATERIALIZED (
       |  SELECT pr, CAST(SUM(cnt) AS BIGINT) AS total FROM (
       |    SELECT cnt, unnest([t[j] || ' ' || t[j+1]
       |                        FOR j IN range(1, len(t))]) AS pr
       |    FROM (SELECT cnt, list_filter(string_split(sym, ' '),
       |                                  x -> x != '') AS t
       |          FROM wf${i - 1}))
       |  GROUP BY pr),
       |b$i AS MATERIALIZED (
       |  SELECT pr, total FROM p$i ORDER BY total DESC, pr LIMIT 1),
       |wf$i AS MATERIALIZED (
       |  SELECT w, cnt,
       |         CASE WHEN pr IS NULL THEN sym
       |              ELSE replace(replace(sym, ' ' || pr || ' ',
       |                             ' ' || replace(pr, ' ', '') || ' '),
       |                           ' ' || pr || ' ',
       |                           ' ' || replace(pr, ' ', '') || ' ')
       |         END AS sym
       |  FROM wf${i - 1} LEFT JOIN b$i ON TRUE)""".stripMargin
    sb.toString
  }

  val all: Seq[Entry] = Seq(

    // ---- LLM-pipeline: sampling & corpus statistics ---------------------
    Entry("sample_hash", (s, dir) => {
      // shuffle-free deterministic sample: a pure filter on the md5-derived
      // key hash — the 100 TB sampling path (no RNG, no state, no shuffle)
      graft.pipeline.Sampling.hashSample(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    },
      // deterministic md5-keyed sampling — the threshold literal is
      // Sampling.hashThreshold(0.25) inlined
      s"""SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      < ${pipeline.Sampling.hashThreshold(0.25)}
        |ORDER BY doc_id""".stripMargin),

    Entry("sample_stratified", (s, dir) => {
      // exact per-language quota: ceil(0.2 · n) rows per stratum in
      // deterministic hash order (one shuffle on the stratum key)
      graft.pipeline.Sampling.stratifiedExact(
          t(s, dir, "documents"), "lang", "doc_id", 0.2)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    },
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                    doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM ranked
        |WHERE rn <= ceil(n * 0.2) ORDER BY doc_id""".stripMargin),

    Entry("sample_mix", (s, dir) => {
      // domain mixing: re-weight sources to a target composition — exact
      // ceil(fᵢ·n) per source, deterministic hash order, one shuffle;
      // unlisted sources keep the default fraction
      graft.pipeline.Sampling.mixExact(t(s, dir, "documents"),
          "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 1.0), default = 0.1)
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    },
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                    doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source FROM ranked
        |WHERE rn <= ceil(n * CASE source WHEN 'src0' THEN 0.5
        |                                 WHEN 'src1' THEN 0.25
        |                                 WHEN 'src2' THEN 1.0
        |                                 ELSE 0.1 END)
        |ORDER BY doc_id""".stripMargin),

    Entry("sample_temperature", (s, dir) => {
      // temperature-flattened mixing (τ = ½): per-source quota =
      // min(n_s, ceil(sqrt(n_min·n_s))) — geometric-mean cut toward the
      // smallest source, no upsampling; every arithmetic step a single
      // correctly-rounded IEEE op, rows chosen in md5-hash order
      // the corpus sources are uniform, so inject a skewed stratum (10%
      // 'rare' vs 90% 'common') on BOTH sides — the cut is actually
      // exercised: rare keeps all n_min, common keeps ceil(sqrt(n_min·n))
      graft.pipeline.Sampling.temperatureHalf(
          t(s, dir, "documents").withColumn("stratum",
            when(col("doc_id") % 10 === 0, "rare").otherwise("common")),
          "stratum", "doc_id")
        .select(col("doc_id"), col("stratum")).orderBy("doc_id")
    },
      // τ=½ temperature mix replayed: same integer product, one double
      // cast, sqrt, ceil — all correctly-rounded single ops
      """WITH s AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN 'rare' ELSE 'common' END
        |           AS stratum
        |  FROM documents),
        |n AS (SELECT stratum, COUNT(*) AS n FROM s GROUP BY stratum),
        |q AS (
        |  SELECT stratum,
        |         LEAST(n, CAST(ceil(sqrt(CAST((SELECT MIN(n) FROM n) * n
        |                                      AS DOUBLE))) AS BIGINT)) AS quota
        |  FROM n),
        |r AS (
        |  SELECT s.doc_id, s.stratum,
        |         row_number() OVER (
        |           PARTITION BY s.stratum
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                    doc_id) AS rn
        |  FROM s)
        |SELECT r.doc_id, r.stratum FROM r JOIN q USING (stratum)
        |WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    Entry("stat_vocab_coverage", (s, dir) => {
      // tokenizer sizing: smallest count-threshold vocabulary covering
      // ≥95% of token mass; the cutoff search windows the COMPRESSED
      // (count value, types, mass) table (groupQuantiles' trick), and the
      // share test is integer-exact (100·cum ≥ 95·total, no division)
      graft.pipeline.Stats.vocabCoverage(
        t(s, dir, "documents"), col("text"), sharePct = 95)
    },
      // count-threshold vocabulary coverage over the compressed
      // (count value, types, mass) table; RANGE≡ROWS here because the
      // grouped count values are unique
      """WITH uc AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w != '' GROUP BY w),
        |bv AS (SELECT c, COUNT(*) AS types, SUM(c) AS mass FROM uc GROUP BY c),
        |cum AS (
        |  SELECT c,
        |         SUM(types) OVER (ORDER BY c DESC) AS cum_types,
        |         SUM(mass) OVER (ORDER BY c DESC) AS cum_mass
        |  FROM bv),
        |tot AS (SELECT SUM(mass) AS total FROM bv)
        |SELECT c AS cutoff_count, CAST(cum_types AS BIGINT) AS vocab_size,
        |       CAST(cum_mass AS BIGINT) AS covered_tokens,
        |       CAST(total AS BIGINT) AS total_tokens
        |FROM cum CROSS JOIN tot
        |WHERE cum_mass * 100 >= total * 95
        |ORDER BY c DESC LIMIT 1""".stripMargin),

    Entry("embed_kmedians", (s, dir) => {
      // deterministic Lloyd-style clustering: shuffle-free literal-centroid
      // assignment + exact component-wise MEDIAN update (order-independent
      // selection — a distributed double mean would depend on summation
      // order and could never hash-match an external replay)
      graft.pipeline.Clustering.kmediansAssign(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 2)
        .select(col("id").as("vec_id"), col("cluster")).orderBy("vec_id")
    }, kmediansOracle(8, 2)),

    Entry("stat_quantiles", (s, dir) => {
      // exact per-language token-count quantiles via distinct-value
      // compression (never sorts raw rows inside a stratum)
      graft.pipeline.Stats.groupQuantiles(t(s, dir, "documents"), "lang",
          TextAnalysis.tokenCount(col("text")).cast("long"),
          Seq(0.5, 0.9, 0.99))
        .select(col("lang"), col("p"), col("q"))
        .orderBy("lang", "p")
    },
      s"""WITH counts AS (
        |  SELECT lang,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                   ELSE $WsTokensSql END AS BIGINT) AS v,
        |         COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |         SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         SUM(c) OVER (PARTITION BY lang) AS n
        |  FROM counts)
        |SELECT lang, p, MIN(v) AS q
        |FROM cum CROSS JOIN
        |  (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p) ps
        |WHERE cum >= greatest(1, ceil(n * p))
        |GROUP BY lang, p ORDER BY lang, p""".stripMargin),

    Entry("stat_winsorize", (s, dir) => {
      // quantile clipping (winsorization): per-lang token counts clamped
      // into [q05, q95] of their own language — the outlier-clamp step
      // before a length feature feeds a model. Exact discrete quantiles
      // (groupQuantiles), group-sized broadcast bounds, shuffle-free
      // clamp projection; integers end-to-end
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("raw_tokens"))
      graft.pipeline.Stats.winsorize(docs, "lang", col("raw_tokens"),
          pLo = 0.05, pHi = 0.95)
        .select(col("doc_id"), col("lang"), col("raw_tokens"),
          col("winsorized"))
        .orderBy("doc_id")
    },
      s"""WITH base AS (
        |  SELECT doc_id, lang,
        |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                   ELSE $WsTokensSql END AS BIGINT) AS raw_tokens
        |  FROM documents),
        |counts AS (
        |  SELECT lang, raw_tokens AS v, COUNT(*) AS c FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT lang, v,
        |         SUM(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |         SUM(c) OVER (PARTITION BY lang) AS n
        |  FROM counts),
        |qs AS (
        |  SELECT lang, p, MIN(v) AS q
        |  FROM cum CROSS JOIN
        |    (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS p) ps
        |  WHERE cum >= greatest(1, ceil(n * p))
        |  GROUP BY 1, 2),
        |lo AS (SELECT lang AS glo, q AS qlo FROM qs WHERE p = 0.05::DOUBLE),
        |hi AS (SELECT lang AS ghi, q AS qhi FROM qs WHERE p = 0.95::DOUBLE)
        |SELECT b.doc_id, b.lang, b.raw_tokens,
        |       CASE WHEN b.raw_tokens IS NULL THEN NULL
        |            ELSE LEAST(GREATEST(b.raw_tokens, qlo), qhi)
        |       END AS winsorized
        |FROM base b
        |LEFT JOIN lo ON b.lang IS NOT DISTINCT FROM lo.glo
        |LEFT JOIN hi ON b.lang IS NOT DISTINCT FROM hi.ghi
        |ORDER BY doc_id""".stripMargin),

    Entry("src_bucketed_join", (s, dir) => {
      // co-located bucketed join ON the oracle board: both sides written
      // bucketBy(16) on the join key once (memoized setup — the 100 TB
      // bargain: one bucketed write buys every later join/agg on that
      // key), then orders⋈customer + the per-customer aggregate plan
      // ZERO Exchange (asserted below); bucketing must not change a
      // single value, so the oracle replays the plain join on raw tables
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      prepared(s, s"bucketed:$dir") {
        // clear BOTH layers: the in-memory catalog dies with the JVM but
        // the warehouse directory survives — a stale location blocks
        // saveAsTable even in Overwrite mode (BucketedStoreSpec's lesson)
        for (name <- Seq(s"b_orders$tag", s"b_customer$tag")) {
          s.sql(s"DROP TABLE IF EXISTS $name")
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir"), name)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        graft.sources.BucketedStore.write(
          t(s, dir, "orders"), s"b_orders$tag", "o_custkey", 16)
        graft.sources.BucketedStore.write(
          t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment")), s"b_customer$tag", "o_custkey", 16)
      }
      // group by the RAW bucket-key attribute: an aliased grouping
      // expression defeats the planner's partitioning-subset check and
      // reintroduces the exchange the layout paid to remove
      val agg = graft.sources.BucketedStore
        .colocatedJoin(s, s"b_orders$tag", s"b_customer$tag", "o_custkey")
        .groupBy("o_custkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          decAsDouble(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2))).as("total"))
      // ban SHUFFLE exchanges only (ShuffleExchangeExec renders as bare
      // "Exchange …"): at gate scale the planner rightly broadcasts the
      // small dim side — a BroadcastExchange moves no fact rows and the
      // aggregate still reuses the bucketed partitioning; at corpus scale
      // the same layout serves the zero-shuffle sort-merge join. The
      // letter lookbehind also clears ReusedExchange, whose inner
      // "Exchange" a Broadcast-only lookbehind would flag (review)
      require("(?<![A-Za-z])Exchange".r
          .findFirstIn(agg.queryExecution.executedPlan.toString).isEmpty,
        "bucketed join + bucket-key aggregate must plan zero shuffle Exchange")
      agg.select(col("o_custkey").as("custkey"),
          col("c_mktsegment").as("mktsegment"),
          col("n_orders"), col("total"))
        .orderBy("custkey")
    },
      """SELECT o_custkey AS custkey, c_mktsegment AS mktsegment,
        |       COUNT(*) AS n_orders,
        |       CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY custkey""".stripMargin),

    Entry("stat_rollup", (s, dir) => {
      // hierarchical corpus report in ONE pass: per (lang, source), per
      // lang, and grand total via ROLLUP — integer aggregates only, so
      // every level replays exactly; Spark plans this as a single
      // expand+aggregate, not three scans
      t(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
    },
      s"""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |                     ELSE $WsTokensSql END AS BIGINT)) AS BIGINT) AS tokens,
        |  MAX(n_chars) AS max_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin),

    Entry("stat_cube", (s, dir) => {
      // full CUBE over (lang, source): all four grouping levels in ONE
      // expand+aggregate pass (never four scans), levels disambiguated by
      // the SQL-standard grouping_id bitmask (lang as MSB on both
      // engines) so rolled-up NULLs can't conflate with data NULLs
      t(s, dir, "documents")
        .cube(col("lang"), col("source"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("docs"),
          max(col("n_chars")).cast("long").as("max_chars"))
        .orderBy(col("lang").asc_nulls_first,
          col("source").asc_nulls_first, col("gid"))
    },
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST, gid""".stripMargin),

    Entry("stat_grouping_sets", (s, dir) => {
      // GROUPING SETS — the asymmetric general form cube/rollup can't
      // express: exactly ((lang, source), (source), ()) in ONE
      // expand+aggregate pass (the UNION-ALL formulation is three full
      // corpus scans at 100 TB); grouping_id disambiguates rolled-up
      // NULLs from data NULLs, as in stat_cube
      t(s, dir, "documents")
        .groupingSets(
          Seq(Seq(col("lang"), col("source")), Seq(col("source")), Seq()),
          col("lang"), col("source"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy(col("lang").asc_nulls_first,
          col("source").asc_nulls_first, col("gid"))
    },
      """SELECT lang, source,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY GROUPING SETS ((lang, source), (source), ())
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST, gid""".stripMargin),

    Entry("stat_unpivot", (s, dir) => {
      // wide-to-long reshaping: the per-source metric report unpivoted to
      // (source, metric, value) rows — a narrow in-partition expand after
      // one aggregate, no extra shuffle
      val perSource = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
      perSource.unpivot(
          Array(col("source")),
          Array(col("chars"), col("docs"), col("max_chars")),
          "metric", "value")
        .orderBy("source", "metric")
    },
      """WITH a AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS chars,
        |         CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |  FROM documents GROUP BY source)
        |SELECT source, 'chars' AS metric, chars AS value FROM a
        |UNION ALL SELECT source, 'docs', docs FROM a
        |UNION ALL SELECT source, 'max_chars', max_chars FROM a
        |ORDER BY source, metric""".stripMargin),

    Entry("stat_heavy_hitters", (s, dir) => {
      // exact top-25 tokens: two-phase count absorbs token skew map-side,
      // TakeOrdered picks the head without a global sort
      graft.pipeline.Stats.topTokens(t(s, dir, "documents"), "text", 25)
        .orderBy(col("cnt").desc, col("token"))
    },
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE token != ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 25""".stripMargin),

    Entry("corpus_diff", (s, dir) => {
      // snapshot delta after a simulated refresh: docs ≡3 (mod 10)
      // dropped, ≡7 rewritten, a shifted-id block of new docs appended;
      // only the delta leaves the join (rows collapse to id+hash first)
      val old = t(s, dir, "documents")
      val cur = old.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 10 === 7, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(old.filter(col("doc_id") % 10 === 4)
          .withColumn("doc_id", col("doc_id") + 1000000))
        .select(old.columns.map(col): _*)
      graft.pipeline.Snapshot.diff(old, cur, "doc_id", "text").orderBy("id")
    },
      """WITH cur AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 7 THEN text || ' v2' ELSE text END
        |           AS text
        |  FROM documents WHERE doc_id % 10 != 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 4)
        |SELECT COALESCE(o.doc_id, c.doc_id) AS id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN c.doc_id IS NULL THEN 'removed'
        |            WHEN o.text != c.text THEN 'changed' END AS change
        |FROM documents o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id
        |WHERE o.doc_id IS NULL OR c.doc_id IS NULL OR o.text != c.text
        |ORDER BY id""".stripMargin),

    Entry("stat_corpus_overlap", (s, dir) => {
      // pairwise source containment/jaccard from exact distinct-shingle
      // counts — "is crawl B already covered by A" before paying for a
      // cross-corpus dedup; divisions are single IEEE ops (engine-exact)
      graft.pipeline.Stats.corpusOverlap(
          t(s, dir, "documents"), "source", "text", n = 3)
        .orderBy("src_a", "src_b")
    },
      // same shingle semantics as jaccardOracle, collapsed to distinct
      // (source, shingle) rows
      """WITH toks AS (
        |  SELECT source, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (
        |  SELECT source,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |sh AS (SELECT DISTINCT source, unnest(s) AS sh FROM sh0),
        |tot AS (SELECT source, COUNT(*) AS total FROM sh GROUP BY source),
        |i AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, inter, ta.total AS total_a, tb.total AS total_b,
        |       inter / CAST(ta.total AS DOUBLE) AS containment_a,
        |       inter / CAST(ta.total + tb.total - inter AS DOUBLE) AS jaccard
        |FROM i JOIN tot ta ON ta.source = i.src_a
        |       JOIN tot tb ON tb.source = i.src_b
        |ORDER BY src_a, src_b""".stripMargin),

    Entry("stat_source_drift", (s, dir) => {
      // per-source composition drift vs the rest of the corpus: exact
      // total-variation distance of token distributions via an
      // integer-scaled numerator (order-independent sum); the final
      // division is the only float op
      graft.pipeline.Stats.tokenDrift(t(s, dir, "documents"), "source",
          col("text"))
        .select(col("g").as("source"), col("n_tokens"), col("drift_num"),
          col("tvd"))
        .orderBy("source")
    },
      // integer-scaled TVD: the numerator is a sum of |c_g·N_rest − c_r·N_g|
      // over tokens present in the group plus the folded absent-token term
      // N_g·(N_rest − Σ c_r) — same algebra, same single division
      """WITH tok AS (
        |  SELECT source AS g, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |cs AS (SELECT g, t, COUNT(*) AS c FROM tok WHERE t != ''
        |       GROUP BY g, t),
        |tot AS (SELECT t, SUM(c) AS ct FROM cs GROUP BY t),
        |ns AS (SELECT g, SUM(c) AS n FROM cs GROUP BY g),
        |nall AS (SELECT SUM(n) AS na FROM ns),
        |j AS (
        |  SELECT cs.g, ns.n, nall.na - ns.n AS nrest,
        |         ABS(cs.c * (nall.na - ns.n) - (tot.ct - cs.c) * ns.n) AS term,
        |         tot.ct - cs.c AS r
        |  FROM cs JOIN tot USING (t) JOIN ns USING (g) CROSS JOIN nall),
        |a AS (SELECT g, n, nrest, SUM(term) AS insum, SUM(r) AS rs
        |      FROM j GROUP BY g, n, nrest)
        |SELECT g AS source, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(insum + n * (nrest - rs) AS BIGINT) AS drift_num,
        |       CAST(insum + n * (nrest - rs) AS DOUBLE)
        |         / CAST(2 * n * nrest AS DOUBLE) AS tvd
        |FROM a ORDER BY source""".stripMargin),

    Entry("pipeline_train_prep", (s, dir) => {
      // THE capstone composition: the full training-prep pipeline as ONE
      // Spark DAG — C4-style gates → exact dedup → domain mix → sequence
      // packing — every stage the same library operator its own entry
      // gates, fused by Catalyst into one job (one scan feeds the gate;
      // dedup/mix/pack each add exactly one shuffle)
      val q = TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      val gated = q.filter(col("lang_pred") === "en" &&
          col("quality_score") >= 0.5 && col("n_tokens").between(20, 1000))
        .select(col("doc_id"), col("source"), col("text"), col("n_tokens"))
      // windowed first-occurrence dedup (not survivors + join-back: the
      // survivor list is corpus-sized at scale, so the semi join would
      // re-shuffle both sides; the window pays its one content-hash
      // shuffle and keeps every column)
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
      val ded = gated
        .withColumn("__rn", row_number().over(byHash))
        .filter(col("__rn") === 1).drop("__rn")
      val mixed = graft.pipeline.Sampling.mixExact(ded, "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.5), default = 0.25)
      graft.pipeline.Packing.packSequences(mixed, "doc_id",
          col("n_tokens"), budget = 512, shards = 4)
        .select(col("doc_id"), col("source"), col("shard"), col("pack_no"),
          col("start_tok"))
        .orderBy("doc_id")
    },
      // the whole training-prep pipeline replayed CTE-for-stage from the
      // SAME fragments the component oracles pin: gates (WsTokens/Quality/
      // LangPred) → min-id per text → per-source ceil(f·n) in hash order →
      // shard/cumsum packing
      s"""WITH q AS (
        |  SELECT doc_id, source, text,
        |    CAST($WsTokensSql AS BIGINT) AS n_tokens,
        |    $QualityScoreSql AS qs,
        |    $LangPredSql AS lp
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, source, text, n_tokens FROM q
        |  WHERE lp = 'en' AND qs >= 0.5 AND n_tokens BETWEEN 20 AND 1000),
        |sur AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text),
        |ded AS (SELECT g.* FROM gated g JOIN sur USING (doc_id)),
        |mixn AS (SELECT source, COUNT(*) AS n FROM ded GROUP BY source),
        |r AS (
        |  SELECT d.*, mixn.n,
        |         row_number() OVER (
        |           PARTITION BY d.source
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                    doc_id) AS rn
        |  FROM ded d JOIN mixn USING (source)),
        |mixed AS (
        |  SELECT doc_id, source, n_tokens FROM r
        |  WHERE rn <= ceil(n * CASE source WHEN 'src0' THEN 1.0
        |                                   WHEN 'src1' THEN 0.5
        |                                   ELSE 0.25 END)),
        |base AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
        |    n_tokens AS tok
        |  FROM mixed),
        |packed AS (
        |  SELECT doc_id, source, h % 4 AS shard,
        |    CAST(COALESCE(SUM(tok) OVER (
        |      PARTITION BY h % 4 ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM base)
        |SELECT doc_id, source, shard,
        |       CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS pack_no, start_tok
        |FROM packed ORDER BY doc_id""".stripMargin),

    Entry("text_html_strip", (s, dir) => {
      // markup extraction: wrap each doc in a deterministic HTML page
      // (script + style + entities, injected on BOTH sides) and strip it
      // back to text — one codegen'd projection, no UDF/parser per row
      val page = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 &amp;&amp; 2;" +
          "</script><style>p { color: red; }</style></head><body><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
        lit("</p><div class=\"f\">&amp; footer &lt;end&gt;</div></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.stripMarkup(page).as("clean_text"))
        .orderBy("doc_id")
    },
      // same injected page, same strip pipeline in RE2 (patterns chosen from
      // the Java∩RE2 subset; DuckDB regexp_replace needs the explicit 'g')
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 &amp;&amp; 2;'
        |    || '</script><style>p { color: red; }</style></head><body><h1>Doc '
        |    || doc_id || '</h1><p>' || text
        |    || '</p><div class="f">&amp; footer &lt;end&gt;</div></body></html>'
        |      AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(html, '(?si)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?si)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]+>', ' ', 'g'),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&'),
        |  '[ \t\n\r\f\x0B]+', ' ', 'g')) AS clean_text
        |FROM page ORDER BY doc_id""".stripMargin),

    Entry("url_domain_cap", (s, dir) => {
      // per-domain frequency cap: documents carry no URL column, so inject
      // deterministic URLs (23 synthetic hosts) on BOTH sides; host =
      // split algebra (engine-portable), survivors = 10 per host in
      // md5-hash order — one shuffle, window-local sort
      val docs = t(s, dir, "documents").withColumn("url",
        concat(lit("https://Site"), (col("doc_id") % 23).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")))
      graft.pipeline.Urls.domainCap(docs, col("url"), col("doc_id"), cap = 10)
        .select(col("doc_id"), col("host")).orderBy("doc_id")
    },
      // same synthetic URLs, same split-algebra host (lowercased), same
      // md5-hash-ordered cap at 10 per host
      """WITH u AS (
        |  SELECT doc_id,
        |         'https://Site' || (doc_id % 23) || '.example.com/p/' || doc_id
        |           AS url
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         lower(split_part(split_part(url, '//', 2), '/', 1)) AS host
        |  FROM u),
        |r AS (
        |  SELECT doc_id, host,
        |         row_number() OVER (
        |           PARTITION BY host
        |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                    doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, host FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin),

    Entry("url_normalize", (s, dir) => {
      // canonical URL form before url-keyed dedup: fragments stripped,
      // utm_*/fbclid/gclid tracking params dropped (other params kept in
      // order), scheme+host lowercased, empty '?' removed — a pure
      // per-row projection (zero shuffles); deterministic URLs injected
      // on BOTH sides exercise every rule
      val u = concat(
        lit("https://Site"), (col("doc_id") % 23).cast("string"),
        lit(".Example.com/P/"), col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0,
          concat(lit("?keep="), col("doc_id").cast("string"),
            lit("&utm_medium=email&gclid=zz")))
          .when(col("doc_id") % 2 === 0, lit("?utm_source=feed&fbclid=abc"))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("#section")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), u.as("url"),
          graft.pipeline.Urls.normalizeUrl(u).as("url_norm"))
        .orderBy("doc_id")
    },
      // same split algebra + RE2-safe tracking-param regex; DuckDB's
      // regexp_replace needs the explicit 'g' flag (Spark's is global)
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://Site' || (doc_id % 23) || '.Example.com/P/' || doc_id ||
        |    CASE WHEN doc_id % 4 = 0
        |           THEN '?keep=' || doc_id || '&utm_medium=email&gclid=zz'
        |         WHEN doc_id % 2 = 0 THEN '?utm_source=feed&fbclid=abc'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN '#section' ELSE '' END AS url
        |  FROM documents),
        |pq AS (
        |  SELECT doc_id, url,
        |    split_part(split_part(url, '#', 1), '?', 1) AS base,
        |    CASE WHEN strpos(split_part(url, '#', 1), '?') > 0
        |         THEN substr(split_part(url, '#', 1),
        |                     strpos(split_part(url, '#', 1), '?') + 1)
        |         ELSE '' END AS q
        |  FROM u),
        |cl AS (
        |  SELECT doc_id, url, base,
        |    regexp_replace(
        |      regexp_replace(q,
        |        '(^|&)(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '', 'g'),
        |      '^&', '') AS cq
        |  FROM pq),
        |nb AS (
        |  SELECT doc_id, url, cq,
        |    CASE WHEN strpos(base, '//') > 0 THEN
        |      lower(substr(base, 1, strpos(base, '//') + 1) ||
        |            split_part(substr(base, strpos(base, '//') + 2), '/', 1))
        |      || substr(substr(base, strpos(base, '//') + 2),
        |           length(split_part(substr(base, strpos(base, '//') + 2),
        |                             '/', 1)) + 1)
        |    ELSE base END AS normbase
        |  FROM cl)
        |SELECT doc_id, url,
        |       CASE WHEN cq = '' THEN normbase
        |            ELSE normbase || '?' || cq END AS url_norm
        |FROM nb ORDER BY doc_id""".stripMargin),

    Entry("text_bigram_lift", (s, dir) => {
      // collocation discovery: top-100 bigrams by lift (= monotone order of
      // PMI, no transcendental log — integer counts, one IEEE division);
      // bigrams from the codegen'd WordPairs kernel in one corpus pass,
      // vocabulary-sized merge joins, TakeOrdered top-k
      graft.pipeline.TextAnalysis.collocations(
        t(s, dir, "documents"), col("text"), minCount = 5L, k = 100)
    },
      // bigram lift replayed from scratch: same non-empty single-space
      // tokens, same adjacent pairs with multiplicity, same integer-exact
      // c_xy·N_uni²/(c_x·c_y·N_bi) with a single double division
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |uc AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |nu AS (SELECT SUM(c) AS n FROM uc),
        |bc AS (
        |  SELECT b, COUNT(*) AS cxy FROM (
        |    SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
        |           AS b
        |    FROM toks) GROUP BY b),
        |nb AS (SELECT SUM(cxy) AS n FROM bc)
        |SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
        |       cxy, ux.c AS cx, uy.c AS cy,
        |       (CAST(cxy AS DOUBLE) * CAST(nu.n AS DOUBLE)
        |          * CAST(nu.n AS DOUBLE))
        |         / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)
        |              * CAST(nb.n AS DOUBLE)) AS lift
        |FROM bc CROSS JOIN nu CROSS JOIN nb
        |JOIN uc ux ON ux.w = split_part(b, ' ', 1)
        |JOIN uc uy ON uy.w = split_part(b, ' ', 2)
        |WHERE cxy >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin),

    Entry("text_bpe_learn", (s, dir) => {
      // BPE tokenizer TRAINING (Sennrich-style): nMerges rounds of "merge
      // the most frequent adjacent symbol pair" over the WORD-FREQUENCY
      // table — the corpus is scanned once, every round after is a
      // vocabulary-sized job; driver state = one (pair, count) row per
      // round. Integer counts + (total DESC, pair ASC) tie-break + single-
      // pass left-to-right replace ⇒ the oracle replays the whole loop
      val (merges, words) = graft.pipeline.Bpe.learn(
        t(s, dir, "documents"), col("text"), BpeMerges)
      words.unpersist()
      graft.pipeline.Bpe.mergesDF(s, merges)
    },
      // BPE learning replayed round-for-round: the same word-frequency
      // base, per-round MATERIALIZED CTEs (pair counts → best pair → merge
      // applied via the same single-pass replace), merges collected with
      // their ranks. MATERIALIZED is load-bearing: each wf level is
      // referenced twice, so inlining would blow up 2^n
      (bpeChainSql(BpeMerges) + "\n" +
        (1 to BpeMerges).map(i =>
          s"SELECT $i AS merge_rank, " +
            s"replace(split_part(pr, ' ', 1), chr(57344), '<') AS lhs, " +
            s"replace(split_part(pr, ' ', 2), chr(57344), '<') AS rhs, " +
            s"replace(replace(pr, ' ', ''), chr(57344), '<') AS merged, " +
            s"total AS pair_count FROM b$i")
          .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY merge_rank"))),

    Entry("text_bpe_vocab", (s, dir) => {
      // token vocabulary induced by the learned merges: top-50 tokens by
      // weighted frequency over the final symbolization (vocabulary-sized
      // aggregation + TakeOrdered; learning memoized as setup so the bench
      // times the vocabulary derivation, not a second training run)
      val (_, words) = bpeModel(s, dir)
      graft.pipeline.Bpe.vocab(words, 50)
    },
      // the induced vocabulary from the final symbolization of the same
      // replayed chain
      (bpeChainSql(BpeMerges) + s"""
         |SELECT replace(tok, chr(57344), '<') AS tok, n FROM (
         |  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_filter(string_split(sym, ' '),
         |                                   x -> x != '')) AS tok
         |    FROM wf$BpeMerges)
         |  GROUP BY tok ORDER BY n DESC, tok LIMIT 50)
         |ORDER BY n DESC, tok""".stripMargin)),

    Entry("text_bpe_count", (s, dir) => {
      // corpus token counting under the LEARNED tokenizer — the "how many
      // training tokens is this corpus" pass: per doc, words joined to
      // the trained word table (vocabulary-sized merge join, the bigram-
      // lift shape) and each word contributes its symbol count, read off
      // the symbolization with codegen'd string algebra (spaces − 1 —
      // no interpreted filter/size HOF)
      val (_, words) = bpeModel(s, dir)
      val perWord = words.select(col("w"),
        (length(col("sym")) -
          length(replace(col("sym"), lit(" "), lit(""))) - 1)
          .cast("long").as("toks_per_word"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .hint("merge")
        .join(perWord.hint("merge"), "w")
        .groupBy("doc_id").agg(count(lit(1)).as("n_words"),
          sum("toks_per_word").as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
      // per-doc BPE token counts: the same replayed chain, words joined to
      // the final symbolization, symbols counted by space algebra
      (bpeChainSql(BpeMerges) + s"""
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(len(sym) - len(replace(sym, ' ', '')) - 1)
         |            AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id,
         |             unnest(list_filter(string_split(text, ' '),
         |                                x -> x != '')) AS w
         |      FROM documents) d
         |JOIN wf$BpeMerges USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Entry("text_bpe_encode", (s, dir) => {
      // token-ID encoding under the LEARNED tokenizer — the
      // tokenize-to-ids step between learning and packing (what a
      // training pipeline actually ships): ids are the full-vocabulary
      // rank (weighted count DESC, token ASC), each doc becomes its
      // dense id sequence; the gate checks total length + the first 48
      // ids EXPLODED to one scalar row per (doc, position) — the
      // driver's comparer sorts with pandas and cannot hash list cells
      // (r8 finding), so the library keeps the array shape and the gate
      // flattens it
      val (_, words) = bpeModel(s, dir)
      graft.pipeline.Bpe.encode(t(s, dir, "documents"), col("doc_id"),
          col("text"), words, headIds = 48)
        .withColumnRenamed("id", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          posexplode(col("head_ids")).as(Seq("pos0", "tok_id")))
        .select(col("doc_id"), col("n_tokens"),
          (col("pos0") + 1).cast("int").as("pos"), col("tok_id"))
      // no ORDER BY: the driver comparer sorts rows itself, and a global
      // sort of the exploded gate rows would bill the entry for work the
      // operator doesn't do
    },
      // the learned chain's FULL vocabulary ranked into dense ids, per-word
      // symbol-id lists rebuilt on the vocabulary, then per-doc ordered
      // reassembly — the same structures the Spark encode builds
      (bpeChainSql(BpeMerges) + s""",
         |vocab_all AS MATERIALIZED (
         |  SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_filter(string_split(sym, ' '),
         |                                   x -> x != '')) AS tok
         |    FROM wf$BpeMerges)
         |  GROUP BY tok),
         |tid AS MATERIALIZED (
         |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok)
         |              AS BIGINT) AS tok_id
         |  FROM vocab_all),
         |wsym AS (
         |  SELECT w, u['spos'] AS spos, u['tok'] AS tok FROM (
         |    SELECT w, unnest([{'spos': j, 'tok': t[j]}
         |                      FOR j IN range(1, len(t) + 1)]) AS u
         |    FROM (SELECT w, list_filter(string_split(sym, ' '),
         |                                x -> x != '') AS t
         |          FROM wf$BpeMerges))),
         |wt AS MATERIALIZED (
         |  SELECT w, list(tok_id ORDER BY spos) AS wids
         |  FROM wsym JOIN tid USING (tok) GROUP BY w),
         |docw AS (
         |  SELECT doc_id, u['wpos'] AS wpos, u['w'] AS w FROM (
         |    SELECT doc_id, unnest([{'wpos': j, 'w': t[j]}
         |                           FOR j IN range(1, len(t) + 1)]) AS u
         |    FROM (SELECT doc_id, list_filter(string_split(text, ' '),
         |                                     x -> x != '') AS t
         |          FROM documents))),
         |enc AS (
         |  SELECT doc_id, flatten(list(wids ORDER BY wpos)) AS ids
         |  FROM docw JOIN wt USING (w) GROUP BY doc_id)
         |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
         |       CAST(generate_subscripts(ids[1:48], 1) AS INTEGER) AS pos,
         |       unnest(ids[1:48]) AS tok_id
         |FROM enc ORDER BY doc_id, pos""".stripMargin)),

    Entry("text_bigram_next", (s, dir) => {
      // the bigram-LM table ("most likely successor per token") — see
      // TextAnalysis.bigramSuccessors for the shape
      graft.pipeline.TextAnalysis.bigramSuccessors(
          t(s, dir, "documents"), col("text"), minTotal = 10L)
        .orderBy("w1")
    },
      // successor-table replay: same adjacent pairs with multiplicity, the
      // struct-max argmax ≡ (cnt DESC, w2 DESC) rn=1
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents),
        |bc AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])
        |           AS b
        |    FROM toks) GROUP BY b),
        |sp AS (SELECT split_part(b, ' ', 1) AS w1,
        |              split_part(b, ' ', 2) AS w2, cnt FROM bc),
        |r AS (
        |  SELECT w1, w2, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY w1
        |                            ORDER BY cnt DESC, w2 DESC) AS rn,
        |         CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS total
        |  FROM sp)
        |SELECT w1, w2 AS next_w, cnt AS next_cnt, total
        |FROM r WHERE rn = 1 AND total >= 10 ORDER BY w1""".stripMargin),

    Entry("text_chunk", (s, dir) => {
      // RAG/context-window chunking: 32-token windows every 24 tokens
      // (8-token overlap). Pure narrow transform — zero shuffles, runs
      // inside the scan stage; the ORDER BY is gate-only
      graft.pipeline.TextAnalysis.chunkByTokens(
          t(s, dir, "documents"), "doc_id", col("text"),
          chunkTokens = 32, stride = 24)
        .orderBy("id", "chunk_idx")
    },
      // the Bloom filter replayed as set membership: bit positions are
      // token-window chunking: same single-space split, 1-based inclusive
      // list slice = Spark's slice(toks, start+1, 32), tail chunk short
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
        |      FROM t WHERE len(toks) > 0)
        |SELECT doc_id AS id, CAST(start // 24 AS INTEGER) AS chunk_idx,
        |       CAST(least(32, len(toks) - start) AS INTEGER) AS n_tokens,
        |       array_to_string(toks[start+1 : start+32], ' ') AS chunk_text
        |FROM s ORDER BY id, chunk_idx""".stripMargin),

    Entry("text_lm_score", (s, dir) => {
      // corpus-frequency LM quality proxy: mean floor(log2(token corpus
      // count)) per document — the CCNet perplexity-filter shape with the
      // LM swapped for an exact-replayable statistic (bit-length bucket,
      // no float log); vocabulary-sized merge joins, one doc aggregate
      graft.pipeline.TextAnalysis.lmBucketScore(
          t(s, dir, "documents"), "doc_id", col("text"))
        .orderBy("id")
    },
      // LM-proxy quality score: bucket = exact floor(log2(corpus count)) via
      // binary-digit-count (length(bin(c))-1 = Spark's length(conv(c,10,2))-1
      // — string ops, engine-exact); SUM cast to BIGINT (HUGEINT ban), the
      // mean is one division of exact integers
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |t2 AS (SELECT doc_id, token FROM toks WHERE token != ''),
        |c AS (SELECT token, length(bin(count(*))) - 1 AS bucket
        |      FROM t2 GROUP BY token)
        |SELECT doc_id AS id, COUNT(*) AS n_tokens,
        |       CAST(SUM(bucket) AS BIGINT) AS sum_bucket,
        |       CAST(CAST(SUM(bucket) AS BIGINT) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS mean_freq_bucket
        |FROM t2 JOIN c USING (token)
        |GROUP BY doc_id ORDER BY id""".stripMargin),

    Entry("dedup_bloom_prefilter", (s, dir) => {
      // Bloom-gated blocklist membership (the decontamination shape): the
      // reference set (10% of docs by fingerprint) compresses to an 8192-bit
      // array; the batch probe is a shuffle-free codegen'd mask test inside
      // the scan, and only candidates pay the exact verify join. The
      // deterministic md5 positions make the exact false-positive set
      // replay in the oracle.
      val keyed = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("k"))
      val ref = keyed.filter(col("doc_id") % 10 === 0)
      graft.pipeline.Bloom.prefilterVerify(keyed, ref, "k", m = 8192, j = 3)
        .select(col("doc_id"), col("confirmed")).orderBy("doc_id")
    },
      // pmod(md5Hash60(i||':'||key), m); a probe hits iff ALL its positions
      // are in the reference side's distinct position set — outcome-identical
      // to the packed-bitset mask test, false positives included
      """WITH keyed AS (SELECT doc_id, md5(text) AS k FROM documents),
        |ref AS (SELECT DISTINCT k FROM keyed WHERE doc_id % 10 = 0),
        |pos AS (
        |  SELECT DISTINCT
        |         ('0x' || substr(md5(i || ':' || k), 1, 15))::BIGINT % 8192 AS p
        |  FROM ref CROSS JOIN (SELECT unnest(['0', '1', '2']) AS i) ix),
        |cand AS (
        |  SELECT doc_id, k FROM keyed
        |  WHERE ('0x' || substr(md5('0:' || k), 1, 15))::BIGINT % 8192
        |          IN (SELECT p FROM pos)
        |    AND ('0x' || substr(md5('1:' || k), 1, 15))::BIGINT % 8192
        |          IN (SELECT p FROM pos)
        |    AND ('0x' || substr(md5('2:' || k), 1, 15))::BIGINT % 8192
        |          IN (SELECT p FROM pos))
        |SELECT doc_id, (k IN (SELECT k FROM ref)) AS confirmed
        |FROM cand ORDER BY doc_id""".stripMargin),

    Entry("stat_kmv_incremental", (s, dir) => {
      // persisted-sketch increment (the production cadence: sketch each
      // slice once, estimate forever): per-source token sketches of the
      // even and odd half-corpora are WRITTEN as parquet tables, read
      // back, and merged WITHOUT touching the corpus again. The sketch
      // identity bottom-k(bottom-k(A) ∪ bottom-k(B)) = bottom-k(A ∪ B) is
      // exact, so the oracle replays the DIRECT whole-corpus sketch — the
      // gate itself verifies the merge identity
      // the sketch-table WRITES are the production backfill, not the
      // incremental operator (the merge) this entry measures — memoized so
      // the bench's second pass times the merge alone
      val base = prepared(s, s"kmvinc:$dir") {
        val b = scratchDir(s, "kmvinc", dir)
        val docs = t(s, dir, "documents")
        def toks(part: org.apache.spark.sql.DataFrame) = part
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        graft.pipeline.Stats.kmvSketches(
            toks(docs.filter(col("doc_id") % 2 === 0)), "source", col("tok"), 64)
          .write.mode("overwrite").parquet(s"$b/sk_even")
        graft.pipeline.Stats.kmvSketches(
            toks(docs.filter(col("doc_id") % 2 =!= 0)), "source", col("tok"), 64)
          .write.mode("overwrite").parquet(s"$b/sk_odd")
        b
      }
      val merged = graft.pipeline.Stats.kmvMergeSketches(
        s.read.parquet(s"$base/sk_even")
          .unionByName(s.read.parquet(s"$base/sk_odd")), "source", 64)
      graft.pipeline.Stats.kmvEstimate(merged, "source", 64).orderBy("source")
    },
      // the SAME direct-sketch replay: the entry goes through persisted
      // half-corpus sketch tables + merge, and bottom-k(bottom-k(A) ∪
      // bottom-k(B)) = bottom-k(A ∪ B) exactly — the gate verifies the
      // merge identity
      kmvOracle),

    Entry("stat_kmv_distinct", (s, dir) => {
      // per-source vocabulary-size estimate via the KMV bottom-k sketch:
      // aggregate state is at most k longs per group (native
      // BottomKDistinct with map-side partials) — never the distinct set;
      // the md5-hash basis makes the whole sketch replay exactly in SQL
      graft.pipeline.Stats.kmvDistinct(
          t(s, dir, "documents")
            .select(col("source"), explode(split(col("text"), " ")).as("tok"))
            .filter(col("tok") =!= ""),
          "source", col("tok"), k = 64)
        .orderBy("source")
    },
      // the KMV sketch replayed from scratch: same 60-bit md5 hash, same
      // bottom-64 distinct set (row_number over the distinct hashes), same
      // (k−1)·2⁶⁰/h_k estimator — every factor an exactly-representable
      // double, one division
      kmvOracle),

    Entry("text_langid_confusion", (s, dir) => {
      // classifier QUALITY EVAL: labeled lang × predicted lang confusion
      // matrix — one conditional-aggregation pass (explicit pivot values,
      // no driver-side distinct scan), the accuracy report behind the
      // text_langid gate
      val langs = Seq("en", "de", "fr", "es", "zh", "und")
      t(s, dir, "documents")
        .select(col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang").pivot("lang_pred", langs).count()
        .na.fill(0L, langs)
        .orderBy("lang")
    },
      // conditional-aggregation replay of the explicit-values pivot
      // confusion replay: the FULL 5-language stopword argmax (ties toward
      // the lexicographically greatest code, matching array_max on
      // (score, lang) structs), then one conditional-aggregation pass
      // single-space tokenization is the langid-family convention (shared
      // with the text_langid oracle; the kernel's \\s+ split coincides on
      // space-separated corpora); counts COALESCE to 0 so NULL text falls
      // through to 'und' exactly like the Spark side's otherwise()
      """WITH tok AS (SELECT lang, string_split(lower(trim(text)), ' ') AS toks
        |             FROM documents),
        |c AS (SELECT lang,
        |  COALESCE(len(list_filter(toks, x -> x IN ('the','and','of','to',
        |    'in','is','that','with','for','was'))), 0) AS en_c,
        |  COALESCE(len(list_filter(toks, x -> x IN ('der','die','das','und',
        |    'ist','nicht','mit','ein','von','zu'))), 0) AS de_c,
        |  COALESCE(len(list_filter(toks, x -> x IN ('le','la','les','et',
        |    'est','dans','pour','que','une','des'))), 0) AS fr_c,
        |  COALESCE(len(list_filter(toks, x -> x IN ('el','la','los','las',
        |    'es','en','que','una','por','con'))), 0) AS es_c,
        |  COALESCE(len(list_filter(toks, x -> x IN ('的','是','在','了',
        |    '和','有','我','不','这','他'))), 0) AS zh_c
        |  FROM tok),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(en_c, de_c, fr_c, es_c, zh_c) = 0 THEN 'und'
        |       WHEN zh_c = greatest(en_c, de_c, fr_c, es_c, zh_c) THEN 'zh'
        |       WHEN fr_c = greatest(en_c, de_c, fr_c, es_c, zh_c) THEN 'fr'
        |       WHEN es_c = greatest(en_c, de_c, fr_c, es_c, zh_c) THEN 'es'
        |       WHEN en_c = greatest(en_c, de_c, fr_c, es_c, zh_c) THEN 'en'
        |       ELSE 'de' END AS pred
        |  FROM c)
        |SELECT lang,
        |  CAST(COUNT(*) FILTER (pred = 'en') AS BIGINT) AS en,
        |  CAST(COUNT(*) FILTER (pred = 'de') AS BIGINT) AS de,
        |  CAST(COUNT(*) FILTER (pred = 'fr') AS BIGINT) AS fr,
        |  CAST(COUNT(*) FILTER (pred = 'es') AS BIGINT) AS es,
        |  CAST(COUNT(*) FILTER (pred = 'zh') AS BIGINT) AS zh,
        |  CAST(COUNT(*) FILTER (pred = 'und') AS BIGINT) AS und
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin),

    Entry("stat_pivot", (s, dir) => {
      // wide composition report: docs per (lang × source) as one row per
      // lang with a column per source. The pivot values are EXPLICIT —
      // pivot without a value list runs a driver-side distinct scan
      // first, a second full pass at 100 TB; with the list it is ONE
      // Expand-free conditional aggregation pass. Empty cells filled 0
      // (Spark pivot yields null; the oracle's COUNT FILTER yields 0)
      val sources = (0 until 20).map(i => s"src$i")
      t(s, dir, "documents")
        .groupBy("lang").pivot("source", sources).count()
        .na.fill(0L, sources)
        .orderBy("lang")
    },
      ("""SELECT lang, """ +
        (0 until 20).map(i =>
          s"CAST(COUNT(*) FILTER (source = 'src$i') AS BIGINT) AS src$i")
          .mkString(", ") +
        """ FROM documents GROUP BY lang ORDER BY lang""")),

    Entry("stat_quantile_sketch", (s, dir) => {
      // continuous-domain quantiles (event values are doubles — the exact
      // distinct-value-compressed path would sort nearly every row):
      // q(p) estimated from a deterministic 256-row uniform sample per
      // event_type, carried by the mergeable bottom-k-pairs aggregate
      // (state ≤ k pairs per group per task, KMV-style re-cap merge)
      graft.pipeline.Stats.sampleQuantiles(events(s, dir),
          "event_type", col("event_id"), col("value"),
          k = 256, ps = Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "p")
    },
      // sample-quantile replay: the bottom-256 (hash, value) sample per
      // group via row_number over the shared md5 hash, then the discrete
      // ceil(p·n)-th smallest sampled value; p cast to DOUBLE up front
      // (bare DuckDB decimals would make ceil() decimal arithmetic)
      """WITH base AS (
        |  SELECT event_type AS g,
        |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
        |                         1, 15))::BIGINT AS h,
        |         CAST(value AS DOUBLE) AS v
        |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT g, h, v,
        |        row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
        |      FROM base),
        |s AS (SELECT g, v FROM r WHERE rn <= 256),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS sample_n
        |      FROM s GROUP BY 1),
        |sv AS (SELECT g, v,
        |         row_number() OVER (PARTITION BY g ORDER BY v) AS vr
        |       FROM s),
        |px AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
        |SELECT n.g AS event_type, px.p, sv.v AS q_est, n.sample_n
        |FROM n JOIN px ON TRUE
        |  JOIN sv ON sv.g = n.g
        |         AND sv.vr = CAST(greatest(1, ceil(n.sample_n * px.p))
        |                          AS BIGINT)
        |ORDER BY event_type, p""".stripMargin),

    Entry("stat_hll", (s, dir) => {
      // per-source distinct-shingle estimate via HyperLogLog: fixed
      // 2^6-byte register state per group (vs KMV's 8k bytes), elementwise
      // max merge; registers and the scaled-integer harmonic sum replay
      // exactly in SQL, the estimate is one correctly-rounded division
      graft.pipeline.Stats.hllDistinct(
          t(s, dir, "documents")
            .select(col("source"),
              explode(graft.pipeline.Dedup.shingles(col("text"), 3)).as("sh")),
          "source", col("sh"), p = 6)
        .orderBy("source")
    }, hllOracle),

    Entry("embed_project", (s, dir) => {
      // JL random projection: 64-dim embeddings into 8 deterministic
      // hash-derived directions (the ANN-prefilter / cheap-similarity
      // space) — 8 codegen'd dot kernels against plan-time literal
      // directions, shuffle-free, no model table
      graft.pipeline.Similarity.randomProjection(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy("id")
    },
      // JL projection replay. The raw dot VALUES are the output here, so
      // list_dot_product won't do (its reassociated/FMA accumulation drifts
      // a last ulp from the sequential Java kernel — why the ann oracles
      // output ranks only). Instead: FLOAT-QUANTIZED literal directions
      // (every product exact in a double) + list_reduce, which folds
      // left-to-right exactly like the codegen'd loop
      {
      // the constants go through a VARCHAR list cast: DuckDB's string →
      // DOUBLE parse is correctly rounded, while a bare numeric literal
      // lands in DECIMAL whose double conversion is NOT (measured: off
      // by an ulp for full-precision constants)
      val cols = (0 until 8).map { p =>
        val lit = pipeline.Similarity.planeVectorF(p, 64)
          .map(d => s"'${d.toString}'").mkString("[", ", ", "]::DOUBLE[]")
        s"""list_reduce([v[i] * ($lit)[i] FOR i IN range(1, 65)],
           |         (a, b) -> a + b) AS p$p""".stripMargin
      }.mkString(",\n       ")
      s"""SELECT vec_id AS id,
         |       $cols
         |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings)
         |ORDER BY id""".stripMargin
    }),

    Entry("embed_quantize_sq8", (s, dir) => {
      // scalar int8 embedding quantization: per-dimension global
      // [min,max] calibration (one dim-bounded aggregate, inlined as
      // literals), then a shuffle-free codegen'd projection maps every
      // component to its 0..255 code — the memory-compression companion
      // to the PQ codebooks (8x vs doubles, ADC-style readback).
      // Exploded to one scalar row per (vector, dimension) for the gate —
      // the driver's comparer cannot hash list cells (r8 finding); the
      // library API keeps the packed array shape
      // flattening rides an exploded LITERAL index sequence + one array
      // read, NOT posexplode(codes): InferFiltersFromGenerate would infer
      // `size(codes) > 0` from a generator over the computed array and
      // push the whole 64-expression quantization INTO the scan filter —
      // observed doubling the entry's per-row work; over the literal
      // sequence the inferred guard constant-folds away
      graft.pipeline.Similarity.scalarQuantize(
          t(s, dir, "embeddings"), "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id")
        .select(col("vec_id"), col("codes"),
          explode(sequence(lit(0), lit(63))).as("dim0"))
        .select(col("vec_id"), (col("dim0") + 1).cast("int").as("dim"),
          col("codes")(col("dim0")).as("code"))
      // no ORDER BY: the driver comparer sorts rows itself (see
      // text_bpe_encode)
    },
      // outlier replay: the same trained-centroid chain, assigned-centroid
      // cosine, one subtraction, top-k by (score DESC, id)
      // per-dimension min/max over DOUBLE-cast components (float->double is
      // lossless, so aggregating either side of the cast selects the same
      // value), then the identical three-op map; a constant dimension
      // yields code 0 on both engines
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |cal AS (SELECT i, MIN(e) AS mn, MAX(e) AS mx FROM ex GROUP BY i),
        |q AS (
        |  SELECT vec_id, i,
        |         CASE WHEN mx = mn THEN 0
        |              ELSE CAST(round((e - mn) / (mx - mn) * 255) AS BIGINT)
        |         END AS c
        |  FROM ex JOIN cal USING (i))
        |SELECT vec_id, CAST(i AS INTEGER) AS dim, c AS code
        |FROM q ORDER BY vec_id, dim""".stripMargin),

    Entry("stat_hll_overlap", (s, dir) => {
      // pairwise source overlap from HLL register ALGEBRA: union = the
      // elementwise register max (sketch-sized pair join — groups²·2^p
      // rows, corpus scanned once), inclusion–exclusion for the
      // intersection; the sketch answer to the question
      // stat_corpus_overlap pays a distinct-set self-join for
      graft.pipeline.Stats.hllOverlap(
          t(s, dir, "documents")
            .select(col("source"),
              explode(graft.pipeline.Dedup.shingles(col("text"), 3)).as("sh")),
          "source", col("sh"), p = 6)
        .orderBy("src_a", "src_b")
    },
      // HLL overlap replay: the stat_hll register derivation with the
      // bucket retained, pairwise elementwise-max union, the same scaled
      // harmonic estimator at every level, inclusion–exclusion last
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
        |              FROM documents),
        |sh0 AS (
        |  SELECT source,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |h AS (
        |  SELECT DISTINCT source,
        |         ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        |  FROM (SELECT source, unnest(s) AS sh FROM sh0)),
        |r AS (SELECT source, h // (1::BIGINT << 54) AS bucket,
        |             h % (1::BIGINT << 54) AS rest FROM h),
        |regs0 AS (
        |  SELECT source, bucket,
        |         max(CASE WHEN rest = 0 THEN 55
        |             ELSE 54 - length(bin(rest)) + 1 END) AS rho
        |  FROM r GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT source, unnest(range(64)) AS bucket FROM h),
        |regs AS (
        |  SELECT g.source, g.bucket, COALESCE(r0.rho, 0) AS rho
        |  FROM grid g LEFT JOIN regs0 r0
        |    ON g.source = r0.source AND g.bucket = r0.bucket),
        |singles AS (
        |  SELECT source,
        |    0.709::DOUBLE * 4096.0::DOUBLE * 36028797018963968.0::DOUBLE
        |      / CAST(CAST(SUM(1::BIGINT << (55 - rho)) AS BIGINT) AS DOUBLE)
        |      AS est
        |  FROM regs GROUP BY source),
        |pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         greatest(a.rho, b.rho) AS rho
        |  FROM regs a JOIN regs b
        |    ON a.bucket = b.bucket AND a.source < b.source),
        |un AS (
        |  SELECT src_a, src_b,
        |    0.709::DOUBLE * 4096.0::DOUBLE * 36028797018963968.0::DOUBLE
        |      / CAST(CAST(SUM(1::BIGINT << (55 - rho)) AS BIGINT) AS DOUBLE)
        |      AS est_union
        |  FROM pr GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.est AS est_a, sb.est AS est_b, est_union,
        |       sa.est + sb.est - est_union AS est_overlap
        |FROM un
        |JOIN singles sa ON sa.source = src_a
        |JOIN singles sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin),

    Entry("stat_vocab_growth", (s, dir) => {
      // the Heaps'-law curve: distinct types + token mass after the
      // first c docs in the deterministic hash permutation — exact
      // integer counts, checkpoints joined as a broadcast literal table
      graft.pipeline.Stats.vocabGrowth(t(s, dir, "documents"), "doc_id",
        col("text"), checkpoints = Seq(50, 100, 200, 400, 800, 1600))
    },
      // growth-curve replay: shuffleOrder's sharded permutation (shard →
      // per-shard rank → offset cumsum), first-appearance mins, one
      // conditional count/sum per checkpoint
      """WITH d AS (
        |  SELECT doc_id, text,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |           ::BIGINT AS h
        |  FROM documents),
        |sh AS (SELECT doc_id, text, h, h % 32 AS shard FROM d),
        |r AS (SELECT doc_id, text, shard,
        |             ROW_NUMBER() OVER (PARTITION BY shard
        |                                ORDER BY h, doc_id) AS pos
        |      FROM sh),
        |off AS (SELECT shard, COUNT(*) AS n FROM sh GROUP BY shard),
        |o2 AS (SELECT shard,
        |              COALESCE(SUM(n) OVER (ORDER BY shard
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              0) AS o
        |       FROM off),
        |g AS (SELECT doc_id, text, o + pos - 1 AS gp
        |      FROM r JOIN o2 ON r.shard = o2.shard),
        |tk AS (SELECT gp, unnest(list_filter(string_split(text, ' '),
        |                                     x -> x != '')) AS w
        |       FROM g),
        |fp AS (SELECT w, MIN(gp) AS first_gp FROM tk GROUP BY w),
        |dt AS (SELECT gp, CAST(COUNT(*) AS BIGINT) AS nt
        |       FROM tk GROUP BY gp),
        |cp AS (SELECT unnest([50, 100, 200, 400, 800, 1600]) AS c),
        |ds AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS docs_seen
        |       FROM cp JOIN g ON gp < c GROUP BY c),
        |ts AS (SELECT c, CAST(SUM(nt) AS BIGINT) AS tokens_seen
        |       FROM cp JOIN dt ON gp < c GROUP BY c),
        |ty AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS distinct_types
        |       FROM cp JOIN fp ON first_gp < c GROUP BY c)
        |SELECT c, COALESCE(docs_seen, 0) AS docs_seen,
        |       COALESCE(tokens_seen, 0) AS tokens_seen,
        |       COALESCE(distinct_types, 0) AS distinct_types
        |FROM cp LEFT JOIN ds USING (c) LEFT JOIN ts USING (c)
        |        LEFT JOIN ty USING (c)
        |ORDER BY c""".stripMargin),

    Entry("stat_token_gini", (s, dir) => {
      // lexical concentration per source: Gini of the token-frequency
      // distribution from exact rank algebra over the COMPRESSED (count
      // value, types) table — tie blocks contribute v·m·(2s+m−1) to 2A,
      // DECIMAL(38,0) sums (n·S passes 2⁶³ at real scale), one double
      // division of the string-rendered decimals
      graft.pipeline.Stats.tokenGini(
          t(s, dir, "documents"), "source", col("text"))
        .orderBy("source")
    },
      // Gini replay: same compressed count-value table, same tie-block rank
      // algebra, DECIMAL(38,0) end-to-end, division on string-rendered
      // decimals
      """WITH tk AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok != ''),
        |c AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |z AS (SELECT source, c AS v, CAST(COUNT(*) AS BIGINT) AS m
        |      FROM c GROUP BY 1, 2),
        |w AS (
        |  SELECT source, v, m,
        |         CAST(COALESCE(SUM(m) OVER (PARTITION BY source ORDER BY v
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |              0) + 1 AS BIGINT) AS s
        |  FROM z),
        |a AS (
        |  SELECT source,
        |         CAST(SUM(CAST(v AS DECIMAL(38,0)) * m * (2*s + m - 1))
        |              AS DECIMAL(38,0)) AS a2,
        |         CAST(SUM(m) AS BIGINT) AS n,
        |         CAST(SUM(v * m) AS BIGINT) AS tot
        |  FROM w GROUP BY source)
        |SELECT source, n AS vocab_size, tot AS total_tokens,
        |       CAST(CAST(CAST(a2 - CAST(n + 1 AS DECIMAL(38,0)) * tot
        |                      AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) /
        |         CAST(CAST(CAST(CAST(n AS DECIMAL(38,0)) * tot
        |                        AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
        |         AS gini
        |FROM a ORDER BY source""".stripMargin),

    Entry("stat_token_simpson", (s, dir) => {
      // diversity without transcendentals: simpson = Σc²/S² (collision
      // probability) and eff_types = S²/Σc² (effective vocabulary size /
      // Rényi-2 perplexity) from exact DECIMAL(38,0) integer aggregates
      // + one string-rendered-decimal division each — the replayable
      // stand-in for Shannon entropy's order-dependent c·log c sum
      graft.pipeline.Stats.tokenSimpson(
          t(s, dir, "documents"), "source", col("text"))
        .orderBy("source")
    },
      // Simpson replay: same token counts, Σc² and S·S as DECIMAL(38,0),
      // each output one division of the string-rendered decimals
      """WITH tk AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok != ''),
        |c AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |a AS (
        |  SELECT source,
        |         CAST(COUNT(*) AS BIGINT) AS vocab_size,
        |         CAST(SUM(c) AS BIGINT) AS tot,
        |         CAST(SUM(CAST(CAST(c AS DECIMAL(38,0)) * c
        |                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq
        |  FROM c GROUP BY source)
        |SELECT source, vocab_size, tot AS total_tokens,
        |       CAST(CAST(sq AS VARCHAR) AS DOUBLE) /
        |         CAST(CAST(CAST(CAST(tot AS DECIMAL(38,0)) * tot
        |                        AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
        |         AS simpson,
        |       CAST(CAST(CAST(CAST(tot AS DECIMAL(38,0)) * tot
        |                      AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE) /
        |         CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS eff_types
        |FROM a ORDER BY source""".stripMargin),

    Entry("stat_lsh_bands", (s, dir) => {
      // the MinHash-LSH dry-run report: per band, bucket count / largest
      // bucket / singletons / candidate-pair workload Σ c(c−1)/2 — what
      // you check BEFORE running the 100 TB band join (skew or candidate
      // explosion ⇒ re-tune bands/rows or cap stop-shingles). Bucket
      // identity = the literal r-tuple of md5-seeded signature mins, so
      // the whole report is exact and replayed in the oracle
      graft.pipeline.Dedup.lshBandStats(
        t(s, dir, "documents"), "doc_id", col("text"),
        shingleN = 3, k = 8, bands = 4)
    },
      // LSH band report replayed: same 3-token shingles as jaccardOracle,
      // seeded 60-bit md5 signature mins, bucket = the r-tuple of values,
      // integer occupancy algebra (c·(c−1)/2 exact — the product is even)
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hx AS (
        |  SELECT doc_id, i,
        |         MIN(('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || g),
        |                             1, 15))::BIGINT) AS m
        |  FROM ex CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
        |  GROUP BY doc_id, i),
        |bk AS (
        |  SELECT doc_id, CAST(i // 2 AS INTEGER) AS band,
        |         list(m ORDER BY i) AS key
        |  FROM hx GROUP BY doc_id, band),
        |bc AS (SELECT band, key, COUNT(*) AS c FROM bk GROUP BY band, key)
        |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |       MAX(c) AS max_bucket,
        |       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS singleton_buckets,
        |       CAST(SUM(CASE WHEN c % 2 = 0 THEN (c // 2) * (c - 1)
        |                     ELSE c * ((c - 1) // 2) END) AS BIGINT)
        |         AS candidate_pairs
        |FROM bc GROUP BY band ORDER BY band""".stripMargin),

    Entry("stat_ks_drift", (s, dir) => {
      // two-sample KS between the purchase and view value distributions —
      // the continuous-column drift alarm; one aggregation to the
      // distinct-value table, one window over VALUES, per-value gap =
      // two divisions (no integer cross-product: overflow-safe at any n)
      graft.pipeline.Stats.ksDrift(
          events(s, dir).filter(col("event_type").isin("purchase", "view")),
          col("value"), col("event_type") === "purchase")
    },
      // KS replay: cumulative conditional counts over the distinct-value
      // grid; every SUM/window-SUM cast from HUGEINT to BIGINT
      """WITH src AS (
        |  SELECT value AS v, event_type = 'purchase' AS a FROM events
        |  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
        |c AS (
        |  SELECT v,
        |         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM src GROUP BY v),
        |cum AS (
        |  SELECT v,
        |         CAST(SUM(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
        |         CAST(SUM(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
        |         CAST((SELECT SUM(ca) FROM c) AS BIGINT) AS na,
        |         CAST((SELECT SUM(cb) FROM c) AS BIGINT) AS nb
        |  FROM c),
        |g AS (
        |  SELECT v, na, nb,
        |         ABS(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
        |             - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE)) AS gap
        |  FROM cum)
        |SELECT na AS n_a, nb AS n_b, MAX(gap) AS ks,
        |       (SELECT v FROM g ORDER BY gap DESC, v LIMIT 1) AS at_value
        |FROM g GROUP BY na, nb""".stripMargin),

    Entry("stat_dup_rate", (s, dir) => {
      // per-source duplication report: docs vs distinct normalized
      // fingerprints (the dedup dashboard stat that decides which crawl
      // sources need attention) — one two-phase aggregate over (source,
      // fingerprint), integer counts, one final division
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          countDistinct(TextAnalysis.fingerprint(col("text")))
            .as("distinct_docs"))
        .withColumn("dup_rate",
          (col("docs") - col("distinct_docs")).cast("double") /
            col("docs").cast("double"))
        .orderBy("source")
    },
      // duplicate-rate replay over the same normalized fingerprint
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g'))))
        |    AS BIGINT) AS distinct_docs,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
        |    ' +', ' ', 'g')))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    Entry("stat_k_anonymity", (s, dir) => {
      // re-identification risk audit before a corpus release: quasi-
      // identifier = (lang, source, n_chars div 64) — each column
      // harmless alone, the COMBINATION singles records out; emit every
      // group with < 5 members (what a k-anonymous release must suppress
      // or generalize — the gate PII redaction can't provide). One hash
      // aggregate with map-side combine + a size filter; the shuffle
      // carries |distinct QI tuples|, the output only the sub-k tail
      graft.pipeline.Stats.kAnonymityRisk(t(s, dir, "documents"),
          Seq(col("lang"), col("source"),
            expr("n_chars div 64").as("len_bucket")), k = 5)
        .orderBy("lang", "source", "len_bucket")
    },
      // k-anonymity replay: quasi-identifier tuple counts, sub-k tail only
      """SELECT lang, source, CAST(n_chars // 64 AS BIGINT) AS len_bucket,
        |       COUNT(*) AS n
        |FROM documents
        |GROUP BY 1, 2, 3 HAVING COUNT(*) < 5
        |ORDER BY lang, source, len_bucket""".stripMargin),

    Entry("stat_cms", (s, dir) => {
      // Count-Min frequency sketch: one pass folds every token occurrence
      // into 4×512 counters (vector-add merge, map-side partials); the
      // exact top-25 tokens then probe the BROADCAST sketch in a
      // codegen'd projection — est ≥ cnt, equality when no row collides
      val docs = t(s, dir, "documents")
      val top = docs
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(25)
      graft.pipeline.Stats.cmsTokenEstimates(docs, col("text"), top,
          "token", d = 4, wlog = 9)
        .select(col("token"), col("cnt"), col("est"))
        .orderBy(col("cnt").desc, col("token"))
    },
      // Count-Min replay: counter (i, slot) = count of token OCCURRENCES
      // whose hash's i-th 9-bit slice is slot; est = min over the d=4 rows.
      // Pure integer shifts/masks over the shared 60-bit md5 hash
      """WITH tk AS (
        |  SELECT tok FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok != ''),
        |h AS (
        |  SELECT tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
        |  FROM tk),
        |b AS (
        |  SELECT i, (hv >> (i * 9)) & 511 AS slot,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) ii
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tk GROUP BY tok ORDER BY cnt DESC, tok LIMIT 25),
        |probe AS (
        |  SELECT token, cnt,
        |         ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv
        |  FROM top)
        |SELECT p.token, p.cnt, MIN(b.c) AS est
        |FROM probe p JOIN b ON b.slot = ((p.hv >> (b.i * 9)) & 511)
        |GROUP BY p.token, p.cnt
        |ORDER BY p.cnt DESC, p.token""".stripMargin),

    Entry("layout_zorder", (s, dir) => {
      // z-order layout: cluster documents by Morton(doc_id, n_chars) so a
      // range filter on EITHER column prunes files via footer stats; the
      // entry runs the real write-side operator (range partition + sort
      // within partitions) and emits the addresses for the oracle to replay
      graft.sources.Layout.zorder(t(s, dir, "documents"),
          "doc_id", "n_chars", bits = 16, numFiles = 8)
        .select(col("doc_id"), col("z")).orderBy("doc_id")
    },
      // identical unrolled Morton formula, generated from the same source
      s"""SELECT doc_id,
        |  CAST(${graft.sources.Layout.zAddressSql("doc_id", "n_chars", 16)}
        |       AS BIGINT) AS z
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("layout_compaction", (s, dir) => {
      // small-file compaction planning (OPTIMIZE bin packing) over a file
      // INVENTORY: partition = lang, file = floor(sqrt(doc_id mod 1600))
      // (a deliberately skewed layout — file k holds 2k+1 id slots, the
      // 1:79 size spread incremental writers really produce), bytes =
      // Σ n_chars. Target = 1.5× the mean file size, derived ONCE from
      // the inventory (memoized fixture — the planner's input is a
      // metadata table, its sizing a config decision); files already at
      // target keep bin −1, the rest bin-pack largest-first per
      // partition. One hash shuffle + one metadata-sized window sort
      val inv = t(s, dir, "documents")
        .groupBy(col("lang").as("part"),
          floor(sqrt((col("doc_id") % 1600).cast("double")))
            .cast("long").as("file_no"))
        .agg(sum("n_chars").cast("long").as("bytes"))
      val target = prepared(s, s"compact_target:$dir") {
        val r = inv.agg(sum("bytes").as("tot"), count(lit(1)).as("nf"))
          .collect()(0)
        3L * r.getLong(0) / (2L * r.getLong(1))
      }
      graft.sources.Layout.compactionPlan(inv, "part", "file_no", "bytes",
          targetBytes = target)
        .select(col("part"), col("file_no"), col("bytes"),
          col("start_byte"), col("bin"))
        .orderBy("part", "file_no")
    },
      // compaction-plan replay: same skewed inventory, target = 1.5× mean
      // (all floor divisions), largest-first cumulative-sum bin assignment
      // per partition; files at/over target keep bin −1
      """WITH inv AS (
        |  SELECT lang AS part,
        |    CAST(FLOOR(SQRT(doc_id % 1600)) AS BIGINT) AS file_no,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1, 2),
        |tgt AS (SELECT (3 * CAST(SUM(bytes) AS BIGINT))
        |               // (2 * COUNT(*)) AS t FROM inv),
        |small AS (
        |  SELECT part, file_no, bytes,
        |    CAST(COALESCE(SUM(bytes) OVER (
        |      PARTITION BY part ORDER BY bytes DESC, file_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_byte
        |  FROM inv WHERE bytes < (SELECT t FROM tgt))
        |SELECT part, file_no, bytes, start_byte,
        |       start_byte // (SELECT t FROM tgt) AS bin
        |FROM small
        |UNION ALL
        |SELECT part, file_no, bytes,
        |       CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        |FROM inv WHERE bytes >= (SELECT t FROM tgt)
        |ORDER BY part, file_no""".stripMargin)
  )
}

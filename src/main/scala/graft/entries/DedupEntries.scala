package graft
package entries

import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The LLM-pipeline dedup entries: exact, fuzzy, MinHash/SimHash,
  * embedding and substring dedup, and the k-NN graph components they
  * cluster with. */
object DedupEntries {

  /** Exact-Hamming ground truth for the simhash pair set, computed from
    * scratch in DuckDB: the same md5-derived 60-bit token hashes, the same
    * per-bit majority vote, brute-force pairs with bit_count(xor) <= 3.
    * The banded Spark path is pigeonhole-complete for maxHamming <= bands-1,
    * so the two pair sets must be IDENTICAL — a hard oracle, not rows-only. */
  private def simhashOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |h AS (
      |  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS th
      |  FROM tok),
      |votes AS (
      |  SELECT doc_id, b.bit,
      |         CASE WHEN SUM(CASE WHEN (th >> b.bit) & 1 = 1
      |                            THEN 1 ELSE -1 END) > 0
      |              THEN (1::BIGINT << b.bit) ELSE 0 END AS bitval
      |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS bit) b
      |  GROUP BY doc_id, b.bit),
      |sig AS (
      |  SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS sig
      |  FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** The k-NN edge derivation (k=3, 6 planes) shared by the components
    * and triangle-count oracles — ends in `kedges` (node_id, neighbor_id). */
  private def knnEdgeCtes: String =
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bkt AS (
       |  SELECT vec_id, v, ${bucketSql(6)} AS bucket FROM e),
       |cand AS (
       |  SELECT a.vec_id AS node_id, b.vec_id AS neighbor_id,
       |         ${cosSql("a.v", "b.v")} AS sim
       |  FROM bkt a JOIN bkt b ON a.vec_id != b.vec_id
       |  WHERE bit_count(xor(CAST(a.bucket AS BIGINT),
       |                      CAST(b.bucket AS BIGINT))) <= 1),
       |rankedg AS (
       |  SELECT node_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY node_id
       |                            ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM cand),
       |kedges AS (SELECT node_id, neighbor_id FROM rankedg WHERE rank <= 3)""".stripMargin

  /** Replay of graph_knn_components: the knn edge chain, symmetrized,
    * then the transitive closure as a recursive CTE with min-label
    * components; isolated vectors coalesce to themselves. */
  private def knnComponentsOracle: String =
    s"""WITH RECURSIVE $knnEdgeCtes,
       |edges AS (
       |  SELECT node_id AS a, neighbor_id AS b FROM kedges
       |  UNION SELECT neighbor_id, node_id FROM kedges),
       |reach(id, r) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT x.id, e2.b FROM reach x JOIN edges e2 ON x.r = e2.a),
       |lbl AS (SELECT id, LEAST(id, MIN(r)) AS component_id
       |        FROM reach GROUP BY id)
       |SELECT emb.vec_id,
       |       COALESCE(l.component_id, emb.vec_id) AS component_id
       |FROM embeddings emb LEFT JOIN lbl l ON emb.vec_id = l.id
       |ORDER BY vec_id""".stripMargin

  /** Per-node triangle counts over the same k-NN edge set: canonical
    * undirected edges, each triangle enumerated once from its min-id
    * corner (the SET of triangles is orientation-independent, so this
    * replays the degree-ordered Spark enumeration exactly). */
  private def knnTrianglesOracle: String =
    s"""WITH $knnEdgeCtes,
       |ce AS (
       |  SELECT DISTINCT LEAST(node_id, neighbor_id) AS u,
       |         GREATEST(node_id, neighbor_id) AS v
       |  FROM kedges WHERE node_id != neighbor_id),
       |tri AS (
       |  SELECT a.u AS x, a.v AS y, b.v AS z
       |  FROM ce a JOIN ce b ON a.u = b.u AND a.v < b.v
       |  JOIN ce c ON c.u = a.v AND c.v = b.v),
       |corners AS (
       |  SELECT x FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri),
       |cnt AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS triangles
       |        FROM corners GROUP BY 1)
       |SELECT emb.vec_id,
       |       COALESCE(cnt.triangles, CAST(0 AS BIGINT)) AS triangles
       |FROM embeddings emb LEFT JOIN cnt ON emb.vec_id = cnt.x
       |ORDER BY vec_id""".stripMargin

  /** Replay of the LSH near-dup pair search: candidates are exactly the
    * pairs whose sign-buckets are within Hamming distance 1 (== the
    * Hamming-1 multiprobe set), verified with exact cosine. */
  private def cosineLshPairsOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bkt AS (
       |  SELECT vec_id, v,
       |    ${bucketSql(6)} AS bucket
       |  FROM e)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |FROM bkt a JOIN bkt b ON a.vec_id < b.vec_id
       |WHERE bit_count(xor(CAST(a.bucket AS BIGINT), CAST(b.bucket AS BIGINT))) <= 1
       |  AND ${cosSql("a.v", "b.v")} >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  /** Ground-truth components via a recursive closure over the SAME exact
    * n-gram-Jaccard pair set [[jaccardOracle]] computes: each node's
    * cluster is the minimum id it can reach. */
  private def clustersOracle: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3
      |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
      |                             FOR i IN range(1, len(t) - 1)])
      |         ELSE [array_to_string(t, ' ')] END AS s
      |  FROM toks),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         len(list_intersect(a.s, b.s)) AS inter,
      |         len(a.s) AS la, len(b.s) AS lb
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM p
      |  WHERE inter > 0
      |    AND CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.5),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT x.id, e.b FROM reach x JOIN edges e ON x.r = e.a),
      |lbl AS (
      |  SELECT id, LEAST(id, MIN(r)) AS cluster_id FROM reach GROUP BY id)
      |SELECT d.doc_id,
      |       COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
      |       COALESCE(l.cluster_id, d.doc_id) = d.doc_id AS survivor
      |FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Exact 3-gram Jaccard >= 0.5 pairs, computed from scratch in DuckDB —
    * the oracle for both the deterministic shared-shingle path and the
    * MinHash-LSH path (whose recall at the fixture's J≈0.97 planted pairs
    * is 1 − (1−J⁴)¹⁶ ≈ 1-6e-14). */
  private def jaccardOracle: String = jaccardOracleAt("0.5")

  /** Brute-force Jaccard ground truth at a threshold; the threshold
    * routes through a VARCHAR cast (bare DuckDB literals are DECIMAL,
    * and DECIMAL→DOUBLE is not correctly rounded — the r6 lesson). */
  private def jaccardOracleAt(threshold: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) >= 3
      |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
      |                             FOR i IN range(1, len(t) - 1)])
      |         ELSE [array_to_string(t, ' ')] END AS s
      |  FROM toks),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         len(list_intersect(a.s, b.s)) AS inter,
      |         len(a.s) AS la, len(b.s) AS lb
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b FROM pairs
      |WHERE inter > 0
      |  AND CAST(inter AS DOUBLE) / (la + lb - inter)
      |      >= CAST('$threshold' AS DOUBLE)
      |ORDER BY id_a, id_b""".stripMargin

  val all: Seq[Entry] = Seq(

    // ---- LLM-pipeline: dedup -------------------------------------------
    Entry("dedup_exact", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val doubled = docs.unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exactSurvivors(doubled, "text", "doc_id")
        .select(col("doc_id"), col("copies")).orderBy("doc_id")
    },
      """SELECT MIN(doc_id) AS doc_id, CAST(2 * COUNT(*) AS BIGINT) AS copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin),

    Entry("dedup_soft_weights", (s, dir) => {
      // soft dedup: keep every copy, weight it 1/copies so duplicated
      // content's total training mass is one copy — every third doc is
      // re-injected (+1000000 ids) and both the original and the clone
      // must carry copies=2, weight=0.5
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = docs.unionByName(
        docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.softDedupWeights(doubled, "text", "doc_id").orderBy("doc_id")
    },
      // same re-injection as the entry; copies per TEXT equivalence class
      // (sha-256 keying and text equality partition rows identically),
      // weight = one double division of the exact integer count
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0),
        |counts AS (
        |  SELECT text, CAST(COUNT(*) AS BIGINT) AS copies FROM d GROUP BY text)
        |SELECT d.doc_id, counts.copies,
        |       CAST(1 AS DOUBLE) / counts.copies AS weight
        |FROM d JOIN counts USING (text) ORDER BY doc_id""".stripMargin),

    Entry("dedup_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }, jaccardOracle),

    Entry("graph_knn_components", (s, dir) => {
      // connected components over the k-NN graph — the cluster structure
      // SemDeDup pruning and diversity sampling consume; min-label
      // propagation (O(diameter) shuffle rounds, duplicateClusters),
      // isolated vectors are their own component
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 3, planes = 6, dim = 64)
        .select(col("node_id").as("id_a"), col("neighbor_id").as("id_b"))
      val comp = Dedup.duplicateClusters(edges)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("cluster_id", "component_id")
      emb.select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("component_id"), col("vec_id")).as("component_id"))
        .orderBy("vec_id")
    }, knnComponentsOracle),

    Entry("graph_triangles", (s, dir) => {
      // exact per-node triangle counts over the k-NN graph — the local
      // clustering signal next to PageRank centrality; degree-ordered
      // orientation bounds wedge volume at scale, counts are exact
      // integers; isolated vectors count zero
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 3, planes = 6, dim = 64)
        .select(col("node_id").as("id_a"), col("neighbor_id").as("id_b"))
      val tri = graft.pipeline.GraphAnalytics.trianglesPerNode(edges)
        .withColumnRenamed("node", "vec_id")
      emb.select(col("vec_id"))
        .join(tri, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("triangles"), lit(0L)).as("triangles"))
        .orderBy("vec_id")
    }, knnTrianglesOracle),

    Entry("graph_components_star", (s, dir) => {
      // the SAME component structure via alternating large-star/small-star
      // rounds (O(log² n) regardless of diameter — the extreme-scale path
      // where label propagation's O(diameter) loop is the bottleneck);
      // gated against the identical transitive-closure oracle
      val emb = t(s, dir, "embeddings")
      val edges = Similarity.knnGraph(emb, "vec_id", "embedding",
          k = 3, planes = 6, dim = 64)
        .select(col("node_id").as("id_a"), col("neighbor_id").as("id_b"))
      val comp = Dedup.duplicateClustersStar(edges)
        .withColumnRenamed("id", "vec_id")
        .withColumnRenamed("cluster_id", "component_id")
      emb.select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("component_id"), col("vec_id")).as("component_id"))
        .orderBy("vec_id")
    },
      // same closure oracle: the star algorithm must land the identical
      // component minima the label-propagation entry lands
      knnComponentsOracle),

    Entry("dedup_fuzzy_keys", (s, dir) => {
      // fuzzy key matching (entity resolution): deterministic single-
      // char-deletion typos injected on every 5th key (+1000000 ids),
      // recovered via q-gram-blocked candidates + ONE exact integer
      // Levenshtein per candidate; the oracle replays injection,
      // blocking, prune and the identical DP distance
      val base = t(s, dir, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k"))
        .filter(length(col("k")) === 24)
      val typos = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          concat(
            expr("substring(k, 1, cast(doc_id % 20 as int))"),
            expr("substring(k, cast(doc_id % 20 as int) + 2, 24)")).as("k2"))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("k2").as("k"))
      Dedup.fuzzyKeyPairs(base.unionByName(typos), "k", "doc_id",
          maxEdits = 1, q = 4, maxGramFreq = Some(100))
        .orderBy("id_a", "id_b")
    },
      """WITH base AS (
        |  SELECT doc_id, substring(text, 1, 24) AS k FROM documents
        |  WHERE lang = 'en' AND length(substring(text, 1, 24)) = 24),
        |typo0 AS (
        |  SELECT doc_id,
        |         substring(k, 1, CAST(doc_id % 20 AS INT)) ||
        |         substring(k, CAST(doc_id % 20 AS INT) + 2, 24) AS k2
        |  FROM base WHERE doc_id % 5 = 0),
        |typos AS (SELECT doc_id + 1000000 AS doc_id, k2 AS k FROM typo0),
        |ak AS (SELECT * FROM base UNION ALL SELECT * FROM typos),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substring(k, p, 4) FOR p IN range(1, len(k) - 4 + 2)])) AS g
        |  FROM ak WHERE len(k) >= 4),
        |f AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 100),
        |gg AS (SELECT doc_id, grams.g FROM grams JOIN f USING (g)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |       CAST(levenshtein(ka.k, kb.k) AS BIGINT) AS dist
        |FROM cand JOIN ak ka ON cand.id_a = ka.doc_id
        |          JOIN ak kb ON cand.id_b = kb.doc_id
        |WHERE levenshtein(ka.k, kb.k) <= 1
        |ORDER BY id_a, id_b""".stripMargin),

    Entry("dedup_jaccard_prefix", (s, dir) => {
      // prefix-filtered set-similarity join (AllPairs/ppjoin): LOSSLESS
      // candidate pruning for Jaccard >= t — candidates come only from
      // collisions among each set's rarest |s|−⌈t·|s|⌉+1 shingles, yet
      // the gate verifies the output equals the BRUTE-FORCE ground
      // truth (the oracle is the same full cross check the unfiltered
      // path gates against)
      Dedup.ngramJaccardPairsPrefix(t(s, dir, "documents"), "text",
          "doc_id", n = 3, threshold = 0.9)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    },
      // the prefix-filtered path must reproduce the brute-force ground
      // truth EXACTLY — losslessness is what the gate verifies; t = 0.9
      // is the technique's regime (prefix ≈ 10% of each set)
      jaccardOracleAt("0.9")),

    Entry("dedup_containment", (s, dir) => {
      // asymmetric containment (overlap coefficient): the doc-inside-doc
      // signal Jaccard dilutes — integer threshold test so the pair set
      // is engine-exact, one IEEE division for the reported score
      Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, pct = 80)
        .select(col("id_a"), col("id_b"), col("containment"))
        .orderBy("id_a", "id_b")
    },
      // brute-force containment ground truth: candidates-from-shared-shingles
      // is exactly the inter > 0 pair set, so the full cross check replays
      // the candidate path; integer threshold, one division for the score
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |         THEN list_distinct([array_to_string(t[i:i+2], ' ')
        |                             FOR i IN range(1, len(t) - 1)])
        |         ELSE [array_to_string(t, ' ')] END AS s
        |  FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         len(list_intersect(a.s, b.s)) AS inter,
        |         LEAST(len(a.s), len(b.s)) AS min_sz
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / min_sz AS containment
        |FROM pairs
        |WHERE inter > 0 AND inter * 100 >= min_sz * 80
        |ORDER BY id_a, id_b""".stripMargin),

    Entry("dedup_clusters", (s, dir) => {
      // pairwise near-dups → connected components → one canonical
      // survivor (min doc_id) per cluster; singletons survive themselves
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.5)
      val clusters = Dedup.duplicateClusters(pairs)
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("survivor", col("cluster_id") === col("doc_id"))
        .orderBy("doc_id")
    }, clustersOracle),

    Entry("dedup_minhash_lsh", (s, dir) => {
      Dedup.minhashDedupPairs(t(s, dir, "documents"), "text", "doc_id",
          n = 3, k = 32, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }, jaccardOracle),

    Entry("dedup_incremental", (s, dir) => {
      // continuous ingestion: even doc_ids play the accumulated corpus,
      // odd the incoming batch — flag batch docs that near-duplicate
      // something already stored (batch-internal dups are minhash_lsh's job)
      val docs = t(s, dir, "documents")
      Dedup.minhashDedupAgainst(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", n = 3, k = 32, bands = 16, threshold = 0.5)
        .select(col("batch_id"), col("corpus_id"))
        .orderBy("batch_id", "corpus_id")
    },
      // cross-parity ground truth: same shingle semantics as jaccardOracle,
      // odd (batch) rows joined against even (corpus) rows
      incrementalPairsOracle),

    Entry("dedup_simhash", (s, dir) => {
      // md5-derived 60-bit token hash so the fingerprints (and thus the
      // exact-Hamming pair set) are reproducible in the DuckDB oracle;
      // production callers default to xxhash64/64-bit
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3, bands = 4, width = 60,
          tokenHash = Dedup.md5TokenHash)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }, simhashOracle),

    Entry("dedup_embedding_cosine_exact", (s, dir) => {
      // exact all-pairs oracle baseline (quadratic by construction);
      // the production 100x-scale binding is the _lsh entry below
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin),

    Entry("dedup_embedding_cosine_lsh", (s, dir) => {
      // the 100×-scale path for embedding near-dup: sign-bucket LSH with
      // Hamming-1 multiprobe + exact verify — oracle replays the exact
      // bucketing (inlined hyperplanes), so the approximate path is
      // hash-checked, not rows-only
      Similarity.cosineNearDupPairsLsh(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4, planes = 6, dim = 64)
        .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    }, cosineLshPairsOracle),

    Entry("dedup_substring", (s, dir) => {
      // exact-substring (memorized-span) dedup: docs sharing a 40-char
      // window sampled every 10 chars; ubiquitous windows (>50 docs)
      // pruned as boilerplate before the self-join
      graft.pipeline.Dedup.substringDupPairs(t(s, dir, "documents"),
          "text", "doc_id", width = 40, stride = 10,
          maxDocsPerWindow = Some(50))
        .orderBy("id_a", "id_b")
    },
      """WITH w0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [substr(text, p, 40) FOR p IN range(1, len(text) - 40 + 2, 10)])) AS w
        |  FROM documents WHERE len(text) >= 40),
        |f AS (SELECT w FROM w0 GROUP BY w HAVING COUNT(*) <= 50),
        |ww AS (SELECT doc_id, w0.w FROM w0 JOIN f USING (w))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |FROM ww a JOIN ww b ON a.w = b.w AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin),

    Entry("dedup_semantic", (s, dir) => {
      // cluster-then-compare (the SemDeDup recipe): near-dup search scoped
      // to deterministic coarse-centroid cells — pairwise cost ∝ cell
      // occupancy, never corpus²; the oracle replays the exact centroid
      // structure, so the approximate path is hash-checked
      Similarity.semanticDedupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4, nlist = 16)
        .select(col("cid"), col("id_a"), col("id_b")).orderBy("id_a", "id_b")
    },
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
        |scored AS (
        |  SELECT e.vec_id, e.v, c.cid,
        |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |            ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS crn
        |  FROM e CROSS JOIN c),
        |assign AS (SELECT vec_id, v, cid FROM scored WHERE crn = 1)
        |SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
        |FROM assign a JOIN assign b
        |  ON a.cid = b.cid AND a.vec_id < b.vec_id
        |WHERE ${cosSql("a.v", "b.v")} >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)
  )
}

package graft
package entries

import graft.pipeline.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The LLM-pipeline similarity-search entries: exact and approximate
  * nearest-neighbour search (LSH, IVF, PQ, IVF-PQ), k-NN graphs and
  * PageRank over them, MMR and embedding preparation. */
object SimilarityEntries {

  /** Replay of graph_pagerank: the ann_knn_graph edge chain, then the
    * 3-round integer-scaled fixpoint unrolled CTE-for-iteration. Every
    * operation is integer multiply/add/floor-division ('//' ≡ Spark's
    * 'div' on nonnegative longs) and every aggregate is CAST back to
    * BIGINT (DuckDB SUM(BIGINT) is HUGEINT — the r5 hasher incident). */
  private def pageRankOracle: String = {
    val scale = pipeline.GraphAnalytics.PageRankScale
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node,
         |    ${scale * 15L} // ((SELECT n FROM nn) * 100)
         |    + (85 * COALESCE(s.m, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.neighbor_id AS nid,
         |           CAST(SUM(p.r // d.outdeg) AS BIGINT) AS m
         |    FROM edges e JOIN $prev p ON e.node_id = p.node
         |                 JOIN deg d ON e.node_id = d.node_id
         |    GROUP BY 1) s ON n.node = s.nid)""".stripMargin
    s"""WITH e AS (
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
       |edges AS (SELECT node_id, neighbor_id FROM rankedg WHERE rank <= 3),
       |nodes AS (SELECT node_id AS node FROM
       |  (SELECT node_id FROM edges UNION SELECT neighbor_id FROM edges)),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |deg AS (SELECT node_id, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |r0 AS (SELECT node, $scale // (SELECT n FROM nn) AS r FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node AS vec_id, r AS rank_scaled FROM r3
       |ORDER BY vec_id""".stripMargin
  }

  /** Replay of graph_pagerank_dangling: the customer→nation→region edge
    * table (regions are sinks), 4 rounds of the integer recurrence WITH
    * uniform dangling-mass redistribution — each round adds one BIGINT
    * dangling sum and a floor per-node share. Every CTE level is
    * MATERIALIZED: r{i-1} is referenced twice per round (g{i} and r{i}),
    * so plain CTE inlining would duplicate the chain 2^n times. */
  private def pageRankDanglingOracle: String = {
    val scale = pipeline.GraphAnalytics.PageRankScale
    def iter(prev: String, i: Int): String =
      s"""g$i AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT)
         |         // (SELECT n FROM nn) AS g
         |  FROM $prev p JOIN dang ON p.node = dang.node),
         |r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    ${scale * 15L} // ((SELECT n FROM nn) * 100)
         |    + (85 * (COALESCE(s.m, 0) + (SELECT g FROM g$i))) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS nid, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS m
         |    FROM edges e JOIN $prev p ON e.src = p.node
         |                 JOIN deg d ON e.src = d.src
         |    GROUP BY 1) s ON n.node = s.nid)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT CAST(c_custkey AS BIGINT) + 100000 AS src,
       |         CAST(c_nationkey AS BIGINT) AS dst FROM customer
       |  UNION ALL
       |  SELECT CAST(n_nationkey AS BIGINT),
       |         CAST(n_regionkey AS BIGINT) + 900000 FROM nation),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
       |deg AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |dang AS MATERIALIZED (
       |  SELECT node FROM nodes
       |  WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (
       |  SELECT node, $scale // (SELECT n FROM nn) AS r FROM nodes),
       |${iter("r0", 1)},
       |${iter("r1", 2)},
       |${iter("r2", 3)},
       |${iter("r3", 4)}
       |SELECT node, r AS rank_scaled FROM r4 ORDER BY node""".stripMargin
  }

  /** Replay of graph_pagerank_personal: the same sink-bearing graph, but
    * teleport (and the dangling-mass return) restricted to the SEED set
    * (every 10th customer) — r0 puts scale//|S| on seeds and 0 elsewhere,
    * each round adds the seed-only base and the seed-only dangling share.
    * Same MATERIALIZED discipline as the dangling oracle (r{i-1} is
    * referenced twice per round). */
  private def personalPageRankOracle: String = {
    val scale = pipeline.GraphAnalytics.PageRankScale
    def iter(prev: String, i: Int): String =
      s"""g$i AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT)
         |         // (SELECT ns FROM nsd) AS g
         |  FROM $prev p JOIN dang ON p.node = dang.node),
         |r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    CASE WHEN n.is_seed THEN
         |      ${scale * 15L} // ((SELECT ns FROM nsd) * 100) ELSE 0 END
         |    + (85 * (COALESCE(s.m, 0) +
         |        CASE WHEN n.is_seed THEN (SELECT g FROM g$i) ELSE 0 END))
         |      // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS nid, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS m
         |    FROM edges e JOIN $prev p ON e.src = p.node
         |                 JOIN deg d ON e.src = d.src
         |    GROUP BY 1) s ON n.node = s.nid)""".stripMargin
    s"""WITH edges AS MATERIALIZED (
       |  SELECT CAST(c_custkey AS BIGINT) + 100000 AS src,
       |         CAST(c_nationkey AS BIGINT) AS dst FROM customer
       |  UNION ALL
       |  SELECT CAST(n_nationkey AS BIGINT),
       |         CAST(n_regionkey AS BIGINT) + 900000 FROM nation),
       |nodes0 AS MATERIALIZED (
       |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |seeds AS MATERIALIZED (
       |  SELECT CAST(c_custkey AS BIGINT) + 100000 AS node FROM customer
       |  WHERE c_custkey % 10 = 0),
       |nodes AS MATERIALIZED (
       |  SELECT node, node IN (SELECT node FROM seeds) AS is_seed
       |  FROM nodes0),
       |nsd AS MATERIALIZED (
       |  SELECT COUNT(*) AS ns FROM nodes WHERE is_seed),
       |deg AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
       |dang AS MATERIALIZED (
       |  SELECT node FROM nodes
       |  WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (
       |  SELECT node, CASE WHEN is_seed
       |    THEN $scale // (SELECT ns FROM nsd) ELSE 0 END AS r
       |  FROM nodes),
       |${iter("r0", 1)},
       |${iter("r1", 2)},
       |${iter("r2", 3)},
       |${iter("r3", 4)}
       |SELECT node, r AS rank_scaled FROM r4 ORDER BY node""".stripMargin
  }

  /** Full replay of the LSH-ANN algorithm in DuckDB: the deterministic
    * hyperplanes are inlined as double literals (shortest-round-trip
    * rendering parses back to identical doubles), buckets/multiprobes/
    * re-rank run the same computation — so even this APPROXIMATE operator
    * gets an exact oracle. */
  private def annLshOracle: String = {
    val bucketExpr = bucketSql(4)
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bkt AS (
       |  SELECT vec_id, v,
       |    $bucketExpr AS bucket
       |  FROM e),
       |q AS (
       |  SELECT vec_id AS query_id, v AS qv,
       |         unnest([bucket, xor(bucket,1), xor(bucket,2),
       |                 xor(bucket,4), xor(bucket,8)]) AS probe
       |  FROM bkt WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS id,
       |         list_cosine_similarity(q.qv, c.v) AS sim
       |  FROM q JOIN bkt c ON c.bucket = q.probe AND c.vec_id != q.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY sim DESC, id) AS rank
       |  FROM cand)
       |SELECT query_id, neighbor_id, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** MMR replay: exact-cosine pool (top poolK per query, the cosSql
    * expression Spark's cosineTopK evaluates), then outK chained greedy
    * steps — each step's max-sim aggregate, ½-scaled combination and
    * (mmr DESC, id) argmax reproduce the flatMapGroups kernel's exact
    * arithmetic. Every level is MATERIALIZED (each sel/cand table is
    * referenced by three successors — plain CTE inlining would blow up
    * 3^outK, the BPE-oracle lesson). */
  private def mmrOracle(queryMax: Int, poolK: Int, outK: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id < $queryMax),
         |pool AS MATERIALIZED (
         |  SELECT query_id, id, rel, v FROM (
         |    SELECT q.query_id, c.vec_id AS id,
         |           ${cosSql("q.qv", "c.v")} AS rel, c.v,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosSql("q.qv", "c.v")} DESC, c.vec_id) AS rn
         |    FROM q JOIN e c ON c.vec_id != q.query_id)
         |  WHERE rn <= $poolK),
         |pick1 AS MATERIALIZED (
         |  SELECT query_id, id, v,
         |         0.5 * rel - 0.5 * CAST(0 AS DOUBLE) AS mmr,
         |         CAST(1 AS BIGINT) AS r
         |  FROM (SELECT pool.*, ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY 0.5 * rel - 0.5 * CAST(0 AS DOUBLE) DESC, id)
         |          AS rn
         |        FROM pool) WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT query_id, id, v FROM pick1),
         |""".stripMargin)
    for (t <- 2 to outK) {
      val prev = t - 1
      sb.append(
        s"""cand$t AS MATERIALIZED (
           |  SELECT pool.* FROM pool
           |  WHERE NOT EXISTS (SELECT 1 FROM sel$prev s
           |                    WHERE s.query_id = pool.query_id
           |                      AND s.id = pool.id)),
           |ms$t AS MATERIALIZED (
           |  SELECT c.query_id, c.id, MAX(${cosSql("c.v", "s.v")}) AS m
           |  FROM cand$t c JOIN sel$prev s ON s.query_id = c.query_id
           |  GROUP BY 1, 2),
           |pick$t AS MATERIALIZED (
           |  SELECT query_id, id, v, mmr, CAST($t AS BIGINT) AS r FROM (
           |    SELECT c.query_id, c.id, c.v,
           |           0.5 * c.rel - 0.5 * ms$t.m AS mmr,
           |           ROW_NUMBER() OVER (PARTITION BY c.query_id
           |             ORDER BY 0.5 * c.rel - 0.5 * ms$t.m DESC, c.id)
           |             AS rn
           |    FROM cand$t c JOIN ms$t ON ms$t.query_id = c.query_id
           |                           AND ms$t.id = c.id)
           |  WHERE rn = 1),
           |sel$t AS MATERIALIZED (
           |  SELECT * FROM sel$prev
           |  UNION ALL SELECT query_id, id, v FROM pick$t),
           |""".stripMargin)
    }
    val picks = (1 to outK).map(t =>
      s"SELECT query_id, id, r, mmr FROM pick$t").mkString("\n  UNION ALL ")
    sb.append(
      s"""allp AS (
         |  $picks)
         |SELECT query_id, id AS neighbor_id, r AS mmr_rank, mmr AS mmr_score
         |FROM allp ORDER BY query_id, mmr_rank""".stripMargin)
    sb.toString
  }

  /** Brute-force cosine top-5 for query vectors 0-9 — the exact-search
    * baseline (ann_cosine_topk) and the ground-truth side of ann_recall. */
  private def annCosineOracle: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |         list_cosine_similarity(q.v, c.v) AS sim
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |                            ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM sims)
      |SELECT query_id, neighbor_id, rank FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replay of the IVF-flat search: deterministic centroids (first nlist
    * vectors in id order), nearest-centroid assignment with centroid-id
    * tie-break, nprobe probing, exact re-rank. */
  private def annIvfOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
       |scored AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS crn
       |  FROM e CROSS JOIN c),
       |assign AS (SELECT vec_id, v, cid FROM scored WHERE crn = 1),
       |qprobe AS (SELECT vec_id AS query_id, v AS qv, cid FROM scored
       |           WHERE vec_id < 10 AND crn <= 4),
       |cand AS (
       |  SELECT qp.query_id, a.vec_id AS id,
       |         ${cosSql("qp.qv", "a.v")} AS sim
       |  FROM qprobe qp JOIN assign a
       |    ON a.cid = qp.cid AND a.vec_id != qp.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY sim DESC, id) AS rank
       |  FROM cand)
       |SELECT query_id, neighbor_id, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def pqSl(v: String, j: Int, sub: Int) =
    s"$v[${j * sub + 1}:${(j + 1) * sub}]"

  /** PQ codebook TRAINING replay (mirrors Similarity.pqTrain
    * CTE-for-stage): cb0 = subvector slices of the first `ncodes` vectors
    * per subspace; per round, a joint L2-argmin assignment of every
    * (vector, subspace) pair and the compressed cum-count exact median per
    * (subspace, code, position) — the same recipe as the kmedians oracle —
    * with empty cells COALESCE'd to the previous codeword. Yields `cbf`
    * (j, c, w). */
  private def pqTrainSql(m: Int, ncodes: Int, sub: Int, iters: Int,
      src: String = "e"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""cb0 AS (
         |  SELECT t.j, r.c, r.v[t.j * $sub + 1 : (t.j + 1) * $sub] AS w
         |  FROM (SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS c, v
         |        FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $ncodes)) r,
         |       UNNEST(generate_series(0, ${m - 1})) AS t(j)),
         |subv AS (
         |  SELECT $src.vec_id, t.j, $src.v[t.j * $sub + 1 : (t.j + 1) * $sub] AS s
         |  FROM $src, UNNEST(generate_series(0, ${m - 1})) AS t(j)),
         |""".stripMargin)
    for (i <- 1 to iters) {
      val prev = s"cb${i - 1}"
      sb.append(
        s"""pas$i AS (
           |  SELECT subv.vec_id, subv.j, subv.s, cb.c,
           |    ROW_NUMBER() OVER (PARTITION BY subv.vec_id, subv.j
           |      ORDER BY (list_dot_product(subv.s, subv.s)
           |                - 2 * list_dot_product(subv.s, cb.w))
           |               + list_dot_product(cb.w, cb.w) ASC, cb.c) AS rn
           |  FROM subv JOIN $prev cb ON cb.j = subv.j),
           |pcomp$i AS (
           |  SELECT j, c, t.i AS pos, s[t.i] AS comp FROM pas$i,
           |       UNNEST(generate_series(1, $sub)) AS t(i)
           |  WHERE rn = 1),
           |pcnt$i AS (SELECT j, c, pos, comp, COUNT(*) AS n0
           |  FROM pcomp$i GROUP BY 1, 2, 3, 4),
           |pcum$i AS (SELECT j, c, pos, comp,
           |    SUM(n0) OVER (PARTITION BY j, c, pos ORDER BY comp) AS cum,
           |    SUM(n0) OVER (PARTITION BY j, c, pos) AS n
           |  FROM pcnt$i),
           |pmed$i AS (SELECT j, c, pos, MIN(comp) AS mv FROM pcum$i
           |  WHERE cum >= greatest(1, ceil(n * 0.5)) GROUP BY 1, 2, 3),
           |pcw$i AS (SELECT j, c, list(mv ORDER BY pos) AS w
           |  FROM pmed$i GROUP BY j, c),
           |cb$i AS (SELECT p.j, p.c, COALESCE(pcw$i.w, p.w) AS w
           |  FROM $prev p LEFT JOIN pcw$i
           |    ON p.j = pcw$i.j AND p.c = pcw$i.c),
           |""".stripMargin)
    }
    sb.append(s"cbf AS (SELECT * FROM cb$iters)")
    sb.toString
  }

  /** Shared PQ oracle fragments: trained codebooks (`cbf`), the
    * per-subspace L2-argmin encode CTEs (enc0..enc{m-1} + the joined
    * `enc`), the per-subspace codebook joins, and the left-associated ADC
    * score expression. */
  private def pqEncSql(m: Int, ncodes: Int, sub: Int, iters: Int,
      src: String = "e"): String = {
    val encCtes = (0 until m).map { j =>
      val s = pqSl(s"$src.v", j, sub)
      s"""enc$j AS (SELECT vec_id, c AS k$j FROM (
         |  SELECT $src.vec_id, cb.c, ROW_NUMBER() OVER (PARTITION BY $src.vec_id
         |    ORDER BY (list_dot_product($s, $s)
         |              - 2 * list_dot_product($s, cb.w))
         |             + list_dot_product(cb.w, cb.w) ASC, cb.c) AS rn
         |  FROM $src CROSS JOIN (SELECT c, w FROM cbf WHERE j = $j) cb)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val encJoin = (1 until m)
      .map(j => s"JOIN enc$j USING (vec_id)").mkString(" ")
    s"""${pqTrainSql(m, ncodes, sub, iters, src)},
       |$encCtes,
       |enc AS (SELECT * FROM enc0 $encJoin)""".stripMargin
  }

  private def pqCbJoins(m: Int): String =
    (0 until m)
      .map(j => s"JOIN (SELECT c, w FROM cbf WHERE j = $j) c$j ON c$j.c = enc.k$j")
      .mkString(" ")

  private def pqScoreSql(m: Int, sub: Int, qv: String): String =
    (0 until m)
      .map(j => s"list_dot_product(${pqSl(qv, j, sub)}, c$j.w)")
      .mkString(" + ")

  /** Replay of the product-quantization search: codebooks are subvector
    * slices of the first `ncodes` vectors in id order; per subspace the
    * code is the L2-argmin codeword (the (s·s − 2·s·w) + w·w expansion in
    * the same association as the Spark expression, ties → lowest code);
    * ADC score is the left-associated sum of per-subspace query-slice ×
    * codeword dot products. */
  private def annPqOracle(m: Int, ncodes: Int, sub: Int, k: Int,
      iters: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqEncSql(m, ncodes, sub, iters)},
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, enc.vec_id AS id,
       |         ${pqScoreSql(m, sub, "q.qv")} AS score
       |  FROM q CROSS JOIN enc ${pqCbJoins(m)}
       |  WHERE enc.vec_id != q.query_id),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** IVF-PQ replay: the IVF assign/probe CTEs composed with the PQ
    * train/encode CTEs; candidates come from the probed inverted lists and
    * are scored by the same ADC expression. */
  /** Residual IVF-PQ replay: the same coarse assignment as the raw
    * oracle, then residuals `v − cv` (double subtraction, FLOAT
    * round-trip — the entry's exactness quantization), the PQ chain
    * retargeted at the residual CTE, and the score as
    * `q·c + (ADC fold)` with the parenthesization matching the entry's
    * `qc + reduceLeft` association. */
  private def annIvfPqResidualOracle(nlist: Int, nprobe: Int, m: Int,
      ncodes: Int, sub: Int, k: Int, iters: Int): String = {
    val dim = m * sub
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT $nlist),
       |cscored AS (
       |  SELECT e.vec_id, e.v, c.cid, c.cv,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS crn
       |  FROM e CROSS JOIN c),
       |assign AS (SELECT vec_id, v, cid, cv FROM cscored WHERE crn = 1),
       |re AS (
       |  SELECT vec_id,
       |         CAST(CAST([v[i] - cv[i] FOR i IN range(1, ${dim + 1})]
       |              AS FLOAT[]) AS DOUBLE[]) AS v
       |  FROM assign),
       |qprobe AS (SELECT vec_id AS query_id, v AS qv, cid,
       |                  list_dot_product(v, cv) AS qc
       |           FROM cscored WHERE vec_id < 10 AND crn <= $nprobe),
       |${pqEncSql(m, ncodes, sub, iters, src = "re")},
       |scored AS (
       |  SELECT qp.query_id, a.vec_id AS id,
       |         qp.qc + (${pqScoreSql(m, sub, "qp.qv")}) AS score
       |  FROM qprobe qp JOIN assign a
       |    ON a.cid = qp.cid AND a.vec_id != qp.query_id
       |  JOIN enc ON enc.vec_id = a.vec_id ${pqCbJoins(m)}),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private def annIvfPqOracle(nlist: Int, nprobe: Int, m: Int, ncodes: Int,
      sub: Int, k: Int, iters: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT $nlist),
       |cscored AS (
       |  SELECT e.vec_id, e.v, c.cid,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |            ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cid) AS crn
       |  FROM e CROSS JOIN c),
       |assign AS (SELECT vec_id, cid FROM cscored WHERE crn = 1),
       |qprobe AS (SELECT vec_id AS query_id, v AS qv, cid FROM cscored
       |           WHERE vec_id < 10 AND crn <= $nprobe),
       |${pqEncSql(m, ncodes, sub, iters)},
       |scored AS (
       |  SELECT qp.query_id, a.vec_id AS id,
       |         ${pqScoreSql(m, sub, "qp.qv")} AS score
       |  FROM qprobe qp JOIN assign a
       |    ON a.cid = qp.cid AND a.vec_id != qp.query_id
       |  JOIN enc ON enc.vec_id = a.vec_id ${pqCbJoins(m)}),
       |ranked AS (
       |  SELECT query_id, id AS neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Trained-IVF replay: the Lloyd chain's final centroid table feeds the
    * same inverted-file search CTEs as annIvfOracle. */
  private def annIvfTrainedOracle(
      nlist: Int, iters: Int, nprobe: Int, k: Int): String = {
    val c = s"c$iters"
    kmediansCtes(nlist, iters) +
      s"""scored AS (
         |  SELECT e.vec_id, e.v, $c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |            ORDER BY ${cosSql("e.v", s"$c.cv")} DESC, $c.cid) AS crn
         |  FROM e CROSS JOIN $c),
         |assign AS (SELECT vec_id, v, cid FROM scored WHERE crn = 1),
         |qprobe AS (SELECT vec_id AS query_id, v AS qv, cid FROM scored
         |           WHERE vec_id < 10 AND crn <= $nprobe),
         |cand AS (
         |  SELECT qp.query_id, a.vec_id AS id,
         |         ${cosSql("qp.qv", "a.v")} AS sim
         |  FROM qprobe qp JOIN assign a
         |    ON a.cid = qp.cid AND a.vec_id != qp.query_id),
         |ranked AS (
         |  SELECT query_id, id AS neighbor_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id
         |                            ORDER BY sim DESC, id) AS rank
         |  FROM cand)
         |SELECT query_id, neighbor_id, rank FROM ranked
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** The fixed question set for `pipeline_rag_prep` — ids ≥ 2⁶² mark the
    * query side of the unioned chunk+question table (shared by the entry
    * and its oracle). Chunk ids pack as doc_id·2²⁰ + chunk_idx, so the
    * scheme is collision-free for doc_id < 2⁴² and docs < ~25M tokens —
    * bounds a corpus-scale deployment actually clears, unlike the naive
    * ×1000 packing. */
  private val RagQuerySentinel: Long = 1L << 62

  private val RagChunkShift: Long = 1L << 20

  private val RagQuestions: Seq[(Long, String)] = Seq(
    RagQuerySentinel -> "how does the stream merge window state",
    (RagQuerySentinel + 1) -> "customer orders with the largest revenue",
    (RagQuerySentinel + 2) -> "language detection for crawled documents")

  /** The ONE trained coarse quantizer shared by ann_ivf_trained_topk,
    * dedup_semantic_trained and embed_outliers — built once per
    * (session, sfDir); the memo key ENCODES the parameters, so a tuned
    * variant can never silently serve stale centroids to its siblings. */
  private val TrainedNlist = 16

  private val TrainedIters = 2

  private def trainedQuantizer(
      s: SparkSession, dir: String): IndexedSeq[Array[Double]] =
    prepared(s, s"kmedians:$TrainedNlist:$TrainedIters:$dir") {
      graft.pipeline.Clustering.kmediansCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        TrainedNlist, TrainedIters)
    }

  val all: Seq[Entry] = Seq(

    // ---- LLM-pipeline: similarity search -------------------------------
    Entry("pipeline_rag_prep", (s, dir) => {
      // RAG-side capstone — the retrieval pipeline as ONE DAG: overlapping
      // token chunks (narrow, in-scan) → deterministic hash embeddings
      // (md5-derived doubles, the honest stand-in for a model encoder:
      // same schema/partitioning/score path as a real one) → cosine top-3
      // chunks per question (queries broadcast, corpus never shuffles).
      // The 8-term dot chain is left-associated on both engines, so
      // scores are bit-identical and the ranking replays exactly
      val chunks = graft.pipeline.TextAnalysis.chunkByTokens(
          t(s, dir, "documents"), "doc_id", col("text"),
          chunkTokens = 32, stride = 24)
        .select((col("id") * RagChunkShift + col("chunk_idx")).as("id"),
          col("chunk_text").as("txt"))
      val questions = RagQuestions.map { case (qid, q) => (qid, q) }
      val qdf = s.createDataFrame(questions).toDF("id", "txt")
      val all = chunks.unionByName(qdf)
      val dim = 8
      val emb = all.select(col("id"), array((0 until dim).map(j =>
        graft.pipeline.Sampling.md5Hash60(
            concat(lit(s"$j|"), col("txt"))).cast("double") /
          lit(math.pow(2.0, 60))): _*).as("embedding"))
      graft.pipeline.Similarity.cosineTopK(emb, "id", "embedding",
          col("id") >= RagQuerySentinel, k = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
      // RAG capstone replay: text_chunk's chunking, the same md5-derived
      // embeddings (int→double cast is correctly rounded on both engines;
      // /2^60 is exact), and an 8-term left-associated dot chain that
      // matches the Java kernel's fold op-for-op — scores bit-identical,
      // ranks deterministic (sim DESC, id)
      (s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
         |      FROM t WHERE len(toks) > 0),
         |ch AS (SELECT doc_id * 1048576 + start // 24 AS id,
         |              array_to_string(toks[start+1 : start+32], ' ') AS txt
         |       FROM s),
         |qs AS (SELECT * FROM (VALUES """.stripMargin +
        RagQuestions.map { case (id, q) => s"($id, '$q')" }.mkString(", ") +
        """) v(id, txt)),
         |ar AS (SELECT id, txt FROM ch UNION ALL SELECT id, txt FROM qs),
         |emb AS (SELECT id,
         |  [CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || txt),
         |                        1, 15))::BIGINT AS DOUBLE)
         |     / 1152921504606846976.0 FOR j IN range(0, 8)] AS v
         |  FROM ar),
         |n AS (SELECT id, v,
         |  sqrt(v[1]*v[1] + v[2]*v[2] + v[3]*v[3] + v[4]*v[4] + v[5]*v[5]
         |       + v[6]*v[6] + v[7]*v[7] + v[8]*v[8]) AS nrm FROM emb),
         |sims AS (SELECT q.id AS query_id, c.id AS neighbor_id,
         |  (q.v[1]*c.v[1] + q.v[2]*c.v[2] + q.v[3]*c.v[3] + q.v[4]*c.v[4]
         |   + q.v[5]*c.v[5] + q.v[6]*c.v[6] + q.v[7]*c.v[7]
         |   + q.v[8]*c.v[8]) / (c.nrm * q.nrm) AS sim
         |  FROM n q JOIN n c ON q.id >= 4611686018427387904 AND c.id != q.id),
         |ranked AS (SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |                     ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM sims)
         |SELECT query_id, neighbor_id, rank FROM ranked
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Entry("ann_cosine_topk", (s, dir) => {
      Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }, annCosineOracle),

    Entry("ann_knn_graph", (s, dir) => {
      // k-NN GRAPH construction — the neighborhood structure SemDeDup-
      // style dedup, graph clustering and diversity pruning consume:
      // every corpus vector's 3 nearest neighbors among its sign-LSH
      // Hamming-1 multiprobe candidates (exact cosine, per-node rank) —
      // the whole-corpus companion to ann_lsh_topk's query-set search
      graft.pipeline.Similarity.knnGraph(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 3, planes = 6, dim = 64)
        .select(col("node_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("node_id", "rank")
    },
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bkt AS (
         |  SELECT vec_id, v, ${bucketSql(6)} AS bucket FROM e),
         |cand AS (
         |  SELECT a.vec_id AS node_id, b.vec_id AS neighbor_id,
         |         ${cosSql("a.v", "b.v")} AS sim
         |  FROM bkt a JOIN bkt b ON a.vec_id != b.vec_id
         |  WHERE bit_count(xor(CAST(a.bucket AS BIGINT),
         |                      CAST(b.bucket AS BIGINT))) <= 1),
         |ranked AS (
         |  SELECT node_id, neighbor_id,
         |         ROW_NUMBER() OVER (PARTITION BY node_id
         |                            ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM cand)
         |SELECT node_id, neighbor_id, rank FROM ranked WHERE rank <= 3
         |ORDER BY node_id, rank""".stripMargin),

    Entry("graph_pagerank", (s, dir) => {
      // PageRank centrality over the k-NN graph — the diversity/quality
      // weighting signal graph-based corpus pruning consumes (rank a
      // document by how central its embedding neighborhood is). INTEGER-
      // scaled exact arithmetic (rank·10^12 longs, floor divisions):
      // every update is order-independent, so the 3-round fixpoint
      // replays bit-identically in the oracle. One src-keyed join + one
      // dst-keyed aggregation per round (the Pregel shape), nothing
      // corpus-sized on the driver.
      val edges = Similarity.knnGraph(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 3, planes = 6, dim = 64)
      graft.pipeline.GraphAnalytics.pageRank(edges, "node_id", "neighbor_id",
          iters = 3)
        .select(col("node").as("vec_id"), col("rank_scaled"))
        .orderBy("vec_id")
    }, pageRankOracle),

    Entry("graph_pagerank_dangling", (s, dir) => {
      // PageRank with uniform dangling-mass redistribution on an edge
      // table WITH sinks: customer → its nation, nation → its region
      // (region nodes emit nothing). The per-round dangling sum is one
      // BIGINT aggregate and its per-node share a floor division, so the
      // 4-round fixpoint stays integer-exact and replays bit-identically
      val custE = t(s, dir, "customer").select(
        (col("c_custkey").cast("long") + lit(100000L)).as("src"),
        col("c_nationkey").cast("long").as("dst"))
      val natE = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("src"),
        (col("n_regionkey").cast("long") + lit(900000L)).as("dst"))
      graft.pipeline.GraphAnalytics.pageRank(custE.unionByName(natE),
          "src", "dst", iters = 4, danglingRedistribution = true)
        .select(col("node"), col("rank_scaled"))
        .orderBy("node")
    }, pageRankDanglingOracle),

    Entry("graph_pagerank_personal", (s, dir) => {
      // personalized PageRank: teleport restricted to a curated SEED set
      // (every 10th customer) over the same sink-bearing customer →
      // nation → region graph — the seed-based quality-propagation
      // signal corpus curation scores crawl sources with. Dangling mass
      // (the region sinks) returns to the SEEDS, not to every node;
      // non-seed customers have no in-edges and converge to exactly 0
      // ("no trust path"). Integer-scaled floor arithmetic throughout,
      // so the 4-round fixpoint replays bit-identically in the oracle
      val custE = t(s, dir, "customer").select(
        (col("c_custkey").cast("long") + lit(100000L)).as("src"),
        col("c_nationkey").cast("long").as("dst"))
      val natE = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("src"),
        (col("n_regionkey").cast("long") + lit(900000L)).as("dst"))
      val seeds = t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .select((col("c_custkey").cast("long") + lit(100000L)).as("node"))
      graft.pipeline.GraphAnalytics.personalizedPageRank(
          custE.unionByName(natE), "src", "dst", seeds, "node", iters = 4)
        .select(col("node"), col("rank_scaled"))
        .orderBy("node")
    }, personalPageRankOracle),

    Entry("embed_robust_scale", (s, dir) => {
      // robust per-dimension whitening (median/MAD — the RobustScaler
      // shape): calibration from the FULL corpus as exact order
      // statistics, output the scaled values of the first 50 vectors;
      // (x − med)/mad is one exact IEEE subtraction + one correctly-
      // rounded division ⇒ bit-identical external replay (a mean/std
      // whitening could never gate: float sums are shuffle-order-
      // dependent)
      Similarity.robustScale(t(s, dir, "embeddings"), "vec_id", "embedding")
        .filter(col("id") < 50)
        .select(col("id").as("vec_id"),
          col("dim_idx").cast("long").as("dim_idx"), col("scaled"))
        .orderBy("vec_id", "dim_idx")
    },
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |vals AS (
        |  SELECT vec_id, generate_subscripts(v, 1) - 1 AS dim_idx,
        |         unnest(v) AS x FROM e),
        |cm AS (SELECT dim_idx, x, COUNT(*) AS c FROM vals GROUP BY 1, 2),
        |cw AS (SELECT dim_idx, x,
        |         SUM(c) OVER (PARTITION BY dim_idx ORDER BY x) AS cum,
        |         SUM(c) OVER (PARTITION BY dim_idx) AS n
        |       FROM cm),
        |med AS (SELECT dim_idx, MIN(x) AS med FROM cw
        |        WHERE cum >= GREATEST(1, CEIL(n * 0.5)) GROUP BY 1),
        |dev AS (SELECT v.vec_id, v.dim_idx, v.x, m.med,
        |               ABS(v.x - m.med) AS dv
        |        FROM vals v JOIN med m USING (dim_idx)),
        |dm AS (SELECT dim_idx, dv, COUNT(*) AS c FROM dev GROUP BY 1, 2),
        |dw AS (SELECT dim_idx, dv,
        |         SUM(c) OVER (PARTITION BY dim_idx ORDER BY dv) AS cum,
        |         SUM(c) OVER (PARTITION BY dim_idx) AS n
        |       FROM dm),
        |mad AS (SELECT dim_idx, MIN(dv) AS mad FROM dw
        |        WHERE cum >= GREATEST(1, CEIL(n * 0.5)) GROUP BY 1)
        |SELECT d.vec_id, d.dim_idx,
        |       CASE WHEN a.mad = 0 THEN 0.0
        |            ELSE (d.x - d.med) / a.mad END AS scaled
        |FROM dev d JOIN mad a USING (dim_idx)
        |WHERE d.vec_id < 50
        |ORDER BY vec_id, dim_idx""".stripMargin),

    Entry("ann_lsh_topk", (s, dir) => {
      Similarity.annLshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, planes = 4, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }, annLshOracle),

    Entry("ann_ivf_topk", (s, dir) => {
      Similarity.annIvfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }, annIvfOracle),

    Entry("rag_mmr", (s, dir) => {
      // diversified retrieval: MMR-greedy pick of 5 from each query's
      // 20 nearest — near-duplicate passages stop crowding out coverage;
      // the sequential greedy runs per query as a bounded typed kernel,
      // queries parallelize, and the dyadic λ=½ keeps every step an
      // exact IEEE op the chained-CTE oracle replays
      Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 3, poolK = 20, outK = 5)
        .orderBy("query_id", "mmr_rank")
    }, mmrOracle(queryMax = 3, poolK = 20, outK = 5)),

    Entry("ann_ivfpq_residual", (s, dir) => {
      // FAISS-default residual IVF-PQ: codes quantize v − centroid
      // (float-quantized residuals keep every product exact), score is
      // the inner-product expansion q·c + ADC — the higher-recall form
      // at identical index storage. The residual codebook is BUILD-time
      // work, memoized like the raw-PQ books; the bench times the search
      val book = prepared(s, s"residbook:$dir:16:8:8:2") {
        Similarity.trainResidualPq(t(s, dir, "embeddings"), "vec_id",
          "embedding", nlist = 16, m = 8, ncodes = 8, trainIters = 2)
      }
      Similarity.annIvfPqResidualTopK(t(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") < 10, k = 5, nlist = 16, nprobe = 4,
          m = 8, ncodes = 8, trainIters = 2, trained = Some(book))
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }, annIvfPqResidualOracle(nlist = 16, nprobe = 4,
      m = 8, ncodes = 8, sub = 8, k = 5, iters = 2)),

    Entry("ann_ivfpq_residual_tables", (s, dir) => {
      // the RESIDUAL index as three durable parquet tables — residual
      // codes (cid, id, k0..k7), coarse centroids, residual codebook:
      // the serving form of the FAISS-default by_residual index (the
      // r11 verdict's top gap). The query batch reads all three and
      // computes only its own probes — the q·c expansion term comes
      // from dotting each probe's query vector with the STORED cv, so
      // nothing per-corpus-vector beyond the codes is materialized;
      // per-batch cost is independent of the corpus, results bit-equal
      // to the inline form (the same oracle replays both)
      val root = prepared(s, s"annivfpqresidtables:$dir") {
        val out = scratchDir(s, "annivfpqresid_index", dir)
        val book = prepared(s, s"residbook:$dir:16:8:8:2") {
          Similarity.trainResidualPq(t(s, dir, "embeddings"), "vec_id",
            "embedding", nlist = 16, m = 8, ncodes = 8, trainIters = 2)
        }
        val cents = Similarity.centroidTable(t(s, dir, "embeddings"),
          "vec_id", "embedding", nlist = 16)
        Similarity.annIvfPqResidualEncodeTable(t(s, dir, "embeddings"),
            "vec_id", "embedding", book, cents)
          .write.mode("overwrite").parquet(s"$out/codes")
        cents.write.mode("overwrite").parquet(s"$out/centroids")
        Similarity.pqBookTable(s, book)
          .write.mode("overwrite").parquet(s"$out/book")
        out
      }
      val book = Similarity.pqBookFromTable(s.read.parquet(s"$root/book"))
      Similarity.annIvfPqResidualTopKFromTables(
          s.read.parquet(s"$root/codes"), s.read.parquet(s"$root/centroids"),
          book, t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
      // residual codes are exact integers and the stored centroid/codeword
      // doubles round-trip parquet bit-exactly, so the inline residual
      // oracle replays the stored-table serving path unchanged
      annIvfPqResidualOracle(nlist = 16,
      nprobe = 4, m = 8, ncodes = 8, sub = 8, k = 5, iters = 2)),

    Entry("ann_recall", (s, dir) => {
      // the index-tuning loop's feedback metric: recall@5 of the IVF
      // search (nlist=16, nprobe=4) against brute-force cosine — per
      // query an integer hit count and one exact division; both inputs
      // are the same ranked lists their own entries gate
      val emb = t(s, dir, "embeddings")
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 5)
      val approx = Similarity.annIvfTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 5, nlist = 16, nprobe = 4)
      Similarity.recallAtK(approx, exact, k = 5).orderBy("query_id")
    },
      // recall@5 of the IVF index against brute force: both ranked lists
      // replay via their own entries' oracles (nested derived tables),
      // hits is an integer intersection count, recall one IEEE division
      s"""WITH approx AS (
         |  SELECT query_id, neighbor_id FROM ($annIvfOracle)),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM ($annCosineOracle)),
         |hits AS (
         |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits
         |  FROM approx JOIN exact USING (query_id, neighbor_id)
         |  GROUP BY 1),
         |qs AS (SELECT DISTINCT query_id FROM exact)
         |SELECT qs.query_id, COALESCE(hits.hits, CAST(0 AS BIGINT)) AS hits,
         |       CAST(COALESCE(hits.hits, CAST(0 AS BIGINT)) AS DOUBLE) / 5
         |         AS recall
         |FROM qs LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin),

    Entry("ann_ivf_trained_topk", (s, dir) => {
      // IVF with a TRAINED coarse quantizer: centroids from 2
      // deterministic k-medians rounds (exact medians ⇒ the trained
      // vectors replay in the oracle) instead of first-nlist seeds —
      // balanced lists are what bound probe cost at scale. Training is
      // BUILD-time work, memoized like the PQ codebooks; the bench's
      // second pass times the search
      val cents = trainedQuantizer(s, dir)
      Similarity.annIvfTopKWithCentroids(t(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") < 10, k = 5, nprobe = 4, cents)
        .select(col("query_id"), col("neighbor_id"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
      annIvfTrainedOracle(nlist = 16, iters = 2, nprobe = 4, k = 5)),

    Entry("dedup_semantic_trained", (s, dir) => {
      // SemDeDup with the TRAINED quantizer — balanced cells bound the
      // within-cluster pairwise cost first-nlist seeding leaves to luck;
      // shares the memoized k-medians build with the trained-IVF entry
      val cents = trainedQuantizer(s, dir)
      Similarity.semanticDedupPairsTrained(t(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, cents)
        .select(col("cid"), col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    },
      // trained SemDeDup replay: the Lloyd chain's centroids feed the same
      // cluster-scoped pair search as the seeded dedup_semantic oracle
      (kmediansCtes(16, 2) +
        s"""scored AS (
           |  SELECT e.vec_id, e.v, c2.cid,
           |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |            ORDER BY ${cosSql("e.v", "c2.cv")} DESC, c2.cid)
           |           AS crn
           |  FROM e CROSS JOIN c2),
           |assign AS (SELECT vec_id, v, cid FROM scored WHERE crn = 1)
           |SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
           |FROM assign a JOIN assign b
           |  ON a.cid = b.cid AND a.vec_id < b.vec_id
           |WHERE ${cosSql("a.v", "b.v")} >= 0.4
           |ORDER BY id_a, id_b""".stripMargin)),

    Entry("embed_outliers", (s, dir) => {
      // curation screen: top-25 embeddings farthest (1 − cosine) from
      // their assigned trained centroid — off-distribution candidates to
      // review before they poison an index; reuses the memoized k-medians
      // quantizer the trained-IVF entry builds
      val cents = trainedQuantizer(s, dir)
      Similarity.centroidOutliers(t(s, dir, "embeddings"), "vec_id",
          "embedding", cents, k = 25)
        .select(col("id").as("vec_id"), col("cid"), col("outlier_score"))
    },
      (kmediansCtes(16, 2) +
        s"""scored AS (
           |  SELECT e.vec_id, c2.cid, ${cosSql("e.v", "c2.cv")} AS csim,
           |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |            ORDER BY ${cosSql("e.v", "c2.cv")} DESC, c2.cid)
           |           AS crn
           |  FROM e CROSS JOIN c2)
           |SELECT vec_id, cid, 1.0::DOUBLE - csim AS outlier_score
           |FROM scored WHERE crn = 1
           |ORDER BY outlier_score DESC, vec_id LIMIT 25""".stripMargin)),

    Entry("ann_pq_topk", (s, dir) => {
      // product-quantization ANN: corpus stored as 8 byte-sized codes per
      // vector (vectors never leave the encode scan), queries score by
      // asymmetric distance — the memory-compression scale path that makes
      // a billion-vector index fit executor RAM; codebooks train with 2
      // deterministic median-update Lloyd rounds; oracle replays training,
      // L2 encoding and ADC scoring exactly. Training is BUILD-time work
      // (a stored artifact at scale), memoized per (corpus, params) like
      // the index builds behind the scan entries — the bench's second pass
      // times the ANN query, not the Lloyd rounds (ivfpq shares the book)
      Similarity.annPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, m = 8, ncodes = 8,
          trained = Some(prepared(s, s"pqbook:$dir:8:8:2") {
            Similarity.trainPq(t(s, dir, "embeddings"), "vec_id", "embedding",
              m = 8, ncodes = 8, trainIters = 2)
          }))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }, annPqOracle(m = 8, ncodes = 8, sub = 8, k = 5, iters = 2)),

    Entry("ann_ivfpq_topk", (s, dir) => {
      // the composed billion-vector index: IVF prunes WHICH vectors are
      // scored (nprobe of nlist inverted lists), PQ shrinks WHAT is
      // stored (m codes per entry); candidates join on the probed list id
      // — an equi join with the query side broadcast — and are scored by
      // ADC without decompression
      Similarity.annIvfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, nlist = 16, nprobe = 4, m = 8, ncodes = 8,
          trained = Some(prepared(s, s"pqbook:$dir:8:8:2") {
            Similarity.trainPq(t(s, dir, "embeddings"), "vec_id", "embedding",
              m = 8, ncodes = 8, trainIters = 2)
          }))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
      annIvfPqOracle(nlist = 16, nprobe = 4, m = 8, ncodes = 8, sub = 8,
        k = 5, iters = 2)),

    Entry("ann_pq_tables", (s, dir) => {
      // the production SERVING shape: the PQ index is a DURABLE parquet
      // artifact — the code table and codebook are written once at
      // index-build time (memoized like the index builds behind the scan
      // entries) and every query batch READS them, so repeated batches
      // over a static corpus never pay train or encode again — the
      // minhashDedupAgainstTables pattern applied to ANN. Codes are exact
      // ints and codeword doubles round-trip parquet bit-exactly, so the
      // inline ann_pq oracle replays this entry unchanged (equivalence
      // additionally spec-pinned through a real round trip).
      val root = prepared(s, s"annpqtables:$dir") {
        val out = scratchDir(s, "annpq_index", dir)
        val book = prepared(s, s"pqbook:$dir:8:8:2") {
          Similarity.trainPq(t(s, dir, "embeddings"), "vec_id", "embedding",
            m = 8, ncodes = 8, trainIters = 2)
        }
        Similarity.annPqEncodeTable(t(s, dir, "embeddings"), "vec_id",
            "embedding", book)
          .write.mode("overwrite").parquet(s"$out/codes")
        Similarity.pqBookTable(s, book)
          .write.mode("overwrite").parquet(s"$out/book")
        out
      }
      val book = Similarity.pqBookFromTable(s.read.parquet(s"$root/book"))
      Similarity.annPqTopKFromTable(s.read.parquet(s"$root/codes"),
          t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, book)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
      // the stored-table paths are bit-equivalent to the inline forms
      // (integer codes; centroid/codeword doubles round-trip parquet
      // exactly), so the same oracles replay them
      annPqOracle(m = 8, ncodes = 8, sub = 8, k = 5, iters = 2)),

    Entry("ann_ivfpq_tables", (s, dir) => {
      // the composed index as THREE durable parquet tables — codes
      // (cid, id, k0..k7), coarse centroids, codebook; the query batch
      // reads all three and computes only its own probes. Per-batch cost
      // is independent of the corpus: no training rounds, no assignment
      // scan, no encode — what a 100 TB serving deployment actually runs.
      val root = prepared(s, s"annivfpqtables:$dir") {
        val out = scratchDir(s, "annivfpq_index", dir)
        val book = prepared(s, s"pqbook:$dir:8:8:2") {
          Similarity.trainPq(t(s, dir, "embeddings"), "vec_id", "embedding",
            m = 8, ncodes = 8, trainIters = 2)
        }
        val cents = Similarity.centroidTable(t(s, dir, "embeddings"),
          "vec_id", "embedding", nlist = 16)
        Similarity.annIvfPqEncodeTable(t(s, dir, "embeddings"), "vec_id",
            "embedding", book, cents)
          .write.mode("overwrite").parquet(s"$out/codes")
        cents.write.mode("overwrite").parquet(s"$out/centroids")
        Similarity.pqBookTable(s, book)
          .write.mode("overwrite").parquet(s"$out/book")
        out
      }
      val book = Similarity.pqBookFromTable(s.read.parquet(s"$root/book"))
      Similarity.annIvfPqTopKFromTables(
          s.read.parquet(s"$root/codes"), s.read.parquet(s"$root/centroids"),
          book, t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },
      annIvfPqOracle(nlist = 16, nprobe = 4, m = 8, ncodes = 8, sub = 8,
        k = 5, iters = 2))
  )
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge tables — the consumer of [[Similarity.knnGraph]]:
  * centrality scoring for corpus diversity pruning / graph-based quality
  * weighting (rank a document by how central its embedding neighborhood is).
  *
  * Everything here is INTEGER-scaled exact arithmetic: ranks are carried as
  * `rank · scale` longs and every update is integer multiply / add / floor
  * division — order-independent, so the iterative fixpoint replays
  * bit-identically in any engine (a float PageRank's per-node sums depend on
  * shuffle order and can never hash-match an oracle).
  */
object GraphAnalytics {

  /** Rank mass carried per unit — 10^12 gives ~12 significant digits while
    * keeping every intermediate (dampNum · incomingSum ≤ 85 · scale) far
    * inside a signed 64-bit long. */
  val PageRankScale: Long = 1000000000000L

  /** PageRank over a directed edge table, `iters` synchronous iterations.
    *
    * Semantics:
    *   r₀(v)   = scale div N                      for every node v
    *   rᵢ₊₁(u) = (scale·(dampDen−dampNum)) div (N·dampDen)
    *           + (dampNum · (Σ_{v→u} (rᵢ(v) div outdeg(v)) + gᵢ)) div dampDen
    * where gᵢ = (Σ_{dangling v} rᵢ(v)) div N when
    * `danglingRedistribution` is on and 0 otherwise.
    * Nodes = distinct(src) ∪ distinct(dst). A dangling node (no out-edges)
    * receives rank but contributes none; with redistribution OFF its mass
    * leaks, which only rescales the relative ordering — the right default
    * for [[Similarity.knnGraph]] edge sets, which have no dangling nodes
    * at all (the Hamming-1 probe ball is symmetric, so any id appearing
    * as a neighbor also emitted out-edges). On ARBITRARY edge tables with
    * sinks, turn redistribution ON for the standard uniform-teleport
    * treatment — still all-integer (one extra BIGINT sum + floor share
    * per round), so it stays bit-replayable in any engine.
    *
    * Scale shape: the Pregel loop — per iteration ONE src-keyed join
    * shipping ranks to edges and ONE dst-keyed aggregation whose
    * zero-seeded output IS the next rank table (no per-node join-back);
    * under redistribution the src join is RIGHT outer, so a dangling
    * node's rank lands in the aggregate's null-dst group and the
    * one-row mass extraction broadcasts the floor share back (nothing
    * corpus-sized on the driver, no extra shuffle for the sinks). At
    * 1000 executors both shuffles hash-partition on the node
    * key; a skewed in-degree hub lands on AQE's skew-split path. Every
    * `checkpointEvery` rounds the rank frame is localCheckpoint'ed, so
    * the logical plan stays O(checkpointEvery) deep however large `iters`
    * is — without it the per-round join/agg unrolls into a plan whose
    * optimization time grows superlinearly (the duplicateClusters lesson).
    *
    * Output: (node LONG, rank_scaled LONG) — rank_scaled = rank · scale,
    * floor-truncated. Σ rank_scaled ≤ scale (truncation only loses mass).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, scale: Long = PageRankScale,
      dampNum: Long = 85, dampDen: Long = 100,
      danglingRedistribution: Boolean = false,
      checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping $dampNum/$dampDen must lie in (0, 1)")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one-row node count, broadcast onto every rank row (the repo's 1-row
    // crossJoin(broadcast) idiom) — N never touches the driver
    val n1 = nodes.agg(count(lit(1)).as("n_nodes"))
    // the degree-annotated edge table is LOOP-INVARIANT but referenced by
    // every round's plan; with per-round lineage cuts no exchange reuse
    // crosses rounds, so without the persist the edge scan + degree
    // aggregate + join re-run every round. Persist it PARTITIONED BY THE
    // JOIN KEY (src): the cached layout then satisfies the per-round
    // join's required distribution and only the (changing) rank side
    // shuffles. Measured on the 4-round personalized twin (sf0.1,
    // same-session A/B): 3.87 → 2.84 s. One extra up-front edge shuffle
    // buys iters−1 avoided ones — a win for every iters ≥ 2.
    val withDeg = e.join(outdeg, "src").repartition(col("src")).persist()
    var ranks = nodes.crossJoin(broadcast(n1))
      .select(col("node"), expr(s"$scale div n_nodes").as("r"),
        col("n_nodes"))
    val baseExpr =
      expr(s"(${scale * (dampDen - dampNum)}) div (n_nodes * $dampDen)")
    for (i <- 1 to iters) {
      ranks =
        if (!danglingRedistribution) {
          // no-sink path (the knnGraph consumer): contributions
          // aggregate per dst and join back onto the rank frame — the
          // rank side rides its carried node partitioning, so the
          // round's only new exchange is the contribution aggregate
          // (measured faster here than the zero-seed union below, whose
          // union re-exchanges node rows every round)
          val contrib = withDeg
            .join(ranks.select(col("node").as("src"), col("r")), "src")
            .select(col("dst"), expr("r div outdeg").as("c"))
          val incoming = contrib.groupBy("dst").agg(sum("c").as("m"))
          ranks.select("node", "n_nodes")
            .join(incoming, col("node") === col("dst"), "left")
            .select(col("node"),
              (baseExpr +
                expr(s"($dampNum * coalesce(m, CAST(0 AS BIGINT)))" +
                  s" div $dampDen")).as("r"),
              col("n_nodes"))
        } else {
          // redistribution path: the src join is RIGHT outer, so a
          // dangling node's rank row (no out-edges ⇒ no match ⇒ null
          // dst, null outdeg) becomes a contribution to the null-dst
          // group — the dangling mass rides the round's ONE aggregate
          // instead of paying its own node-keyed join + aggregate pass
          // (the r11 shape's "agg + join + agg"). Zero-seeding every
          // node FROM THE PREVIOUS RANKS makes the aggregate's output
          // the new rank row set directly (no join-back; seeds carry
          // n_nodes through — every real dst group holds exactly one
          // seed, max ignores the contribs' nulls).
          val contrib = withDeg
            .join(ranks.select(col("node").as("src"), col("r")),
              Seq("src"), "right_outer")
            .select(col("dst"),
              when(col("outdeg").isNull, col("r"))
                .otherwise(expr("r div outdeg")).as("c"),
              lit(null).cast("long").as("nn"))
          val seeded = contrib.unionByName(
            ranks.select(col("node").as("dst"), lit(0L).as("c"),
              col("n_nodes").as("nn")))
          val agg = seeded.groupBy("dst")
            .agg(sum("c").as("m"), max("nn").as("n_nodes"))
          // the dangling mass off the agg's own null-dst group as ONE
          // broadcast row — aggregate-of-aggregate, exactly one row
          // even when no dangling node exists
          val d1 = agg.agg(coalesce(
            sum(when(col("dst").isNull, col("m"))), lit(0L)).as("dm"))
          agg.filter(col("dst").isNotNull)
            .crossJoin(broadcast(d1))
            .select(col("dst").as("node"),
              (baseExpr +
                expr(s"($dampNum * (m + dm div n_nodes)) div $dampDen"))
                .as("r"),
              col("n_nodes"))
        }
      // truncate lineage on long runs; skip the final round (the caller's
      // action materializes it) and short runs (pure lazy DAG preserved).
      // eager = false: the plan is cut NOW (the wrapper replaces the
      // lineage) but no job runs at DAG-construction time — an
      // explain()-only caller never executes. Caveat for preemptible
      // clusters: localCheckpoint blocks live on executors and are NOT
      // recomputable once lineage is cut; with dynamic allocation / spot
      // executors prefer a reliable checkpoint dir upstream of this loop.
      // The REDISTRIBUTION path truncates EVERY round: its dangling-mass
      // extraction references the round's aggregate a second time, and
      // when exchange reuse fails to collapse that reference the
      // re-execution compounds across rounds (measured 4.5 → 23 s at
      // sf0.1 on a 4-round run in an intermediate shape); one node-sized
      // materialization per round is the deterministic linear-cost
      // trade, the per-round discipline of Dedup.duplicateClusters.
      // Executor-storage footprint of that trade: because the cuts are
      // LAZY, every round's node-sized block set materializes under the
      // caller's single action and none can be eagerly released mid-job
      // (round k's blocks feed round k+1's inside the same action) — so
      // a long redistribution run holds O(iters) node-sized block sets
      // until the ContextCleaner GCs the superseded RDDs after the
      // action. MEMORY_AND_DISK makes this spill-safe, not free: at
      // 10⁹ nodes × 100 iters budget ~iters × |rank table| of executor
      // storage, or run damped PageRank without dangling redistribution
      // (the default path, whose checkpointEvery cadence bounds live
      // sets) and fold dangling mass analytically.
      if ((danglingRedistribution || i % checkpointEvery == 0) && i < iters)
        ranks = ranks.localCheckpoint(eager = false)
    }
    // Edge-cache release (the duplicateClusters discipline), on the
    // REDISTRIBUTION path only: its rounds already end in checkpoint
    // barriers, so one final eager node-sized cut costs nothing extra —
    // the caller's action then reads blocks and the edge-sized cache
    // entry does not outlive the call (measured −1.5 s on the dangling
    // gate, interleaved cross-JVM A/B). The PLAIN path stays fully lazy
    // ON PURPOSE: its unbarriered plan is transparent to the optimizer
    // (a caller that only counts or projects prunes the rank arithmetic
    // away entirely — forcing materialization here measured +3 s on the
    // knn-graph gate), so there withDeg must outlive the call and the
    // CALLER owns the release (a session cache clear, as Bench does per
    // entry; superseded checkpoint blocks remain ContextCleaner-owned
    // as documented above).
    if (danglingRedistribution) {
      try ranks.select(col("node"), col("r").as("rank_scaled")).localCheckpoint()
      finally withDeg.unpersist(blocking = false)
    } else ranks.select(col("node"), col("r").as("rank_scaled"))
  }

  /** Personalized PageRank: teleport restricted to a SEED set — the
    * seed-based quality-propagation signal corpus curation uses (rank
    * every document by its link/neighborhood proximity to a small
    * curated trusted set; the classic web-scale recipe for scoring
    * crawl pages against reference domains). Same integer-scaled exact
    * recurrence as [[pageRank]], with two changes:
    *
    *   r₀(v)   = [v ∈ S] · (scale div |S|)
    *   rᵢ₊₁(u) = [u ∈ S] · (scale·(dampDen−dampNum)) div (|S|·dampDen)
    *           + (dampNum · (Σ_{v→u} rᵢ(v) div outdeg(v)
    *                         + [u ∈ S] · (dᵢ div |S|))) div dampDen
    *
    * where dᵢ is the round's dangling mass — a sink's rank returns to
    * the SEEDS (the personalized teleport target), not to every node.
    * All floor divisions, so the fixpoint replays bit-identically in an
    * external engine. A node unreachable from the seeds converges to
    * rank 0 — exactly the curation reading ("no trust path").
    *
    * `seeds` is a one-column frame of node ids; ids not present in the
    * edge table are dropped (a seed outside the graph can neither
    * receive nor forward mass). Must select a non-empty set.
    *
    * Scale shape: identical to the redistribution path of [[pageRank]]
    * — per round ONE right-outer src join + ONE zero-seeded aggregate
    * (the seed flag riding the seed rows through the aggregate,
    * max-folded), one 1-row dangling-mass broadcast back, per-round
    * lazy localCheckpoint (same O(iters) executor-storage caveat).
    * Unlike [[pageRank]], |S| IS collected to the driver: the seed set
    * is model-sized by definition (a curated trust list, not the
    * corpus), one count doubles as the fail-fast for an empty set, and
    * a literal |S| spares every rank row a carried column and the
    * pre-loop plan a broadcast derivation (measured −35% on the
    * sf0.1 gate vs the carried-column form).
    *
    * Output: (node LONG, rank_scaled LONG). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 3, scale: Long = PageRankScale,
      dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping $dampNum/$dampDen must lie in (0, 1)")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val inGraphSeeds = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().join(nodes, Seq("node"), "left_semi")
    val nSeeds = inGraphSeeds.count()
    require(nSeeds > 0L,
      "personalizedPageRank needs at least one seed present in the graph")
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // loop-invariant, join-key-partitioned persist — see [[pageRank]]
    val withDeg = e.join(outdeg, "src").repartition(col("src")).persist()
    val flagged = nodes.join(
      inGraphSeeds.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
    // |S| folds into literals: the same floor divisions the carried-
    // column form computed, now constant-folded by codegen
    val baseExpr = when(col("is_seed"),
      lit(scale * (dampDen - dampNum) / (nSeeds * dampDen))).otherwise(0L)
    var ranks = flagged.select(col("node"),
      when(col("is_seed"), lit(scale / nSeeds)).otherwise(0L).as("r"),
      col("is_seed"))
    for (i <- 1 to iters) {
      // right-outer src join: a dangling node's rank lands in the
      // aggregate's null-dst group (same shape as pageRank's
      // redistribution path); the seed flag rides the zero-seed rows,
      // max ignores the contribs' nulls
      val contrib = withDeg
        .join(ranks.select(col("node").as("src"), col("r")),
          Seq("src"), "right_outer")
        .select(col("dst"),
          when(col("outdeg").isNull, col("r"))
            .otherwise(expr("r div outdeg")).as("c"),
          lit(null).cast("boolean").as("sd"))
      val seeded = contrib.unionByName(
        ranks.select(col("node").as("dst"), lit(0L).as("c"),
          col("is_seed").as("sd")))
      val agg = seeded.groupBy("dst")
        .agg(sum("c").as("m"), max("sd").as("is_seed"))
      val d1 = agg.agg(coalesce(
        sum(when(col("dst").isNull, col("m"))), lit(0L)).as("dm"))
      ranks = agg.filter(col("dst").isNotNull)
        .crossJoin(broadcast(d1))
        .select(col("dst").as("node"),
          (baseExpr +
            expr(s"($dampNum * (m + " +
              s"(CASE WHEN is_seed THEN dm div $nSeeds ELSE 0 END)))" +
              s" div $dampDen")).as("r"),
          col("is_seed"))
      // per-round lineage cut — the dangling extraction references the
      // round's aggregate twice (see pageRank's redistribution note)
      if (i < iters) ranks = ranks.localCheckpoint(eager = false)
    }
    // same edge-cache release as [[pageRank]]: eager final cut, then drop
    // (also when the cut throws)
    try ranks.select(col("node"), col("r").as("rank_scaled")).localCheckpoint()
    finally withDeg.unpersist(blocking = false)
  }

  /** Exact triangle count per node over an undirected pair graph — the
    * local-clustering signal (how knit a document's neighborhood is)
    * diversity pruning and community-shape diagnostics read next to
    * PageRank centrality. Input pair columns `id_a`/`id_b` (direction
    * and duplicates ignored); output (node, triangles) covering every
    * node in some edge, zero-triangle nodes included. All counts are
    * exact integers — the enumeration replays in any engine.
    *
    * Shape at scale: the standard DEGREE-ORDERED orientation (each edge
    * points from its lower-(degree, id) endpoint), so every triangle is
    * enumerated exactly once from its lowest corner and wedge volume is
    * Σ outdeg² with outdeg ≤ O(√|E|) — the hub that breaks the naive
    * id-ordered join (a 10⁶-degree node would explode 10¹² wedges)
    * contributes only edges pointed AT it. Three hash-keyed joins, no
    * cartesian; per-node counts are one aggregate. */
  def trianglesPerNode(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = edges.select(col("u").as("x"))
      .unionByName(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = the lower endpoint in that order
    val dir = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // wedges: unordered out-neighbor pairs of each source corner, closed
    // against the canonical edge set (w1 < w2 ⇒ the closing edge is
    // exactly the canonical (w1, w2) row)
    val wedges = dir.alias("a")
      .join(dir.alias("b"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .select(col("a.src").as("corner"),
        col("a.dst").as("w1"), col("b.dst").as("w2"))
    val tris = wedges.join(edges,
      wedges("w1") === edges("u") && wedges("w2") === edges("v"))
      .select(col("corner"), col("w1"), col("w2"))
    val counts = tris.select(col("corner").as("x"))
      .unionByName(tris.select(col("w1").as("x")))
      .unionByName(tris.select(col("w2").as("x")))
      .groupBy("x").agg(count(lit(1)).as("triangles"))
    deg.select(col("x").as("node"))
      .join(counts.withColumnRenamed("x", "node"), Seq("node"), "left_outer")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}

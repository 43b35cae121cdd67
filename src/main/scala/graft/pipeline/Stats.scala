package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution statistics for corpus curation: exact grouped quantiles and
  * heavy hitters, both shaped for 100 TB inputs.
  */
object Stats {

  /** Exact discrete quantiles per group, via distinct-value compression.
    *
    * The naive exact quantile sorts every ROW inside each group — with few
    * groups (languages, sources) that is a handful of giant sorted
    * partitions, a guaranteed straggler at scale. This plan instead:
    *
    *   1. `groupBy(group, value).count` — one shuffle, map-side combine;
    *      the working set collapses from |rows| to |distinct values|
    *      (token counts, char lengths etc. have tiny value domains).
    *   2. running sum over the compressed (group, value) table — the
    *      window sorts only distinct values per group.
    *   3. the p-quantile is the smallest value whose cumulative count
    *      reaches ceil(p·n) — one filter + min-aggregate per p.
    *
    * Discrete (type-preserving, no interpolation): quantile(p) is always an
    * observed value, q(p) = min{ v : |x <= v| >= max(1, ceil(p·n)) }.
    * Deterministic, so it replays exactly in any SQL engine.
    * Output: (group, p, q) one row per group × p.
    *
    * NULL values are dropped before counting (SQL-aggregate convention):
    * without the filter a (group, NULL) count row sorts first in the
    * window, inflates n, and shifts every quantile downward — q(p) could
    * even come out NULL for small p. n = count of NON-NULL values.
    */
  def groupQuantiles(
      df: DataFrame, groupCol: String, valueCol: Column,
      ps: Seq[Double]): DataFrame =
    groupQuantilesFromCounts(
      df.select(col(groupCol), valueCol.as("__v"))
        .filter(col("__v").isNotNull)
        .groupBy(col(groupCol), col("__v")).agg(count(lit(1)).as("__c")),
      groupCol, "__v", "__c", ps)

  /** [[groupQuantiles]] step 2-3 over an ALREADY-COMPRESSED
    * (group, value, multiplicity) table — for callers that derive several
    * quantile families from one value-count pass (robustScale's
    * median-then-MAD chain: the deviation counts are a value-domain-sized
    * regroup of the first pass's counts, so the corpus is scanned once,
    * not once per statistic). Same discrete order-statistic semantics:
    * q(p) = min{ v : cum(v) >= max(1, ceil(p·n)) }, nulls must already be
    * gone, multiplicities must be positive. */
  def groupQuantilesFromCounts(
      counts: DataFrame, groupCol: String, valueCol: String,
      countCol: String, ps: Seq[Double]): DataFrame = {
    val cum = counts
      .withColumn("__cum",
        sum(countCol).over(
          Window.partitionBy(col(groupCol)).orderBy(col(valueCol))))
      .withColumn("__n", sum(countCol).over(Window.partitionBy(col(groupCol))))
    cum.select(col(groupCol), col(valueCol).as("__qv"), col("__cum"),
        col("__n"), explode(array(ps.map(lit): _*)).as("p"))
      .filter(col("__cum") >= greatest(lit(1L), ceil(col("__n") * col("p"))))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col("__qv")).as("q"))
  }

  /** Per-group winsorization (quantile clipping — the outlier-clamp step
    * before length/score features feed a model): every value is clamped
    * into [q(pLo), q(pHi)] of its OWN group, quantiles as the exact
    * discrete order statistics of [[groupQuantiles]]. The quantile table
    * is group-sized and broadcast; the data pass is a shuffle-free
    * least/greatest projection, so the corpus never shuffles. Integer
    * inputs stay integer end-to-end — engine-exact by construction.
    * Output: the input row plus `winsorized`. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: Column,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo < pHi, s"pLo $pLo must be < pHi $pHi")
    // staging columns (and the output column itself) are fixed names: an
    // input that already carries one would be silently clobbered by
    // withColumn and dropped from the output — fail loudly instead
    // (public library entry point)
    val staged = Seq("__v", "__lo", "__hi", "__glo", "__ghi", "winsorized")
    val clash = df.columns.toSet.intersect(staged.toSet)
    require(clash.isEmpty,
      s"winsorize stages internals in ${staged.mkString("/")}; rename input " +
        s"column(s) ${clash.mkString(", ")} before calling")
    val v = df.withColumn("__v", valueCol)
    val qs = groupQuantiles(v, groupCol, col("__v"), Seq(pLo, pHi))
    val lo = qs.filter(col("p") === pLo)
      .select(col(groupCol).as("__glo"), col("q").as("__lo"))
    val hi = qs.filter(col("p") === pHi)
      .select(col(groupCol).as("__ghi"), col("q").as("__hi"))
    // null-SAFE left joins: a NULL group key is data, not absence — an
    // equi join would silently drop those rows (review finding, round 9).
    // A NULL input VALUE stays null: Spark's least/greatest SKIP nulls,
    // so without the guard a null value would come out as the low bound —
    // a fabricated feature (second review finding). A non-null value
    // always has bounds (its group then has ≥ 1 non-null value).
    v.join(broadcast(lo), col(groupCol) <=> col("__glo"), "left")
      .join(broadcast(hi), col(groupCol) <=> col("__ghi"), "left")
      .withColumn("winsorized",
        when(col("__v").isNull, lit(null))
          .otherwise(least(greatest(col("__v"), col("__lo")), col("__hi"))))
      .drop("__v", "__lo", "__hi", "__glo", "__ghi")
  }

  /** Top-k most frequent whitespace tokens with exact counts (heavy
    * hitters). explode → two-phase count (map-side combine absorbs the
    * token skew: each task pre-folds its own 'the's) → global top-k via
    * TakeOrdered (no full sort). Ties break on the token itself, so the
    * result set is deterministic. */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Pairwise corpus overlap by distinct n-gram shingle sets: for every
    * unordered pair of `groupCol` partitions (sources, snapshots, crawls),
    * the EXACT count of distinct shingles they share plus each side's
    * distinct total — containment(A⊆B) = inter/|A| answers "how much of
    * source A is already covered by source B" before paying for a full
    * cross-corpus dedup. Pairs with zero shared shingles are not emitted.
    *
    * Plan at scale: ONE corpus shuffle — groupBy(shingle) with a
    * collect_set(group) partial aggregate (map-side combine absorbs
    * per-doc repetition; each set is bounded by the group count, which
    * is small by contract — sources, crawls). Per-group totals and the
    * pairwise intersections both derive from that vocabulary-sized
    * grouped table: pairs explode within each shingle's group set (≤
    * groups² rows per shingle, never |A|×|B| docs), so work stays ∝
    * shared-shingle collisions with no self-join and no sort exchange.
    * Integer counts; the containment divide is a single
    * correctly-rounded IEEE op — engine-exact.
    *
    * The per-shingle `collect_set(group)` buffer is bounded ONLY by the
    * group cardinality, so the "small by contract" assumption is
    * ENFORCED, not assumed: a pre-flight distinct-count fails fast if
    * `groupCol` exceeds `maxGroups` (the DSIR-bucket precedent,
    * Sampling.dsirWeights) — a caller passing a high-cardinality column
    * (doc ids, URLs) gets an immediate error instead of one viral
    * shingle materializing a 10⁶-member set buffer mid-corpus. The
    * pre-flight is one narrow-column scan with partial-agg distinct and
    * an early-out limit — trivial next to the shingle explode. */
  def corpusOverlap(df: DataFrame, groupCol: String, textCol: String,
      n: Int, maxGroups: Int = 4096): DataFrame = {
    require(maxGroups >= 2, s"maxGroups must be >= 2, got $maxGroups")
    val nGroups =
      df.select(col(groupCol)).distinct().limit(maxGroups + 1).count()
    require(nGroups <= maxGroups,
      s"corpusOverlap: '$groupCol' has more than $maxGroups distinct " +
        s"groups — per-shingle group-set buffers would be unbounded. " +
        s"Pass a coarse source/crawl column, or raise maxGroups " +
        s"deliberately if the cardinality is truly bounded.")
    val byShingle = df.select(col(groupCol).as("g"),
        explode(Dedup.shingles(col(textCol), n)).as("s"))
      .groupBy("s").agg(collect_set(col("g")).as("gs"))
      .persist() // shared by totals + pair counts; the 100 TB spill point
    val totals = byShingle.select(explode(col("gs")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("total"))
    val inter = byShingle
      .select(explode(col("gs")).as("ga"), col("gs"))
      .select(col("ga"), explode(col("gs")).as("gb"))
      .filter(col("ga") < col("gb"))
      .groupBy(col("ga").as("src_a"), col("gb").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    // result is groups² (sources) — finish eagerly and drop the cache
    Caches.localized(
      inter
        .join(totals.select(col("g").as("src_a"), col("total").as("total_a")), "src_a")
        .join(totals.select(col("g").as("src_b"), col("total").as("total_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("inter"),
          col("total_a"), col("total_b"),
          (col("inter").cast("double") / col("total_a")).as("containment_a"),
          (col("inter").cast("double") /
            (col("total_a") + col("total_b") - col("inter"))).as("jaccard")),
      byShingle)
  }

  /** Vocabulary size needed to cover a share of the corpus token mass —
    * the tokenizer-sizing stat ("how many types cover 95% of tokens").
    *
    * Definition (count-threshold form, chosen for exactness AND scale):
    * cutoff = the LARGEST count value c whose ≥-c prefix carries at least
    * `sharePct` of the total token mass (i.e. the smallest such
    * vocabulary); the vocabulary is every token with count ≥ c — a
    * whole-value threshold, so no token-order tie-breaking inside the
    * boundary count is needed. Thresholding on count
    * VALUES (not token ranks) means the window that finds c sorts the
    * COMPRESSED (count value, types, mass) table — same distinct-value
    * compression as [[groupQuantiles]]; a rank-based cutoff would sort
    * the full vocabulary in one window partition, a guaranteed straggler
    * at 100 TB. The share test is integer-exact: 100·cum_mass ≥
    * share%·total, no division anywhere.
    *
    * Output: one row (cutoff_count, vocab_size, covered_tokens,
    * total_tokens) with covered_tokens ≥ share of total by construction.
    */
  def vocabCoverage(
      df: DataFrame, textCol: Column, sharePct: Int): DataFrame = {
    require(sharePct > 0 && sharePct <= 100, s"sharePct in (0,100]: $sharePct")
    val counts = df.select(explode(split(textCol, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val byValue = counts.groupBy("c")
      .agg(count(lit(1)).as("types"), sum("c").as("mass"))
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // total via a whole-partition window over the SAME compressed rows
    // (not a crossJoin of byValue.agg(...) — that re-runs the corpus
    // explode+count in a second plan branch)
    val whole = Window.partitionBy(Seq.empty[Column]: _*)
    byValue
      .withColumn("cum_mass", sum("mass").over(w))
      .withColumn("cum_types", sum("types").over(w))
      .withColumn("total", sum("mass").over(whole))
      .filter(col("cum_mass") * 100 >= col("total") * sharePct)
      .orderBy(col("c").desc)
      .limit(1)
      .select(col("c").as("cutoff_count"), col("cum_types").as("vocab_size"),
        col("cum_mass").as("covered_tokens"), col("total").as("total_tokens"))
  }

  /** Per-group distinct-cardinality estimate via the KMV (k-minimum-values)
    * sketch — "how many distinct tokens/urls/ids does each source have"
    * without ever materializing the distinct set.
    *
    * Basis: the uniform 60-bit md5 hash shared with [[Sampling.md5Hash60]],
    * so the whole sketch — bottom-k set, k-th minimum, estimator — replays
    * EXACTLY in any SQL engine (no RNG, no engine-private hash). State is
    * a k-capped ordered set per group carried by the native
    * [[graft.functions.BottomKDistinct]] aggregate: map-side partial
    * aggregation folds each task's duplicates into k longs before the
    * shuffle, so bytes-on-wire per task·group is 8k + ε, independent of
    * input cardinality — the 100 TB shape the distinct+window formulation
    * (shuffle ∝ |distinct|) can't reach.
    *
    * Estimator (standard KMV): with fewer than k distinct hashes the count
    * is exact; otherwise est = (k−1)·2⁶⁰ / h_k where h_k is the k-th
    * smallest distinct hash. Both factors are exactly representable
    * doubles and the division is one correctly-rounded IEEE op —
    * engine-exact. Expected relative error ~ 1/√(k−2).
    *
    * Output: (group, sketch_size, h_k, est_distinct), one row per group.
    */
  def kmvDistinct(
      df: DataFrame, groupCol: String, valueCol: Column,
      k: Int): DataFrame =
    kmvEstimate(kmvSketches(df, groupCol, valueCol, k), groupCol, k)

  /** The raw per-group KMV sketch: (group, sketch = sorted array of the
    * ≤ k smallest distinct hashes). This IS the mergeable artifact —
    * persist it per slice/day/source and union+re-cap later
    * ([[kmvMergeSketches]]): bottom-k(bottom-k(A) ∪ bottom-k(B)) =
    * bottom-k(A ∪ B), exactly. */
  def kmvSketches(
      df: DataFrame, groupCol: String, valueCol: Column,
      k: Int): DataFrame =
    df.select(col(groupCol), Sampling.md5Hash60(valueCol).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.functions.SketchFunctions
        .bottom_k_distinct(col("__h"), k).as("sketch"))

  /** Merge persisted sketches (multiple rows per group allowed — daily
    * slices, per-source shards) back into one ≤ k sketch per group:
    * explode + the same capped aggregate. Cost ∝ Σ|sketches|·k rows —
    * NEVER touches the original corpus; that is the whole point of
    * keeping sketch tables. */
  def kmvMergeSketches(
      sketches: DataFrame, groupCol: String, k: Int): DataFrame =
    sketches.select(col(groupCol), explode(col("sketch")).as("__h"))
      .groupBy(col(groupCol))
      .agg(graft.functions.SketchFunctions
        .bottom_k_distinct(col("__h"), k).as("sketch"))

  /** Estimator tail shared by the direct and merged paths. */
  def kmvEstimate(sk: DataFrame, groupCol: String, k: Int): DataFrame =
    sk.select(col(groupCol),
        size(col("sketch")).cast("long").as("sketch_size"),
        element_at(col("sketch"), size(col("sketch"))).as("h_k"),
        when(size(col("sketch")) < k, size(col("sketch")).cast("double"))
          .otherwise(lit((k - 1).toDouble * (1L << 60).toDouble) /
            element_at(col("sketch"), lit(k)).cast("double"))
          .as("est_distinct"))

  /** Approximate grouped quantiles over CONTINUOUS value domains — the
    * fixed-state companion to [[groupQuantiles]]: exact quantiles via
    * distinct-value compression degrade to a full sort when the value
    * domain is continuous (doubles — the compressed table IS the row
    * count); this estimates q(p) from a deterministic uniform k-sample
    * instead. The sample is the k rows smallest by the engine-replayable
    * (md5-hash-of-key, value) order, carried by the native
    * [[graft.functions.BottomKPairs]] aggregate: state ≤ k pairs per
    * group per task, map-side partials, merge = bottom-k re-cap — the
    * same mergeable-sketch contract as KMV, so per-slice sample tables
    * union and re-cap without touching the corpus.
    *
    * Estimator: discrete sample quantile — q̂(p) = the ceil(p·n)-th
    * smallest sampled value (an observed value, no interpolation), which
    * replays exactly in SQL. Sampling error ~ O(1/√k) in rank.
    *
    * Output: (group, p, q_est, sample_n), one row per group × p. */
  def sampleQuantiles(
      df: DataFrame, groupCol: String, keyCol: Column, valueCol: Column,
      k: Int, ps: Seq[Double]): DataFrame = {
    df.select(col(groupCol), Sampling.md5Hash60(keyCol).as("__h"),
        valueCol.cast("double").as("__v"))
      .filter(col("__h").isNotNull && col("__v").isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.functions.SketchFunctions
        .bottom_k_pairs(col("__h"), col("__v"), k).as("sample"))
      .select(col(groupCol),
        size(col("sample")).cast("long").as("sample_n"),
        array_sort(col("sample")).as("__sv"),
        explode(array(ps.map(lit): _*)).as("p"))
      .select(col(groupCol), col("p"),
        element_at(col("__sv"),
          greatest(lit(1L), ceil(col("sample_n") * col("p"))).cast("int"))
          .as("q_est"),
        col("sample_n"))
  }

  /** HyperLogLog distinct-count estimate per group — the FIXED-SIZE
    * companion to [[kmvDistinct]]: state is exactly 2^p bytes per group
    * per task (vs KMV's 8k bytes), merge is elementwise max, and the
    * estimate's standard error is ~1.04/√m. At 100 TB, per-slice register
    * tables are the artifact to persist; re-aggregating them with the
    * same max-merge gives the union sketch without touching the corpus.
    *
    * Everything up to the final estimate is integer-exact and
    * engine-replayable: registers are pure functions of the shared 60-bit
    * md5 hash ([[Sampling.md5Hash60]]), and the harmonic sum Σ 2^-rho is
    * carried as the SCALED INTEGER Σ 2^(s-rho) with s = 61-p (max rho is
    * 61-p, so every term is a non-negative power of two ≤ 2^s; m terms
    * sum to ≤ 2^61 — no overflow, no float-order sensitivity). The
    * estimate alpha·m²·2^s / scaled_sum then multiplies exact powers of
    * two into alpha (exact) and performs ONE correctly-rounded division —
    * engine-exact, like the KMV estimator.
    *
    * Raw HLL estimate (no small-range LinearCounting correction: that
    * needs ln(), whose last-ulp differs across libm implementations and
    * would break exact replay — callers wanting exact small counts use
    * [[kmvDistinct]], which IS exact below k).
    *
    * Output: (group, nonempty, harmonic_scaled, est_distinct). */
  def hllDistinct(
      df: DataFrame, groupCol: String, valueCol: Column, p: Int): DataFrame = {
    hllEstimate(
      df.select(col(groupCol), Sampling.md5Hash60(valueCol).as("__h"))
        .filter(col("__h").isNotNull)
        .groupBy(col(groupCol))
        .agg(graft.functions.SketchFunctions.hll_registers(col("__h"), p)
          .as("regs")),
      groupCol, p)
  }

  /** Estimator tail over a (group, regs: array<int>) register table — the
    * shared back half of [[hllDistinct]] and the streaming register
    * maintenance ([[graft.streaming.Streams.hllMaintain]]): registers in,
    * (nonempty, harmonic_scaled, est_distinct) out, with the same
    * integer-exact scaled harmonic sum and single-division estimate. */
  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  def hllEstimate(sk: DataFrame, groupCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val s = 61 - p
    val alpha = hllAlpha(m)
    sk.select(col(groupCol), posexplode(col("regs")).as(Seq("bucket", "rho")))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("rho") > 0, 1L).otherwise(0L)).as("nonempty"),
        // variable-distance shift: expr() because functions.shiftleft only
        // takes a literal shift; ShiftLeft itself is codegen'd
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $s - rho)")).as("harmonic_scaled"))
      .select(col(groupCol), col("nonempty"), col("harmonic_scaled"),
        // alpha·m² is one rounding; ·2^s is exact; the division rounds once
        (lit(alpha * (m.toDouble * m.toDouble)) * lit(math.pow(2.0, s)) /
          col("harmonic_scaled").cast("double")).as("est_distinct"))
  }

  /** Pairwise distinct-overlap estimates from HLL REGISTER ALGEBRA — the
    * sketch-sized answer to "how much does each source pair share" that
    * [[corpusOverlap]] answers exactly at the cost of a distinct-set
    * self-join. One corpus pass builds the per-group registers; every
    * pairwise union is then an elementwise max over 2^p ints (registers
    * explode once, pair-join on bucket — groups² · 2^p rows of sketch
    * data, corpus-free), and inclusion–exclusion gives
    * est_overlap = est_a + est_b − est_union. Negative overlaps are the
    * sketch's noise floor and are reported raw.
    *
    * Every input to the three divisions is the scaled-integer harmonic
    * sum of [[hllEstimate]], so all six output columns replay exactly.
    *
    * Output: (src_a, src_b, est_a, est_b, est_union, est_overlap). */
  def hllOverlap(
      df: DataFrame, groupCol: String, valueCol: Column, p: Int): DataFrame = {
    val m = 1 << p
    val s = 61 - p
    val alpha = hllAlpha(m)
    val regs = df
      .select(col(groupCol), Sampling.md5Hash60(valueCol).as("__h"))
      .filter(col("__h").isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.functions.SketchFunctions.hll_registers(col("__h"), p)
        .as("regs"))
      .persist() // two consumers (singles + pair explode), one corpus pass
    val singles = hllEstimate(regs, groupCol, p)
      .select(col(groupCol), col("est_distinct"))
    val ex = regs.select(col(groupCol).as("g"),
      posexplode(col("regs")).as(Seq("bucket", "rho")))
    // result is groups² — finish eagerly and drop regs' cache
    Caches.localized(
      ex.alias("a")
        .join(ex.alias("b"),
          col("a.bucket") === col("b.bucket") && col("a.g") < col("b.g"))
        .select(col("a.g").as("src_a"), col("b.g").as("src_b"),
          greatest(col("a.rho"), col("b.rho")).as("rho"))
        .groupBy("src_a", "src_b")
        .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $s - rho)")).as("hs"))
        .select(col("src_a"), col("src_b"),
          (lit(alpha * (m.toDouble * m.toDouble)) * lit(math.pow(2.0, s)) /
            col("hs").cast("double")).as("est_union"))
        .join(singles.select(col(groupCol).as("src_a"),
          col("est_distinct").as("est_a")), "src_a")
        .join(singles.select(col(groupCol).as("src_b"),
          col("est_distinct").as("est_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
          col("est_union"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_overlap")),
      regs)
  }

  /** Count-Min frequency estimates for a set of probe tokens — the
    * bounded-memory "how often does X occur" companion to
    * [[hllDistinct]]/[[kmvDistinct]]: ONE aggregation pass over the
    * corpus folds every token occurrence into a d×2^wlog counter array
    * ([[graft.functions.CmsCounters]] — map-side partials, merge =
    * vector add), and each probe then reads its d counters from the
    * BROADCAST sketch row inside a codegen'd projection (element_at +
    * least — no join against the corpus, no second scan). The estimate
    * is the classical one-sided overestimate: est ≥ true count, with the
    * excess bounded by collisions in the narrowest row.
    *
    * Exact-integer throughout (counters are counts; min of longs), so the
    * whole sketch replays in SQL via the shared 60-bit md5 hash and
    * integer shift/mask slicing — see the `stat_cms` oracle.
    *
    * At 100 TB: the sketch is d·2^wlog longs regardless of corpus size
    * (the state that would make exact heavy-hitter counting a
    * billions-of-groups shuffle), per-slice sketch tables persist and
    * re-merge by the same aggregate, and probing is corpus-free.
    *
    * Output: `probes` columns + `est` (BIGINT). */
  def cmsTokenEstimates(
      df: DataFrame, textCol: Column, probes: DataFrame, probeCol: String,
      d: Int, wlog: Int): DataFrame = {
    val sketch = df
      .select(explode(split(textCol, " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .agg(graft.functions.SketchFunctions.cms_counters(
        Sampling.md5Hash60(col("__tok")), d, wlog).as("__cms"))
    probes.crossJoin(broadcast(sketch))
      .withColumn("est",
        cmsEstimateExpr(col("__cms"), col(probeCol), d, wlog))
      .drop("__cms")
  }

  /** Point-estimate expression over a row-major CMS counter-array column:
    * min over the d rows of the counter at the probe key's bit-slice slot
    * — pure element_at + least, codegen'd, shared by the batch probe
    * ([[cmsTokenEstimates]]) and the streaming-maintained sketch
    * (st13's max_by(upd) counters). */
  def cmsEstimateExpr(cms: Column, key: Column, d: Int, wlog: Int): Column = {
    require(d > 0 && wlog > 0 && wlog <= 24 && d * wlog <= 60,
      s"cmsEstimateExpr: need 0 < wlog <= 24 and d*wlog <= 60, got d=$d wlog=$wlog")
    val w = 1 << wlog
    val h = Sampling.md5Hash60(key)
    (0 until d).map { i =>
      element_at(cms,
        (lit(i * w) + shiftright(h, i * wlog).bitwiseAND(lit((w - 1).toLong)))
          .cast("int") + 1)
    }.reduceLeft(least(_, _))
  }

  /** Two-sample Kolmogorov–Smirnov drift between two NUMERIC slices —
    * the train/serve-skew and snapshot-drift alarm for continuous
    * columns, complementing [[sourceDrift]]'s token-space TVD:
    * KS = max over v of |F_a(v) − F_b(v)|, the largest gap between the
    * two empirical CDFs.
    *
    * Engine-exact without integer overflow: counts compress to ONE row
    * per distinct value (conditional sums), cumulative counts come from
    * a window over that compressed table, and each candidate gap is
    * |cum_a/n_a − cum_b/n_b| — two correctly-rounded divisions and a
    * subtraction per DISTINCT value, identical in any engine; max is
    * order-independent. (The integer cross-product form
    * |cum_a·n_b − cum_b·n_a| would overflow Long near 3·10⁹ rows per
    * side — the collocations lesson — so the per-row division form is
    * the scale-safe one.)
    *
    * Shape at 100 TB: one map-side-combined aggregation to the
    * distinct-value table, then a window over VALUES (the compressed
    * domain, not the row count) — same discipline as
    * [[groupQuantiles]]. Ties in the max break toward the SMALLEST
    * value (max_by on (ks, -v) replayed via window in SQL).
    *
    * Output: one row (n_a, n_b, ks, at_value). */
  def ksDrift(
      df: DataFrame, valueCol: Column, isA: Column): DataFrame = {
    // persist barrier: the compressed value table feeds the cumulative
    // window AND the totals row (Stats convention — the shared-aggregate
    // shape that otherwise runs twice)
    val counts = df
      .filter(valueCol.isNotNull)
      .select(valueCol.as("__v"), isA.as("__a"))
      .groupBy("__v")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .persist()
    val w = Window.orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one-row result — finish eagerly and drop counts' cache
    Caches.localized(
      counts
        .withColumn("__cuma", sum("__ca").over(w))
        .withColumn("__cumb", sum("__cb").over(w))
        .crossJoin(broadcast(counts.agg(
          sum("__ca").as("__na"), sum("__cb").as("__nb"))))
        .withColumn("__gap",
          abs(col("__cuma").cast("double") / col("__na").cast("double") -
            col("__cumb").cast("double") / col("__nb").cast("double")))
        // grouped (constant-key) aggregate, NOT a global one: an empty
        // input then yields ZERO rows — matching the oracle's GROUP BY —
        // instead of a single all-null row. A one-sided input divides by
        // 0.0 and reports ks = Infinity (the gap vs an empty CDF), same
        // IEEE value on both engines.
        .groupBy(lit(true).as("__g"))
        .agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
          max(col("__gap")).as("ks"),
          min_by(col("__v"), struct((-col("__gap")).as("g"), col("__v").as("v")))
            .as("at_value"))
        .drop("__g"),
      counts)
  }

  /** Composition drift per corpus slice: the total-variation distance
    * between each group's token distribution and the REST of the corpus —
    * the monitoring stat behind "did this crawl/source/snapshot shift the
    * mix" alarms, and the vs-rest form that doesn't dampen small sources
    * by including them in their own baseline.
    *
    * Numerically exact by integer algebra: TVD = ½ Σₜ |p_g(t) − p_rest(t)|
    * is computed as the INTEGER numerator
    * Σₜ |c_g(t)·N_rest − c_rest(t)·N_g| over one scaled common
    * denominator, so the sum is order-independent (integer adds) and the
    * single final division is the only float op. Tokens absent from the
    * group need no rows: their contribution folds to
    * N_g·(N_rest − Σ_{t∈g} c_rest(t)) — the plan never materializes the
    * group × vocabulary cross product.
    *
    * Shapes: one explode → (group, token) two-phase counts → vocabulary
    * totals (merge-hinted join: both sides beyond any static estimate) →
    * per-group aggregation. Products stay within Long while
    * tokens² < 2⁶³ (~3·10⁹ tokens); past that, cast the count columns to
    * decimal in the same algebra. */
  def tokenDrift(df: DataFrame, groupCol: String, textCol: Column): DataFrame = {
    val tok = df.select(col(groupCol).as("g"),
        explode(split(textCol, " ")).as("t"))
      .filter(col("t") =!= "")
    val cs = tok.groupBy("g", "t").agg(count(lit(1)).as("c"))
    val tot = cs.groupBy("t").agg(sum("c").as("ct"))
    val ns = cs.groupBy("g").agg(sum("c").as("n"))
    val withAll = ns.crossJoin(broadcast(ns.agg(sum("n").as("na"))))
      .select(col("g"), col("n"), (col("na") - col("n")).as("nrest"))
    val terms = cs.hint("merge").join(tot.hint("merge"), Seq("t"))
      .join(broadcast(withAll), Seq("g"))
      .select(col("g"), col("n"), col("nrest"),
        abs(col("c") * col("nrest") - (col("ct") - col("c")) * col("n")).as("term"),
        (col("ct") - col("c")).as("r"))
    terms.groupBy("g", "n", "nrest")
      .agg(sum("term").as("insum"), sum("r").as("rs"))
      .select(col("g"), col("n").as("n_tokens"),
        (col("insum") + col("n") * (col("nrest") - col("rs"))).as("drift_num"),
        // a single-group corpus has no "rest" (nrest = 0): TVD is
        // undefined there — emit NULL, not the silent 0/0 = NaN that
        // makes every alarm comparison false
        when(col("nrest") === 0, lit(null).cast("double"))
          .otherwise(
            (col("insum") + col("n") * (col("nrest") - col("rs"))).cast("double") /
              (lit(2L) * col("n") * col("nrest")).cast("double")).as("tvd"))
  }

  /** Vocabulary GROWTH curve (the Heaps'-law table): distinct token
    * types and token mass seen after the first `c` documents in
    * deterministic hash order, for each checkpoint `c` — how tokenizer
    * sizing ([[vocabCoverage]]) extrapolates as the corpus grows, and
    * the sanity check that a new crawl slice actually adds vocabulary.
    *
    * Exact and engine-replayable: document order is
    * [[Sampling.shuffleOrder]]'s sharded hash permutation (exact global
    * positions, no global sort), a type's first appearance is
    * min(position), and each checkpoint is one conditional count/sum —
    * all integers. Checkpoints join as a broadcast literal table, so the
    * corpus-sized sides never shuffle for them.
    *
    * Output: (c, docs_seen, tokens_seen, distinct_types) per checkpoint. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: Column,
      checkpoints: Seq[Int], shards: Int = 32): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint")
    require(checkpoints.distinct == checkpoints,
      "duplicate checkpoints would double-count through the range joins")
    val spark = df.sparkSession
    import spark.implicits._
    // persist: the permutation (window shuffle + offsets scan) feeds
    // three aggregate branches — same rationale as collocations' persist
    val ordered = Sampling.shuffleOrder(
        df.select(col(idCol), textCol.as("__text")), idCol, shards)
      .select(col("global_pos").as("gp"), col("__text"))
      .persist()
    val toks = ordered
      .select(col("gp"), explode(split(col("__text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val firstPos = toks.groupBy("w").agg(min("gp").as("first_gp"))
    // per-doc counts: the explode output is NARROW (rows for one gp stay
    // in one partition), so the partial aggregation collapses to one row
    // per doc before the exchange — the shuffle carries doc-count rows,
    // never tokens
    val docToks = toks.groupBy("gp").agg(count(lit(1)).as("nt"))
    val cp = checkpoints.toDF("c")
    val docs = ordered.join(broadcast(cp), col("gp") < col("c"))
      .groupBy("c").agg(count(lit(1)).as("docs_seen"))
    val tokens = docToks.join(broadcast(cp), col("gp") < col("c"))
      .groupBy("c").agg(sum("nt").as("tokens_seen"))
    val types = firstPos.join(broadcast(cp), col("first_gp") < col("c"))
      .groupBy("c").agg(count(lit(1)).as("distinct_types"))
    // build FROM the checkpoint table with left joins: a checkpoint whose
    // prefix has no docs/tokens/types still gets its row (with zeros) —
    // the per-checkpoint output contract
    // |checkpoints| rows — finish eagerly and drop the permutation cache
    Caches.localized(
      cp.join(docs, Seq("c"), "left")
        .join(tokens, Seq("c"), "left")
        .join(types, Seq("c"), "left")
        .select(col("c"), coalesce(col("docs_seen"), lit(0L)).as("docs_seen"),
          coalesce(col("tokens_seen"), lit(0L)).as("tokens_seen"),
          coalesce(col("distinct_types"), lit(0L)).as("distinct_types"))
        .orderBy("c"),
      ordered)
  }

  /** Per-group Gini coefficient of the token-frequency distribution —
    * lexical concentration: 0 = every type equally frequent, →1 = a few
    * types carry all the mass (burned-in boilerplate, generator loops,
    * templated spam). The companion scalar to [[vocabCoverage]]'s cutoff
    * search.
    *
    * Exact rank algebra on the COMPRESSED (count value v, types m) table
    * (the [[groupQuantiles]]/vocabCoverage trick — a raw rank over the
    * vocabulary would sort every type in one window partition): a tie
    * block of m types at ascending-rank start s contributes
    * Σ 2·i·v = v·m·(2s + m − 1) to twice the rank-weighted mass A, all
    * integers; G = (2A − (n+1)·S) / (n·S) with n = vocab size, S = token
    * mass. 2A and the numerator/denominator products are carried as
    * DECIMAL(38,0) — n·S alone passes 2⁶³ at ~10⁷ types × 10¹² tokens —
    * and the single division happens on the string-rendered decimals
    * (engine-exact). Window state ∝ distinct count VALUES per group,
    * bounded by design.
    *
    * Output: (group, vocab_size, total_tokens, gini). */
  def tokenGini(df: DataFrame, groupCol: String, textCol: Column): DataFrame = {
    val counts = df.select(col(groupCol), explode(split(textCol, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("c"))
    val byValue = counts.groupBy(col(groupCol), col("c").as("v"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy(groupCol).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = DecimalType(38, 0)
    byValue
      .withColumn("s", coalesce(sum("m").over(w), lit(0L)) + 1)
      .groupBy(groupCol)
      .agg(
        sum(col("v").cast(dec) * col("m") * (lit(2) * col("s") + col("m") - 1))
          .cast(dec).as("a2"),
        sum("m").as("n"),
        sum(col("v") * col("m")).as("tot"))
      .select(col(groupCol), col("n").as("vocab_size"),
        col("tot").as("total_tokens"),
        (decAsDouble((col("a2") - (col("n") + 1).cast(dec) * col("tot"))
            .cast(dec)) /
          decAsDouble((col("n").cast(dec) * col("tot")).cast(dec)))
          .as("gini"))
  }

  /** Per-group Simpson concentration of the token-frequency distribution
    * and its inverse, the EFFECTIVE vocabulary size (inverse participation
    * ratio / Rényi-2 "perplexity"): simpson = Σ c_t² / S² is the
    * probability two independently drawn tokens are the same type;
    * eff_types = S² / Σ c_t² is "how many equally-frequent types would
    * look like this corpus" — the diversity scalar that, unlike Shannon
    * entropy, needs NO transcendentals: Σ c² and S are exact integer
    * aggregates (DECIMAL(38,0) — Σ c² passes 2⁶³ once one type exceeds
    * ~3·10⁹ occurrences), and each output is ONE division of the
    * string-rendered decimals, so it hash-replays in any engine where a
    * per-type c·log c sum cannot (order-dependent rounding + libm
    * last-ulp drift). Companion scalar to [[tokenGini]].
    *
    * Shape at 100 TB: one explode → two-phase (group, token) count (the
    * shuffle is vocabulary-sized, map-side combine absorbs Zipf heads)
    * → one per-group aggregate. No windows, no joins, no driver state.
    *
    * Output: (group, vocab_size, total_tokens, simpson, eff_types). */
  def tokenSimpson(df: DataFrame, groupCol: String, textCol: Column)
      : DataFrame = {
    val dec = DecimalType(38, 0)
    val counts = df.select(col(groupCol), explode(split(textCol, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("c"))
    counts.groupBy(groupCol)
      .agg(
        count(lit(1)).as("vocab_size"),
        sum("c").as("tot"),
        // cast BEFORE the product — a long·long square overflows first at
        // the very count magnitudes the decimal is there for
        sum((col("c").cast(dec) * col("c")).cast(dec)).cast(dec).as("sq"))
      .select(col(groupCol), col("vocab_size"),
        col("tot").as("total_tokens"),
        (decAsDouble(col("sq")) /
          decAsDouble((col("tot").cast(dec) * col("tot")).cast(dec)))
          .as("simpson"),
        (decAsDouble((col("tot").cast(dec) * col("tot")).cast(dec)) /
          decAsDouble(col("sq"))).as("eff_types"))
  }

  /** Decimal → double via the string rendering (correctly-rounded parse on
    * both engines — see EntryHelpers.decAsDouble, of the same shape). */
  private def decAsDouble(c: Column): Column = c.cast("string").cast("double")

  /** k-anonymity audit over quasi-identifier columns: a released dataset
    * re-identifies people when some COMBINATION of innocuous columns
    * (language × source × length bucket, zip × age × gender …) is rare
    * enough to single a record out — PII redaction alone
    * ([[TextAnalysis]]' redact pass) never catches this, because each
    * column is harmless in isolation. Returns every quasi-identifier
    * group with fewer than `k` members (the rows a k-anonymous release
    * must suppress or generalize) plus its size.
    *
    * Scale shape: ONE hash aggregation on the quasi-identifier tuple with
    * map-side combine, then a size filter — the shuffle carries at most
    * |distinct QI tuples| rows, and the output only the sub-k tail. No
    * windows, no joins; a skewed identifier tuple is exactly the case
    * the filter drops. Output: (qi columns…, n) for groups with n < k. */
  def kAnonymityRisk(df: DataFrame, qiCols: Seq[Column], k: Long)
      : DataFrame = {
    require(qiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2 (k=1 is vacuous), got $k")
    df.groupBy(qiCols: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }
}

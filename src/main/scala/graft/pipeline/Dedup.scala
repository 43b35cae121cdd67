package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators.
  *
  * All candidate generation is BUCKETED (hash-groupBy / LSH band buckets /
  * shared-shingle joins) — never an all-pairs crossJoin: at 100 TB the
  * candidate set must stay proportional to actual collisions, not N².
  * Everything is pure `org.apache.spark.sql.functions` (whole-stage
  * codegen; no UDFs).
  */
object Dedup {

  /** Whitespace tokens. */
  /** Default occupancy bound above which bucket-group pair expansion
    * falls back to the spillable join shape (see [[bucketPairs]]): 10⁴
    * members ≈ 1 MB of signature structs per aggregation buffer — far
    * under executor memory, far above any honest near-dup bucket. */
  val DefaultMaxBucket: Int = 10000

  def tokens(text: Column): Column = split(text, " ")

  /** Spread a narrow input across the cluster before CPU-heavy per-row
    * work. A corpus that arrives as one (or few) small files plans one
    * partition — and then ONE task shingles/hashes every document while
    * the rest of the cluster idles. No-op when the input is already at
    * least as wide as the default parallelism (the 100 TB case: thousands
    * of input splits — never pay a gratuitous shuffle there). */
  private def rebalance(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Word n-gram shingles (distinct set) — the unit of Jaccard similarity.
    * Rows shorter than n shingle to the whole text. Backed by the codegen'd
    * [[graft.functions.WordShingles]] kernel: the higher-order-function
    * formulation ([[shinglesHof]]) evaluates interpreted and was the
    * stack-dump-confirmed source of the warm-session 20-50× collapse on
    * this pipeline's CPU stage. NULL text ⇒ NULL (excluded from dedup). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.TextFunctions.word_shingles(text, n)

  /** The `functions._` HOF formulation of [[shingles]] — value-identical on
    * non-null text (pinned by spec). Interpreted eval (`transform` is
    * CodegenFallback): keep off hot paths; retained as the executable
    * specification of the shingle semantics. */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(text)))
  }

  /** Exact dedup: group by content hash, the smallest id is the canonical
    * survivor. One shuffle on the hash; map-side partial aggregation. */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))

  /** Skew-safe exact dedup: two-phase aggregation with a salt on the
    * content hash. A pathological key (one document duplicated 10⁹ times
    * at 100 TB) would otherwise send its whole group to one reducer; the
    * salted partial collapses each (hash, salt) cell map-side first, so
    * the final per-hash group sees at most `salts` rows. Same result as
    * [[exactSurvivors]]. */
  def exactSurvivorsSalted(
      df: DataFrame, textCol: String, idCol: String, salts: Int = 64): DataFrame =
    df.select(sha2(col(textCol), 256).as("content_hash"), col(idCol))
      .withColumn("__salt", pmod(xxhash64(col(idCol)), lit(salts)))
      .groupBy("content_hash", "__salt")
      .agg(min(col(idCol)).as("__min_id"), count(lit(1)).as("__cnt"))
      .groupBy("content_hash")
      .agg(min("__min_id").as(idCol), sum("__cnt").as("copies"))

  /** Duplicate-aware soft dedup (the SoftDeDup alternative to dropping):
    * every row is KEPT but carries a sampling weight `1/copies`, so each
    * duplicated content's total training mass equals one copy — the
    * gentler curve when hard dedup would throw away formatting/metadata
    * variation the trainer wants. Output: (id, copies, weight); weight is
    * one IEEE division of the exact integer count.
    *
    * Shape at 100 TB: the per-content count is the salted two-phase
    * aggregate ([[exactSurvivorsSalted]] — a 10⁹-copy pathological key
    * collapses map-side), and the join back to rows is hash-keyed (AQE
    * splits any residual skew). For NEAR-dup soft weights, feed
    * [[duplicateClusters]] output instead: weight by cluster size. */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
      salts: Int = 64): DataFrame = {
    val keyed = df.select(col(idCol), sha2(col(textCol), 256).as("__k"))
    val counts = keyed
      .withColumn("__salt", pmod(xxhash64(col(idCol)), lit(salts)))
      .groupBy("__k", "__salt").agg(count(lit(1)).as("__c"))
      .groupBy("__k").agg(sum("__c").as("copies"))
    keyed.join(counts, Seq("__k"))
      .select(col(idCol), col("copies"),
        (lit(1.0) / col("copies")).as("weight"))
  }

  /** Exact-duplicate pairs (dup → canonical), for delete lists. */
  def exactDuplicatePairs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(col(idCol))
    df.select(sha2(col(textCol), 256).as("content_hash"), col(idCol))
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .filter(col(idCol) =!= col("canonical_id"))
      .select(col(idCol).as("dup_id"), col("canonical_id"))
  }

  /** MinHash signature expression: k minimums of seeded xxhash64 over the
    * shingle set, as a single per-row column. CAUTION: higher-order
    * function lambdas are evaluated by the INTERPRETED expression engine
    * (no codegen) — k × |shingles| virtual-dispatched evals per row, and
    * throughput degrades further in long-lived sessions as JIT profiles
    * pollute. Prefer [[minhashSignatures]] (codegen'd aggregation) on any
    * hot path; this form remains for single-pass/streaming contexts. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      s => array_min(transform(shingleCol, x => xxhash64(s, x))))

  /** MinHash signatures via explode + hash aggregation — the codegen'd,
    * scale-preferred form: shingles explode to rows, k seeded `min(xxhash64)`
    * aggregates fold them map-side (partial aggregation collapses each id
    * to one row per partition BEFORE the shuffle, so the exchange carries
    * |ids| rows of k longs), and the signature array is assembled from the
    * k aggregate columns. Whole plan lives in WholeStageCodegen; identical
    * values to [[minhashSignature]].
    *
    * Input (id, sh); output (id, sig). Rows whose shingle set is empty drop
    * out (no shingles ⇒ nothing to hash ⇒ can never collide anyway);
    * [[shingles]] never emits an empty set. */
  def minhashSignatures(shingled: DataFrame, k: Int): DataFrame =
    shingled.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("id")
      .agg(min(xxhash64(lit(0), col("s"))).as("__m0"),
        (1 until k).map(i => min(xxhash64(lit(i), col("s"))).as(s"__m$i")): _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))

  /** (id, band, bh) LSH band-bucket rows for a signature table: the k-wide
    * signature splits into `bands` bands of k/bands values, each hashed to
    * one bucket id. `k` is required statically so the band hashes compile
    * to a codegen'd `xxhash64(band, elem…)` over `element_at` extractions —
    * the `transform`+`slice` lambda alternative runs interpreted
    * (hash-chain-identical values: XxHash64 folds array elements and scalar
    * children through the same seed chain).
    *
    * Carries a MERGE hint: a banded table is corpus-sized (ids × bands
    * rows), and Catalyst's static estimate of a projected text scan
    * under-counts the array blow-up by ~1000× (measured 254 KB estimated vs
    * 100s of MB actual at sf0.1) — without the hint the planner broadcasts
    * a whole corpus side whenever the shared cache isn't materialized yet,
    * a collect+serialize storm that measured 6-40× the query's true cost
    * (and at 1000 executors would OOM the driver outright). */
  def bandedSignatures(
      df: DataFrame, idCol: String, sigCol: String, bands: Int, k: Int): DataFrame = {
    require(k % bands == 0, s"signature width $k not divisible by bands $bands")
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b) +: (0 until r).map(j =>
          element_at(col(sigCol), b * r + j + 1)): _*).as("bh"))
    }
    df.select(col(idCol).as("id"), explode(array(bandCols: _*)).as("b"))
      .select(col("id"), col("b.band"), col("b.bh"))
      .hint("merge")
  }

  /** Memory-bounded bucket→pair expansion shared by every bucket-group
    * dedup shape ([[lshCandidatePairs]], [[simhashPairs]],
    * [[minhashEstimates]]). Input: one row per bucket member with the
    * bucket key columns plus a `m` member struct whose first field is
    * `id`; output: (a, b) member-struct pairs with a.id < b.id, exactly
    * the within-bucket cross pairs.
    *
    * Two shapes, split by OCCUPANCY, both fed from ONE reused exchange on
    * the bucket key (a spillable window count decides the route):
    *  - c ≤ maxBucket: bucket-group + in-row pair expansion — one
    *    collect_list buffer per bucket, but now PROVABLY bounded at
    *    maxBucket members, and the groupBy rides the window's exchange
    *    (no extra shuffle).
    *  - c > maxBucket (a mega-bucket: mass-duplicated content, the skew
    *    case): fall back to a merge self-join on the bucket key, whose
    *    match-group buffers (ExternalAppendOnlyUnsafeRowArray) SPILL —
    *    the c² pair volume is inherent to LSH in any shape, but no
    *    single aggregation buffer ever holds a mega-bucket's members.
    * Semantics are identical on both routes, so the split is invisible
    * to callers; [[lshBandStats]] remains the pre-flight occupancy
    * report for sizing maxBucket. */
  private[pipeline] def bucketPairs(rows: DataFrame, keyCols: Seq[String],
      maxBucket: Int, dropOversized: Boolean = false): DataFrame = {
    // maxBucket = 1 is legal and yields no pairs (every multi-member
    // bucket is oversized; with dropOversized they all prune away)
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val keys = keyCols.map(col)
    val sized = rows.withColumn("__c",
      count(lit(1)).over(Window.partitionBy(keys: _*)))
    val small = sized
      .filter(col("__c") > 1 && col("__c") <= maxBucket)
      .groupBy(keys: _*).agg(collect_list(col("m")).as("ms"))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .select(col("a"), col("b"))
    // dropOversized: the caller treats over-occupied buckets as
    // boilerplate to PRUNE (substring windows), not skew to spill —
    // the plan stays join-free
    val paired =
      if (dropOversized) small
      else {
        val megaRows = sized.filter(col("__c") > maxBucket)
          .select(keys :+ col("m"): _*)
        // merge hint on BOTH sides: a mega bucket is huge at runtime
        // however small the static estimate looks — never a broadcast
        // build side
        small.unionByName(
          megaRows.alias("x").hint("merge")
            .join(megaRows.alias("y").hint("merge"), keyCols)
            .select(col("x.m").as("a"), col("y.m").as("b")))
      }
    paired.filter(col("a.id") < col("b.id"))
  }

  /** LSH candidate pairs: docs colliding on any full band are candidates.
    * The band shuffle is on (band_index, band_hash) — bucket-local, never
    * all-pairs — and pair expansion goes through [[bucketPairs]]: the
    * in-row bucket-group shape up to `maxBucket` members, the spillable
    * join shape above it, so a mega-bucket (mass-duplicated content)
    * degrades to disk instead of blowing an aggregation buffer. */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, sigCol: String, bands: Int, k: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandedSignatures(df, idCol, sigCol, bands, k)
    bucketPairs(
      banded.select(col("band"), col("bh"), struct(col("id")).as("m")),
      Seq("band", "bh"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Shared candidate-generation prologue: the exploded (id, shingle)
    * table, optionally pruned of stop-shingles occurring in more than
    * `maxShingleFreq` docs (a shingle shared by m docs contributes m²
    * pairs). Merge hints throughout: every side here is corpus-sized
    * (see lshCandidatePairs — the static size estimate under a shingle
    * projection is ~1000× low, and a mis-planned broadcast of an
    * exploded shingle table is fatal); callers must RE-hint before
    * joining — the optional left-semi prune node between the hinted
    * `exploded` and a downstream join does not carry the hint through
    * (same trap substringDupPairs hit — a corpus-sized BuildRight). */
  private def prunedExplodedShingles(
      shingled: DataFrame, maxShingleFreq: Option[Int]): DataFrame =
    freqPruned(
      shingled.select(col("id"), explode(col("sh")).as("s")).hint("merge"),
      "s", maxShingleFreq)

  /** The frequency prune itself, generic over the token column — shared
    * by the shingle paths and [[fuzzyKeyPairs]]' gram blocking so the
    * hint-trap-sensitive prune join lives in exactly one place. */
  private def freqPruned(exploded: DataFrame, tokenCol: String,
      maxFreq: Option[Int]): DataFrame =
    maxFreq match {
      case Some(m) =>
        val freq = exploded.groupBy(tokenCol).count()
          .filter(col("count") <= m).hint("merge")
        exploded.join(freq.select(tokenCol), Seq(tokenCol), "left_semi")
      case None => exploded
    }

  /** Full-set intersection counts for CANDIDATE pairs: join each side's
    * shingle array back in and count |A∩B| exactly — the per-candidate
    * verify shape ([[verifyJaccardBetween]]'s core), exposed as counts
    * so score definitions other than Jaccard (containment etc.) reuse
    * the same merge-hinted double join instead of hand-rolling the
    * broadcast-trap-sensitive shape. */
  private def fullSetCounts(candidates: DataFrame, sh: DataFrame): DataFrame = {
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a")).hint("merge")
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b")).hint("merge")
    candidates.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(col("sh_a")).as("sz_a"), size(col("sh_b")).as("sz_b"))
  }

  /** Candidate pairs sharing at least one (surviving) shingle —
    * deterministic and complete for Jaccard > 0 (used as the
    * exact-oracle path). At scale, `maxShingleFreq` drops stop-shingles
    * from CANDIDATE GENERATION only — verification still sees full
    * shingle sets; prefer [[lshCandidatePairs]] beyond ~10⁶ docs. */
  def sharedShingleCandidates(
      shingled: DataFrame, maxShingleFreq: Option[Int] = None): DataFrame = {
    val pruned = prunedExplodedShingles(shingled, maxShingleFreq)
    pruned.hint("merge").alias("a").join(pruned.hint("merge").alias("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Co-shingle pair table WITH exact intersection counts:
    * (id_a, id_b, inter, sz_a, sz_b) for every pair sharing ≥ 1 shingle.
    * Shingle sets are DISTINCT per doc, so each shared shingle joins to
    * exactly one row — the per-pair row count IS |A∩B|, and the pair
    * aggregation replaces [[sharedShingleCandidates]]' distinct at the
    * same shuffle width. Set sizes ride back on two NARROW (id, |sh|)
    * merge joins; the shingle ARRAYS never cross a second shuffle and no
    * per-pair array_intersect runs (the verifyJaccard shape re-ships
    * corpus-sized arrays twice — right for sparse LSH candidates where
    * the arrays are the only intersection source, wasteful for the full
    * co-shingle scan where the join already counted it).
    *
    * UNPRUNED ONLY: under a stop-shingle prune the joined row count is
    * |A∩B minus pruned shingles| — a numerator that no longer matches
    * the full-set sizes — so pruned callers must take the
    * candidates + full-array verify path instead (review finding,
    * round 9). */
  private def coShingleCounts(shingled: DataFrame): DataFrame = {
    // the set sizes RIDE the exploded rows through the self-join (8
    // bytes per side) instead of joining back afterwards: the old shape
    // paid two more exchanges + sorts of the full PAIR table (by id_a,
    // then id_b) plus two of the size table — for a value that is
    // functionally determined by the pair key and already known at
    // explode time. Same trick ngramJaccardPairsPrefix uses for its
    // prefix bound. Measured (sf0.1 documents, same-session A/B):
    // 1.9 → 1.1 s; plan drops from 5 exchanges to 3.
    val ex = shingled
      .select(col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
      .hint("merge")
    ex.alias("a")
      .join(ex.alias("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("a.sz")).as("sz_a"), max(col("b.sz")).as("sz_b"))
  }

  /** PREFIX-FILTERED exact Jaccard pairs (AllPairs/ppjoin candidate
    * pruning, Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06): for
    * Jaccard(A,B) ≥ t we must have |A∩B| ≥ ⌈t·|A|⌉, so under ANY common
    * total order of shingles the first |A| − ⌈t·|A|⌉ + 1 shingles of A
    * and the corresponding prefix of B must share an element — pairs
    * can be generated from PREFIX collisions only, LOSSLESSLY. Ordering
    * by global rarity (document frequency ASC, shingle ASC) makes those
    * prefixes the rarest shingles, so candidate volume collapses
    * against the all-shared-shingle join while the OUTPUT is provably
    * identical to [[ngramJaccardPairs]] — the candidate generator for
    * high thresholds at corpus scale (t = 0.8 keeps ~20% of each set's
    * shingles as prefix). Costs one extra df aggregate + one id-keyed
    * window over the exploded table; verification joins the full
    * shingle arrays exactly as the unfiltered path does. */
  def ngramJaccardPairsPrefix(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingled(df, textCol, idCol, n).persist() // see minhashDedupPairs
    // the set size rides the explode — a second count-over-partition
    // window would re-aggregate what size(sh) already knows
    val exploded = sh.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s")).hint("merge")
    val dfreq = exploded.groupBy("s").agg(count(lit(1)).as("df")).hint("merge")
    val byDoc = Window.partitionBy("id").orderBy("df", "s")
    val prefix = exploded.hint("merge").join(dfreq, "s")
      .withColumn("rnk", row_number().over(byDoc))
      // prefix length |s| − m + 1 with m = floor(|s|·t), a CONSERVATIVE
      // stand-in for the textbook m = ⌈t·|s|⌉: the IEEE product can land
      // an ulp above an exactly-integer t·|s| (e.g. |s|·0.7 families),
      // where ceil would round UP to m+1 and silently shorten the prefix
      // below the lossless bound. floor of the same product is ≤ the
      // exact ⌈t·|s|⌉ for every t in (0,1], so the prefix is at worst one
      // element longer and the LOSSLESS guarantee holds for arbitrary
      // thresholds, not just gate-safe ones.
      .filter(col("rnk") <= col("sz") - floor(col("sz") * lit(threshold)) + 1)
      .select(col("id"), col("s"))
    val cand = prefix.hint("merge").alias("a")
      .join(prefix.hint("merge").alias("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sh, threshold)
  }

  /** Exact Jaccard verification of candidate pairs: join each side's
    * shingle set back in (only for candidates — linear in candidate
    * count), compute |∩| / |∪|. */
  def verifyJaccard(
      candidates: DataFrame, shingled: DataFrame, threshold: Double): DataFrame =
    verifyJaccardBetween(candidates, shingled, shingled, threshold)

  /** [[verifyJaccard]] generalized to candidates whose two sides come from
    * DIFFERENT shingle tables (`id_a` resolved in `shingledA`, `id_b` in
    * `shingledB`) — the cross-corpus case. */
  def verifyJaccardBetween(
      candidates: DataFrame, shingledA: DataFrame, shingledB: DataFrame,
      threshold: Double): DataFrame = {
    // MERGE hint on each corpus side: without it, the under-estimated
    // shingle side (see bandedSignatures) gets chosen for broadcast —
    // the corpus must never be a build/broadcast side. The hint must sit
    // on BOTH shingle branches: a strategy hint on `candidates` only
    // reaches the first join, and the second (candidates⋈a)⋈b join then
    // happily broadcasts `b` (observed: BuildRight on the sh_b side).
    val a = shingledA.select(col("id").as("id_a"), col("sh").as("sh_a")).hint("merge")
    val b = shingledB.select(col("id").as("id_b"), col("sh").as("sh_b")).hint("merge")
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** id + distinct shingle set, the shared input of the dedup family.
    * Rebalanced first: shingling is the CPU-heavy per-row stage. */
  def shingled(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    rebalance(df).select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification:
    * shingle → minhash(k) → LSH bands → bucket join → verify. The scale
    * path: candidate volume ∝ true collisions. */
  /** Default k=32/bands=16 (r=2): for the near-dup regime this targets
    * (J ≳ 0.9) the per-pair miss probability is (1−J²)¹⁶ < 1e-18, and the
    * signature costs half of k=64. */
  def minhashDedupPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    // persist() is load-bearing: without it Catalyst's project-collapse
    // inlines the shingle expression into every one of the k per-position
    // minhash lambdas (and again into the verify join), recomputing
    // split+ngram+distinct k× per row — observed 20× slowdown. The
    // materialized shingle set is the intermediate a 100 TB run would
    // spill to disk (MEMORY_AND_DISK default).
    val sh = shingled(df, textCol, idCol, n).persist()
    // signatures via the codegen'd aggregation (minhashSignatures), not the
    // per-row HOF lambda: interpreted HOF eval was the whole-query
    // bottleneck (observed 60x in long-lived sessions). No persist: since
    // the bucket-group rewrite, lshCandidatePairs is the signature table's
    // only consumer (the persist used to guard the self-join's two sides)
    val sig = minhashSignatures(sh, k)
    val cand = lshCandidatePairs(sig, "id", "sig", bands, k)
    verifyJaccard(cand, sh, threshold)
  }

  /** Incremental (cross-corpus) MinHash-LSH dedup: flag documents of an
    * incoming `batch` that are near-duplicates of something already in
    * `corpus` — the continuous-ingestion pattern (each new crawl is
    * deduplicated AGAINST the accumulated dataset before being appended;
    * batch-internal duplicates are [[minhashDedupPairs]]' job). The
    * candidate join probes the batch's LSH band buckets against the
    * corpus's: cost ∝ actual collisions, and the corpus NEVER self-joins —
    * at 100 TB the corpus side of the bucket join shuffles once on
    * (band, bh) and each verify touches only colliding pairs. In
    * production the corpus's banded-signature and shingle tables are
    * computed once, stored alongside the corpus and extended append-only
    * per admitted batch (signatures of old rows never change); deriving
    * them inline here keeps the operator self-contained.
    *
    * Output: (batch_id, corpus_id, jaccard), one row per verified
    * near-dup pair with jaccard >= threshold. Returns a PERSISTED,
    * already-materialized frame — the caller owns that (candidate-sized)
    * cache and unpersists it after use; the corpus-sized shingle
    * intermediate is released here. */
  def minhashDedupAgainst(
      corpus: DataFrame, batch: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val shC = shingled(corpus, textCol, idCol, n).persist() // see minhashDedupPairs
    val bandedC = bandedSignatures(minhashSignatures(shC, k), "id", "sig", bands, k)
    val out = minhashDedupAgainstTables(shC, bandedC, batch, textCol, idCol,
      n, k, bands, threshold)
    // the result is fully materialized inside AgainstTables, so the
    // corpus shingle cache has no remaining consumer — release it here
    // rather than leaking a corpus-sized cache per admitted batch
    shC.unpersist()
    out
  }

  /** The persisted-corpus form of [[minhashDedupAgainst]]: takes the
    * corpus's shingle table (id, sh) and banded-signature table
    * (id, band, bh) PRECOMPUTED — in production both live as parquet
    * alongside the corpus and are extended append-only as batches are
    * admitted (old rows' signatures never change), so per-batch dedup
    * cost is the batch's own shingling plus the bucket probe, independent
    * of re-deriving anything corpus-sized.
    *
    * Per-batch plan: two corpus SCANS, zero corpus shuffles — the banded
    * probe broadcasts the batch's bands, the verify pre-prunes the corpus
    * shingle table to candidate ids with a broadcast semi-join. Returns a
    * PERSISTED, materialized frame (Bpe.learn convention): the caller
    * owns the cache and unpersists after use. */
  def minhashDedupAgainstTables(
      corpusShingled: DataFrame, corpusBanded: DataFrame, batch: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val shB = shingled(batch, textCol, idCol, n).persist()
    val bandedB = bandedSignatures(minhashSignatures(shB, k), "id", "sig", bands, k)
    // the BATCH side is the ingest increment — bounded by contract (one
    // crawl / one micro-batch), orders of magnitude below the corpus — so
    // the bucket probe is an EXPLICIT broadcast-hash join with the batch
    // as build side: the corpus-banded table streams through unshuffled
    // and unsorted (the previous merge-hinted join sorted corpus × bands
    // rows on every admitted batch). The broadcast is a Spark-managed
    // DataFrame broadcast of batch × bands (band, bh, id) rows; the
    // corpus side must still never be the build side (its static size
    // estimate undercounts ~1000× — see bandedSignatures).
    val cand = broadcast(bandedB.alias("a"))
      .join(corpusBanded.alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .persist() // read twice: the id prune below + the verify join
    // prune the corpus shingle table to candidate ids with a broadcast
    // semi-join BEFORE the verify: the corpus scans once unshuffled, and
    // verifyJaccardBetween's sort-merge then sorts a candidate-sized
    // slice instead of the whole corpus on every admitted batch
    val corpusSlice = corpusShingled.join(
      broadcast(cand.select(col("id_b").as("id")).distinct()),
      Seq("id"), "left_semi")
    val out = verifyJaccardBetween(cand, shB, corpusSlice, threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"),
        col("jaccard"))
      .persist()
    out.count() // materialize while cand/shB caches are live
    cand.unpersist()
    shB.unpersist()
    out
  }

  /** Connected components over a near-duplicate pair graph: every node
    * gets the MIN id of its component as `cluster_id` — the training-data
    * dedup step that turns pairwise matches into one canonical survivor
    * per cluster (survivor = the row whose id equals its cluster_id).
    *
    * Min-label propagation: each iteration pushes labels one hop along
    * the (symmetrized) edges and folds with a min-aggregate, so the loop
    * runs O(component diameter) rounds — near-dup graphs have tiny
    * diameters in practice, and at extreme scale the same loop upgrades
    * to large-star/small-star without changing callers. Each round is one
    * shuffle join + one shuffle agg on (id) and localCheckpoints its
    * result: lineage stays one round deep, never the whole history. The
    * driver sees only the converged-count per round, never the labels.
    *
    * Input columns `id_a`/`id_b`; output (id, cluster_id), covering only
    * ids that appear in some pair — callers left-join their full table
    * and coalesce to the row's own id (singleton clusters). */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    // persist the symmetrized edges PARTITIONED BY THE JOIN KEY: distinct()
    // leaves the cache hash(src, dst)-partitioned, which satisfies no
    // requirement of the per-round join on `src` — every round would
    // re-exchange the whole edge table. One up-front repartition(src)
    // makes the cached layout the join's required distribution, so the
    // loop shuffles only the (changing) label table per round. Measured
    // (sf0.1 knn graph, 10 rounds, same-session A/B): loop 3.06 → 2.45 s
    // together with the check cadence below.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().repartition(col("src")).persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id")).localCheckpoint()
    val idType = labels.schema("cluster_id").dataType
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val hop = edges
        .join(labels.select(col("id").as("src"), col("cluster_id")),
          Seq("src"))
        .select(col("dst").as("id"), col("cluster_id"))
      // the previous label rides INTO the round's one aggregate as a
      // min-folded extra column (labels rows carry it, hop rows carry
      // NULL, and min ignores nulls — every node appears in the labels
      // branch exactly once, so min(prev) IS the old label): the
      // convergence count below is then a filter over the blocks the
      // localCheckpoint just materialized, and the old shape's
      // per-round labels-vs-next JOIN (a second shuffle + full count
      // job per round) is gone
      val next = labels
        .select(col("id"), col("cluster_id"), col("cluster_id").as("prev"))
        .unionByName(hop.withColumn("prev", lit(null).cast(idType)))
        .groupBy("id").agg(min("cluster_id").as("cluster_id"),
          min("prev").as("prev"))
        .localCheckpoint()
      // convergence check every SECOND round: labels move monotonically
      // toward the component min, so a skipped check can only run one
      // extra (cheap, already-converged) round — while each check is a
      // separate driver action over the round's blocks. Even-diameter
      // graphs pay half the check jobs and no extra round; odd-diameter
      // ones trade one ~free round for half the checks. The result is
      // check-cadence-independent (the fixpoint is unique).
      changed = if (round % 2 == 0) next.filter(col("cluster_id") =!= col("prev")).count() else 1L
      // release the superseded round's checkpoint blocks NOW — without
      // this, executors hold O(rounds) full label-table copies until GC
      Caches.releaseLocalCheckpoint(labels)
      labels = next
    }
    edges.unpersist()
    labels.select("id", "cluster_id")
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the extreme-scale upgrade path [[duplicateClusters]] documents.
    * Same contract: input pair columns `id_a`/`id_b`, output
    * (id, cluster_id = component min) covering every id in some pair.
    *
    * Why a second algorithm: min-label propagation runs O(component
    * diameter) rounds — fine for near-dup graphs (tiny diameters), fatal
    * for path-shaped components (a 10⁶-long chain = 10⁶ shuffle rounds).
    * Star rounds contract EVERY node toward its neighborhood minimum
    * simultaneously, converging in O(log² n) rounds regardless of
    * diameter, and each round is the same bounded shape: one
    * symmetrize-free groupBy-min + one shuffle join on the edge table
    * (work ∝ |E|, driver sees only counts). Edges stay CANONICAL
    * (u = min endpoint) throughout, so large-star needs the symmetrized
    * view only inside its per-round aggregate, never materialized.
    *
    * Termination is the star property checked DIRECTLY (no node is both
    * a parent and a child, and every child has exactly one parent) — a
    * connected edge set that is a union of depth-1 stars is a single
    * star rooted at its component min, so the check certifies the
    * answer rather than trusting a fixed-point argument. Lineage is cut
    * per round with localCheckpoint, superseded blocks released eagerly
    * (the [[duplicateClusters]] discipline). */
  def duplicateClustersStar(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct().localCheckpoint()
    var done = edges.isEmpty
    var round = 0
    while (!done) {
      round += 1
      // O(log² n) is ~64 rounds at any physical scale; past that the
      // input violated the algorithm's preconditions — fail loudly
      // instead of looping the cluster forever
      require(round <= 64, s"star components did not converge in $round rounds")
      // large-star: each node links its LARGER neighbors to the min of
      // its closed neighborhood. m <= u < v, so (m, v) is born canonical.
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .distinct()
      // small-star: each node folds its SMALLER neighbors (and itself)
      // onto the min of that set. Canonical edges already point small:
      // group by the high endpoint v, m = min of its low neighbors.
      val minsS = large.groupBy("v").agg(min("u").as("m"))
      val attachLow = large.join(minsS, Seq("v"))
        .filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v")) // m < u: canonical
      val attachHigh = minsS.select(col("m").as("u"), col("v"))
      val next = attachLow.unionByName(attachHigh)
        .distinct().localCheckpoint()
      // star property: parents never appear as children, one parent per
      // child — certifies next IS the answer (roots = component minima).
      // Both conditions fold into ONE shuffle aggregate over the edge
      // endpoints (a per-node parent flag + child count), not an
      // intersect-plus-groupBy pair of jobs.
      // the check costs a full endpoint aggregate + a driver action per
      // round (~0.2 s scheduling floor at local[32]); a graph holding ANY
      // 2-hop path cannot be a star union before round 3, so the first
      // two checks can never fire there — skip them. Degenerate inputs
      // (already a union of depth-1 stars) converge at round 1 and now
      // pay two extra no-op rounds; the certifying check remains the
      // SOLE terminator, so correctness is cadence-independent.
      // Measured (sf0.1 knn graph, 4 rounds, same-session A/B):
      // loop 2.08 → 1.63 s.
      done = round >= 3 && {
        val offenders = next
          .select(col("u").as("x"), lit(1L).as("p"), lit(0L).as("c"))
          .unionByName(
            next.select(col("v").as("x"), lit(0L).as("p"), lit(1L).as("c")))
          .groupBy("x").agg(max("p").as("p"), sum("c").as("c"))
          .filter((col("p") === 1 && col("c") > 0) || col("c") > 1)
        offenders.limit(1).count() == 0
      }
      Caches.releaseLocalCheckpoint(edges)
      edges = next
    }
    edges.select(col("v").as("id"), col("u").as("cluster_id"))
      .unionByName(
        edges.select(col("u").as("id"), col("u").as("cluster_id")).distinct())
  }

  /** Deterministic exact near-dup pairs (oracle path): all pairs with
    * n-gram Jaccard >= threshold via the shared-shingle candidate join. */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val sh = shingled(df, textCol, idCol, n).persist() // see minhashDedupPairs
    maxShingleFreq match {
      // a stop-shingle prune must not distort the SCORE (full-set
      // Jaccard on pruned candidates is the documented contract), so
      // the pruned path verifies against the full arrays
      case Some(_) =>
        verifyJaccard(sharedShingleCandidates(sh, maxShingleFreq), sh, threshold)
      case None =>
        coShingleCounts(sh)
          .withColumn("jaccard",
            col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
    }
  }

  /** Asymmetric CONTAINMENT (overlap-coefficient) near-dup pairs:
    * containment = |A∩B| / min(|A|,|B|) over distinct n-gram shingle
    * sets — the doc-inside-doc signal Jaccard dilutes (a page embedded
    * verbatim in a 100× larger page has Jaccard ≈ 0.01 but containment
    * 1.0; this is the gate that catches boilerplate-wrapped copies and
    * quote-heavy near-dups). Candidates from shared shingles (the same
    * pruned merge-hinted path as [[ngramJaccardPairs]] — work ∝ shingle
    * collisions, never corpus²). The threshold test is INTEGER
    * (100·|∩| ≥ pct·min) so pair-set membership is engine-exact; the
    * reported score is one IEEE division of those exact integers. */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, pct: Int = 80,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val sh = shingled(df, textCol, idCol, n).persist() // see minhashDedupPairs
    val counted = maxShingleFreq match {
      // same contract as ngramJaccardPairs: a stop-shingle prune scopes
      // CANDIDATE GENERATION only — the score always uses full sets
      case Some(_) =>
        fullSetCounts(sharedShingleCandidates(sh, maxShingleFreq), sh)
      case None => coShingleCounts(sh)
    }
    counted
      .withColumn("min_sz", least(col("sz_a"), col("sz_b")))
      // long arithmetic: an INT min_sz·pct overflows past ~27M shingles
      // (ANSI mode would kill the job on one pathological blob)
      .filter(col("inter") * 100 >= col("min_sz").cast("long") * pct)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("min_sz")).as("containment"))
  }

  /** Fuzzy KEY matching (entity resolution): pairs of rows whose key
    * strings are within `maxEdits` Levenshtein distance — the
    * typo-tolerant join record linkage runs on names/titles/urls.
    * Candidates come from shared character q-grams (the q-gram lemma:
    * one edit destroys at most q grams, so keys with more than
    * q·maxEdits grams and distance ≤ maxEdits still share one);
    * `maxGramFreq` drops boilerplate grams carried by too many keys
    * (shared-prefix key formats would pair everything) — that prune
    * trades recall exactly like substringDupPairs' window prune and is
    * replayed by the oracle. Verification is ONE exact integer
    * Levenshtein per candidate — the classic DP distance both engines
    * implement identically, so the whole operator is SQL-replayable.
    * Work ∝ gram collisions, never corpus². */
  def fuzzyKeyPairs(df: DataFrame, keyCol: String, idCol: String,
      maxEdits: Int = 1, q: Int = 4,
      maxGramFreq: Option[Int] = None): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(keyCol).as("k"))
      .persist() // see minhashDedupPairs
    // kernel grams are DISTINCT per key (CharWindows contract); the key
    // LENGTH rides along so the candidate join can prefilter on it
    val grams = keyed.select(col("id"), length(col("k")).as("len"),
        explode(graft.functions.TextFunctions.char_windows(col("k"), q, 1))
          .as("g"))
      .hint("merge")
    val pruned = freqPruned(grams, "g", maxGramFreq)
    // re-hint both sides (the prune node drops the hint — see
    // prunedExplodedShingles). The length prefilter is LOSSLESS:
    // Levenshtein distance ≥ |len(a) − len(b)| (each edit changes the
    // length by at most 1), so any pair it drops could never verify —
    // and it runs as a codegen'd predicate inside the gram join, cutting
    // candidates before the distinct shuffle and the Levenshtein DP.
    val cand = pruned.hint("merge").alias("a")
      .join(pruned.hint("merge").alias("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxEdits)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val ka = keyed.select(col("id").as("id_a"), col("k").as("k_a")).hint("merge")
    val kb = keyed.select(col("id").as("id_b"), col("k").as("k_b")).hint("merge")
    cand.join(ka, "id_a").join(kb, "id_b")
      .withColumn("dist", levenshtein(col("k_a"), col("k_b")))
      .filter(col("dist") <= maxEdits)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** md5-derived 60-bit token hash: the first 15 hex chars of md5(token)
    * parsed as an integer. Slower than xxhash64 but reproducible in any
    * engine with an md5() (DuckDB: ('0x'||substr(md5(t),1,15))::BIGINT) —
    * used where the fingerprints themselves must be oracle-checkable. */
  def md5TokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** `width`-bit SimHash over whitespace tokens: bit b of the fingerprint is
    * the sign of Σ_tokens (±1 per token depending on bit b of
    * tokenHash(token)). Pure codegen'd expression (width × |tokens| bit
    * tests per row). */
  def simhash(text: Column, width: Int = 64,
      tokenHash: Column => Column = xxhash64(_)): Column =
    simhashFromHashes(transform(tokens(text), tokenHash), width)

  /** The per-bit vote folds over a PRE-MATERIALIZED token-hash array. Keep
    * the hash array in its own (persisted) projection: each of the `width`
    * aggregates traverses the array column, and higher-order functions are
    * not subexpression-eliminated — inlining the tokenize+hash expression
    * would recompute it width× per row. CAUTION: `aggregate` lambdas run
    * interpreted (see [[minhashSignature]]); prefer [[simhashSignatures]]
    * on hot paths. */
  def simhashFromHashes(hashes: Column, width: Int = 64): Column =
    (0 until width).map { b =>
      val bitSum = aggregate(hashes, lit(0L),
        (s, h) => s + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, c) => a.bitwiseOR(c))

  /** SimHash fingerprints via explode + hash aggregation — codegen'd
    * throughout and NARROW: token-hash rows (id, h) fan out over the
    * `width` bit positions, per-(id, bit) ±1 votes fold map-side (the
    * shuffle carries |ids| × width vote rows), and a second tiny aggregate
    * sums the winning bits' values into the fingerprint. Identical values
    * to [[simhashFromHashes]] over the same hashes (empty hash sets never
    * occur: `split` yields at least one token).
    *
    * Deliberately NOT one `width`-column aggregate: a 60-sum HashAggregate
    * generates a method large enough that its (Janino + C2) compilation
    * dominates the query in a long-lived session; two narrow aggregates
    * compile instantly and scale the same. */
  def simhashSignatures(tokenHashes: DataFrame, width: Int): DataFrame =
    tokenHashes
      .select(col("id"), col("h"),
        explode(sequence(lit(0), lit(width - 1))).as("bit"))
      .groupBy("id", "bit")
      .agg(sum(when(expr("shiftright(h, bit)")
          .bitwiseAND(1) === 1, 1L).otherwise(-1L)).as("vote"))
      .groupBy("id")
      .agg(sum(when(col("vote") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L)).as("sig"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found by
    * banding the `width`-bit fingerprint into `bands` chunks (pigeonhole:
    * any pair within maxHamming <= bands-1 shares at least one exact band)
    * and verifying with bit_count(xor). */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bands: Int = 4, width: Int = 64,
      tokenHash: Column => Column = xxhash64(_),
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(width % bands == 0, s"width $width not divisible by bands $bands")
    val bits = width / bands
    // tokens explode BEFORE hashing, so the token hash runs codegen'd on
    // rows — no interpreted array-lambda anywhere in the pipeline
    val tokenHashes = rebalance(df)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("__tok"))
      .select(col("id"), tokenHash(col("__tok")).as("h"))
    val withSig = simhashSignatures(tokenHashes, width)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("bh"))
    }
    // occupancy-split bucket expansion ([[bucketPairs]] — bounded
    // aggregation buffers, spillable mega-bucket fallback): each band row
    // carries (id, sig) into its bucket, the Hamming distance is computed
    // where the pair is born, and the cross-band dedup rides the final
    // aggregate — no persist barrier (every intermediate is single-use)
    val pairs = bucketPairs(
      withSig
        .select(explode(array(bandCols: _*)).as("b"),
          struct(col("id"), col("sig")).as("m"))
        .select(col("b.band").as("band"), col("b.bh").as("bh"), col("m")),
      Seq("band", "bh"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
    pairs.groupBy("id_a", "id_b")
      .agg(first(col("hamming")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact-substring duplicate pairs: documents sharing at least one
    * fixed-`width` CHARACTER window sampled every `stride` positions —
    * the memorized-span detection that catches verbatim copied runs
    * word-level shingles dilute (boilerplate headers, license blocks,
    * quoted passages). `shared` counts the distinct sampled windows a
    * pair has in common.
    *
    * Stride sampling detects spans whose copies are position-ALIGNED
    * modulo stride within the window (any copy of a run ≥ width+stride−1
    * chars is guaranteed caught: some sampled window fits inside it on
    * both sides only if alignments match — set `stride = 1` for full
    * positional sensitivity at ~width× the row volume; the default
    * trades recall on shifted copies for a `width/stride`-factor cost
    * cut, the standard large-corpus setting).
    *
    * Plan shape: codegen'd [[graft.functions.CharWindows]] kernel →
    * explode → ONE exchange on the window, inside which a spillable
    * window count serves as BOTH the boilerplate prune (windows in more
    * than `maxDocsPerWindow` docs would square the pair volume — dropped
    * entirely, they're boilerplate by definition) and the bucket-size
    * bound: the surviving buckets collect at most `maxDocsPerWindow` ids
    * each and expand pairs in-row, and the pair aggregate is the second
    * and final shuffle (the r9 shape paid a separate frequency
    * aggregation plus two merge self-join sorts over 40-char string
    * keys). Unpruned runs route through [[bucketPairs]] instead, whose
    * occupancy split keeps aggregation buffers bounded. Texts shorter
    * than `width` emit no windows and drop out. */
  def substringDupPairs(
      df: DataFrame, textCol: String, idCol: String,
      width: Int, stride: Int,
      maxDocsPerWindow: Option[Int] = None,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val wins = rebalance(df).select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.char_windows(
          col(textCol), width, stride)).as("w"))
      .select(col("w"), struct(col("id")).as("m"))
    // kernel windows are distinct per doc ⇒ bucket size == #docs carrying
    // the window, so maxDocsPerWindow doubles as the bucket bound; with a
    // prune requested, over-occupied buckets DROP (boilerplate), without
    // one they take bucketPairs' spillable join route at maxBucket
    val pairs = maxDocsPerWindow match {
      case Some(m) => bucketPairs(wins, Seq("w"), m, dropOversized = true)
      case None => bucketPairs(wins, Seq("w"), maxBucket)
    }
    pairs.groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
  }

  /** Exact dedup at NORMALIZED granularity with a QUALITY survivor
    * policy: documents identical after case/punctuation/whitespace
    * normalization ([[TextAnalysis.fingerprint]]) form one group, and the
    * survivor is the LONGEST raw variant (ties → smallest id) — the
    * "keep the richest copy" curation rule, where [[exactSurvivors]]
    * keeps the min-id copy of byte-identical text. Same scale shape: one
    * two-phase hash aggregate on the 16-byte fingerprint (max_by carries
    * (len, −id) so the policy rides the aggregate — no window, no second
    * shuffle). Output (norm_fp, id, copies, max_len). */
  def normSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("norm_fp"),
        // long, not int: DuckDB's length() is BIGINT and the gate's
        // hasher is type-sensitive
        col(idCol), length(col(textCol)).cast("long").as("__len"))
      .groupBy("norm_fp")
      .agg(
        max_by(col(idCol), struct(col("__len"), -col(idCol))).as(idCol),
        count(lit(1)).as("copies"),
        max(col("__len")).as("max_len"))

  /** LSH band-occupancy report — the DRY-RUN to query BEFORE paying for a
    * 100 TB MinHash dedup: per band, how many distinct buckets, the
    * largest bucket, how many singletons (which contribute nothing), and
    * the candidate-pair workload Σ c·(c−1)/2 the band's self-join would
    * emit. A skewed `max_bucket` or exploding `candidate_pairs` says
    * "re-tune bands/rows or add a stop-shingle cap" for a few corpus
    * scans instead of discovering it as a hung join.
    *
    * Bucket identity is the literal r-tuple of signature values (no
    * bucket hash — exact, and a hash collision can't merge two buckets);
    * signatures use the seeded 60-bit md5 basis (`seed || '|' || shingle`,
    * [[md5TokenHash]] convention) so the whole report replays in any
    * engine with md5(). Cost: one corpus shingle explode + two two-phase
    * hash aggregations; the (band, key) exchange carries ids × bands rows
    * of r longs — the same cost class as the LSH join it predicts. */
  def lshBandStats(df: DataFrame, idCol: String, textCol: Column,
      shingleN: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"signature width $k not divisible by bands $bands")
    sigBands(md5Signatures(df, idCol, textCol, shingleN, k), k, bands)
      .select(col("bk.band").as("band"), col("bk.key").as("key"))
      .groupBy("band", "key").agg(count(lit(1)).as("c"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        max("c").as("max_bucket"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("singleton_buckets"),
        // halve BEFORE multiplying: a mega-bucket with c > ~4.3e9 members
        // would overflow c*(c-1) in BIGINT — exactly the skew this dry-run
        // report exists to catch, so it must not report garbage there.
        // (c/2)*(c-1) when c even, c*((c-1)/2) when c odd — both exact
        sum(expr("CASE WHEN c % 2 = 0 THEN (c DIV 2) * (c - 1) " +
          "ELSE c * ((c - 1) DIV 2) END")).as("candidate_pairs"))
      .orderBy("band")
  }

  /** Content-defined chunking dedup — the SHIFT-ROBUST chunk granularity
    * (the CDC idea behind rsync/LBFS/FastCDC, applied at token level):
    * a token whose 60-bit md5 hash ≡ 0 (mod 2^maskBits) CLOSES the
    * current chunk, so boundaries depend only on content — inserting a
    * prefix shifts every fixed-stride window but moves NO interior CDC
    * boundary, and the shared chunks still collide. Expected chunk
    * length ≈ 2^maskBits tokens.
    *
    * Output: (chunk_hash, n_docs, n_occurrences) for chunks appearing in
    * more than one document, ordered (n_docs DESC, n_occurrences DESC,
    * chunk_hash) — the cross-document repeated-content report.
    *
    * Scale shape: chunking runs INSIDE the scan (the codegen'd CdcChunks
    * kernel hashes each token once and emits the chunk strings per row),
    * so the corpus never explodes into token rows and the per-doc
    * boundary window + ordered-collect reassembly shuffles disappear —
    * the only shuffle is the two-phase aggregate on the 16-byte chunk
    * hash. The md5 basis makes boundaries, chunks and counts replay
    * exactly in SQL. */
  def cdcChunkDupCounts(
      df: DataFrame, idCol: String, textCol: Column,
      maskBits: Int): DataFrame = {
    require(maskBits >= 1 && maskBits <= 20, s"maskBits in [1,20]: $maskBits")
    // NOT rebalanced: measured (interleaved A/B, sf0.1) 0.46 → 0.54 s —
    // the CDC kernel is one md5 per token (vs k per shingle in
    // md5Signatures), so the repartition costs more than the spread buys
    // at this corpus; at real input widths rebalance would be a no-op
    // anyway.
    df.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.cdc_chunks(textCol, maskBits))
          .as("chunk_text"))
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      .agg(countDistinct("id").as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc,
        col("chunk_hash").asc)
  }

  /** Engine-replayable MinHash signatures as k COLUMNS (`__m0..__m{k-1}`,
    * the seeded 60-bit md5 basis) — shared by [[lshBandStats]] and
    * [[minhashEstimates]]. Columns, not an array: downstream agreement
    * counting stays a static codegen'd expression per seed. */
  private def md5Signatures(df: DataFrame, idCol: String, textCol: Column,
      shingleN: Int, k: Int): DataFrame =
    // rebalance: k seeded md5s per shingle is the most CPU-expensive
    // per-row kernel in the dedup family, and the partial min-aggregates
    // run INSIDE the scan stage — a few-file corpus would hash on one
    // task while the cluster idles (no-op at real input widths). min()
    // folds are order-independent, so the repartition cannot change a
    // value.
    rebalance(df).select(col(idCol).as("id"),
        explode(shingles(textCol, shingleN)).as("g"))
      .groupBy("id").agg(
        min(md5TokenHash(concat(lit("0|"), col("g")))).as("__m0"),
        (1 until k).map(i =>
          min(md5TokenHash(concat(lit(s"$i|"), col("g")))).as(s"__m$i")): _*)

  /** Band structs (band index, r-value key) exploded from a signature
    * table — one row per (id, band). */
  private def sigBands(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        array((0 until r).map(j => col(s"__m${b * r + j}")): _*).as("key"))
    }
    sig.select(col("id") +: (0 until k).map(i => col(s"__m$i")) :+
      explode(array(bandCols: _*)).as("bk"): _*)
  }

  /** MinHash Jaccard ESTIMATES for LSH candidate pairs — the estimator a
    * 100 TB dedup uses INSTEAD of the exact shingle-set verify: similarity
    * ≈ (matching signature positions)/k, read off the k longs both docs
    * already carry (no shingle re-join, no set intersection — the verify
    * cost drops from |shingles| to k per pair). Candidates come from band
    * collisions exactly as the production join would ([[lshBandStats]]'s
    * buckets); agreement is a static sum of k codegen'd comparisons.
    * Signature basis is the seeded 60-bit md5, so candidates, matches and
    * the single-division estimate all replay exactly.
    *
    * Output: (id_a, id_b, matches, est_jaccard), candidates only.
    * Pure lazy DAG — no caches to own (every intermediate is single-use). */
  def minhashEstimates(df: DataFrame, idCol: String, textCol: Column,
      shingleN: Int, k: Int, bands: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(k % bands == 0, s"signature width $k not divisible by bands $bands")
    // THREE shuffles end to end: signature aggregate, band-bucket
    // aggregate, pair dedup. Candidates come from grouping the banded
    // rows per (band, key) and expanding pairs IN-ROW — each band row
    // carries the full k-long signature into its bucket, so agreement is
    // counted on the struct pair right where the pair is born and the
    // two corpus-sized signature re-joins (plus the self-join's two
    // sort-merge sorts) are gone. Bucket membership is collision-bounded
    // exactly like the join formulation (a bucket of c near-identical
    // docs yields c² pairs in EITHER shape), and the expansion goes
    // through [[bucketPairs]]' occupancy split: collect_list buffers are
    // bounded at maxBucket members (k longs each), mega-buckets take the
    // spillable join route instead.
    val sig = md5Signatures(df, idCol, textCol, shingleN, k)
    val member = struct(col("id") +: (0 until k).map(i => col(s"__m$i")): _*)
    val matches = sigAgreement("a", "b", k)
    val pairs = bucketPairs(
      sigBands(sig, k, bands)
        .select(col("bk.band").as("band"), col("bk.key").as("key"),
          member.as("m")),
      Seq("band", "key"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        matches.as("matches"))
    // a pair colliding in several bands carries the same matches value in
    // each — first() dedups across bands in the same shuffle. No persist:
    // with the signature re-joins gone every intermediate is single-use,
    // so the whole operator is one lazy three-shuffle DAG (the r8 cache
    // contract guarded a sig table that no longer exists).
    pairs.groupBy("id_a", "id_b")
      .agg(first(col("matches")).as("matches"))
      .withColumn("est_jaccard",
        col("matches").cast("double") / lit(k.toDouble))
  }

  /** FUZZY decontamination: flag training documents that NEAR-duplicate a
    * held-out evaluation document — the MinHash companion to exact n-gram
    * decontamination (the two standard leak gates an LLM pipeline runs
    * before training: exact overlap catches verbatim leaks, signature
    * agreement catches paraphrased/reformatted ones). Candidates come
    * from LSH band collisions BETWEEN the two sides; similarity is
    * estimated as matches/k on the signatures both sides already carry
    * (the [[minhashEstimates]] contract). The held-out side is
    * benchmark-sized by contract, so its banded table rides an explicit
    * broadcast and the training corpus pays exactly ONE shuffle (its own
    * signature aggregate), then streams through the probe unshuffled —
    * the [[minhashDedupAgainstTables]] posture with the increment on the
    * other side.
    *
    * Output: one row per contaminated training doc — its best witness
    * (matches DESC, eval id ASC): (doc_id, eval_id, matches,
    * est_jaccard), docs with best matches < `minMatches` dropped. */
  def fuzzyDecontaminate(train: DataFrame, heldOut: DataFrame,
      idCol: String, textCol: Column, shingleN: Int, k: Int, bands: Int,
      minMatches: Int): DataFrame = {
    require(k % bands == 0, s"signature width $k not divisible by bands $bands")
    def sideStruct(df: DataFrame, tag: String) =
      sigBands(md5Signatures(df, idCol, textCol, shingleN, k), k, bands)
        .select(struct(col("id") +: (0 until k).map(i => col(s"__m$i")): _*)
          .as(tag), col("bk.band").as("band"), col("bk.key").as("key"))
    val tb = sideStruct(train, "t")
    val eb = sideStruct(heldOut, "e")
    // no per-pair dedup shuffle: a pair colliding in several bands repeats
    // the IDENTICAL (matches) tuple, so the rank-1 window row is the same
    // whichever copy wins — the one post-probe exchange is the window's,
    // and WindowGroupLimit trims the duplicates map-side before it
    val w = Window.partitionBy("doc_id")
      .orderBy(col("matches").desc, col("eval_id").asc)
    tb.join(broadcast(eb), Seq("band", "key"))
      .select(col("t.id").as("doc_id"), col("e.id").as("eval_id"),
        sigAgreement("t", "e", k).as("matches"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("matches") >= minMatches)
      .select(col("doc_id"), col("eval_id"), col("matches"),
        (col("matches").cast("double") / lit(k.toDouble)).as("est_jaccard"))
  }

  /** Signature-agreement count between two `__m0..__m{k-1}` struct
    * prefixes — the matches-of-k MinHash estimator core shared by
    * [[minhashEstimates]] and [[fuzzyDecontaminate]]: a static sum of k
    * codegen'd comparisons. */
  private def sigAgreement(pa: String, pb: String, k: Int): Column =
    (0 until k).map(i =>
        when(col(s"$pa.__m$i") === col(s"$pb.__m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
}

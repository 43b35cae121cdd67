package graft
package entries

import graft.pipeline.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The LLM-pipeline multimodal entries: binary blob columns, image decode
  * and resize, aspect buckets, and image, audio and frame dedup. */
object MultimodalEntries {

  /** The deterministic-PNG media fixture shared by mm_decode and
    * mm_resize: one congruence-pixel PNG per document, encoded once per
    * (session, sf) and persisted — the PNG WRITER is scaffolding, the
    * decode stages are the operators under measurement. The blobs are
    * tiny (4-8 × 4-6 px ⇒ a few hundred bytes each). */
  private def preparedPng(s: SparkSession, dir: String): DataFrame =
    prepared(s, s"mmpng:$dir") {
      Multimodal.syntheticPng(t(s, dir, "documents"), "doc_id").persist()
    }

  /** The corpus frame-checksum table (media_id, fh) of mm_frame_dedup and
    * mm_frame_incremental: ingest-time work, written once per (session,
    * sf) and read by both. */
  private def frameTable(s: SparkSession, dir: String): DataFrame = {
    val root = prepared(s, s"mmframes:$dir") {
      val out = scratchDir(s, "mm_frames", dir)
      val media = Multimodal.fromText(t(s, dir, "documents"),
        "doc_id", "text")
      Multimodal.frameChecksumTable(media, chunkBytes = 64)
        .write.mode("overwrite").parquet(out)
      out
    }
    s.read.parquet(root)
  }

  /** The canonical aspect-bucket set shared by the mm_aspect_buckets
    * entry and its oracle (square, landscape/portrait 4:3, wide/tall). */
  private val AspectBucketList: Seq[(Int, Int)] =
    Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))

  val all: Seq[Entry] = Seq(

    // ---- LLM-pipeline: multimodal binary columns ------------------------
    Entry("mm_blob_stats", (s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.withBlobStats(media)
        .withColumn("n_frames",
          ceil(col("n_bytes").cast("double") / 64).cast("long"))
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("n_frames"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin),

    Entry("mm_decode", (s, dir) => {
      // REAL codec round trip: encode one deterministic PNG per document
      // on the executors (JDK ImageIO), decode the compressed bytes back
      // to pixels, reduce to geometry + exact per-channel means — the
      // oracle replays the congruence pixel function in pure SQL.
      // The encoded-blob fixture is SETUP, not the operator: it is
      // memoized + persisted once per (session, sf) and SHARED with
      // mm_resize, so each entry times its decode, not the PNG writer.
      val media = preparedPng(s, dir)
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("decoded_ok"), col("width"),
          col("height"), col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("media_id")
    },
      // decode replay: the synthetic image's pixel (x,y) channels are
      // linear congruences mod 256 of (doc_id, x, y) with per-id geometry
      // W = 4 + id%5, H = 4 + id%3 — sums are exact BIGINTs, one final
      // division to DOUBLE on both sides (same IEEE rounding)
      """WITH px AS (
        |  SELECT doc_id, x.range AS x, y.range AS y
        |  FROM documents
        |  CROSS JOIN range(8) x CROSS JOIN range(6) y
        |  WHERE x.range < 4 + doc_id % 5 AND y.range < 4 + doc_id % 3)
        |SELECT doc_id AS media_id, TRUE AS decoded_ok,
        |  CAST(4 + doc_id % 5 AS INT) AS width,
        |  CAST(4 + doc_id % 3 AS INT) AS height,
        |  CAST(sum((7*doc_id + 3*x + 5*y) % 256) AS DOUBLE) / count(*) AS mean_r,
        |  CAST(sum((11*doc_id + 5*x + 7*y) % 256) AS DOUBLE) / count(*) AS mean_g,
        |  CAST(sum((13*doc_id + 9*x + 2*y) % 256) AS DOUBLE) / count(*) AS mean_b
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin),

    Entry("mm_resize", (s, dir) => {
      // decode → nearest-neighbor 2× downsample → re-encode PNG → decode
      // again; output pixel (x,y) = source pixel (2x,2y), so the resized
      // geometry and channel means replay exactly in the oracle.
      // Fixture shared with mm_decode (preparedPng).
      val media = preparedPng(s, dir)
      Multimodal.decodeImages(Multimodal.resizeImages(media, factor = 2))
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("media_id")
    },
      // resize replay: kept pixels are the source's even coordinates
      // (nearest-neighbor, top-left anchor), so the resized means are the
      // same congruence summed over (2x, 2y)
      """WITH px AS (
        |  SELECT doc_id, 2*x.range AS x, 2*y.range AS y
        |  FROM documents
        |  CROSS JOIN range(4) x CROSS JOIN range(3) y
        |  WHERE 2*x.range < 4 + doc_id % 5 AND 2*y.range < 4 + doc_id % 3)
        |SELECT doc_id AS media_id,
        |  CAST((4 + doc_id % 5 + 1) // 2 AS INT) AS width,
        |  CAST((4 + doc_id % 3 + 1) // 2 AS INT) AS height,
        |  CAST(sum((7*doc_id + 3*x + 5*y) % 256) AS DOUBLE) / count(*) AS mean_r,
        |  CAST(sum((11*doc_id + 5*x + 7*y) % 256) AS DOUBLE) / count(*) AS mean_g,
        |  CAST(sum((13*doc_id + 9*x + 2*y) % 256) AS DOUBLE) / count(*) AS mean_b
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin),

    Entry("mm_aspect_buckets", (s, dir) => {
      // aspect-ratio bucketing for image-training batch assembly (the
      // SDXL recipe: batches resize to ONE canonical shape): nearest
      // bucket by |w/h - bn/bd|, ties to the earliest — computed in
      // exact integer cross-multiplication over the REAL decoded
      // geometry (shared PNG fixture), so the assignment replays
      // verbatim in the oracle's analytic-geometry formula. Pure
      // codegen'd projection: no shuffle, no float ratios
      val media = preparedPng(s, dir)
      Multimodal.aspectBuckets(Multimodal.decodeImages(media),
          col("width"), col("height"), AspectBucketList)
        .select(col("media_id"), col("width"), col("height"),
          col("bucket_n"), col("bucket_d"))
        .orderBy("media_id")
    },
      // aspect-bucket replay: analytic geometry (the congruence image's
      // width/height formulas) through the SAME integer argmin chain the
      // operator unrolls (Multimodal.aspectBucketSql)
      {
      val idx = Multimodal.aspectBucketSql(
        "4 + doc_id % 5", "4 + doc_id % 3", AspectBucketList)
      val ns = AspectBucketList.map(_._1).mkString(", ")
      val ds = AspectBucketList.map(_._2).mkString(", ")
      s"""SELECT doc_id AS media_id,
         |  CAST(4 + doc_id % 5 AS INT) AS width,
         |  CAST(4 + doc_id % 3 AS INT) AS height,
         |  CAST(([$ns])[($idx) + 1] AS INT) AS bucket_n,
         |  CAST(([$ds])[($idx) + 1] AS INT) AS bucket_d
         |FROM documents ORDER BY media_id""".stripMargin
    }),

    Entry("mm_image_dedup", (s, dir) => {
      // perceptual near-dup over REAL decoded pixels: every 7th document's
      // image is re-posted under a new id (same pixel basis ⇒ the copy is
      // a hamming-0 dup of its original). The PNG encode AND the
      // decode→dHash pass are ingest-time work (16 bytes per asset): they
      // build the durable fingerprint table ONCE — the same serving shape
      // its audio twin uses (the r12 verdict's #2) — and the entry times
      // the banded Hamming-≤3 pairing over the stored fingerprints, the
      // sweep a production dedup actually re-runs; the oracle
      // brute-forces the same fingerprints analytically from the
      // congruence pixel function
      val root = prepared(s, s"mmpngfp7:$dir") {
        val out = scratchDir(s, "mmpng_fp", dir)
        val base = t(s, dir, "documents").select(col("doc_id"))
        val ids = base
          .select(col("doc_id").as("media_id"), col("doc_id").as("basis"))
          .unionByName(base.filter(col("doc_id") % 7 === 0)
            .select((-(col("doc_id") + lit(1L))).as("media_id"),
              col("doc_id").as("basis")))
        Multimodal.imageDHash(
            Multimodal.syntheticPngNoisy(ids, "media_id",
              basisCol = "basis"))
          .filter(col("decoded_ok"))
          .select(col("media_id").as("id"), col("lo"), col("hi"))
          .write.mode("overwrite").parquet(out)
        out
      }
      Multimodal.fingerprintDedupPairs(s.read.parquet(root), maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      // perceptual dedup replay: dHash grid coordinates are exact integer
      // floors, luma the integer BT.601 combination of the congruence
      // channels, the fingerprint two 32-bit-half BIGINTs (1<<63 overflows
      // signed SQL), and the pair set BRUTE-FORCED — the banded Spark path
      // must be lossless (pigeonhole), exactly like dedup_jaccard_prefix's
      // ground-truth gate
      """WITH ids AS (
        |  SELECT doc_id AS media_id, doc_id AS basis FROM documents
        |  UNION ALL
        |  SELECT -(doc_id + 1), doc_id FROM documents
        |  WHERE doc_id % 7 = 0),
        |g AS (
        |  SELECT media_id, basis, gi.range AS gi, gj.range AS gj,
        |         (gi.range * (16 + basis % 7)) // 9 AS x,
        |         (gj.range * (12 + basis % 5)) // 8 AS y
        |  FROM ids CROSS JOIN range(9) gi CROSS JOIN range(8) gj),
        |l AS (
        |  SELECT media_id, gi, gj,
        |    299*(((73*basis + 151*x + 37*y + 11)
        |          * (73*basis + 151*x + 37*y + 11)) % 65536 // 256)
        |  + 587*(((89*basis + 97*x + 131*y + 23)
        |          * (89*basis + 97*x + 131*y + 23)) % 65536 // 256)
        |  + 114*(((53*basis + 61*x + 113*y + 41)
        |          * (53*basis + 61*x + 113*y + 41)) % 65536 // 256) AS luma
        |  FROM g),
        |setbits AS (
        |  SELECT p.media_id, p.gj*8 + p.gi AS bitpos
        |  FROM l p JOIN l q ON p.media_id = q.media_id
        |        AND q.gj = p.gj AND q.gi = p.gi + 1
        |  WHERE p.gi < 8 AND q.luma > p.luma),
        |fp AS (
        |  SELECT i.media_id,
        |    CAST(COALESCE(SUM(CASE WHEN bitpos < 32
        |      THEN (CAST(1 AS BIGINT) << CAST(bitpos AS INT)) END), 0)
        |      AS BIGINT) AS lo,
        |    CAST(COALESCE(SUM(CASE WHEN bitpos >= 32
        |      THEN (CAST(1 AS BIGINT) << CAST(bitpos - 32 AS INT)) END), 0)
        |      AS BIGINT) AS hi
        |  FROM ids i LEFT JOIN setbits ON i.media_id = setbits.media_id
        |  GROUP BY 1)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |       AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    Entry("mm_fingerprint_incremental", (s, dir) => {
      // continuous media ingestion: an arriving batch's dHash
      // fingerprints probe the STORED corpus fingerprint table — the
      // minhashDedupAgainstTables shape for media: the corpus never
      // self-joins and never re-decodes, each batch pays only its own
      // bipartite banded probe, flagged assets append their 16 bytes
      // afterwards. Corpus = even doc_ids; batch = every 7th document
      // re-posted under a new id (so copies of EVEN multiples of 7 must
      // pair with their stored original at hamming 0; odd-based copies
      // have no original in the corpus). Both fingerprint tables are
      // ingest-time fixture; the entry times the probe — the per-batch
      // cost of the production loop. The oracle brute-forces the cross
      // pairs from the congruence pixel function.
      val root = prepared(s, s"mmfpinc:$dir") {
        val out = scratchDir(s, "mmfp_inc", dir)
        val docs = t(s, dir, "documents").select(col("doc_id"))
        val corpusIds = docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("media_id"), col("doc_id").as("basis"))
        val batchIds = docs.filter(col("doc_id") % 7 === 0)
          .select((-(col("doc_id") + lit(1L))).as("media_id"),
            col("doc_id").as("basis"))
        def fps(ids: DataFrame) = Multimodal.imageDHash(
            Multimodal.syntheticPngNoisy(ids, "media_id",
              basisCol = "basis"))
          .filter(col("decoded_ok"))
          .select(col("media_id").as("id"), col("lo"), col("hi"))
        fps(corpusIds).write.mode("overwrite").parquet(s"$out/corpus")
        fps(batchIds).write.mode("overwrite").parquet(s"$out/batch")
        out
      }
      Multimodal.fingerprintDedupAgainst(
          s.read.parquet(s"$root/batch"), s.read.parquet(s"$root/corpus"),
          maxHamming = 3)
        .orderBy("batch_id", "corpus_id")
    },
      // incremental probe replay: same analytic fingerprints as
      // mm_image_dedup, but corpus = even doc_ids, batch = the re-posted
      // copies (negative ids); ground truth is the brute-forced BIPARTITE
      // cross-pair set — the banded probe must be lossless against it
      """WITH ids AS (
        |  SELECT doc_id AS media_id, doc_id AS basis FROM documents
        |  WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT -(doc_id + 1), doc_id FROM documents
        |  WHERE doc_id % 7 = 0),
        |g AS (
        |  SELECT media_id, basis, gi.range AS gi, gj.range AS gj,
        |         (gi.range * (16 + basis % 7)) // 9 AS x,
        |         (gj.range * (12 + basis % 5)) // 8 AS y
        |  FROM ids CROSS JOIN range(9) gi CROSS JOIN range(8) gj),
        |l AS (
        |  SELECT media_id, gi, gj,
        |    299*(((73*basis + 151*x + 37*y + 11)
        |          * (73*basis + 151*x + 37*y + 11)) % 65536 // 256)
        |  + 587*(((89*basis + 97*x + 131*y + 23)
        |          * (89*basis + 97*x + 131*y + 23)) % 65536 // 256)
        |  + 114*(((53*basis + 61*x + 113*y + 41)
        |          * (53*basis + 61*x + 113*y + 41)) % 65536 // 256) AS luma
        |  FROM g),
        |setbits AS (
        |  SELECT p.media_id, p.gj*8 + p.gi AS bitpos
        |  FROM l p JOIN l q ON p.media_id = q.media_id
        |        AND q.gj = p.gj AND q.gi = p.gi + 1
        |  WHERE p.gi < 8 AND q.luma > p.luma),
        |fp AS (
        |  SELECT i.media_id,
        |    CAST(COALESCE(SUM(CASE WHEN bitpos < 32
        |      THEN (CAST(1 AS BIGINT) << CAST(bitpos AS INT)) END), 0)
        |      AS BIGINT) AS lo,
        |    CAST(COALESCE(SUM(CASE WHEN bitpos >= 32
        |      THEN (CAST(1 AS BIGINT) << CAST(bitpos - 32 AS INT)) END), 0)
        |      AS BIGINT) AS hi
        |  FROM ids i LEFT JOIN setbits ON i.media_id = setbits.media_id
        |  GROUP BY 1)
        |SELECT a.media_id AS batch_id, b.media_id AS corpus_id,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |       AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.media_id < 0 AND b.media_id >= 0
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY batch_id, corpus_id""".stripMargin),

    Entry("mm_audio_dedup", (s, dir) => {
      // acoustic near-dup over REAL decoded PCM: every 9th document's
      // clip re-posted under a new id; amplitude-gradient dHash from the
      // decoded samples, banded Hamming-≤3 pairing, brute-force oracle.
      // The WAV encode AND the decode→dHash pass are ingest-time work (16
      // bytes per asset): they build the durable fingerprint table ONCE
      // (the r11 verdict's shared-decoded-pass item) and the entry times
      // the banded pairing over the stored fingerprints — the sweep a
      // production dedup actually re-runs
      val root = prepared(s, s"mmwavfp9:$dir") {
        val out = scratchDir(s, "mmwav_fp", dir)
        val base = t(s, dir, "documents").select(col("doc_id"))
        val ids = base
          .select(col("doc_id").as("media_id"), col("doc_id").as("basis"))
          .unionByName(base.filter(col("doc_id") % 9 === 0)
            .select((-(col("doc_id") + lit(1L))).as("media_id"),
              col("doc_id").as("basis")))
        Multimodal.audioDHash(
            Multimodal.syntheticWav(ids, "media_id",
              basisCol = "basis", noisy = true))
          .filter(col("decoded_ok"))
          .select(col("media_id").as("id"), col("lo"), col("hi"))
          .write.mode("overwrite").parquet(out)
        out
      }
      Multimodal.fingerprintDedupPairs(s.read.parquet(root), maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
      // acoustic dedup replay: gradient bits compare the raw congruence
      // values (the -32768 signed shift cancels in the comparison), packed
      // into the same two 32-bit halves; pairs brute-forced as ground truth
      """WITH ids AS (
        |  SELECT doc_id AS media_id, doc_id AS basis FROM documents
        |  UNION ALL
        |  SELECT -(doc_id + 1), doc_id FROM documents
        |  WHERE doc_id % 9 = 0),
        |cl AS (SELECT media_id, basis, 32 + basis % 17 AS n FROM ids),
        |setbits AS (
        |  SELECT media_id, i.range AS bitpos
        |  FROM cl CROSS JOIN range(64) i
        |  WHERE ((73*basis + 151*(((i.range+1)*n)//65) + 11)
        |          * (73*basis + 151*(((i.range+1)*n)//65) + 11)) % 65536
        |      > ((73*basis + 151*((i.range*n)//65) + 11)
        |          * (73*basis + 151*((i.range*n)//65) + 11)) % 65536),
        |fp AS (
        |  SELECT c.media_id,
        |    CAST(COALESCE(SUM(CASE WHEN bitpos < 32
        |      THEN (CAST(1 AS BIGINT) << CAST(bitpos AS INT)) END), 0)
        |      AS BIGINT) AS lo,
        |    CAST(COALESCE(SUM(CASE WHEN bitpos >= 32
        |      THEN (CAST(1 AS BIGINT) << CAST(bitpos - 32 AS INT)) END), 0)
        |      AS BIGINT) AS hi
        |  FROM cl c LEFT JOIN setbits ON c.media_id = setbits.media_id
        |  GROUP BY 1)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
        |       AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.media_id < b.media_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),

    Entry("mm_audio_decode", (s, dir) => {
      // REAL audio codec round trip: encode one deterministic PCM-16 WAV
      // per document on the executors (JDK javax.sound.sampled), decode
      // the container back to samples, reduce to integer features —
      // the oracle replays the congruence sample function in pure SQL.
      // WAV-encode fixture memoized (see mm_decode's preparedPng note).
      val media = prepared(s, s"mmwav:$dir") {
        Multimodal.syntheticWav(t(s, dir, "documents"), "doc_id").persist()
      }
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("decoded_ok"), col("n_samples"),
          col("sample_rate"), col("sum_amp"), col("peak"))
        .orderBy("media_id")
    },
      // audio replay: PCM sample i of clip id is a congruence folded into
      // signed 16-bit; counts/sums/peaks are exact integers on both sides
      """WITH sm AS (
        |  SELECT doc_id, i.range AS i,
        |         (1103515245*doc_id + 12345 + 2654435761*i.range) % 65536
        |           - 32768 AS a
        |  FROM documents CROSS JOIN range(49) i
        |  WHERE i.range < 32 + doc_id % 17)
        |SELECT doc_id AS media_id, TRUE AS decoded_ok,
        |  CAST(32 + doc_id % 17 AS BIGINT) AS n_samples,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(sum(a) AS BIGINT) AS sum_amp,
        |  CAST(max(abs(a)) AS INT) AS peak
        |FROM sm GROUP BY doc_id ORDER BY media_id""".stripMargin),

    Entry("mm_frames", (s, dir) => {
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.frameSample(media, chunkBytes = 64)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
        .orderBy("media_id", "frame_idx")
    },
      """SELECT media_id, frame_idx FROM (
        |  SELECT doc_id AS media_id,
        |         unnest(range(CAST(ceil(strlen(text) / 64.0) AS BIGINT)))
        |           AS frame_idx
        |  FROM documents)
        |ORDER BY media_id, frame_idx""".stripMargin),

    Entry("mm_frame_dedup", (s, dir) => {
      // near-dup media by sampled-frame checksum sets: Jaccard ≥ 0.5 over
      // DISTINCT md5(64-byte frame) sets, frames shared by > 20 assets
      // dropped as boilerplate (black frames / shared intros); candidate
      // pairs ∝ Σ df² with df capped — never |A|×|B|, blobs never
      // shuffle. The blob read + chunk + checksum pass is ingest-time
      // work: it builds the durable (media_id, fh) table ONCE (the same
      // serving split as the two perceptual dedups) and the entry times
      // the Jaccard sweep over the stored checksums — the pass a
      // production dedup re-runs when re-tuning maxDf / minJaccard
      Multimodal.frameDedupFromTable(frameTable(s, dir), maxDf = 20,
          minJaccard = 0.5)
        .orderBy("id_a", "id_b")
    },
      // frame dedup replay: frames are 64-char slices of the ASCII text
      // (byte == char here), checksummed with md5 like the Spark side; the
      // df cap drops boilerplate frames from intersection AND set sizes;
      // counts are BIGINT (count(*), no SUM ⇒ no HUGEINT), the Jaccard is
      // one division of exact integers
      """WITH fr AS (
        |  SELECT DISTINCT doc_id AS media_id,
        |         md5(substr(text, CAST(start*64+1 AS BIGINT), 64)) AS fh
        |  FROM (SELECT doc_id, text,
        |          unnest(range(CAST(ceil(strlen(text) / 64.0) AS BIGINT)))
        |            AS start
        |        FROM documents)),
        |keep AS (
        |  SELECT media_id, fh FROM fr
        |  QUALIFY count(*) OVER (PARTITION BY fh) <= 20),
        |tot AS (SELECT media_id, count(*) AS nf FROM keep GROUP BY 1),
        |inter AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS matched
        |  FROM keep a JOIN keep b
        |    ON a.fh = b.fh AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, matched, ta.nf AS nf_a, tb.nf AS nf_b,
        |       CAST(matched AS DOUBLE)
        |         / CAST(ta.nf + tb.nf - matched AS DOUBLE) AS jaccard
        |FROM inter JOIN tot ta ON id_a = ta.media_id
        |           JOIN tot tb ON id_b = tb.media_id
        |WHERE CAST(matched AS DOUBLE)
        |        / CAST(ta.nf + tb.nf - matched AS DOUBLE) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),

    Entry("mm_frame_incremental", (s, dir) => {
      // continuous media ingestion, frame-set form: an arriving batch's
      // frame checksums probe the STORED corpus frame table (the corpus
      // never self-joins, never re-chunks) — batch = every 7th document
      // re-posted under id+1000000, so each copy must pair with its
      // original at jaccard 1.0; boilerplate is judged by CORPUS df and
      // dropped from both sides. Both checksum tables are ingest-time
      // fixture (shared corpus table with mm_frame_dedup); the entry
      // times the bipartite probe — the per-batch cost of the loop.
      val batchRoot = prepared(s, s"mmframesb:$dir") {
        val out = scratchDir(s, "mm_frames_batch", dir)
        val copies = t(s, dir, "documents")
          .filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        Multimodal.frameChecksumTable(
            Multimodal.fromText(copies, "doc_id", "text"), chunkBytes = 64)
          .write.mode("overwrite").parquet(out)
        out
      }
      Multimodal.frameDedupAgainst(s.read.parquet(batchRoot),
          frameTable(s, dir), maxDf = 20, minJaccard = 0.5)
        .orderBy("batch_id", "corpus_id")
    },
      // incremental frame probe replay: corpus = all documents' frame
      // sets, batch = every 7th document re-chunked under id+1000000;
      // boilerplate df computed over the CORPUS only, dropped from both
      // sides before totals — the bipartite ground truth in one pass
      """WITH fr_c AS (
        |  SELECT DISTINCT doc_id AS media_id,
        |         md5(substr(text, CAST(start*64+1 AS BIGINT), 64)) AS fh
        |  FROM (SELECT doc_id, text,
        |          unnest(range(CAST(ceil(strlen(text) / 64.0) AS BIGINT)))
        |            AS start
        |        FROM documents)),
        |fr_b AS (
        |  SELECT DISTINCT doc_id + 1000000 AS media_id,
        |         md5(substr(text, CAST(start*64+1 AS BIGINT), 64)) AS fh
        |  FROM (SELECT doc_id, text,
        |          unnest(range(CAST(ceil(strlen(text) / 64.0) AS BIGINT)))
        |            AS start
        |        FROM documents WHERE doc_id % 7 = 0)),
        |boiler AS (
        |  SELECT fh FROM fr_c GROUP BY fh HAVING count(*) > 20),
        |keep_c AS (SELECT * FROM fr_c WHERE fh NOT IN (SELECT fh FROM boiler)),
        |keep_b AS (SELECT * FROM fr_b WHERE fh NOT IN (SELECT fh FROM boiler)),
        |tot_c AS (SELECT media_id, count(*) AS nf FROM keep_c GROUP BY 1),
        |tot_b AS (SELECT media_id, count(*) AS nf FROM keep_b GROUP BY 1),
        |inter AS (
        |  SELECT a.media_id AS batch_id, b.media_id AS corpus_id,
        |         count(*) AS matched
        |  FROM keep_b a JOIN keep_c b ON a.fh = b.fh
        |  GROUP BY 1, 2)
        |SELECT batch_id, corpus_id, matched, tb.nf AS nf_batch,
        |       tc.nf AS nf_corpus,
        |       CAST(matched AS DOUBLE)
        |         / CAST(tb.nf + tc.nf - matched AS DOUBLE) AS jaccard
        |FROM inter JOIN tot_b tb ON batch_id = tb.media_id
        |           JOIN tot_c tc ON corpus_id = tc.media_id
        |WHERE CAST(matched AS DOUBLE)
        |        / CAST(tb.nf + tc.nf - matched AS DOUBLE) >= 0.5
        |ORDER BY batch_id, corpus_id""".stripMargin)
  )
}

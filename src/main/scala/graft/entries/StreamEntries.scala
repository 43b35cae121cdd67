package graft
package entries

import graft.engine._
import graft.indexing.IndexManager
import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The streaming entries, every `st*` entry: the change-feed, ledger and
  * windowing shapes run in batch, and the twelve `*_stream_*` gates, each
  * of which replays an arrival schedule through a real micro-batch query.
  * The gates share the arrival writer, the file-source reader and the
  * drain below; each keeps its own operator, output mode, sink and result
  * query. */
object StreamEntries {

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the previous setting even on failure.
    *
    * NOTE: the override is SESSION-GLOBAL for the duration of `body` —
    * safe because Bench and Verify execute entries strictly
    * sequentially (one entry at a time on one SparkSession); if entries
    * are ever run concurrently on a shared session, this must become a
    * per-query conf override instead. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(
      body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Write each chunk as one append-mode parquet file under a fresh
    * `path`, in order, and pin strictly increasing mtimes in write order
    * (chunk i of n gets now − (n − i) min). FileStreamSource orders files
    * by MODIFICATION TIME only, and two tiny sequential writes can land
    * in the same local-FS millisecond, so without the pin the trigger
    * order is not the write order. */
  private[graft] def writeArrivals(s: SparkSession, path: String,
      chunks: DataFrame*): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[org.apache.hadoop.fs.Path] =
      fs.listStatus(dirPath).map(_.getPath).filterNot(p =>
        p.getName.startsWith("_") || p.getName.startsWith(".")).toSet
    val t0 = System.currentTimeMillis()
    var seen = Set.empty[org.apache.hadoop.fs.Path]
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.mode("append").parquet(path)
      val now = dataFiles()
      val mtime = t0 - (chunks.size - i) * 60000L
      (now -- seen).foreach(fs.setTimes(_, mtime, -1L))
      seen = now
    }
  }

  /** The file-source stream over an arrival schedule: the schema of the
    * written chunks, one file per trigger. */
  private[graft] def readArrivals(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", 1).parquet(path)

  /** Shuffle partitions while a gate's query drains. Every gate's
    * shuffles are small: the sketch and monitor gates key on 5 sources or
    * ~8 event types, and the rest replay two triggers of sf-scale input
    * (st10's per-trigger probe jobs included). Every state partition pays
    * per-batch checkpoint-delta file I/O whether or not it holds a key,
    * and a stream-stream join runs four state stores per side per
    * partition, so the default 32 partitions price 4× the file ops of 8
    * (probed 4/8/16/32: st6 2.9 s at 8 vs 4.0 s at 32, st9 2.3 s vs
    * 3.9 s). This is the knob a deployment sizes to its key cardinality;
    * every gate's result is partition-count-independent (the oracles pin
    * them), and the stateless gates (st15, st18) plan no shuffle (st18's
    * one exchange is its broadcast). */
  private[graft] val StatePartitions = 8

  /** Start `writer` on checkpoint `ckpt` under StatePartitions, process
    * every available file, and stop the query, also when a batch fails
    * (the failure is rethrown). */
  private[graft] def drain(s: SparkSession,
      writer: org.apache.spark.sql.streaming.DataStreamWriter[_],
      ckpt: String): Unit =
    withShufflePartitions(s, StatePartitions) {
      val q = writer.option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }

  /** A memory sink's rows as a DataFrame, with the sink's temp view
    * dropped so no later entry can observe it (the DataFrame keeps the
    * rows). */
  private def memorySinkRows(s: SparkSession, name: String): DataFrame = {
    val rows = s.table(name)
    s.catalog.dropTempView(name)
    rows
  }

  /** st19/st20 shared input fixture: chronologically-split view/click
    * chunks with a ride-along far-future sentinel per stream (see
    * st19_stream_outer_join's comment for the layout), written through
    * writeArrivals so the chronological split IS the trigger order;
    * built once per (session, sf) — both interval-join gates replay the
    * SAME arrival schedule, so they differ only in joinType. */
  private def st19Input(s: SparkSession, dir: String): String =
    prepared(s, s"st19in:$dir") {
        val b = scratchDir(s, "st19in", dir)
        val ev = events(s, dir)
          .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("ets").as("vts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ets").as("cts"))
        val mm = ev.agg(min("ets"), max("ets")).collect()(0)
        val midMs =
          (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2
        val sentMs = mm.getTimestamp(1).getTime + 100L * 24 * 3600 * 1000
        // the sentinel RIDES in the second chunk: the watermark is the
        // per-batch max event time, so batch 2 processes the late-half
        // rows on time (late = vs batch 1's watermark) AND advances the
        // watermark past every real window — one trigger cheaper than
        // a separate sentinel file, identical final table
        def writeChrono(df: DataFrame, tsCol: String, sub: String,
            sentinel: DataFrame): Unit =
          writeArrivals(s, s"$b/$sub",
            df.filter(col(tsCol) <= timestamp_millis(lit(midMs))),
            df.filter(col(tsCol) > timestamp_millis(lit(midMs)))
              .unionByName(sentinel))
        writeChrono(views, "vts", "v", s.range(1).select(
          lit(-1L).as("view_id"), lit(-1L).as("v_user"),
          timestamp_millis(lit(sentMs)).as("vts")))
        writeChrono(clicks, "cts", "c", s.range(1).select(
          lit(-1L).as("click_id"), lit(-1L).as("c_user"),
          timestamp_millis(lit(sentMs)).as("cts")))
        b
    }

  /** The in-order two-trigger fixture shared by the ORDER-SENSITIVE
    * streaming entries (st16/st17): hourly (event_type, bucket, cnt)
    * counts — the SAME timeBucket as the batch operators, a drifted copy
    * would break the streamed≡batch gate identities — split at the
    * midpoint bucket into two arrival chunks under `<base>/in`, so the
    * earlier buckets arrive first (writeArrivals pins the order).
    * Returns the scratch base. */
  private def orderedCountFiles(
      s: SparkSession, dir: String, purpose: String): String = {
    val base = scratchDir(s, purpose, dir)
    val counts = events(s, dir)
      .groupBy(col("event_type"),
        graft.pipeline.EventAnalytics.timeBucket(col("ts_ms"), 3600000L)
          .as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val mm = counts.agg(min("bucket"), max("bucket")).collect()(0)
      val split = (mm.getLong(0) + mm.getLong(1)) / 2
      writeArrivals(s, s"$base/in", counts.filter(col("bucket") <= split),
        counts.filter(col("bucket") > split))
      base
    } finally counts.unpersist()
  }

  val all: Seq[Entry] = Seq(

    // ---- ST: streaming-shape (batch equivalents) ------------------------
    Entry("st1_feed_events", (s, dir) => {
      import s.implicits._
      val r = t(s, dir, "region")
      val puts = putOps(s, r, "regions~", "r_regionkey", Seq("r_name"))
      val dels = r.filter(col("r_regionkey") < 2).select(
        (col("r_regionkey") + 10).cast("long").as("seq"),
        lit("DELETE").as("method"),
        concat(lit("regions~/"), col("r_regionkey").cast("string")).as("path"),
        lit(null).cast("string").as("body")
      ).as[WriteOp]
      emptyStore(s).applyOps(puts.unionByName(dels)).feed
        .select(col("item_id"), col("method"), col("revision"))
        .orderBy("revision")
    },
      """WITH puts AS (
        |  SELECT CAST(r_regionkey AS VARCHAR) AS item_id, 'feed:put' AS method,
        |         ROW_NUMBER() OVER (ORDER BY r_regionkey) AS revision
        |  FROM region),
        |dels AS (
        |  SELECT CAST(r_regionkey AS VARCHAR) AS item_id, 'feed:delete' AS method,
        |         (SELECT COUNT(*) FROM region) +
        |         ROW_NUMBER() OVER (ORDER BY r_regionkey) AS revision
        |  FROM region WHERE r_regionkey < 2)
        |SELECT * FROM puts UNION ALL SELECT * FROM dels ORDER BY revision""".stripMargin),

    Entry("st2_pipeline_ledger", (s, dir) => {
      // the assembled reliable-write loop in batch form: applyOps →
      // ledger intent → content write-back → ordered publish → completion
      // markers; the oracle checks the folded ledger output
      val base = scratchDir(s, "pipe", dir)
      val ops = putOps(s, t(s, dir, "region"), "regions~", "r_regionkey",
        Seq("r_name"))
      graft.streaming.FeedPipeline.runBatch(
        ops, 60000L, s"$base/store", s"$base/ledger")(_ => ())
      graft.streaming.FeedPipeline.ledgerState(s, s"$base/ledger")
        .select(col("txn_id"), col("revision"), col("completed"),
          col("dt_quantum"))
        .orderBy("txn_id")
    },
      """SELECT 'regions~/' || CAST(r_regionkey AS VARCHAR) || '#' ||
        |       CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) AS VARCHAR)
        |         AS txn_id,
        |       ROW_NUMBER() OVER (ORDER BY r_regionkey) AS revision,
        |       TRUE AS completed, CAST(1 AS BIGINT) AS dt_quantum
        |FROM region ORDER BY txn_id""".stripMargin),

    Entry("st2_pipeline_indexed", (s, dir) => {
      // the loop WITH in-loop secondary-index maintenance: batch 1 builds
      // the store, batch 2 flips memberships; the index table (durable,
      // manifest-committed, merged per batch) is the checked result.
      // Load-sized shuffle partitions (r12 verdict #5): the two batches
      // run 50 small jobs (checkpoint/ledger/content/index/publish per
      // batch — the job COUNT is the loop's structure, not waste) over a
      // 10k-row supplier input; 32-partition shuffles price pure task
      // scheduling on every one of them, so the same keyspace-sizing the
      // stateful gates got applies — 8 partitions, oracle unchanged
      import s.implicits._
      val base = scratchDir(s, "pipeidx", dir)
      withShufflePartitions(s, 8) {
        val im = new IndexManager(
          ContentStore.openOrEmpty(s, s"$base/store"),
          Some(new graft.indexing.IndexStore(s, s"$base/idx")))
        im.createIndex("suppliers~", "rich", Nil, Some("acctbal > 5000"))
        val sup = t(s, dir, "supplier")
        val puts = sup.select(
          col("s_suppkey").cast("long").as("seq"),
          lit("PUT").as("method"),
          concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
          to_json(struct(col("s_acctbal").as("acctbal"))).as("body")).as[WriteOp]
        graft.streaming.FeedPipeline.runBatch(
          puts, 60000L, s"$base/store", s"$base/ledger", Some(im))(_ => ())
        val patches = sup.filter(col("s_suppkey") <= 20).select(
          (col("s_suppkey") + 10000).cast("long").as("seq"),
          lit("PATCH").as("method"),
          concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
          to_json(struct((col("s_acctbal") + 10000).as("acctbal"))).as("body"))
          .as[WriteOp]
        graft.streaming.FeedPipeline.runBatch(
          patches, 120000L, s"$base/store", s"$base/ledger", Some(im))(_ => ())
        im.indexTable("suppliers~", "rich").get
          .select(col("item_id"),
            j("body", "acctbal").cast("double").as("acctbal"))
          .orderBy("item_id")
      }
    },
      """SELECT CAST(s_suppkey AS VARCHAR) AS item_id,
        |       CASE WHEN s_suppkey <= 20 THEN s_acctbal + 10000
        |            ELSE s_acctbal END AS acctbal
        |FROM supplier
        |WHERE (CASE WHEN s_suppkey <= 20 THEN s_acctbal + 10000
        |            ELSE s_acctbal END) > 5000
        |ORDER BY item_id""".stripMargin),

    Entry("st6_stream_revisions", (s, dir) => {
      // ST6 under a REAL micro-batch executor: flatMapGroupsWithState over
      // a file source, ≥2 triggers (one per arrival file) — per-key
      // revision state must carry ACROSS batches. Output
      // pins gaplessness: per uri, revisions are exactly {1..n} iff
      // count=n ∧ distinct=n ∧ max=n ∧ sum=n(n+1)/2.
      import s.implicits._
      val base = scratchDir(s, "st6", dir)
      val ops = t(s, dir, "customer").select(
        col("c_custkey").cast("long").as("seq"),
        lit("PUT").as("method"),
        concat(lit("bucket"), pmod(col("c_custkey"), lit(8)).cast("string"),
          lit("~/"), col("c_custkey").cast("string")).as("path"),
        lit("{}").as("body"))
      writeArrivals(s, s"$base/in",
        ops.filter(col("seq") % 2 === 0), ops.filter(col("seq") % 2 === 1))
      drain(s, graft.streaming.ChangeFeed.assignRevisions(
          readArrivals(s, s"$base/in").as[WriteOp])
        .writeStream.format("memory").queryName("st6_revs")
        .outputMode("append"), s"$base/ckpt")
      memorySinkRows(s, "st6_revs")
        .groupBy(col("document_uri"))
        .agg(count(lit(1)).as("events"),
          max(col("revision")).as("max_rev"),
          sum(col("revision")).as("rev_sum"),
          countDistinct(col("revision")).as("distinct_revs"))
        .orderBy("document_uri")
    },
      """SELECT 'bucket' || CAST(c_custkey % 8 AS VARCHAR) || '~' AS document_uri,
        |       COUNT(*) AS events,
        |       COUNT(*) AS max_rev,
        |       CAST(COUNT(*) * (COUNT(*) + 1) // 2 AS BIGINT) AS rev_sum,
        |       COUNT(*) AS distinct_revs
        |FROM customer GROUP BY 1 ORDER BY document_uri""".stripMargin),

    Entry("st4_transaction_list", (s, dir) => {
      // pending-transaction visibility: two batches of writes, the first
      // completed — readers see only the second batch's txns per document
      val r1 = emptyStore(s).applyOps(
        putOps(s, t(s, dir, "region"), "regions~", "r_regionkey", Seq("r_name")))
      val l1 = Ledger.fromFeed(r1.feed, 60000L)
      val done = Ledger.complete(l1, l1.select("txn_id"))
      val st = HyperStorage(s, r1.log)
      val r2 = st.applyOps(
        t(s, dir, "region").filter(col("r_regionkey") < 3).select(
          (col("r_regionkey") + 100).cast("long").as("seq"),
          lit("PATCH").as("method"),
          concat(lit("regions~/"), col("r_regionkey").cast("string")).as("path"),
          lit("""{"touched":true}""").as("body"))
          .as[WriteOp](HyperStorage.writeOpEncoder))
      val ledger = done.unionByName(Ledger.fromFeed(r2.feed, 120000L))
      Ledger.transactionList(ledger)
        .select(col("document_uri"),
          concat_ws(",", col("transaction_list")).as("pending"))
        .orderBy("document_uri")
    },
      """WITH n AS (SELECT COUNT(*) AS c FROM region)
        |SELECT 'regions~' AS document_uri,
        |       string_agg('regions~/' || CAST(r_regionkey AS VARCHAR) || '#' ||
        |                  CAST(c + r_regionkey + 1 AS VARCHAR), ','
        |                  ORDER BY r_regionkey) AS pending
        |FROM region, n WHERE r_regionkey < 3 GROUP BY 1""".stripMargin),

    Entry("st5_quantize", (s, dir) => {
      events(s, dir)
        .select(Ledger.quantum(col("ts_ms")).as("quantum"))
        .groupBy("quantum").agg(count(lit(1)).as("cnt"))
        .orderBy("quantum")
    },
      """SELECT epoch_ms(ts) // 60000 AS quantum, COUNT(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY quantum""".stripMargin),

    Entry("st7_windowed_counts", (s, dir) => {
      // the Structured Streaming windowed-agg operator in its batch shape
      // (withWatermark is a no-op in batch) — the streaming semantics
      // (finalize-on-watermark, late-drop) are pinned in StreamsSpec
      graft.streaming.Streams.windowedCounts(
          events(s, dir).select(timestamp_millis(col("ts_ms")).as("t")),
          "t", "1 minute", "1 minute")
        .select(unix_millis(col("window_start")).as("window_ms"), col("cnt"))
        .orderBy("window_ms")
    },
      """SELECT (epoch_ms(ts) // 60000) * 60000 AS window_ms, COUNT(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY window_ms""".stripMargin),

    Entry("st15_stream_file_sink", (s, dir) => {
      // exactly-once parquet FILE SINK: the streaming write commits files
      // through the _spark_metadata log, so a reader sees only committed
      // batches (the lake-ingest tail of the feed pipeline — crash mid-
      // batch leaves no partial files visible). Two triggers stream the
      // corpus through; the identity oracle proves nothing is lost or
      // duplicated across the trigger boundary
      val base = scratchDir(s, "st15", dir)
      val docs = t(s, dir, "documents")
      writeArrivals(s, s"$base/in",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      drain(s, readArrivals(s, s"$base/in").writeStream.format("parquet")
        .option("path", s"$base/out").outputMode("append"), s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("st14_trending_topk", (s, dir) => {
      // per-minute trending event types: windowed counts (the streaming
      // stage) + per-window rank over finalized windows (the sink-side
      // stage) — top 3 per window, count DESC then key
      graft.streaming.Streams.trendingTopK(
          events(s, dir).select(timestamp_millis(col("ts_ms")).as("t"),
            col("event_type")),
          "t", col("event_type"), "1 minute", "1 minute", k = 3)
        .select(unix_millis(col("window_start")).as("window_ms"),
          col("key"), col("cnt"), col("rank"))
        .orderBy("window_ms", "rank")
    },
      """WITH c AS (
        |  SELECT (epoch_ms(ts) // 60000) * 60000 AS window_ms,
        |         event_type AS key, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT window_ms, key, cnt,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY window_ms
        |                ORDER BY cnt DESC, key) AS BIGINT) AS rank
        |  FROM c)
        |SELECT window_ms, key, cnt, rank FROM r
        |WHERE rank <= 3 ORDER BY window_ms, rank""".stripMargin),

    Entry("st8_session_windows", (s, dir) => {
      // native gap-based session windows (streaming-capable shape run in
      // batch); microsecond precision on BOTH sides so the gap rule can
      // never straddle a rounding boundary
      val ev = events(s, dir).filter(col("user_id") < 50)
        .withColumn("t", timestamp_micros(expr("ts div 1000")))
      graft.streaming.Streams
        .sessionCounts(ev, "user_id", "t", "30 minutes", "1 minute")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    },
      // gaps-and-islands at MICROsecond precision: new session iff the gap
      // to the previous event is >= 30 min (an event exactly at the
      // previous window's end opens a new session, like session_window)
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events WHERE user_id < 50),
        |g AS (
        |  SELECT user_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin),

    Entry("st9_stream_dedup", (s, dir) => {
      // streaming dedup-on-arrival under a REAL micro-batch executor
      // (file source, one file per trigger, 2 triggers): originals arrive
      // in batch 1; exact copies + intra-batch duplicate synthetics in
      // batch 2. First-arrival state must drop every cross-batch copy and
      // keep the min-id synthetic within its batch.
      import s.implicits._
      val base = scratchDir(s, "st9", dir)
      val docs = t(s, dir, "documents")
      val originals = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val copies = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), md5(col("text")).as("h"))
      val synth = s.range(10).select((col("id") + 200000L).as("doc_id"),
        md5(concat(lit("synthetic "),
          pmod(col("id"), lit(5)).cast("string"))).as("h"))
      writeArrivals(s, s"$base/in", originals, copies.unionByName(synth))
      val stream = readArrivals(s, s"$base/in")
        .select(col("doc_id").as("_1"), col("h").as("_2"))
        .as[(Long, String)]
      drain(s, graft.streaming.Streams.dedupFirstArrival(stream)
        .toDF("doc_id", "h")
        .writeStream.format("memory").queryName("st9_dedup")
        .outputMode("append"), s"$base/ckpt")
      memorySinkRows(s, "st9_dedup").orderBy("doc_id")
    },
      """WITH ev AS (
        |  SELECT doc_id, md5(text) AS h, 0 AS b FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, md5(text), 1 FROM documents
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 200000 + i, md5('synthetic ' || CAST(i % 5 AS VARCHAR)), 1
        |  FROM range(10) t(i)),
        |r AS (SELECT doc_id, h,
        |        ROW_NUMBER() OVER (PARTITION BY h ORDER BY b, doc_id) AS rn
        |      FROM ev)
        |SELECT doc_id, h FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    Entry("st10_stream_corpus_dedup", (s, dir) => {
      // the continuous-ingestion dedup loop under a REAL micro-batch
      // executor: the accumulated corpus's shingle + banded-signature
      // tables live as parquet (the production layout,
      // minhashDedupAgainstTables), each arriving micro-batch probes
      // those FILES via foreachBatch, and flagged pairs append to the
      // store. Two arrival files -> two triggers; the final table is
      // independent of the trigger split because every batch row probes
      // the static corpus alone — so the batch entry's exact oracle
      // applies unchanged
      // the accumulated corpus's stored tables and the arrival chunks
      // are FIXTURE (index build + arrival schedule): built once per
      // (session, sf) — the bench then times the per-batch probe loop,
      // which is the operator. Checkpoint + output stay per-run.
      val inBase = prepared(s, s"st10in:$dir") {
        val fx = scratchDir(s, "st10in", dir)
        val docs = t(s, dir, "documents")
        val shC = Dedup.shingled(docs.filter(col("doc_id") % 2 === 0),
          "text", "doc_id", 3)
        shC.write.mode("overwrite").parquet(s"$fx/corpus_shingles")
        Dedup.bandedSignatures(Dedup.minhashSignatures(shC, 32),
            "id", "sig", 16, 32)
          .write.mode("overwrite").parquet(s"$fx/corpus_banded")
        writeArrivals(s, s"$fx/in",
          docs.filter(col("doc_id") % 4 === 1),
          docs.filter(col("doc_id") % 4 === 3))
        fx
      }
      val base = scratchDir(s, "st10", dir)
      drain(s, readArrivals(s, s"$inBase/in").writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          val res = Dedup.minhashDedupAgainstTables(
            s.read.parquet(s"$inBase/corpus_shingles"),
            s.read.parquet(s"$inBase/corpus_banded"),
            b, "text", "doc_id", n = 3, k = 32, bands = 16,
            threshold = 0.5)
          res.select("batch_id", "corpus_id", "jaccard")
            .write.mode("append").parquet(s"$base/out")
          res.unpersist() // caller-owned cache, one per trigger
          ()
        }, s"$base/ckpt")
      s.read.parquet(s"$base/out")
        .select("batch_id", "corpus_id").orderBy("batch_id", "corpus_id")
    },
      // the streaming loop produces the identical pair set: each micro-batch
      // row probes the static corpus independently, so the trigger split is
      // invisible in the final table
      incrementalPairsOracle),

    Entry("st11_stream_stream_join", (s, dir) => {
      // stream-stream time-interval join under a REAL micro-batch
      // executor: views and clicks arrive as two independent file-source
      // streams (two chunks each, one per trigger), inner-joined on
      // user within [click-10min, click]. Watermarks bound the join state
      // in production (state ∝ rate × disorder bound); the replay uses a
      // full-span bound so NOTHING is ever late and the final table is
      // exactly the batch join — which is what the oracle replays.
      // Event time = µs timestamps derived from the normalized ns longs.
      // Input chunks are SETUP (identical every call) — built once per
      // (session, sf); the streaming run gets fresh out/ckpt dirs so the
      // micro-batch executor replays fully each call.
      val inBase = prepared(s, s"st11in:$dir") {
        val b = scratchDir(s, "st11in", dir)
        val ev = events(s, dir)
          .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("ets").as("vts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ets").as("cts"))
        writeArrivals(s, s"$b/v", views.filter(col("view_id") % 2 === 0),
          views.filter(col("view_id") % 2 === 1))
        writeArrivals(s, s"$b/c", clicks.filter(col("click_id") % 2 === 0),
          clicks.filter(col("click_id") % 2 === 1))
        b
      }
      val base = scratchDir(s, "st11", dir)
      // the library operator owns the watermark/interval contract
      // (Streams.intervalJoin — state ∝ rate × (delay + lookback));
      // this REPLAY passes a full-span delay so nothing is ever late
      // and the final table equals the batch join the oracle replays.
      // The production contract (late rows dropped, state bounded) is
      // spec-pinned in StreamsSpec with a tight delay.
      drain(s, graft.streaming.Streams.intervalJoin(
          readArrivals(s, s"$inBase/v"), "vts", "40 days",
          readArrivals(s, s"$inBase/c"), "cts", "40 days",
          col("c_user") === col("v_user"), "10 minutes")
        .select("click_id", "view_id")
        .writeStream.format("parquet")
        .option("path", s"$base/out"), s"$base/ckpt")
      s.read.parquet(s"$base/out").orderBy("click_id", "view_id")
    },
      // the stream-stream join's final table is exactly the batch
      // time-interval join (full-span watermark: nothing late in replay)
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS vts FROM events
        |  WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click')
        |SELECT c.click_id, v.view_id
        |FROM c JOIN v ON c.user_id = v.user_id
        | AND v.vts <= c.cts AND v.vts >= c.cts - INTERVAL 10 MINUTE
        |ORDER BY click_id, view_id""".stripMargin),

    Entry("st18_stream_static_join", (s, dir) => {
      // stream-STATIC enrichment join under a REAL micro-batch executor:
      // the static dimension (per-type counts — a catalog dimension
      // table in production) sits in parquet and joins into every
      // micro-batch with NO streaming state (stateless per-row
      // enrichment, the most common production streaming shape after
      // aggregation); the final table is independent of the trigger
      // split, which is exactly what the batch oracle replays
      val base = scratchDir(s, "st18", dir)
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"))
      ev.groupBy("event_type").agg(count(lit(1)).as("type_cnt"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/dim")
      writeArrivals(s, s"$base/in", ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1))
      val dim = s.read.parquet(s"$base/dim")
      drain(s, readArrivals(s, s"$base/in").filter(col("user_id") < 20)
        .join(broadcast(dim), "event_type")
        .select("event_id", "event_type", "type_cnt")
        .writeStream.format("parquet")
        .option("path", s"$base/out"), s"$base/ckpt")
      s.read.parquet(s"$base/out").orderBy("event_id")
    },
      """WITH dim AS (
        |  SELECT event_type, COUNT(*) AS type_cnt FROM events GROUP BY 1)
        |SELECT event_id, event_type, type_cnt
        |FROM events JOIN dim USING (event_type)
        |WHERE user_id < 20 ORDER BY event_id""".stripMargin),

    Entry("st19_stream_outer_join", (s, dir) => {
      // funnel-drop analysis as a streaming LEFT-OUTER interval join:
      // every click emits — joined to same-user views in [click−10min,
      // click], or with a null view once the watermark PROVES no view
      // can still arrive (Streams.intervalJoin joinType=left_outer).
      // Unlike st11's full-span replay bound, the delay here is a REAL
      // 1-minute disorder bound (state ∝ rate × 11 min): the input
      // files split CHRONOLOGICALLY (nothing is ever late) and one
      // far-future sentinel row per stream closes every real window —
      // the no-data micro-batch after the sentinel trigger flushes the
      // held outer rows, so the final table equals the batch left join
      // the oracle replays. Null view_ids coalesce to −1 on both sides
      // (a nullable int column would float-ify in the driver comparer).
      // Input chunks are SETUP (identical every call) — built once per
      // (session, sf), like st11's; fresh out/ckpt per call below.
      val inBase = st19Input(s, dir)
      val base = scratchDir(s, "st19", dir)
      drain(s, graft.streaming.Streams.intervalJoin(
          readArrivals(s, s"$inBase/v"), "vts", "1 minute",
          readArrivals(s, s"$inBase/c"), "cts", "1 minute",
          col("c_user") === col("v_user"), "10 minutes",
          joinType = "left_outer")
        .select(col("click_id"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"))
        .writeStream.format("parquet")
        .option("path", s"$base/out"), s"$base/ckpt")
      s.read.parquet(s"$base/out").filter(col("click_id") >= 0)
        .orderBy("click_id", "view_id")
    },
      // the streamed left-outer table equals the batch left join: real
      // watermark (1 min), chronological triggers, sentinel-closed windows
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS vts FROM events
        |  WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click')
        |SELECT c.click_id, COALESCE(v.view_id, -1) AS view_id
        |FROM c LEFT JOIN v ON c.user_id = v.user_id
        | AND v.vts <= c.cts AND v.vts >= c.cts - INTERVAL 10 MINUTE
        |ORDER BY click_id, view_id""".stripMargin),

    Entry("st20_stream_right_join", (s, dir) => {
      // the mirror funnel question as a streaming RIGHT-OUTER interval
      // join: every VIEW emits — joined to the same-user clicks whose
      // 10-minute lookback window it fell in, or with a null click once
      // the CLICK watermark passes vts + 10min (no click can still claim
      // it) — "views that never converted", WITHOUT hand-swapping the
      // asymmetric delay/lookback operands (the error-prone rewrite
      // right_outer exists to avoid; joinType passes straight through to
      // the one probe-driven join call). Input chunks are st19's EXACT
      // fixture (same chronological split + ride-along sentinel), so the
      // two entries differ only in joinType — the cleanest A/B of outer-
      // side semantics the driver gate can replay. Null click_ids
      // coalesce to −1 (nullable ints float-ify in the comparer).
      val inBase = st19Input(s, dir)
      val base = scratchDir(s, "st20", dir)
      drain(s, graft.streaming.Streams.intervalJoin(
          readArrivals(s, s"$inBase/v"), "vts", "1 minute",
          readArrivals(s, s"$inBase/c"), "cts", "1 minute",
          col("c_user") === col("v_user"), "10 minutes",
          joinType = "right_outer")
        .select(col("view_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
        .writeStream.format("parquet")
        .option("path", s"$base/out"), s"$base/ckpt")
      s.read.parquet(s"$base/out").filter(col("view_id") >= 0)
        .orderBy("view_id", "click_id")
    },
      // the mirror outer side over the SAME fixture: every view retained,
      // null-extended when no click's lookback window covered it
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS vts FROM events
        |  WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click')
        |SELECT v.view_id, COALESCE(c.click_id, -1) AS click_id
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        | AND v.vts <= c.cts AND v.vts >= c.cts - INTERVAL 10 MINUTE
        |ORDER BY view_id, click_id""".stripMargin),

    Entry("st12_stream_hll", (s, dir) => {
      // always-on distinct counting: per-source HLL registers maintained
      // across micro-batches (flatMapGroupsWithState state = 2^6 bytes +
      // a counter per group, bounded FOREVER — the sketch never grows).
      // Two triggers split the corpus by doc parity; because the merge is
      // an elementwise max, the registers after each group's last update
      // equal the one-shot batch sketch, so the stat_hll oracle applies
      // unchanged — the gate itself verifies the streaming-merge identity
      import s.implicits._
      // the two-chunk input layout is FIXTURE (the arrival schedule, not
      // the operator): derive + write it once per (session, sf) — the
      // bench's second pass then times the streaming maintenance, not the
      // shingle explode + md5 + parquet writes. The CHECKPOINT stays
      // per-run (wiped scratch): reusing one would make a later run
      // resume past both files and process nothing.
      val base = prepared(s, s"st12in:$dir") {
        val out = scratchDir(s, "st12", dir)
        val rows = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(graft.pipeline.Dedup.shingles(col("text"), 3)).as("sh"))
          .select(col("doc_id"), col("source"),
            graft.pipeline.Sampling.md5Hash60(col("sh")).as("h"))
        writeArrivals(s, s"$out/in",
          rows.filter(col("doc_id") % 2 === 0).select("source", "h"),
          rows.filter(col("doc_id") % 2 === 1).select("source", "h"))
        out
      }
      val ckpt = scratchDir(s, "st12ckpt", dir)
      val stream = readArrivals(s, s"$base/in")
        .select(col("source").as("_1"), col("h").as("_2")).as[(String, Long)]
      drain(s, graft.streaming.Streams.hllMaintain(stream, p = 6)
        .toDF("source", "upd", "regs")
        .writeStream.format("memory").queryName("st12_hll")
        .outputMode("update"), ckpt)
      val finalRegs = memorySinkRows(s, "st12_hll")
        .groupBy("source").agg(max_by(col("regs"), col("upd")).as("regs"))
      graft.pipeline.Stats.hllEstimate(finalRegs, "source", p = 6)
        .orderBy("source")
    },
      // the streaming register maintenance converges to the identical batch
      // sketch (elementwise-max merge), so the same replay applies
      hllOracle),

    Entry("st16_stream_ewma", (s, dir) => {
      // always-on smoothed-rate monitoring: per-type EWMA folded across
      // micro-batches (flatMapGroupsWithState state = TWO numbers per
      // group — last bucket + last ewma — bounded forever; frontier
      // monotone, so re-delivered or late buckets are dropped). Two
      // in-order triggers (pinned mtimes) make the streamed fold equal
      // the batch fold, so the e9 oracle applies unchanged — the gate
      // verifies the streaming-identity
      import s.implicits._
      // the pinned-mtime chunk layout is fixture, built once per
      // (session, sf) — mtimes persist with the files, so the in-order
      // contract survives the memo; checkpoint per-run (as in st12)
      val base = prepared(s, s"st16in:$dir") {
        orderedCountFiles(s, dir, "st16")
      }
      val ckpt = scratchDir(s, "st16ckpt", dir)
      val stream = readArrivals(s, s"$base/in")
        .select(col("event_type").as("_1"), col("bucket").as("_2"),
          col("cnt").as("_3")).as[(String, Long, Long)]
      drain(s, graft.streaming.Streams.ewmaMaintain(stream, alpha = 0.25)
        .toDF("event_type", "bucket", "cnt", "ewma")
        .writeStream.format("memory").queryName("st16_ewma")
        .outputMode("update"), ckpt)
      memorySinkRows(s, "st16_ewma").orderBy("event_type", "bucket")
    },
      // streaming EWMA ≡ batch EWMA when finalized buckets arrive in order
      // (two bucket-split triggers): the gate checks the identity against
      // the SAME replay
      ewmaOracle),

    Entry("st17_stream_anomaly", (s, dir) => {
      // always-on anomaly ALARMS: the trailing-24-bucket baseline of
      // e7_count_anomaly maintained across micro-batches (state = the
      // frontier + ≤ 24 (bucket, cnt) pairs per type, bounded forever);
      // in-order triggers ⇒ streamed flags ≡ the batch operator
      // row-for-row, verified against the SAME e7 oracle
      import s.implicits._
      // fixture memo + per-run checkpoint: the st16 discipline
      val base = prepared(s, s"st17in:$dir") {
        orderedCountFiles(s, dir, "st17")
      }
      val ckpt = scratchDir(s, "st17ckpt", dir)
      val stream = readArrivals(s, s"$base/in")
        .select(col("event_type").as("_1"), col("bucket").as("_2"),
          col("cnt").as("_3")).as[(String, Long, Long)]
      drain(s, graft.streaming.Streams.anomalyMaintain(stream,
          window = 24, factor = 2L)
        .toDF("event_type", "bucket", "cnt", "trail_n", "trail_sum",
          "anomaly")
        .writeStream.format("memory").queryName("st17_anomaly")
        .outputMode("update"), ckpt)
      memorySinkRows(s, "st17_anomaly").orderBy("event_type", "bucket")
    },
      // streaming anomaly ≡ batch anomaly when finalized buckets arrive in
      // order (pinned-mtime two-trigger harness): the gate checks the
      // identity against the SAME replay
      countAnomalyOracle),

    Entry("st13_stream_cms", (s, dir) => {
      // always-on frequency monitoring: per-source Count-Min counters
      // maintained across micro-batches (state = 4×512 longs + a counter
      // per group, bounded forever). Two triggers split the corpus by doc
      // parity; counter ADDITION is batch-associative, so the counters
      // after each group's last update equal the one-shot batch sketch —
      // the gate verifies that identity by probing the global top-10
      // tokens against per-source exact counts
      import s.implicits._
      // input chunks AND the exact-count probe side (global top-10
      // tokens × per-source counts — a pure function of the corpus, i.e.
      // the expected side of the gate, not the operator) are fixture:
      // built once per (session, sf); the checkpoint stays per-run, as
      // in st12
      val base = prepared(s, s"st13in:$dir") {
        val out = scratchDir(s, "st13", dir)
        val rows = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(col("tok") =!= "")
        val hashed = rows.select(col("doc_id"), col("source"),
          graft.pipeline.Sampling.md5Hash60(col("tok")).as("h"))
        writeArrivals(s, s"$out/in",
          hashed.filter(col("doc_id") % 2 === 0).select("source", "h"),
          hashed.filter(col("doc_id") % 2 === 1).select("source", "h"))
        val top = rows.groupBy("tok").agg(count(lit(1)).as("g"))
          .orderBy(col("g").desc, col("tok")).limit(10).select("tok")
        rows.join(broadcast(top), "tok")
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/probe")
        out
      }
      val ckpt = scratchDir(s, "st13ckpt", dir)
      val stream = readArrivals(s, s"$base/in")
        .select(col("source").as("_1"), col("h").as("_2")).as[(String, Long)]
      drain(s, graft.streaming.Streams.cmsMaintain(stream, d = 4, wlog = 9)
        .toDF("source", "upd", "cnts")
        .writeStream.format("memory").queryName("st13_cms")
        .outputMode("update"), ckpt)
      val finalCnts = memorySinkRows(s, "st13_cms")
        .groupBy("source").agg(max_by(col("cnts"), col("upd")).as("__cms"))
      s.read.parquet(s"$base/probe").join(broadcast(finalCnts), "source")
        .withColumn("est", graft.pipeline.Stats.cmsEstimateExpr(
          col("__cms"), col("tok"), d = 4, wlog = 9))
        .select(col("source"), col("tok").as("token"), col("cnt"), col("est"))
        .orderBy("source", "token")
    },
      // streaming CMS ≡ one-shot batch sketch (add-merge identity): replay
      // the per-source counters in SQL, probe global top-10 tokens
      """WITH tk AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok != ''),
        |h AS (
        |  SELECT source, tok,
        |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
        |  FROM tk),
        |b AS (
        |  SELECT source, i, (hv >> (i * 9)) & 511 AS slot,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM h CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) ii
        |  GROUP BY 1, 2, 3),
        |top AS (
        |  SELECT tok, COUNT(*) AS g FROM tk
        |  GROUP BY tok ORDER BY g DESC, tok LIMIT 10),
        |exact AS (
        |  SELECT source, tok AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tk JOIN top USING (tok) GROUP BY 1, 2),
        |probe AS (
        |  SELECT source, token, cnt,
        |         ('0x' || substr(md5(token), 1, 15))::BIGINT AS hv
        |  FROM exact)
        |SELECT p.source, p.token, p.cnt, MIN(b.c) AS est
        |FROM probe p JOIN b ON b.source = p.source
        |  AND b.slot = ((p.hv >> (b.i * 9)) & 511)
        |GROUP BY 1, 2, 3 ORDER BY p.source, p.token""".stripMargin),

    Entry("st3_recovery_worklist", (s, dir) => {
      // batch 1 (regions, quantum 1) completed; batch 2 (nations, quantum
      // 2) incomplete → the recovery pass must re-drive exactly batch 2 in
      // (uri, revision) order
      val rFeed = emptyStore(s).applyOps(putOps(s, t(s, dir, "region"),
        "regions~", "r_regionkey", Seq("r_name"))).feed
      val nFeed = emptyStore(s).applyOps(putOps(s, t(s, dir, "nation"),
        "nations~", "n_nationkey", Seq("n_name"))).feed
      val l1 = Ledger.fromFeed(rFeed, 60000L)
      val ledger = Ledger.complete(l1, l1.select("txn_id"))
        .unionByName(Ledger.fromFeed(nFeed, 120000L))
      Ledger.recoveryWorkList(ledger, 0L, 10L)
        .select(col("document_uri"), col("txn_id"), col("revision"))
    },
      """SELECT 'nations~' AS document_uri,
        |       'nations~/' || CAST(n_nationkey AS VARCHAR) || '#' ||
        |       CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS VARCHAR) AS txn_id,
        |       ROW_NUMBER() OVER (ORDER BY n_nationkey) AS revision
        |FROM nation ORDER BY document_uri, revision""".stripMargin)
  )
}

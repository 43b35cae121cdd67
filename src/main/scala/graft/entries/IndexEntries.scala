package graft
package entries

import graft.engine._
import graft.indexing.{IndexManager, IndexSortItem, QueryPlanner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The stored secondary-index entries (S4/M6/M8): index builds, index-served
  * scans and pages, as-of reads, maintenance and durable drops. */
object IndexEntries {

  /** Shared builder for m6_index_build: filtered decimal-sorted index rows. */
  private def m6IndexRows(s: SparkSession, dir: String): DataFrame = {
    // the adapted collection is setup; the index BUILD is the operator this
    // entry measures, so it runs on every call (fresh IndexManager — defs
    // are per-instance, so repeated builds don't 409)
    val st = prepared(s, s"m6st:$dir") {
      collection(s, dir, "supplier", "s_suppkey", "suppliers~")
    }
    val im = new IndexManager(st)
    im.createIndex("suppliers~", "by_acctbal",
      Seq(IndexSortItem("s_acctbal", Some("decimal"), Some("asc"))),
      Some("s_acctbal > 1000"))
    im.indexTable("suppliers~", "by_acctbal").get
  }

  val all: Seq[Entry] = Seq(

    // ---- S4/M6/M8: materialized secondary indexes -----------------------
    Entry("m6_index_build", (s, dir) =>
      m6IndexRows(s, dir)
        .select(col("item_id"), decAsDouble(col("d0")).as("d0"))
        .orderBy("item_id"),
      // decimal results are emitted as doubles on both sides: the driver's
      // hasher diverges on DECIMAL columns (see decAsDouble scaladoc)
      """SELECT CAST(s_suppkey AS VARCHAR) AS item_id, s_acctbal AS d0
        |FROM supplier WHERE s_acctbal > 1000 ORDER BY item_id""".stripMargin),

    Entry("s4_index_scan", (s, dir) => {
      // the index BUILD is scaffolding here (m6 is the entry that measures
      // a build); memoized so the bench's second pass times the
      // index-served SCAN alone
      val im = prepared(s, s"s4idx:$dir") {
        val st = collection(s, dir, "customer", "c_custkey", "customers~")
        val im0 = new IndexManager(st)
        im0.createIndex("customers~", "by_acctbal",
          Seq(IndexSortItem("c_acctbal", Some("decimal"), Some("asc"))),
          Some("c_acctbal > 0"))
        im0
      }
      val (plan, q) = QueryPlanner.query(im, "customers~",
        Some("c_acctbal > 1000 and c_acctbal < 5000"),
        Seq(SortBy("c_acctbal")), size = 1000)
      require(plan.source == "by_acctbal", s"expected index scan, got ${plan.source}")
      q.rows.select(col("item_id"),
        j("body", "c_acctbal").cast("double").as("acctbal"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_acctbal AS acctbal
        |FROM customer WHERE c_acctbal > 1000 AND c_acctbal < 5000
        |ORDER BY c_acctbal, item_id LIMIT 1000""".stripMargin),

    Entry("o6_index_pagination", (s, dir) => {
      // O6 on the index path: page 2 fetched THROUGH the chosen index with
      // typed resume-key filters (IndexLogic.leastRowsFilterFields), not a
      // primary-path overfetch — both pages must stay on the index source
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      val im = new IndexManager(st)
      im.createIndex("customers~", "by_acctbal",
        Seq(IndexSortItem("c_acctbal", Some("decimal"), Some("asc"))), None)
      val sort = Seq(SortBy("c_acctbal"))
      val (p1, q1) = QueryPlanner.query(im, "customers~", None, sort, size = 100)
      require(p1.source == "by_acctbal", s"expected index scan, got ${p1.source}")
      val last = q1.rows.collect().last
      val (p2, q2) = QueryPlanner.queryAfter(im, "customers~", last, None, sort,
        size = 100)
      require(p2.source == "by_acctbal", s"expected index page 2, got ${p2.source}")
      q2.rows.select(col("item_id"), decAsDouble(col("d0")).as("acctbal"))
        .orderBy("item_id")
    },
      """SELECT item_id, acctbal FROM (
        |  SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_acctbal AS acctbal
        |  FROM customer ORDER BY c_acctbal, item_id LIMIT 100 OFFSET 100
        |) ORDER BY item_id""".stripMargin),

    Entry("o4_index_skipmax", (s, dir) => {
      // index-served query WITH the skipped-rows guard active: the
      // residual mktsegment filter rejects scanned index rows, but the
      // page fills early in index order, so the guard passes exactly
      // where the primary path's positional semantics would
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      val im = new IndexManager(st)
      im.createIndex("customers~", "by_acctbal",
        Seq(IndexSortItem("c_acctbal", Some("decimal"), Some("asc"))),
        Some("c_acctbal > 0"))
      val (plan, q) = QueryPlanner.query(im, "customers~",
        Some("c_acctbal > 0 and c_mktsegment = \"BUILDING\""),
        Seq(SortBy("c_acctbal")), size = 10)
      require(plan.source == "by_acctbal", s"expected index scan, got ${plan.source}")
      q.rows.select(col("item_id"), decAsDouble(col("d0")).as("acctbal"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_acctbal AS acctbal
        |FROM customer
        |WHERE c_acctbal > 0 AND c_mktsegment = 'BUILDING'
        |ORDER BY c_acctbal, item_id LIMIT 10""".stripMargin),

    Entry("s2_asof_scan", (s, dir) => {
      import s.implicits._
      // TIME TRAVEL over the revisioned content log: the same collection
      // scanned live AND as of the pre-patch revision cutoff — the
      // snapshot-read capability the revision model buys (superseded
      // rows survive until compaction, as in the reference's Cassandra
      // log). asOf is a log filter BELOW the latest-revision window,
      // landing on the scan next to the partition pruning
      val sup = t(s, dir, "supplier")
      val puts = sup.select(
        col("s_suppkey").cast("long").as("seq"), lit("PUT").as("method"),
        concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
        to_json(struct(col("s_acctbal").as("acctbal"))).as("body")).as[WriteOp]
      val r1 = emptyStore(s).applyOps(puts)
      val st1 = HyperStorage(s, r1.log.persist())
      val patches = sup.filter(col("s_suppkey") <= 20).select(
        (col("s_suppkey") + 1000).cast("long").as("seq"),
        lit("PATCH").as("method"),
        concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
        to_json(struct((col("s_acctbal") + 10000).as("acctbal"))).as("body"))
        .as[WriteOp]
      // the pre-patch snapshot cutoff is the collection revision after
      // the PUT batch — read through the engine's own static-revision API
      val cut = st1.revisionOf("suppliers~")
      val st = HyperStorage(s, st1.applyOps(patches).log.persist())
      val now = st.query("suppliers~", size = Int.MaxValue, skipMax = -1)
        .rows.select(col("item_id"),
          j("body", "acctbal").cast("double").as("acctbal_now"))
      val v1 = st.asOf(cut).query("suppliers~", size = Int.MaxValue, skipMax = -1)
        .rows.select(col("item_id"),
          j("body", "acctbal").cast("double").as("acctbal_v1"))
      now.join(v1, "item_id").orderBy("item_id")
    },
      """SELECT CAST(s_suppkey AS VARCHAR) AS item_id,
        |       CASE WHEN s_suppkey <= 20 THEN s_acctbal + 10000
        |            ELSE s_acctbal END AS acctbal_now,
        |       s_acctbal AS acctbal_v1
        |FROM supplier ORDER BY item_id""".stripMargin),

    Entry("m8_index_maintenance", (s, dir) => {
      import s.implicits._
      val sup = t(s, dir, "supplier")
      val puts = sup.select(
        col("s_suppkey").cast("long").as("seq"),
        lit("PUT").as("method"),
        concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
        to_json(struct(col("s_acctbal").as("acctbal"))).as("body")).as[WriteOp]
      val r1 = emptyStore(s).applyOps(puts)
      // materialize the applied log once (in production it lands in
      // storage); otherwise every downstream action replays the cogroup
      val st = HyperStorage(s, r1.log.persist())
      // durable manager: the maintenance below is a partition-scoped
      // parquet merge, not an in-memory union chain
      val im = new IndexManager(st,
        Some(new graft.indexing.IndexStore(s, scratchDir(s, "idx", dir))))
      im.createIndex("suppliers~", "rich", Nil, Some("acctbal > 5000"))
      val patches = sup.filter(col("s_suppkey") <= 20).select(
        (col("s_suppkey") + 1000).cast("long").as("seq"),
        lit("PATCH").as("method"),
        concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
        to_json(struct((col("s_acctbal") + 10000).as("acctbal"))).as("body")).as[WriteOp]
      val r2 = st.applyOps(patches)
      im.applyFeed(r2.feed) // incremental: touched items re-evaluated
      im.indexTable("suppliers~", "rich").get
        .select(col("item_id"), j("body", "acctbal").cast("double").as("acctbal"))
        .orderBy("item_id")
    },
      """SELECT CAST(s_suppkey AS VARCHAR) AS item_id,
        |       CASE WHEN s_suppkey <= 20 THEN s_acctbal + 10000
        |            ELSE s_acctbal END AS acctbal
        |FROM supplier
        |WHERE (CASE WHEN s_suppkey <= 20 THEN s_acctbal + 10000
        |            ELSE s_acctbal END) > 5000
        |ORDER BY item_id""".stripMargin),

    Entry("m7_index_drop_durable", (s, dir) => {
      // M7 end-to-end durable: create two indexes, drop one, REOPEN the
      // store (fresh IndexManager over the same IndexStore path — defs
      // reload from the durable manifest, exactly what a restarted node
      // does); the dropped index must stay gone, the survivor must serve
      val st = collection(s, dir, "supplier", "s_suppkey", "suppliers~")
      val path = scratchDir(s, "m7drop", dir)
      val im = new IndexManager(st, Some(new graft.indexing.IndexStore(s, path)))
      im.createIndex("suppliers~", "by_acctbal",
        Seq(IndexSortItem("s_acctbal", Some("decimal"), Some("asc"))), None)
      im.createIndex("suppliers~", "rich", Nil, Some("s_acctbal > 5000"))
      im.deleteIndex("suppliers~", "by_acctbal")
      val reopened =
        new IndexManager(st, Some(new graft.indexing.IndexStore(s, path)))
      require(reopened.indexDefs("suppliers~").map(_.indexId) == Seq("rich"),
        s"expected only 'rich' to survive the drop+reopen")
      require(reopened.indexTable("suppliers~", "by_acctbal").isEmpty,
        "dropped index table must not reopen")
      reopened.indexTable("suppliers~", "rich").get
        .select(col("item_id"),
          j("body", "s_acctbal").cast("double").as("acctbal"))
        .orderBy("item_id")
    },
      """SELECT CAST(s_suppkey AS VARCHAR) AS item_id, s_acctbal AS acctbal
        |FROM supplier WHERE s_acctbal > 5000 ORDER BY item_id""".stripMargin)
  )
}

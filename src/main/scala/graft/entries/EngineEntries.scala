package graft
package entries

import graft.engine._
import graft.indexing.IndexManager
import org.apache.spark.sql.functions._
import EntryHelpers._

/** The engine entries (SURVEY.md §2 S/F/O/M): point gets, range and store
  * scans, HQL filters, sort and paging, and the mutation surface (PUT,
  * PATCH, DELETE, POST id generation, rejected ops, timestamps). */
object EngineEntries {

  val all: Seq[Entry] = Seq(

    // ---- S: scans / sources --------------------------------------------
    Entry("s1_point_get", (s, dir) => {
      val st = collection(s, dir, "nation", "n_nationkey", "nations~")
      st.getDF("nations~/7").select(
        col("item_id"),
        j("body", "n_name").as("name"),
        j("body", "n_regionkey").cast("int").as("regionkey"))
    },
      """SELECT CAST(n_nationkey AS VARCHAR) AS item_id, n_name AS name,
        |       CAST(n_regionkey AS INTEGER) AS regionkey
        |FROM nation WHERE n_nationkey = 7""".stripMargin),

    Entry("s2_range_scan", (s, dir) => {
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      st.query("customers~", itemIdFilter = Some((">", "1200")), size = 30)
        .rows.select(col("item_id"),
          j("body", "c_name").as("name"),
          j("body", "c_acctbal").cast("double").as("acctbal"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_name AS name,
        |       c_acctbal AS acctbal
        |FROM customer WHERE CAST(c_custkey AS VARCHAR) > '1200'
        |ORDER BY item_id LIMIT 30""".stripMargin),

    Entry("s2_range_scan_desc", (s, dir) => {
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      st.query("customers~", itemIdFilter = Some(("<", "1200")), size = 25,
          ascending = false)
        .rows.select(col("item_id"), j("body", "c_name").as("name"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_name AS name
        |FROM customer WHERE CAST(c_custkey AS VARCHAR) < '1200'
        |ORDER BY item_id DESC LIMIT 25""".stripMargin),

    Entry("s2_store_scan", (s, dir) => {
      // through the crc32-partitioned parquet store: the per-URI read
      // prunes to one directory partition (ContentStoreSpec pins the plan)
      val path = scratchDir(s, "store", dir)
      ContentStore.write(
        Content.fromTable(t(s, dir, "customer"), "customers~", "c_custkey"),
        path, org.apache.spark.sql.SaveMode.Overwrite)
      ContentStore.open(s, path)
        .query("customers~", itemIdFilter = Some((">", "500")), size = 40)
        .rows.select(col("item_id"), j("body", "c_name").as("name"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_name AS name
        |FROM customer WHERE CAST(c_custkey AS VARCHAR) > '500'
        |ORDER BY item_id LIMIT 40""".stripMargin),

    Entry("s2_compact_store", (s, dir) => {
      // compaction (the reference's Cassandra-compaction role): a store
      // holding one row per WRITE shrinks to one row per KEY with reads
      // invariant — latest bodies, revisions, pruning all preserved
      import s.implicits._
      val base = scratchDir(s, "compact", dir)
      val nat = t(s, dir, "nation")
      val r1 = emptyStore(s).applyOps(
        putOps(s, nat, "nations~", "n_nationkey", Seq("n_name")))
      ContentStore.write(r1.log, s"$base/store",
        org.apache.spark.sql.SaveMode.Overwrite)
      val st1 = ContentStore.open(s, s"$base/store")
      val patches = nat.filter(col("n_nationkey") < 10).select(
        (col("n_nationkey") + 100).cast("long").as("seq"),
        lit("PATCH").as("method"),
        concat(lit("nations~/"), col("n_nationkey").cast("string")).as("path"),
        to_json(struct(lit(2).as("v"))).as("body")).as[WriteOp]
      val r2 = st1.applyOps(patches)
      ContentStore.write(r2.appended, s"$base/store")
      ContentStore.compact(s, s"$base/store")
      val st2 = ContentStore.open(s, s"$base/store")
      val keys = nat.count()
      val physical = st2.log.count()
      require(physical == keys, s"compaction left $physical rows for $keys keys")
      st2.query("nations~", size = 100).rows.select(
        col("item_id"), col("revision"),
        j("body", "n_name").as("name"),
        j("body", "v").cast("int").as("v"))
    },
      // revisions are per-collection sequential: batch 1 assigns 1..N in seq
      // order (seq = n_nationkey), batch 2's patches continue at N+1
      """SELECT CAST(n_nationkey AS VARCHAR) AS item_id,
        |  CAST(CASE WHEN n_nationkey < 10
        |       THEN (SELECT COUNT(*) FROM nation) + 1 + n_nationkey
        |       ELSE n_nationkey + 1 END AS BIGINT) AS revision,
        |  n_name AS name,
        |  CASE WHEN n_nationkey < 10 THEN 2 ELSE NULL END AS v
        |FROM nation ORDER BY item_id""".stripMargin),

    Entry("s3_static_revision", (s, dir) => {
      import s.implicits._
      val ops = putOps(s, t(s, dir, "nation"), "nations~", "n_nationkey",
        Seq("n_name", "n_regionkey"))
      val st = emptyStore(s)
      val applied = HyperStorage(s, st.applyOps(ops).log)
      Seq(applied.revisionOf("nations~")).toDF("revision")
    },
      "SELECT COUNT(*) AS revision FROM nation"),

    Entry("s8_ledger_complete", (s, dir) => {
      val ops = putOps(s, t(s, dir, "region"), "regions~", "r_regionkey",
        Seq("r_name"))
      val feed = emptyStore(s).applyOps(ops).feed
      val ledger = Ledger.fromFeed(feed, batchTsMillis = 0L)
      val done = Ledger.complete(ledger, ledger.select("txn_id"))
      done.select(col("txn_id"), col("completed"), col("revision"))
        .orderBy("txn_id")
    },
      """SELECT 'regions~/' || CAST(r_regionkey AS VARCHAR) || '#' ||
        |       CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) AS VARCHAR) AS txn_id,
        |       TRUE AS completed,
        |       ROW_NUMBER() OVER (ORDER BY r_regionkey) AS revision
        |FROM region ORDER BY txn_id""".stripMargin),

    Entry("s10_checkpoint", (s, dir) => {
      // two batches in different quanta; batch 1 completed, batch 2 not →
      // checkpoint = quantum(batch1) per touched partition
      val ops = putOps(s, t(s, dir, "region"), "regions~", "r_regionkey",
        Seq("r_name"))
      val feed = emptyStore(s).applyOps(ops).feed
      val l1 = Ledger.complete(Ledger.fromFeed(feed, 60000L),
        Ledger.fromFeed(feed, 60000L).select("txn_id"))
      val l2 = Ledger.fromFeed(feed, 120000L)
      Ledger.checkpoints(l1.unionByName(l2))
        .select(col("checkpoint_quantum")).distinct()
    },
      "SELECT CAST(1 AS BIGINT) AS checkpoint_quantum"),

    // ---- F: filters ----------------------------------------------------
    Entry("f1_filter_numeric", (s, dir) => {
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      st.query("customers~",
          filter = Some("c_acctbal > 1000 and c_acctbal < 5000"), size = 1000)
        .rows.select(col("item_id"),
          j("body", "c_acctbal").cast("double").as("acctbal"),
          j("body", "c_mktsegment").as("mktsegment"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, c_acctbal AS acctbal,
        |       c_mktsegment AS mktsegment
        |FROM customer WHERE c_acctbal > 1000 AND c_acctbal < 5000
        |ORDER BY item_id LIMIT 1000""".stripMargin),

    Entry("f1_filter_text", (s, dir) => {
      val st = collection(s, dir, "part", "p_partkey", "parts~")
      st.query("parts~", filter = Some("p_brand = \"Brand#4\""), size = 200)
        .rows.select(col("item_id"),
          j("body", "p_brand").as("brand"),
          j("body", "p_size").cast("int").as("psize"))
    },
      """SELECT CAST(p_partkey AS VARCHAR) AS item_id, p_brand AS brand,
        |       CAST(p_size AS INTEGER) AS psize
        |FROM part WHERE p_brand = 'Brand#4' ORDER BY item_id LIMIT 200""".stripMargin),

    Entry("f2_filter_or_has", (s, dir) => {
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      st.query("customers~",
          filter = Some("c_mktsegment has [\"BUILDING\",\"AUTOMOBILE\"] or c_acctbal < 0"),
          size = 2000)
        .rows.select(col("item_id"),
          j("body", "c_mktsegment").as("mktsegment"),
          j("body", "c_acctbal").cast("double").as("acctbal"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id,
        |       c_mktsegment AS mktsegment, c_acctbal AS acctbal
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') OR c_acctbal < 0
        |ORDER BY item_id LIMIT 2000""".stripMargin),

    Entry("f5_filter_constfold", (s, dir) => {
      val st = collection(s, dir, "part", "p_partkey", "parts~")
      // ~11% selectivity: at sf0.1 the default 10k skip cap would trip
      // (correct per the reference contract); raise it for the entry
      st.query("parts~",
          filter = Some("p_size > 2 * 20 + 5 and p_retailprice <= 1500"),
          size = 3000, skipMax = 500000)
        .rows.select(col("item_id"),
          j("body", "p_size").cast("int").as("psize"),
          j("body", "p_retailprice").cast("double").as("retailprice"))
    },
      """SELECT CAST(p_partkey AS VARCHAR) AS item_id,
        |       CAST(p_size AS INTEGER) AS psize, p_retailprice AS retailprice
        |FROM part WHERE p_size > 45 AND p_retailprice <= 1500
        |ORDER BY item_id LIMIT 3000""".stripMargin),

    Entry("f6_filter_validation", (s, dir) => {
      // F6 under the gate: createIndex validates filterBy BEFORE persisting
      // the def (reference IndexDefTaskWorker rejects malformed filters at
      // the API edge) — each case attempts a REAL createIndex; a rejected
      // filter must throw and leave no def behind, an accepted one builds
      import s.implicits._
      val st = collection(s, dir, "region", "r_regionkey", "regions~")
      val im = new IndexManager(st)
      val cases = Seq(
        "r_regionkey > 2",             // plain comparison — valid
        "r_regionkey >",               // parse error
        "frobnicate(r_name) != \"x\"", // unknown function
        "5 and 4",                     // constant subtree fails boolean eval
        "length(r_name, 2, 3) > 1",    // arity error
        "x and b > 5")                 // unresolved identifiers alone are fine
      val rows = cases.zipWithIndex.map { case (f, i) =>
        val accepted =
          try { im.createIndex("regions~", s"v$i", Nil, Some(f)); true }
          catch { case _: IllegalArgumentException => false }
        (i.toLong, f, accepted)
      }
      require(im.indexDefs("regions~").size == rows.count(_._3),
        "rejected filters must not leave index defs behind")
      s.createDataset(rows).toDF("case_id", "filter", "accepted")
        .orderBy("case_id")
    },
      // fixed-outcome oracle: the validation verdicts are the spec — the
      // Spark side must reproduce them through the real createIndex path
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'r_regionkey > 2', TRUE),
        |  (1, 'r_regionkey >', FALSE),
        |  (2, 'frobnicate(r_name) != "x"', FALSE),
        |  (3, '5 and 4', FALSE),
        |  (4, 'length(r_name, 2, 3) > 1', FALSE),
        |  (5, 'x and b > 5', TRUE)
        |) AS t(case_id, filter, accepted) ORDER BY case_id""".stripMargin),

    Entry("f11_sql_surface", (s, dir) => {
      // the SQL extension surface under the gate: hql() (the reference's
      // filter language as a plan-time-translated SQL predicate),
      // json_merge_patch and json_null_strip, all through spark.sql
      GraftFunctions.register(s)
      Content.fromTable(t(s, dir, "customer"), "customers~", "c_custkey")
        .createOrReplaceTempView("f11_content")
      s.sql("""
        SELECT item_id,
               get_json_object(json_merge_patch(body, '{"tag":"rich","c_comment":null}'),
                               '$.tag') AS tag,
               CAST(get_json_object(body, '$.c_acctbal') AS DOUBLE) AS acctbal
        FROM f11_content
        WHERE hql(body, 'c_acctbal > 9000 and c_mktsegment != "MACHINERY"')
        ORDER BY item_id""")
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id, 'rich' AS tag,
        |       c_acctbal AS acctbal
        |FROM customer
        |WHERE c_acctbal > 9000 AND c_mktsegment != 'MACHINERY'
        |ORDER BY item_id""".stripMargin),

    Entry("f8_null_strip", (s, dir) => {
      import s.implicits._
      val ops = t(s, dir, "region").select(
        col("r_regionkey").cast("long").as("seq"),
        lit("PUT").as("method"),
        concat(lit("regions~/"), col("r_regionkey").cast("string")).as("path"),
        concat(lit("{\"name\":\""), col("r_name"), lit("\",\"tmp\":null}")).as("body")
      ).as[WriteOp]
      val log = emptyStore(s).applyOps(ops).log
      HyperStorage(s, log).query("regions~").rows.select(
        col("item_id"), j("body", "name").as("name"),
        j("body", "tmp").as("tmp"))
    },
      """SELECT CAST(r_regionkey AS VARCHAR) AS item_id, r_name AS name,
        |       CAST(NULL AS VARCHAR) AS tmp
        |FROM region ORDER BY item_id""".stripMargin),

    // ---- O: sort / limit / paging --------------------------------------
    Entry("o2_sort_multifield", (s, dir) => {
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      st.query("customers~",
          sort = Seq(SortBy("c_mktsegment"), SortBy("c_acctbal", descending = true)),
          size = 50)
        .rows.select(col("item_id"),
          j("body", "c_mktsegment").as("mktsegment"),
          j("body", "c_acctbal").cast("double").as("acctbal"))
    },
      """SELECT CAST(c_custkey AS VARCHAR) AS item_id,
        |       c_mktsegment AS mktsegment, c_acctbal AS acctbal
        |FROM customer
        |ORDER BY c_mktsegment ASC, c_acctbal DESC, item_id ASC LIMIT 50""".stripMargin),

    Entry("o2_sort_missing_fields", (s, dir) => {
      import s.implicits._
      // `region` present only on even keys: missing fields sort LAST asc
      val ops = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("seq"),
        lit("PUT").as("method"),
        concat(lit("nations~/"), col("n_nationkey").cast("string")).as("path"),
        to_json(struct(col("n_name").as("name"),
          when(col("n_nationkey") % 2 === 0, col("n_regionkey")).as("region"))).as("body")
      ).as[WriteOp]
      val log = emptyStore(s).applyOps(ops).log
      HyperStorage(s, log).query("nations~", sort = Seq(SortBy("region")))
        .rows.select(col("item_id"), j("body", "region").cast("int").as("region"))
    },
      """SELECT CAST(n_nationkey AS VARCHAR) AS item_id,
        |       CASE WHEN n_nationkey % 2 = 0 THEN CAST(n_regionkey AS INTEGER) END
        |         AS region
        |FROM nation
        |ORDER BY (CASE WHEN n_nationkey % 2 = 0 THEN 0 ELSE 1 END),
        |         (CASE WHEN n_nationkey % 2 = 0 THEN n_regionkey END),
        |         item_id""".stripMargin),

    Entry("o3_default_page", (s, dir) => {
      val st = collection(s, dir, "orders", "o_orderkey", "orders~")
      st.query("orders~").rows.select(col("item_id"),
        j("body", "o_orderstatus").as("status"))
    },
      """SELECT CAST(o_orderkey AS VARCHAR) AS item_id,
        |       o_orderstatus AS status
        |FROM orders ORDER BY item_id LIMIT 100""".stripMargin),

    Entry("o4_topk_overfetch", (s, dir) => {
      val st = collection(s, dir, "orders", "o_orderkey", "orders~")
      st.query("orders~", filter = Some("o_totalprice > 1000"),
          sort = Seq(SortBy("o_totalprice", descending = true)), size = 50)
        .rows.select(col("item_id"),
          j("body", "o_totalprice").cast("double").as("totalprice"))
    },
      """SELECT CAST(o_orderkey AS VARCHAR) AS item_id,
        |       o_totalprice AS totalprice
        |FROM orders WHERE o_totalprice > 1000
        |ORDER BY o_totalprice DESC, item_id ASC LIMIT 50""".stripMargin),

    Entry("o6_pagination", (s, dir) => {
      val st = collection(s, dir, "customer", "c_custkey", "customers~")
      val sort = Seq(SortBy("c_mktsegment"))
      val p1 = st.query("customers~", sort = sort, size = 100)
      val last = p1.rows.collect().last
      st.queryAfter("customers~", last, sort = sort, size = 100)
        .rows.select(col("item_id"), j("body", "c_mktsegment").as("mktsegment"))
    },
      """SELECT item_id, mktsegment FROM (
        |  SELECT CAST(c_custkey AS VARCHAR) AS item_id,
        |         c_mktsegment AS mktsegment
        |  FROM customer ORDER BY c_mktsegment, item_id LIMIT 100 OFFSET 100
        |) ORDER BY mktsegment, item_id""".stripMargin),

    // ---- M: mutations ---------------------------------------------------
    Entry("m1_put_get", (s, dir) => {
      val ops = putOps(s, t(s, dir, "region"), "regions~", "r_regionkey",
        Seq("r_name"))
      val log = emptyStore(s).applyOps(ops).log
      HyperStorage(s, log).query("regions~").rows.select(
        col("item_id"), j("body", "r_name").as("name"))
    },
      """SELECT CAST(r_regionkey AS VARCHAR) AS item_id, r_name AS name
        |FROM region ORDER BY item_id""".stripMargin),

    Entry("m2_patch_null_delete", (s, dir) => {
      import s.implicits._
      val n = t(s, dir, "nation")
      val puts = putOps(s, n, "nations~", "n_nationkey", Seq("n_name", "n_regionkey"))
      val patches = n.select(
        (col("n_nationkey") + 1000).cast("long").as("seq"),
        lit("PATCH").as("method"),
        concat(lit("nations~/"), col("n_nationkey").cast("string")).as("path"),
        lit("{\"n_regionkey\":null,\"patched\":true}").as("body")
      ).as[WriteOp]
      val log = emptyStore(s).applyOps(puts.unionByName(patches)).log
      HyperStorage(s, log).query("nations~").rows.select(
        col("item_id"), j("body", "n_name").as("name"),
        j("body", "patched").cast("boolean").as("patched"),
        j("body", "n_regionkey").cast("int").as("regionkey"))
    },
      """SELECT CAST(n_nationkey AS VARCHAR) AS item_id, n_name AS name,
        |       TRUE AS patched, CAST(NULL AS INTEGER) AS regionkey
        |FROM nation ORDER BY item_id""".stripMargin),

    Entry("m3_delete_collection", (s, dir) => {
      import s.implicits._
      val r = t(s, dir, "region")
      val putsA = putOps(s, r, "regions-a~", "r_regionkey", Seq("r_name"))
      val putsB = putOps(s, r, "regions-b~", "r_regionkey", Seq("r_name"))
      val delA = s.createDataset(Seq(
        WriteOp(100L, "DELETE", "regions-a~", null)))
      val log = emptyStore(s)
        .applyOps(putsA.unionByName(putsB).unionByName(delA)).log
      Content.latestView(log) // collection tombstone hides all of regions-a~
        .select(col("document_uri"), col("item_id"),
          j("body", "r_name").as("name"))
        .orderBy("document_uri", "item_id")
    },
      """SELECT 'regions-b~' AS document_uri,
        |       CAST(r_regionkey AS VARCHAR) AS item_id, r_name AS name
        |FROM region ORDER BY document_uri, item_id""".stripMargin),

    Entry("m4_delete_items", (s, dir) => {
      import s.implicits._
      val sup = t(s, dir, "supplier")
      val puts = putOps(s, sup, "suppliers~", "s_suppkey", Seq("s_name", "s_acctbal"))
      val dels = sup.filter(col("s_suppkey") <= 50).select(
        (col("s_suppkey") + 1000).cast("long").as("seq"),
        lit("DELETE").as("method"),
        concat(lit("suppliers~/"), col("s_suppkey").cast("string")).as("path"),
        lit(null).cast("string").as("body")
      ).as[WriteOp]
      val log = emptyStore(s).applyOps(puts.unionByName(dels)).log
      HyperStorage(s, log).query("suppliers~", size = 200).rows.select(
        col("item_id"), j("body", "s_name").as("name"),
        j("body", "s_acctbal").cast("double").as("acctbal"))
    },
      """SELECT CAST(s_suppkey AS VARCHAR) AS item_id, s_name AS name,
        |       s_acctbal AS acctbal
        |FROM supplier WHERE s_suppkey > 50 ORDER BY item_id LIMIT 200""".stripMargin),

    Entry("m5_post_idgen", (s, dir) => {
      import s.implicits._
      val ops = t(s, dir, "region").select(
        col("r_regionkey").cast("long").as("seq"),
        lit("POST").as("method"),
        lit("posted~").as("path"),
        to_json(struct(col("r_name").as("name"))).as("body")
      ).as[WriteOp]
      val log = emptyStore(s).applyOps(ops).log
      HyperStorage(s, log).query("posted~").rows.select(
        col("item_id"), j("body", "name").as("name"),
        j("body", "id").as("injected_id"))
    },
      """SELECT lpad(CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) AS VARCHAR), 19, '0')
        |         AS item_id,
        |       r_name AS name,
        |       lpad(CAST(ROW_NUMBER() OVER (ORDER BY r_regionkey) AS VARCHAR), 19, '0')
        |         AS injected_id
        |FROM region ORDER BY item_id""".stripMargin),

    Entry("m9_rejected_ops", (s, dir) => {
      import s.implicits._
      val patches = t(s, dir, "nation").filter(col("n_nationkey") < 5).select(
        col("n_nationkey").cast("long").as("seq"),
        lit("PATCH").as("method"),
        concat(lit("ghost~/"), col("n_nationkey").cast("string")).as("path"),
        lit("{\"x\":1}").as("body")
      ).as[WriteOp]
      val collPut = s.createDataset(Seq(
        WriteOp(100L, "PUT", "ghost~", "{}")))
      emptyStore(s).applyOps(patches.unionByName(collPut))
        .rejected.select(col("seq"), col("path"), col("method"), col("code"))
        .orderBy("seq")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS seq,
        |       'ghost~/' || CAST(n_nationkey AS VARCHAR) AS path,
        |       'PATCH' AS method, 'not-found' AS code
        |FROM nation WHERE n_nationkey < 5
        |UNION ALL
        |SELECT 100, 'ghost~', 'PUT', 'collection-put-not-implemented'
        |ORDER BY seq""".stripMargin),

    Entry("m10_timestamps", (s, dir) => {
      import s.implicits._
      val nat = t(s, dir, "nation")
      val puts = putOps(s, nat, "nations~", "n_nationkey", Seq("n_name"))
      val r1 = emptyStore(s).applyOps(puts, batchTsMillis = 60000L)
      // second batch re-PUTs every item: created_at must survive,
      // modified_at must move to the new batch time
      val updates = nat.select(
        (col("n_nationkey") + 100).cast("long").as("seq"),
        lit("PUT").as("method"),
        concat(lit("nations~/"), col("n_nationkey").cast("string")).as("path"),
        to_json(struct(col("n_name"), lit(2).as("v"))).as("body")).as[WriteOp]
      val r2 = HyperStorage(s, r1.log).applyOps(updates, batchTsMillis = 120000L)
      Content.latestView(r2.log)
        .select(col("item_id"),
          unix_millis(col("created_at")).as("created_ms"),
          unix_millis(col("modified_at")).as("modified_ms"))
        .orderBy("item_id")
    },
      """SELECT CAST(n_nationkey AS VARCHAR) AS item_id,
        |       CAST(60000 AS BIGINT) AS created_ms,
        |       CAST(120000 AS BIGINT) AS modified_ms
        |FROM nation ORDER BY item_id""".stripMargin)
  )
}

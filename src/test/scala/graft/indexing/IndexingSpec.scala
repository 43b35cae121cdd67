package graft.indexing

import graft.SparkFixture
import graft.engine._
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers

/** Index lifecycle + selection + maintenance (reference
  * IndexingSpec.scala:22-692 and the 16 plan-verification scenarios of
  * QueryCollectionsSpec.scala:80-309 — here the "which physical source was
  * scanned" assertion is QueryPlan.source). */
class IndexingSpec extends AnyFreeSpec with Matchers with SparkFixture {

  // QueryCollectionsSpec fixture: c1/c2/c3 + index1(filter b>10),
  // index2(sort a asc, filter b>10), index3(sort a asc)
  private def fixture: IndexManager = {
    val r = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
      WriteOp(1, "PUT", "collection-1~/item1", """{"a":"hello","b":100500}"""),
      WriteOp(2, "PUT", "collection-1~/item2", """{"a":"goodbye","b":1}"""),
      WriteOp(3, "PUT", "collection-1~/item3", """{"a":"way way","b":12}""")))
    val im = new IndexManager(HyperStorage(spark, r.log))
    im.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
    im.createIndex("collection-1~", "index2",
      Seq(IndexSortItem("a", Some("text"), Some("asc"))), Some("b > 10"))
    im.createIndex("collection-1~", "index3",
      Seq(IndexSortItem("a", Some("text"), Some("asc"))), None)
    im
  }

  private def ids(q: QueryResult): Seq[String] =
    q.rows.collect().map(_.getAs[String]("item_id")).toSeq

  "index lifecycle" - {
    "create builds to NORMAL with member rows only" in {
      val im = fixture
      im.indexDef("collection-1~", "index1").get.status shouldBe IndexDef.StatusNormal
      im.indexTable("collection-1~", "index1").get
        .select("item_id").collect().map(_.getString(0)).sorted.toSeq shouldBe
        Seq("item1", "item3") // b>10 members only (F7)
      im.indexDef("collection-1~", "index2").get.tableName shouldBe "index_content_ta0"
    }

    "duplicate index id is a 409" in {
      val im = fixture
      a[Conflict] should be thrownBy
        im.createIndex("collection-1~", "index1", Nil, None)
    }

    "delete removes the index" in {
      val im = fixture
      im.deleteIndex("collection-1~", "index3")
      im.indexDef("collection-1~", "index3") shouldBe None
      a[NotFound] should be thrownBy im.deleteIndex("collection-1~", "index3")
    }

    "collection delete cascades over indexes" in {
      val im = fixture
      im.dropCollectionIndexes("collection-1~")
      im.indexDefs("collection-1~") shouldBe Seq.empty
    }
  }

  "index selection (plan verification)" - {
    "no filter, no sort → primary" in {
      QueryPlanner.plan(fixture, "collection-1~", None, Nil).source shouldBe "primary"
    }
    "filter by id → primary" in {
      QueryPlanner.plan(fixture, "collection-1~",
        Some("""id = "item3""""), Nil).source shouldBe "primary"
    }
    "filter b > 10 sort by id → index1 (reference :203-212)" in {
      QueryPlanner.plan(fixture, "collection-1~",
        Some("b > 10"), Seq(SortBy("id"))).source shouldBe "index1"
    }
    "filter b > 10 without sort → tie broken to the LAST max source (index2)" in {
      // reduceLeft keeps the right side on ties (HyperbusAdapter.scala:163)
      QueryPlanner.plan(fixture, "collection-1~",
        Some("b > 10"), Nil).source shouldBe "index2"
    }
    "filter b > 10 sort by a → index2 (filter + order match)" in {
      val p = QueryPlanner.plan(fixture, "collection-1~",
        Some("b > 10"), Seq(SortBy("a")))
      p.source shouldBe "index2"
      p.ckFields shouldBe Seq(CkField("t0", ascending = true))
      p.reversed shouldBe false
      p.exactSortMatch shouldBe true
    }
    "filter b > 10 sort by a desc → index2 reversed scan" in {
      val p = QueryPlanner.plan(fixture, "collection-1~",
        Some("b > 10"), Seq(SortBy("a", descending = true)))
      p.source shouldBe "index2"
      p.ckFields shouldBe Seq(CkField("t0", ascending = false))
      p.reversed shouldBe true
    }
    "narrower query filter still uses the wider index (b > 12 wider-matched)" in {
      QueryPlanner.plan(fixture, "collection-1~",
        Some("b > 12"), Seq(SortBy("id"))).source shouldBe "index1"
    }
    "sort by a without filter → index3 (unfiltered index)" in {
      QueryPlanner.plan(fixture, "collection-1~",
        None, Seq(SortBy("a"))).source shouldBe "index3"
    }
    "disjoint filter → not an index match (primary)" in {
      QueryPlanner.plan(fixture, "collection-1~",
        Some("""a = "hello""""), Nil).source shouldBe "primary"
    }
    "compound EQ-prefix + item_id range pushdown (reference :253-270)" in {
      val p = QueryPlanner.plan(fixture, "collection-1~",
        Some("""b > 10 and a = "hello" and id > "item2""""), Seq(SortBy("a")))
      p.source shouldBe "index2"
      p.pushdown shouldBe Seq(
        graft.hql.FieldFilter("t0", graft.hql.HText("hello"), graft.hql.FilterEq),
        graft.hql.FieldFilter("item_id", graft.hql.HText("item2"), graft.hql.FilterGt))
    }
    "pushdown lands on the index sort column" in {
      val p = QueryPlanner.plan(fixture, "collection-1~",
        Some("""b > 10 and a > "goodbye""""), Seq(SortBy("a")))
      p.source shouldBe "index2"
      p.pushdown shouldBe Seq(graft.hql.FieldFilter("t0",
        graft.hql.HText("goodbye"), graft.hql.FilterGt))
    }
  }

  "index-served queries return reference results" - {
    "filter b > 10 sort by id via index1" in {
      val (p, q) = QueryPlanner.query(fixture, "collection-1~",
        Some("b > 10"), Seq(SortBy("id")), 50)
      p.source shouldBe "index1"
      ids(q) shouldBe Seq("item1", "item3")
    }
    "filter b > 10 sorted by a via index2 (index order, no residual sort)" in {
      val (p, q) = QueryPlanner.query(fixture, "collection-1~",
        Some("b > 10"), Seq(SortBy("a")), 50)
      p.source shouldBe "index2"
      ids(q) shouldBe Seq("item1", "item3")
    }
    "sorted by a desc via index2" in {
      val (_, q) = QueryPlanner.query(fixture, "collection-1~",
        Some("b > 10"), Seq(SortBy("a", descending = true)), 50)
      ids(q) shouldBe Seq("item3", "item1")
    }
    "no requested sort serves the index's own clustering order" in {
      // a-order is the REVERSE of id-order: the served page must follow
      // the index clustering (what the reference's source scan returns and
      // what the skipped-rows guard measures), not item_id order
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "rev~/item1", """{"a":"z","b":20}"""),
        WriteOp(2, "PUT", "rev~/item2", """{"a":"y","b":20}"""),
        WriteOp(3, "PUT", "rev~/item3", """{"a":"x","b":20}""")))
      val im = new IndexManager(HyperStorage(spark, r.log))
      im.createIndex("rev~", "byA",
        Seq(IndexSortItem("a", Some("text"), Some("asc"))), Some("b > 10"))
      val (p, q) = QueryPlanner.query(im, "rev~", Some("b > 10"), Nil, 50)
      p.source shouldBe "byA"
      ids(q) shouldBe Seq("item3", "item2", "item1")
    }

    "residual filter applies on top of a wider index" in {
      val (p, q) = QueryPlanner.query(fixture, "collection-1~",
        Some("b > 100"), Seq(SortBy("id")), 50)
      p.source shouldBe "index1"
      ids(q) shouldBe Seq("item1") // 100500 only; 12 filtered residually
    }
  }

  // 8 items sorted by a: pages of 3 must chain a-order through the index
  private def pagedFixture: IndexManager = {
      val ops = ('a' to 'h').zipWithIndex.map { case (c, i) =>
        WriteOp(i + 1, "PUT", s"paged~/item$i",
          s"""{"a":"${('h' - i).toChar}$c","b":${i * 10}}""")
      }
      val im = new IndexManager(
        HyperStorage(spark, HyperStorage(spark, Content.empty(spark)).applySeq(ops).log))
      im.createIndex("paged~", "byA",
        Seq(IndexSortItem("a", Some("text"), Some("asc"))), None)
      im
  }

  "index-path cursor pagination (O6 through the chosen index)" - {

    "page chain through the index equals the full sorted scan" in {
      val im = pagedFixture
      val sort = Seq(SortBy("a"))
      val (p1, q1) = QueryPlanner.query(im, "paged~", None, sort, 3)
      p1.source shouldBe "byA"
      val page1 = q1.rows.collect()
      val (p2, q2) = QueryPlanner.queryAfter(im, "paged~", page1.last, None, sort, 3)
      p2.source shouldBe "byA"
      val page2 = q2.rows.collect()
      val (_, q3) = QueryPlanner.queryAfter(im, "paged~", page2.last, None, sort, 3)
      val page3 = q3.rows.collect()
      val chained = (page1 ++ page2 ++ page3).map(_.getAs[String]("item_id")).toSeq
      val (_, full) = QueryPlanner.query(im, "paged~", None, sort, 50)
      chained shouldBe ids(full)
      page2.length shouldBe 3
    }

    "page 2 scans the INDEX table, not the content log" in {
      val im = pagedFixture
      val sort = Seq(SortBy("a"))
      val (_, q1) = QueryPlanner.query(im, "paged~", None, sort, 3)
      val (p2, q2) = QueryPlanner.queryAfter(im, "paged~",
        q1.rows.collect().last, None, sort, 3)
      p2.source shouldBe "byA"
      // physical check: the resume filters land on the typed index sort
      // column (t0) — a primary-path overfetch would have no t0 anywhere
      val physical = q2.rows.queryExecution.executedPlan.toString
      physical should include("t0")
    }

    "a range filter ends the page chain (no rows past the range end)" in {
      val im = pagedFixture
      val sort = Seq(SortBy("a"))
      // a-values ascending: ah bg cf de ed fc gb ha; a <= "ef" keeps 5
      val (_, q1) = QueryPlanner.query(im, "paged~", Some("a <= \"ef\""), sort, 5)
      val page1 = q1.rows.collect()
      page1.map(_.getAs[String]("item_id")).toSeq shouldBe
        Seq("item7", "item6", "item5", "item4", "item3")
      val (_, q2) = QueryPlanner.queryAfter(im, "paged~",
        page1.last, Some("a <= \"ef\""), sort, 5)
      q2.rows.collect() shouldBe empty
    }

    "descending sort pages backward through the index" in {
      val im = pagedFixture
      val sort = Seq(SortBy("a", descending = true))
      val (p1, q1) = QueryPlanner.query(im, "paged~", None, sort, 3)
      val page1 = q1.rows.collect()
      val (_, q2) = QueryPlanner.queryAfter(im, "paged~", page1.last, None, sort, 3)
      val page2 = q2.rows.collect().map(_.getAs[String]("item_id")).toSeq
      val (_, full) = QueryPlanner.query(im, "paged~", None, sort, 50)
      (page1.map(_.getAs[String]("item_id")).toSeq ++ page2) shouldBe
        ids(full).take(6)
      p1.source shouldBe "byA"
    }
  }

  "incremental maintenance (M8)" - {
    "PUT adding a member inserts its index row" in {
      val im = fixture
      val r = im.storage.applySeq(Seq(
        WriteOp(10, "PUT", "collection-1~/item4", """{"a":"zzz","b":99}""")))
      im.applyFeed(r.feed)
      im.indexTable("collection-1~", "index1").get
        .select("item_id").collect().map(_.getString(0)).sorted.toSeq shouldBe
        Seq("item1", "item3", "item4")
    }
    "PATCH moving an item out of the filter removes its row" in {
      val im = fixture
      val r = im.storage.applySeq(Seq(
        WriteOp(10, "PATCH", "collection-1~/item3", """{"b":5}""")))
      im.applyFeed(r.feed)
      im.indexTable("collection-1~", "index1").get
        .select("item_id").collect().map(_.getString(0)).toSeq shouldBe Seq("item1")
    }
    "DELETE removes the index row" in {
      val im = fixture
      val r = im.storage.applySeq(Seq(
        WriteOp(10, "DELETE", "collection-1~/item1", null)))
      im.applyFeed(r.feed)
      im.indexTable("collection-1~", "index1").get
        .select("item_id").collect().map(_.getString(0)).toSeq shouldBe Seq("item3")
    }
    "collection DELETE in the feed cascades index drops" in {
      val im = fixture
      val r = im.storage.applySeq(Seq(
        WriteOp(10, "DELETE", "collection-1~", null)))
      im.applyFeed(r.feed)
      im.indexDefs("collection-1~") shouldBe Seq.empty
    }
    "a failed build leaves no phantom def (retry allowed)" in {
      val im = fixture
      an[Exception] should be thrownBy
        im.createIndex("collection-1~", "bad", Nil, Some("nosuchfn(x) = 1"))
      im.indexDef("collection-1~", "bad") shouldBe None
      // retry with a good filter succeeds
      im.createIndex("collection-1~", "bad", Nil, Some("b > 0"))
        .status shouldBe IndexDef.StatusNormal
    }
    "sort-field change updates the typed column (obsolete row replaced)" in {
      val im = fixture
      val r = im.storage.applySeq(Seq(
        WriteOp(10, "PATCH", "collection-1~/item1", """{"a":"aaaa"}""")))
      im.applyFeed(r.feed)
      val (_, q) = QueryPlanner.query(im, "collection-1~",
        Some("b > 10"), Seq(SortBy("a")), 50)
      ids(q) shouldBe Seq("item1", "item3") // "aaaa" < "way way"
    }
    "build and maintenance keep no cache: no RDD they persist outlives them" in {
      // every index version lives in the manager's store; none may stay
      // cached once superseded (checked over several merges of one index)
      val sc = spark.sparkContext
      val persisted = scala.collection.mutable.Set.empty[Int]
      def watch(call: => Unit): Unit = {
        val before = sc.getPersistentRDDs.keySet
        call
        // (a difference, not an equality: the ContextCleaner may drop
        // earlier specs' caches meanwhile)
        persisted ++= sc.getPersistentRDDs.keySet -- before
      }
      var st = HyperStorage(spark, Content.empty(spark))
      def write(i: Int): ApplyResult = {
        val r = st.applySeq(Seq(WriteOp(i, "PUT", s"leak~/i$i", s"""{"x":$i}""")))
        st = HyperStorage(spark, r.log.localCheckpoint())
        r
      }
      write(0).release()
      val im = new IndexManager(st)
      watch(im.createIndex("leak~", "byX",
        Seq(IndexSortItem("x", Some("decimal"), Some("asc"))), None))
      for (i <- 1 to 4) {
        val r = write(i)
        try watch(im.applyFeed(r.feed)) finally r.release()
      }
      (sc.getPersistentRDDs.keySet & persisted) shouldBe empty
      im.indexTable("leak~", "byX").get.select("item_id").collect()
        .map(_.getString(0)).sorted.toSeq shouldBe (0 to 4).map(i => s"i$i")
    }
  }

  "skipMax guards the index-served path (error-taxonomy parity)" - {
    // 30 items: a = i, b = i % 2, c = 1 for the first 10 items else 0.
    // Index byA: sorted by a asc, members b = 1 (odd a — 15 member rows).
    // c is NOT a sort field, so a c-filter is pure residual: rejected
    // member rows are genuinely SCANNED-and-skipped (an a-range would be
    // pushed into the scan instead and never count).
    def guarded: IndexManager = {
      val ops = (1 to 30).map(i => WriteOp(i.toLong, "PUT", f"col~/item$i%02d",
        s"""{"a":$i,"b":${i % 2},"c":${if (i <= 10) 1 else 0}}"""))
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(ops)
      val im = new IndexManager(HyperStorage(spark, r.log.persist()))
      im.createIndex("col~", "byA",
        Seq(IndexSortItem("a", Some("decimal"), Some("asc"))), Some("b = 1"))
      im
    }

    "a page that cannot fill trips query-skipped-rows-limited" in {
      val im = guarded
      QueryPlanner.plan(im, "col~", Some("b = 1 and c = 2"), Seq(SortBy("a")))
        .source shouldBe "byA" // precondition: index-served, not primary
      // no member matches c = 2: every scanned row is a skip
      a[QuerySkippedRowsLimited] should be thrownBy
        QueryPlanner.query(im, "col~",
          Some("b = 1 and c = 2"), Seq(SortBy("a")), size = 5, skipMax = 3)
    }

    "positional: rejections AFTER the page fills don't count" in {
      val im = guarded
      // accepted rows (c = 1 ⇒ a = 1..9 odd) are a PREFIX of the index
      // scan order, so the page fills before anything is skipped — passes
      // even with skipMax = 0 though 10 member rows are rejected overall
      val (p, q) = QueryPlanner.query(im, "col~",
        Some("b = 1 and c = 1"), Seq(SortBy("a")), size = 5, skipMax = 0)
      p.source shouldBe "byA"
      ids(q) shouldBe Seq("item01", "item03", "item05", "item07", "item09")
    }

    "positional: rejections BEFORE the boundary trip the cap" in {
      val im = guarded
      // accepted (c = 0) rows start at a = 11: the 5 c = 1 member rows
      // before them are skipped first — 5 > skipMax = 2
      a[QuerySkippedRowsLimited] should be thrownBy
        QueryPlanner.query(im, "col~",
          Some("b = 1 and c = 0"), Seq(SortBy("a")), size = 5, skipMax = 2)
    }

    // (filter, sort, size, skipMax) → None = both refuse, else the ids;
    // every case is served by index `source` and must come out the same
    // through the primary path
    type Guarded = (String, Seq[SortBy], Int, Int, Option[Seq[String]])
    def agree(im: IndexManager, source: String, cases: Seq[Guarded]): Unit = {
      def run(q: => QueryResult): Option[Seq[String]] =
        try Some(ids(q)) catch { case _: QuerySkippedRowsLimited => None }
      for ((f, sort, size, skipMax, expected) <- cases) {
        withClue(s"filter=$f sort=$sort size=$size skipMax=$skipMax: ") {
          QueryPlanner.plan(im, "col~", Some(f), sort).source shouldBe source
          run(QueryPlanner.query(im, "col~", Some(f), sort, size, skipMax)._2) shouldBe
            expected
          run(im.storage.query("col~", Some(f), sort, size, skipMax)) shouldBe expected
        }
      }
    }

    "primary and index paths agree on every guarded case (parity table)" in {
      // a = item number, so item_id order is index order here. The primary
      // path also scans the non-members (b = 0) the index filtered out,
      // so each case keeps them from flipping its verdict.
      val byA = Seq(SortBy("a"))
      agree(guarded, "byA", Seq(
        ("b = 1 and c = 2", byA, 5, 3, None), // the page cannot fill
        ("b = 1 and c = 0", byA, 5, 2, None), // rejections before the boundary
        // both paths run the positional check and pass
        ("b = 1 and c = 1", Nil, 3, 4, Some(Seq("item01", "item03", "item05"))),
        ("b = 1 and c = 1", byA, 1, 4, Some(Seq("item01"))),
        // the served key (a, id) already ends in item_id
        ("b = 1 and c = 1", Seq(SortBy("a"), SortBy("id")), 1, 4, Some(Seq("item01"))),
        // the primary path checks 14 rejections before item19 and passes
        ("b = 1 and c = 0", Nil, 5, 14,
          Some(Seq("item11", "item13", "item15", "item17", "item19")))))
    }

    "a sort by id through a filter-only index runs the positional check" in {
      // the served key is item_id alone: the page order and the guard's
      // boundary name it once. Every case rejects more members than
      // skipMax, so the boundary job runs on the index path.
      val im = guarded
      im.createIndex("col~", "members", Nil, Some("b = 1"))
      val byId = Seq(SortBy("id"))
      val byIdDesc = Seq(SortBy("id", descending = true))
      val metrics = EngineMetrics(spark)
      metrics.reset()
      agree(im, "members", Seq(
        ("b = 1 and c = 0", byId, 5, 2, None),
        ("b = 1 and c = 1", byId, 3, 4, Some(Seq("item01", "item03", "item05"))),
        ("b = 1 and c = 1", byIdDesc, 2, 4, None),
        ("b = 1 and c = 0", byIdDesc, 1, 4, Some(Seq("item29")))))
      // each case's boundary job ran on both paths
      metrics.get("query.skip_guard.boundary") shouldBe 8L
    }

    "the guard measures position in the page's order, not the full clustering key" in {
      // index sorted (a, b), query sorted by a, every row in one a tie
      // group: the page orders it by item_id, so the accepted (c = 1)
      // item01-item03 come first; in (a, b) order the three rejected
      // (b = 1) item04-item06 would precede them — 3 > skipMax = 2
      val ops = (1 to 6).map { i =>
        val c = if (i <= 3) 1 else 0
        WriteOp(i.toLong, "PUT", f"tie~/item$i%02d", s"""{"a":1,"b":${c + 1},"c":$c}""")
      }
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(ops)
      val im = new IndexManager(HyperStorage(spark, r.log.persist()))
      im.createIndex("tie~", "byAB", Seq(
        IndexSortItem("a", Some("decimal"), Some("asc")),
        IndexSortItem("b", Some("decimal"), Some("asc"))), None)
      val (p, q) = QueryPlanner.query(im, "tie~", Some("c = 1"), Seq(SortBy("a")),
        size = 1, skipMax = 2)
      p.source shouldBe "byAB"
      ids(q) shouldBe Seq("item01")
      ids(im.storage.query("tie~", Some("c = 1"), Seq(SortBy("a")), size = 1,
        skipMax = 2)) shouldBe Seq("item01")
    }
  }

  "durable store (IndexStore)" - {
    def newStoragePath(): (HyperStorage, String) = {
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "collection-1~/item1", """{"a":"hello","b":100500}"""),
        WriteOp(2, "PUT", "collection-1~/item2", """{"a":"goodbye","b":1}"""),
        WriteOp(3, "PUT", "collection-1~/item3", """{"a":"way way","b":12}""")))
      (HyperStorage(spark, r.log.persist()),
        java.nio.file.Files.createTempDirectory("graft_idx").toString)
    }
    def roots(store: IndexStore, id: String): Int =
      new java.io.File(store.tableDir("collection-1~", id)).listFiles()
        .count(_.getName.startsWith("w-"))
    val OpenCost = "spark.sql.files.openCostInBytes"
    def items(im: IndexManager, id: String): Seq[String] =
      im.indexTable("collection-1~", id).get
        .select("item_id").collect().map(_.getString(0)).sorted.toSeq

    "a restarted manager sees NORMAL indexes and serves from parquet" in {
      val (st, path) = newStoragePath()
      val im1 = new IndexManager(st, Some(new IndexStore(spark, path)))
      im1.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
      // restart: a FRESH manager over the same store path
      val im2 = new IndexManager(st, Some(new IndexStore(spark, path)))
      im2.indexDef("collection-1~", "index1").get.status shouldBe
        IndexDef.StatusNormal
      items(im2, "index1") shouldBe Seq("item1", "item3")
      val (p, q) = QueryPlanner.query(im2, "collection-1~",
        Some("b > 10"), Seq(SortBy("id")), 50)
      p.source shouldBe "index1"
      ids(q) shouldBe Seq("item1", "item3")
    }

    "maintenance merges on disk; the merged table survives restart" in {
      val (st, path) = newStoragePath()
      val im1 = new IndexManager(st, Some(new IndexStore(spark, path)))
      im1.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
      val r = st.applySeq(Seq(
        WriteOp(10, "PUT", "collection-1~/item4", """{"a":"zzz","b":99}"""),
        WriteOp(11, "PATCH", "collection-1~/item3", """{"b":5}""")))
      im1.applyFeed(r.feed)
      items(im1, "index1") shouldBe Seq("item1", "item4")
      val im2 = new IndexManager(st, Some(new IndexStore(spark, path)))
      items(im2, "index1") shouldBe Seq("item1", "item4")
    }

    "delete drops def and table durably" in {
      val (st, path) = newStoragePath()
      val im1 = new IndexManager(st, Some(new IndexStore(spark, path)))
      im1.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
      im1.deleteIndex("collection-1~", "index1")
      val im2 = new IndexManager(st, Some(new IndexStore(spark, path)))
      im2.indexDef("collection-1~", "index1") shouldBe None
      im2.indexTable("collection-1~", "index1") shouldBe None
    }

    "an index whose filter matches nothing is durable and readable" in {
      val (st, path) = newStoragePath()
      val im1 = new IndexManager(st, Some(new IndexStore(spark, path)))
      im1.createIndex("collection-1~", "none", Nil, Some("b > 999999"))
      items(im1, "none") shouldBe Seq.empty // schema anchor, not an error
      val im2 = new IndexManager(st, Some(new IndexStore(spark, path)))
      items(im2, "none") shouldBe Seq.empty
      // maintenance over the empty table works and inserts the first row
      val r = st.applySeq(Seq(WriteOp(10, "PUT", "collection-1~/itemX",
        """{"a":"x","b":9999999}""")))
      im2.applyFeed(r.feed)
      items(im2, "none") shouldBe Seq("itemX")
    }

    "a crashed delete (DELETING def) is finished on load" in {
      val (st, path) = newStoragePath()
      val store = new IndexStore(spark, path)
      val im1 = new IndexManager(st, Some(store))
      im1.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
      // simulate a crash mid-delete: DELETING recorded, table not dropped
      store.saveDefs(Seq(IndexDef("collection-1~", "index1", Nil,
        Some("b > 10"), IndexDef.StatusDeleting, "index_content")))
      val im2 = new IndexManager(st, Some(store))
      im2.indexDef("collection-1~", "index1") shouldBe None // finished
      // the id is re-creatable (no phantom 409)
      im2.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
        .status shouldBe IndexDef.StatusNormal
    }

    "pushed sort-field predicates reach the parquet scan of a durable index" in {
      val (st, path) = newStoragePath()
      val im = new IndexManager(st, Some(new IndexStore(spark, path)))
      im.createIndex("collection-1~", "byB",
        Seq(IndexSortItem("b", Some("decimal"), Some("asc"))), None)
      val (p, q) = QueryPlanner.query(im, "collection-1~",
        Some("b > 10"), Seq(SortBy("b")), 50)
      p.source shouldBe "byB"
      p.pushdown should not be empty
      // the typed d0 filter must land at the FileScan, not above it
      val plan = q.rows.queryExecution.executedPlan.toString
      plan should include("PushedFilters: [")
      (plan should include).regex("PushedFilters: \\[[^\\]]*d0")
    }

    "a one-part index table plans no shuffle under its guard aggregate" in {
      // the guard aggregate and the page of an index-served query, on a
      // table laid out in one part and on one laid out in many
      def shufflesAt(openCost: String): Int = withConf(OpenCost, openCost) {
        val (st, path) = newStoragePath()
        val im = new IndexManager(st, Some(new IndexStore(spark, path)))
        im.createIndex("collection-1~", "byB",
          Seq(IndexSortItem("b", Some("decimal"), Some("asc"))), None)
        shufflesOf {
          val (p, q) = QueryPlanner.query(im, "collection-1~",
            Some("b > 10"), Seq(SortBy("b")), 50)
          p.source shouldBe "byB"
          ids(q) shouldBe Seq("item3", "item1")
        }
      }
      shufflesAt((4L << 20).toString) shouldBe 0 // Spark's default openCost
      shufflesAt("1") should be > 0
    }

    "pushdown survives a multi-root (post-merge) table: filters land at every scan" in withConf(OpenCost, "1") {
      // one-byte files: the table is laid out in many parts
      val (st, path) = newStoragePath()
      val store = new IndexStore(spark, path)
      val im = new IndexManager(st, Some(store))
      im.createIndex("collection-1~", "byB",
        Seq(IndexSortItem("b", Some("decimal"), Some("asc"))), None)
      // a merge scatters the table across two staging roots
      val r = st.applySeq(Seq(
        WriteOp(10, "PUT", "collection-1~/item4", """{"a":"m","b":77}""")))
      im.applyFeed(r.feed)
      roots(store, "byB") shouldBe 2
      val (p, q) = QueryPlanner.query(im, "collection-1~",
        Some("b > 10"), Seq(SortBy("b")), 50)
      p.source shouldBe "byB"
      ids(q) shouldBe Seq("item3", "item4", "item1")
      // ONE parquet scan reads the parts of both roots and carries the
      // typed d0 predicate
      val scans = q.rows.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      scans.size shouldBe 1
      (scans.head.metadata("PushedFilters") should include).regex("\\bd0\\b")
    }

    "a crashed merge (staging root, no manifest swap) leaves the committed version intact" in {
      val (st, path) = newStoragePath()
      val store = new IndexStore(spark, path)
      val im1 = new IndexManager(st, Some(store))
      im1.createIndex("collection-1~", "index1", Nil, Some("b > 10"))
      // simulate a crash mid-merge: an orphan staging root exists (even
      // with junk files) but the manifest still points at the previous
      // version — reads must not see it
      val dir = store.tableDir("collection-1~", "index1")
      val orphan = new java.io.File(s"$dir/w-999/ipart=0")
      orphan.mkdirs()
      new java.io.File(orphan, "part-junk.parquet").createNewFile()
      items(im1, "index1") shouldBe Seq("item1", "item3")
      // the next committed write garbage-collects the orphan root
      val r = st.applySeq(Seq(WriteOp(10, "PUT", "collection-1~/item4",
        """{"a":"zzz","b":99}""")))
      im1.applyFeed(r.feed)
      items(im1, "index1") shouldBe Seq("item1", "item3", "item4")
      new java.io.File(s"$dir/w-999").exists() shouldBe false
    }

    "repeated merges compact back into a bounded number of staging roots" in withConf(OpenCost, "1") {
      // one-byte files: every merge leaves a part in a new root
      val (st, path) = newStoragePath()
      val store = new IndexStore(spark, path)
      val im = new IndexManager(st, Some(store))
      im.createIndex("collection-1~", "index1", Nil, None)
      val rewrites = EngineMetrics(spark).get("index.rewrites")
      val n = IndexStore.MaxRoots + 2
      for (i <- 0 until n) {
        val r = st.applySeq(Seq(WriteOp(100 + i, "PUT",
          s"collection-1~/extra$i", s"""{"a":"x","b":$i}""")))
        im.applyFeed(r.feed)
      }
      items(im, "index1") should contain allElementsOf
        (0 until n).map(i => s"extra$i") ++ Seq("item1", "item2", "item3")
      EngineMetrics(spark).get("index.rewrites") should be > rewrites
      roots(store, "index1") should be <= IndexStore.MaxRoots
    }

    "an interrupted build is resumable (pending_index semantics)" in {
      val (st, path) = newStoragePath()
      val store = new IndexStore(spark, path)
      // simulate a crash after the def was recorded but before the build
      store.saveDefs(Seq(IndexDef("collection-1~", "pend", Nil,
        Some("b > 10"), IndexDef.StatusIndexing, "index_content")))
      val im = new IndexManager(st, Some(store))
      im.indexTable("collection-1~", "pend") shouldBe None // not NORMAL yet
      im.resumePendingBuilds().map(_.indexId) shouldBe Seq("pend")
      im.indexDef("collection-1~", "pend").get.status shouldBe
        IndexDef.StatusNormal
      items(im, "pend") shouldBe Seq("item1", "item3")
    }
  }
}

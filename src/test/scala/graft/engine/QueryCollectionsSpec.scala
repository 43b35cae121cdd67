package graft.engine

import graft.SparkFixture
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers

/** Result-level port of the reference's QueryCollectionsSpec.scala:80-309
  * scenarios over the c1/c2/c3 fixture (:23-28): same inputs ⇒ same ordered
  * results. */
class QueryCollectionsSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private def fixture: HyperStorage = {
    val r = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
      WriteOp(1, "PUT", "collection-1~/item1", """{"a":"hello","b":100500}"""),
      WriteOp(2, "PUT", "collection-1~/item2", """{"a":"goodbye","b":1}"""),
      WriteOp(3, "PUT", "collection-1~/item3", """{"a":"way way","b":12}""")))
    HyperStorage(spark, r.log)
  }

  /** 60 items i001..i060 with n = the item number. */
  private def big: HyperStorage = {
    val ops = (1 to 60).map(i =>
      WriteOp(i.toLong, "PUT", f"big~/i$i%03d", s"""{"n":$i}"""))
    HyperStorage(spark, HyperStorage(spark, Content.empty(spark)).applySeq(ops).log)
  }

  private def ids(q: QueryResult): Seq[String] =
    q.rows.collect().map(_.getAs[String]("item_id")).toSeq

  "Query collection" - {
    "query without sorting with filter by id" in {
      ids(fixture.query("collection-1~", filter = Some("""id = "item3""""), size = 5)) shouldBe
        Seq("item3")
    }

    "query without sorting with filter by other field" in {
      ids(fixture.query("collection-1~", filter = Some("""a = "way way""""), size = 1)) shouldBe
        Seq("item3")
    }

    "query by id asc" in {
      ids(fixture.query("collection-1~", sort = Seq(SortBy("id")), size = 50)) shouldBe
        Seq("item1", "item2", "item3")
    }

    "query by id desc" in {
      ids(fixture.query("collection-1~", sort = Seq(SortBy("id", descending = true)),
        size = 50, ascending = false)) shouldBe Seq("item3", "item2", "item1")
      // the id-desc sort alone drives the scan direction
      ids(fixture.query("collection-1~",
        sort = Seq(SortBy("id", descending = true)), size = 50)) shouldBe
        Seq("item3", "item2", "item1")
    }

    "sort by id is the clustering (lexical) order, even for numeric-looking ids" in {
      val ops = Seq(
        WriteOp(1, "PUT", "nums~/9", """{"v":1}"""),
        WriteOp(2, "PUT", "nums~/10", """{"v":2}"""),
        WriteOp(3, "PUT", "nums~/100", """{"v":3}"""))
      val st = HyperStorage(spark,
        HyperStorage(spark, Content.empty(spark)).applySeq(ops).log)
      ids(st.query("nums~", sort = Seq(SortBy("id")))) shouldBe
        Seq("10", "100", "9") // lexical like the reference's text-typed id
      ids(st.query("nums~")) shouldBe Seq("10", "100", "9") // same as no sort
      // queryAfter under sort=[id] pages in the SAME lexical order
      val p1 = st.query("nums~", sort = Seq(SortBy("id")), size = 2)
      val p2 = st.queryAfter("nums~", p1.rows.collect().last,
        sort = Seq(SortBy("id")), size = 2)
      ids(p2) shouldBe Seq("9")
    }

    "query with filter b > 10" in {
      ids(fixture.query("collection-1~", filter = Some("b > 10"), size = 50)) shouldBe
        Seq("item1", "item3")
    }

    "query with filter b > 10 sorted by a" in {
      ids(fixture.query("collection-1~", filter = Some("b > 10"),
        sort = Seq(SortBy("a")), size = 50)) shouldBe Seq("item1", "item3")
    }

    "query with filter b > 10 sorted by a desc" in {
      ids(fixture.query("collection-1~", filter = Some("b > 10"),
        sort = Seq(SortBy("a", descending = true)), size = 50)) shouldBe
        Seq("item3", "item1")
    }

    "size limits the page" in {
      ids(fixture.query("collection-1~", size = 2)) shouldBe Seq("item1", "item2")
    }

    "item_id range scan (S2)" in {
      ids(fixture.query("collection-1~",
        itemIdFilter = Some((">", "item1")), size = 50)) shouldBe
        Seq("item2", "item3")
    }

    "revision header carries the static revision" in {
      fixture.query("collection-1~").revision shouldBe 3
    }

    "eval error in the filter rejects the row (residual semantics)" in {
      // `missing > 5` fails per-row ⇒ all rows rejected, not an exception
      ids(fixture.query("collection-1~", filter = Some("missing > 5"), size = 50)) shouldBe
        Seq.empty
    }

    "skipMax: selective filter errors once skipped rows exceed the cap" in {
      val st = big
      // only one row passes; 59 skipped > skipMax=10 ⇒ error
      a[QuerySkippedRowsLimited] should be thrownBy
        st.query("big~", filter = Some("n = 60"), size = 10, skipMax = 10)
      // but a filter whose page fills early succeeds (VERDICT r1 item 2):
      // first 10 accepted arrive before 10 rows are skipped
      ids(st.query("big~", filter = Some("n <= 50"), size = 10, skipMax = 10))
        .length shouldBe 10
    }

    "skipMax: rejections past the cap but after the boundary pass (boundary job)" in {
      val st = big
      val f = Some("n > 5 and n <= 50")
      // 15 rejected rows (i001-i005, i051-i060) exceed skipMax = 10, so
      // the positional check runs: the 10th accepted row is i015 and only
      // the 5 rejected rows before it count
      val metrics = EngineMetrics(spark)
      metrics.reset()
      ids(st.query("big~", filter = f, size = 10, skipMax = 10)) shouldBe
        (6 to 15).map(i => f"i$i%03d")
      metrics.get("query.skip_guard.boundary") shouldBe 1L
      metrics.get("query.skip_guard.exceeded") shouldBe 0L
      a[QuerySkippedRowsLimited] should be thrownBy
        st.query("big~", filter = f, size = 10, skipMax = 4)
    }

    "skipMax: a descending id sort measures the boundary from the top" in {
      val st = big
      val f = Some("n > 5 and n <= 50")
      val desc = Seq(SortBy("id", descending = true))
      // scanning down from i060, the 10 rejected rows i051-i060 precede
      // the 10th accepted row (i041): 10 passes skipMax = 10, fails 9 ...
      ids(st.query("big~", filter = f, sort = desc, size = 10, skipMax = 10)) shouldBe
        (41 to 50).reverse.map(i => f"i$i%03d")
      a[QuerySkippedRowsLimited] should be thrownBy
        st.query("big~", filter = f, sort = desc, size = 10, skipMax = 9)
      // ... while the ascending scan meets only 5 rejections first
      ids(st.query("big~", filter = f, size = 10, skipMax = 9)).length shouldBe 10
    }

    "skipMax: NULL-rejected rows (missing field) count as skipped" in {
      // q exists ONLY on the last 5 items, so the 25 earlier rows are
      // rejected with a NULL predicate — they must count toward the cap
      // even though the page (5 accepted rows) eventually fills
      val ops = (1 to 30).map(i => WriteOp(i.toLong, "PUT", f"nul~/i$i%03d",
        if (i > 25) s"""{"n":$i,"q":1}""" else s"""{"n":$i}"""))
      val st = HyperStorage(spark,
        HyperStorage(spark, Content.empty(spark)).applySeq(ops).log)
      a[QuerySkippedRowsLimited] should be thrownBy
        st.query("nul~", filter = Some("q = 1"), size = 5, skipMax = 3)
      // with the cap above the 25 missing-field rows it succeeds
      ids(st.query("nul~", filter = Some("q = 1"), size = 5, skipMax = 25))
        .length shouldBe 5
    }

    "queryAfter pages NUMERICALLY on numeric sort fields" in {
      // n values are distinct and deliberately misaligned with id order;
      // text-comparing the boundary would break page 2 (e.g. "9" > "10")
      val ops = (1 to 30).map(i =>
        WriteOp(i.toLong, "PUT", f"nums~/i$i%03d", s"""{"n":${(i * 7) % 31}}"""))
      val st = HyperStorage(spark,
        HyperStorage(spark, Content.empty(spark)).applySeq(ops).log)
      val sort = Seq(SortBy("n"))
      def n(r: org.apache.spark.sql.Row): Int =
        JsonOps.extractText(r.getAs[String]("body"), "n").get.toInt
      val p1 = st.query("nums~", sort = sort, size = 10).rows.collect()
      val p2 = st.queryAfter("nums~", p1.last, sort = sort, size = 10).rows.collect()
      val p3 = st.queryAfter("nums~", p2.last, sort = sort, size = 10).rows.collect()
      val all = (p1 ++ p2 ++ p3).map(n).toSeq
      all.length shouldBe 30
      all shouldBe all.sorted // numeric order across page boundaries
      all.distinct.length shouldBe 30 // no overlap between pages
    }

    "queryAfter pages without overlap (O6 resume keys)" in {
      val st = fixture
      val sort = Seq(SortBy("a"))
      val p1 = st.query("collection-1~", sort = sort, size = 2)
      val last = p1.rows.collect().last
      ids(st.queryAfter("collection-1~", last, sort = sort, size = 2)) shouldBe
        Seq("item3")
    }
  }
}

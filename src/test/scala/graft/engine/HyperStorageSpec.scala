package graft.engine

import graft.SparkFixture
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers

/** Write-path behavior: revisions, merge, id-gen, tombstones, error
  * taxonomy (reference HyperStorageSpec.scala:42-372,
  * PrimaryWorker.scala:241-328). */
class HyperStorageSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private def store = HyperStorage(spark, Content.empty(spark))

  private def bodies(st: HyperStorage, uri: String): Map[String, String] =
    st.query(uri).rows.collect()
      .map(r => r.getAs[String]("item_id") -> r.getAs[String]("body")).toMap

  "HyperStorage writes" - {
    "PUT creates revision 1; repeated PUT bumps the static revision" in {
      val r1 = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/a", """{"x":2}"""),
        WriteOp(3, "PUT", "docs~/b", """{"y":3}""")))
      val st = HyperStorage(spark, r1.log)
      st.revisionOf("docs~") shouldBe 3
      val got = bodies(st, "docs~")
      got("a") shouldBe """{"x":2,"id":"a"}"""
      got("b") shouldBe """{"y":3,"id":"b"}"""
    }

    "created_at survives PATCH, DELETE and re-PUT; modified_at tracks batches" in {
      def ts(st: HyperStorage, id: String): (Long, Long) = {
        val r = Content.latestView(st.log)
          .filter(org.apache.spark.sql.functions.col("item_id") === id)
          .collect().head
        (r.getAs[java.sql.Timestamp]("created_at").getTime,
          r.getAs[java.sql.Timestamp]("modified_at").getTime)
      }
      val r1 = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}""")), batchTsMillis = 1000L)
      val r2 = HyperStorage(spark, r1.log).applySeq(Seq(
        WriteOp(2, "PATCH", "docs~/a", """{"y":2}""")), batchTsMillis = 2000L)
      ts(HyperStorage(spark, r2.log), "a") shouldBe ((1000L, 2000L))
      val r3 = HyperStorage(spark, r2.log).applySeq(Seq(
        WriteOp(3, "DELETE", "docs~/a", null),
        WriteOp(4, "PUT", "docs~/a", """{"x":9}""")), batchTsMillis = 3000L)
      // the tombstoned row keeps the original create time (Db.scala:47-48)
      ts(HyperStorage(spark, r3.log), "a") shouldBe ((1000L, 3000L))
    }

    "asOf reads the state as of a collection-revision cutoff (time travel)" in {
      // writes stamp the monotone collection revision: a=1, b=2, a=3,
      // delete-b=4 — asOf(k) is exactly the first k writes
      val r = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/b", """{"y":1}"""),
        WriteOp(3, "PUT", "docs~/a", """{"x":2}"""),
        WriteOp(4, "DELETE", "docs~/b", null)))
      val st = HyperStorage(spark, r.log)
      // live: a at its second write, b tombstoned
      bodies(st, "docs~") shouldBe Map("a" -> """{"x":2,"id":"a"}""")
      val v2 = st.asOf(2)
      bodies(v2, "docs~") shouldBe Map(
        "a" -> """{"x":1,"id":"a"}""", "b" -> """{"y":1,"id":"b"}""")
      v2.revisionOf("docs~") shouldBe 2
      // the cutoff hides the tombstone (write 4), not just superseded
      // bodies (write 3)
      v2.get("docs~/b").isDefined shouldBe true
      st.get("docs~/b").isDefined shouldBe false
      // after only write 1, b does not exist yet
      bodies(st.asOf(1), "docs~") shouldBe Map("a" -> """{"x":1,"id":"a"}""")
      // asOf(0): nothing exists at revision <= 0
      a[NotFound] should be thrownBy st.asOf(0).query("docs~")
    }

    "asOfTime reads the chronological state at a batch-timestamp cutoff" in {
      val r1 = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}""")), batchTsMillis = 1000L)
      val r2 = HyperStorage(spark, r1.log).applySeq(Seq(
        WriteOp(2, "PUT", "docs~/a", """{"x":2}"""),
        WriteOp(3, "PUT", "late~/c", """{"z":1}""")), batchTsMillis = 2000L)
      val st = HyperStorage(spark, r2.log)
      bodies(st, "docs~")("a") shouldBe """{"x":2,"id":"a"}"""
      val t1 = st.asOfTime(1000L)
      bodies(t1, "docs~")("a") shouldBe """{"x":1,"id":"a"}"""
      // chronological: late~ was created by the SECOND batch and is
      // invisible at t=1000 even though its row is revision 1
      a[NotFound] should be thrownBy t1.query("late~")
    }

    "PATCH merges shallowly and null-deletes" in {
      val r = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"text1":"abc","text2":"klmn"}"""),
        WriteOp(2, "PATCH", "docs~/a", """{"text1":"efg","text2":null,"text3":"zzz"}""")))
      val st = HyperStorage(spark, r.log)
      bodies(st, "docs~")("a") shouldBe
        """{"text1":"efg","id":"a","text3":"zzz"}"""
      st.revisionOf("docs~") shouldBe 2
    }

    "PATCH of an absent item is rejected with not-found" in {
      val r = store.applySeq(Seq(WriteOp(1, "PATCH", "docs~/nope", """{"x":1}""")))
      val rej = r.rejected.collect()
      rej.length shouldBe 1
      rej(0).getAs[String]("code") shouldBe "not-found"
      r.feed.count() shouldBe 0
    }

    "DELETE of an absent item is rejected with not-found" in {
      val r = store.applySeq(Seq(WriteOp(1, "DELETE", "docs~/nope", null)))
      r.rejected.collect()(0).getAs[String]("code") shouldBe "not-found"
    }

    "collection PUT is rejected with 409 collection-put-not-implemented" in {
      val r = store.applySeq(Seq(WriteOp(1, "PUT", "docs~", """{"x":1}""")))
      r.rejected.collect()(0).getAs[String]("code") shouldBe
        "collection-put-not-implemented"
    }

    "POST generates increasing ids and rewrites to PUT" in {
      val r = store.applySeq(Seq(
        WriteOp(5, "POST", "docs~", """{"a":1}"""),
        WriteOp(7, "POST", "docs~", """{"a":2}""")))
      val st = HyperStorage(spark, r.log)
      val ids = st.query("docs~").rows.collect().map(_.getAs[String]("item_id")).toSeq
      ids shouldBe ids.sorted // increasing ids in seq order
      r.feed.collect().map(_.getAs[String]("method")).toSet shouldBe Set("feed:put")
      // id injected into the body
      bodies(st, "docs~")(ids.head) should include(s""""id":"${ids.head}"""")
    }

    "POST ids stay unique across batches that each number their ops from 1" in {
      val r1 = store.applySeq(Seq(WriteOp(1, "POST", "docs~", """{"a":1}""")))
      val r2 = HyperStorage(spark, r1.log)
        .applySeq(Seq(WriteOp(1, "POST", "docs~", """{"a":2}""")))
      val got = bodies(HyperStorage(spark, r2.log), "docs~").toSeq.sorted
      // two distinct items, ids increasing in write order: the second
      // POST did not overwrite the first
      got.map(_._2.take(7)) shouldBe Seq("""{"a":1,""", """{"a":2,""")
      got.map(_._1).distinct should have size 2
    }

    "DELETE tombstones an item; GET no longer sees it" in {
      val r = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "DELETE", "docs~/a", null)))
      val st = HyperStorage(spark, r.log)
      st.get("docs~/a") shouldBe None
      st.revisionOf("docs~") shouldBe 2
    }

    "collection DELETE hides every item and query throws NotFound" in {
      val r = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/b", """{"x":2}"""),
        WriteOp(3, "DELETE", "docs~", null)))
      val st = HyperStorage(spark, r.log)
      st.get("docs~/a") shouldBe None
      a[NotFound] should be thrownBy st.query("docs~")
    }

    "items re-created after a collection DELETE become visible again" in {
      val r = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "DELETE", "docs~", null),
        WriteOp(3, "PUT", "docs~/b", """{"x":3}""")))
      val st = HyperStorage(spark, r.log)
      st.get("docs~/a") shouldBe None
      st.query("docs~").rows.collect().map(_.getAs[String]("item_id")).toSeq shouldBe Seq("b")
    }

    "plain document PUT/GET/DELETE at a non-collection path" in {
      val r1 = store.applySeq(Seq(WriteOp(1, "PUT", "mydoc", """{"v":"hello"}""")))
      val st1 = HyperStorage(spark, r1.log)
      st1.get("mydoc").map(_.getAs[String]("body")) shouldBe Some("""{"v":"hello"}""")
      val r2 = HyperStorage(spark, r1.log).applySeq(Seq(WriteOp(2, "DELETE", "mydoc", null)))
      HyperStorage(spark, r2.log).get("mydoc") shouldBe None
    }

    "query of a never-created collection throws NotFound" in {
      a[NotFound] should be thrownBy store.query("ghost~")
    }

    "feed events carry feed:* methods and contiguous revisions" in {
      val r = store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PATCH", "docs~/a", """{"y":2}"""),
        WriteOp(3, "DELETE", "docs~/a", null)))
      val evs = r.feed.collect().sortBy(_.getAs[Long]("revision"))
      evs.map(_.getAs[String]("method")).toSeq shouldBe
        Seq("feed:put", "feed:patch", "feed:delete")
      evs.map(_.getAs[Long]("revision")).toSeq shouldBe Seq(1L, 2L, 3L)
    }

    "replaying the same batch produces identical rows (determinism)" in {
      val ops = Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "POST", "docs~", """{"p":1}"""),
        WriteOp(3, "PATCH", "docs~/a", """{"y":2}"""))
      val rows1 = store.applySeq(ops).log.collect().map(_.toString).sorted
      val rows2 = store.applySeq(ops).log.collect().map(_.toString).sorted
      rows1 shouldBe rows2
    }
  }

  "query cache release" - {
    // suites run sequentially in the forked test JVM, so the cleared
    // cache-manager state below is this test's alone
    "release() drops the persisted latest fold on the success path" in {
      val st = HyperStorage(spark, store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/b", """{"x":2}"""))).log)
      spark.sharedState.cacheManager.clearCache()
      val q = st.query("docs~")
      q.rows.collect().length shouldBe 2
      // the shared fold is live while the caller consumes the rows…
      spark.sharedState.cacheManager.isEmpty shouldBe false
      q.release()
      // …and gone after release: no net cached blocks per query
      spark.sharedState.cacheManager.isEmpty shouldBe true
    }

    "a bad item_id op unpersists the fold before throwing" in {
      val st = HyperStorage(spark, store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""))).log)
      spark.sharedState.cacheManager.clearCache()
      a[RuntimeException] should be thrownBy
        st.query("docs~", itemIdFilter = Some(("!=", "a")))
      spark.sharedState.cacheManager.isEmpty shouldBe true
    }
  }

  "QueryGuard (query-timeout taxonomy)" - {
    "a query within its deadline returns normally; errors propagate as-is" in {
      val st = HyperStorage(spark, store.applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""))).log)
      QueryGuard.withDeadline(spark, 60000L) {
        st.query("docs~").rows.count()
      } shouldBe 1L
      a[NotFound] should be thrownBy QueryGuard.withDeadline(spark, 60000L) {
        st.query("missing~").rows.count()
      }
    }

    "an over-deadline query is cancelled and raises query-timeout" in {
      val t0 = System.nanoTime()
      a[QueryTimeout] should be thrownBy
        QueryGuard.withDeadline(spark, 300L) {
          // ~minutes of work uncancelled (and overflow-free — a sum that
          // overflowed would throw ArithmeticException before the
          // deadline); the elapsed assertion below only holds because the
          // job-group cancellation interrupts the running tasks
          spark.range(500000000000L).selectExpr("sum(id % 7)").collect()
        }
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      elapsedMs should be < 30000L
    }
  }
}

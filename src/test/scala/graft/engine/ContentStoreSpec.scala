package graft.engine

import graft.SparkFixture
import org.apache.spark.sql.SaveMode
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers
import java.nio.file.Files

/** Physical layout: crc32-partitioned parquet store with per-URI
  * directory pruning (reference TransactionLogic.scala:26-30 scheme). */
class ContentStoreSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private def tempStore(): String =
    Files.createTempDirectory("graft-store").toString

  "ContentStore" - {
    "round-trips a log and serves queries" in {
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/b", """{"x":2}"""),
        WriteOp(3, "PUT", "other~/z", """{"x":3}""")))
      val path = tempStore()
      ContentStore.write(r.log, path, SaveMode.Overwrite)
      val st = ContentStore.open(spark, path)
      st.query("docs~").rows.collect()
        .map(_.getAs[String]("item_id")).toSeq shouldBe Seq("a", "b")
      st.get("other~/z").map(_.getAs[String]("body")) shouldBe
        Some("""{"x":3,"id":"z"}""")
    }

    "per-URI reads prune to one directory partition (PartitionFilters)" in {
      val r = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "other~/z", """{"x":3}""")))
      val path = tempStore()
      ContentStore.write(r.log, path, SaveMode.Overwrite)
      val st = ContentStore.open(spark, path)
      val plan = st.getDF("docs~/a").queryExecution.executedPlan.toString
      val expected = ContentStore.partitionOf("docs~")
      plan should include(s"part#")
      plan should include("PartitionFilters")
      plan should include(s"= $expected)")
    }

    "partitionCol and driver-side partitionOf agree" in {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val uris = Seq("docs~", "other~", "a/b/c", "collection-1~").toDF("u")
      val fromSpark = uris.select(col("u"), ContentStore.partitionCol(col("u")))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      fromSpark.foreach { case (u, p) =>
        ContentStore.partitionOf(u) shouldBe p
      }
    }

    "compaction keeps reads invariant and shrinks to one row per key" in {
      import org.apache.spark.sql.functions.col
      val path = tempStore()
      val r1 = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/b", """{"x":2}""")))
      ContentStore.write(r1.log, path, SaveMode.Overwrite)
      val st1 = ContentStore.open(spark, path)
      val r2 = st1.applySeq(Seq(
        WriteOp(3, "PATCH", "docs~/a", """{"y":9}"""),
        WriteOp(4, "DELETE", "docs~/b", null),
        WriteOp(5, "PUT", "docs~/c", """{"x":3}""")))
      ContentStore.write(r2.appended, path) // the delta rows only
      // capture pre-compaction observations NOW: the old file listing is
      // invalid after the swap
      val before = ContentStore.open(spark, path)
      val rowsBefore = before.log.count()
      val revBefore = before.revisionOf("docs~")
      ContentStore.compact(spark, path)
      val after = ContentStore.open(spark, path)
      // reads invariant: latest values, tombstone still hides b,
      // revisions preserved
      after.query("docs~").rows.collect()
        .map(r => r.getAs[String]("item_id") -> r.getAs[String]("body"))
        .toSeq.sorted shouldBe Seq(
          "a" -> """{"x":1,"id":"a","y":9}""", "c" -> """{"x":3,"id":"c"}""")
      // per-collection sequential revisions: batch 2 continues at 3
      after.get("docs~/a").map(_.getAs[Long]("revision")) shouldBe Some(3L)
      after.revisionOf("docs~") shouldBe revBefore
      // physically one row per key (a, b-tombstone, c) < the 5-write log
      val rowsAfter = after.log.count()
      rowsAfter shouldBe 3
      rowsAfter should be < rowsBefore
      // pruning still works on the rewritten layout
      val plan = after.getDF("docs~/a").queryExecution.executedPlan.toString
      plan should include("PartitionFilters")
    }

    "batch-store compaction keeps the newest batch raw for replay" in {
      import org.apache.spark.sql.functions.col
      val path = tempStore()
      // batch 1: three writes, two of them to the same key
      val r1 = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/a", """{"x":2}"""),
        WriteOp(3, "PUT", "docs~/b", """{"x":3}""")), batchTsMillis = 60000L)
      ContentStore.writeBatch(r1.appended, path, 60000L)
      // batch 2: one more revision of a
      val st1 = ContentStore.open(spark, path)
      val r2 = st1.applySeq(Seq(
        WriteOp(4, "PATCH", "docs~/a", """{"y":9}""")), batchTsMillis = 120000L)
      ContentStore.writeBatch(r2.appended, path, 120000L)
      ContentStore.compact(spark, path) // default: newest batch stays raw
      val log = ContentStore.open(spark, path).log
      // prefix folded (a@rev2, b@rev3), tail raw (a@rev4 under batch 120000)
      log.count() shouldBe 3
      log.filter(col("batch") === 120000L).count() shouldBe 1
      // a replay of batch 120000 still sees the exact pre-batch state
      val preState = Content.latestRows(log.filter(col("batch") =!= 120000L))
      preState.filter(col("item_id") === "a").collect()
        .map(_.getAs[Long]("revision")).toSeq shouldBe Seq(2L)
      // reads unchanged
      ContentStore.open(spark, path).get("docs~/a")
        .map(_.getAs[String]("body")) shouldBe Some("""{"x":2,"id":"a","y":9}""")
      // explicit full fold once everything is known complete
      ContentStore.compact(spark, path, Some(Long.MaxValue))
      ContentStore.open(spark, path).log.count() shouldBe 2
    }

    "every crash point of a commit opens as the whole old or the whole new version" in {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(tempStore()).getFileSystem(conf)
      // the old and the new version differ in every read below
      val oldLog = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "docs~/b", """{"x":2}"""))).log
      val newLog = HyperStorage(spark, oldLog).applySeq(Seq(
        WriteOp(3, "PATCH", "docs~/a", """{"y":9}"""),
        WriteOp(4, "DELETE", "docs~/b", null),
        WriteOp(5, "PUT", "docs~/c", """{"x":3}"""))).log
      def observe(st: HyperStorage) = (
        st.query("docs~").rows.collect()
          .map(r => r.getAs[String]("item_id") -> r.getAs[String]("body")).toSeq,
        st.get("docs~/a").map(_.getAs[String]("body")),
        st.revisionOf("docs~"))
      val oldSeen = (Seq("a" -> """{"x":1,"id":"a"}""", "b" -> """{"x":2,"id":"b"}"""),
        Some("""{"x":1,"id":"a"}"""), 2L)
      val newSeen = (Seq("a" -> """{"x":1,"id":"a","y":9}""", "c" -> """{"x":3,"id":"c"}"""),
        Some("""{"x":1,"id":"a","y":9}"""), 5L)
      def bytes(p: Path) = { val in = fs.open(p); try in.readAllBytes() finally in.close() }
      def put(p: Path, b: Array[Byte]) = { val out = fs.create(p, true); try out.write(b) finally out.close() }
      def roots(path: String) = fs.listStatus(new Path(path)).map(_.getPath.getName)
        .filter(_.startsWith("w-")).toSeq

      // Commit the old version (root w-1), then the new one (w-2, which GCs
      // w-1), and restore w-1: the state after the manifest swap, before
      // the old root's GC. The other crash points are rebuilt from it.
      def crashedAt(point: String): String = {
        val path = tempStore()
        val manifest = new Path(s"$path/_manifest")
        val tmp = new Path(s"$path/_manifest.tmp")
        val kept = new Path(tempStore(), "w-1")
        ContentStore.write(oldLog, path, SaveMode.Overwrite)
        val oldManifest = bytes(manifest)
        FileUtil.copy(fs, new Path(s"$path/w-1"), fs, kept, false, conf)
        ContentStore.write(newLog, path, SaveMode.Overwrite)
        val newManifest = bytes(manifest)
        fs.rename(kept, new Path(s"$path/w-1"))
        roots(path).sorted shouldBe Seq("w-1", "w-2")
        point match {
          case "new root written, manifest tmp absent" => put(manifest, oldManifest)
          case "manifest tmp complete, live manifest deleted" => fs.rename(manifest, tmp)
          case "manifest swapped, old root not GC'd" =>
          case "torn manifest tmp" =>
            put(manifest, oldManifest)
            put(tmp, newManifest.dropRight(1))
        }
        path
      }
      val compact: String => Unit = ContentStore.compact(spark, _)
      val append: String => Unit = path => ContentStore.write(
        ContentStore.open(spark, path).applySeq(Seq(
          WriteOp(6, "PUT", "other~/z", """{"x":6}"""))).appended, path)
      for ((point, seen, next) <- Seq(
          ("new root written, manifest tmp absent", oldSeen, compact),
          ("manifest tmp complete, live manifest deleted", newSeen, append),
          ("manifest swapped, old root not GC'd", newSeen, compact),
          ("torn manifest tmp", oldSeen, append))) withClue(point) {
        val path = crashedAt(point)
        observe(ContentStore.open(spark, path)) shouldBe seen
        observe(ContentStore.openOrEmpty(spark, path)) shouldBe seen
        next(path)
        roots(path) should have size 1
        observe(ContentStore.open(spark, path)) shouldBe seen
      }
    }

    "a part= layout with no manifest fails with a rebuild error" in {
      val path = tempStore()
      Files.createDirectories(java.nio.file.Path.of(path, "part=0"))
      Seq[String => Any](ContentStore.open(spark, _), ContentStore.openOrEmpty(spark, _),
          ContentStore.compact(spark, _)).foreach { call =>
        intercept[IllegalStateException](call(path)).getMessage should include(
          "pre-manifest layout; rebuild the store")
      }
    }

    "writes after applyOps keep serving (append mode)" in {
      val path = tempStore()
      val r1 = HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}""")))
      ContentStore.write(r1.log, path, SaveMode.Overwrite)
      val st1 = ContentStore.open(spark, path)
      val r2 = st1.applySeq(Seq(WriteOp(2, "PATCH", "docs~/a", """{"y":2}""")))
      // append only the delta rows (the new revisions)
      ContentStore.write(r2.log.filter(org.apache.spark.sql.functions
        .col("revision") > 1), path)
      val st2 = ContentStore.open(spark, path)
      st2.get("docs~/a").map(_.getAs[Long]("revision")) shouldBe Some(2L)
      st2.get("docs~/a").map(_.getAs[String]("body")) shouldBe
        Some("""{"x":1,"id":"a","y":2}""")
    }

    "applyOps reads the state of the touched partitions only" in {
      val path = tempStore()
      ContentStore.write(HyperStorage(spark, Content.empty(spark)).applySeq(Seq(
        WriteOp(1, "PUT", "docs~/a", """{"x":1}"""),
        WriteOp(2, "PUT", "other~/z", """{"x":3}"""))).log, path, SaveMode.Overwrite)
      val r = ContentStore.open(spark, path).applySeq(Seq(
        WriteOp(3, "PATCH", "docs~/a", """{"y":2}""")))
      try {
        val appended = r.appended.collect()
        appended.map(_.getAs[String]("body")).toSeq shouldBe Seq("""{"x":1,"id":"a","y":2}""")
        val plan = r.appended.queryExecution.executedPlan.toString
        plan should include("dynamicpruningexpression(part")
      } finally r.release()
    }
  }

  "per-URI reads of a collection that fits one task" - {
    val OpenCost = "spark.sql.files.openCostInBytes"

    /** A stored collection with several revisions per item, a deleted item,
      * a collection DELETE at revision 9 and items re-created after it; a
      * document and a second collection in other partitions. */
    lazy val st: HyperStorage = {
      def op(method: String, path: String, body: String = null) =
        WriteOp(0, method, path, body)
      val ops = Seq(
        op("PUT", "c~/a", """{"x":1,"s":"p"}"""), op("PUT", "c~/b", """{"x":2}"""),
        op("PUT", "c~/c", """{"x":3}"""), op("PATCH", "c~/a", """{"x":10}"""),
        op("PUT", "c~/d", """{"x":4}"""), op("DELETE", "c~/b"),
        op("PUT", "c~/e", """{"x":5}"""), op("PATCH", "c~/c", """{"x":30}"""),
        op("DELETE", "c~"),
        op("PUT", "c~/a", """{"x":20}"""), op("PUT", "c~/f", """{"x":6}"""),
        op("PATCH", "c~/f", """{"x":7}"""), op("PUT", "c~/g", """{"x":1}"""),
        op("PUT", "c~/h", """{"x":8}"""), op("PATCH", "c~/a", """{"s":"q"}"""),
        op("PUT", "doc", """{"v":1}"""), op("PATCH", "doc", """{"v":2}"""),
        op("PUT", "other~/z", """{"x":9}""")
      ).zipWithIndex.map { case (o, i) => o.copy(seq = i + 1L) }
      val path = tempStore()
      ContentStore.write(
        HyperStorage(spark, Content.empty(spark)).applySeq(ops).log, path, SaveMode.Overwrite)
      ContentStore.open(spark, path)
    }

    def rows(q: QueryResult): Seq[Seq[Any]] =
      try q.rows.collect().map(_.toSeq).toSeq finally q.release()

    /** Every read kind, as plain values; a refused query as its message. */
    def reads(): Seq[Any] = {
      val byX = Seq(SortBy("x", descending = true))
      val first = st.query("c~", Some("x > 2"), byX, size = 2, skipMax = 5)
      val firstRows = try first.rows.collect().toSeq finally first.release()
      Seq(
        Seq("c~/a", "c~/b", "c~/c", "c~/f", "doc", "other~/z", "c~/none")
          .map(p => st.get(p).map(_.toSeq)),
        firstRows.map(_.toSeq), first.revision,
        rows(st.queryAfter("c~", firstRows.last, Some("x > 2"), byX, size = 2)),
        rows(st.query("c~", Some("x < 100"), Seq(SortBy("s")), skipMax = 0)),
        intercept[QuerySkippedRowsLimited](
          st.query("c~", Some("x > 7"), Seq(SortBy("id")), size = 2, skipMax = 1)).getMessage,
        intercept[NotFound](st.query("none~")).getMessage,
        Seq("c~", "doc", "none~").map(st.revisionOf),
        rows(st.asOf(8).query("c~", sort = Seq(SortBy("id")))),
        st.asOf(8).get("c~/c").map(_.toSeq), st.asOf(9).get("c~/c"))
    }

    "plan no shuffle: get, a query's rows and revisionOf" in {
      st.uriBytes("c~") should be > BigInt(0)
      shufflesOf(st.get("c~/a")) shouldBe 0
      shufflesOf(rows(st.query("c~", Some("x > 2"), Seq(SortBy("x")), size = 2))) shouldBe 0
      shufflesOf(st.revisionOf("c~")) shouldBe 0
    }

    "fold through a shuffle once the collection is larger than openCost" in
      withConf(OpenCost, "1") {
        shufflesOf(st.get("c~/a")) should be > 0
        shufflesOf(rows(st.query("c~", Some("x > 2"), Seq(SortBy("x")), size = 2))) should be > 0
      }

    "return the same results under both plans" in {
      val oneTask = reads()
      // b deleted, c hidden by the collection DELETE, a re-created after it
      oneTask(0).asInstanceOf[Seq[Option[_]]].map(_.isDefined) shouldBe
        Seq(true, false, false, true, true, true, false)
      oneTask(1).asInstanceOf[Seq[Seq[Any]]].map(_(1)) shouldBe Seq("a", "h")
      oneTask(7) shouldBe Seq(15L, 2L, 0L)
      withConf(OpenCost, "1")(reads()) shouldBe oneTask
    }
  }
}

package graft

import graft.entries.StreamEntries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.freespec.AnyFreeSpec
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The streaming-gate helpers every `*_stream_*` entry runs through: the
  * arrival writer's schedule is the trigger order, and a drain leaves no
  * query running and no partition override behind, also when a batch
  * fails. */
class StreamGateSpec extends AnyFreeSpec with Matchers with SparkFixture {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("stream-gate").toString

  "the streaming-gate helpers" - {
    "an arrival schedule drains in write order, one chunk per batch" in {
      val base = freshDir()
      StreamEntries.writeArrivals(spark, s"$base/in", (1 to 3).map(i =>
        spark.range(5).select(lit(i).as("chunk"), col("id"))): _*)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Seq[Int], Long, String)]()
      StreamEntries.drain(spark, StreamEntries.readArrivals(spark, s"$base/in")
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          val chunks = b.select("chunk").distinct().collect()
            .map(_.getInt(0)).toSeq
          seen.add((id, chunks, b.count(),
            spark.conf.get("spark.sql.shuffle.partitions")))
          ()
        }, s"$base/ckpt")
      val sp = StreamEntries.StatePartitions.toString
      seen.asScala.toSeq shouldBe Seq(
        (0L, Seq(1), 5L, sp), (1L, Seq(2), 5L, sp), (2L, Seq(3), 5L, sp))
    }

    "a drain whose batch throws rethrows, stops and restores the conf" in {
      val base = freshDir()
      StreamEntries.writeArrivals(spark, s"$base/in", spark.range(3).toDF("id"))
      val partitions = spark.conf.get("spark.sql.shuffle.partitions")
      partitions should not be StreamEntries.StatePartitions.toString
      val e = intercept[StreamingQueryException] {
        StreamEntries.drain(spark, StreamEntries.readArrivals(spark, s"$base/in")
          .writeStream.foreachBatch { (_: DataFrame, id: Long) =>
            throw new IllegalStateException(s"batch $id fails")
          }, s"$base/ckpt")
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).exists(m => m != null &&
          m.contains("batch 0 fails")) shouldBe true
      spark.streams.active shouldBe empty
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe partitions
    }
  }
}

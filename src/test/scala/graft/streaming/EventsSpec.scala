package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The streaming query must produce exactly the batch aggregation when
  * fed the same files (AvailableNow trigger = bounded stream). */
class EventsSpec extends AnyFunSuite with graft.SparkTestBase.TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("structured-streaming hourly counts == batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val batch = Events.hourlyCounts(
      spark.read.parquet(s"$dir/events.parquet"))
      .select(
        org.apache.spark.sql.functions.date_format($"hour", "yyyy-MM-dd HH:mm:ss"),
        $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))

    // FileStreamSource requires a directory of files
    val streamDir = tempPath("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("part-0.parquet"))
    val q = Events.hourlyCountsStream(spark, streamDir.toString, "ev_hourly")
    q.awaitTermination(120000)
    val stream = spark.table("ev_hourly")
      .select(
        org.apache.spark.sql.functions.date_format($"hour", "yyyy-MM-dd HH:mm:ss"),
        $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().sortBy(r => (r._1, r._2))

    assert(stream.length == batch.length)
    stream.zip(batch).foreach { case (s, b) =>
      assert(s._1 == b._1 && s._2 == b._2 && s._3 == b._3)
      assert(math.abs(s._4 - b._4) < 1e-6)
    }
  }

  test("streaming dedup drops duplicate payloads; surviving key set == batch dedup") {
    import org.apache.spark.sql.functions._
    // events with planted duplicate payloads (same event_type+value
    // rendered as the payload string)
    val dir = "/root/testdata/sf0.001"
    val src = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("payload", concat_ws("|", $"event_type", round($"value", 1)))
    val streamDir = tempPath("graft-events-d")
    src.coalesce(1).write.mode("overwrite").parquet(streamDir.toString)

    val outDir = tempDir("graft-dedup-out")
    val cpDir = tempDir("graft-dedup-cp")
    val q = Events.dedupStream(spark, streamDir.toString, "ts", "payload", outDir, cpDir)
    assert(q.awaitTermination(120000), "dedup stream did not finish in time")

    val streamed = spark.read.parquet(outDir)
    val batchKeys = Events.dedupBatch(spark.read.parquet(streamDir.toString), "ts", "payload")
      .select($"payload").as[String].collect().toSet
    val streamKeys = streamed.select($"payload").as[String].collect().toSeq
    // one surviving row per payload, and exactly the batch key set
    assert(streamKeys.size == streamKeys.distinct.size, "stream emitted a duplicate")
    assert(streamKeys.toSet == batchKeys,
      s"key sets differ: ${(streamKeys.toSet diff batchKeys).take(3)} / ${(batchKeys diff streamKeys.toSet).take(3)}")
    // the dedup actually dropped rows (the corpus has duplicate payloads)
    assert(streamKeys.size < src.count(), "no duplicates dropped")
  }

  test("append-mode stream emits only finalized windows, each matching batch") {
    val dir = "/root/testdata/sf0.001"
    val streamDir = tempPath("graft-events-a")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("part-0.parquet"))
    val outDir = tempDir("graft-events-out")
    val cpDir = tempDir("graft-events-cp")
    val q = Events.hourlyCountsAppendStream(spark, streamDir.toString, outDir, cpDir)
    q.awaitTermination(120000)

    val batch = Events.hourlyCounts(spark.read.parquet(s"$dir/events.parquet"))
      .select(
        org.apache.spark.sql.functions.date_format($"hour", "yyyy-MM-dd HH:mm:ss"),
        $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap

    val emitted = spark.read.parquet(outDir)
      .select(
        org.apache.spark.sql.functions.date_format($"hour", "yyyy-MM-dd HH:mm:ss"),
        $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect()

    // finalized windows are a nonempty strict subset (the last 2h of
    // open windows are withheld by the watermark), each row exact
    assert(emitted.nonEmpty && emitted.length < batch.size)
    emitted.foreach { case (h, t, n, v) =>
      val (bn, bv) = batch((h, t))
      assert(n == bn && math.abs(v - bv) < 1e-6, s"window $h/$t mismatch")
    }
  }
}

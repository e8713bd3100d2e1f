package graft

import graft.streaming.StreamingWindows
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Watermarked event-time windows — SS state stays bounded and late data is
  * dropped (the principled form of the reference's min.timestamp.ms TTL). */
class StreamingWindowsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  "tumblingCounts" should "aggregate per event-time hour and drop data later than the watermark" in {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val counts = StreamingWindows.tumblingCounts(
      input.toDF().toDF("ts", "k"), "ts", "k", "1 hour", "30 minutes")

    val q = counts.writeStream.format("memory").queryName("twc")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "a"),
        (ts("2024-01-01 10:55:00"), "a"),
        (ts("2024-01-01 11:10:00"), "a"))
      q.processAllAvailable()
      // advance watermark far past hour 10 (watermark = max - 30min)
      input.addData((ts("2024-01-01 14:00:00"), "a"))
      q.processAllAvailable()
      // now a record in hour 10 is later than the watermark → dropped
      input.addData((ts("2024-01-01 10:20:00"), "a"))
      q.processAllAvailable()

      val byWindow = spark.sql("SELECT window_start_us, max(n) FROM twc GROUP BY 1")
        .as[(Long, Long)].collect().toMap
      val h10 = java.time.Instant.parse("2024-01-01T10:00:00Z")
      // session tz is UTC; MemoryStream timestamps are wall-clock UTC here
      byWindow(h10.getEpochSecond * 1000000L) shouldBe 2L // late record NOT counted
    } finally q.stop()
  }
}

package graft

import graft.streaming.StatefulOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Batch ↔ streaming equivalence for the stateful per-key operators: the
  * same input, fed as micro-batches, must leave EXACTLY the final per-key
  * state the batch aggregation computes in one pass (the q11 oracle shape).
  * This is the contract that makes the streaming path swappable for the
  * batch one — same convergent answer, different arrival pattern. */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._

  it should "converge runningWordCount to the batch wordcount on the same lines" in {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lines = Seq(
      "the quick brown fox",
      "the lazy dog and the quick cat",
      "a dog a fox a bird",
      "THE Quick fox AGAIN") // mixed case: both sides lowercase
    // batch side: q11's explode → groupBy → count, on the same tokenizer
    // semantics runningWordCount uses (lowercase whitespace split)
    val batch = lines.toDF("line")
      .select(explode(split(lower(col("line")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().toMap

    val input = MemoryStream[String]
    val counts = StatefulOps.runningWordCount(input.toDS())
      .map { case (w, c) => (w, c.getOrElse(0L)) }
      .toDF("word", "cnt")
    val q = counts.writeStream.format("memory").queryName("wc_parity")
      .outputMode("update").start()
    try {
      // two lines per micro-batch: state must accumulate ACROSS batches
      lines.grouped(2).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // final state per word = max emitted count (counts only ever grow, so
    // this is order-free — the memory sink guarantees no row order)
    val streamed = spark.sql(
      "SELECT word, max(cnt) AS cnt FROM wc_parity GROUP BY word")
      .as[(String, Long)].collect().toMap
    streamed shouldBe batch
    batch.values.sum shouldBe 21L // sanity: the fixture actually has tokens
  }

  it should "converge updateAndGet (sum RMW) to the batch groupBy-sum, with delete-on-None" in {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // order-insensitive fold (sum) so micro-batch slicing can't change the
    // answer; value -999 is the tombstone trigger (f returns None)
    val events: Seq[(String, Long)] = Seq(
      "a" -> 5L, "b" -> 3L, "a" -> 2L, "c" -> 10L,
      "b" -> 4L, "a" -> 1L, "c" -> -999L) // c deleted at the end
    val batch = events.filterNot(_._2 == -999L).toDF("k", "v")
      .groupBy("k").agg(sum(col("v")).as("total"))
      .as[(String, Long)].collect().toMap - "c" // c's state removed

    val input = MemoryStream[(String, Long)]
    val f: (Option[Long], Long) => Option[Long] =
      (st, v) => if (v == -999L) None else Some(st.getOrElse(0L) + v)
    val out = StatefulOps.updateAndGet[String, Long, Long](input.toDS(), f)
      .map { case (k, st) => (k, st.map(_.toString).getOrElse("DELETED")) }
      .toDF("k", "state")
    val q = out.writeStream.format("memory").queryName("rmw_parity")
      .outputMode("update").start()
    try {
      events.grouped(3).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // order-free final-state extraction: sums of positive values grow
    // monotonically until the (terminal, non-resurrected) delete, so the
    // final state is DELETED if ever emitted, else the max numeric state
    val finalState = spark.sql(
      """SELECT k,
        |  CASE WHEN max(CASE WHEN state = 'DELETED' THEN 1 ELSE 0 END) = 1 THEN 'DELETED'
        |       ELSE CAST(max(CASE WHEN state <> 'DELETED' THEN CAST(state AS BIGINT) END) AS STRING)
        |  END AS state
        |FROM rmw_parity GROUP BY k""".stripMargin)
      .as[(String, String)].collect().toMap
    // deleted key surfaces its tombstone emission, live keys their sums
    finalState("c") shouldBe "DELETED"
    (finalState - "c").map { case (k, v) => k -> v.toLong } shouldBe batch
    batch shouldBe Map("a" -> 8L, "b" -> 7L)
  }
}

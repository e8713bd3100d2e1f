package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Run a Structured Streaming frame to completion and hand back the
  * materialized result — the bridge that lets STREAMING computations face
  * the same DuckDB batch oracle as every batch query (the w* registry):
  * the stream drains the file log with one AvailableNow trigger into an
  * in-memory sink table, and the returned frame is a plain scan of it.
  *
  * Complete-mode aggregations emit their final state in the last batch, so
  * the drained result is by construction equal to the batch aggregate of
  * the same input — which is exactly the property the oracle compare
  * asserts (streaming ≡ batch on a replayed log).
  *
  * Sink names are uniqued per invocation (Verify and Bench call a query
  * function more than once in one session; memory-sink table names are
  * session-global). */
object StreamRun {
  private val counter = new AtomicLong(0)

  /** Stateful-operator partition count for the drained gate queries.
    * Streaming state partitioning is FIXED at query start from
    * spark.sql.shuffle.partitions; at 32, every micro-batch pays 32 state
    * stores × (snapshot + delta + commit files + permission shell forks)
    * per stateful operator — pure fixed overhead at gate data sizes
    * (measured r12: w32 8.1→4.2 s, w26 7.9→3.4 s; r15 re-probed the whole
    * 39-query w-family at 8/4/2: totals 93.3/85.6/86.6 s — 4 wins ~8%
    * overall and consistently on every multi-stateful-operator topology,
    * w7 4.9→3.6, w26 4.3→3.2, w32 5.2→3.8, w35 4.6→3.9, while 2 starts
    * losing parallelism on the heavier drains). 4 keeps enough parallelism
    * for the ≤600k-row gate drains while halving r12's state-store file
    * churn again. Production jobs size this to the cluster as usual —
    * the scope here is ONLY the query-start window of gate drains. */
  private val StreamShufflePartitions = "4"

  /** Scope spark.sql.shuffle.partitions to a streaming query START (state
    * partitioning is captured at start; the conf is restored immediately
    * after, so downstream batch plans in the same query function keep the
    * session's setting). */
  private def withStreamPartitions[T](df: DataFrame)(start: => T): T = {
    val s = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions)
    try start finally s.conf.set(key, prev)
  }

  /** `assertSingleBatch = true` enforces the precondition of order-sensitive
    * stateful folds (w5's clamped RMW, w12's TTL'd first-seen): their
    * per-group sort is WITHIN a micro-batch, so equality with a globally
    * (ts, id)-ordered oracle holds only when the whole log arrives in one
    * batch — true for a single-file AvailableNow source, and asserted here
    * so a source change that splits the log fails loudly instead of
    * silently diverging from the oracle. Order-free folds (max/sum/min
    * aggregation state, monotone-emission argmax dedup) don't need it. */
  def toMemory(df: DataFrame, prefix: String,
      outputMode: String = "complete",
      assertSingleBatch: Boolean = false): DataFrame = {
    val name = s"${prefix}_${counter.incrementAndGet()}"
    val q = withStreamPartitions(df) {
      df.writeStream.format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    if (assertSingleBatch) {
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"$prefix: order-sensitive stateful fold requires the whole log in " +
          s"ONE micro-batch (got $dataBatches with input rows); " +
          "the within-batch group sort no longer equals the global order")
    }
    df.sparkSession.table(name)
  }

  /** [[toMemory]] for topologies whose stateful operator never lets the
    * AvailableNow trigger SELF-terminate: processing-time-TTL'd state
    * (transformWithState + TTLConfig, which Spark only allows in
    * TimeMode.ProcessingTime) keeps `shouldRunAnotherBatch` true on every
    * batch — the engine idles zero-input batches forever to advance
    * processing time for expiry (probed round 12: both
    * `processAllAvailable()` and an AvailableNow `awaitTermination()` hang
    * indefinitely). AvailableNow consumes every available file BEFORE
    * idling, so the source is fully drained exactly when a completed batch
    * reports zero input rows — poll `lastProgress` for that state, then
    * stop the query explicitly. Emissions happen only in data batches, so
    * the stopped sink table is complete. */
  def toMemoryDrainStop(df: DataFrame, prefix: String,
      outputMode: String = "append", timeoutSec: Long = 300L): DataFrame = {
    val name = s"${prefix}_${counter.incrementAndGet()}"
    val q = withStreamPartitions(df) {
      df.writeStream.format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    def drained: Boolean = {
      val p = q.lastProgress
      p != null && p.numInputRows == 0L
    }
    // also break on death: a failed/terminated query never reports the
    // zero-input batch, and spinning the full timeout would bury the real
    // exception under a 5-minute hang (r12 review)
    while (!drained && q.isActive && q.exception.isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(100L)
    // a non-TTL topology SELF-terminates after its last data batch without
    // ever idling: clean termination IS a complete drain (r12 advice) —
    // only a still-active query that never idled within the timeout fails
    val ok = drained || (!q.isActive && q.exception.isEmpty)
    q.stop()
    q.awaitTermination() // rethrows the stream's exception if it failed
    require(ok,
      s"$prefix: drain never reached a zero-input batch within ${timeoutSec}s")
    df.sparkSession.table(name)
  }
}

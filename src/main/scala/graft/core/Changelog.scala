package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Changelog algebra over DataFrames.
  *
  * The reference models all state as a partitioned key/value change-log with
  * per-record event time and tombstones
  * (reference: api/.../storage/Record.java:26-31, LogStorage.java:38-271).
  * Here a changelog is any DataFrame with designated key columns, an
  * epoch-µs event-time column, optional tie-break columns (log offset) and an
  * optional boolean tombstone column. The canonical derived view is
  * "latest value per key" — the reference's log compaction
  * (spark/.../LogRDD.scala:47-64 `compact`, max-timestamp combiner).
  *
  * Scale notes: `compact` uses `max_by` over a `groupBy`, which Catalyst
  * executes as partial (map-side) + final aggregation — the shuffle carries
  * one row per key, not the raw log. (Struct-valued buffers make Spark pick
  * SortAggregate, so each side sorts by key within partitions; that still
  * beats the window/`row_number` formulation, which must shuffle EVERY raw
  * row before its per-partition sort.) `keepLastN` genuinely needs
  * the per-key ordering so it uses a window.
  */
object Changelog {

  /** Latest record per key: max by (ts, tieBreak...). Deterministic when
    * (keyCols ++ tsCol ++ tieBreakCols) is a unique key of the input.
    *
    * Key columns are projected from the GROUPING attributes, not from the
    * max_by struct: that keeps key predicates above the compacted view
    * recognizable to `PushPredicateThroughNonJoin`, so point lookups and
    * prefix scans reach the parquet scan as DataFilters (min/max row-group
    * pruning) instead of filtering post-aggregate. */
  def compact(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val ordering = struct((tsCol +: tieBreakCols).map(col): _*)
    val nonKeyCols = df.columns.filterNot(keyCols.contains)
    val payload = struct(nonKeyCols.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, ordering).as("_latest"))
      .select(keyCols.map(col) ++ nonKeyCols.map(c => col(s"_latest.$c")): _*)
      // restore the input column order
      .select(df.columns.map(col): _*)
  }

  /** S3 bootstrap + S4 tail apply as one equivalence-checkable operator:
    * compact the log prefix up to `boundaryCol` into a state snapshot (the
    * reference's bootstrap scan, spark/.../LogRDD.scala:47-64 over a
    * time-bounded reset), then union the CDC tail (> boundary) on top and
    * re-compact. Because latest-per-key is an associative max, the result
    * equals compacting the full log in one pass — the invariant the
    * reference asserts over its Kafka log
    * (spark/src/test/scala/.../LogRDDSpec.scala:114-127) and the reason a
    * restarting store can checkpoint + replay-tail instead of re-reading
    * history. `boundaryCol` names an epoch-µs column on `log` (typically a
    * broadcast 1-row midpoint) so the split needs no driver-side action;
    * it is dropped from the output. */
  def bootstrapThenApply(
      log: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      boundaryCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val snapshot = compact(
      log.filter(col(tsCol) <= col(boundaryCol)).drop(boundaryCol),
      keyCols, tsCol, tieBreakCols)
    val tail = log.filter(col(tsCol) > col(boundaryCol)).drop(boundaryCol)
    compact(snapshot.unionByName(tail), keyCols, tsCol, tieBreakCols)
  }

  /** Drop records flagged as tombstones (deletes) — applied *after* compact,
    * so a delete-then-nothing key disappears from the latest view, matching
    * reference compaction semantics (LogRDD.scala:59-63). */
  def dropTombstones(df: DataFrame, tombstoneCol: String): DataFrame =
    df.filter(!coalesce(col(tombstoneCol), lit(false)))

  /** TTL expiry by event time, evaluated against a fixed `nowUs` so plans are
    * deterministic/cacheable (the reference expires on read *and* write:
    * api/.../storage/MemStore.java:140-154, KVStoreLocal.scala:484-485). */
  def ttlFilter(df: DataFrame, tsCol: String, ttlUs: Long, nowUs: Long): DataFrame =
    df.filter(col(tsCol) >= lit(nowUs - ttlUs))

  /** Vacuum a changelog table kept as a one-bucket
    * [[graft.streaming.BucketedStore]]: compact to latest-per-key, drop
    * tombstoned keys and TTL-expired records — the reference's Kafka
    * retention contract (`cleanup.policy=compact,delete` +
    * `retention.ms=ttl`, KafkaLogStorage.scala:355-374) as an explicit
    * maintenance action. Crash-safe: the result commits with one manifest
    * flip, and the next commit sweeps an interrupted vacuum's leftovers. */
  def vacuum(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keyCols: Seq[String],
      tsCol: String,
      tombstoneCol: Option[String] = None,
      ttlUs: Option[Long] = None,
      nowUs: Long = 0L,
      tieBreakCols: Seq[String] = Nil): Unit = {
    require(ttlUs.isEmpty || nowUs > 0L,
      "vacuum with a TTL requires an explicit nowUs — a zero 'now' would make the TTL filter a silent no-op")
    val log = committed(spark, path)
    val live = ttlUs.fold(log)(t => ttlFilter(log, tsCol, t, nowUs))
    val compacted = compact(live, keyCols, tsCol, tieBreakCols)
    val clean = tombstoneCol.fold(compacted)(tc => dropTombstones(compacted, tc))
    graft.streaming.BucketedStore.writeBuckets(clean, lit(0), path, Seq(0),
      batchId = System.nanoTime(), arity = 1)
  }

  /** Small-files compaction: rewrite a one-bucket
    * [[graft.streaming.BucketedStore]] into ~`targetFileBytes` files, sized
    * from its live bucket-0 generation and committed like [[vacuum]].
    * Streaming materialization and frequent appends accumulate thousands of
    * tiny files whose per-file open/footer cost dominates scans long before
    * data volume does — the standard warehouse maintenance action. Returns
    * the target partition count. */
  def compactFiles(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "target file size must be positive")
    val log = committed(spark, path)
    val totalBytes = graft.streaming.BucketedStore.manifest(path).flatMap(_.gens(path).get(0))
      .fold(0L) { gen =>
        val p = new org.apache.hadoop.fs.Path(gen)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
      }
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    graft.streaming.BucketedStore.writeBuckets(log.repartition(parts), lit(0), path, Seq(0),
      batchId = System.nanoTime(), arity = 1)
    parts
  }

  private def committed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.streaming.BucketedStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no table committed at $path"))

  /** Keep the N most recent records per key (reference keep-last-3 CDC
    * listener, examples/example-external-state/.../ExampleESGateway.scala:63-69).
    * Requires per-key ordering → window + row_number. */
  def keepLastN(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      n: Int,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: tieBreakCols).map(c => col(c).desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= n)
      .withColumnRenamed("_rn", "recency_rank")
  }

  /** SCD2 history view of a keyed changelog: every record becomes a
    * validity interval `[valid_from_us, valid_to_us)` — valid until the
    * key's next change, open (null) for the current record. The temporal
    * "as was at time T" query is then one row-local filter
    * (`valid_from <= T AND (valid_to IS NULL OR T < valid_to)`), which is
    * how a warehouse serves the reference's time-bounded reads (R2) over
    * full history instead of latest state.
    *
    * Scale shape: one shuffle on the key; `lead` streams each partition
    * once. Intervals are exact epoch-µs longs. */
  def scd2History(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: tieBreakCols).map(col): _*)
    df.withColumn("valid_from_us", col(tsCol))
      .withColumn("valid_to_us", lead(col(tsCol), 1).over(w))
  }

  /** CDC diff of two keyed snapshots — the batch analogue of the
    * reference's CDC listeners (R8: every change to a key is observable):
    * classify each key as `insert` (new side only), `delete` (old side
    * only) or `update` (null-safe value mismatch); unchanged keys are
    * dropped. Returns keyCols + `old_val`/`new_val` structs of the value
    * columns + `change_type`.
    *
    * Scale shape: one shuffle per side on the key into a sort-merge
    * full-outer join; snapshots bucketed/pre-partitioned on the key skip
    * the exchange entirely. */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(oldDf.columns.toSeq == newDf.columns.toSeq,
      s"snapshots must share a schema: ${oldDf.columns.toSeq} vs ${newDf.columns.toSeq}")
    val valueCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    require(valueCols.nonEmpty, "snapshots need at least one non-key column")
    val o = oldDf.select(keyCols.map(col) :+ struct(valueCols.map(col): _*).as("old_val"): _*)
    val n = newDf.select(keyCols.map(col) :+ struct(valueCols.map(col): _*).as("new_val"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("old_val").isNull, lit("insert"))
          .when(col("new_val").isNull, lit("delete"))
          .when(!(col("old_val") <=> col("new_val")), lit("update")))
      .filter(col("change_type").isNotNull)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming changelog ingestion & materialization.
  *
  * Kafka-backed in production (`readStream.format("kafka")` carries key,
  * value, timestamp, partition, offset — the reference's LogEntry,
  * api/.../storage/LogEntry.java:22-27); file-backed for tests (this
  * container has no broker). Either way the canonical changelog columns are
  * (key, value, ts_us, tombstone) and materialization is
  * `foreachBatch` upsert into a latest-per-key parquet table — the batch
  * `MERGE` analogue of the reference's write-through memstore
  * (KVStoreLocal.put:477-513).
  */
object ChangelogStream {

  /** Kafka source → canonical changelog columns. Tombstone = null value,
    * like the reference (KafkaLogStorage.append/delete:302-320).
    * Untestable without a broker; the shape is the documented contract. */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(
        col("key"),
        col("value"),
        unix_micros(col("timestamp")).as("ts_us"),
        col("value").isNull.as("tombstone"),
        col("partition"),
        col("offset"))

  /** S1 bounded Kafka read: one batch covering exactly a [start, end) event
    * -time range, pushed down to offsets via startingOffsetsByTimestamp —
    * the reference's `reset(partition, TimeRange)` → `offsetsForTimes` path
    * (KafkaLogStorage.scala:168-204) — plus the residual timestamp filter
    * for records that slip inside the offset bounds. Untestable without a
    * broker in this environment; the contract is pinned here. */
  def kafkaBounded(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startUs: Long,
      endUs: Long): DataFrame = {
    spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsetsByTimestampStrategy", "latest")
      .option("startingTimestamp", KafkaBounds.startMs(startUs).toString)
      // bound the scan at the offsets for endUs too - otherwise the batch
      // reads to the topic head and discards the tail with the residual
      // filter (ceil so boundary-ms records are kept for the us filter);
      // the floor/ceil/residual arithmetic lives in KafkaBounds so it is
      // unit-testable without a broker
      .option("endingTimestamp", KafkaBounds.endMsCeil(endUs).toString)
      .load()
      .select(
        col("key"), col("value"),
        unix_micros(col("timestamp")).as("ts_us"),
        col("value").isNull.as("tombstone"),
        col("partition"), col("offset"))
      .filter(KafkaBounds.residual(col("ts_us"), startUs, endUs))
  }

  /** File (parquet dir) source with the canonical changelog schema —
    * the test-friendly LogStorage. */
  def fromFiles(spark: SparkSession, dir: String, schemaDdl: String): DataFrame =
    spark.readStream.schema(schemaDdl).parquet(dir)

  /** Materialize a streaming changelog to a latest-per-key parquet table,
    * exactly-once per micro-batch via idempotent overwrite keyed by batch —
    * the reference's transactional sink intent (TransactionCoordinator.scala:46-134)
    * expressed as foreachBatch + deterministic rewrite. */
  /** `tieBreakCols`: ordering for same-timestamp updates to one key — pass
    * `Seq("offset")` for Kafka-sourced changelogs (Kafka timestamps are
    * MILLISECOND resolution, so two updates to a key in one ms tie on
    * `tsCol` alone and the survivor would be arbitrary across reruns,
    * breaking the idempotent-overwrite guarantee). */
  def materializeLatest(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tablePath: String,
      checkpoint: String,
      tieBreakCols: Seq[String] = Nil): DataStreamWriter[Row] = {
    val spark = changelog.sparkSession
    changelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val existing = AtomicSwap.read(spark, tablePath)
        val all = existing.fold(batch)(e => e.unionByName(batch, allowMissingColumns = true))
        val latest = graft.core.Changelog.compact(all, keyCols, tsCol, tieBreakCols)
        // crash-safe swap (see AtomicSwap): never overwrite the generation
        // we are reading from mid-plan; an interrupted swap's leftovers are
        // swept by the next swap.
        AtomicSwap.swap(latest, tablePath, batchId)
        ()
      }
  }

  /** [[materializeLatest]] plus LIVE secondary-index maintenance (w34 —
    * the R4/R6 surface in streaming form): each micro-batch compacts the
    * changelog into the latest-per-key table AND re-derives the inverted
    * index from the compacted non-tombstone view (SecondaryIndex.build),
    * swapping both crash-safely. Because the index is DERIVED from the
    * same latest view every batch (never incrementally patched), tombstone
    * de-indexing and stale-posting removal hold by construction — the
    * declarative dissolution of the reference's CDC-listener de-indexing
    * bugs (KVStoreLocal.scala:214 TODO #242/#248), now also live under
    * streaming ingest. The index is re-read from the freshly committed
    * table generation so its lineage never spans the swap. */
  def maintainIndexed(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      indexFn: org.apache.spark.sql.Column,
      tablePath: String,
      indexPath: String,
      checkpoint: String,
      tieBreakCols: Seq[String] = Nil): DataStreamWriter[Row] = {
    val spark = changelog.sparkSession
    changelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val existing = AtomicSwap.read(spark, tablePath)
        val all = existing.fold(batch)(e => e.unionByName(batch, allowMissingColumns = true))
        val latest = graft.core.Changelog.compact(all, keyCols, tsCol, tieBreakCols)
        AtomicSwap.swap(latest, tablePath, batchId)
        val live = AtomicSwap.read(spark, tablePath).get.filter(!col("tombstone"))
        AtomicSwap.swap(
          graft.state.SecondaryIndex.build(live, keyCols, indexFn),
          indexPath, batchId)
        ()
      }
  }

  /** Per-batch maintenance evidence for [[maintainIndexedBucketed]]:
    * `existingRowsRead` counts the rows the batch pulled back from the
    * table (touched buckets ONLY) and `tableRowsTotal` the whole table
    * after the swap — the spec's proof that per-batch input is
    * batch + touched buckets, never O(table). */
  final case class BucketBatchStats(
      batchId: Long,
      batchRows: Long,
      existingRowsRead: Long,
      touchedBuckets: Int,
      totalBuckets: Int,
      tableRowsTotal: Long)

  /** INCREMENTAL [[maintainIndexed]] (w34 — r12 verdict #1): the
    * latest-per-key table and its inverted index live in `numBuckets`
    * key-hash bucket dirs ([[BucketedStore]]); each micro-batch
    *
    *   1. routes its keys to bucket ids (one narrow collect of the batch's
    *      key columns and bucket ids),
    *   2. reads back ONLY those buckets, compacts batch ∪ touched buckets,
    *   3. swaps exactly the touched table buckets, publishing each into
    *      `cache` right after its pointer flip (the final rows of the
    *      batch's keys, collected before the flips: [[BucketCache.publish]]),
    *      so a read after the commit runs no Spark load, and
    *   4. re-derives index postings for exactly the touched buckets
    *      (delete+insert per bucket — an untouched bucket's postings are
    *      untouched by construction, since postings are a row-local
    *      function of that bucket's latest rows).
    *
    * Per-batch work is O(batch + touched-bucket rows), never O(table) —
    * the reference's incremental CDC index maintenance
    * (KVStoreIndex.put:46-66, KVStoreLocal.index:195-248) with the
    * derived-not-patched guarantee kept WITHIN each bucket: a touched
    * bucket's postings are rebuilt from its fresh latest view, so
    * tombstone de-indexing and stale-posting removal still hold by
    * construction (the bugs the reference's own TODO #242/#248 chase).
    * BucketedStoreSpec asserts ≡ [[maintainIndexed]]'s full re-derivation on
    * a multi-batch tombstoned drain, and that recorded per-batch reads
    * stay under the table size.
    *
    * The changelog must carry a boolean `tombstone` column (same contract
    * as [[maintainIndexed]]). */
  def maintainIndexedBucketed(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      indexFn: org.apache.spark.sql.Column,
      tablePath: String,
      indexPath: String,
      checkpoint: String,
      numBuckets: Int = 16,
      tieBreakCols: Seq[String] = Nil,
      stats: Option[scala.collection.mutable.Buffer[BucketBatchStats]] = None,
      fs: StoreFs = LocalFs,
      cache: BucketCache = BucketCache.shared)
      : DataStreamWriter[Row] =
    bucketedWriter(changelog, keyCols, tsCol, tablePath, checkpoint,
      numBuckets, tieBreakCols, Some((indexFn, indexPath)), stats, fs, cache)

  /** [[materializeLatest]] with the bucketed touched-buckets-only rewrite
    * and no index — same O(batch + touched buckets) per-batch contract as
    * [[maintainIndexedBucketed]]. */
  def materializeLatestBucketed(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tablePath: String,
      checkpoint: String,
      numBuckets: Int = 16,
      tieBreakCols: Seq[String] = Nil,
      stats: Option[scala.collection.mutable.Buffer[BucketBatchStats]] = None,
      fs: StoreFs = LocalFs,
      cache: BucketCache = BucketCache.shared)
      : DataStreamWriter[Row] =
    bucketedWriter(changelog, keyCols, tsCol, tablePath, checkpoint,
      numBuckets, tieBreakCols, None, stats, fs, cache)

  private def bucketedWriter(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tablePath: String,
      checkpoint: String,
      numBuckets: Int,
      tieBreakCols: Seq[String],
      index: Option[(org.apache.spark.sql.Column, String)],
      stats: Option[scala.collection.mutable.Buffer[BucketBatchStats]],
      fs: StoreFs,
      cache: BucketCache)
      : DataStreamWriter[Row] = {
    require(numBuckets > 0, "numBuckets must be positive")
    val spark = changelog.sparkSession
    changelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val bexpr = BucketedStore.bucketCol(keyCols, numBuckets)
        // the batch's keys with their bucket ids: one narrow job, no shuffle
        val bucketOfKey = batch0.select(keyCols.map(col) :+ bexpr.cast("int"): _*)
          .collect().iterator.map(r => r.toSeq.init -> r.getInt(keyCols.size)).toMap
        val touched = bucketOfKey.values.toSeq.distinct.sorted // ≤ numBuckets ids
        if (touched.nonEmpty) {
          val existing = BucketedStore.readBuckets(spark, tablePath, touched, fs)
          val all = existing.fold(batch0)(
            e => e.unionByName(batch0, allowMissingColumns = true))
          // checkpointed: read again by the table write, the index derive
          // and (spec-only) the stats counts — and it cuts lineage, so the
          // index never reads through the swapped table path
          val latest = graft.core.Changelog
            .compact(all, keyCols, tsCol, tieBreakCols).localCheckpoint(true)
          val published =
            publishable(latest, batch0, keyCols, bucketOfKey, tablePath, cache)
          // spec-only evidence counts run BEFORE the swap replaces the
          // files `existing` lazily points at
          val preSwap = stats.map(_ =>
            (batch0.count(), existing.map(_.count()).getOrElse(0L)))
          BucketedStore.writeBuckets(latest, bexpr, tablePath, touched,
            batchId, numBuckets, fs, onCommit = (id, from, to) =>
              cache.publish(BucketedStore.bucketDir(tablePath, id), from, to,
                keyCols, published.map(_.getOrElse(id, Nil))))
          index.foreach { case (indexFn, indexPath) =>
            val idx = graft.state.SecondaryIndex.build(
              latest.filter(!col("tombstone")), keyCols, indexFn)
            BucketedStore.writeBuckets(idx, bexpr, indexPath, touched,
              batchId, numBuckets, fs)
          }
          stats.zip(preSwap).foreach { case (buf, (batchRows, existingRows)) =>
            buf += BucketBatchStats(batchId, batchRows,
              existingRows, touched.size, numBuckets,
              BucketedStore.read(spark, tablePath, fs).map(_.count()).getOrElse(0L))
          }
        }
        ()
      }
  }

  /** The final rows of the batch's keys in `latest`, by bucket id, for
    * [[BucketCache.publish]]: one narrow job over the checkpointed
    * compaction. None, and the touched entries are then dropped, not
    * rebuilt, when the cache holds no touched bucket of `tablePath`
    * (nothing to rebuild, so no job), when the batch's key types differ
    * from the compaction's (a narrower batch type is widened there, so
    * the batch's keys would match none of its rows), or when the keys
    * alone exceed the cache's byte bound (the rows would too). */
  private def publishable(latest: DataFrame, batch: DataFrame, keyCols: Seq[String],
      bucketOfKey: Map[Seq[Any], Int], tablePath: String,
      cache: BucketCache): Option[Map[Int, Seq[Row]]] =
    Option.when(
      bucketOfKey.valuesIterator.exists(id =>
        cache.holds(BucketedStore.bucketDir(tablePath, id), keyCols)) &&
        keyCols.forall(c => batch.schema(c).dataType == latest.schema(c).dataType) &&
        org.apache.spark.util.SizeEstimator.estimate(bucketOfKey) <= cache.maxBytes) {
      val keyIdx = keyCols.map(latest.schema.fieldIndex)
      latest.filter((r: Row) => bucketOfKey.contains(keyIdx.map(r.get)))
        .collect().toSeq.groupBy(r => bucketOfKey(keyIdx.map(r.get)))
    }

  def start(w: DataStreamWriter[Row]): StreamingQuery = w.start()
}

package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

/** Streaming changelog ingestion & materialization.
  *
  * Kafka-backed in production (`readStream.format("kafka")` carries key,
  * value, timestamp, partition, offset — the reference's LogEntry,
  * api/.../storage/LogEntry.java:22-27); file-backed for tests (this
  * container has no broker). Either way the canonical changelog columns are
  * (key, value, ts_us, tombstone) and materialization is one
  * `foreachBatch` step ([[commitBatch]]) that upserts each batch into a
  * key-hash-bucketed latest-per-key table — the batch `MERGE` analogue of
  * the reference's write-through memstore (KVStoreLocal.put:477-513).
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

  /** Per-batch maintenance evidence for [[maintainIndexedBucketed]]:
    * `batchRows` counts the batch's changelog rows, `existingRowsRead` the
    * rows the batch pulled back from the table (touched buckets ONLY) and
    * `tableRowsTotal` the whole table after the commit — the spec's proof
    * that per-batch input is batch + touched buckets, never O(table). The
    * first two come from work the batch does anyway (its key collect, and
    * an observation on the touched-bucket read delivered by the
    * compaction's checkpoint); `tableRowsTotal` is a full-table count, the
    * one job recording stats adds to a batch. */
  final case class BucketBatchStats(
      batchId: Long,
      batchRows: Long,
      existingRowsRead: Long,
      touchedBuckets: Int,
      totalBuckets: Int,
      tableRowsTotal: Long)

  /** INCREMENTAL latest-per-key table plus LIVE secondary-index
    * maintenance (w34 — r12 verdict #1): the table and its inverted index
    * live in `numBuckets` key-hash bucket dirs ([[BucketedStore]]); each
    * micro-batch ([[commitBatch]])
    *
    *   1. routes its keys to bucket ids (one narrow collect of the batch's
    *      key columns and bucket ids),
    *   2. reads back ONLY those buckets, compacts batch ∪ touched buckets,
    *   3. stages exactly the touched table buckets, and re-derives index
    *      postings for exactly those buckets (an untouched bucket's
    *      postings are untouched by construction, since postings are a
    *      row-local function of that bucket's latest rows),
    *   4. commits table and index with ONE manifest flip
    *      ([[BucketedStore.writeBuckets]]), so a reader never sees one a
    *      batch ahead of the other, and right after it installs into
    *      `cache` the new generation of each touched table bucket the cache
    *      holds (its rows, collected from the compaction before the flip:
    *      [[BucketCache.publish]]), so a read after the commit runs no
    *      Spark load.
    *
    * Per-batch work is O(batch + touched-bucket rows), never O(table) —
    * the reference's incremental CDC index maintenance
    * (KVStoreIndex.put:46-66, KVStoreLocal.index:195-248) with the
    * derived-not-patched guarantee kept WITHIN each bucket: a touched
    * bucket's postings are rebuilt from its fresh latest view, so
    * tombstone de-indexing and stale-posting removal still hold by
    * construction (the bugs the reference's own TODO #242/#248 chase).
    * BucketedStoreSpec asserts ≡ `Changelog.compact` + `SecondaryIndex.build`
    * of the replayed log on a multi-batch tombstoned drain, and that
    * recorded per-batch reads stay under the table size.
    *
    * The changelog must carry a boolean `tombstone` column, and its key
    * types must equal the stored table's ([[commitBatch]] refuses a batch
    * whose key types differ). `tieBreakCols`: ordering for same-timestamp
    * updates to one key — pass `Seq("offset")` for Kafka-sourced
    * changelogs (Kafka timestamps are MILLISECOND resolution, so two
    * updates to a key in one ms tie on `tsCol` alone and the survivor would
    * be arbitrary across reruns, breaking the idempotent-rewrite
    * guarantee). */
  def maintainIndexedBucketed(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      indexFn: Column,
      tablePath: String,
      indexPath: String,
      checkpoint: String,
      numBuckets: Int = 16,
      tieBreakCols: Seq[String] = Nil,
      stats: Option[mutable.Buffer[BucketBatchStats]] = None,
      fs: StoreFs = LocalFs,
      cache: BucketCache = BucketCache.shared)
      : DataStreamWriter[Row] =
    bucketedWriter(changelog, checkpoint, numBuckets)(commitBatch(_, _, keyCols, tsCol,
      tablePath, numBuckets, tieBreakCols, Some((indexFn, indexPath)), stats, fs, cache))

  /** [[maintainIndexedBucketed]] without the index: the latest-per-key
    * table alone, same O(batch + touched buckets) per-batch contract. */
  def materializeLatestBucketed(
      changelog: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tablePath: String,
      checkpoint: String,
      numBuckets: Int = 16,
      tieBreakCols: Seq[String] = Nil,
      stats: Option[mutable.Buffer[BucketBatchStats]] = None,
      fs: StoreFs = LocalFs,
      cache: BucketCache = BucketCache.shared)
      : DataStreamWriter[Row] =
    bucketedWriter(changelog, checkpoint, numBuckets)(commitBatch(_, _, keyCols, tsCol,
      tablePath, numBuckets, tieBreakCols, None, stats, fs, cache))

  /** Drain `changelog` to its end, one `step` per micro-batch,
    * exactly-once per batch through the checkpoint (a re-run batch is
    * re-committed idempotently). */
  private def bucketedWriter(changelog: DataFrame, checkpoint: String, numBuckets: Int)(
      step: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    require(numBuckets > 0, "numBuckets must be positive")
    changelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(step)
  }

  /** The one step that turns a changelog batch into a bucketed table
    * (and, with `index`, its inverted index): compacts the batch with the
    * touched buckets of `tablePath` and commits exactly those buckets of
    * table and index in one manifest — see [[maintainIndexedBucketed]]. */
  private[streaming] def commitBatch(
      batch: DataFrame,
      batchId: Long,
      keyCols: Seq[String],
      tsCol: String,
      tablePath: String,
      numBuckets: Int,
      tieBreakCols: Seq[String],
      index: Option[(Column, String)],
      stats: Option[mutable.Buffer[BucketBatchStats]],
      fs: StoreFs,
      cache: BucketCache): Unit = {
    val spark = batch.sparkSession
    val bexpr = BucketedStore.bucketCol(keyCols, numBuckets)
    // the batch's keys with their bucket ids: one narrow job, no shuffle
    val keyed = batch.select(keyCols.map(col) :+ bexpr.cast("int"): _*).collect()
    val touched = keyed.map(_.getInt(keyCols.size)).distinct.sorted.toSeq // ≤ numBuckets ids
    if (touched.nonEmpty) {
      val prev = BucketedStore.manifest(tablePath, fs)
      checkKeyTypes(batch, keyCols, prev.flatMap(_.parts.get(tablePath)).map(_.schema))
      val existing = prev.filter(m => touched.exists(m.gens(tablePath).contains))
        .map(_.scan(spark, tablePath, touched))
      val rowsRead = for (_ <- stats; _ <- existing) yield Observation()
      val all = existing.fold(batch) { e =>
        rowsRead.fold(e)(o => e.observe(o, count(lit(1)).as("rows")))
          .unionByName(batch, allowMissingColumns = true)
      }
      // checkpointed: read again by the table and index stagings and the
      // publication, and it cuts lineage, so the index never reads
      // through the table's files
      val latest = graft.core.Changelog
        .compact(all, keyCols, tsCol, tieBreakCols).localCheckpoint(true)
      // the whole new content of each touched bucket the cache holds, by
      // bucket: one narrow job; no job when no such bucket is held, or when
      // the batch's keys alone exceed the cache's bound (the rows would too).
      // The ids ride as one array literal, so every batch runs the same
      // generated code (an `isin` inlines them: each new id set compiles)
      val held = touched.filter(cache.holds(tablePath, _, keyCols))
      val published =
        if (held.isEmpty || SizeEstimator.estimate(keyed) > cache.maxBytes) Map.empty[Int, Seq[Row]]
        else latest.where(array_contains(typedLit(held.toArray), bexpr))
          .select(bexpr.cast("int"), struct(col("*")))
          .collect().toSeq.groupMap(_.getInt(0))(_.getStruct(1))
      // table and index are staged in full, then committed by ONE flip, so
      // no reader ever sees one of them a batch ahead of the other
      val next = BucketedStore.writeBuckets(latest, bexpr, tablePath, touched, batchId,
        numBuckets, fs, index.map { case (indexFn, indexPath) =>
          (graft.state.SecondaryIndex.build(latest.filter(!col("tombstone")), keyCols, indexFn),
            indexPath)
        }, cache.publish(_, tablePath, keyCols, published))
      stats.foreach(_ += BucketBatchStats(batchId, keyed.length,
        rowsRead.fold(0L)(_.get("rows").asInstanceOf[Long]), touched.size, numBuckets,
        next.scan(spark, tablePath, next.gens(tablePath).keys.toSeq).count()))
    }
  }

  /** Refuse a batch whose key types differ from the stored table's
    * (`stored`, its recorded schema; None when the table is new). The
    * batch routes its keys by its own types' murmur3 hash while the
    * compaction with the stored rows widens the keys and stages them by
    * the widened hash, so a row would be staged into a bucket the batch
    * does not commit and its update silently lost — the rule
    * [[BucketedStore.checkProbeTypes]] applies to reads. */
  private def checkKeyTypes(batch: DataFrame, keyCols: Seq[String],
      stored: Option[StructType]): Unit =
    for (s <- stored; c <- keyCols) {
      val (b, t) = (batch.schema(c).dataType, s(c).dataType)
      if (b != t) throw new IllegalArgumentException(
        s"changelog key type mismatch on '$c': batch $b vs stored $t " +
          "— the murmur3 route would be wrong")
    }
}

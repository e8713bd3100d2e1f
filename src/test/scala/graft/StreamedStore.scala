package graft

import java.nio.file.Files

import scala.collection.mutable

import graft.streaming.{BucketCache, ChangelogStream, LocalFs, StoreFs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A bucketed store under a fresh temp dir, fed one changelog file per
  * [[append]] and drained by the bucketed writer, which publishes into
  * `cache`. With `indexFn` the writer also maintains the inverted index. */
final class StreamedStore(spark: SparkSession, ddl: String, val keyCols: Seq[String],
    val numBuckets: Int, cache: BucketCache, indexFn: Option[Column] = None) {
  val root: String = Files.createTempDirectory("graft-streamed").toFile.getAbsolutePath
  val table = s"$root/t"
  val index = s"$root/i"
  val in = s"$root/in"

  /** Stage `rows` as the next changelog file. */
  def append(rows: DataFrame): Unit = {
    rows.coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(20) // distinct mtimes: the file source drains oldest-first
  }

  /** Run the writer over every staged file not committed yet, one
    * micro-batch per file, writing through `fs` and recording `stats`. */
  def drain(fs: StoreFs = LocalFs,
      stats: Option[mutable.Buffer[ChangelogStream.BucketBatchStats]] = None): Unit = {
    val src = spark.readStream.schema(ddl).option("maxFilesPerTrigger", "1").parquet(in)
    val ckpt = s"$root/ckpt"
    indexFn.fold(ChangelogStream.materializeLatestBucketed(src, keyCols, "ts_us", table, ckpt,
        numBuckets, stats = stats, fs = fs, cache = cache))(f =>
      ChangelogStream.maintainIndexedBucketed(src, keyCols, "ts_us", f, table, index, ckpt,
        numBuckets, stats = stats, fs = fs, cache = cache))
      .start().awaitTermination()
  }
}

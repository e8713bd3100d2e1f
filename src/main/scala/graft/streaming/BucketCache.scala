package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.DataType
import org.apache.spark.util.SizeEstimator

/** Byte-bounded in-memory cache of committed bucket generations — the
  * serving tier's MemStore (the reference answers a point read from the
  * partition's local store, core/.../storage/KVStoreLocal.scala:303-321),
  * with Spark still the writer.
  *
  * Safe because a committed generation never changes ([[AtomicSwap]]):
  * an entry is keyed by the generation's IDENTITY — its dir plus its file
  * names, which carry the write job's UUID — so a read answers from the
  * cache exactly when the bucket's pointer still names the generation that
  * was loaded. The dir name alone is not enough: [[BucketedStore]] reuses
  * `.staging-<batchId>` names once swept, and a stream restarted with a
  * fresh checkpoint counts batch ids from 0 again.
  *
  * A read resolves the pointer and lists the generation dir; on a hit one
  * hash lookup answers, with no Spark job and no data-file read. On a miss
  * one `spark.read.parquet(gen).collect()` loads the bucket (one load per
  * bucket at a time) and replaces the bucket's entry, so the superseded
  * generation drops out. A generation that vanishes mid-read (empty
  * listing, or a failed load after the pointer moved on) is re-resolved,
  * up to [[BucketCache.MaxAttempts]] times: the writer deletes a generation
  * only after its pointer names a newer one, so a load that still finds
  * the pointer on its generation afterwards read it whole.
  *
  * Entries are sized with Spark's SizeEstimator at load time and evicted
  * whole, least recently used first, so the held total never exceeds
  * `maxBytes`; an entry larger than the bound is served uncached. */
final class BucketCache(val maxBytes: Long) {
  import BucketCache._

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var held = 0L
  // striped load locks: one load per bucket at a time, a bounded lock set
  private val loadLocks = Array.fill(64)(new Object)

  val hits = new AtomicLong
  val loads = new AtomicLong
  val evictions = new AtomicLong

  /** Estimated bytes of the entries held now; never above `maxBytes`. */
  def bytes: Long = synchronized(held)

  /** Live rows of table bucket `bucket` by key tuple (tombstoned keys are
    * absent: a miss, as the Spark read path's tombstone filter makes
    * them). None when the bucket has never been committed. */
  def liveRows(spark: SparkSession, bucket: String, keyCols: Seq[String],
      fs: StoreFs): Option[Map[Seq[Any], Row]] =
    committed(spark, Key("table", bucket, keyCols), fs) { rows =>
      rows.headOption.fold(Map.empty[Seq[Any], Row]) { r =>
        val keyIdx = keyCols.map(r.fieldIndex)
        val tomb = Option.when(r.schema.fieldNames.contains("tombstone"))(
          r.fieldIndex("tombstone"))
        // a null tombstone fails the `!tombstone` filter too
        rows.iterator.filterNot(row => tomb.exists(i => row.isNullAt(i) || row.getBoolean(i)))
          .map(row => keyIdx.map(row.get) -> row).toMap
      }
    }

  /** Index bucket `bucket` (`index_key` plus the primary key columns) as
    * `index_key → key tuples`. None when never committed. */
  def postings(spark: SparkSession, bucket: String, keyCols: Seq[String],
      fs: StoreFs): Option[Postings] =
    committed(spark, Key("index", bucket, keyCols), fs) { rows =>
      rows.headOption.fold(Postings(Nil, Map.empty)) { r =>
        val keyIdx = keyCols.map(r.fieldIndex)
        val term = r.fieldIndex("index_key")
        Postings(keyIdx.map(r.schema(_).dataType),
          rows.iterator.filterNot(_.isNullAt(term))
            .map(row => String.valueOf(row.get(term)) -> keyIdx.map(row.get))
            .toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap)
      }
    }

  private def committed[T <: AnyRef](spark: SparkSession, key: Key, fs: StoreFs)(
      decode: Array[Row] => T): Option[T] = {
    var attempt = 0
    while (attempt < MaxAttempts) {
      attempt += 1
      AtomicSwap.pointer(key.bucket, fs) match {
        case None => return None
        case Some(dir) =>
          val id = Identity(dir, fs.listNames(dir).sorted)
          val value = cached[T](key, id).orElse(
            if (id.files.isEmpty) None // superseded and deleted: re-resolve
            else load(spark, key, id, fs)(decode))
          if (value.isDefined) return value
      }
    }
    throw new IllegalStateException(
      s"bucket ${key.bucket} moved on during $MaxAttempts consecutive reads")
  }

  private def cached[T](key: Key, id: Identity): Option[T] = synchronized {
    Option(entries.get(key)).filter(_.id == id).map { e =>
      hits.incrementAndGet()
      e.value.asInstanceOf[T]
    }
  }

  /** One load of generation `id`, or None when the pointer moved off it
    * during the load (the caller re-resolves). */
  private def load[T <: AnyRef](spark: SparkSession, key: Key, id: Identity,
      fs: StoreFs)(decode: Array[Row] => T): Option[T] =
    loadLocks(java.lang.Math.floorMod(key.hashCode, loadLocks.length)).synchronized {
      cached[T](key, id).orElse {
        def stillLive = AtomicSwap.pointer(key.bucket, fs).contains(id.dir)
        val rows =
          try Some(spark.read.parquet(id.dir).collect())
          catch { case NonFatal(_) if !stillLive => None }
        rows.filter(_ => stillLive).map { r =>
          loads.incrementAndGet()
          val value = decode(r)
          put(key, new Entry(id, value, SizeEstimator.estimate(value)))
          value
        }
      }
    }

  private def put(key: Key, e: Entry): Unit = synchronized {
    Option(entries.remove(key)).foreach(old => held -= old.bytes)
    if (e.bytes <= maxBytes) {
      entries.put(key, e)
      held += e.bytes
      val lru = entries.values.iterator
      while (held > maxBytes) {
        held -= lru.next().bytes
        lru.remove()
        evictions.incrementAndGet()
      }
    }
  }
}

object BucketCache {

  /** Share of the JVM's max heap the process-wide cache may hold: the hot
    * buckets of the served stores, leaving the rest to Spark. */
  val HeapShare = 0.125

  /** Reads of one bucket that may find its generation superseded before
    * giving up (each retry follows a commit that landed mid-read). */
  val MaxAttempts = 3

  /** An index bucket: the primary key columns' types (for ordering hits as
    * Spark orders them) and `index_key → key tuples`. */
  final case class Postings(keyTypes: Seq[DataType], byTerm: Map[String, Set[Seq[Any]]])

  private final case class Key(kind: String, bucket: String, keyCols: Seq[String])
  private final case class Identity(dir: String, files: Seq[String])
  private final class Entry(val id: Identity, val value: AnyRef, val bytes: Long)

  /** The one cache every serving route shares by default. */
  lazy val shared: BucketCache =
    new BucketCache((Runtime.getRuntime.maxMemory * HeapShare).toLong)
}

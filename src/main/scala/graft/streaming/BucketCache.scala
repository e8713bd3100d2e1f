package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SizeEstimator

/** Byte-bounded in-memory cache of committed bucket generations — the
  * serving tier's MemStore (the reference answers a point read from the
  * partition's local store, core/.../storage/KVStoreLocal.scala:303-321),
  * with Spark still the writer.
  *
  * Safe because a committed generation never changes ([[AtomicSwap]]) and
  * every write attempt names its generation uniquely: an entry is keyed by
  * the generation's IDENTITY, the content of the bucket's pointer, so a
  * read answers from the cache exactly when the pointer still names the
  * generation the entry holds.
  *
  * A read makes one filesystem call, the pointer read; on a hit one hash
  * lookup answers, with no Spark job and no data-file read. On a miss one
  * `spark.read.parquet(gen).collect()` loads the bucket (one load per
  * bucket at a time) and replaces the bucket's entry, so the superseded
  * generation drops out. A generation that vanishes mid-load (the pointer
  * moved on and the writer deleted it) is re-resolved, up to
  * [[BucketCache.MaxAttempts]] times: the writer deletes a generation only
  * after its pointer names a newer one, so a load that still finds the
  * pointer on its generation afterwards read it whole.
  *
  * The writer keeps table entries fresh ([[publish]]): right after it
  * flips a bucket's pointer it hands over the final rows of the keys its
  * batch wrote, and an entry for the superseded generation becomes the
  * entry for the new one without a load — the reference's write-through
  * MemStore (KVStoreLocal.put:477-513). The pointer stays the truth: a
  * reader that misses a publication, or runs in another JVM, loads.
  *
  * Entries are sized with Spark's SizeEstimator when stored and evicted
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
  /** Entries the writer moved to a generation it committed, with no load. */
  val published = new AtomicLong
  /** Entries a publication dropped: held for neither side of the flip, or
    * not rebuildable within the byte bound. */
  val invalidated = new AtomicLong

  /** Estimated bytes of the entries held now; never above `maxBytes`. */
  def bytes: Long = synchronized(held)

  /** Live rows of table bucket `bucket` by key tuple (tombstoned keys are
    * absent: a miss, as the Spark read path's tombstone filter makes
    * them). None when the bucket has never been committed. */
  def liveRows(spark: SparkSession, bucket: String, keyCols: Seq[String],
      fs: StoreFs): Option[Map[Seq[Any], Row]] =
    committed(spark, Key("table", bucket, keyCols), fs)(live(_, keyCols))

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

  /** Whether an entry of table bucket `bucket` is held, for any
    * generation: whether a publication could rebuild one. */
  def holds(bucket: String, keyCols: Seq[String]): Boolean =
    synchronized(entries.containsKey(Key("table", bucket, keyCols)))

  /** The writer's hand-off after it flipped table bucket `bucket` from
    * generation `from` to `to`. `rows` are the final rows, tombstoned ones
    * included, of every key the batch wrote to the bucket; None when the
    * writer could not collect them. A compare-and-set on identity:
    *
    *   - an entry for `from` becomes the entry for `to`: the batch's keys
    *     are dropped from it and `rows` decoded into it as a load decodes;
    *   - an entry already for `to` (a reader loaded it first) stays;
    *   - any other entry is dropped, and no entry is ever created.
    *
    * The rows are final, so no merge rule is repeated here. A publication
    * that cannot keep the entry within `maxBytes`, or whose rows' schema
    * differs from the entry's, drops it instead. */
  def publish(bucket: String, from: Option[String], to: String,
      keyCols: Seq[String], rows: Option[Seq[Row]]): Unit = {
    val key = Key("table", bucket, keyCols)
    synchronized(Option(entries.get(key))).filterNot(_.id == to).foreach { e =>
      val next = rows.filter(_ => from.contains(e.id)).flatMap { rs =>
        val base = e.value.asInstanceOf[Map[Seq[Any], Row]]
        Option.when(rs.headOption.forall(r => base.valuesIterator.nextOption()
            .forall(b => shape(b.schema) == shape(r.schema)))) {
          val keyIdx = rs.headOption.map(r => keyCols.map(r.fieldIndex)).getOrElse(Nil)
          val value = base -- rs.map(r => keyIdx.map(r.get)) ++ live(rs, keyCols)
          new Entry(to, value, SizeEstimator.estimate(value))
        }
      }
      synchronized {
        if (entries.get(key) eq e) { // nothing stored since the look above
          if (next.exists(put(key, _))) published.incrementAndGet()
          else {
            Option(entries.remove(key)).foreach(old => held -= old.bytes)
            invalidated.incrementAndGet()
          }
        }
      }
    }
  }

  private def committed[T <: AnyRef](spark: SparkSession, key: Key, fs: StoreFs)(
      decode: Seq[Row] => T): Option[T] = {
    var attempt = 0
    while (attempt < MaxAttempts) {
      attempt += 1
      AtomicSwap.pointer(key.bucket, fs) match {
        case None => return None
        case Some(gen) =>
          val value = cached[T](key, gen).orElse(load(spark, key, gen, fs)(decode))
          if (value.isDefined) return value
      }
    }
    throw new IllegalStateException(
      s"bucket ${key.bucket} moved on during $MaxAttempts consecutive reads")
  }

  private def cached[T](key: Key, gen: String): Option[T] = synchronized {
    Option(entries.get(key)).filter(_.id == gen).map { e =>
      hits.incrementAndGet()
      e.value.asInstanceOf[T]
    }
  }

  /** One load of generation `gen`, or None when the pointer moved off it
    * during the load (the caller re-resolves). */
  private def load[T <: AnyRef](spark: SparkSession, key: Key, gen: String,
      fs: StoreFs)(decode: Seq[Row] => T): Option[T] =
    loadLocks(java.lang.Math.floorMod(key.hashCode, loadLocks.length)).synchronized {
      cached[T](key, gen).orElse {
        def stillLive = AtomicSwap.pointer(key.bucket, fs).contains(gen)
        val rows =
          try Some(spark.read.parquet(gen).collect())
          catch { case NonFatal(_) if !stillLive => None }
        rows.filter(_ => stillLive).map { r =>
          loads.incrementAndGet()
          val value = decode(r.toSeq)
          put(key, new Entry(gen, value, SizeEstimator.estimate(value)))
          value
        }
      }
    }

  /** Store `e` as the bucket's entry, evicting least recently used entries
    * to stay within the bound. False (and no entry kept for the bucket)
    * when `e` alone exceeds it. */
  private def put(key: Key, e: Entry): Boolean = synchronized {
    Option(entries.remove(key)).foreach(old => held -= old.bytes)
    e.bytes <= maxBytes && {
      entries.put(key, e)
      held += e.bytes
      val lru = entries.values.iterator
      while (held > maxBytes) {
        held -= lru.next().bytes
        lru.remove()
        evictions.incrementAndGet()
      }
      true
    }
  }
}

object BucketCache {

  /** Share of the JVM's max heap the process-wide cache may hold: the hot
    * buckets of the served stores, leaving the rest to Spark. */
  val HeapShare = 0.125

  /** Reads of one bucket that may find its generation superseded before
    * giving up (each retry follows a commit that landed mid-load). */
  val MaxAttempts = 3

  /** An index bucket: the primary key columns' types (for ordering hits as
    * Spark orders them) and `index_key → key tuples`. */
  final case class Postings(keyTypes: Seq[DataType], byTerm: Map[String, Set[Seq[Any]]])

  /** A table bucket's rows by key tuple, tombstoned rows (and rows whose
    * tombstone is null, which the `!tombstone` filter drops too) left
    * out: the one decode of loads and publications. */
  private def live(rows: Seq[Row], keyCols: Seq[String]): Map[Seq[Any], Row] =
    rows.headOption.fold(Map.empty[Seq[Any], Row]) { r =>
      val keyIdx = keyCols.map(r.fieldIndex)
      val tomb = Option.when(r.schema.fieldNames.contains("tombstone"))(
        r.fieldIndex("tombstone"))
      rows.iterator.filterNot(row => tomb.exists(i => row.isNullAt(i) || row.getBoolean(i)))
        .map(row => keyIdx.map(row.get) -> row).toMap
    }

  /** Field names and types, nullability aside: what a published row must
    * share with the rows an entry holds. */
  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  private final case class Key(kind: String, bucket: String, keyCols: Seq[String])
  private final class Entry(val id: String, val value: AnyRef, val bytes: Long)

  /** The one cache every serving route, and the bucketed writer, share by
    * default. */
  lazy val shared: BucketCache =
    new BucketCache((Runtime.getRuntime.maxMemory * HeapShare).toLong)
}

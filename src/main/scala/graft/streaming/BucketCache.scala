package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.util.{Failure, Try}
import scala.util.chaining._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

import BucketedStore.Manifest

/** Byte-bounded in-memory cache of committed bucket generations — the
  * serving tier's MemStore (the reference answers a point read from the
  * partition's local store, core/.../storage/KVStoreLocal.scala:303-321),
  * with Spark still the writer.
  *
  * Safe because a committed generation never changes and every write
  * attempt names its generation uniquely: an entry is keyed by the
  * generation's IDENTITY, its dir, so a read answers from the cache exactly
  * when the live [[Manifest]] names the generation the entry holds.
  *
  * A read resolves the store's pointer once ([[committed]]) and reads every
  * bucket it needs from that one manifest, so table and index answers come
  * from the same batch. Parsed manifests are kept by name, so a read whose
  * buckets are all cached makes one filesystem call, the pointer read, and
  * runs no Spark job. On a miss one `spark.read.schema(..).parquet(gen)
  * .collect()` loads the bucket (one load per bucket at a time) and
  * replaces the bucket's entry. A load whose manifest the pointer moved off
  * meanwhile (the writer deletes superseded generations after the flip) is
  * discarded and the read runs again from a fresh resolve, up to
  * [[BucketCache.MaxAttempts]] times; a load that still finds the pointer
  * on its manifest afterwards read its generation whole.
  *
  * The writer keeps table entries fresh ([[publish]]): before its flip it
  * builds, from the final rows of the keys its batch wrote, the entry of
  * each touched bucket's new generation, and right after the flip installs
  * them and the new manifest under one lock, without a load — the
  * reference's write-through MemStore (KVStoreLocal.put:477-513). The
  * pointer stays the truth: a reader that misses a publication, or runs in
  * another JVM, loads.
  *
  * Entries are sized with Spark's SizeEstimator when stored and evicted
  * whole, least recently used first, so the held total never exceeds
  * `maxBytes`; an entry larger than the bound is served uncached. */
final class BucketCache(val maxBytes: Long) {
  import BucketCache._

  // access-ordered: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var held = 0L
  // the last manifest seen per pointer: one per store
  private val manifests = new java.util.HashMap[String, Manifest]
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

  /** `read` over the live manifest of the store whose table is at `root`,
    * resolved with one pointer read; run again from a fresh resolve when a
    * generation it loads was superseded meanwhile. None when the store was
    * never committed. */
  def committed[T](root: String, fs: StoreFs)(read: Manifest => T): Option[T] = {
    val ptr = BucketedStore.pointer(root)
    def live = fs.readString(ptr).map(_.trim)
    @scala.annotation.tailrec
    def attempt(n: Int): Option[T] = {
      val name = live
      Try(name.map(p => read(synchronized(Option(manifests.get(ptr))).filter(_.path == p)
        .getOrElse(BucketedStore.loadManifest(p, fs).tap(m => synchronized(manifests.put(ptr, m))))))
      ) match {
        case Failure(_) if n < MaxAttempts && live != name => attempt(n + 1)
        case r => r.get
      }
    }
    attempt(1)
  }

  /** Live rows of bucket `id` of table `root` in manifest `m`, by key tuple
    * (tombstoned keys are absent: a miss, as the Spark read path's
    * tombstone filter makes them). */
  def liveRows(spark: SparkSession, m: Manifest, root: String, id: Int,
      keyCols: Seq[String], fs: StoreFs): Map[Seq[Any], Row] =
    bucket(spark, m, Key("table", root, id, keyCols), fs)(live(_, keyCols))
      .getOrElse(Map.empty)

  /** Bucket `id` of index `root` (`index_key` plus the primary key columns)
    * in manifest `m`, as `index_key → key tuples`. */
  def postings(spark: SparkSession, m: Manifest, root: String, id: Int,
      keyCols: Seq[String], fs: StoreFs): Map[String, Set[Seq[Any]]] =
    bucket(spark, m, Key("index", root, id, keyCols), fs) { rows =>
      rows.headOption.fold(Map.empty[String, Set[Seq[Any]]]) { r =>
        val keyIdx = keyCols.map(r.fieldIndex)
        val term = r.fieldIndex("index_key")
        rows.iterator.filterNot(_.isNullAt(term))
          .map(row => String.valueOf(row.get(term)) -> keyIdx.map(row.get))
          .toSeq.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      }
    }.getOrElse(Map.empty)

  /** Whether an entry of bucket `id` of table `root` is held, for any
    * generation: whether a publication could rebuild one. */
  def holds(root: String, id: Int, keyCols: Seq[String]): Boolean =
    synchronized(entries.containsKey(Key("table", root, id, keyCols)))

  /** The writer's hand-off for its commit of `next` over `prev` into table
    * `root`, built BEFORE the flip; the returned install runs right AFTER
    * it. `rows` are the final rows, tombstoned ones included, of every key
    * the batch wrote, by bucket; None when the writer could not collect
    * them. Per bucket whose generation changed, a compare-and-set on
    * identity:
    *
    *   - an entry for the old generation becomes the entry for the new
    *     one: the batch's keys are dropped from it and `rows` decoded into
    *     it as a load decodes;
    *   - an entry already for the new one (a reader loaded it first) stays;
    *   - any other entry is dropped, and no entry is ever created.
    *
    * The rows are final, so no merge rule is repeated here. A publication
    * that cannot keep the entry within `maxBytes`, or whose rows' schema
    * differs from the entry's, drops it instead. The install also hands
    * the cache `next`, all under one lock. */
  def publish(prev: Option[Manifest], next: Manifest, root: String,
      keyCols: Seq[String], rows: Option[Map[Int, Seq[Row]]]): () => Unit = {
    val before = prev.fold(Map.empty[Int, String])(_.gens(root))
    val after = next.gens(root)
    val moves = (before.keySet ++ after.keySet).filter(id => before.get(id) != after.get(id))
      .flatMap { id =>
        val key = Key("table", root, id, keyCols)
        synchronized(Option(entries.get(key))).filterNot(e => after.get(id).contains(e.id))
          .map { e =>
            val rebuilt = for {
              to <- after.get(id)
              byId <- rows if before.get(id).contains(e.id)
              rs = byId.getOrElse(id, Nil)
              base = e.value.asInstanceOf[Map[Seq[Any], Row]]
              if rs.headOption.forall(r => base.valuesIterator.nextOption()
                .forall(b => shape(b.schema) == shape(r.schema)))
            } yield {
              val keyIdx = rs.headOption.map(r => keyCols.map(r.fieldIndex)).getOrElse(Nil)
              val value = base -- rs.map(r => keyIdx.map(r.get)) ++ live(rs, keyCols)
              new Entry(to, value, SizeEstimator.estimate(value))
            }
            (key, e, rebuilt)
          }
      }
    () => synchronized {
      manifests.put(BucketedStore.pointer(root), next)
      moves.foreach { case (key, e, rebuilt) =>
        if (entries.get(key) eq e) { // nothing stored since the look above
          if (rebuilt.exists(put(key, _))) published.incrementAndGet()
          else {
            Option(entries.remove(key)).foreach(old => held -= old.bytes)
            invalidated.incrementAndGet()
          }
        }
      }
    }
  }

  /** The decoded content of `key`'s bucket in `m`; None when the bucket
    * has no rows. */
  private def bucket[T <: AnyRef](spark: SparkSession, m: Manifest, key: Key,
      fs: StoreFs)(decode: Seq[Row] => T): Option[T] =
    m.gens(key.root).get(key.id).map { gen =>
      cached[T](key, gen).getOrElse(load(spark, m, key, gen, fs)(decode))
    }

  private def cached[T](key: Key, gen: String): Option[T] = synchronized {
    Option(entries.get(key)).filter(_.id == gen).map { e =>
      hits.incrementAndGet()
      e.value.asInstanceOf[T]
    }
  }

  /** One load of generation `gen` of manifest `m`; throws when the pointer
    * moved off `m` during the load (the caller re-resolves). */
  private def load[T <: AnyRef](spark: SparkSession, m: Manifest, key: Key, gen: String,
      fs: StoreFs)(decode: Seq[Row] => T): T =
    loadLocks(java.lang.Math.floorMod(key.hashCode, loadLocks.length)).synchronized {
      cached[T](key, gen).getOrElse {
        val rows = spark.read.schema(m.parts(key.root).schema).parquet(gen).collect()
        if (!fs.readString(m.pointer).map(_.trim).contains(m.path))
          throw new IllegalStateException(s"$gen was superseded during its load")
        loads.incrementAndGet()
        val value = decode(rows.toSeq)
        put(key, new Entry(gen, value, SizeEstimator.estimate(value)))
        value
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

  /** Reads of one store that may find its manifest superseded before
    * giving up (each retry follows a commit that landed mid-read). */
  val MaxAttempts = 3

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

  private final case class Key(kind: String, root: String, id: Int, keyCols: Seq[String])
  private final class Entry(val id: String, val value: AnyRef, val bytes: Long)

  /** The one cache every serving route, and the bucketed writer, share by
    * default. */
  lazy val shared: BucketCache =
    new BucketCache((Runtime.getRuntime.maxMemory * HeapShare).toLong)
}

package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import scala.util.{Failure, Try}
import scala.util.chaining._

import org.apache.spark.sql.{Row, SparkSession}
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
  * decodes the whole new generation of each touched bucket the cache
  * holds, and right after the flip installs those entries and the new
  * manifest under one lock, without a load — the reference's
  * write-through MemStore (KVStoreLocal.put:477-513). Every entry is the
  * decode of exactly one committed generation, whoever built it. The
  * pointer stays the truth: a reader that misses a publication, or runs
  * in another JVM, loads.
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
  /** Entries the writer installed for a generation it committed, with no
    * load. */
  val published = new AtomicLong
  /** Entries a publication dropped: over the byte bound, or for a
    * generation its manifest no longer names. */
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
    * generation: whether a publication should install its next one. */
  def holds(root: String, id: Int, keyCols: Seq[String]): Boolean =
    synchronized(entries.containsKey(Key("table", root, id, keyCols)))

  /** The writer's hand-off for its commit of `next` into table `root`,
    * built BEFORE the flip; the returned install runs right AFTER it.
    * `rows` are the rows of each bucket's generation in `next`, by bucket
    * id, decoded here as a load decodes them. The install hands the cache
    * `next` and, under one lock with no filesystem call, leaves every
    * bucket of `root` holding its generation in `next` or no entry: a
    * built entry replaces any other (one a reader already loaded for the
    * same generation stays), and an entry over `maxBytes`, or for a
    * generation `next` no longer names, is dropped. So every entry is the
    * decode of one committed generation, whether loaded or installed. */
  def publish(next: Manifest, root: String, keyCols: Seq[String],
      rows: Map[Int, Seq[Row]]): () => Unit = {
    val gens = next.gens(root)
    val built = rows.map { case (id, rs) =>
      // an unchanged row keeps the held entry's Row object, so a batch
      // does not churn a whole bucket's rows through the heap
      val cur = synchronized(Option(entries.get(Key("table", root, id, keyCols))))
        .fold(Map.empty[Seq[Any], Row])(_.value.asInstanceOf[Map[Seq[Any], Row]])
      val value = live(rs, keyCols).map { case (k, r) => k -> cur.get(k).filter(_ == r).getOrElse(r) }
      id -> new Entry(gens(id), value, SizeEstimator.estimate(value))
    }
    () => synchronized {
      manifests.put(BucketedStore.pointer(root), next)
      for (id <- 0 until next.arity; key = Key("table", root, id, keyCols)) {
        val cur = Option(entries.get(key))
        built.get(id) match {
          case Some(e) if !cur.exists(_.id == e.id) =>
            if (put(key, e)) published.incrementAndGet() else invalidated.incrementAndGet()
          case _ => cur.filterNot(c => gens.get(id).contains(c.id)).foreach { c =>
            entries.remove(key)
            held -= c.bytes
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

  private final case class Key(kind: String, root: String, id: Int, keyCols: Seq[String])
  private final class Entry(val id: String, val value: AnyRef, val bytes: Long)

  /** The one cache every serving route, and the bucketed writer, share by
    * default. */
  lazy val shared: BucketCache =
    new BucketCache((Runtime.getRuntime.maxMemory * HeapShare).toLong)
}

package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.serving.Gateway
import graft.state.SecondaryIndex
import graft.streaming.{BucketCache, BucketedStore, ChangelogStream, LocalFs}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The serving cache of committed bucket generations ([[BucketCache]])
  * behind `Gateway.BucketedRoute` and `Gateway.IndexRoute`: commits that
  * land mid-read (driven by `StoreFs` hooks, never by timing), restarted
  * batch ids, the byte bound, the writer's publications racing readers,
  * answers equal to the Spark read path, and zero Spark jobs on a hit. */
class BucketCacheSpec extends SparkSpec {
  import spark.implicits._

  private val N = 4
  private val kv = Seq("k")

  /** LocalFs with one-shot hooks run right before or right after a read
    * of a matching path. */
  private final class HookFs extends ForwardingFs {
    @volatile private var beforeRead: Option[(String => Boolean, () => Unit)] = None
    @volatile private var afterRead: Option[(String => Boolean, () => Unit)] = None
    def onRead(p: String => Boolean)(body: => Unit): Unit = afterRead = Some((p, () => body))
    def onNextRead(p: String => Boolean)(body: => Unit): Unit =
      beforeRead = Some((p, () => body))
    private def fire(hook: Option[(String => Boolean, () => Unit)], path: String,
        clear: () => Unit): Unit =
      hook.filter(_._1(path)).foreach { case (_, body) => clear(); body() }
    override def readString(path: String): Option[String] = {
      fire(beforeRead, path, () => beforeRead = None)
      val r = LocalFs.readString(path)
      fire(afterRead, path, () => afterRead = None)
      r
    }
  }

  /** Commit `rows` (key, value) into exactly their buckets of `root`. */
  private def commit(root: String, batch: Long, rows: (Long, String)*): Unit =
    BucketedStore.writeBuckets(rows.toDF("k", "v").withColumn("tombstone", lit(false)),
      BucketedStore.bucketCol(kv, N), root,
      rows.map(r => BucketedStore.bucketOf(Seq(r._1), N)).distinct, batch, N)

  private def value(r: Option[Row]): Option[String] = r.map(_.getAs[String]("v"))

  private def store(name: String): String =
    Files.createTempDirectory(name).toFile.getAbsolutePath

  /** The generation bucket `id` of `root` has in the live manifest. */
  private def genOf(root: String, id: Int): String =
    BucketedStore.manifest(root).get.gens(root)(id)

  "the cached route" should "serve a commit that lands between its pointer read and its load" in {
    val root = store("graft-bc-a")
    commit(root, 0L, 1L -> "old", 2L -> "x", 3L -> "y", 4L -> "z")
    val fs = new HookFs
    val cache = new BucketCache(1L << 26)
    val route = new Gateway.BucketedRoute(spark, root, kv, fs, cache)
    fs.onRead(_ == BucketedStore.pointer(root))(commit(root, 1L, 1L -> "new"))
    value(route.get(Seq(1L))) shouldBe Some("new")
    cache.loads.get shouldBe 1 // the superseded generation was never loaded
  }

  it should "serve a commit that lands during its load, caught by the post-load pointer check" in {
    val root = store("graft-bc-b")
    commit(root, 0L, 1L -> "old", 2L -> "x", 3L -> "y", 4L -> "z")
    val fs = new HookFs
    val cache = new BucketCache(1L << 26)
    val route = new Gateway.BucketedRoute(spark, root, kv, fs, cache)
    val ptr = BucketedStore.pointer(root)
    // the read after the resolving one is the load's own pointer check:
    // the old generation was read whole, then the commit lands
    fs.onRead(_ == ptr)(fs.onNextRead(_ == ptr)(commit(root, 1L, 1L -> "new")))
    value(route.get(Seq(1L))) shouldBe Some("new")
    value(route.get(Seq(1L))) shouldBe Some("new") // and then from the cache
    cache.loads.get shouldBe 1 // the old generation's rows were dropped
    cache.hits.get shouldBe 1
  }

  it should "not serve an older load from a reused generation dir name" in {
    val root = store("graft-bc-reuse")
    val cache = new BucketCache(1L << 26)
    commit(root, 0L, 1L -> "v0")
    val route = new Gateway.BucketedRoute(spark, root, kv, LocalFs, cache)
    val bucket = BucketedStore.bucketOf(Seq(1L), N)
    val first = genOf(root, bucket)
    value(route.get(Seq(1L))) shouldBe Some("v0") // cached under batch 0's generation
    commit(root, 1L, 1L -> "v1")
    // a restarted stream counts batch ids from 0 again: the generation
    // name still differs, so the manifest never names the cached entry
    commit(root, 0L, 1L -> "v2")
    genOf(root, bucket) should not be first
    value(route.get(Seq(1L))) shouldBe Some("v2")
    cache.loads.get shouldBe 2
  }

  it should "stay correct and within its byte bound under a tiny bound" in {
    val root = store("graft-bc-bound")
    val rows = (1L to 200L).map(k => k -> s"v$k")
    commit(root, 0L, rows: _*)
    val probe = new BucketCache(1L << 26)
    new Gateway.BucketedRoute(spark, root, kv, LocalFs, probe).get(Seq(1L))
    val oneBucket = probe.bytes
    // room for about two of the four buckets: reads across all of them evict
    for (bound <- Seq(oneBucket * 5 / 2, 1L)) {
      val cache = new BucketCache(bound)
      val route = new Gateway.BucketedRoute(spark, root, kv, LocalFs, cache)
      for (_ <- 1 to 2; (k, v) <- rows.take(40)) {
        value(route.get(Seq(k))) shouldBe Some(v)
        cache.bytes should be <= cache.maxBytes
      }
      route.get(Seq(999L)) shouldBe None
      cache.bytes should be <= cache.maxBytes
      if (bound > 1L) cache.evictions.get should be > 0L
      else cache.bytes shouldBe 0L // an entry larger than the bound stays uncached
    }
  }

  private val ddl = "k BIGINT, v STRING, ts_us BIGINT, tombstone BOOLEAN"

  /** A streamed store seeded with keys 1..`keys` at value "v0". */
  private def seeded(cache: BucketCache, keys: Int, n: Int = N,
      index: Boolean = false): StreamedStore = {
    val s = new StreamedStore(spark, ddl, kv, n, cache,
      Option.when(index)(split(col("v"), " ")))
    s.append((1L to keys.toLong).map(k => (k, "v0", 100L, false))
      .toDF("k", "v", "ts_us", "tombstone"))
    s.drain()
    s
  }

  private def changes(rows: (Long, String, Long, Boolean)*) =
    rows.toDF("k", "v", "ts_us", "tombstone")

  /** LocalFs that runs a one-shot hook right after a write of a matching
    * path (the flip, when the path is the manifest pointer). */
  private final class AfterWriteFs(p: String => Boolean)(body: => Unit) extends ForwardingFs {
    @volatile private var armed = true
    override def writeString(path: String, content: String): Unit = {
      super.writeString(path, content)
      if (armed && p(path)) { armed = false; body }
    }
  }

  "a publication" should "reach a reader whose pointer read lands between the flip and the publication" in {
    val cache = new BucketCache(1L << 26)
    val s = seeded(cache, 8)
    val route = new Gateway.BucketedRoute(spark, s.table, kv, LocalFs, cache)
    (1L to 8L).foreach(k => value(route.get(Seq(k))) shouldBe Some("v0"))
    val loads = cache.loads.get
    @volatile var seen: Option[String] = None
    s.append(changes((1L, "v1", 200L, false)))
    // the writer's publication follows this pointer write; the read lands
    // between the two and finds the cache still on the old generation
    s.drain(new AfterWriteFs(_ == BucketedStore.pointer(s.table))({
      seen = value(route.get(Seq(1L))) }))
    seen shouldBe Some("v1")
    cache.loads.get shouldBe loads + 1 // the reader loaded the new generation
    cache.published.get shouldBe 0 // which the late publication left alone
    cache.invalidated.get shouldBe 0
    value(route.get(Seq(1L))) shouldBe Some("v1")
    cache.loads.get shouldBe loads + 1
  }

  /** Rows shaped as [[commit]] writes them, as a writer would publish them
    * as the whole content of bucket `id`. */
  private def rowsOf(id: Int, rows: (Long, String)*): Map[Int, Seq[Row]] =
    Map(id -> rows.toDF("k", "v").withColumn("tombstone", lit(false)).collect().toSeq)

  /** `m` with bucket `id` of `root` moved to generation `gen`. */
  private def moved(m: BucketedStore.Manifest, root: String, id: Int,
      gen: String): BucketedStore.Manifest =
    m.copy(path = s"${m.path}-next", parts = m.parts.updated(root,
      m.parts(root).copy(gens = m.gens(root).updated(id, gen))))

  it should "change nothing once a reader already loaded the new generation" in {
    val root = store("graft-bc-late")
    val cache = new BucketCache(1L << 26)
    commit(root, 0L, 1L -> "v0")
    val route = new Gateway.BucketedRoute(spark, root, kv, LocalFs, cache)
    val bucket = BucketedStore.bucketOf(Seq(1L), N)
    value(route.get(Seq(1L))) shouldBe Some("v0")
    commit(root, 1L, 1L -> "v1")
    val to = BucketedStore.manifest(root).get
    value(route.get(Seq(1L))) shouldBe Some("v1")
    val (bytes, loads) = (cache.bytes, cache.loads.get)
    cache.publish(to, root, kv, rowsOf(bucket, 1L -> "stale"))()
    value(route.get(Seq(1L))) shouldBe Some("v1")
    (cache.bytes, cache.loads.get) shouldBe ((bytes, loads))
    cache.published.get shouldBe 0
    cache.invalidated.get shouldBe 0
  }

  it should "replace an entry held for neither side of the flip, and drop one over the byte bound" in {
    val root = store("graft-bc-inval")
    val b1 = BucketedStore.bucketOf(Seq(1L), N)
    val mate = (2L to 100L).find(k => BucketedStore.bucketOf(Seq(k), N) == b1).get
    val cache = new BucketCache(1L << 26)
    lazy val route = new Gateway.BucketedRoute(spark, root, kv, LocalFs, cache)
    val ms = (0L to 2L).map { b =>
      commit(root, b, 1L -> s"v$b", mate -> "w0")
      if (b == 0L) value(route.get(Seq(mate))) shouldBe Some("w0") // resident for gens(0)
      BucketedStore.manifest(root).get
    }

    // an entry for neither side of the flip ms(1) → ms(2) becomes ms(2)'s,
    // and the next read is a hit
    cache.publish(ms(2), root, kv, rowsOf(b1, 1L -> "v2", mate -> "w0"))()
    (cache.published.get, cache.invalidated.get) shouldBe ((1L, 0L))
    val (loads, hits) = (cache.loads.get, cache.hits.get)
    value(route.get(Seq(1L))) shouldBe Some("v2")
    (cache.loads.get, cache.hits.get) shouldBe ((loads, hits + 1))

    // an entry that would not fit the bound is dropped
    val tight = new BucketCache(2 * cache.bytes)
    val tightRoute = new Gateway.BucketedRoute(spark, root, kv, LocalFs, tight)
    value(tightRoute.get(Seq(mate))) shouldBe Some("w0")
    tight.bytes should be > 0L
    val next = moved(ms(2), root, b1, s"${genOf(root, b1)}-next")
    tight.publish(next, root, kv, rowsOf(b1, (1L to 64L).map(k => k -> s"wide-$k"): _*))()
    (tight.published.get, tight.invalidated.get, tight.bytes) shouldBe ((0L, 1L, 0L))
  }

  /** Spark jobs, and stages that wrote shuffle output, of every thread
    * while `body` runs: the events between two marker jobs, counted once
    * the listener bus has delivered the second. */
  private def sparkWork(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val shuffles = new AtomicInteger
    @volatile var open = false
    val end = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.tag")).orNull match {
          case "begin" => open = true
          case "end" => open = false; end.countDown()
          case _ => if (open) jobs.incrementAndGet()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (open && e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffles.incrementAndGet()
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty("graft.spec.tag", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.tag", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      body
      marker("end")
      end.await(60, TimeUnit.SECONDS) shouldBe true
      (jobs.get, shuffles.get)
    } finally sc.removeSparkListener(listener)
  }

  private def jobsDuring(body: => Unit): Int = sparkWork(body)._1

  "the bucketed writer" should "publish at most one job beyond a writer that does not, add no shuffle stage, and leave the next read no job" in {
    val cache = new BucketCache(1L << 28)
    val s = seeded(cache, 400, n = 16, index = true)
    val route = new Gateway.BucketedRoute(spark, s.table, kv, LocalFs, cache)
    (1L to 400L).foreach(k => value(route.get(Seq(k))) shouldBe Some("v0"))
    s.append(changes((3L, "v1 x", 200L, false), (5L, "v1", 200L, false),
      (7L, null, 200L, true), (11L, "v1 y", 200L, false), (13L, "v1", 50L, false),
      (401L, "new", 200L, false), (17L, "v1", 200L, false), (19L, "v1 z", 200L, false)))
    val loads = cache.loads.get
    val (jobs, shuffles) = sparkWork(s.drain())
    // the same batch through the writer before publication, which found its
    // touched buckets with a distinct() and collected no rows, ran 8 jobs,
    // 3 of their stages writing shuffle output (counted as here)
    jobs should be <= 8 + 1
    shuffles should be <= 3
    cache.published.get shouldBe (Seq(3L, 5L, 7L, 11L, 13L, 401L, 17L, 19L)
      .map(k => BucketedStore.bucketOf(Seq(k), 16)).distinct.size)
    cache.invalidated.get shouldBe 0
    jobsDuring {
      value(route.get(Seq(3L))) shouldBe Some("v1 x")
      route.get(Seq(7L)) shouldBe None
      value(route.get(Seq(13L))) shouldBe Some("v0") // the older update lost
      value(route.get(Seq(401L))) shouldBe Some("new")
    } shouldBe 0
    cache.loads.get shouldBe loads
  }

  /** Every file under `root` by relative path, with the pointer's target. */
  private def tree(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
      val rel = base.relativize(f).toString
      rel -> (if (rel.endsWith(".ptr")) Files.readString(f) else "")
    }.toMap finally walk.close()
  }

  /** Drain `rows` as INT-keyed changelog from a second stream into `s`'s
    * BIGINT-keyed table: the writer must refuse the batch before staging
    * anything, leaving the files and the cache as they were. */
  private def refusedIntBatch(s: StreamedStore, cache: BucketCache,
      rows: (Int, String, Long, Boolean)*): Unit = {
    val in = s"${s.root}/in-int"
    rows.toDF("k", "v", "ts_us", "tombstone").coalesce(1).write.parquet(in)
    val files = tree(s.table)
    val counters = Seq(cache.loads, cache.hits, cache.published, cache.invalidated,
      cache.evictions).map(_.get) :+ cache.bytes
    val intDdl = "k INT, v STRING, ts_us BIGINT, tombstone BOOLEAN"
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangelogStream.materializeLatestBucketed(spark.readStream.schema(intDdl).parquet(in),
          kv, "ts_us", s.table, s"${s.root}/ckpt-int", N, cache = cache)
        .start().awaitTermination()
    }
    val refusal = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
    refusal.get should (include("'k'") and include("IntegerType") and include("LongType"))
    tree(s.table) shouldBe files
    (Seq(cache.loads, cache.hits, cache.published, cache.invalidated,
      cache.evictions).map(_.get) :+ cache.bytes) shouldBe counters
  }

  it should "neither collect nor fill a touched bucket the cache does not hold" in {
    val n = 16
    val Seq(warm, cold) = Seq.fill(2)(new BucketCache(1L << 26))
    val Seq(ws, cs) = Seq(warm, cold).map(seeded(_, 400, n))
    val a = 3L
    val b = (4L to 400L).find(k =>
      BucketedStore.bucketOf(Seq(k), n) != BucketedStore.bucketOf(Seq(a), n)).get
    val route = new Gateway.BucketedRoute(spark, ws.table, kv, LocalFs, warm)
    value(route.get(Seq(a))) shouldBe Some("v0") // warm holds a's bucket only
    Seq(ws, cs).foreach(_.append(changes((a, "v1", 200L, false), (b, "v1", 200L, false))))
    // the one job the warm writer adds is its publication's collect; the
    // cold writer, whose cache holds no touched bucket, collects nothing
    jobsDuring(ws.drain()) - jobsDuring(cs.drain()) shouldBe 1
    (cold.published.get, cold.bytes) shouldBe ((0L, 0L))
    (warm.published.get, warm.invalidated.get) shouldBe ((1L, 0L))
    val loads = warm.loads.get
    value(route.get(Seq(a))) shouldBe Some("v1")
    warm.loads.get shouldBe loads // installed
    value(route.get(Seq(b))) shouldBe Some("v1")
    warm.loads.get shouldBe loads + 1 // never filled, so loaded
  }

  it should "refuse a one-key update whose key type is narrower than the table's, committing and publishing nothing" in {
    val cache = new BucketCache(1L << 26)
    val s = seeded(cache, 20) // BIGINT keys over all 4 buckets
    val route = new Gateway.BucketedRoute(spark, s.table, kv, LocalFs, cache)
    (1L to 20L).foreach(k => value(route.get(Seq(k))) shouldBe Some("v0"))
    // an INT key routes by the INT hash, while the compaction widens it to
    // BIGINT and stages its row by the BIGINT hash: unrefused, the row
    // lands in a bucket the batch does not commit and the update is lost
    BucketedStore.bucketOf(Seq(1), N) should not be BucketedStore.bucketOf(Seq(1L), N)
    refusedIntBatch(s, cache, (1, "v1", 200L, false))
    value(route.get(Seq(1L))) shouldBe Some("v0")
  }

  it should "refuse the batch when every bucket it touches is new" in {
    val cache = new BucketCache(1L << 26)
    val s = new StreamedStore(spark, ddl, kv, N, cache)
    val seededKeys = (1L to 100L).filter(k => BucketedStore.bucketOf(Seq(k), N) == 0).take(5)
    s.append(seededKeys.map(k => (k, "v0", 100L, false)).toDF("k", "v", "ts_us", "tombstone"))
    s.drain()
    BucketedStore.existingBuckets(s.table) shouldBe Seq(0)
    val fresh = (1 to 100).find(k => BucketedStore.bucketOf(Seq(k), N) != 0).get
    refusedIntBatch(s, cache, (fresh, "v1", 200L, false))
    BucketedStore.existingBuckets(s.table) shouldBe Seq(0)
  }

  it should "record its batch stats with one job beyond a batch without them" in {
    val n = 16
    val change = changes((3L, "v1", 200L, false), (3L, "v2", 300L, false),
      (5L, null, 200L, true), (401L, "new", 200L, false))
    val touched = Seq(3L, 5L, 401L).map(k => BucketedStore.bucketOf(Seq(k), n)).distinct
    // two equal stores; their caches hold nothing, so neither batch publishes
    val Seq(plain, counted) = Seq.fill(2)(seeded(new BucketCache(1L << 26), 400, n))
    Seq(plain, counted).foreach(_.append(change))
    val stats = scala.collection.mutable.ArrayBuffer.empty[ChangelogStream.BucketBatchStats]
    val without = jobsDuring(plain.drain())
    val withStats = jobsDuring(counted.drain(stats = Some(stats)))
    // the one job: the full-table count (the batch row count is the key
    // collect's length, the rows read an observation on the compaction)
    withStats - without shouldBe
      jobsDuring(BucketedStore.read(spark, counted.table).get.count())
    stats.toSeq shouldBe Seq(ChangelogStream.BucketBatchStats(1L, 4L,
      (1L to 400L).count(k => touched.contains(BucketedStore.bucketOf(Seq(k), n))),
      touched.size, n, 401L))
  }

  "the cached routes" should "answer as the Spark read path does, and run no Spark job on a hit" in {
    val keyCols = Seq("s", "i")
    val n = 16
    val rnd = new Random(11)
    val holes = Set(3, 11) // buckets never committed
    val vocab = (0 until 8).map(t => s"t$t")
    val rows = Iterator.continually(
        (rnd.alphanumeric.take(1 + rnd.nextInt(3)).mkString, rnd.nextInt(50) - 10))
      .filterNot(k => holes(BucketedStore.bucketOf(Seq(k._1, k._2), n)))
      .distinct.take(700).map { case (s, i) =>
        val tags = ("common" +: vocab.filter(_ => rnd.nextInt(3) == 0))
          .filter(t => t != "common" || rnd.nextInt(10) < 7)
        (s, i, s"$s/$i/${rnd.nextInt(1000)}", tags.mkString(" "), rnd.nextInt(7) == 0)
      }.toSeq
    val tbl = rows.toDF("s", "i", "val", "tags", "tombstone")
    val root = store("graft-bc-diff")
    val bexpr = BucketedStore.bucketCol(keyCols, n)
    val touched = (0 until n).filterNot(holes)
    // some tombstoned keys still indexed, which both paths must drop
    val indexed = tbl.filter(!col("tombstone") || col("i") % 3 === 0)
    BucketedStore.writeBuckets(tbl, bexpr, s"$root/t", touched, 0L, n, index = Some(
      (SecondaryIndex.build(indexed, keyCols, split(col("tags"), " ")), s"$root/i")))

    val cache = new BucketCache(1L << 28)
    val calls = new AtomicInteger
    val counting = new ForwardingFs {
      override protected def before(op: String, path: String): Unit = calls.incrementAndGet()
    }
    val kvRoute = new Gateway.BucketedRoute(spark, s"$root/t", keyCols, counting, cache)
    val idxRoute = new Gateway.IndexRoute(spark, s"$root/t", s"$root/i", keyCols,
      fs = counting, cache = cache)
    def fsCalls(body: => Unit): Int = { calls.set(0); body; calls.get }
    def viaSpark(k: Seq[Any]): Option[Row] =
      BucketedStore.pointLookup(spark, s"$root/t", keyCols, k)
        .flatMap(_.filter(!col("tombstone")).collect().headOption)
    def same(a: Seq[Row], b: Seq[Row]): Unit = {
      a.map(_.schema) shouldBe b.map(_.schema)
      a.map(_.toSeq) shouldBe b.map(_.toSeq)
    }
    val probes = rnd.shuffle(rows).take(30).map(r => Seq(r._1, r._2)) ++
      Seq(Seq("zz-miss", 1), Seq("", 0)) ++ // never written
      Iterator.from(0).map(i => Seq(s"hole$i", i))
        .filter(k => holes(BucketedStore.bucketOf(k, n))).take(2)
    probes.foreach(k => same(kvRoute.get(k).toSeq, viaSpark(k).toSeq))
    probes.count(k => kvRoute.get(k).isDefined) should be > 10

    val live = BucketedStore.read(spark, s"$root/t").get.filter(!col("tombstone"))
    val idx = BucketedStore.read(spark, s"$root/i").get
    SecondaryIndex.multiLookup(idx, live, keyCols, Seq("common")).count() should be > 256L
    for (terms <- Seq(Seq("common"), Seq("common", "t1"), Seq("t2", "t5", "common"),
        Seq("t3"), Seq("t4", "t4"), Seq("nope"), Seq("t6", "nope"))) {
      val expected = SecondaryIndex.multiLookup(idx, live, keyCols, terms)
        .orderBy(keyCols.map(col): _*).limit(256).collect().toSeq
      same(idxRoute.lookup(terms), expected)
    }

    val hot = probes.head
    val cold = new Gateway.BucketedRoute(spark, s"$root/t", keyCols, LocalFs,
      new BucketCache(1L << 28))
    jobsDuring(cold.get(hot)) should be > 0 // a load is counted
    jobsDuring(kvRoute.get(hot)) shouldBe 0
    jobsDuring(idxRoute.lookup(Seq("common", "t1"))) shouldBe 0
    // warm, each request is one filesystem call: the manifest pointer read
    fsCalls(kvRoute.get(hot)) shouldBe 1
    fsCalls(idxRoute.lookup(Seq("common", "t1"))) shouldBe 1
  }
}

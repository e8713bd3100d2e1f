package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import graft.serving.Gateway
import graft.state.SecondaryIndex
import graft.streaming.{AtomicSwap, BucketCache, BucketedStore, LocalFs}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The serving cache of committed bucket generations ([[BucketCache]])
  * behind `Gateway.BucketedRoute` and `Gateway.IndexRoute`: commits that
  * land mid-read (driven by `StoreFs` hooks, never by timing), reuse of
  * a generation dir name, the byte bound, answers equal to the Spark read
  * path, and zero Spark jobs on a hit. */
class BucketCacheSpec extends SparkSpec {
  import spark.implicits._

  private val N = 4
  private val kv = Seq("k")

  /** LocalFs with one-shot hooks run right after a read of a matching path. */
  private final class HookFs extends ForwardingFs {
    @volatile private var afterRead: Option[(String => Boolean, () => Unit)] = None
    @volatile private var afterList: Option[(String => Boolean, () => Unit)] = None
    def onRead(p: String => Boolean)(body: => Unit): Unit = afterRead = Some((p, () => body))
    def onList(p: String => Boolean)(body: => Unit): Unit = afterList = Some((p, () => body))
    private def fire(hook: Option[(String => Boolean, () => Unit)], path: String,
        clear: () => Unit): Unit =
      hook.filter(_._1(path)).foreach { case (_, body) => clear(); body() }
    override def readString(path: String): Option[String] = {
      val r = LocalFs.readString(path)
      fire(afterRead, path, () => afterRead = None)
      r
    }
    override def listNames(dir: String): Seq[String] = {
      val r = LocalFs.listNames(dir)
      fire(afterList, dir, () => afterList = None)
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

  "the cached route" should "serve a commit that lands between its pointer read and its listing" in {
    val root = store("graft-bc-a")
    commit(root, 0L, 1L -> "old", 2L -> "x", 3L -> "y", 4L -> "z")
    val fs = new HookFs
    val cache = new BucketCache(1L << 26)
    val route = new Gateway.BucketedRoute(spark, root, kv, fs, cache)
    val ptr = s"${BucketedStore.bucketDir(root, BucketedStore.bucketOf(Seq(1L), N))}.ptr"
    fs.onRead(_ == ptr)(commit(root, 1L, 1L -> "new"))
    value(route.get(Seq(1L))) shouldBe Some("new")
    cache.loads.get shouldBe 1 // the superseded generation was never loaded
  }

  it should "serve a commit that lands between its listing and its load" in {
    val root = store("graft-bc-b")
    commit(root, 0L, 1L -> "old", 2L -> "x", 3L -> "y", 4L -> "z")
    val fs = new HookFs
    val cache = new BucketCache(1L << 26)
    val route = new Gateway.BucketedRoute(spark, root, kv, fs, cache)
    val gen = AtomicSwap.pointer(BucketedStore.bucketDir(root,
      BucketedStore.bucketOf(Seq(1L), N))).get
    fs.onList(_ == gen)(commit(root, 1L, 1L -> "new"))
    value(route.get(Seq(1L))) shouldBe Some("new")
    value(route.get(Seq(1L))) shouldBe Some("new") // and then from the cache
    cache.loads.get shouldBe 1
    cache.hits.get shouldBe 1
  }

  it should "not serve an older load from a reused generation dir name" in {
    val root = store("graft-bc-reuse")
    val cache = new BucketCache(1L << 26)
    commit(root, 0L, 1L -> "v0")
    val route = new Gateway.BucketedRoute(spark, root, kv, LocalFs, cache)
    val bucket = BucketedStore.bucketDir(root, BucketedStore.bucketOf(Seq(1L), N))
    val first = AtomicSwap.pointer(bucket).get
    value(route.get(Seq(1L))) shouldBe Some("v0") // cached under .staging-0
    commit(root, 1L, 1L -> "v1")
    // a restarted stream counts batch ids from 0 again
    commit(root, 0L, 1L -> "v2")
    AtomicSwap.pointer(bucket) shouldBe Some(first) // the same dir name again
    value(route.get(Seq(1L))) shouldBe Some("v2")
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

  /** Spark jobs started while `body` runs on this thread, counted once the
    * listener bus has delivered a marker job started after it. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val counted = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.tag")).orNull match {
          case "measured" => counted.incrementAndGet()
          case "marker" => marker.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", "measured")
      body
      sc.setLocalProperty("graft.spec.tag", "marker")
      spark.range(1).count()
      marker.await(60, TimeUnit.SECONDS) shouldBe true
      counted.get
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
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
    BucketedStore.writeBuckets(tbl, bexpr, s"$root/t", touched, 0L, n)
    // some tombstoned keys still indexed: the window between a batch's table
    // and index commits, where both paths must drop them
    val indexed = tbl.filter(!col("tombstone") || col("i") % 3 === 0)
    BucketedStore.writeBuckets(SecondaryIndex.build(indexed, keyCols, split(col("tags"), " ")),
      bexpr, s"$root/i", touched, 0L, n)

    val cache = new BucketCache(1L << 28)
    val kvRoute = new Gateway.BucketedRoute(spark, s"$root/t", keyCols, LocalFs, cache)
    val idxRoute = new Gateway.IndexRoute(spark, s"$root/t", s"$root/i", keyCols,
      cache = cache)
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
  }
}

package graft

import java.nio.file.Files

import graft.streaming.{BucketedStore, ChangelogStream}
import org.apache.spark.sql.functions._

/** Incremental bucketed table/index maintenance (r12 verdict #1): a
  * multi-batch tombstoned drain through [[ChangelogStream
  * .maintainIndexedBucketed]] must (a) end equal to the full
  * re-derivation — `Changelog.compact` (+ `SecondaryIndex.build`) of the
  * replayed log — and (b) demonstrably read back only the touched buckets
  * per batch, never the whole table. */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN"
  private val NumBuckets = 4

  /** The one committed generation dir a routed scan read. */
  private def scannedDir(df: org.apache.spark.sql.DataFrame): String = {
    val dirs = df.inputFiles
      .map(f => new java.io.File(new java.net.URI(f)).getParent).toSet
    dirs.size shouldBe 1
    dirs.head
  }

  /** Bucket id of an int key under the store's routing (same expression). */
  private def bucketOf(keys: Seq[Int]): Map[Int, Int] =
    keys.toDF("key")
      .select(col("key"), BucketedStore.bucketCol(Seq("key"), NumBuckets).as("b"))
      .as[(Int, Int)].collect().toMap

  "maintainIndexedBucketed" should "equal the full re-derivation on a multi-batch tombstoned drain, reading only touched buckets" in {
    val root = Files.createTempDirectory("graft-bstore").toFile.getAbsolutePath
    val in = s"$root/in"
    new java.io.File(in).mkdirs()

    val keys = (1 to 20).toSeq
    val bmap = bucketOf(keys)
    // every bucket is populated with 20 keys over 4 buckets
    bmap.values.toSet.size shouldBe NumBuckets
    // pick one bucket whose keys batches 2/3 will confine themselves to,
    // so those batches touch a strict subset of buckets
    val hotBucket = bmap(keys.head)
    val hotKeys = keys.filter(bmap(_) == hotBucket)
    hotKeys.size should be >= 2

    def writeFile(rows: Seq[(Int, String, Long, Boolean)]): Unit = {
      rows.toDF("key", "value", "ts_us", "tombstone")
        .coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(20) // distinct mtimes: the file source drains oldest-first
    }

    // batch 1: seed every key (index key = first letter of value)
    writeFile(keys.map(k => (k, s"x$k", 100L, false)))
    // batch 2: update one hot key's index term, tombstone another hot key
    writeFile(Seq(
      (hotKeys.head, s"y${hotKeys.head}", 200L, false),
      (hotKeys(1), null.asInstanceOf[String], 200L, true)))
    // batch 3: resurrect the tombstoned key under a new term
    writeFile(Seq((hotKeys(1), s"z${hotKeys(1)}", 300L, false)))

    def stream() = spark.readStream.schema(ddl)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val indexFn = array(substring(col("value"), 1, 1))

    // incremental path, with per-batch evidence
    val stats = scala.collection.mutable.ArrayBuffer.empty[ChangelogStream.BucketBatchStats]
    ChangelogStream.maintainIndexedBucketed(stream(), Seq("key"), "ts_us",
        indexFn, s"$root/bt", s"$root/bidx", s"$root/bckpt",
        numBuckets = NumBuckets, stats = Some(stats))
      .start().awaitTermination()

    // reference: the full re-derivation, batch compaction of the replayed log
    val replayedTable = graft.core.Changelog.compact(spark.read.parquet(in),
      Seq("key"), "ts_us")

    def canonT(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "value", "ts_us", "tombstone").orderBy("key")
        .as[(Int, String, Long, Boolean)].collect().toSeq
    def canonI(df: org.apache.spark.sql.DataFrame) =
      df.select("index_key", "key").orderBy("index_key", "key")
        .as[(String, Int)].collect().toSeq

    // (a) table and index ≡ the full re-derivation
    canonT(BucketedStore.read(spark, s"$root/bt").get) shouldBe canonT(replayedTable)
    val idx = canonI(BucketedStore.read(spark, s"$root/bidx").get)
    idx shouldBe canonI(graft.state.SecondaryIndex.build(
      replayedTable.filter(!col("tombstone")), Seq("key"), indexFn))
    // term move applied: the seed x-term of the updated key is gone
    idx.filter(_._2 == hotKeys.head).map(_._1) shouldBe Seq("y")
    // one manifest names every live generation of table and index — the
    // staging subdirs it names survived the per-batch sweeps, and nothing
    // it does not name is left
    val m = BucketedStore.manifest(s"$root/bt").get
    BucketedStore.manifest(s"$root/bidx") shouldBe Some(m)
    for (store <- Seq(s"$root/bt", s"$root/bidx")) {
      m.gens(store).keySet shouldBe (0 until NumBuckets).toSet
      m.gens(store).values.foreach(g => new java.io.File(g).isDirectory shouldBe true)
      new java.io.File(store).list().filter(_.startsWith(".staging-")).map(n => s"$store/$n")
        .toSet shouldBe m.gens(store).values.map(g => g.substring(0, g.lastIndexOf('/'))).toSet
    }

    // (b) the drain really was multi-batch, and batches 2/3 read back only
    // the hot bucket — strictly less than the table
    stats.size shouldBe 3
    val tail = stats.sortBy(_.batchId).drop(1)
    tail.foreach { s =>
      s.touchedBuckets shouldBe 1
      s.existingRowsRead should be < s.tableRowsTotal
      // touched-bucket read ≈ that bucket's keys, nowhere near the table
      s.existingRowsRead should be <= (hotKeys.size + 1).toLong
    }
    stats.head.touchedBuckets shouldBe NumBuckets // the seed batch hits all
  }

  "materializeLatestBucketed" should "equal Changelog.compact of the replayed log across a restart" in {
    val root = Files.createTempDirectory("graft-bstore3").toFile.getAbsolutePath
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    def drain(): Unit =
      ChangelogStream.materializeLatestBucketed(
          spark.readStream.schema(ddl).parquet(in), Seq("key"), "ts_us",
          s"$root/bt", s"$root/bckpt", numBuckets = NumBuckets)
        .start().awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "value", "ts_us", "tombstone").orderBy("key")
        .as[(Int, String, Long, Boolean)].collect().toSeq
    def replayed =
      canon(graft.core.Changelog.compact(spark.read.parquet(in), Seq("key"), "ts_us"))

    Seq((1, "a1", 100L, false), (2, "b1", 100L, false))
      .toDF("key", "value", "ts_us", "tombstone")
      .coalesce(1).write.mode("append").parquet(in)
    drain()
    canon(BucketedStore.read(spark, s"$root/bt").get) shouldBe replayed

    // restart with an update + insert on the same checkpoint
    Seq((1, "a2", 200L, false), (3, "c1", 150L, false))
      .toDF("key", "value", "ts_us", "tombstone")
      .coalesce(1).write.mode("append").parquet(in)
    drain()
    val got = canon(BucketedStore.read(spark, s"$root/bt").get)
    got shouldBe replayed
    got.map(r => (r._1, r._2)) shouldBe Seq((1, "a2"), (2, "b1"), (3, "c1"))

    // routed point lookup: right row, and the scan touches ONE bucket —
    // key 1's committed generation
    BucketedStore.manifest(s"$root/bt").map(_.arity) shouldBe Some(NumBuckets)
    val pl = BucketedStore.pointLookup(spark, s"$root/bt", Seq("key"), Seq(1))
    pl shouldBe defined
    pl.get.select("key", "value").as[(Int, String)].collect().toSeq shouldBe
      Seq((1, "a2"))
    scannedDir(pl.get) shouldBe
      BucketedStore.manifest(s"$root/bt").get.gens(s"$root/bt")(bucketOf(Seq(1))(1))
  }

  "BucketedStore.read" should "swap a fully-tombstoned bucket's index to empty (stale postings vanish)" in {
    val root = Files.createTempDirectory("graft-bstore2").toFile.getAbsolutePath
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val keys = (1 to 20).toSeq
    val bmap = bucketOf(keys)
    val hotBucket = bmap(keys.head)
    val hotKeys = keys.filter(bmap(_) == hotBucket)

    Seq(keys.map(k => (k, s"x$k", 100L, false)),
      hotKeys.map(k => (k, null.asInstanceOf[String], 200L, true)))
      .foreach(_.toDF("key", "value", "ts_us", "tombstone")
        .coalesce(1).write.mode("append").parquet(in))

    ChangelogStream.maintainIndexedBucketed(
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", "1").parquet(in),
        Seq("key"), "ts_us", array(substring(col("value"), 1, 1)),
        s"$root/bt", s"$root/bidx", s"$root/bckpt", numBuckets = NumBuckets)
      .start().awaitTermination()

    val idxKeys = BucketedStore.read(spark, s"$root/bidx").get
      .select("key").as[Int].collect().toSet
    idxKeys.intersect(hotKeys.toSet) shouldBe Set.empty // de-indexed
    idxKeys shouldBe keys.toSet.diff(hotKeys.toSet)     // others intact
    // the table still carries the tombstone rows (changelog semantics)
    BucketedStore.read(spark, s"$root/bt").get.count() shouldBe keys.size.toLong
  }

  "routed reads interleaved with batches" should "each see exactly the post-swap generation, including during the crash window (r13 verdict #5)" in {
    val root = Files.createTempDirectory("graft-bstore5").toFile.getAbsolutePath
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    val t = s"$root/t"

    def drain(): Unit =
      ChangelogStream.materializeLatestBucketed(
          spark.readStream.schema(ddl).parquet(in), Seq("key"), "ts_us",
          t, s"$root/ckpt", numBuckets = NumBuckets)
        .start().awaitTermination()
    val bucket = bucketOf(Seq(7))(7)
    def serve(k: Int): String = {
      // the w37/Gateway read path: driver-routed single-bucket scan of the
      // bucket's committed generation — the same bucket every generation
      val df = BucketedStore.pointLookup(spark, t, Seq("key"), Seq(k)).get
      scannedDir(df) shouldBe BucketedStore.manifest(t).get.gens(t)(bucket)
      df.select("value").as[String].head()
    }

    // generation 1
    Seq((7, "g1", 100L, false)).toDF("key", "value", "ts_us", "tombstone")
      .coalesce(1).write.mode("append").parquet(in)
    drain()
    serve(7) shouldBe "g1"

    // generation 2: a read taken AFTER the next drain sees the new value
    // through the same route (concurrent-reader guarantee across swaps)
    Thread.sleep(20)
    Seq((7, "g2", 200L, false)).toDF("key", "value", "ts_us", "tombstone")
      .coalesce(1).write.mode("append").parquet(in)
    drain()
    serve(7) shouldBe "g2"

    // generation 3
    Thread.sleep(20)
    Seq((7, "g3", 300L, false)).toDF("key", "value", "ts_us", "tombstone")
      .coalesce(1).write.mode("append").parquet(in)
    drain()
    serve(7) shouldBe "g3"

    // a read DURING the crash window (a writer's next generation fully
    // staged, pointer never flipped): the routed read serves the last
    // COMMITTED generation, never the uncommitted one
    Seq((7, "uncommitted", 400L, false)).toDF("key", "value", "ts_us", "tombstone")
      .write.parquet(s"$t/.staging-99-crashed/__b=$bucket")
    serve(7) shouldBe "g3"
  }
}

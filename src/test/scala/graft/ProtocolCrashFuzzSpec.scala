package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.state.SecondaryIndex
import graft.streaming.{BucketCache, BucketedStore, LocalFs, StoreFs}
import org.apache.spark.sql.functions._

/** EXHAUSTIVE crash-point fuzz over the table commits (r14 — generalizing
  * the hand-picked windows of StoreFsSpec): a [[CrashFs]] wrapper throws at
  * the k-th metadata MUTATION (delete/writeString — reads don't
  * advance the clock), and the spec iterates k over EVERY index a full
  * batch performs, so every between-steps crash window the protocol has is
  * visited, not just the ones someone thought of. After each injected
  * crash:
  *
  *   1. ATOMICITY — the bucketed store's table AND its index read exactly
  *      as after the previous batch, or both exactly as after the crashed
  *      one: a batch commits with one manifest flip, so no crash point
  *      mixes buckets of two batches, or a table of one batch with an
  *      index of the other;
  *   2. HEALING — re-running the same batch cleanly converges the store
  *      to the NEW content (idempotency).
  *
  * The fuzz runs on two store shapes, one test each: four buckets with an
  * index, and one bucket with no index rewritten whole (GraphStream's
  * components, Changelog.vacuum and compactFiles). Data writes
  * (Spark parquet) are outside the seam; a crash during a FIRST attempt's
  * data write is equivalent to k=0 (nothing committed). A batch RE-RUN's
  * data write is NOT (r14 advice, high): the previous attempt's committed
  * generations live inside its staging dirs, so the re-run must never
  * overwrite them — the second fuzz drives every crash point of a re-run
  * after a maximally-committed first crash. */
class ProtocolCrashFuzzSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash extends RuntimeException("injected crash")

  /** Counts metadata mutations; throws once the budget is exceeded.
    * failAfter = Int.MaxValue also serves as the op counter. */
  private final class CrashFs(delegate: StoreFs, failAfter: Int) extends StoreFs {
    var ops = 0
    private def step(): Unit = { ops += 1; if (ops > failAfter) throw new Crash }
    override def listNames(dir: String): Seq[String] = delegate.listNames(dir)
    override def readString(path: String): Option[String] = delegate.readString(path)
    override def deleteRecursively(path: String): Unit = {
      step(); delegate.deleteRecursively(path)
    }
    override def writeString(path: String, content: String): Unit = {
      step(); delegate.writeString(path, content)
    }
  }

  private val NumBuckets = 4

  /** One batch in one commit: `rows` as every bucket of table `root/t`
    * and their index (term = value) in `root/i`; with `oneBucket`, `rows`
    * as the one bucket of an unindexed `root/t`, rewritten whole. */
  private def writeBatch(
      root: String,
      rows: Seq[(Int, String)],
      batchId: Long,
      fs: StoreFs,
      oneBucket: Boolean = false): Unit = {
    val t = rows.toDF("key", "value")
    if (oneBucket)
      BucketedStore.writeBuckets(t, lit(0), s"$root/t", Seq(0), batchId, arity = 1, fs)
    else
      BucketedStore.writeBuckets(t, BucketedStore.bucketCol(Seq("key"), NumBuckets),
        s"$root/t", touched = (0 until NumBuckets).toSeq, batchId = batchId,
        arity = NumBuckets, fs = fs,
        index = Some((SecondaryIndex.build(t, Seq("key"), array(col("value"))), s"$root/i")))
  }

  /** The table (key → value) and the index (term → keys) as read back. */
  private def readState(root: String, fs: StoreFs): (Map[Int, String], Map[String, Set[Int]]) =
    (BucketedStore.read(spark, s"$root/t", fs)
      .map(_.select("key", "value").as[(Int, String)].collect().toMap)
      .getOrElse(Map.empty),
      BucketedStore.read(spark, s"$root/i", fs)
        .map(_.select("index_key", "key").as[(String, Int)].collect().toSeq
          .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap)
        .getOrElse(Map.empty))

  private val keys = (1 to 12).toSeq
  private val oldRows = keys.map(k => (k, s"old$k"))
  private val newRows = keys.map(k => (k, s"new$k"))
  private def stateOf(rows: Seq[(Int, String)], oneBucket: Boolean = false) =
    (rows.toMap, if (oneBucket) Map.empty else rows.map { case (k, v) => v -> Set(k) }.toMap)

  /** Crash batch 2 after each of its k store mutations, then check the
    * store reads as batch 1 or batch 2 whole, and that re-running batch 2
    * converges to batch 2. */
  private def fuzzEveryCrashPoint(oneBucket: Boolean): Unit = {
    val base: StoreFs = LocalFs
    // total mutations of batch 2 alone
    val proto = Files.createTempDirectory("fz-probe").toFile.getAbsolutePath
    writeBatch(proto, oldRows, 1L, base, oneBucket)
    val counter = new CrashFs(base, Int.MaxValue)
    writeBatch(proto, newRows, 2L, counter, oneBucket)
    val batchOps = counter.ops
    batchOps should be > 3

    val (before, after) = (stateOf(oldRows, oneBucket), stateOf(newRows, oneBucket))
    val seen = for (k <- 0 until batchOps) yield {
      val root = Files.createTempDirectory(s"fz-$k").toFile.getAbsolutePath
      writeBatch(root, oldRows, 1L, base, oneBucket)
      intercept[Crash] { writeBatch(root, newRows, 2L, new CrashFs(base, k), oneBucket) }

      // 1. batch atomicity, read through the CLEAN fs
      val state = readState(root, base)
      withClue(s"k=$k table or index torn: $state ") {
        Set(before, after) should contain(state)
      }

      // 2. healing: the checkpointed batch re-runs and converges to NEW
      writeBatch(root, newRows, 2L, base, oneBucket)
      readState(root, base) shouldBe after
      state == after
    }
    // the fuzz visited both sides of the one commit point
    seen.toSet shouldBe Set(false, true)
  }

  "the manifest protocol" should "be batch-atomic over table and index and re-run-healable at EVERY crash point" in {
    keys.map(k => BucketedStore.bucketOf(Seq(k), NumBuckets)).toSet should have size
      NumBuckets.toLong
    fuzzEveryCrashPoint(oneBucket = false)
  }

  it should "survive every crash point of a batch RE-RUN after a maximally-committed first crash" in {
    // the destructive-overwrite class (r14 advice, high): the first attempt
    // of batch 2 crashes at its LAST metadata mutation — its manifest is
    // live and names `.staging-2-<uuid>/__b=i` in table and index. The
    // re-run stages to its own uniquely named dirs (never overwriting the
    // named stagings), so at every crash point j of the re-run the store
    // reads exactly OLD or NEW, table and index together — no window
    // leaves the live manifest naming a deleted staging.
    val base: StoreFs = LocalFs

    def firstCrashOps(root: String): Int = {
      writeBatch(root, oldRows, 1L, base)
      val counter = new CrashFs(base, Int.MaxValue)
      writeBatch(root, newRows, 2L, counter)
      counter.ops
    }
    val proto = Files.createTempDirectory("fz-rerun-probe").toFile.getAbsolutePath
    val batchOps = firstCrashOps(proto)

    def crashedFirstAttempt(root: String): Unit = {
      writeBatch(root, oldRows, 1L, base)
      intercept[Crash] {
        writeBatch(root, newRows, 2L, new CrashFs(base, batchOps - 1))
      }
    }
    // re-run mutation budget (on a tree shaped by the crashed first attempt)
    val proto2 = Files.createTempDirectory("fz-rerun-probe2").toFile.getAbsolutePath
    crashedFirstAttempt(proto2)
    val counter2 = new CrashFs(base, Int.MaxValue)
    writeBatch(proto2, newRows, 2L, counter2)
    val rerunOps = counter2.ops
    rerunOps should be > 3

    for (j <- 0 until rerunOps) {
      val root = Files.createTempDirectory(s"fz-rerun-$j").toFile.getAbsolutePath
      crashedFirstAttempt(root)
      intercept[Crash] { writeBatch(root, newRows, 2L, new CrashFs(base, j)) }
      val state = readState(root, base)
      withClue(s"re-run j=$j table or index torn/lost: $state ") {
        Set(stateOf(oldRows), stateOf(newRows)) should contain(state)
      }
      // a third run converges
      writeBatch(root, newRows, 2L, base)
      readState(root, base) shouldBe stateOf(newRows)
    }
  }

  "the bucketed writer" should "flip exactly one pointer per batch, indexed or not, and write no per-bucket pointer" in {
    val ddl = "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN"
    for (index <- Seq(None, Some(split(col("value"), " ")))) {
      val s = new StreamedStore(spark, ddl, Seq("key"), NumBuckets, new BucketCache(1L << 26), index)
      s.append(keys.map(k => (k, s"a$k", 100L, false)).toDF("key", "value", "ts_us", "tombstone"))
      s.drain()
      val writes = scala.collection.mutable.ArrayBuffer.empty[String]
      val fs = new ForwardingFs {
        override def writeString(path: String, content: String): Unit = {
          writes += path; super.writeString(path, content)
        }
      }
      s.append(Seq((1, "b", 200L, false), (2, null, 200L, true), (5, "c d", 200L, false))
        .toDF("key", "value", "ts_us", "tombstone"))
      s.drain(fs)
      withClue(s"index=${index.isDefined}: $writes ") {
        // the new manifest, then the one pointer that names it
        writes.map(p => p.substring(p.lastIndexOf('/') + 1).takeWhile(_ != '-')) shouldBe
          Seq("_manifest", "_manifest.ptr")
      }
      val files = Files.walk(java.nio.file.Paths.get(s.root))
      try files.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n == ".buckets" || n.matches("b\\d+\\.ptr")).toSeq shouldBe empty
      finally files.close()
    }
  }

  "a one-bucket unindexed table rewritten whole" should "be left exactly OLD or exactly NEW at every crash point" in {
    fuzzEveryCrashPoint(oneBucket = true)
  }
}

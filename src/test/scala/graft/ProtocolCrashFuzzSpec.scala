package graft

import java.nio.file.Files

import graft.streaming.{AtomicSwap, BucketedStore, LocalFs, StoreFs}

/** EXHAUSTIVE crash-point fuzz over the pointer-file table commit (r14 —
  * generalizing the hand-picked windows of StoreFsSpec): a [[CrashFs]]
  * wrapper throws at the k-th metadata MUTATION
  * (delete/writeString/mkdirs — reads don't advance the clock),
  * and the spec iterates k over EVERY index a full batch performs, so
  * every between-steps crash window the protocol has is visited, not
  * just the ones someone thought of. After each injected crash:
  *
  *   1. ATOMICITY — each bucket's readable table equals its OLD content
  *      or its NEW content, never a torn/other state (a crash between
  *      bucket commits may legally mix old and new ACROSS buckets — the
  *      documented contract; the checkpointed batch re-runs);
  *   2. HEALING — re-running the same batch cleanly converges the whole
  *      table to the NEW content (idempotency).
  *
  * The single-table AtomicSwap.swap is fuzzed the same way with the
  * stronger whole-table old-XOR-new assertion. Data writes (Spark
  * parquet) are outside the seam; a crash during a FIRST attempt's data
  * write is equivalent to k=0 (nothing committed). A batch RE-RUN's data
  * write is NOT (r14 advice, high): the previous attempt's committed
  * generations live inside its staging dir,
  * so the re-run must never overwrite it — the third fuzz drives every
  * crash point of a re-run after a maximally-committed first crash and
  * asserts no window dangles a bucket pointer. */
class ProtocolCrashFuzzSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash extends RuntimeException("injected crash")

  /** Counts metadata mutations; throws once the budget is exceeded.
    * failAfter = Int.MaxValue also serves as the op counter. */
  private final class CrashFs(delegate: StoreFs, failAfter: Int) extends StoreFs {
    var ops = 0
    private def step(): Unit = { ops += 1; if (ops > failAfter) throw new Crash }
    override def listNames(dir: String): Seq[String] = delegate.listNames(dir)
    override def exists(path: String): Boolean = delegate.exists(path)
    override def isDir(path: String): Boolean = delegate.isDir(path)
    override def readString(path: String): Option[String] = delegate.readString(path)
    override def deleteRecursively(path: String): Unit = {
      step(); delegate.deleteRecursively(path)
    }
    override def mkdirs(path: String): Unit = { step(); delegate.mkdirs(path) }
    override def writeString(path: String, content: String): Unit = {
      step(); delegate.writeString(path, content)
    }
  }

  private val NumBuckets = 4

  private def writeBatch(
      root: String,
      rows: Seq[(Int, String)],
      batchId: Long,
      fs: StoreFs): Unit =
    BucketedStore.writeBuckets(rows.toDF("key", "value"),
      BucketedStore.bucketCol(Seq("key"), NumBuckets), root,
      touched = (0 until NumBuckets).toSeq, batchId = batchId,
      arity = NumBuckets, fs = fs)

  private def readState(root: String, fs: StoreFs): Map[Int, String] =
    BucketedStore.read(spark, root, fs)
      .map(_.select("key", "value").as[(Int, String)].collect().toMap)
      .getOrElse(Map.empty)

  private def bucketOf(k: Int): Int =
    Seq(k).toDF("key")
      .select(BucketedStore.bucketCol(Seq("key"), NumBuckets)).as[Int].head()

  "the manifest protocol" should "be per-bucket atomic and re-run-healable at EVERY crash point" in {
    val base: StoreFs = LocalFs
    val keys = (1 to 12).toSeq
    keys.map(bucketOf).toSet should have size NumBuckets.toLong.toInt
    val oldRows = keys.map(k => (k, s"old$k"))
    val newRows = keys.map(k => (k, s"new$k"))
    val byBucket: Map[Int, Seq[Int]] = keys.groupBy(bucketOf)

    // total mutations of batch 2 alone
    val proto = Files.createTempDirectory("fz-probe").toFile.getAbsolutePath
    writeBatch(proto, oldRows, 1L, base)
    val counter = new CrashFs(base, Int.MaxValue)
    writeBatch(proto, newRows, 2L, counter)
    val batchOps = counter.ops
    batchOps should be > 3

    var mixedSeen = false
    for (k <- 0 until batchOps) {
      val root = Files.createTempDirectory(s"fz-$k").toFile.getAbsolutePath
      writeBatch(root, oldRows, 1L, base)
      intercept[Crash] { writeBatch(root, newRows, 2L, new CrashFs(base, k)) }

      // 1. per-bucket atomicity, read through the CLEAN fs
      val state = readState(root, base)
      val bucketStates = byBucket.map { case (b, bk) =>
        val got = bk.map(kk => kk -> state.get(kk)).toMap
        val isOld = bk.forall(kk => got(kk).contains(s"old$kk"))
        val isNew = bk.forall(kk => got(kk).contains(s"new$kk"))
        withClue(s"k=$k bucket $b torn: $got ") {
          isOld || isNew shouldBe true
        }
        isNew
      }
      if (bucketStates.exists(identity) && bucketStates.exists(!_)) mixedSeen = true

      // 2. healing: the checkpointed batch re-runs and converges to NEW
      writeBatch(root, newRows, 2L, base)
      readState(root, base) shouldBe newRows.toMap
    }
    // the fuzz actually exercised the interesting region: some crash
    // points left a legal mixed-generation table that the re-run healed
    withClue("no crash point produced a mixed state — " +
      "the sweep is not visiting the between-bucket windows ") {
      mixedSeen shouldBe true
    }
  }

  it should "survive every crash point of a batch RE-RUN after a maximally-committed first crash" in {
    // the destructive-overwrite class (r14 advice, high): the first attempt
    // of batch 2 crashes at its LAST metadata mutation — every bucket
    // pointer it managed to flip targets `.staging-2-<uuid>/__b=i`. The
    // re-run stages to its own uniquely named dir (never overwriting the
    // referenced staging), so at every crash point j of the re-run each bucket still
    // reads exactly OLD or NEW — no window dangles a pointer into a
    // deleted staging (the old code's silent-loss window).
    val base: StoreFs = LocalFs
    val keys = (1 to 12).toSeq
    val oldRows = keys.map(k => (k, s"old$k"))
    val newRows = keys.map(k => (k, s"new$k"))
    val byBucket: Map[Int, Seq[Int]] = keys.groupBy(bucketOf)

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
      byBucket.foreach { case (b, bk) =>
        val got = bk.map(kk => kk -> state.get(kk)).toMap
        val isOld = bk.forall(kk => got(kk).contains(s"old$kk"))
        val isNew = bk.forall(kk => got(kk).contains(s"new$kk"))
        withClue(s"re-run j=$j bucket $b torn/lost: $got ") {
          isOld || isNew shouldBe true
        }
      }
      // a third run converges
      writeBatch(root, newRows, 2L, base)
      readState(root, base) shouldBe newRows.toMap
    }
  }

  "AtomicSwap.swap" should "leave the table exactly OLD or exactly NEW at every crash point" in {
    val proto = Files.createTempDirectory("fzs-probe").toFile.getAbsolutePath
    AtomicSwap.swap(Seq("A").toDF("v"), s"$proto/t", 1L)
    val counter = new CrashFs(LocalFs, Int.MaxValue)
    AtomicSwap.swap(Seq("B").toDF("v"), s"$proto/t", 2L, counter)
    val batchOps = counter.ops
    batchOps should be > 1
    for (k <- 0 until batchOps) {
      val root = Files.createTempDirectory(s"fzs-$k").toFile.getAbsolutePath
      val t = s"$root/t"
      AtomicSwap.swap(Seq("A").toDF("v"), t, 1L)
      intercept[Crash] {
        AtomicSwap.swap(Seq("B").toDF("v"), t, 2L, new CrashFs(LocalFs, k))
      }
      val table = AtomicSwap.read(spark, t)
      withClue(s"k=$k: table unreadable after crash ") {
        table shouldBe defined
      }
      val v = table.get.as[String].head()
      withClue(s"k=$k: ") { Set("A", "B") should contain(v) }
      // healing
      AtomicSwap.swap(Seq("B").toDF("v"), t, 2L)
      AtomicSwap.read(spark, t).get.as[String].head() shouldBe "B"
    }
  }
}

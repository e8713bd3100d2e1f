package graft

import java.io.File
import java.nio.file.Files

import graft.streaming.{BucketCache, BucketedStore, LocalFs, StoreFs}
import org.apache.spark.sql.functions.lit

/** The pointer-file (manifest) table commit over the [[StoreFs]] seam
  * (r13 verdict #1): the crash windows of the one commit protocol, shown on
  * a one-bucket store rewritten whole (the shape of GraphStream's
  * components and Changelog.vacuum), the passive read, and the bucketed
  * store's metadata guards. The seam has no rename, so no commit can issue
  * one — the protocol needs nothing an object store (S3 model: rename is
  * copy+delete, never atomic) lacks. (Spark's parquet data writes go
  * through Hadoop, outside the seam — on a real object store that's the
  * cloud committer's job.) */
class StoreFsSpec extends SparkSpec {
  import spark.implicits._

  private final class Crash extends RuntimeException("injected crash")

  /** Commits `v` as the whole content of the one-bucket store `t`. */
  private def write(t: String, v: String, batchId: Long, fs: StoreFs = LocalFs): Unit =
    BucketedStore.writeBuckets(Seq(v).toDF("v"), lit(0), t, Seq(0), batchId, arity = 1, fs)
  private def readV(t: String, fs: StoreFs = LocalFs): String = {
    val df = BucketedStore.read(spark, t, fs)
    df shouldBe defined
    df.get.as[String].head()
  }
  private def names(t: String): Seq[String] = new File(t).listFiles().map(_.getName).sorted.toSeq

  /** A write of `v` that crashes at the pointer flip (`op = "write"`: the
    * staging and the new manifest are on disk) or at the first delete
    * after the flip (`op = "delete"`). */
  private def crashedWrite(t: String, v: String, batchId: Long, op: String): Unit = {
    val fs = new ForwardingFs {
      override protected def before(o: String, path: String): Unit =
        if (o == op && (op != "write" || path == BucketedStore.pointer(t))) throw new Crash
    }
    intercept[Crash](write(t, v, batchId, fs))
  }

  /** `t` holds exactly the pointer, the manifest it names and that
    * manifest's one staging, all written by batch `batchId`. */
  private def onlyLive(t: String, batchId: Long): Unit = {
    val ns = names(t)
    ns should have size 3
    ns(0) should startWith(s".staging-$batchId-")
    ns(1) should startWith(s"_manifest-$batchId-")
    ns(2) shouldBe "_manifest.ptr"
    LocalFs.readString(BucketedStore.pointer(t)) shouldBe Some(s"$t/${ns(1)}")
  }

  /** Fails on any metadata mutation: reads must be passive. */
  private final class NoMutationFs extends ForwardingFs {
    override protected def before(op: String, path: String): Unit =
      if (op == "delete" || op == "write")
        throw new IllegalStateException(s"a read issued a mutation: $op $path")
  }

  "manifest swap" should "replace the table content and sweep the superseded generation, never renaming" in {
    val t = Files.createTempDirectory("mfs1").toFile.getAbsolutePath
    write(t, "v1", batchId = 1)
    readV(t) shouldBe "v1"
    write(t, "v2", batchId = 2)
    readV(t) shouldBe "v2"
    // batch 1's staging and manifest deleted at commit
    onlyLive(t, batchId = 2)
  }

  it should "leave the OLD generation live when a crash hits before the pointer flip, and sweep the orphan" in {
    val t = Files.createTempDirectory("mfs2").toFile.getAbsolutePath
    write(t, "v1", batchId = 1)
    // the crash window: new staging and manifest fully written, pointer
    // never flipped
    crashedWrite(t, "v2-uncommitted", batchId = 9, op = "write")
    names(t).count(_.startsWith(".staging-")) shouldBe 2
    readV(t) shouldBe "v1" // prior state intact, nothing lost
    // the writer is the recovery entry: its next commit sweeps the orphan
    write(t, "v3", batchId = 3)
    readV(t) shouldBe "v3"
    onlyLive(t, batchId = 3)
  }

  it should "serve the NEW generation when a crash hits after the flip but before the old delete" in {
    val t = Files.createTempDirectory("mfs3").toFile.getAbsolutePath
    write(t, "v1", batchId = 1)
    crashedWrite(t, "v2", batchId = 2, op = "delete")
    readV(t, new NoMutationFs) shouldBe "v2"
    // the read is passive: the superseded generation stays until the next
    // commit sweeps it (a read-side sweep could delete a concurrent
    // writer's not-yet-committed staging)
    names(t).count(_.startsWith(".staging-")) shouldBe 2
    names(t).count(_.startsWith("_manifest-")) shouldBe 2
    write(t, "v3", batchId = 3)
    onlyLive(t, batchId = 3)
  }

  it should "report a never-committed table as unrecoverable and sweep uncommitted generations on recover" in {
    val t = Files.createTempDirectory("mfs4").toFile.getAbsolutePath
    BucketedStore.read(spark, t) shouldBe None
    // a crashed first attempt leaves a staging and a manifest no pointer
    // names: a passive read leaves them (forensics/writer-race safety),
    // the first commit sweeps them
    crashedWrite(t, "junk", batchId = 3, op = "write")
    BucketedStore.read(spark, t, new NoMutationFs) shouldBe None
    names(t).count(_.startsWith(".staging-")) shouldBe 1
    write(t, "v1", batchId = 1)
    readV(t) shouldBe "v1"
    onlyLive(t, batchId = 1)
  }

  it should "resolve with ZERO metadata mutations (passive reads)" in {
    // a reader concurrent with the single writer must never delete the
    // writer's fully-written-but-not-yet-committed staging (r14 advice,
    // medium): any mutation issued by a read throws here
    val t = Files.createTempDirectory("mfs-passive").toFile.getAbsolutePath
    write(t, "v1", batchId = 1)
    crashedWrite(t, "in-flight", batchId = 7, op = "write") // writer mid-commit
    val before = names(t)
    BucketedStore.manifest(t, new NoMutationFs) shouldBe defined
    readV(t, new NoMutationFs) shouldBe "v1"
    new BucketCache(1L << 20).committed(t, new NoMutationFs)(_.gens(t).keySet) shouldBe Some(Set(0))
    names(t) shouldBe before // the in-flight staging survived the reads
  }

  it should "not sweep data when the pointer's target is missing (forensics, not destruction)" in {
    val t = Files.createTempDirectory("mfs5").toFile.getAbsolutePath
    write(t, "v1", batchId = 1)
    LocalFs.writeString(BucketedStore.pointer(t), s"$t/_manifest-99-gone") // dangling pointer
    val before = names(t)
    an[IllegalStateException] should be thrownBy BucketedStore.read(spark, t)
    // the writer refuses before it stages, sweeps or writes anything
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val fs = new ForwardingFs {
      override protected def before(op: String, path: String): Unit = calls += op
    }
    an[IllegalStateException] should be thrownBy write(t, "v2", batchId = 2, fs)
    calls.toSet shouldBe Set("read")
    names(t) shouldBe before // left in place
  }

  "writeBuckets" should "refuse a bucket-count mismatch against the persisted arity" in {
    val root = Files.createTempDirectory("mfs7").toFile.getAbsolutePath
    val df = Seq((1, "a")).toDF("key", "value")
    val bexpr = BucketedStore.bucketCol(Seq("key"), 4)
    BucketedStore.writeBuckets(df, bexpr, root, Seq(0, 1, 2, 3), 0L, arity = 4)
    the[IllegalArgumentException] thrownBy {
      BucketedStore.writeBuckets(df, bexpr, root, Seq(0), 1L, arity = 8)
    } should have message
      ("requirement failed: bucket-count mismatch for " + root +
        ": store has 4, caller passed 8 — reopening with a different arity " +
        "would corrupt routing")
  }

  "pointLookup" should "throw on a probe whose literal type differs from the stored key type" in {
    val root = Files.createTempDirectory("mfs8").toFile.getAbsolutePath
    val df = Seq((1L, "a"), (2L, "b")).toDF("key", "value") // LONG keys
    BucketedStore.writeBuckets(df, BucketedStore.bucketCol(Seq("key"), 2),
      root, Seq(0, 1), 0L, arity = 2)
    val ex = intercept[IllegalArgumentException] {
      // Int probe against a Long column: murmur3 hashes differently —
      // must fail loudly, never return a silent empty result
      BucketedStore.pointLookup(spark, root, Seq("key"), Seq(2)).get.count()
    }
    ex.getMessage should include("probe type mismatch")
    // correctly-typed probe works
    BucketedStore.pointLookup(spark, root, Seq("key"), Seq(2L))
      .get.select("value").as[String].collect().toSeq shouldBe Seq("b")

    // a mistyped probe that routes to a NEVER-WRITTEN bucket must still
    // throw (checked against any existing bucket), not silently miss
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, Murmur3Hash}
    val holey = Files.createTempDirectory("mfs9").toFile.getAbsolutePath
    val one = Seq((2L, "b")).toDF("key", "value")
    val b2 = java.lang.Math.floorMod(
      Murmur3Hash(Seq(CLit(2L)), 42).eval(null).asInstanceOf[Int], 2)
    BucketedStore.writeBuckets(one, BucketedStore.bucketCol(Seq("key"), 2),
      holey, Seq(b2), 0L, arity = 2) // the OTHER bucket is a hole
    val intToHole = (0 to 100).find(v => java.lang.Math.floorMod(
      Murmur3Hash(Seq(CLit(v)), 42).eval(null).asInstanceOf[Int], 2) != b2).get
    intercept[IllegalArgumentException] {
      BucketedStore.pointLookup(spark, holey, Seq("key"), Seq(intToHole))
    }.getMessage should include("probe type mismatch")
    // a correctly-typed probe into the hole: an empty frame of the stored
    // schema (the manifest names no files for an empty bucket)
    val longToHole = (0L to 100L).find(v => java.lang.Math.floorMod(
      Murmur3Hash(Seq(CLit(v)), 42).eval(null).asInstanceOf[Int], 2) != b2).get
    val hole = BucketedStore.pointLookup(spark, holey, Seq("key"), Seq(longToHole)).get
    hole.schema shouldBe one.schema
    hole.count() shouldBe 0L
  }
}

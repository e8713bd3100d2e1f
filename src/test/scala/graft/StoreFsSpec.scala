package graft

import java.io.File
import java.nio.file.Files

import graft.streaming.{AtomicSwap, BucketedStore, LocalFs, StoreFs}

/** The pointer-file (manifest) table commit over the [[StoreFs]] seam
  * (r13 verdict #1): the crash windows of [[AtomicSwap]]'s one protocol,
  * the passive read, and the bucketed store's metadata guards. The seam
  * has no rename, so no commit can issue one — the protocol needs nothing
  * an object store (S3 model: rename is copy+delete, never atomic) lacks.
  * (Spark's parquet data writes go through Hadoop, outside the seam — on
  * a real object store that's the cloud committer's job.) */
class StoreFsSpec extends SparkSpec {
  import spark.implicits._

  private def write(path: String, v: String): Unit =
    AtomicSwap.swap(Seq(v).toDF("v"), path, batchId = 1)
  private def readV(path: String): String = {
    val df = AtomicSwap.read(spark, path)
    df shouldBe defined
    df.get.as[String].head()
  }

  "manifest swap" should "replace the table content and sweep the superseded generation, never renaming" in {
    val root = Files.createTempDirectory("mfs1").toFile.getAbsolutePath
    val t = s"$root/table"
    write(t, "v1")
    readV(t) shouldBe "v1"
    AtomicSwap.swap(Seq("v2").toDF("v"), t, batchId = 2)
    readV(t) shouldBe "v2"
    // superseded gen-1 deleted at commit; only gen-2 + the pointer remain
    Generations.onlyLive(root, "table", batchId = 2)
  }

  it should "leave the OLD generation live when a crash hits before the pointer flip, and sweep the orphan" in {
    val root = Files.createTempDirectory("mfs2").toFile.getAbsolutePath
    val t = s"$root/table"
    write(t, "v1")
    // simulate the crash window: new generation fully written, pointer
    // never flipped
    Seq("v2-uncommitted").toDF("v").write.parquet(s"$t.gen-9")
    AtomicSwap.recover(t) shouldBe true
    readV(t) shouldBe "v1" // prior state intact, nothing lost
    Generations.onlyLive(root, "table", batchId = 1) // orphan gen-9 swept
  }

  it should "serve the NEW generation when a crash hits after the flip but before the old delete" in {
    val root = Files.createTempDirectory("mfs3").toFile.getAbsolutePath
    val t = s"$root/table"
    // both generations on disk, pointer already flipped to gen-2
    Seq("v1").toDF("v").write.parquet(s"$t.gen-1")
    Seq("v2").toDF("v").write.parquet(s"$t.gen-2")
    LocalFs.writeString(s"$t.ptr", s"$t.gen-2")
    readV(t) shouldBe "v2"
    // resolve (a READ) is passive since r15 — the superseded gen-1 stays
    // until the recovery entry sweeps it (a read-side sweep could delete
    // a concurrent writer's not-yet-committed generation)
    new File(root).listFiles().map(_.getName).sorted.toSeq shouldBe
      Seq("table.gen-1", "table.gen-2", "table.ptr")
    AtomicSwap.recover(t) shouldBe true
    new File(root).listFiles().map(_.getName).sorted.toSeq shouldBe
      Seq("table.gen-2", "table.ptr") // superseded gen-1 swept on recover
  }

  it should "report a never-committed table as unrecoverable and sweep uncommitted generations on recover" in {
    val root = Files.createTempDirectory("mfs4").toFile.getAbsolutePath
    val t = s"$root/table"
    AtomicSwap.recover(t) shouldBe false
    // a generation with no pointer is an uncommitted orphan; a passive
    // resolve leaves it (forensics/writer-race safety), recover sweeps it
    Seq("junk").toDF("v").write.parquet(s"$t.gen-3")
    AtomicSwap.resolve(t) shouldBe None
    new File(s"$t.gen-3").isDirectory shouldBe true
    AtomicSwap.recover(t) shouldBe false
    new File(root).listFiles() shouldBe empty
  }

  it should "resolve with ZERO metadata mutations (passive reads)" in {
    // a reader concurrent with the single writer must never delete the
    // writer's fully-written-but-not-yet-committed generation (r14 advice,
    // medium): any mutation issued by resolve throws here
    final class NoMutationFs(delegate: StoreFs) extends StoreFs {
      private def mutation(op: String): Nothing =
        throw new IllegalStateException(s"resolve issued a mutation: $op")
      override def listNames(dir: String): Seq[String] = delegate.listNames(dir)
      override def exists(path: String): Boolean = delegate.exists(path)
      override def readString(path: String): Option[String] = delegate.readString(path)
      override def deleteRecursively(path: String): Unit = mutation(s"delete $path")
      override def writeString(path: String, content: String): Unit =
        mutation(s"writeString $path")
    }
    // live gen + a writer's in-flight (unreferenced) gen
    val root = Files.createTempDirectory("mfs-passive").toFile.getAbsolutePath
    val t = s"$root/table"
    write(t, "v1")
    Seq("in-flight").toDF("v").write.parquet(s"$t.gen-7") // writer mid-swap
    AtomicSwap.resolve(t, new NoMutationFs(LocalFs)) shouldBe defined
    AtomicSwap.read(spark, t, new NoMutationFs(LocalFs)).get
      .as[String].head() shouldBe "v1"
    new File(s"$t.gen-7").isDirectory shouldBe true // the in-flight gen survived the read
  }

  it should "not sweep data when the pointer's target is missing (forensics, not destruction)" in {
    val root = Files.createTempDirectory("mfs5").toFile.getAbsolutePath
    val t = s"$root/table"
    Seq("v1").toDF("v").write.parquet(s"$t.gen-1")
    LocalFs.writeString(s"$t.ptr", s"$t.gen-99") // dangling pointer
    AtomicSwap.resolve(t) shouldBe None
    new File(s"$t.gen-1").isDirectory shouldBe true // left in place
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

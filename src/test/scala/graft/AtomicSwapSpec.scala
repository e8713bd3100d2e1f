package graft

import java.nio.file.Files

import graft.streaming.AtomicSwap

/** [[AtomicSwap]]'s writer-side contract: a swap leaves exactly the live
  * generation and its pointer behind, and recover reports a table that
  * was never committed. The crash windows of the pointer-file commit are
  * probed in StoreFsSpec and ProtocolCrashFuzzSpec. */
class AtomicSwapSpec extends SparkSpec {
  import spark.implicits._

  private def readV(path: String): String =
    AtomicSwap.read(spark, path).get.as[String].head()

  "swap" should "replace the table and clean up, leaving no leftovers" in {
    val root = Files.createTempDirectory("swap1").toFile.getAbsolutePath
    val t = s"$root/table"
    AtomicSwap.swap(Seq("v1").toDF("v"), t, batchId = 1)
    // a crashed writer's fully-written but never-committed generation
    Seq("v2-partial").toDF("v").write.parquet(s"$t.gen-7")
    AtomicSwap.swap(Seq("v2").toDF("v"), t, batchId = 2)
    readV(t) shouldBe "v2"
    // the superseded gen-1 and the orphan gen-7 are both gone
    Generations.onlyLive(root, "table", batchId = 2)
  }

  "recover" should "report a missing table with no backup as unrecoverable" in {
    val root = Files.createTempDirectory("swap4").toFile.getAbsolutePath
    AtomicSwap.recover(s"$root/table") shouldBe false
    AtomicSwap.read(spark, s"$root/table") shouldBe None
  }
}

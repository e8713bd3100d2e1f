package graft

import java.nio.file.Files

import graft.core.Changelog
import graft.streaming.AtomicSwap

class VacuumSpec extends SparkSpec {
  import spark.implicits._

  "Changelog.vacuum" should "rewrite a changelog to live latest-per-key records only" in {
    val root = Files.createTempDirectory("vac").toFile.getAbsolutePath
    val path = s"$root/log"
    AtomicSwap.swap(Seq(
      (1, "old", 100L, false), (1, "new", 200L, false), // superseded + live
      (2, "gone", 150L, false), (2, null.asInstanceOf[String], 250L, true), // tombstoned
      (3, "expired", 10L, false)) // beyond TTL
      .toDF("key", "value", "ts_us", "tombstone"), path, batchId = 0L)
    Changelog.vacuum(spark, path, Seq("key"), "ts_us",
      tombstoneCol = Some("tombstone"), ttlUs = Some(500L), nowUs = 600L)
    val after = AtomicSwap.read(spark, path).get.orderBy("key")
      .select("key", "value").as[(Int, String)].collect()
    after shouldBe Seq((1, "new")) // one live record; history/tombstones/expired gone
  }

  "Changelog.compactFiles" should "rewrite many small files into few, preserving data" in {
    val root = Files.createTempDirectory("cfc").toFile.getAbsolutePath
    val path = s"$root/log"
    AtomicSwap.swap(spark.range(1000).toDF("id").repartition(32), path, batchId = 0L)
    def parquetFiles = new java.io.File(AtomicSwap.resolve(path).get).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    parquetFiles should be >= 16 // genuinely fragmented before
    val parts = Changelog.compactFiles(spark, path, targetFileBytes = 1L << 30)
    parts shouldBe 1
    parquetFiles shouldBe 1
    AtomicSwap.read(spark, path).get.count() shouldBe 1000L
  }
}

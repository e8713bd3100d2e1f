package graft

import java.nio.file.Files

import graft.core.Changelog
import graft.streaming.BucketedStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** The Changelog maintenance actions over a one-bucket [[BucketedStore]]. */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  private def seed(df: DataFrame, path: String): Unit =
    BucketedStore.writeBuckets(df, lit(0), path, Seq(0), batchId = 0L, arity = 1)

  "Changelog.vacuum" should "rewrite a changelog to live latest-per-key records only" in {
    val root = Files.createTempDirectory("vac").toFile.getAbsolutePath
    val path = s"$root/log"
    seed(Seq(
      (1, "old", 100L, false), (1, "new", 200L, false), // superseded + live
      (2, "gone", 150L, false), (2, null.asInstanceOf[String], 250L, true), // tombstoned
      (3, "expired", 10L, false)) // beyond TTL
      .toDF("key", "value", "ts_us", "tombstone"), path)
    Changelog.vacuum(spark, path, Seq("key"), "ts_us",
      tombstoneCol = Some("tombstone"), ttlUs = Some(500L), nowUs = 600L)
    val after = BucketedStore.read(spark, path).get.orderBy("key")
      .select("key", "value").as[(Int, String)].collect()
    after shouldBe Seq((1, "new")) // one live record; history/tombstones/expired gone
  }

  "Changelog.compactFiles" should "rewrite many small files into few, preserving data" in {
    val root = Files.createTempDirectory("cfc").toFile.getAbsolutePath
    val path = s"$root/log"
    seed(spark.range(1000).toDF("id").repartition(32), path)
    def parquetFiles = new java.io.File(BucketedStore.manifest(path).get.gens(path)(0))
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    parquetFiles should be >= 16 // genuinely fragmented before
    val parts = Changelog.compactFiles(spark, path, targetFileBytes = 1L << 30)
    parts shouldBe 1
    parquetFiles shouldBe 1
    BucketedStore.read(spark, path).get.count() shouldBe 1000L

    // a store of another arity is refused, not rewritten into one bucket
    val wide = s"$root/wide"
    BucketedStore.writeBuckets(spark.range(10).toDF("id"), BucketedStore.bucketCol(Seq("id"), 4),
      wide, 0 until 4, batchId = 0L, arity = 4)
    the[IllegalArgumentException] thrownBy Changelog.compactFiles(spark, wide) should
      have message ("requirement failed: bucket-count mismatch for " + wide +
        ": store has 4, caller passed 1 — reopening with a different arity would corrupt routing")
  }
}

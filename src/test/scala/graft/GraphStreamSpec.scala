package graft

import java.nio.file.Files

import graft.streaming.{BucketedStore, ChangelogStream, GraphStream}

/** Port of the reference's incremental graph scenario
  * (AnalyticsSystemSpec.scala:47-101 / ApiSystemTest): connect(1,2),
  * connect(3,4) → two components; connect(2,3) → all four vertices merge
  * into component "1"; disconnect splits again. */
class GraphStreamSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "src STRING, dst STRING, ts_us BIGINT, tombstone BOOLEAN"

  "maintainComponents" should "merge and split components as edge changes stream in" in {
    val rootDir = Files.createTempDirectory("graft-gs").toFile.getAbsolutePath
    val in = s"$rootDir/in"
    new java.io.File(in).mkdirs()
    def run(): Unit = {
      GraphStream.maintainComponents(
          ChangelogStream.fromFiles(spark, in, ddl), s"$rootDir/state", s"$rootDir/ckpt")
        .start().awaitTermination()
    }
    def components(): Map[String, String] =
      BucketedStore.read(spark, s"$rootDir/state/components").get
        .as[(String, String)].collect().toMap

    // batch 1: 1-2, 3-4
    Seq(("1", "2", 100L, false), ("3", "4", 100L, false))
      .toDF("src", "dst", "ts_us", "tombstone").write.mode("append").parquet(in)
    run()
    components() shouldBe Map("1" -> "1", "2" -> "1", "3" -> "3", "4" -> "3")

    // batch 2: bridge 2-3 → single component rooted at "1"
    Seq(("2", "3", 200L, false))
      .toDF("src", "dst", "ts_us", "tombstone").write.mode("append").parquet(in)
    run()
    components() shouldBe Map("1" -> "1", "2" -> "1", "3" -> "1", "4" -> "1")

    // batch 3: disconnect the bridge (tombstone) → split back
    Seq(("2", "3", 300L, true))
      .toDF("src", "dst", "ts_us", "tombstone").write.mode("append").parquet(in)
    run()
    components() shouldBe Map("1" -> "1", "2" -> "1", "3" -> "3", "4" -> "3")
  }
}

package graft

import java.nio.file.Files

import graft.streaming.{AtomicSwap, ChangelogStream}
import org.apache.spark.sql.functions._

/** End-to-end file-backed changelog streaming: ingest → latest-per-key
  * materialization via foreachBatch (the reference's bootstrap/tail +
  * write-through path, Log.java:133-206, KVStoreLocal.put:477-513). */
class ChangelogStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schemaDdl = "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN"

  "materializeLatest" should "fold a streamed changelog into a latest-per-key table across restarts" in {
    val root = Files.createTempDirectory("graft-cls").toFile.getAbsolutePath
    val in = s"$root/in"
    val table = s"$root/table"
    val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()

    // batch 1: initial inserts
    Seq((1, "a1", 100L, false), (2, "b1", 100L, false))
      .toDF("key", "value", "ts_us", "tombstone")
      .write.mode("append").parquet(in)
    val q1 = ChangelogStream.start(ChangelogStream.materializeLatest(
      ChangelogStream.fromFiles(spark, in, schemaDdl), Seq("key"), "ts_us", table, ckpt))
    q1.awaitTermination()

    AtomicSwap.read(spark, table).get.orderBy("key")
      .select("key", "value").as[(Int, String)].collect() shouldBe
      Seq((1, "a1"), (2, "b1"))

    // batch 2 (after "restart"): update key 1, insert key 3 — same checkpoint
    Seq((1, "a2", 200L, false), (3, "c1", 150L, false))
      .toDF("key", "value", "ts_us", "tombstone")
      .write.mode("append").parquet(in)
    val q2 = ChangelogStream.start(ChangelogStream.materializeLatest(
      ChangelogStream.fromFiles(spark, in, schemaDdl), Seq("key"), "ts_us", table, ckpt))
    q2.awaitTermination()

    AtomicSwap.read(spark, table).get.orderBy("key")
      .select("key", "value").as[(Int, String)].collect() shouldBe
      Seq((1, "a2"), (2, "b1"), (3, "c1")) // last writer won; old keys kept
  }

  it should "break same-timestamp ties deterministically via tieBreakCols" in {
    val root = Files.createTempDirectory("graft-cls-tie").toFile.getAbsolutePath
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    // two updates to one key in the SAME timestamp (ms-resolution source):
    // the higher offset must win, on every rerun
    Seq((1, "older", 100L, false, 7L), (1, "newer", 100L, false, 8L))
      .toDF("key", "value", "ts_us", "tombstone", "offset")
      .write.mode("append").parquet(in)
    val q = ChangelogStream.start(ChangelogStream.materializeLatest(
      ChangelogStream.fromFiles(spark, in,
        "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN, offset BIGINT"),
      Seq("key"), "ts_us", s"$root/table", s"$root/ckpt",
      tieBreakCols = Seq("offset")))
    q.awaitTermination()
    AtomicSwap.read(spark, s"$root/table").get
      .select("value").as[String].collect() shouldBe Array("newer")
  }

  it should "drop tombstoned keys from the materialized view" in {
    val root = Files.createTempDirectory("graft-cls2").toFile.getAbsolutePath
    val in = s"$root/in"
    val table = s"$root/table"
    new java.io.File(in).mkdirs()
    Seq((1, "a1", 100L, false), (2, "b1", 100L, false), (2, null.asInstanceOf[String], 200L, true))
      .toDF("key", "value", "ts_us", "tombstone")
      .write.mode("append").parquet(in)
    val q = ChangelogStream.start(ChangelogStream.materializeLatest(
      ChangelogStream.fromFiles(spark, in, schemaDdl), Seq("key"), "ts_us", table, s"$root/ckpt"))
    q.awaitTermination()
    // materialized table keeps the tombstone record (changelog semantics);
    // the serving view filters it, mirroring compaction-then-read
    val live = graft.core.Changelog.dropTombstones(AtomicSwap.read(spark, table).get, "tombstone")
    live.select("key").as[Int].collect() shouldBe Seq(1)
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  "saltedCountSum" should "equal the unsalted groupBy exactly, including on hot keys" in {
    import graft.operators.Skew
    val rnd = new scala.util.Random(11)
    // one pathologically hot key (80% of rows) + a long tail
    val rows = (1 to 5000).map { i =>
      val k = if (rnd.nextDouble() < 0.8) 1L else rnd.nextInt(50).toLong
      (k, BigDecimal(rnd.nextInt(10000)) / 100)
    }.map { case (k, v) => (k, v.toDouble) }
    val df = rows.toDF("k", "v")
    val salted = Skew.saltedCountSum(df, Seq("k"), "v", saltBuckets = 16)
      .orderBy("k").as[(Long, Long, Double)].collect()
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(18,2)")).cast("double").as("s"))
      .orderBy("k").as[(Long, Long, Double)].collect()
    salted shouldBe plain
  }

  "saltedJoin" should "be row-identical to the plain equi-join on skewed keys" in {
    import graft.operators.Skew
    val rnd = new scala.util.Random(7)
    val large = (1 to 4000).map { i =>
      val k = if (rnd.nextDouble() < 0.7) 1L else rnd.nextInt(20).toLong
      (k, i.toLong)
    }.toDF("k", "payload")
    val small = (0 to 19).map(k => (k.toLong, s"dim$k")).toDF("k", "name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "name").orderBy("k", "payload")
        .as[(Long, Long, String)].collect().toSeq
    canon(Skew.saltedJoin(large, small, Seq("k"), saltBuckets = 8)) shouldBe
      canon(large.join(small, Seq("k")))
  }
}

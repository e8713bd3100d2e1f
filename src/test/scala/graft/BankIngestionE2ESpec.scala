package graft

import java.nio.file.Files

import graft.core.TimeRange
import graft.state.KVTable
import graft.streaming.{BucketedStore, ChangelogStream}

/** Full-system flow mirroring the reference's gateway tests
  * (ExampleBankSpec): transactions stream in (changelog), state is
  * materialized continuously, and the serving queries run against the
  * materialized state — ingestion → state → query in one pipeline,
  * including an update batch that must win by event time. */
class BankIngestionE2ESpec extends SparkSpec {
  import spark.implicits._

  private val ddl =
    "sortcode STRING, account INT, txn BIGINT, amount DOUBLE, ts_us BIGINT, tombstone BOOLEAN"

  private def day(d: Int): Long =
    java.time.LocalDate.of(2018, 6, d).toEpochDay * 86400L * 1000000L

  "the bank pipeline" should "serve the reference's query results from streamed state" in {
    val root = Files.createTempDirectory("graft-bank").toFile.getAbsolutePath
    val in = s"$root/in"
    val table = s"$root/transactions"
    new java.io.File(in).mkdirs()
    def ingest(): Unit = {
      ChangelogStream.materializeLatestBucketed(
          ChangelogStream.fromFiles(spark, in, ddl),
          keyCols = Seq("sortcode", "account", "txn"), tsCol = "ts_us",
          tablePath = table, checkpoint = s"$root/ckpt", numBuckets = 4)
        .start().awaitTermination()
    }
    def state = KVTable(
      BucketedStore.read(spark, table).get,
      Seq("sortcode", "account", "txn"), "ts_us", tombstoneCol = Some("tombstone"))

    // ingest the 6-transaction fixture
    Seq(
      ("10-10-10", 1, 1L, 100.0, day(26), false),
      ("10-10-10", 1, 2L, 101.0, day(27), false),
      ("10-10-10", 1, 3L, 102.0, day(28), false),
      ("10-10-10", 2, 4L, 200.0, day(26), false),
      ("10-10-10", 2, 5L, 201.0, day(28), false),
      ("20-20-20", 3, 6L, 300.0, day(27), false))
      .toDF("sortcode", "account", "txn", "amount", "ts_us", "tombstone")
      .write.mode("append").parquet(in)
    ingest()

    state.scan(Seq("10-10-10", 1)).count() shouldBe 3
    state.scan(Seq("10-10-10")).count() shouldBe 5
    state.scan(Seq("10-10-10"), TimeRange.until(day(28))).count() shouldBe 3
    state.scan(Seq("30-30-30")).count() shouldBe 0

    // a later batch: amend txn 1 (new amount, later event time) + delete txn 6
    Seq(
      ("10-10-10", 1, 1L, 999.0, day(29), false),
      ("20-20-20", 3, 6L, 0.0, day(29), true))
      .toDF("sortcode", "account", "txn", "amount", "ts_us", "tombstone")
      .write.mode("append").parquet(in)
    ingest()

    state.get(Seq("10-10-10", 1, 1L)).select("amount").as[Double].head() shouldBe 999.0
    state.scan(Seq("20-20-20")).count() shouldBe 0 // tombstoned away
    state.scan(Seq("10-10-10")).count() shouldBe 5 // unchanged cardinality
  }
}

package graft

import java.nio.file.Files

import scala.util.Random

import graft.serving.Gateway
import graft.streaming.{BucketCache, BucketedStore, ChangelogStream, LocalFs}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end file-backed changelog streaming: ingest → latest-per-key
  * materialization via foreachBatch (the reference's bootstrap/tail +
  * write-through path, Log.java:133-206, KVStoreLocal.put:477-513), through
  * the bucketed writer — the "materializeLatest" subject names the
  * latest-per-key behaviour, which `materializeLatestBucketed` carries. */
class ChangelogStreamSpec extends SparkSpec {
  import spark.implicits._

  private val schemaDdl = "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN"

  private def materialize(in: String, ddl: String, table: String, ckpt: String,
      tieBreakCols: Seq[String] = Nil): Unit =
    ChangelogStream.materializeLatestBucketed(ChangelogStream.fromFiles(spark, in, ddl),
        Seq("key"), "ts_us", table, ckpt, numBuckets = 4, tieBreakCols = tieBreakCols)
      .start().awaitTermination()

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
    materialize(in, schemaDdl, table, ckpt)

    BucketedStore.read(spark, table).get.orderBy("key")
      .select("key", "value").as[(Int, String)].collect() shouldBe
      Seq((1, "a1"), (2, "b1"))

    // batch 2 (after "restart"): update key 1, insert key 3 — same checkpoint
    Seq((1, "a2", 200L, false), (3, "c1", 150L, false))
      .toDF("key", "value", "ts_us", "tombstone")
      .write.mode("append").parquet(in)
    materialize(in, schemaDdl, table, ckpt)

    BucketedStore.read(spark, table).get.orderBy("key")
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
    materialize(in,
      "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN, offset BIGINT",
      s"$root/table", s"$root/ckpt", tieBreakCols = Seq("offset"))
    BucketedStore.read(spark, s"$root/table").get
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
    materialize(in, schemaDdl, table, s"$root/ckpt")
    // materialized table keeps the tombstone record (changelog semantics);
    // the serving view filters it, mirroring compaction-then-read
    val all = BucketedStore.read(spark, table).get
    all.count() shouldBe 2
    val live = graft.core.Changelog.dropTombstones(all, "tombstone")
    live.select("key").as[Int].collect() shouldBe Seq(1)
  }

  it should "drain an update-mode aggregate to the batch aggregate, idempotently across re-runs" in {
    val root = Files.createTempDirectory("graft-cls-agg").toFile.getAbsolutePath
    val in = s"$root/in"
    val ddl = "user_id BIGINT, value BIGINT"
    def part(rows: (Long, Long)*): Unit = {
      rows.toDF("user_id", "value").coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(20) // distinct mtimes: the file source drains oldest-first
    }
    part((1L, 5L), (2L, 7L), (1L, 1L))
    part((3L, 2L), (1L, 4L))
    part((2L, 1L), (4L, 9L), (4L, 9L))
    val events = spark.read.schema(ddl).parquet(in)
    // the count is the recency: update mode emits a user only in a batch
    // that added events for it, so each emission's count is larger
    def drain(ckpt: String): Seq[Row] = {
      ChangelogStream.materializeLatestBucketed(
          spark.readStream.schema(ddl).option("maxFilesPerTrigger", "1").parquet(in)
            .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("s")),
          Seq("user_id"), "n", s"$root/t", s"$root/$ckpt", numBuckets = 4)
        .outputMode("update").start().awaitTermination()
      BucketedStore.read(spark, s"$root/t").get.orderBy("user_id").collect().toSeq
    }
    val batch = events.groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("s"))
      .orderBy("user_id").collect().toSeq
    drain("ckpt") shouldBe batch
    drain("ckpt") shouldBe batch // the same checkpoint: nothing left to run
    drain("ckpt2") shouldBe batch // a fresh one: every batch re-run over the table
  }
}

/** The bucketed writer's publications into the serving cache
  * ([[BucketCache.publish]]) against the files it commits: after every
  * batch of a randomized tombstoned drain, crashes and re-runs included,
  * each published entry equals the entry a fresh load of the committed
  * generation decodes, key by key and row by row. */
class BucketPublicationSpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN"

  /** Forwards to LocalFs and throws once, at the first write or delete
    * `crashAt(op, path)` picks: before the call is made, or right after a
    * write landed (op "wrote"). */
  private final class CrashOnceFs(crashAt: (String, String) => Boolean) extends ForwardingFs {
    private var armed = true
    private def step(op: String, path: String): Unit =
      if (armed && crashAt(op, path)) {
        armed = false
        throw new IllegalStateException(s"injected crash at $op $path")
      }
    override def writeString(path: String, content: String): Unit = {
      step("write", path); super.writeString(path, content); step("wrote", path)
    }
    override def deleteRecursively(path: String): Unit = {
      step("delete", path); super.deleteRecursively(path)
    }
  }

  "the bucketed writer" should "publish entries equal to the committed files on a tombstoned drain with crashes and re-runs" in {
    val rnd = new Random(29)
    val n = 8
    val kc = Seq("key")
    val cache = new BucketCache(1L << 28)
    val s = new StreamedStore(spark, ddl, kc, n, cache,
      Some(array(substring(col("value"), 1, 1))))
    val keys = 1 to 48
    // the model: latest (ts, value, tombstone) per key; timestamps never tie
    val model = scala.collection.mutable.Map.empty[Int, (Long, String, Boolean)]
    def batch(rows: Seq[(Int, String, Long, Boolean)]): Unit = {
      rows.foreach { case (k, v, ts, t) =>
        if (model.get(k).forall(_._1 < ts)) model(k) = (ts, v, t) }
      s.append(rows.toDF("key", "value", "ts_us", "tombstone"))
    }
    val route = {
      batch(keys.map(k => (k, s"a$k", 100L, false)))
      s.drain()
      new Gateway.BucketedRoute(spark, s.table, kc, LocalFs, cache)
    }
    def rows(c: BucketCache, id: Int) =
      c.committed(s.table, LocalFs)(m => c.liveRows(spark, m, s.table, id, kc, LocalFs)).get
    val buckets = 0 until n
    buckets.foreach(rows(cache, _) should not be empty)

    var dropped = cache.invalidated.get
    def check(label: String): Unit = withClue(s"$label: ") {
      val loads = cache.loads.get
      val fresh = new BucketCache(1L << 28)
      for (b <- buckets) {
        val got = rows(cache, b)
        val want = rows(fresh, b)
        got.keySet shouldBe want.keySet
        for ((k, row) <- want) {
          got(k).schema.fieldNames.toSeq shouldBe row.schema.fieldNames.toSeq
          got(k).toSeq shouldBe row.toSeq
        }
      }
      // every bucket was served from a publication, except those a
      // publication dropped
      cache.loads.get - loads shouldBe cache.invalidated.get - dropped
      dropped = cache.invalidated.get
      for (k <- keys)
        route.get(Seq(k)).map(_.getAs[String]("value")) shouldBe
          model.get(k).filterNot(_._3).map(_._2)
    }
    check("seed")

    val doomed = keys(3)
    val ptr = BucketedStore.pointer(s.table)
    for (b <- 1 to 6) {
      val base = 1000L * b
      val rows = rnd.shuffle(keys.filterNot(_ == doomed)).take(7).zipWithIndex.map {
        case (k, i) => rnd.nextInt(4) match {
          case 0 => (k, null, base + i, true)
          case 1 => (k, s"stale$b", 50L + 10 * b + i, false) // older than the seed
          case _ => (k, s"${"abc" (rnd.nextInt(3))}$b-$k", base + i, false)
        }
      }
      batch(rows ++ (b match {
        case 1 => Seq((doomed, null, base + 100, true))
        case 2 => Seq((doomed, "late", 1050L, false)) // older than the tombstone
        case _ => Nil
      }))
      b match {
        case 3 => // crash at the flip: nothing was committed or published,
          // and the re-run publishes over the same generations
          intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            s.drain(new CrashOnceFs((op, p) => op == "write" && p == ptr))
          }
          s.drain()
        case 5 => // crash right after the flip landed, before the
          // publication: the re-run finds the touched entries on neither
          // side of its own flip, and installs its own generations
          intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            s.drain(new CrashOnceFs((op, p) => op == "wrote" && p == ptr))
          }
          s.drain()
        case _ => s.drain()
      }
      check(s"batch $b")
    }
    model(doomed)._3 shouldBe true
    route.get(Seq(doomed)) shouldBe None
    cache.published.get should be > 10L
    cache.invalidated.get shouldBe 0L // the crash re-runs stayed warm too
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

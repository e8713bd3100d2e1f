package graft

import scala.collection.mutable
import scala.util.Try

import graft.serving.Gateway
import graft.state.SecondaryIndex
import graft.streaming.{BucketCache, LocalFs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One commit per batch, seen by the readers: while a batch commits, every
  * `/kv` and `/index` answer equals the store after the batch before it or
  * after it — table and index together, never one of them a batch ahead.
  * (When the table's buckets flipped before the index was written, an
  * `/index` read in between returned a row that no longer carries the
  * term it was looked up by.)
  *
  * The writer is paused at each of its `StoreFs` calls in turn and the
  * readers run there: every single preemption point of one batch, the
  * preemption-bounded schedules of CHESS (Musuvathi et al., OSDI 2008).
  * Each answer is checked against `Changelog.compact` plus
  * `SecondaryIndex.build` of the log before and after the batch. */
class BatchAtomicitySpec extends SparkSpec {
  import spark.implicits._

  private val ddl = "key INT, value STRING, ts_us BIGINT, tombstone BOOLEAN"
  private val kc = Seq("key")

  /** What the readers answer: per key its live value, per term set its
    * page of (key, value). */
  private type Answer = (Map[Int, Option[String]], Map[Seq[String], Seq[(Int, String)]])

  /** The answer of the store after `log`. */
  private def model(log: DataFrame, keys: Seq[Int], termSets: Seq[Seq[String]]): Answer = {
    val live = graft.core.Changelog.compact(log, kc, "ts_us").filter(!col("tombstone"))
    val idx = SecondaryIndex.build(live, kc, split(col("value"), " "))
    (keys.map(k => k -> live.filter(col("key") === k).select("value").as[String]
      .collect().headOption).toMap,
      termSets.map(ts => ts -> SecondaryIndex.multiLookup(idx, live, kc, ts)
        .orderBy("key").select("key", "value").as[(Int, String)].collect().toSeq).toMap)
  }

  private def answer(kv: Gateway.BucketedRoute, index: Gateway.IndexRoute,
      keys: Seq[Int], termSets: Seq[Seq[String]]): Answer =
    (keys.map(k => k -> kv.get(Seq(k)).map(_.getAs[String]("value"))).toMap,
      termSets.map(ts => ts -> index.lookup(ts)
        .map(r => (r.getAs[Int]("key"), r.getAs[String]("value")))).toMap)

  /** Drains `seed`, then drains `batch` with the readers run before every
    * `StoreFs` call the writer makes, through routes on the writer's own
    * (warm) cache and through routes on a fresh (cold) one. Every answer
    * must be the model's before or after `batch`, both must be seen, and
    * no warm `/kv` read may load: the writer publishes its table buckets
    * right after its flip. Returns the answers, by writer call. */
  private def interleaved(seed: Seq[(Int, String, Long, Boolean)],
      batch: Seq[(Int, String, Long, Boolean)], termSets: Seq[Seq[String]])
      : Seq[(String, Answer)] = {
    val keys = (seed ++ batch).map(_._1).distinct.sorted
    val cache = new BucketCache(1L << 28)
    val s = new StreamedStore(spark, ddl, kc, 4, cache, Some(split(col("value"), " ")))
    def routes(c: BucketCache) = (new Gateway.BucketedRoute(spark, s.table, kc, LocalFs, c),
      new Gateway.IndexRoute(spark, s.table, s.index, kc, fs = LocalFs, cache = c))
    s.append(seed.toDF("key", "value", "ts_us", "tombstone"))
    s.drain()
    val prior = model(spark.read.schema(ddl).parquet(s.in), keys, termSets)
    s.append(batch.toDF("key", "value", "ts_us", "tombstone"))
    val post = model(spark.read.schema(ddl).parquet(s.in), keys, termSets)
    prior should not be post
    val (kv, index) = routes(cache)
    answer(kv, index, keys, termSets) shouldBe prior // warms the cache

    // (writer call, Spark loads of the warm /kv reads, answer)
    val seen = mutable.ArrayBuffer.empty[(String, Long, Try[Answer])]
    s.drain(new ForwardingFs {
      override protected def before(op: String, path: String): Unit = {
        val loads = cache.loads.get
        val warm = Try(keys.map(k => kv.get(Seq(k))))
        seen += ((s"$op $path (warm)", cache.loads.get - loads,
          warm.map(_ => answer(kv, index, keys, termSets))))
        val (coldKv, coldIndex) = routes(new BucketCache(1L << 28))
        seen += ((s"$op $path (cold)", 0L, Try(answer(coldKv, coldIndex, keys, termSets))))
      }
    })
    seen.size should be > 4
    val answers = seen.toSeq.map { case (at, loads, a) =>
      withClue(s"at $at: ") {
        loads shouldBe 0L // the warm /kv reads all hit
        Set(prior, post) should contain(a.get)
      }
      at -> a.get
    }
    answers.map(_._2).toSet shouldBe Set(prior, post)
    answer(kv, index, keys, termSets) shouldBe post
    answers
  }

  "an /index read while a batch commits" should "never return a row without the term it was looked up by" in {
    // keys 1 ("a b") and 2 ("a"), then key 1 becomes "c": a table a batch
    // ahead of its index answered "a" with [(1, "c"), (2, "a")]
    val answers = interleaved(
      Seq((1, "a b", 100L, false), (2, "a", 100L, false)),
      Seq((1, "c", 200L, false)),
      Seq(Seq("a")))
    answers.map(_._2._2(Seq("a"))).distinct.toSet shouldBe
      Set(Seq((1, "a b"), (2, "a")), Seq((2, "a")))
  }

  "readers at every writer call of a batch" should "see table and index together at the batch before or after, warm or cold" in {
    val seed = (1 to 24).map(k => (k, s"t${k % 3} u${k % 5}", 100L, false))
    // moved terms, a tombstone, an insert, an older update that loses: the
    // batch touches several buckets of table and index
    val batch = Seq((3, "t9", 200L, false), (7, null, 200L, true), (11, "u1 t0", 200L, false),
      (25, "t1 u2", 200L, false), (13, "stale", 50L, false), (20, "t0", 200L, false))
    interleaved(seed, batch,
      Seq(Seq("t0"), Seq("t1", "u2"), Seq("u1"), Seq("t9"), Seq("stale"), Seq("u4", "t2")))
  }
}

package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Guards for the round-9 operator changes: 32-bit simhash parity
  * (codegen vs interpreted vs a direct reference fold), incrementalExact's
  * equivalence-by-construction, and itemCosine's internal
  * (user,item)-pre-aggregation contract. */
class RoundNineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def refSimhash(tokens: Seq[String], bits: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Long](32)
    tokens.foreach { t =>
      val d = md.digest(t.getBytes("UTF-8"))
      val v: Long =
        if (bits <= 16) ((d(0) & 0xffL) << 8) | (d(1) & 0xff)
        else ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xff)
      (0 until bits).foreach(b => if ((v & (1L << b)) != 0) counts(b) += 1)
    }
    (0 until bits).map(b => if (counts(b) * 2 > tokens.size) 1L << b else 0L).sum
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "the quick brown fox jumps over the lazy dog"),
    (4L, "sphinx of black quartz judge my vow"),
    (5L, "")).toDF("doc_id", "text")

  "SimHashBits" should "agree with the reference fold at 16 and 32 bits" in {
    for (bits <- Seq(16, 32)) {
      val got = Dedup.simhash(docs, "doc_id", "text", bits)
        .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = docs.orderBy("doc_id").collect().map { r =>
        val toks = r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        r.getLong(0) -> refSimhash(toks, bits)
      }.toMap
      withClue(s"bits=$bits: ") { got shouldBe want }
    }
  }

  it should "keep the 16-bit fingerprint equal to the 32-bit one's semantics, not its bits" in {
    // regression pin: the 32-bit extension must NOT have changed 16-bit
    // values (d3/d9/d15 persisted fingerprints depend on it)
    val h16 = Dedup.simhash(docs.limit(1), "doc_id", "text", 16).collect()(0).getLong(1)
    h16 shouldBe refSimhash(
      "the quick brown fox jumps over the lazy dog".split(" ").toSeq, 16)
  }

  "incrementalExact" should "equal full exact dedup on fresh-touched groups" in {
    val history = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc")).toDF("id", "text")
    val fresh = Seq((10L, "aaa"), (11L, "ddd"), (12L, "ddd")).toDF("id", "text")
    val hashes = history.select(col("id"),
      md5(graft.functions.GraftFunctions.normalizeText(col("text"))).as("content_hash"))
    val inc = Dedup.incrementalExact(hashes, fresh, "id", "text")
      .orderBy("content_hash").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val freshHashes = Set("aaa", "ddd").map(t => t) // contents of fresh docs
    val full = Dedup.exact(history.unionByName(fresh), "id", "text", minGroupSize = 2)
      .orderBy("content_hash").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every incremental group matches the full-corpus group exactly
    inc.map(t => (t._1, t._2, t._3)).toSeq shouldBe full.toSeq.filter {
      case (h, _, _) => inc.exists(_._1 == h)
    }
    // groups: "aaa" {1,3,10} keep 1 n_fresh 1; "ddd" {11,12} keep 11 n_fresh 2
    inc.map(t => (t._2, t._3, t._4)).toSeq should contain allOf ((1L, 3L, 1L), (11L, 2L, 2L))
    inc should have size 2
  }

  "itemCosine" should "sum duplicate (user,item) rows instead of double-counting" in {
    val unique = Seq(("u1", "a", 3L), ("u1", "b", 4L), ("u2", "a", 1L), ("u2", "b", 2L))
      .toDF("u", "i", "q")
    val dup = Seq(("u1", "a", 1L), ("u1", "a", 2L), ("u1", "b", 4L),
      ("u2", "a", 1L), ("u2", "b", 2L)).toDF("u", "i", "q")
    val a = Similarity.itemCosine(unique, "u", "i", "q", maxUserItems = 10L, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val b = Similarity.itemCosine(dup, "u", "i", "q", maxUserItems = 10L, k = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    a.toSeq shouldBe b.toSeq
    a.head shouldBe ((1, "a", "b", 3L * 4L + 1L * 2L))
  }

  "itemCosine's norm attach" should "broadcast up to NormBroadcastMaxRows norm rows and shuffle-hash beyond" in {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, SHUFFLE_HASH}
    val side = Seq((1L, 2L)).toDF("item_a", "na") // the attached (item, n2) row: two longs
    def strategy(nItems: Long) = Similarity.attachNorm(nItems, side).queryExecution.analyzed
      .collect { case h: ResolvedHint => h.hints.strategy }.flatten
    Similarity.NormBroadcastMaxRows shouldBe 1000000L // × 24 B rows ≈ 24 MB per broadcast
    strategy(Similarity.NormBroadcastMaxRows) shouldBe Seq(BROADCAST)
    strategy(Similarity.NormBroadcastMaxRows + 1) shouldBe Seq(SHUFFLE_HASH)
  }
}

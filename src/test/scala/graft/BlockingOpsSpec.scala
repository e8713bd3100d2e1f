package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Round-9 additions: sorted-neighborhood blocking and the ANN
  * insert-into-frozen-index path. */
class BlockingOpsSpec extends AnyFlatSpec with Matchers {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  "sortedNeighborhoodJaccard" should "find prefix-adjacent near-dups and respect the window bound" in {
    // two near-identical docs sharing a long prefix sort adjacently; the
    // far-apart doc pair (x…/z…) differs in every gram
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon zeta"),
      (2L, "en", "alpha beta gamma delta epsilon eta"),
      (3L, "en", "zulu yankee xray whiskey victor uniform"),
      (4L, "de", "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "lang", "text")
    val out = Dedup.sortedNeighborhoodJaccard(docs, "doc_id", "text",
      partitionCols = Seq("lang"), keyLen = 24, window = 4, n = 3,
      minJaccard = 0.3).collect()
    out.map(r => (r.getLong(0), r.getLong(1))) should contain((1L, 2L))
    // lang partitions the window: doc 4 (de) never pairs with 1/2 (en)
    out.map(r => (r.getLong(0), r.getLong(1))) should not contain ((1L, 4L))
  }

  it should "emit at most window pairs per doc (the O(n·w) bound)" in {
    val docs = (0L until 20L).map(i => (i, "en", s"common shared text body $i"))
      .toDF("doc_id", "lang", "text")
    val out = Dedup.sortedNeighborhoodJaccard(docs, "doc_id", "text",
      partitionCols = Seq("lang"), keyLen = 4, window = 3, n = 3,
      minJaccard = 0.0).collect()
    // 20 docs, window 3 → ≤ 20·3 pairs even though every doc shares grams
    out.length should be <= 60
    val perDoc = out.groupBy(_.getLong(0)).map(_._2.length)
    all(perDoc) should be <= 6 // as id_a via least(): own window + arrivals
  }

  it should "drop the gram-less rows of a caller-supplied gramsFrame" in {
    val docs = Seq((1L, "en", "a"), (2L, "en", "b")).toDF("doc_id", "lang", "text")
    val grams = Seq((1L, "en", "a"), (2L, "en", "b")).toDF("doc", "lang", "sk")
      .withColumn("grams", typedLit(Seq.empty[Long])).withColumn("ng", lit(0))
    Dedup.sortedNeighborhoodJaccard(docs, "doc_id", "text",
      partitionCols = Seq("lang"), keyLen = 24, window = 4, n = 3,
      minJaccard = 0.5, gramsFrame = Some(grams)).count() shouldBe 0L
  }

  "assignToIndex" should "equal full re-assignment against the same centroids" in {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(64)(dd => ((i * 7 + dd) % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
    val old = vecs.filter(col("vec_id") % 10 =!= 0)
    val (oldCells, centroids) = Similarity.ivfIndex(old, "vec_id", "embedding",
      nCentroids = 4, iterations = 3)
    val inserted = Similarity.assignToIndex(vecs.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", centroids)
    val combined = oldCells.unionByName(inserted)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    val full = Similarity.assignToIndex(vecs, "vec_id", "embedding", centroids)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    combined shouldBe full
  }
}

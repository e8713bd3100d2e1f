package graft

import graft.operators._
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  quick   Brown fox jumps over the lazy dog"), // same after normalize? no — token case only
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (4L, "completely different content here entirely unrelated words"),
    (5L, "the quick brown fox jumps over the lazy cat")) // near dup of 1
    .toDF("doc_id", "text")

  "Dedup.exact" should "group identical normalized texts under the min id" in {
    // normalization lowercases and collapses whitespace → docs 1,2,3 identical
    val g = Dedup.exact(docs, "doc_id", "text", minGroupSize = 2)
      .orderBy("keep_id").select("keep_id", "dup_count").as[(Long, Long)].collect()
    g shouldBe Seq((1L, 3L))
  }

  "Dedup.minhashLsh" should "give estimate 1.0 for identical docs and find near-dups" in {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 8, shingleSize = 3, rowsPerBand = 2, minEstimate = 0.4)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    val exactPairs = pairs.filter(_._3 == 1.0).map(p => (p._1, p._2))
    exactPairs should contain((1L, 2L)) // normalization-equal docs
    exactPairs should contain((1L, 3L))
    pairs.map(p => (p._1, p._2)) should contain((1L, 5L)) // near dup caught by banding
  }

  "Dedup.incrementalMinhashLsh" should "equal full-corpus LSH restricted to pairs with a fresh member" in {
    // generation split: odd ids are history, even ids the fresh increment
    val history = docs.filter(col("doc_id") % 2 === 1)
    val fresh = docs.filter(col("doc_id") % 2 === 0)
    val inc = Dedup.incrementalMinhashLsh(
      Dedup.bandSignatures(history, "doc_id", "text", numHashes = 8, shingleSize = 3, rowsPerBand = 2),
      fresh, "doc_id", "text", numHashes = 8, shingleSize = 3, rowsPerBand = 2, minEstimate = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 8, shingleSize = 3, rowsPerBand = 2, minEstimate = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    inc shouldBe full.filter { case (a, b, _) => a % 2 == 0 || b % 2 == 0 }
    // no history-only pair can ever appear (1,3) is an exact dup pair but
    // both sides are history — the increment must not re-find it
    inc.map(p => (p._1, p._2)) should not contain ((1L, 3L))
    full.map(p => (p._1, p._2)) should contain((1L, 3L)) // sanity: it exists
  }

  "Dedup.simhash" should "assign equal fingerprints to identical token multisets only" in {
    val sh = Dedup.simhash(docs, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long)].collect().toMap
    sh(1L) shouldBe sh(2L) // same tokens lowercased
    sh(1L) shouldBe sh(3L)
    sh(1L) should not be sh(4L)
    // near-dup: small hamming distance
    java.lang.Long.bitCount(sh(1L) ^ sh(5L)) should be <= 8
  }

  "Dedup.simhashPairs" should "find every Hamming<=r pair via banding (vs brute force)" in {
    // brute-force oracle over the same fingerprints: banding must be
    // RECALL-EXACT within the ball (pigeonhole guarantees it), not approximate
    val sh = Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect()
    def brute(r: Int) = (for {
      (ia, ha) <- sh; (ib, hb) <- sh if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= r
    } yield (ia, ib)).sorted.toSeq
    for (r <- Seq(1, 3)) {
      val got = Dedup.simhashPairs(docs, "doc_id", "text", bits = 16, maxHamming = r)
        .select("id_a", "id_b").as[(Long, Long)].collect().sorted.toSeq
      got shouldBe brute(r)
    }
  }

  it should "respect the bucket cap (degenerate band value dropped)" in {
    // 12 identical docs: every band bucket has 12 members → cap 4 drops all
    val many = (1L to 12L).map(i => (i, "same text for everyone here")).toDF("doc_id", "text")
    Dedup.simhashPairs(many, "doc_id", "text", maxHamming = 1, maxBucketSize = 4L)
      .count() shouldBe 0L
    Dedup.simhashPairs(many, "doc_id", "text", maxHamming = 1)
      .count() shouldBe 66L // 12*11/2 uncapped
  }

  "Dedup.winnowedFingerprints" should "honor the winnowing guarantee on shared runs" in {
    // n=4, window=4 → any shared run of window+n-1 = 7 words yields 4
    // consecutive shared grams = one complete shared window, whose min-hash
    // gram is selected in BOTH docs regardless of position offsets
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val two = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight $shared nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowedFingerprints(two, "doc_id", "text", n = 4, window = 4)
    val byDoc = fps.select("doc_id", "fp").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    byDoc(1L).intersect(byDoc(2L)) should not be empty
    // identical docs select identical fingerprint sets
    val dup = Seq((1L, shared + " " + shared), (2L, shared + " " + shared))
      .toDF("doc_id", "text")
    val d = Dedup.winnowedFingerprints(dup, "doc_id", "text", n = 4, window = 4)
      .select("doc_id", "fp", "fp_pos").as[(Long, Long, Long)].collect()
    d.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet shouldBe
      d.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet
    // sub-window docs emit nothing (no complete window exists)
    Dedup.winnowedFingerprints(
      Seq((9L, "only five words right here")).toDF("doc_id", "text"),
      "doc_id", "text", n = 4, window = 4).count() shouldBe 0L
  }

  "Dedup.winnowedPairs" should "pair copies and respect the fingerprint df cap" in {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, base),
      (2L, base + " with a short appended tail"), // contains base verbatim
      (3L, "entirely different words about completely unrelated topics and things here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowedPairs(corpus, "doc_id", "text",
      n = 4, window = 4, minShared = 2L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    pairs should contain((1L, 2L))
    pairs.map(p => Set(p._1, p._2)) should not contain Set(1L, 3L)
    // boilerplate fingerprint shared by MANY docs: df cap drops the whole
    // posting list before pairing (capBuckets whole-bucket rule)
    val many = (1L to 10L).map(i => (i, base)).toDF("doc_id", "text")
    Dedup.winnowedPairs(many, "doc_id", "text", n = 4, window = 4,
      minShared = 1L, maxFpDf = 5L).count() shouldBe 0L
    Dedup.winnowedPairs(many, "doc_id", "text", n = 4, window = 4,
      minShared = 1L).count() shouldBe 45L // 10*9/2 uncapped
  }

  "Dedup.prefixFilterJaccard" should "equal brute-force all-pairs bigram Jaccard (losslessness)" in {
    // random word-salad docs over a tiny vocab — adversarial for a lossy
    // filter: many borderline pairs straddle the threshold
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (1L to 40L).map(i =>
      (i, (0 until 6 + rnd.nextInt(8)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.prefixFilterJaccard(df, "doc_id", "text", tNum = 1L, tDen = 2L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force on the same bigram SETS
    def grams(t: String): Set[String] =
      t.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    val brute = (for {
      (i, ti) <- docs; (j, tj) <- docs if i < j
      gi = grams(ti); gj = grams(tj) if gi.nonEmpty && gj.nonEmpty
      inter = (gi & gj).size if 2 * inter >= gi.size + gj.size - inter
    } yield (i, j)).toSet
    got shouldBe brute
  }

  "Dedup.ngramJaccardBlocked" should "score identical docs 1.0 and near-dups high, within blocks" in {
    val blocked = docs.withColumn("blk", lit(1))
    val pairs = Dedup.ngramJaccardBlocked(blocked, "doc_id", "text",
      blockCols = Seq("blk"), n = 3, minJaccard = 0.3)
      .as[(Long, Long, Double)].collect().map(p => ((p._1, p._2), p._3)).toMap
    pairs((1L, 3L)) shouldBe 1.0
    pairs((1L, 2L)) shouldBe 1.0 // normalization collapses case+whitespace
    pairs((1L, 5L)) should be > 0.7
    pairs.keySet should not contain ((1L, 4L))
  }

  it should "emit no pair (not NaN) for docs too short to have grams" in {
    // both texts normalize to < 3 code points → empty gram sets; a 0/0
    // jaccard would be NaN, and NaN >= threshold is TRUE in Spark ordering
    val tiny = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .withColumn("blk", lit(1))
    Dedup.ngramJaccardBlocked(tiny, "doc_id", "text", Seq("blk"), 3, 0.5)
      .count() shouldBe 0L
  }

  it should "drop the gram-less rows of a caller-supplied gramsFrame too" in {
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").withColumn("blk", lit(1))
    val grams = Seq(1L, 2L).toDF("doc").withColumn("blk", lit(1))
      .withColumn("grams", typedLit(Seq.empty[Long])).withColumn("ng", lit(0))
    Dedup.ngramJaccardBlocked(tiny, "doc_id", "text", Seq("blk"), 3, 0.5,
      gramsFrame = Some(grams)).count() shouldBe 0L
  }

  it should "agree with the relational ngramJaccard formulation" in {
    val blocked = docs.withColumn("blk", lit(1))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").as[(Long, Long, Double)].collect().toSeq
    // relational variant intersects raw gram strings; blocked variant
    // intersects 60-bit hashes — equal barring astronomically unlikely collisions
    canon(Dedup.ngramJaccardBlocked(blocked, "doc_id", "text", Seq("blk"), 3, 0.3)) shouldBe
      canon(Dedup.ngramJaccard(blocked, "doc_id", "text", Seq("blk"), 3, 0.3))
  }

  "Dedup.minhashLshVerified" should "emit EXACT shingle Jaccard and drop estimate-only pairs" in {
    // A and B: 10-token texts sharing the first 7 tokens. Token-3-shingle
    // sets: 8 each, 5 shared -> exact J = 5/11. The md5 sketch may estimate
    // above 0.5, but verify must score exactly 5/11 and drop at 0.5.
    val a = "w1 w2 w3 w4 w5 w6 w7 a8 a9 a10"
    val b = "w1 w2 w3 w4 w5 w6 w7 b8 b9 b10"
    val corpus = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
    def verified(minJ: Double) = Dedup.minhashLshVerified(corpus, "doc_id", "text",
      numHashes = 8, shingleSize = 3, rowsPerBand = 1, // 8 single-hash bands: J=5/11 pair is a candidate
      minEstimate = 0.0, minJaccard = minJ)
      .as[(Long, Long, Double)].collect().map(p => ((p._1, p._2), p._3)).toMap
    val loose = verified(0.2)
    loose((1L, 3L)) shouldBe 1.0 // identical docs
    loose((1L, 2L)) shouldBe (5.0 / 11.0) // EXACT, not the sketch estimate
    val strict = verified(0.5)
    strict.keySet should contain((1L, 3L))
    strict.keySet should not contain ((1L, 2L)) // estimate can't save it
  }

  "Dedup.ngramContainment" should "catch a truncated copy that Jaccard misses" in {
    val long = "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "and the birds sing in the morning sun above the quiet green valley"
    val truncated = long.take(40) // strict prefix: containment ~1, jaccard low
    val corpus = Seq((1L, long), (2L, truncated),
      (3L, "completely unrelated text about query optimizers and shuffles"))
      .toDF("doc_id", "text").withColumn("blk", lit(1))
    // Jaccard misses the pair at 0.5 (|A∩B|/|A∪B| is small)...
    Dedup.ngramJaccardBlocked(corpus, "doc_id", "text", Seq("blk"), 3, 0.5)
      .count() shouldBe 0L
    // ...containment flags exactly it with score ~1.0
    val pairs = Dedup.ngramContainment(corpus, "doc_id", "text", Seq("blk"), 3, 0.8)
      .as[(Long, Long, Double)].collect()
    pairs.map(p => (p._1, p._2)).toSeq shouldBe Seq((1L, 2L))
    pairs.head._3 should be >= 0.95
  }

  it should "drop gram-less docs and respect the block cap" in {
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").withColumn("blk", lit(1))
    Dedup.ngramContainment(tiny, "doc_id", "text", Seq("blk"), 3, 0.5).count() shouldBe 0L
    val many = (1L to 50L).map(i => (i, "the very same boilerplate text every time"))
      .toDF("doc_id", "text").withColumn("blk", lit(1))
    Dedup.ngramContainment(many, "doc_id", "text", Seq("blk"), 3, 0.5,
      maxBlockSize = 10L).count() shouldBe 0L
  }

  "TextAnalysis.adaptiveQualityFilter" should "keep the top fraction of each stratum independently" in {
    // stratum A: 4 docs with distinct alpha ratios; stratum B: 2 docs.
    // keepPpm=500000 → floor(4*0.5)=2 from A, floor(2*0.5)=1 from B.
    val docs = Seq(
      (1L, "abcdefgh", "A"),   // alpha 1.0
      (2L, "abc 1234", "A"),   // lower
      (3L, "ab 12 34", "A"),   // lower still
      (4L, "12345678", "A"),   // alpha 0
      (10L, "purely alphabetic words", "B"),
      (11L, "1234 5678 9012 3456", "B"))
      .toDF("doc_id", "text", "source")
    val kept = graft.operators.TextAnalysis
      .adaptiveQualityFilter(docs, "doc_id", "text", "source", keepPpm = 500000L)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 2L, 10L)
  }

  "TextAnalysis.characteristicTerms" should "rank source-exclusive terms above shared ones" in {
    val docs = Seq(
      ("ads", "the subscribe subscribe subscribe click"),
      ("ads", "the subscribe click click buy now"),
      ("code", "the def class def class return"),
      ("code", "the def return import class x1"))
      .toDF("source", "text")
    // source-EXCLUSIVE terms all have lift ~ n_corpus/n_source (the rates
    // divide out), far above any shared term — the top slot must be one of
    // them, never the uniform 'the'
    val top = graft.operators.TextAnalysis
      .characteristicTerms(docs, "source", "text", k = 2, minCount = 2L)
      .filter(col("rank") === 1)
      .select("source", "term").as[(String, String)].collect().toMap
    Set("subscribe", "click") should contain(top("ads"))
    Set("def", "class", "return") should contain(top("code"))
    // 'the' is uniformly distributed: lift ~1e6, never a top term
    val theLift = graft.operators.TextAnalysis
      .characteristicTerms(docs, "source", "text", k = 100, minCount = 2L)
      .filter(col("term") === "the").select("lift_ppm").as[Long].collect()
    all(theLift) should be < 1500000L
  }

  "TextAnalysis.vocabStats" should "count tokens, types and hapax exactly" in {
    val docs = Seq(
      ("s1", "a b a c"),   // tokens 4, types 3 (a=2, b=1, c=1), hapax 2
      ("s1", "a"),         // s1 totals: 5 tokens, types {a=3,b,c}, hapax 2
      ("s2", "x y z"))     // 3 tokens, 3 types, 3 hapax
      .toDF("source", "text")
    val rows = graft.operators.TextAnalysis.vocabStats(docs, "text", "source")
      .orderBy("source")
      .select("source", "n_tokens", "n_types", "n_hapax")
      .as[(String, Long, Long, Long)].collect()
    rows shouldBe Array(("s1", 5L, 3L, 2L), ("s2", 3L, 3L, 3L))
  }

  "Dedup.nearDupClusters" should "close near-dup pairs into clusters with min-id keeper" in {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 10
      (12L, "the quick brown fox jumps over the lazy dog today"),   // near-dup chain
      (40L, "completely unrelated content about database engines here")
    ).toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(spark, corpus, "doc_id", "text", minEstimate = 0.5)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    // transitive closure: 10-11 exact, 11-12 near → one cluster rooted at 10
    out.filter(_._1 <= 12L).map(_._2).toSet shouldBe Set(10L)
    out.filter(_._1 <= 12L).map(r => r._1 -> r._3).toMap shouldBe
      Map(10L -> true, 11L -> false, 12L -> false)
    // singleton keeps itself without entering the loop
    out.find(_._1 == 40L).get shouldBe ((40L, 40L, true))
  }

  "Dedup.decontaminate" should "flag train docs sharing a word n-gram with the eval set" in {
    val train = Seq(
      (1L, "the quick brown fox jumps"), // shares "quick brown fox" with eval
      (2L, "entirely different training content"),
      (3L, "a quick brown fox appears")  // shares the same trigram
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "one quick brown fox ran")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, eval, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    out(0) shouldBe ((1L, 1L, true))
    out(1) shouldBe ((2L, 0L, false))
    out(2) shouldBe ((3L, 1L, true))
  }

  "Dedup.embeddingNearDup" should "find exact and near duplicate vectors within blocks" in {
    val em = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 0.0f)),
      (2L, 0, Seq(1.0f, 0.0f, 0.0f)), // identical to 1
      (3L, 0, Seq(0.999f, 0.01f, 0.0f)), // near 1
      (4L, 0, Seq(0.0f, 1.0f, 0.0f)), // orthogonal
      (5L, 1, Seq(1.0f, 0.0f, 0.0f))) // same dir as 1, different block
      .toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingNearDup(em, "vec_id", "embedding", "label", 0.9)
      .orderBy("id_a", "id_b").as[(Long, Long, Double)].collect()
    pairs.map(p => (p._1, p._2)) shouldBe Seq((1L, 2L), (1L, 3L), (2L, 3L))
    pairs.head._3 shouldBe 1.0 // identical vectors: exactly 1.0 (integer math)
  }

  "Dedup.consensusPairs" should "merge pair sets with per-signal flags and agreement count" in {
    val a = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val b = Seq((1L, 2L), (4L, 5L), (4L, 5L)).toDF("id_a", "id_b") // dup row must not double-flag
    val got = Dedup.consensusPairs(Seq("sig_a" -> a, "sig_b" -> b))
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Int, Int, Int)].collect().toSeq
    got shouldBe Seq(
      (1L, 2L, 1, 1, 2),
      (1L, 3L, 1, 0, 1),
      (4L, 5L, 0, 1, 1))
  }

  "Dedup.tfCosineJoin" should "pair only docs sharing a rare gram, scored over full vectors" in {
    // 10 docs, divisor 2 → df cap 5: the 8 identical "common word here"
    // docs share only df-8 grams (no candidates); docs 1-2 share the df-2
    // gram "rare gem" → one pair, cosine = 1/√(2·2) = 0.5
    val docs = (Seq(
      (1L, "rare gem alpha"),
      (2L, "rare gem beta")) ++
      (3L to 10L).map(i => (i, "common word here")))
      .toDF("doc_id", "text")
    val got = Dedup.tfCosineJoin(docs, "doc_id", "text",
      n = 2, dfCapDivisor = 2L, minCosine = 0.4)
      .select("id_a", "id_b", "dot", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSeq
    got shouldBe Seq((1L, 2L, 1L, 0.5))
  }

  it should "weight repeated grams by term frequency, not set membership" in {
    // a = "p q p q" → tf(p q)=2, tf(q p)=1, n2=5; b = "p q" → n2=1;
    // dot = 2 → cosine 2/√5 (a set-based measure would score 1/√2)
    val docs = Seq((1L, "p q p q"), (2L, "p q")).toDF("doc_id", "text")
    val got = Dedup.tfCosineJoin(docs, "doc_id", "text",
      n = 2, dfCapDivisor = 1L, minCosine = 0.1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    got shouldBe Seq((1L, 2L, 2L, 2.0 / math.sqrt(5.0)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 0.9f, 0.1f, 0.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  "bruteForceTopK" should "rank by cosine desc with id tie-break, excluding self" in {
    val res = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 4)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    res shouldBe Seq(1L, 2L, 3L, 4L) // 1 closest, 4 (opposite) last
  }

  "lshTopK" should "only search within the query's bucket and agree with brute force there" in {
    val lsh = Similarity.lshTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 4, numPlanes = 4, dims = 4)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toMap
    val bf = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 4)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect().toMap
    lsh.keySet.subsetOf(bf.keySet) shouldBe true
    lsh.foreach { case (id, cos) => bf(id) shouldBe cos } // same cosine values
  }

  "lshTopKMultiProbe" should "recover at least single-probe recall, each pair once" in {
    // 60 vectors in 3 loose clusters: single-probe misses near neighbors
    // that fall across one hyperplane; Hamming-1 probing recovers them
    val rnd = new scala.util.Random(11)
    val base = Seq(Seq(1.0f, 0.2f, 0f, 0f), Seq(0f, 1.0f, 0.2f, 0f), Seq(0.2f, 0f, 1.0f, 0f))
    val many = (0 until 60).map { i =>
      val c = base(i % 3)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.4f))
    }.toDF("vec_id", "embedding")
    val queries = many.filter(col("vec_id") < 6)
    def recall(res: org.apache.spark.sql.DataFrame): Double = {
      val bf = Similarity.bruteForceTopK(many, queries, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      res.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
        .intersect(bf).size.toDouble / bf.size
    }
    val single = Similarity.lshTopK(many, queries, "vec_id", "embedding",
      k = 5, numPlanes = 8, dims = 4)
    val multi = Similarity.lshTopKMultiProbe(many, queries, "vec_id", "embedding",
      k = 5, numPlanes = 8, dims = 4)
    recall(multi) should be >= recall(single)
    recall(multi) should be > 0.5 // Hamming-1 probing must actually help here
    // no duplicate (query, neighbor) rows from distinct probe buckets
    val rows = multi.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    rows.length shouldBe rows.toSet.size
  }

  "mmrDiversifyTopK" should "demote a redundant near-duplicate below a diverse candidate" in {
    // query 0 ≈ x-axis; 1 and 2 are near-identical high-relevance vectors,
    // 3 is moderately relevant but diverse. Plain top-3: (1, 2, 3). MMR
    // (λ=0.5): 1 first (highest relevance), then 3 (2's similarity ≈1 to
    // the already-picked 1 crushes its marginal score), then 2.
    val vecs = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.11f, 0f, 0f)),
      (3L, Seq(0.5f, 0f, 0.5f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") === 0L)
    val plain = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    val mmr = Similarity.mmrDiversifyTopK(vecs, queries, "vec_id", "embedding",
      k = 3, poolSize = 3)
      .orderBy("mmr_rank").select("neighbor_id").as[Long].collect().toSeq
    plain shouldBe Seq(1L, 2L, 3L)
    mmr shouldBe Seq(1L, 3L, 2L)
  }

  it should "reduce to relevance order with lambda = 1 and stop at the pool size" in {
    val vecs = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.11f, 0f, 0f)),
      (3L, Seq(0.5f, 0f, 0.5f, 0f)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") === 0L)
    // λ=1: no diversity penalty — identical to brute-force order
    Similarity.mmrDiversifyTopK(vecs, queries, "vec_id", "embedding",
      k = 3, poolSize = 3, lambda = 1.0)
      .orderBy("mmr_rank").select("neighbor_id").as[Long].collect().toSeq shouldBe
      Seq(1L, 2L, 3L)
    // k capped by available pool: only 3 non-self candidates exist
    Similarity.mmrDiversifyTopK(vecs, queries, "vec_id", "embedding",
      k = 5, poolSize = 10)
      .count() shouldBe 3L
  }

  "annRecall" should "count overlap per query with floor-ppm recall and keep zero-hit queries" in {
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (2L, 20L),
      (2L, 21L), (2L, 22L), (2L, 23L), (3L, 30L), (3L, 31L), (3L, 32L), (3L, 33L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L), (1L, 98L), // 2/4
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L))                // 4/4; query 3: 0/4
      .toDF("query_id", "neighbor_id")
    val got = Similarity.annRecall(truth, approx, k = 4)
      .orderBy("query_id").as[(Long, Long, Long)].collect().toSeq
    got shouldBe Seq((1L, 2L, 500000L), (2L, 4L, 1000000L), (3L, 0L, 0L))
  }

  "ivfTopK" should "find the true nearest neighbor when it shares the probed cell" in {
    // 4 tight clusters around orthogonal axes; 10 vectors each
    val rnd = new scala.util.Random(3)
    val base = Seq(
      Seq(1.0f, 0f, 0f, 0f), Seq(0f, 1.0f, 0f, 0f),
      Seq(0f, 0f, 1.0f, 0f), Seq(0f, 0f, 0f, 1.0f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nCentroids = 4, nProbe = 1)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val bf = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // probe-1 recall on well-separated clusters: top-1 matches brute force
    ivf shouldBe bf
  }

  "kCenterSelect" should "cover well-separated clusters before refining any of them" in {
    val rnd = new scala.util.Random(11)
    val base = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f), Seq(0f, 0f, 0f, 1f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(vecs, "vec_id", "embedding", k = 4)
      .orderBy("rank")
      .as[(Int, Long, Long)].collect().toSeq
    got.head._2 shouldBe 0L // seed = lowest id
    got.head._3 shouldBe 0L
    // the 4 picks land in 4 DIFFERENT clusters — farthest-first covers
    got.map(_._2 % 4).toSet should have size 4
    // coverage radius is non-increasing from the second pick on
    val radii = got.drop(1).map(_._3)
    radii.sliding(2).foreach { case Seq(a, b) => b should be <= a; case _ => }
  }

  it should "emit exactly min(k, corpus) rows with integer radii" in {
    val vecs = (0 until 3).map(i => (i.toLong, Seq(i.toFloat, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").as[(Int, Long, Long)].collect().toSeq
    // points at 0, 1000, 2000 (quantized): seed 0, then farthest (id 2,
    // d=4e6), then id 1 (d=1e6 to both)
    got shouldBe Seq((1, 0L, 0L), (2, 2L, 4000000L), (3, 1L, 1000000L))
  }

  "pqTopK" should "rank the true cluster first on well-separated data" in {
    // 4 tight clusters on orthogonal axes (8 dims, 4 subspaces of 2):
    // asymmetric PQ scores must still put same-cluster vectors on top
    val rnd = new scala.util.Random(5)
    val base = Seq(
      Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 1f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f), Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    val top = Similarity.pqTopK(vecs, queries, "vec_id", "embedding",
      k = 3, numSubspaces = 4, subCentroids = 4, iterations = 3, dims = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    top.length shouldBe 12
    // every returned neighbor is from the query's own cluster (mod 4)
    top.foreach { case (q, n) => (n % 4) shouldBe (q % 4) }
  }

  "pqRerankTopK" should "recover brute-force top-k when the pool is wide enough" in {
    val rnd = new scala.util.Random(5)
    val base = Seq(
      Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 1f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f), Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 2)
    // pool = whole corpus → the exact re-rank IS brute force
    val rr = Similarity.pqRerankTopK(vecs, queries, "vec_id", "embedding",
      k = 3, poolSize = 39, numSubspaces = 4, subCentroids = 4,
      iterations = 3, dims = 8)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    rr shouldBe bf
  }

  "ivfPqTopK" should "find same-cluster neighbors through the probed cells" in {
    val rnd = new scala.util.Random(5)
    val base = Seq(
      Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f), Seq(0f, 0f, 1f, 1f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f), Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    val top = Similarity.ivfPqTopK(vecs, queries, "vec_id", "embedding",
      k = 3, nCentroids = 4, nProbe = 1, numSubspaces = 4, subCentroids = 4,
      pqIterations = 3, dims = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    top.length shouldBe 12
    top.foreach { case (q, n) => (n % 4) shouldBe (q % 4) }
  }

  it should "score with integer asymmetric dots (no floats)" in {
    val vecs = (0 until 8).map(i => (i.toLong, Seq.fill(8)(i.toFloat / 10)))
      .toDF("vec_id", "embedding")
    val schema = Similarity.pqTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 2, numSubspaces = 4, subCentroids = 2,
      iterations = 2, dims = 8).schema
    schema("approx_dot").dataType.typeName shouldBe "long"
  }

  "ivfHardNegatives" should "return only different-label neighbors, ranked like label-filtered ivfTopK" in {
    // same 4-cluster layout; label = cluster, so a query's hard negatives
    // are the nearest vectors OUTSIDE its own cluster
    val rnd = new scala.util.Random(3)
    val base = Seq(
      Seq(1.0f, 0f, 0f, 0f), Seq(0f, 1.0f, 0f, 0f),
      Seq(0f, 0f, 1.0f, 0f), Seq(0f, 0f, 0f, 1.0f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f), (i % 4).toLong)
    }.toDF("vec_id", "embedding", "label")
    val queries = vecs.filter(col("vec_id") < 4)
    val hn = Similarity.ivfHardNegatives(vecs, queries, "vec_id", "embedding",
      "label", k = 3, nCentroids = 4, nProbe = 4)
    val rows = hn.select("query_id", "neighbor_id", "neighbor_label", "rank")
      .as[(Long, Long, Long, Int)].collect()
    // the label gate: no neighbor shares its query's label (label = id % 4)
    rows.foreach { case (q, _, nl, _) => nl should not be (q % 4) }
    // nProbe = nCentroids means every candidate survives to the label gate,
    // so the result must equal exact brute force over the corpus minus the
    // query's own label (same quantized-cosine algebra)
    val expected = queries.select("vec_id", "label").as[(Long, Long)].collect().flatMap {
      case (qid, lbl) =>
        Similarity.bruteForceTopK(vecs.filter(col("label") =!= lbl),
          queries.filter(col("vec_id") === qid), "vec_id", "embedding", k = 3)
          .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    }.toSet
    rows.map { case (q, n, _, r) => (q, n, r) }.toSet shouldBe expected
  }

  "ivfNearDup" should "be sound (every pair a true near-dup) and find in-cluster pairs" in {
    // 4 orthogonal clusters: in-cluster cosines ~1, cross-cluster ~0
    val rnd = new scala.util.Random(7)
    val base = Seq(
      Seq(1.0f, 0f, 0f, 0f), Seq(0f, 1.0f, 0f, 0f),
      Seq(0f, 0f, 1.0f, 0f), Seq(0f, 0f, 0f, 1.0f))
    val vecs = (0 until 40).map { i =>
      val c = base(i % 4)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
    }.toDF("vec_id", "embedding")
    val pairs = Similarity.ivfNearDup(vecs, "vec_id", "embedding",
      minCosine = 0.9, nCentroids = 4)
      .as[(Long, Long, Double)].collect()
    // soundness: the exact cosine of every emitted pair clears the bar
    all(pairs.map(_._3)) should be >= 0.9
    // well-separated clusters + 4 centroids: each cluster is one cell, so
    // every in-cluster pair is found = 4 * C(10,2)
    pairs.length shouldBe 4 * 45
    // and the pairs never cross clusters (cosine would be ~0)
    pairs.foreach { case (a, b, _) => (a % 4) shouldBe (b % 4) }
  }

  "labelCentroidAudit" should "flag the vector pointing away from its label centroid" in {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.1f), 0),
      (3L, Seq(-1.0f, 0.0f), 0), // opposes the label-0 centroid
      (4L, Seq(0.0f, 1.0f), 1)) // singleton label: cos to itself = 1
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidAudit(vecs, "vec_id", "embedding", "label",
        minCosine = 0.5)
      .orderBy("vec_id").as[(Long, Int, Double, Boolean)].collect()
    out.map(_._4).toSeq shouldBe Seq(false, false, true, false)
    out(0)._3 should be > 0.9
    out(2)._3 should be < -0.9
    out(3)._3 shouldBe 1.0 +- 1e-9
  }

  it should "cap a degenerate cell like an LSH band" in {
    val same = (1L to 100L).map(i => (i, Seq(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    Similarity.ivfNearDup(same, "vec_id", "embedding", minCosine = 0.9,
      nCentroids = 2, maxCellSize = 10L).count() shouldBe 0L
  }

  "ivfIndex" should "train identical centroids on the local and distributed paths" in {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(8)((rnd.nextFloat() - 0.5f) * 2f))
    }.toDF("vec_id", "embedding")
    def train(threshold: Long) =
      Similarity.ivfIndex(vecs, "vec_id", "embedding", nCentroids = 4,
        iterations = 4, localTrainThreshold = threshold)
    val (cellsL, centroidsL) = train(Long.MaxValue)
    val (cellsD, centroidsD) = train(0L)
    centroidsL.map(_.toSeq).toSeq shouldBe centroidsD.map(_.toSeq).toSeq
    cellsL.orderBy("id").collect().toSeq shouldBe cellsD.orderBy("id").collect().toSeq
  }

  "lshBucket" should "assign identical vectors to identical buckets" in {
    val b = vecs.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), numPlanes = 8, dims = 4).as("b"))
      .as[(Long, Long)].collect().toMap
    val dup = Seq((9L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(Similarity.lshBucket(col("embedding"), 8, 4)).as[Long].head()
    dup shouldBe b(0L)
  }

  "pqCodes" should "assign every vector a code per subspace, agreeing with the cluster layout" in {
    // two tight clusters per 4-dim half: subspace codes must separate them
    val rnd = new scala.util.Random(7)
    val base = Seq(Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 1f, 1f, 0f, 0f))
    val vecs = (0 until 20).map { i =>
      val c = base(i % 2)
      (i.toLong, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }.toDF("vec_id", "embedding")
    val codes = Similarity.pqCodes(vecs, "vec_id", "embedding",
      numSubspaces = 2, subCentroids = 2, iterations = 2, dims = 8)
      .as[(Long, Int, Int)].collect()
    codes.length shouldBe 40 // 20 vectors × 2 subspaces
    codes.foreach { case (_, s, c) =>
      s should (be >= 0 and be < 2); c should (be >= 0 and be < 2)
    }
    // within one subspace, both clusters get distinct codes and members agree
    val bySub = codes.groupBy(_._2)
    bySub.foreach { case (_, rows) =>
      val byCluster = rows.groupBy(_._1 % 2).map { case (k, v) => k -> v.map(_._3).toSet }
      byCluster.values.foreach(_.size shouldBe 1)
    }
  }
}



class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  "languageId" should "pick the language with most stopword hits, und when none" in {
    val docs = Seq(
      (1L, "the cat and the hat is a cat"),
      (2L, "der hund und die katze ist ein hund"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    TextAnalysis.languageId(docs, "doc_id", "text")
      .orderBy("doc_id").select("predicted_lang").as[String].collect() shouldBe
      Seq("en", "de", "und")
  }

  "hashedLinearScore" should "score with TRAINED weights through the broadcast-join path" in {
    // a 2-bucket model where every token of doc 1 lands in a positive
    // bucket is hard to construct by hand — instead supply weights for ALL
    // buckets and verify the sum algebra: w(b) = b (identity), so
    // score(doc) = sum of its tokens' bucket ids
    val docs = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "gamma")).toDF("doc_id", "text")
    val dims = 16
    val w = spark.range(dims).select(col("id").as("b"), col("id").as("w"))
    val out = TextAnalysis.hashedLinearScore(docs, "doc_id", "text", dims, Some(w))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    def bucket(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % dims
    }
    out(0)._2 shouldBe (2 * bucket("alpha") + bucket("beta"))
    out(1) shouldBe ((2L, 0L, true)) // empty doc: score 0, kept
    out(2)._2 shouldBe bucket("gamma")
    // default (md5-derived) path is deterministic and keep ≡ score >= 0
    val d1 = TextAnalysis.hashedLinearScore(docs, "doc_id", "text").collect()
    val d2 = TextAnalysis.hashedLinearScore(docs.repartition(3), "doc_id", "text")
      .collect()
    d1.map(_.toSeq).toSet shouldBe d2.map(_.toSeq).toSet
    d1.foreach(r => r.getAs[Boolean]("keep") shouldBe (r.getAs[Long]("score") >= 0L))
  }

  "qualityScore" should "compute integer ppm ratios exactly" in {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog twice today ok")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(docs, "doc_id", "text").collect()(0)
    r.getAs[Long]("n_tokens") shouldBe 12L
    // 2 stopword hits ("the" ×2) of 12 → floor(2e6/12) = 166666 ppm
    r.getAs[Long]("stopword_ppm") shouldBe 166666L
    r.getAs[Boolean]("keep") shouldBe true
    val short = TextAnalysis.qualityScore(Seq((2L, "tiny doc")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    short.getAs[Boolean]("keep") shouldBe false // < 10 tokens
  }

  "tokenCounts" should "count whitespace and BPE-ish tokens" in {
    val r = TextAnalysis.tokenCounts(
      Seq((1L, "hello world42 x!")).toDF("doc_id", "text"), "doc_id", "text").collect()(0)
    r.getAs[Long]("ws_tokens") shouldBe 3L
    // [hello][world][42][x][!]
    r.getAs[Long]("bpe_tokens") shouldBe 5L
  }

  "fingerprints" should "be stable and normalization-invariant" in {
    val df = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprints(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long)].collect()
    fps(0)._2 shouldBe fps(1)._2 // content_fp normalization-invariant
    fps(0)._3 shouldBe fps(1)._3 // rolling_fp too (token-based)
    fps(0)._2 should not be fps(2)._2
  }

  "chunk" should "emit overlapping token windows covering every token" in {
    val doc = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(doc, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Int, String, Long)].collect().toSeq
    // stride 3: starts 0,3,6,9
    got shouldBe Seq(
      (0, "w1 w2 w3 w4", 4L),
      (1, "w4 w5 w6 w7", 4L),
      (2, "w7 w8 w9 w10", 4L),
      (3, "w10", 1L))
  }

  it should "emit nothing for token-less docs and one chunk for short docs" in {
    val df = Seq((1L, "   "), (2L, "only three tokens")).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, "doc_id", "text", chunkTokens = 8)
      .select("doc_id", "chunk_text", "n_chunk_tokens").as[(Long, String, Long)].collect().toSeq
    got shouldBe Seq((2L, "only three tokens", 3L))
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  "asOf" should "attach the latest right record at or before each left timestamp" in {
    val left = Seq((1, 10L), (1, 25L), (1, 5L), (2, 50L)).toDF("k", "ts")
    val right = Seq((1, 10L, "r10"), (1, 20L, "r20"), (2, 60L, "r60"))
      .toDF("k", "ts", "v")
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("v"))
      .orderBy("k", "ts").select("k", "ts", "right_v").as[(Int, Long, Option[String])].collect()
    out shouldBe Seq(
      (1, 5L, None), // nothing at/before 5
      (1, 10L, Some("r10")), // tie: right visible at equal ts
      (1, 25L, Some("r20")),
      (2, 50L, None)) // r60 is in the future
  }

  it should "break equal-timestamp right rows by the tie-break column (latest wins)" in {
    val left = Seq((1, 10L)).toDF("k", "ts")
    val right = Seq((1, 10L, 1L), (1, 10L, 2L)).toDF("k", "ts", "seq")
    AsOfJoin.asOf(left, right, "k", "ts", Seq("seq"), rightTieBreak = Seq("seq"))
      .select("right_seq").as[Long].head() shouldBe 2L
  }

  "asOfNearest" should "pick the closer side, ties backward, nulls when no right rows" in {
    val left = Seq((1, 10L), (1, 26L), (1, 100L), (2, 5L), (3, 7L)).toDF("k", "ts")
    val right = Seq((1, 8L, "a"), (1, 30L, "b"), (2, 40L, "c")).toDF("k", "ts", "v")
    val out = AsOfJoin.asOfNearest(left, right, "k", "ts", Seq("v"))
      .orderBy("k", "ts").select("k", "ts", "right_v", "asof_dist_us")
      .as[(Int, Long, Option[String], Option[Long])].collect()
    out shouldBe Seq(
      (1, 10L, Some("a"), Some(2L)),   // 8 is closer than 30
      (1, 26L, Some("b"), Some(4L)),   // 30 (dist 4) beats 8 (dist 18)
      (1, 100L, Some("b"), Some(70L)), // only past rows remain
      (2, 5L, Some("c"), Some(35L)),   // only future rows
      (3, 7L, None, None))             // no right rows for key 3
  }

  it should "resolve exact-distance ties backward" in {
    val left = Seq((1, 20L)).toDF("k", "ts")
    val right = Seq((1, 10L, "past"), (1, 30L, "future")).toDF("k", "ts", "v")
    AsOfJoin.asOfNearest(left, right, "k", "ts", Seq("v"))
      .select("right_v").as[String].head() shouldBe "past"
  }
}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  "jaccardLinkPrediction" should "score non-edges by common-neighbor Jaccard and skip existing edges" in {
    // path graph 1-2-3 plus 2-4: non-edges sharing a neighbor:
    // (1,3) via 2, (1,4) via 2, (3,4) via 2 — all inter=1; degrees 1/3/1/1
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val got = GraphAlgorithms.jaccardLinkPrediction(edges, k = 10)
      .orderBy("rank").as[(Int, Long, Long, Long, Double)].collect().toSeq
    got.map(t => (t._2, t._3)) should contain theSameElementsAs
      Seq((1L, 3L), (1L, 4L), (3L, 4L))
    got.foreach { t => t._4 shouldBe 1L; t._5 shouldBe 1.0 } // 1/(1+1-1)
  }

  it should "drop wedges through hubs above the degree cap" in {
    // star around hub 0 with 5 leaves: hub degree 5 > cap 4 → no candidates
    val edges = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    GraphAlgorithms.jaccardLinkPrediction(edges, k = 10, maxHubDegree = 4L)
      .count() shouldBe 0L
    // raising the cap exposes the 10 leaf pairs
    GraphAlgorithms.jaccardLinkPrediction(edges, k = 100, maxHubDegree = 5L)
      .count() shouldBe 10L
  }

  "bfsHops" should "label min hop distance from any seed, omitting unreached nodes" in {
    // path 1-2-3-4-5-6 plus isolated edge 8-9; seeds {1, 5}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (8L, 9L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = GraphAlgorithms.bfsHops(edges, seeds, maxHops = 2)
      .orderBy("node").as[(Long, Int)].collect().toSeq
    // node 3 is 2 hops from both seeds (min, not duplicate); 8/9 unreached
    got shouldBe Seq((1L, 0), (2L, 1), (3L, 2), (4L, 1), (5L, 0), (6L, 1))
  }

  it should "stop expanding once the frontier empties" in {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = GraphAlgorithms.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 10)
      .orderBy("node").as[(Long, Int)].collect().toSeq
    got shouldBe Seq((1L, 0), (2L, 1))
  }

  "incrementalComponents" should "equal a full recompute on random edge splits" in {
    val rnd = new scala.util.Random(23)
    // sparse random graph: 60 vertices, 50 edges → several components
    val all = (1 to 50).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val (baseE, deltaE) = all.partition(_ => rnd.nextBoolean())
    val inc = GraphAlgorithms.incrementalComponents(spark,
        baseE.toDF("src", "dst"), deltaE.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val full = GraphAlgorithms.connectedComponents(spark, all.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    inc shouldBe full
  }

  it should "handle an empty delta and a delta that bridges components" in {
    val base = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    GraphAlgorithms.incrementalComponents(spark, base,
        Seq.empty[(Long, Long)].toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)
    GraphAlgorithms.incrementalComponents(spark, base, Seq((2L, 3L)).toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L)
  }

  "connectedComponents" should "merge components transitively (AnalyticsSystemSpec 1-2/3-4/2-3)" in {
    val edges = Seq(("1", "2"), ("3", "4"), ("2", "3")).toDF("src", "dst")
    val cc = GraphAlgorithms.connectedComponents(spark, edges)
      .orderBy("vertex").as[(String, String)].collect()
    cc shouldBe Seq(("1", "1"), ("2", "1"), ("3", "1"), ("4", "1"))
  }

  it should "keep disjoint components separate" in {
    val edges = Seq(("a", "b"), ("c", "d")).toDF("src", "dst")
    val cc = GraphAlgorithms.connectedComponents(spark, edges)
      .as[(String, String)].collect().toMap
    cc("a") shouldBe "a"
    cc("b") shouldBe "a"
    cc("c") shouldBe "c"
    cc("d") shouldBe "c"
  }

  it should "handle chains longer than one hop per iteration" in {
    val chain = (1 to 9).map(i => (i.toString, (i + 1).toString)).toDF("src", "dst")
    val cc = GraphAlgorithms.connectedComponents(spark, chain)
      .as[(String, String)].collect()
    cc.map(_._2).distinct shouldBe Array("1")
  }

  "labelPropagation" should "split bridged triangles into two communities" in {
    // two triangles joined by one bridge; symmetric (undirected) input
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = GraphAlgorithms.labelPropagation(spark, edges, iterations = 3)
      .as[(Long, Long)].collect().toMap
    // hand-traced synchronous rounds with (count desc, label asc) ties:
    // l3 = {1,2,3}→1 and {4,5,6}→3
    Seq(1L, 2L, 3L).map(r) shouldBe Seq(1L, 1L, 1L)
    Seq(4L, 5L, 6L).map(r) shouldBe Seq(3L, 3L, 3L)
  }

  it should "keep the own label when a vertex has no incoming edge" in {
    val r = GraphAlgorithms.labelPropagation(spark,
        Seq((7L, 8L)).toDF("src", "dst"), iterations = 2)
      .as[(Long, Long)].collect().toMap
    r(7L) shouldBe 7L // no in-neighbors → keeps its own label every round
    r(8L) shouldBe 7L
  }

  "triangleCount" should "count exactly on hand-verifiable graphs" in {
    // K4: C(4,3) = 4 triangles; given as directed/dup/self-loop-noisy input
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b))
      .toDF("src", "dst")
    GraphAlgorithms.triangleCount(k4.unionAll(Seq((1L, 1L)).toDF("src", "dst")))
      .as[Long].head() shouldBe 4L
    // triangle + pendant edge: exactly 1
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    GraphAlgorithms.triangleCount(tri).as[Long].head() shouldBe 1L
    // star (hub + 5 spokes): wedges galore, 0 triangles
    val star = (2L to 6L).map(i => (1L, i)).toDF("src", "dst")
    GraphAlgorithms.triangleCount(star).as[Long].head() shouldBe 0L
    // bipartite square (4-cycle): 0
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    GraphAlgorithms.triangleCount(square).as[Long].head() shouldBe 0L
  }

  "kCore" should "peel to the unique maximal subgraph of min degree k" in {
    // K4 with a pendant chain 4-5-6: 2-core = K4 ∪ nothing of the chain
    // (5,6 peel in cascade), 3-core = K4, 4-core = empty
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    val edges = und.toDF("src", "dst")
    val core2 = GraphAlgorithms.kCore(spark, edges, k = 2)
      .orderBy("vertex").as[(Long, Long)].collect()
    core2.map(_._1) shouldBe Array(1L, 2L, 3L, 4L)
    core2.map(_._2) shouldBe Array(3L, 3L, 3L, 3L) // within-core degrees
    GraphAlgorithms.kCore(spark, edges, k = 3)
      .orderBy("vertex").as[(Long, Long)].collect()
      .map(_._1) shouldBe Array(1L, 2L, 3L, 4L)
    GraphAlgorithms.kCore(spark, edges, k = 4).count() shouldBe 0L
    // a pure path has no 2-core (peels from both ends — the cascade case)
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("src", "dst")
    GraphAlgorithms.kCore(spark, path, k = 2).count() shouldBe 0L
    // directed/dup/self-loop noise canonicalizes away
    val noisy = (und ++ und.map(_.swap) ++ Seq((1L, 1L))).toDF("src", "dst")
    GraphAlgorithms.kCore(spark, noisy, k = 3)
      .orderBy("vertex").as[(Long, Long)].collect()
      .map(_._1) shouldBe Array(1L, 2L, 3L, 4L)
  }

  "kTruss" should "keep edges by triangle support with cascading peel" in {
    val k4und = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val k4 = k4und.toDF("src", "dst")
    // K4: every edge lies in exactly 2 triangles → 3- and 4-truss keep all
    // 6 edges, 5-truss (support ≥ 3) is empty
    val t3 = GraphAlgorithms.kTruss(spark, k4, k = 3)
      .orderBy("a", "b").as[(Long, Long, Long)].collect()
    t3.map(t => (t._1, t._2)) shouldBe k4und.toArray
    all(t3.map(_._3)) shouldBe 2L
    GraphAlgorithms.kTruss(spark, k4, k = 4).count() shouldBe 6L
    GraphAlgorithms.kTruss(spark, k4, k = 5).count() shouldBe 0L
    // triangle + pendant: 3-truss = the triangle only
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    GraphAlgorithms.kTruss(spark, tri, k = 3)
      .orderBy("a", "b").as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2)) shouldBe Array((1L, 2L), (1L, 3L), (2L, 3L))
    // two triangles sharing edge (2,3): 4-truss peels in CASCADE — round 1
    // drops the support-1 edges, round 2 drops the now-unsupported (2,3)
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    GraphAlgorithms.kTruss(spark, twoTri, k = 4).count() shouldBe 0L
    // directed/dup/self-loop noise canonicalizes away
    val noisy = (k4und ++ k4und.map(_.swap) ++ Seq((2L, 2L))).toDF("src", "dst")
    GraphAlgorithms.kTruss(spark, noisy, k = 4).count() shouldBe 6L
  }

  it should "produce identical components from the local and distributed paths" in {
    // moderately tangled graph: rings, a chain, cross links, self loops
    val edges = ((1 to 40).map(i => (i.toLong, (i % 40 + 1).toLong)) ++
      (50 to 70).map(i => (i.toLong, (i + 1).toLong)) ++
      Seq((40L, 50L), (80L, 80L), (90L, 91L)))
      .toDF("src", "dst")
    def canon(localThreshold: Long) =
      GraphAlgorithms.connectedComponents(spark, edges, localThreshold = localThreshold)
        .orderBy("vertex").as[(Long, Long)].collect().toSeq
    val local = canon(Long.MaxValue) // force union-find
    val dist = canon(0L)             // force the star-contraction loop
    local shouldBe dist
    local.find(_._1 == 80L).get._2 shouldBe 80L // self-loop only → own root
    local.find(_._1 == 55L).get._2 shouldBe 1L  // chain bridged to the ring
  }

  it should "pre-contract a scattered path graph identically across the local-finish and star-loop paths" in {
    // a 401-vertex path with duplicate + reversed edges scattered over 16
    // partitions: the worst case for per-partition union-find (chains
    // cross chunks everywhere), duplicates exercise the no-upfront-distinct
    // claim, and the thresholds force each post-contraction path
    val base = (0 until 400).map(i => (i.toLong, (i + 1).toLong))
    val edges = (base ++ base.map(_.swap) ++ base)
      .toDF("src", "dst").repartition(16)
    def canon(localThreshold: Long) =
      GraphAlgorithms.connectedComponents(spark, edges, localThreshold = localThreshold)
        .orderBy("vertex").as[(Long, Long)].collect().toSeq
    val viaDriver = canon(Long.MaxValue)       // pure driver union-find
    val viaContractLocal = canon(1000L)        // pass0/pass1 -> local finish
    val viaStarLoop = canon(0L)                // contraction -> star loop
    viaDriver shouldBe viaContractLocal
    viaDriver shouldBe viaStarLoop
    viaDriver.map(_._2).distinct shouldBe Seq(0L) // one component, min label
  }

  it should "fall back to the distributed loop for binary vertices" in {
    // Array[Byte] has reference equality on the driver — the local path
    // must not claim it; the distributed loop handles it correctly
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("src", "dst")
      .select(col("src").cast("binary").as("src"), col("dst").cast("binary").as("dst"))
    val cc = GraphAlgorithms.connectedComponents(spark, edges)
      .select(col("vertex").cast("string"), col("component").cast("string"))
      .as[(String, String)].collect().toMap
    cc("a") shouldBe "a"
    cc("c") shouldBe "a"
    cc("y") shouldBe "x"
  }

  "hitsExact" should "compute exact alternating-path counts on a bipartite graph" in {
    // a→{x,y}, b→{x}; k=2 by hand:
    //   round 1: auth(x)=2, auth(y)=1; hub(a)=3, hub(b)=2
    //   round 2: auth(x)=hub(a)+hub(b)=5, auth(y)=hub(a)=3; hub(a)=8, hub(b)=5
    val edges = Seq(("a", "x"), ("a", "y"), ("b", "x")).toDF("src", "dst")
    val got = GraphAlgorithms.hitsExact(edges, iterations = 2)
      .as[(String, Long, Long)].collect().map { case (v, h, a) => v -> ((h, a)) }.toMap
    got shouldBe Map("a" -> ((8L, 0L)), "b" -> ((5L, 0L)),
      "x" -> ((0L, 5L)), "y" -> ((0L, 3L)))
  }

  it should "ignore self-loops and duplicate edges" in {
    val edges = Seq(("a", "x"), ("a", "x"), ("a", "a")).toDF("src", "dst")
    val got = GraphAlgorithms.hitsExact(edges, iterations = 1)
      .as[(String, Long, Long)].collect().map { case (v, h, a) => v -> ((h, a)) }.toMap
    got shouldBe Map("a" -> ((1L, 0L)), "x" -> ((0L, 1L)))
  }
}



class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  "summarize" should "split sessions on gaps > gapUs" in {
    val ev = Seq(
      (1, 0L), (1, 100L), (1, 200L), // session 0
      (1, 2000L), (1, 2100L), // session 1 (gap 1800 > 1000)
      (2, 0L)).toDF("user", "ts")
    val sess = Sessionize.summarize(ev, "user", "ts", gapUs = 1000L)
      .orderBy("user", "session_seq")
      .select("user", "session_seq", "n_events", "duration_us")
      .as[(Int, Long, Long, Long)].collect()
    sess shouldBe Seq((1, 0L, 3L, 200L), (1, 1L, 2L, 100L), (2, 0L, 1L, 0L))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  import graft.multimodal.Multimodal

  "withPayload + decodeFeatures" should "carry binary payloads through the distributed stub decoder" in {
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(Multimodal.withPayload(docs, "text"), "doc_id")
      .orderBy("id").collect()
    feats(0).getAs[Long]("size_bytes") shouldBe 3L
    feats(0).getAs[Int]("first_byte") shouldBe 'a'.toInt
    feats(0).getAs[Long]("byte_sum_mod") shouldBe ('a' + 'b' + 'c').toLong
    feats(1).getAs[Long]("size_bytes") shouldBe 0L
  }

  "media metadata" should "match the payload bytes" in {
    val row = Multimodal.withPayload(Seq((1L, "xyz")).toDF("doc_id", "text"), "text")
      .select(col("media_meta.size_bytes"), col("media_meta.kind")).collect()(0)
    row.getLong(0) shouldBe 3L
    row.getString(1) shouldBe "image/fake"
  }
}

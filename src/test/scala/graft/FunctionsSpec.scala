package graft

import graft.functions.{CharNgramHashSet, GraftFunctions, Murmur2}
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** Unit + property tests for the functions layer (port of the reference's
  * serde/property testing approach, AvroRecordPropSpec.scala:38-73). */
/** Seeded random sampling in lieu of a scalacheck-scalatest bridge (not in
  * the offline cache); deterministic across runs. */
object Sampled {
  def bytesSamples(n: Int, maxLen: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val len = rnd.nextInt(maxLen)
      val a = new Array[Byte](len); rnd.nextBytes(a); a
    }
  }
  def asciiSamples(n: Int, maxLen: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789   "
    (0 until n).map(_ => (0 until rnd.nextInt(maxLen)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
  }
}

class Murmur2Spec extends SparkSpec {

  // Frozen golden vectors for the public murmur2 algorithm (seed 0x9747b28c)
  // — pins the implementation against accidental change; the algorithm
  // itself is transcribed from the published Kafka Utils.murmur2 constants.
  val goldens: Map[String, Int] = Map(
    "" -> 275646681,
    "a" -> -1563381124,
    "key" -> -1079937367,
    "hello world" -> 1221641059,
    "21" -> -973932308,
    "foobar" -> -790332482,
    "a-little-bit-long-string" -> -985981536,
    "a-string-that-is-longer-than-that" -> -1824624575,
    "abcé" -> -684601669)

  "Murmur2.hash" should "match frozen golden vectors" in {
    goldens.foreach { case (s, h) => Murmur2.hash(s.getBytes("UTF-8")) shouldBe h }
  }

  it should "be deterministic and length-sensitive (sampled property)" in {
    Sampled.bytesSamples(200, 64).foreach { arr =>
      val h = Murmur2.hash(arr)
      Murmur2.hash(arr) shouldBe h // deterministic
      Murmur2.hash(arr :+ 0.toByte) should not be h // length-sensitive
    }
  }

  "Murmur2.partition" should "be non-negative and < n for all keys" in {
    val rnd = new scala.util.Random(7)
    Sampled.bytesSamples(200, 64).foreach { arr =>
      val n = rnd.nextInt(1024) + 1
      val p = Murmur2.partition(arr, n)
      p should be >= 0
      p should be < n
    }
  }

  "the murmur2 Column expression" should "agree with the JVM implementation" in {
    import spark.implicits._
    val df = goldens.keys.toSeq.toDF("s")
      .withColumn("h", GraftFunctions.murmur2(col("s")))
    df.collect().foreach { r =>
      r.getInt(1) shouldBe Murmur2.hash(r.getString(0).getBytes("UTF-8"))
    }
  }
}

class FunctionRegistrationSpec extends SparkSpec {

  "GraftFunctions.register" should "install each function once per session and replace none" in {
    val registry = spark.sessionState.functionRegistry
    def infos = GraftFunctions.builders.map { case (name, _, _) =>
      registry.lookupFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name)).get }
    GraftFunctions.register(spark)
    val first = infos
    GraftFunctions.register(spark)
    infos.zip(first).foreach { case (again, was) => (again eq was) shouldBe true }
    // a new session starts without them and gets every one
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    fresh.range(1).select(ldot(array(lit(2L)), array(lit(3L)))).head().getLong(0) shouldBe 6L
  }
}

class RegistryFramingSpec extends SparkSpec {
  import spark.implicits._

  "wrapRegistry/unwrapRegistry" should "round-trip payload and schema id" in {
    val df = Seq(("payload-one", 1), ("x", 42), ("", 123456)).toDF("body", "id")
      .withColumn("framed", wrapRegistry(encode(col("body"), "UTF-8"), col("id")))
      .select(
        col("body"), col("id"),
        registrySchemaId(col("framed")).as("id2"),
        decode(unwrapRegistry(col("framed")), "UTF-8").as("body2"),
        octet_length(col("framed")).as("len"),
        octet_length(encode(col("body"), "UTF-8")).as("blen"))
    df.collect().foreach { r =>
      r.getAs[Int]("id2") shouldBe r.getAs[Int]("id")
      r.getAs[String]("body2") shouldBe r.getAs[String]("body")
      // 5-byte header: magic(1) + schemaId(4) — AvroSerde.scala:123-138
      r.getAs[Int]("len") shouldBe r.getAs[Int]("blen") + 5
    }
  }

  it should "round-trip negative and top-bit schema ids (signed 32-bit wrap)" in {
    // a negative id hexes to 16 chars via bigint promotion; the low-32 mask
    // must keep the true bytes (lpad would otherwise truncate to FFFFFFFF)
    val df = Seq(-1, -42, Int.MinValue, Int.MaxValue).toDF("id")
      .withColumn("framed", wrapRegistry(encode(lit("p"), "UTF-8"), col("id")))
      .select(col("id"), registrySchemaId(col("framed")).as("id2"))
    df.collect().foreach(r => r.getAs[Int]("id2") shouldBe r.getAs[Int]("id"))
  }
}

class TextPrimitivesSpec extends SparkSpec {
  import spark.implicits._

  "tokens" should "lowercase, split on whitespace runs, drop empties" in {
    val out = Seq("  Hello   WORLD\tfoo  ", "", "   ").toDF("text")
      .select(tokens(col("text")).as("t")).as[Seq[String]].collect()
    out(0) shouldBe Seq("hello", "world", "foo")
    out(1) shouldBe Seq.empty
    out(2) shouldBe Seq.empty
  }

  "wordNgrams" should "produce distinct n-grams and handle short docs" in {
    val df = Seq("a b c d", "a b", "a b a b a b").toDF("text")
      .select(wordNgrams(tokens(col("text")), 3).as("g")).as[Seq[String]].collect()
    df(0) shouldBe Seq("a b c", "b c d")
    df(1) shouldBe Seq.empty // shorter than n — no descending-sequence bug
    df(2) shouldBe Seq("a b a", "b a b") // distinct
  }

  "charNgrams" should "slide over characters with short-input guard" in {
    val df = Seq("abcd", "ab", "aaaa").toDF("s")
      .select(charNgrams(col("s"), 3).as("g")).as[Seq[String]].collect()
    df(0) shouldBe Seq("abc", "bcd")
    df(1) shouldBe Seq.empty
    df(2) shouldBe Seq("aaa") // distinct
  }

  "charNgramHashSet" should "equal the declarative hashedSet(charNgrams) on sampled strings" in {
    val df = Sampled.asciiSamples(100, 80).toDF("s")
      .select(
        charNgramHashSet(col("s"), 3).as("native"),
        hashedSet(charNgrams(col("s"), 3)).as("hof"))
    df.collect().foreach { row =>
      row.getAs[Seq[Long]]("native") shouldBe row.getAs[Seq[Long]]("hof")
    }
  }

  it should "match an independent md5 implementation (hash60)" in {
    // cross-checked against python hashlib in development; frozen here
    CharNgramHashSet.hash60("abc") shouldBe 648541476951500027L
  }

  "normalizeText" should "collapse whitespace and lowercase" in {
    Seq("  A \t B\n\nC ").toDF("t").select(normalizeText(col("t"))).as[String].head() shouldBe "a b c"
  }

  "wordNgramStats" should "count total and distinct word n-grams with md5-hash distinctness" in {
    val out = Seq(
      "a b c d",       // grams: "a b c","b c d" — all distinct
      "a b a b a b",   // grams: aba, bab, aba, bab — 4 total, 2 distinct
      "a b",           // shorter than n
      "")              // empty text → split gives one empty token
      .toDF("text")
      .select(wordNgramStats(col("text"), 3).as("st"))
      .as[Seq[Long]].collect()
    out(0) shouldBe Seq(2L, 2L)
    out(1) shouldBe Seq(4L, 2L)
    out(2) shouldBe Seq(0L, 0L)
    out(3) shouldBe Seq(0L, 0L)
  }

  it should "hash grams exactly like the declarative md5Hash60 spelling" in {
    import graft.functions.CharNgramHashSet
    // the distinct count must be over hash60("w1 w2 w3") values
    CharNgramHashSet.hash60("a b c") shouldBe
      Seq("a b c").toDF("g").select(md5Hash60(col("g"))).as[Long].head()
  }

  it should "keep empty tokens (string_split parity, not tokens())" in {
    // "a  b c" splits to ["a","","b","c"] → grams "a  b" and " b c"
    val st = Seq("a  b c").toDF("text")
      .select(wordNgramStats(col("text"), 3).as("st")).as[Seq[Long]].head()
    st shouldBe Seq(2L, 2L)
  }

  "wordNgramList" should "emit surface grams in order with duplicates and empties kept" in {
    val out = Seq(
      "a b a b",  // bigrams: "a b","b a","a b" — duplicate kept
      "a  b",     // ["a","","b"] → "a " and " b"
      "a",        // shorter than n
      "")         // single empty token
      .toDF("text")
      .select(wordNgramList(col("text"), 2).as("g")).as[Seq[String]].collect()
    out(0) shouldBe Seq("a b", "b a", "a b")
    out(1) shouldBe Seq("a ", " b")
    out(2) shouldBe Seq.empty
    out(3) shouldBe Seq.empty
  }

  "tokenNgramList" should "match the transform/concat_ws HOF spelling over tokens" in {
    val df = Seq("The quick  brown fox", "one", "").toDF("text")
      .select(tokens(col("text")).as("t"))
    val native = df.select(tokenNgramList(col("t"), 2).as("g")).as[Seq[String]].collect()
    val hof = df.select(
      when(org.apache.spark.sql.functions.size(col("t")) >= 2, transform(
        sequence(lit(0), org.apache.spark.sql.functions.size(col("t")) - 2),
        i => concat_ws(" ", slice(col("t"), i + 1, lit(2)))))
        .otherwise(array().cast("array<string>")).as("g"))
      .as[Seq[String]].collect()
    native shouldBe hof
    native(0) shouldBe Seq("the quick", "quick brown", "brown fox")
  }
}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  "quantizedCosine" should "be exactly 1.0 for identical vectors and 0 for zero vectors" in {
    val df = Seq(
      (Seq(0.5f, -0.25f, 0.125f), Seq(0.5f, -0.25f, 0.125f)),
      (Seq(0f, 0f, 0f), Seq(1f, 2f, 3f))).toDF("a", "b")
      .select(quantizedCosine(col("a"), col("b")).as("c")).as[Double].collect()
    df(0) shouldBe 1.0
    df(1) shouldBe 0.0
  }

  it should "not overflow on large-magnitude components (norm product in double)" in {
    // components ~100 → each norm² ≈ 64·1e10; the long product would exceed
    // 2^63 and abort under ANSI — the double product must survive and the
    // cosine of a vector with itself stays exactly 1.0
    val big = Seq.fill(64)(100.0f)
    val df = Seq((big, big)).toDF("a", "b")
      .select(quantizedCosine(col("a"), col("b")).as("c")).as[Double].collect()
    df(0) shouldBe 1.0
  }

  it should "equal the pre-quantized variant" in {
    val df = Seq((Seq(0.1f, 0.9f, -0.4f), Seq(-0.3f, 0.2f, 0.8f))).toDF("a", "b")
      .withColumn("qa", quantize1000(col("a")))
      .withColumn("qb", quantize1000(col("b")))
      .select(
        quantizedCosine(col("a"), col("b")).as("c1"),
        quantizedCosinePre(col("qa"), col("qb"),
          ldot(col("qa"), col("qa")), ldot(col("qb"), col("qb"))).as("c2"))
      .collect()(0)
    df.getDouble(0) shouldBe df.getDouble(1)
  }

  "ldot" should "compute exact integer dot products" in {
    Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
      .select(ldot(col("a"), col("b"))).as[Long].head() shouldBe 32L
  }

  "sortedIntersectCount" should "count common elements of sorted distinct arrays" in {
    Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 8L), 2L),
      (Seq.empty[Long], Seq(1L), 0L),
      (Seq(1L, 2L), Seq(1L, 2L), 2L)).toDF("a", "b", "want")
      .select(sortedIntersectCount(col("a"), col("b")).as("got"), col("want"))
      .collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }
}

/** Parity of the round-4 native expressions against the exact declarative
  * formulations they replaced (which were themselves oracle-verified). */
class PiiNativeSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.{functions => F}
  import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, CardRe}

  private val tricky = Seq(
    "contact Bob.Smith+x@Example.COM or 192.168.1.1 now",
    "card 4111222233334444 expires soon",
    "nothing sensitive here",
    "short digits 123456789012 stay",
    "mail john@192.168.0.1.com hides an ip",   // ip counted on original, gone after email scrub
    "edge 999.999.999.999 and 1.2.3.4.5",      // regex-shape ips, overlapping runs
    "a@b.co x@y.de two@mails.org",
    "1234567890123@digits.example",            // card-shaped local part — email wins the scrub order
    "@ lone at 123",
    "", " ", "12.34.56.78abc no boundary")

  "PiiScrub" should "equal the 6-regex declarative formulation on tricky inputs" in {
    val df = tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val t = col("text")
    val decl = df.select(col("id"),
      F.size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      F.size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      F.size(regexp_extract_all(t, lit(CardRe), lit(0))).cast("long").as("n_cards"),
      regexp_replace(regexp_replace(regexp_replace(t, EmailRe, "[PII]"),
        Ipv4Re, "[PII]"), CardRe, "[PII]").as("scrubbed"))
      .orderBy("id").collect()
    val nat = graft.operators.TextAnalysis.scrubPii(df, "id", "text")
      .orderBy("id").collect()
    nat.zip(decl).foreach { case (n, d) =>
      n.getAs[Long]("n_emails") shouldBe d.getAs[Long]("n_emails")
      n.getAs[Long]("n_ips") shouldBe d.getAs[Long]("n_ips")
      n.getAs[Long]("n_cards") shouldBe d.getAs[Long]("n_cards")
      n.getAs[String]("scrubbed") shouldBe d.getAs[String]("scrubbed")
    }
  }

  it should "handle null text as null row" in {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "a@b.co")).toDF("id", "text")
    val out = graft.operators.TextAnalysis.scrubPii(df, "id", "text").orderBy("id").collect()
    out(0).isNullAt(1) shouldBe true
    out(1).getAs[Long]("n_emails") shouldBe 1L
  }

  "RollingFingerprint" should "equal the interpreted aggregate fold on sampled ASCII text" in {
    val df = Sampled.asciiSamples(200, 120).toDF("text")
    val hof = aggregate(tokens(col("text")), lit(0L), (acc, t) =>
      (acc * 131L + ascii(substring(t, 1, 1)).cast("long") * 7L + F.length(t)) % 1000000007L)
    df.select(rollingFp(tokens(col("text"))).as("native"), hof.as("decl"))
      .collect().foreach(r => r.getLong(0) shouldBe r.getLong(1))
  }

  it should "use the Unicode code point of the first char (DuckDB ascii parity)" in {
    // "é" → U+00E9 = 233; h = (0·131 + 233·7 + 1) mod 1e9+7 = 1632
    Seq("é").toDF("text").select(rollingFp(tokens(col("text"))))
      .as[Long].head() shouldBe 1632L
  }

  "rendezvousNode" should "assign stably, balance keys, and move minimally on node add" in {
    val nodes = Seq("node-a", "node-b", "node-c")
    val keys = spark.range(3000L).select(col("id"))
    val r = keys.select(col("id"),
        rendezvousNode(col("id"), nodes).as("n3"),
        rendezvousNode(col("id"), nodes :+ "node-d").as("n4"))
      .as[(Long, String, String)].collect()
    // deterministic re-evaluation
    r.take(10).foreach { case (k, n3, _) =>
      spark.range(k, k + 1).select(rendezvousNode(col("id"), nodes))
        .as[String].head() shouldBe n3
    }
    // roughly balanced (md5 uniformity; generous band around 1000/node)
    val byNode = r.groupBy(_._2).view.mapValues(_.length).toMap
    nodes.foreach { n => byNode(n) should (be >= 800 and be <= 1200) }
    // minimal movement: every moved key moved TO the new node, ~1/4 of keys
    val moved = r.filter(t => t._2 != t._3)
    all(moved.map(_._3)) shouldBe "node-d"
    moved.length should (be >= 550 and be <= 950)
    // degenerate single-node membership
    spark.range(1L).select(rendezvousNode(col("id"), Seq("only")))
      .as[String].head() shouldBe "only"
  }
}

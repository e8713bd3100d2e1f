package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Column-level function library.
  *
  * Everything here is built from `org.apache.spark.sql.functions` (codegen'd)
  * or native Catalyst expressions — no Scala UDFs in hot paths. Determinism
  * is a design requirement throughout: hashing is md5-derived (stable across
  * engines for oracle checks), float math is either integer-quantized or a
  * sequential double fold (`aggregate`), never an order-sensitive parallel
  * reduction.
  */
object GraftFunctions {

  private def arity(name: String, usage: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    children => {
      require(children.length == n,
        s"$name expects $n argument(s): $usage (got ${children.length})")
      build(children)
    }

  private def litInt(name: String, e: Expression): Int = {
    require(e.foldable, s"$name: this argument must be a literal integer")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def litStr(name: String, e: Expression): String = {
    require(e.foldable, s"$name: this argument must be a literal string")
    e.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
  }

  /** Literal `array<array<bigint>>` (centroid table) baked into a native
    * expression at plan time. */
  private def litLongMatrix(name: String, e: Expression)
      : Seq[Seq[Long]] = {
    require(e.foldable, s"$name: the centroid table must be a literal")
    val ad = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until ad.numElements()).map { i =>
      val row = ad.getArray(i)
      (0 until row.numElements()).map(row.getLong).toSeq
    }
  }

  /** Literal `array<array<array<bigint>>>` (per-subspace codebooks). */
  private def litLongCube(name: String, e: Expression)
      : Seq[Seq[Seq[Long]]] = {
    require(e.foldable, s"$name: the codebook table must be a literal")
    val ad = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until ad.numElements()).map { s =>
      val cb = ad.getArray(s)
      (0 until cb.numElements()).map { i =>
        val row = cb.getArray(i)
        (0 until row.numElements()).map(row.getLong).toSeq
      }
    }
  }

  /** The single source of truth for native-function registration — consumed
    * by both `register` (imperative) and GraftExtensions (session
    * extensions), so the two surfaces cannot drift. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_murmur2", "graft_murmur2(bytes) — Kafka-parity murmur2",
      arity("graft_murmur2", "(binary)", 1)(c => Murmur2Expr(c.head))),
    ("graft_ldot", "graft_ldot(a, b) — integer dot of two array<bigint>",
      arity("graft_ldot", "(array<bigint>, array<bigint>)", 2)(c => LongArrayDot(c(0), c(1)))),
    ("graft_sic", "graft_sic(a, b) — |A∩B| of sorted distinct array<bigint>",
      arity("graft_sic", "(array<bigint>, array<bigint>)", 2)(
        c => SortedLongIntersectCount(c(0), c(1)))),
    ("graft_cngrams", "graft_cngrams(s, n) — sorted 60-bit md5 hashes of char n-grams",
      arity("graft_cngrams", "(string, literal int)", 2)(
        c => CharNgramHashSet(c(0), litInt("graft_cngrams", c(1))))),
    ("graft_minhash", "graft_minhash(tokens, k, shingle) — minhash signature",
      arity("graft_minhash", "(array<string>, literal int, literal int)", 3)(
        c => MinHashSignature(c(0), litInt("graft_minhash", c(1)), litInt("graft_minhash", c(2))))),
    ("graft_tokens", "graft_tokens(text) — lowercased whitespace tokens, empties removed",
      arity("graft_tokens", "(string)", 1)(c => TokenizeText(c.head))),
    ("graft_simhash", "graft_simhash(tokens, bits) — md5-majority-vote simhash",
      arity("graft_simhash", "(array<string>, literal int)", 2)(
        c => SimHashBits(c(0), litInt("graft_simhash", c(1))))),
    ("graft_stopcount", "graft_stopcount(tokens, 'w1,w2') — tokens contained in the word set",
      arity("graft_stopcount", "(array<string>, literal string)", 2)(
        c => StopwordCount(c(0), litStr("graft_stopcount", c(1))))),
    ("graft_langid", "graft_langid(tokens, 'en:the,a;de:der') — stopword-argmax language id",
      arity("graft_langid", "(array<string>, literal string)", 2)(
        c => PredictedLang(c(0), litStr("graft_langid", c(1))))),
    ("graft_toklen", "graft_toklen(tokens) — sum of token lengths in characters",
      arity("graft_toklen", "(array<string>)", 1)(c => SumTokenChars(c.head))),
    ("graft_alpha_count", "graft_alpha_count(text) — count of ASCII letters [A-Za-z]",
      arity("graft_alpha_count", "(string)", 1)(c => AsciiAlphaCount(c.head))),
    ("graft_wngram_stats", "graft_wngram_stats(text, n) — [total, distinct] word n-grams",
      arity("graft_wngram_stats", "(string, literal int)", 2)(
        c => WordNgramStats(c(0), litInt("graft_wngram_stats", c(1))))),
    ("graft_wngrams", "graft_wngrams(text, n) — sorted 60-bit md5 hashes of word n-grams",
      arity("graft_wngrams", "(string, literal int)", 2)(
        c => WordNgramHashSet(c(0), litInt("graft_wngrams", c(1))))),
    ("graft_wngram_list", "graft_wngram_list(text, n) — surface word n-gram texts, duplicates kept",
      arity("graft_wngram_list", "(string, literal int)", 2)(
        c => WordNgramList(c(0), litInt("graft_wngram_list", c(1))))),
    ("graft_tngram_list", "graft_tngram_list(tokens, n) — token n-gram texts, duplicates kept",
      arity("graft_tngram_list", "(array<string>, literal int)", 2)(
        c => TokenNgramList(c(0), litInt("graft_tngram_list", c(1))))),
    ("graft_scrub_pii",
      "graft_scrub_pii(text, 'emailRe', 'ipRe', 'cardRe', 'repl') — struct(scrubbed, n_emails, n_ips, n_cards)",
      arity("graft_scrub_pii", "(string, 4 literal strings)", 5)(
        c => PiiScrub(c(0), litStr("graft_scrub_pii", c(1)), litStr("graft_scrub_pii", c(2)),
          litStr("graft_scrub_pii", c(3)), litStr("graft_scrub_pii", c(4))))),
    ("graft_rolling_fp", "graft_rolling_fp(tokens) — polynomial rolling fingerprint mod 1e9+7",
      arity("graft_rolling_fp", "(array<string>)", 1)(c => RollingFingerprint(c.head))),
    ("graft_drop_tokens_at", "graft_drop_tokens_at(text, sorted_positions) — re-join with tokens at positions removed",
      arity("graft_drop_tokens_at", "(string, array<int>)", 2)(
        c => DropTokensAt(c(0), c(1)))),
    ("graft_cell_argmin", "graft_cell_argmin(v, centroids) — argmin ‖v−c‖² centroid index",
      arity("graft_cell_argmin", "(array<bigint>, literal array<array<bigint>>)", 2)(
        c => CellArgmin(c(0), litLongMatrix("graft_cell_argmin", c(1))))),
    ("graft_pq_encode", "graft_pq_encode(v, codebooks, subDim) — all m PQ codes in one pass",
      arity("graft_pq_encode", "(array<bigint>, literal array<array<array<bigint>>>, literal int)", 3)(
        c => PqEncode(c(0), litLongCube("graft_pq_encode", c(1)), litInt("graft_pq_encode", c(2))))),
    ("graft_pq_approx_dot", "graft_pq_approx_dot(qv, codes, codebooks, subDim) — Σ_s ⟨q_s, cb_s[code_s]⟩",
      arity("graft_pq_approx_dot", "(array<bigint>, array<int>, literal codebooks, literal int)", 4)(
        c => PqApproxDot(c(0), c(1), litLongCube("graft_pq_approx_dot", c(2)),
          litInt("graft_pq_approx_dot", c(3))))),
    ("graft_pq_sub_distortions", "graft_pq_sub_distortions(v, codes, codebooks, subDim) — per-subspace ‖v_s−cw_s‖²",
      arity("graft_pq_sub_distortions", "(array<bigint>, array<int>, literal codebooks, literal int)", 4)(
        c => PqSubDistortions(c(0), c(1), litLongCube("graft_pq_sub_distortions", c(2)),
          litInt("graft_pq_sub_distortions", c(3))))))

  /** Register expression-backed functions for SQL use: installs only the
    * ones the session's registry does not hold yet, so the per-read calls
    * from Tables cost a lookup each and replace nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Codegen'd integer dot product over two `array<bigint>` columns. */
  def ldot(a: Column, b: Column): Column = call_function("graft_ldot", a, b)

  /** Codegen'd |A∩B| over two sorted-distinct `array<bigint>` columns. */
  def sortedIntersectCount(a: Column, b: Column): Column = call_function("graft_sic", a, b)

  /** A string set as sorted distinct 60-bit md5 hashes — the merge-join-able
    * representation for set similarity (collision odds ~|A||B|/2^60 per
    * pair, i.e. never at corpus scale). The 15-hex-char md5 prefix is
    * bijective with the long, so an engine-portable oracle can intersect
    * `substr(md5(x),1,15)` strings instead. */
  def hashedSet(arr: Column): Column =
    array_sort(array_distinct(transform(arr, x => md5Hash60(x))))

  /** Sorted distinct 60-bit gram hashes of a string, in one native pass —
    * equals `hashedSet(charNgrams(s, n))`, ~10× faster (CharNgramHashSet). */
  def charNgramHashSet(s: Column, n: Int): Column =
    call_function("graft_cngrams", s, lit(n))

  /** MinHash signature of a token array in one native pass (empty array for
    * docs with fewer than `shingleSize` tokens) — see MinHashSignature. */
  def minhashSig(toks: Column, numHashes: Int, shingleSize: Int): Column =
    call_function("graft_minhash", toks, lit(numHashes), lit(shingleSize))

  /** Kafka-parity murmur2 over UTF-8 bytes of a string column (J1 routing). */
  def murmur2(c: Column): Column = {
    // Routed through the registered SQL function so we don't depend on the
    // (private) Column-from-Expression constructor.
    call_function("graft_murmur2", c.cast("binary"))
  }

  /** Kafka default partitioner: non-negative murmur2 mod numPartitions. */
  def kafkaPartition(key: Column, numPartitions: Int): Column =
    pmod(murmur2(key).bitwiseAND(lit(0x7fffffff)), lit(numPartitions))

  // --------------------------------------------------------------------
  // Registry wire format (reference AvroSerde.scala:123-138): every payload
  // is framed `magic(1 byte = 0) ++ schemaId(4 bytes BE) ++ body`. Built
  // purely from codegen'd byte functions.
  // --------------------------------------------------------------------

  /** Frame a binary payload with the 5-byte registry header. Mask to the
    * low 32 bits BEFORE hex: a negative id hexes through bigint promotion
    * to 16 'F'-led chars and lpad(…,8) would TRUNCATE them all to
    * 0xFFFFFFFF (same trap EventTimes.intToFixed documents). */
  def wrapRegistry(payload: Column, schemaId: Column): Column =
    concat(
      to_binary(lit("00"), lit("hex")),
      to_binary(lpad(hex(schemaId.cast("long").bitwiseAND(lit(0xFFFFFFFFL))), 8, "0"), lit("hex")),
      payload)

  /** Schema id from a framed payload (bytes 2-5, big-endian), re-signed:
    * ids with the top bit set come back as the negative int they were
    * framed from (a plain cast("int") would throw under ANSI). */
  def registrySchemaId(framed: Column): Column = {
    val u = conv(hex(substring(framed, 2, 4)), 16, 10).cast("long")
    when(u >= 2147483648L, u - 4294967296L).otherwise(u).cast("int")
  }

  /** Strip the 5-byte header → body bytes. */
  def unwrapRegistry(framed: Column): Column =
    substring(framed, 6, Int.MaxValue)

  // --------------------------------------------------------------------
  // Text primitives (shared by dedup / text-analysis operators)
  // --------------------------------------------------------------------

  /** Lowercased whitespace tokens, empty tokens removed. Matches the
    * reference's index tokenizer `title.split("\\s").trim.toLowerCase`
    * (examples/.../ESecondaryIndex.scala:109-111) modulo empty-token
    * hygiene. Native single pass ≡ `filter(split(lower(trim(text)),
    * "\\s+"), t => t =!= "")` (the HOF filter is interpreted per token and
    * sat on every text query's hot path). */
  def tokens(text: Column): Column = call_function("graft_tokens", text)

  /** SimHash over a token array in one native pass (see SimHashBits). */
  def simhashBits(toks: Column, bits: Int): Column =
    call_function("graft_simhash", toks, lit(bits))

  /** Count of tokens contained in the fixed word set, duplicates included
    * — native one-pass form of `size(filter(toks, _.isin(words)))`. */
  def stopwordCount(toks: Column, words: Seq[String]): Column = {
    require(words.forall(w => !w.contains(",") && !w.contains(";")),
      "stopword lists are baked as csv literals")
    call_function("graft_stopcount", toks, lit(words.mkString(",")))
  }

  /** Stopword-argmax language id over `lang -> words` lists (PredictedLang). */
  def langId(toks: Column, lists: Seq[(String, Seq[String])]): Column = {
    require(lists.forall { case (l, ws) =>
      !l.contains(":") && !l.contains(";") && ws.forall(w => !w.contains(",") && !w.contains(";"))
    }, "language spec is baked as a ';'/':'/',' literal")
    val spec = lists.map { case (l, ws) => s"$l:${ws.mkString(",")}" }.mkString(";")
    call_function("graft_langid", toks, lit(spec))
  }

  /** Σ token length in characters — native form of the `aggregate` fold. */
  def sumTokenChars(toks: Column): Column = call_function("graft_toklen", toks)

  /** One-pass PII scrub struct (scrubbed, n_emails, n_ips, n_cards) — the
    * native form of 3×regexp_extract_all + 3×regexp_replace (PiiScrub). */
  def scrubPiiStruct(text: Column, emailRe: String, ipRe: String, cardRe: String,
      replacement: String): Column =
    call_function("graft_scrub_pii", text,
      lit(emailRe), lit(ipRe), lit(cardRe), lit(replacement))

  /** Polynomial rolling fingerprint over a token array — native form of
    * `aggregate(toks, 0L, (h,t) => (h*131 + ascii(substr(t,1,1))*7 +
    * length(t)) % 1e9+7)` (RollingFingerprint). */
  def rollingFp(toks: Column): Column = call_function("graft_rolling_fp", toks)

  /** `[total, distinct]` word n-grams of single-space-separated text in one
    * native pass (WordNgramStats) — the repetition quality signal. */
  def wordNgramStats(text: Column, n: Int): Column =
    call_function("graft_wngram_stats", text, lit(n))

  /** Sorted distinct 60-bit word-n-gram hashes (WordNgramHashSet) — the
    * overlap-joinable representation for decontamination. */
  def wordNgramHashSet(text: Column, n: Int): Column =
    call_function("graft_wngrams", text, lit(n))

  /** Surface-form word n-gram TEXTS in document order, duplicates kept
    * (single-space split, empties kept — WordNgramList). */
  def wordNgramList(text: Column, n: Int): Column =
    call_function("graft_wngram_list", text, lit(n))

  /** N-gram texts of a token array, duplicates kept (TokenNgramList). */
  def tokenNgramList(toks: Column, n: Int): Column =
    call_function("graft_tngram_list", toks, lit(n))

  /** Distinct word n-grams joined with a space. Empty array when the doc has
    * fewer than n tokens (guard: Spark `sequence(a,b)` with a>b counts DOWN). */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Distinct character n-grams of a (pre-normalized) string. */
  def charNgrams(s: Column, n: Int): Column =
    when(length(s) >= n,
      array_distinct(transform(
        sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Normalize text for fingerprinting: lowercase, collapse whitespace. */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** S9 record views over a raw log value: parse JSON / XML payloads with an
    * explicit schema (reference LogRDD.json:118-123, LogRDD.xml:130-132). */
  def jsonView(value: Column, schemaDdl: String): Column =
    from_json(value, schemaDdl, Map.empty[String, String])

  def xmlView(value: Column, schemaDdl: String): Column =
    from_xml(value, org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))

  /** Deterministic 60-bit non-negative hash from md5 (stable across engines:
    * DuckDB `md5` produces the same hex). Used where a numeric hash is
    * needed; where only ordering matters we compare md5 hex strings directly. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Rendezvous (highest-random-weight) node assignment (Thaler & Ravishankar
    * 1998): the node maximizing `md5Hash60(node ‖ ':' ‖ key)` — the
    * elastic-membership generalization of fixed murmur2 partition routing
    * (reference Group routing, SURVEY J1): adding/removing a node moves ONLY
    * the keys whose argmax changes (~1/n of them), no global reshuffle.
    * Pure row-local codegen'd expression; ties (2⁻⁶⁰) break to the first
    * node in list order — deterministic and SQL-mirrorable. */
  def rendezvousNode(key: Column, nodes: Seq[String]): Column = {
    require(nodes.nonEmpty, "need at least one node")
    if (nodes.size == 1) lit(nodes.head)
    else {
      val hs = nodes.map(n => md5Hash60(concat(lit(n), lit(":"), key.cast("string"))))
      val gmax = greatest(hs: _*)
      nodes.zip(hs).foldRight(lit(null).cast("string")) { case ((n, h), acc) =>
        when(h === gmax, lit(n)).otherwise(acc)
      }
    }
  }

  // --------------------------------------------------------------------
  // Vector primitives over Array[Float]/Array[Double] embedding columns.
  // Sequential left-fold => deterministic bit-exact results independent of
  // partitioning (and reproducible in the DuckDB oracle).
  // --------------------------------------------------------------------

  /** Dot product as a sequential double fold. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity (0 for zero-norm inputs). */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dotProduct(a, b) / denom)
  }

  /** Integer-quantized embedding (×1000, rounded) — exact arithmetic for
    * order-independent operations like LSH hyperplane signs. */
  def quantize1000(a: Column): Column =
    transform(a, x => round(x.cast("double") * 1000).cast("long"))

  /** Cosine over ×1000-quantized vectors: dot and norms are exact integer
    * arithmetic, so the final double is bit-identical regardless of
    * partitioning or engine (the oracle reproduces it exactly) — at a ~1e-3
    * quantization cost that is irrelevant for near-dup/ANN ranking.
    * Prefer `quantizedCosinePre` when vectors are reused across pairs. */
  def quantizedCosine(a: Column, b: Column): Column = {
    val qa = quantize1000(a)
    val qb = quantize1000(b)
    quantizedCosinePre(qa, qb, ldot(qa, qa), ldot(qb, qb))
  }

  /** Re-join single-space-split `text` with the tokens at the given SORTED
    * int positions removed (DropTokensAt — the span-trim rebuild). */
  def dropTokensAt(text: Column, sortedPositions: Column): Column =
    call_function("graft_drop_tokens_at", text, sortedPositions)

  /** Native IVF cell assignment: argmin centroid index of `v` against a
    * literal centroid table (CellArgmin) — same (distance, lowest-index)
    * tie-break as the `array_min(array(struct(...)))` spelling. */
  def cellArgmin(v: Column, centroids: Array[Array[Long]]): Column =
    call_function("graft_cell_argmin", v,
      typedlit(centroids.map(_.toSeq).toSeq))

  /** All m PQ codes of `v` in one native pass (PqEncode). */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Long]]], subDim: Int): Column =
    call_function("graft_pq_encode", v,
      typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq), lit(subDim))

  /** Asymmetric PQ score Σ_s ⟨q_s, codebook_s[code_s]⟩ (PqApproxDot). */
  def pqApproxDot(qv: Column, codes: Column,
      codebooks: Array[Array[Array[Long]]], subDim: Int): Column =
    call_function("graft_pq_approx_dot", qv, codes,
      typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq), lit(subDim))

  /** Per-subspace PQ reconstruction error array (PqSubDistortions). */
  def pqSubDistortions(v: Column, codes: Column,
      codebooks: Array[Array[Array[Long]]], subDim: Int): Column =
    call_function("graft_pq_sub_distortions", v, codes,
      typedlit(codebooks.map(_.map(_.toSeq).toSeq).toSeq), lit(subDim))

  /** Cosine from pre-quantized vectors + precomputed self-dots (norms²).
    * Pre-quantizing each side once before a pair join avoids re-quantizing
    * both vectors per candidate pair. The norm product multiplies in DOUBLE
    * (not long — na·nb overflows int64 for component magnitudes ≳ 7 and
    * ANSI would abort); each factor is < 2^53 so both engines correctly
    * round the same exact product to the same double. */
  def quantizedCosinePre(qa: Column, qb: Column, na: Column, nb: Column): Column =
    when(na === 0L || nb === 0L, lit(0.0))
      .otherwise(ldot(qa, qb).cast("double") /
        sqrt(na.cast("double") * nb.cast("double")))
}

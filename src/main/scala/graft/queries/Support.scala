package graft.queries

import graft.operators.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared constants and DuckDB-oracle SQL builders for the query
  * registries (split from the former monolithic SparkEntry). Everything
  * here is parity-critical: the SQL strings are evaluated verbatim by
  * DuckDB and must stay bit-compatible with the Spark-side expressions
  * (see SparkEntry's determinism conventions). */
private[graft] object Support {
  // epoch µs literals (UTC)
  /** Fixed demo salt for q56 (a deployment generates its own via
    * SecureRandom, reference TimeCryptoProof.generateSalt). */
  private[graft] val CryptoSaltHex = "000102030405060708090A0B0C0D0E0F"

  /** Wilson-score lower bound (z = 1.96) over exact counts `k`/`n` — ONE
    * SQL string evaluated verbatim by both Spark and DuckDB, so every
    * double op has the identical parse tree and the result is
    * bit-identical (the canonical-double rule applied to a whole formula).
    * z² stays the product expression 1.96*1.96: a 3.8416 literal would be
    * a DIFFERENT double. */
  private[graft] val WilsonLb =
    "(CAST(k AS DOUBLE)/CAST(n AS DOUBLE) + (1.96*1.96)/(2*CAST(n AS DOUBLE)) " +
      "- 1.96*sqrt((CAST(k AS DOUBLE)/CAST(n AS DOUBLE)*(1 - CAST(k AS DOUBLE)/CAST(n AS DOUBLE)))/CAST(n AS DOUBLE) " +
      "+ (1.96*1.96)/(4*CAST(n AS DOUBLE)*CAST(n AS DOUBLE)))) " +
      "/ (1 + (1.96*1.96)/CAST(n AS DOUBLE))"

  private[graft] val Jan1_96 = 820454400000000L // 1996-01-01T00:00:00Z
  private[graft] val Jan1_98 = 883612800000000L // 1998-01-01T00:00:00Z
  private[graft] val Jan1_00 = 946684800000000L // 2000-01-01T00:00:00Z

  private[graft] val Jan1_97 = 852076800000000L // 1997-01-01T00:00:00Z
  private[graft] val Jan1_24 = 1704067200000000L // 2024-01-01T00:00:00Z
  private[graft] val Jan10_24 = 1704844800000000L // 2024-01-10T00:00:00Z
  private[graft] val Jan20_24 = 1705708800000000L // 2024-01-20T00:00:00Z
  private[graft] val WeekUs = 7L * 24 * 3600 * 1000000L
  private[graft] val DayUs = 24L * 3600 * 1000000L

  /** Exact double-sum via per-value integer quantization: round(x×scale) as
    * BIGINT (the proven round-parity pattern of `quantize1000`), summed as
    * long — exact, order-independent, and a codegen'd long hash-agg instead
    * of a DECIMAL sum (~3× cheaper per row; the difference compounds at
    * 100 TB) — then one double division. Headroom at scale=100: values ≲1e5
    * quantize to ≲1e7/row, >1e11 rows per group before BIGINT overflow. */
  private[graft] def qSum(c: Column, as: String, scale: Long = 100L): Column =
    (sum(round(c * scale).cast("long")).cast("double") / scale.toDouble).as(as)
  /** ×10000 variant for derived measures (e.g. price×(1−discount)) that
    * previously carried 4+ fractional digits. */
  private[graft] def qSumWide(c: Column, as: String): Column =
    qSum(c, as, 10000L)
  /** DuckDB rendering of the same sum (SUM(BIGINT) is HUGEINT there —
    * the inner CAST back to BIGINT keeps both sides in long space). */
  private[graft] def qSumSql(expr: String, as: String, scale: Long = 100L): String =
    s"CAST(CAST(SUM(CAST(round(($expr)*$scale) AS BIGINT)) AS BIGINT) AS DOUBLE)/$scale.0 AS $as"
  private[graft] def qSumWideSql(expr: String, as: String): String =
    qSumSql(expr, as, 10000L)

  // ------------------------------------------------------------------
  // DuckDB oracles. Table names are bound by the driver to the same parquet
  // files. Shared SQL fragments mirror GraftFunctions exactly.
  // ------------------------------------------------------------------

  private[graft] val toksSql =
    // explicit whitespace class, NOT RE2 '\s': Java/native tokenization
    // treats vertical tab 0x0B as whitespace, RE2's \s does not
    """list_filter(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0B\f\r]+'), x -> x != '')"""
  private[graft] val normSql = """regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')"""
  /** Space-joined word n-gram starting at 1-based `ws[i]` (WordNgrams parity). */
  private[graft] def wordGramSql(n: Int): String =
    (0 until n).map(k => s"ws[i+$k]").mkString(" || ' ' || ")
  private[graft] def qvSql(v: String) = s"[CAST(round(x::DOUBLE*1000) AS BIGINT) for x in $v]"
  /** Quantized cosine over the first `dims` elements of qa/qb — the
    * canonical-double spelling every s-query shares; `dims` < the stored
    * width is the matryoshka-truncation case (s42). */
  private[graft] def cosSqlDims(dims: Int) = {
    val r = s"range(1,${dims + 1})"
    s"""CASE WHEN list_sum([qa[i]*qa[i] for i in $r]) * list_sum([qb[i]*qb[i] for i in $r]) = 0 THEN 0.0
       |ELSE list_sum([qa[i]*qb[i] for i in $r])::DOUBLE /
       |  sqrt((list_sum([qa[i]*qa[i] for i in $r]) * list_sum([qb[i]*qb[i] for i in $r]))::DOUBLE) END""".stripMargin
  }

  private[graft] val cosSql = cosSqlDims(64)

  // 16-term simhash bit sum, generated to match Dedup.simhash exactly
  private[graft] val simhashBitsSql: String = (0 until 16).map { i =>
    val mask = 1L << i
    s"(CASE WHEN 2*len([v for v in vals if (v & $mask) > 0]) > n THEN ${1L << i} ELSE 0 END)"
  }.mkString(" + ")

  // 32-bit variant (first 8 md5 hex digits per token — SimHashBits bits>16)
  private[graft] val simhashBits32Sql: String = (0 until 32).map { i =>
    val mask = 1L << i
    s"(CASE WHEN 2*len([v for v in vals if (v & $mask) > 0]) > n THEN ${1L << i} ELSE 0 END)"
  }.mkString(" + ")

  // per-token 32-bit value: first 8 md5 hex chars big-endian
  private[graft] val vals32Sql: String = {
    val terms = (0 until 8).map { j =>
      val w = 1L << (4 * (7 - j))
      s"(strpos('0123456789abcdef', substr(md5(x),${j + 1},1))-1)*$w"
    }.mkString("\n  + ")
    s"[ $terms for x in t]"
  }

  // 8-plane LSH bucket, generated to match Similarity.lshBucket exactly
  private[graft] val lshBucketSql: String = (0 until 8).map { p =>
    val dot = s"list_sum([qv[j+1] * (CASE WHEN strpos('0123456789abcdef', substr(md5('p${p}_' || j::VARCHAR), 1, 1)) <= 8 THEN 1 ELSE -1 END) for j in range(0,64)])"
    s"(CASE WHEN $dot >= 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  /** IVF top-k oracle: Similarity.ivfTopK's k-means training is
    * deterministic (seed = `nCentroids` lowest-id vectors, a FIXED number of
    * Lloyd iterations, exact integer distance algebra), so the whole index
    * build unrolls into chained CTEs — one assignment + one recentering pair
    * per iteration. Parity-critical details, each mirroring Similarity.scala:
    *  - assignment argmin is over (cNorm − 2·v·c, cell) — integer-exact on
    *    both engines (products < 2^53 so DuckDB's HUGEINT and Spark's LONG
    *    agree), ties to the lowest cell like Spark's struct array_min;
    *  - recentered coordinate = Java Math.round(sum/n) = FLOOR(x + 0.5)
    *    (NOT DuckDB round(), which is half-away-from-zero);
    *  - empty cells keep their previous centroid (LEFT JOIN + COALESCE);
    *  - probes = the nProbe smallest (distance, cell) per query, matching
    *    slice(array_sort(...)); candidate dedup via DISTINCT. */
  /** Shared IVF cell-assignment CTE chain (`v`, `c0`..`c<iters>`, `cells`):
    * the fixed-iteration integer k-means of Similarity.ivfIndex unrolled —
    * used by both the s3 top-k oracle and the s4 semantic-dedup oracle. */
  /** Unrolled deterministic k-means cells (Similarity.ivfIndex parity).
    * `trainWhere` restricts the TRAINING set (seeds + Lloyd iterations);
    * with `assignAll` the final assignment runs over the FULL embeddings
    * table against the frozen centroids — the s40 insert-into-frozen-index
    * semantics. Defaults reproduce the original full-corpus chain
    * byte-identically. */
  private[graft] def ivfCellsSql(nCentroids: Int, iterations: Int,
      trainWhere: String = "", assignAll: Boolean = false): String = {
    def cnormOf(c: String) = s"list_sum([$c[i]*$c[i] for i in range(1,65)])"
    def dotOf(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in range(1,65)])"
    val iters = (1 to iterations).map { t =>
      s"""d$t AS (SELECT a.id, a.v, c.cell,
         |  ROW_NUMBER() OVER (PARTITION BY a.id
         |    ORDER BY c.cn - 2*${dotOf("c.c", "a.v")}, c.cell) AS rn
         |  FROM v a CROSS JOIN c${t - 1} c),
         |a$t AS (SELECT id, v, cell FROM d$t WHERE rn = 1),
         |u$t AS (SELECT cell, unnest(range(1, 65)) AS dim, unnest(v) AS val FROM a$t),
         |m$t AS (SELECT cell, list(CAST(FLOOR(CAST(s AS DOUBLE)/n + 0.5) AS BIGINT) ORDER BY dim) AS c
         |  FROM (SELECT cell, dim, SUM(val) AS s, COUNT(*) AS n FROM u$t GROUP BY cell, dim)
         |  GROUP BY cell),
         |c$t AS (SELECT p.cell, COALESCE(m.c, p.c) AS c, ${cnormOf("COALESCE(m.c, p.c)")} AS cn
         |  FROM c${t - 1} p LEFT JOIN m$t m USING (cell))""".stripMargin
    }.mkString(",\n")
    val where = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    val va = if (assignAll)
      s"""|va AS (SELECT vec_id AS id, ${qvSql("embedding")} AS v FROM embeddings),
          |""".stripMargin
    else ""
    val assignSrc = if (assignAll) "va" else "v"
    s"""v AS (SELECT vec_id AS id, ${qvSql("embedding")} AS v FROM embeddings$where),
       |${va}c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cell, v AS c, ${cnormOf("v")} AS cn
       |  FROM (SELECT id, v FROM v ORDER BY id LIMIT $nCentroids) seed),
       |$iters,
       |fd AS (SELECT a.id, a.v, c.cell,
       |  ROW_NUMBER() OVER (PARTITION BY a.id
       |    ORDER BY c.cn - 2*${dotOf("c.c", "a.v")}, c.cell) AS rn
       |  FROM $assignSrc a CROSS JOIN c$iterations c),
       |cells AS (SELECT id, v, cell FROM fd WHERE rn = 1)""".stripMargin
  }

  /** Shared s37/s38 CTE chain — covariance register + unrolled integer
    * power iteration, ending at `v$iterations`. Mirrors
    * Similarity.covarianceRegister/powerIterationPpm: HUGEINT ≡ Spark
    * DECIMAL(38), per-iteration ±10⁶ max-abs normalization with the
    * offset floor-div rule and positive-at-argmax sign canonicalization.
    * The mean offset is 10⁶ (not 10³): floor((s+K·n)/n)−K is identical
    * for any K where the numerator is non-negative, so the larger K keeps
    * every historical hash while staying sign-safe down to a per-dim mean
    * of −10⁶ (embedding mean −1000.0) instead of −1.0. `cov` and every
    * iteration CTE are MATERIALIZED: DuckDB inlines the rest, and `v$k`
    * reads `mx$k` three times, each re-expanding the chain below it (s38
    * ran out of memory on a 15 GB host at sf0.01). */
  private[graft] def powerIterationChainSql(iterations: Int): String = {
    def itr(k: Int) =
      s"""u$k AS MATERIALIZED (SELECT cov.i AS j, SUM(CAST(cv AS HUGEINT) * vv) AS u
         |  FROM cov JOIN v${k - 1} ON cov.j = v${k - 1}.j GROUP BY 1),
         |mx$k AS MATERIALIZED (SELECT u AS um FROM u$k ORDER BY abs(u) DESC, j LIMIT 1),
         |v$k AS MATERIALIZED (SELECT j, CAST(CASE WHEN (SELECT um FROM mx$k) = 0 THEN 0 ELSE
         |    ((CASE WHEN (SELECT um FROM mx$k) < 0 THEN -u ELSE u END) * 1000000
         |    + abs((SELECT um FROM mx$k)) * 1000000)
         |    // greatest(abs((SELECT um FROM mx$k)), 1) - 1000000 END AS HUGEINT) AS vv
         |  FROM u$k)""".stripMargin
    s"""v AS (SELECT vec_id AS id, ${qvSql("embedding")} AS qv FROM embeddings),
       |qv AS (SELECT id, unnest(qv) AS x, unnest(range(len(qv))) AS i FROM v),
       |mu AS (SELECT i, ((CAST(SUM(x) AS BIGINT) + 1000000 * COUNT(*)) // COUNT(*)) - 1000000 AS mu
       |  FROM qv GROUP BY 1),
       |cent AS (SELECT id, qv.i, x - mu AS c FROM qv JOIN mu USING (i)),
       |cov AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(SUM(a.c * b.c) AS BIGINT) AS cv
       |  FROM cent a JOIN cent b ON a.id = b.id GROUP BY 1, 2),
       |v0 AS (SELECT i AS j, CAST(1 AS HUGEINT) AS vv FROM mu),
       |${(1 to iterations).map(itr).mkString(",\n")}""".stripMargin
  }

  private[graft] def principalDirectionSql(iterations: Int): String =
    s"""WITH ${powerIterationChainSql(iterations)}
       |SELECT CAST(j AS INTEGER) AS dim, CAST(vv AS BIGINT) AS loading_ppm
       |FROM v$iterations ORDER BY dim""".stripMargin

  /** Rayleigh-over-trace concentration (s38) — shares the s37 chain. */
  private[graft] def varianceConcentrationSql(iterations: Int): String =
    s"""WITH ${powerIterationChainSql(iterations)},
       |ray AS (SELECT SUM(vi.vv * CAST(cv AS HUGEINT) * vj.vv) AS num
       |  FROM cov JOIN v$iterations vi ON cov.i = vi.j
       |           JOIN v$iterations vj ON cov.j = vj.j),
       |tn AS (SELECT (SELECT CAST(SUM(cv) AS HUGEINT) FROM cov WHERE i = j) AS trace,
       |       (SELECT SUM(vv * vv) FROM v$iterations) AS vnorm)
       |SELECT (SELECT COUNT(*) FROM v) AS n_vectors,
       |  CAST((SELECT trace FROM tn) AS BIGINT) AS trace,
       |  CAST((SELECT num FROM ray) * 1000000
       |    // greatest((SELECT trace FROM tn) * (SELECT vnorm FROM tn), 1) AS BIGINT) AS rayleigh_ppm""".stripMargin

  /** `candidatePred`: extra AND-predicate on the candidate side (alias
    * `n`) — e.g. a tombstone mask `" AND n.id % 9 != 0"` (s35). Empty =
    * unfiltered (all existing callers). */
  private[graft] def ivfTopKSql(nCentroids: Int, iterations: Int, nProbe: Int, k: Int,
      candidatePred: String = "", trainWhere: String = "",
      assignAll: Boolean = false): String = {
    def dotOf(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in range(1,65)])"
    val qsrc = if (assignAll) "va" else "v"
    s"""WITH ${ivfCellsSql(nCentroids, iterations, trainWhere, assignAll)},
       |pd AS (SELECT q.id AS query_id, c.cell,
       |  ROW_NUMBER() OVER (PARTITION BY q.id
       |    ORDER BY c.cn - 2*${dotOf("c.c", "q.v")}, c.cell) AS rn
       |  FROM $qsrc q CROSS JOIN c$iterations c WHERE q.id < 5),
       |probes AS (SELECT query_id, cell FROM pd WHERE rn <= $nProbe),
       |p AS (SELECT DISTINCT pr.query_id, n.id AS neighbor_id, q.v AS qa, n.v AS qb
       |  FROM probes pr
       |  JOIN $qsrc q ON q.id = pr.query_id
       |  JOIN cells n ON n.cell = pr.cell AND n.id != pr.query_id$candidatePred),
       |sims AS (SELECT DISTINCT query_id, neighbor_id, $cosSql AS cosine FROM p),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sims)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** PQ ANN unrolled: per subspace, the ivfCellsSql k-means pattern runs
    * over the dimension slice (same seed/argmin/round rules); each corpus
    * vector joins its assigned centroid VECTOR per subspace, and the
    * asymmetric score sums integer slice-dots against those
    * reconstructions — every code and score matches Spark bit-for-bit. */
  /** Per-subspace k-means chains (`s{i}v`..`s{i}e`), referencing an
    * existing `v (id, v)` CTE. `s{i}e` carries each vector's assigned
    * centroid VECTOR for subspace i (the reconstruction the asymmetric
    * score dots against). */
  /** Probe-sweep recall oracle: ONE ivfCellsSql training chain shared by
    * every probe depth; per depth, candidates → exact-cosine top-k →
    * hit count against the brute-force truth. */
  private[graft] def ivfProbeSweepSql(nCentroids: Int, iterations: Int,
      probes: Seq[Int], k: Int): String = {
    def dotOf(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in range(1,65)])"
    val perProbe = probes.map { p =>
      s"""cand$p AS (SELECT DISTINCT pr.query_id, n.id AS neighbor_id,
         |    q.v AS qa, n.v AS qb
         |  FROM (SELECT query_id, cell FROM pd WHERE rn <= $p) pr
         |  JOIN v q ON q.id = pr.query_id
         |  JOIN cells n ON n.cell = pr.cell AND n.id != pr.query_id),
         |top$p AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, neighbor_id) AS rank
         |    FROM cand$p) WHERE rank <= $k),
         |rec$p AS (SELECT tq.query_id, CAST($p AS INTEGER) AS probe,
         |    CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |    CAST((1000000 * COALESCE(h.n_hits, 0)) // $k AS BIGINT) AS recall_ppm
         |  FROM (SELECT DISTINCT query_id FROM truth) tq
         |  LEFT JOIN (SELECT t.query_id, COUNT(*) AS n_hits FROM truth t
         |    JOIN top$p a ON t.query_id = a.query_id
         |      AND t.neighbor_id = a.neighbor_id GROUP BY 1) h
         |    ON tq.query_id = h.query_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${ivfCellsSql(nCentroids, iterations)},
       |tp AS (SELECT qq.id AS query_id, c.id AS neighbor_id, qq.v AS qa, c.v AS qb
       |  FROM v qq JOIN v c ON qq.id < 5 AND qq.id != c.id),
       |truth AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY $cosSql DESC, neighbor_id) AS rank FROM tp) WHERE rank <= $k),
       |pd AS (SELECT q.id AS query_id, c.cell,
       |  ROW_NUMBER() OVER (PARTITION BY q.id
       |    ORDER BY c.cn - 2*${dotOf("c.c", "q.v")}, c.cell) AS rn
       |  FROM v q CROSS JOIN c$iterations c WHERE q.id < 5),
       |$perProbe
       |${probes.map(p => s"SELECT * FROM rec$p").mkString("\nUNION ALL ")}
       |ORDER BY query_id, probe""".stripMargin
  }

  private[graft] def pqSubspacesSql(m: Int, ksub: Int, iterations: Int): String = {
    val subDim = 64 / m
    val rng = s"range(1,${subDim + 1})"
    def cnormOf(c: String) = s"list_sum([$c[i]*$c[i] for i in $rng])"
    def dotOf(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in $rng])"
    (0 until m).map { sIx =>
      val p = s"s$sIx"
      val lo = sIx * subDim + 1
      val hi = (sIx + 1) * subDim
      val iters = (1 to iterations).map { t =>
        s"""${p}d$t AS (SELECT a.id, a.v, c.cell,
           |  ROW_NUMBER() OVER (PARTITION BY a.id
           |    ORDER BY c.cn - 2*${dotOf("c.c", "a.v")}, c.cell) AS rn
           |  FROM ${p}v a CROSS JOIN ${p}c${t - 1} c),
           |${p}a$t AS (SELECT id, v, cell FROM ${p}d$t WHERE rn = 1),
           |${p}u$t AS (SELECT cell, unnest(range(1, ${subDim + 1})) AS dim, unnest(v) AS val FROM ${p}a$t),
           |${p}m$t AS (SELECT cell, list(CAST(FLOOR(CAST(s AS DOUBLE)/n + 0.5) AS BIGINT) ORDER BY dim) AS c
           |  FROM (SELECT cell, dim, SUM(val) AS s, COUNT(*) AS n FROM ${p}u$t GROUP BY cell, dim)
           |  GROUP BY cell),
           |${p}c$t AS (SELECT pp.cell, COALESCE(mm.c, pp.c) AS c, ${cnormOf("COALESCE(mm.c, pp.c)")} AS cn
           |  FROM ${p}c${t - 1} pp LEFT JOIN ${p}m$t mm USING (cell))""".stripMargin
      }.mkString(",\n")
      s"""${p}v AS (SELECT id, v[$lo:$hi] AS v FROM v),
         |${p}c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cell, v AS c, ${cnormOf("v")} AS cn
         |  FROM (SELECT id, v FROM ${p}v ORDER BY id LIMIT $ksub) seed),
         |$iters,
         |${p}fd AS (SELECT a.id, c.c, c.cell,
         |  ROW_NUMBER() OVER (PARTITION BY a.id
         |    ORDER BY c.cn - 2*${dotOf("c.c", "a.v")}, c.cell) AS rn
         |  FROM ${p}v a CROSS JOIN ${p}c$iterations c),
         |${p}e AS (SELECT id, c AS cv FROM ${p}fd WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  /** `Σ_s ⟨q.v slice, s{i}e reconstruction⟩` — expects aliases `q` and `e{i}`. */
  private[graft] def pqApproxSumSql(m: Int): String = {
    val subDim = 64 / m
    (0 until m).map { sIx =>
      val off = sIx * subDim
      s"list_sum([e$sIx.cv[i]*q.v[$off+i] for i in range(1,${subDim + 1})])"
    }.mkString("\n      + ")
  }

  private[graft] def pqJoinsSql(m: Int, target: String): String =
    (0 until m).map(sIx => s"JOIN s${sIx}e e$sIx ON e$sIx.id = $target").mkString("\n  ")

  private[graft] def pqTopKSql(m: Int, ksub: Int, iterations: Int): String =
    s"""v AS (SELECT vec_id AS id, ${qvSql("embedding")} AS v FROM embeddings),
       |${pqSubspacesSql(m, ksub, iterations)},
       |pairs AS (SELECT q.id AS query_id, n.id AS neighbor_id,
       |    CAST(${pqApproxSumSql(m)} AS BIGINT) AS approx_dot
       |  FROM v q JOIN v n ON q.id < 5 AND q.id != n.id
       |  ${pqJoinsSql(m, "n.id")}),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY approx_dot DESC, neighbor_id) AS rank FROM pairs)""".stripMargin

  /** s41: codebooks trained on the `trainWhere` subset (pqSubspacesSql
    * over the filtered `v`), frozen, and applied to the `incWhere`
    * increment — per-subspace assignment to the final `s{i}c{iters}`
    * centroid tables, then the s32 distortion rollup on the increment. */
  private[graft] def pqDriftSql(m: Int, ksub: Int, iterations: Int,
      trainWhere: String, incWhere: String): String = {
    val subDim = 64 / m
    val rng = s"range(1,${subDim + 1})"
    def dotOf(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in $rng])"
    val per = (0 until m).map { i =>
      val lo = i * subDim + 1
      val hi = (i + 1) * subDim
      s"""x$i AS (SELECT a.id, a.sv, c.c,
         |    ROW_NUMBER() OVER (PARTITION BY a.id
         |      ORDER BY c.cn - 2*${dotOf("c.c", "a.sv")}, c.cell) AS rn
         |  FROM (SELECT id, v[$lo:$hi] AS sv FROM iv) a
         |  CROSS JOIN s${i}c$iterations c),
         |y$i AS (SELECT CAST($i AS INTEGER) AS subspace,
         |    CAST(list_sum([(sv[k]-c[k])*(sv[k]-c[k]) for k in $rng])
         |      AS BIGINT) AS d2
         |  FROM x$i WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id AS id, ${qvSql("embedding")} AS v
       |    FROM embeddings WHERE $trainWhere),
       |${pqSubspacesSql(m, ksub, iterations)},
       |iv AS (SELECT vec_id AS id, ${qvSql("embedding")} AS v
       |    FROM embeddings WHERE $incWhere),
       |$per,
       |d AS (${(0 until m).map(i => s"SELECT * FROM y$i").mkString(" UNION ALL ")})
       |SELECT subspace, COUNT(*) AS n, CAST(SUM(d2) AS BIGINT) AS sum_d2,
       |  CAST(CAST(SUM(d2) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_d2
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** IVF-PQ oracle: ivfCellsSql's coarse cells gate candidates (probes =
    * nProbe nearest cells per query), pqSubspacesSql's reconstructions
    * provide the asymmetric score — both chains share the one `v` CTE. */
  private[graft] def ivfPqSql(nCentroids: Int, ivfIters: Int, nProbe: Int,
      m: Int, ksub: Int, pqIters: Int, k: Int): String = {
    def dotOf64(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in range(1,65)])"
    s"""WITH ${ivfCellsSql(nCentroids, ivfIters)},
       |${pqSubspacesSql(m, ksub, pqIters)},
       |pd AS (SELECT q.id AS query_id, c.cell,
       |  ROW_NUMBER() OVER (PARTITION BY q.id
       |    ORDER BY c.cn - 2*${dotOf64("c.c", "q.v")}, c.cell) AS rn
       |  FROM v q CROSS JOIN c$ivfIters c WHERE q.id < 5),
       |probes AS (SELECT query_id, cell FROM pd WHERE rn <= $nProbe),
       |cand AS (SELECT DISTINCT pr.query_id, n.id AS neighbor_id
       |  FROM probes pr JOIN cells n ON n.cell = pr.cell AND n.id != pr.query_id),
       |pairs AS (SELECT cd.query_id, cd.neighbor_id,
       |    CAST(${pqApproxSumSql(m)} AS BIGINT) AS approx_dot
       |  FROM cand cd JOIN v q ON q.id = cd.query_id
       |  ${pqJoinsSql(m, "cd.neighbor_id")}),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY approx_dot DESC, neighbor_id) AS rank FROM pairs)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, approx_dot
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  private[graft] def pqTopKSelectSql(m: Int, ksub: Int, iterations: Int, k: Int): String =
    s"""WITH ${pqTopKSql(m, ksub, iterations)}
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, approx_dot
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Two-stage retrieval: the PQ candidate chain at `poolSize`, then an
    * exact quantized-cosine re-rank of the short list — same canonical
    * cosSql double as every other s-query. */
  private[graft] def pqRerankSql(m: Int, ksub: Int, iterations: Int, poolSize: Int, k: Int): String =
    s"""WITH ${pqTopKSql(m, ksub, iterations)},
       |cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= $poolSize),
       |px AS (SELECT c.query_id, c.neighbor_id, q.v AS qa, n.v AS qb
       |  FROM cand c JOIN v q ON q.id = c.query_id JOIN v n ON n.id = c.neighbor_id),
       |sims AS (SELECT query_id, neighbor_id, $cosSql AS cosine FROM px),
       |rr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM sims)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
       |FROM rr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Farthest-first traversal unrolled: each round is (top-1 by dmin DESC,
    * id) + a LEAST(dmin, dist-to-pick) relax — every CTE MATERIALIZED
    * (each is referenced twice: by the next pick and the next relax). */
  private[graft] def kCenterSql(k: Int): String = {
    val dot = "list_sum([a.v[i]*p.v[i] for i in range(1,65)])"
    val rounds = (2 to k).map { r =>
      val prev = if (r == 2) "d1" else s"d${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT id, v, nv, dmin FROM $prev ORDER BY dmin DESC, id LIMIT 1),
         |d$r AS MATERIALIZED (SELECT a.id, a.v, a.nv,
         |    LEAST(a.dmin, a.nv - 2*$dot + p.nv) AS dmin
         |  FROM $prev a, p$r p)""".stripMargin
    }.mkString(",\n")
    s"""WITH q0 AS (SELECT vec_id AS id, ${qvSql("embedding")} AS v FROM embeddings),
       |n AS MATERIALIZED (SELECT id, v, list_sum([v[i]*v[i] for i in range(1,65)]) AS nv FROM q0),
       |s1 AS MATERIALIZED (SELECT id, v, nv FROM n ORDER BY id LIMIT 1),
       |d1 AS MATERIALIZED (SELECT a.id, a.v, a.nv,
       |    a.nv - 2*$dot + p.nv AS dmin FROM n a, s1 p),
       |$rounds
       |SELECT * FROM (
       |  SELECT 1 AS rank, id AS center_id, CAST(0 AS BIGINT) AS radius_sq FROM s1
       |  ${(2 to k).map(r => s"UNION ALL SELECT $r, id, CAST(dmin AS BIGINT) FROM p$r").mkString("\n  ")})
       |ORDER BY rank""".stripMargin
  }

  /** MMR greedy diversification unrolled as `k − 1` chained CTE rounds
    * over a materialized top-`poolSize` pool + its pairwise cosine table
    * (pool²/query rows — tiny). Every multiply-referenced CTE is
    * MATERIALIZED (r7 CTE-inlining rule, else rounds expand k^rounds).
    * Mirrors Similarity.mmrDiversifyTopK AT ITS DEFAULT lambda = 0.5
    * ONLY (the `0.5·rel − 0.5·maxSim` score is hard-coded here): a query
    * pairing this oracle with a non-default lambda silently diverges —
    * thread the lambda through this builder first. Ties to the smallest
    * neighbor id. */
  private[graft] def mmrSql(poolSize: Int, k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""cand$r AS MATERIALIZED (
         |  SELECT p.query_id, p.neighbor_id, p.cosine, MAX(pp.cos) AS ms
         |  FROM pool p JOIN sel${r - 1} s ON s.query_id = p.query_id
         |  JOIN pp ON pp.query_id = p.query_id AND pp.ia = p.neighbor_id
         |    AND pp.ib = s.neighbor_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} x
         |      WHERE x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |pick$r AS (SELECT query_id, neighbor_id, cosine, $r AS rank FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY 0.5*cosine - 0.5*ms DESC, neighbor_id) AS rn FROM cand$r)
         |  WHERE rn = 1),
         |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1}
         |  UNION ALL SELECT * FROM pick$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id, ${qvSql("embedding")} AS qv FROM embeddings),
       |p0 AS (SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id, qq.qv AS qa, c.qv AS qb
       |      FROM q qq JOIN q c ON qq.vec_id < 5 AND qq.vec_id != c.vec_id),
       |sims AS (SELECT query_id, neighbor_id, qb, $cosSql AS cosine FROM p0),
       |pool AS MATERIALIZED (SELECT query_id, neighbor_id, qb, cosine FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS prank FROM sims)
       |  WHERE prank <= $poolSize),
       |pp AS MATERIALIZED (SELECT query_id, ia, ib, $cosSql AS cos FROM (
       |    SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
       |      a.qb AS qa, b.qb AS qb
       |    FROM pool a JOIN pool b ON a.query_id = b.query_id
       |      AND a.neighbor_id != b.neighbor_id)),
       |sel1 AS MATERIALIZED (SELECT query_id, neighbor_id, cosine, 1 AS rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id) AS rn FROM pool)
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, CAST(rank AS INTEGER) AS mmr_rank, neighbor_id, cosine
       |FROM sel$k ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** [[ivfTopKSql]] with the hard-negative label gate: candidates join the
    * label table and drop same-label neighbors BEFORE ranking — mirrors
    * Similarity.ivfHardNegatives over the same deterministic cells. */
  private[graft] def ivfHardNegSql(nCentroids: Int, iterations: Int, nProbe: Int, k: Int): String = {
    def dotOf(c: String, v: String) = s"list_sum([$c[i]*$v[i] for i in range(1,65)])"
    s"""WITH ${ivfCellsSql(nCentroids, iterations)},
       |lbl AS (SELECT vec_id AS id, label FROM embeddings),
       |pd AS (SELECT q.id AS query_id, c.cell,
       |  ROW_NUMBER() OVER (PARTITION BY q.id
       |    ORDER BY c.cn - 2*${dotOf("c.c", "q.v")}, c.cell) AS rn
       |  FROM v q CROSS JOIN c$iterations c WHERE q.id < 5),
       |probes AS (SELECT query_id, cell FROM pd WHERE rn <= $nProbe),
       |p AS (SELECT DISTINCT pr.query_id, n.id AS neighbor_id,
       |    nl.label AS neighbor_label, q.v AS qa, n.v AS qb
       |  FROM probes pr
       |  JOIN v q ON q.id = pr.query_id
       |  JOIN cells n ON n.cell = pr.cell AND n.id != pr.query_id
       |  JOIN lbl ql ON ql.id = pr.query_id
       |  JOIN lbl nl ON nl.id = n.id AND nl.label != ql.label),
       |sims AS (SELECT DISTINCT query_id, neighbor_id, neighbor_label,
       |    $cosSql AS cosine FROM p),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sims)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
       |  neighbor_label, cosine
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Kafka murmur2 emulated in SQL: 32-bit arithmetic over 64-bit ints
    * (mul32 splits the multiplier to stay under 2^63), little-endian 4-byte
    * chunks folded with list_reduce, tail + avalanche per the published
    * algorithm. Validated against the frozen JVM goldens (Murmur2Spec). */
  private[graft] val murmur2PartitionSql: String = {
    def mul32(a: String, b: String) =
      s"((($a)*(($b)%65536) + (((($a)*(($b)//65536))%65536)*65536)) % 4294967296)"
    val m = "1540483477" // 0x5bd1e995
    val seedLen = "xor(2538058380, length(s))" // 0x9747b28c ^ len
    val ks = "[ascii(substr(s,4*i+1,1)) + ascii(substr(s,4*i+2,1))*256 + " +
      "ascii(substr(s,4*i+3,1))*65536 + ascii(substr(s,4*i+4,1))*16777216 " +
      "for i in range(0, length(s)//4)]"
    val k1 = mul32("k", m)
    val k2 = s"xor($k1, ($k1)//16777216)" // k ^= k >>> 24
    val step = s"xor(${mul32("h", m)}, ${mul32(k2, m)})"
    val loop = s"list_reduce(list_prepend($seedLen, $ks), (h, k) -> $step)"
    val tb = "ascii(substr(s,(length(s)//4)*4+%d,1))"
    val tailVal = s"(CASE length(s)%4 WHEN 3 THEN ${tb.format(1)} + ${tb.format(2)}*256 + ${tb.format(3)}*65536 " +
      s"WHEN 2 THEN ${tb.format(1)} + ${tb.format(2)}*256 WHEN 1 THEN ${tb.format(1)} ELSE NULL END)"
    val ht = s"(CASE WHEN length(s)%4 = 0 THEN ($loop) ELSE ${mul32(s"xor(($loop), $tailVal)", m)} END)"
    val f1 = s"xor($ht, ($ht)//8192)" // h ^= h >>> 13
    val f2 = mul32(f1, m)
    val f3 = s"xor($f2, ($f2)//32768)" // h ^= h >>> 15
    s"CAST(((($f3) % 2147483648) % 32) AS INTEGER)" // (h & 0x7fffffff) % 32
  }

  private[graft] def langScoresSql(src: String = "documents"): String =
    TextAnalysis.StopwordLists.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"SELECT doc_id, '$lang' AS lang, len(list_filter($toksSql, x -> list_contains([$lst], x))) AS score FROM $src"
    }.mkString("\nUNION ALL\n")

  /** MinHash+LSH candidate-pair CTE chain over `src` → relation
    * mh_pairs(id_a, id_b, jaccard_est). Mirrors Dedup.minhashLsh with
    * numHashes=8, shingleSize=3, rowsPerBand=2: one 60-bit md5 prefix per
    * shingle, then the fixed (aᵢ·h+bᵢ) mod 2^61−1 permutations — HUGEINT
    * keeps the 122-bit product exact, matching MinHashSignature.permute. */
  /** Co-purchase triangle-count oracle (mirrors GraphAlgorithms
    * .cooccurrenceEdges + triangleCount). `cap`: whole-bucket basket drop
    * (≡ Dedup.capBuckets on the order key) applied BEFORE pairing. */
  private[graft] def copurchaseTrianglesSql(cap: Option[Long],
      transitivity: Boolean = false): String = {
    val liSrc = cap.fold("li0")(c =>
      s"(SELECT o, p FROM (SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS bn FROM li0) WHERE bn <= $c)")
    val finalSelect =
      if (!transitivity)
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
          |FROM w JOIN o ON w.v = o.src AND w.w = o.dst""".stripMargin
      else
        """tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
          |      FROM w JOIN o ON w.v = o.src AND w.w = o.dst),
          |wg AS (SELECT CAST(COALESCE(SUM((d*(d-1))//2), 0) AS BIGINT) AS n_wedges
          |      FROM deg)
          |SELECT n_triangles, n_wedges,
          |  CAST((3000000 * n_triangles) // GREATEST(n_wedges, 1) AS BIGINT)
          |    AS transitivity_ppm
          |FROM tri, wg""".stripMargin
    s"""WITH li0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT x.p AS a, y.p AS b
       |      FROM $liSrc x JOIN $liSrc y ON x.o = y.o AND x.p < y.p
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM
       |          (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
       |        GROUP BY v),
       |r AS (SELECT e.a, e.b, da.d*1000000000 + e.a AS ra, db.d*1000000000 + e.b AS rb
       |      FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
       |o AS (SELECT CASE WHEN ra < rb THEN a ELSE b END AS src,
       |             CASE WHEN ra < rb THEN b ELSE a END AS dst,
       |             greatest(ra, rb) AS rd FROM r),
       |w AS (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
       |      FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.rd < o2.rd)${
         if (transitivity) "," else ""}
       |$finalSelect""".stripMargin
  }

  private[graft] def minhashPairsSql(src: String, cap: Option[Long] = None): String = {
    val as = (0 until 8).map(graft.functions.MinHashSignature.coeffA).mkString(", ")
    val bs = (0 until 8).map(graft.functions.MinHashSignature.coeffB).mkString(", ")
    // cap: mirror of Dedup.capBuckets — ALL rows of any (band, band_hash)
    // bucket larger than the cap are dropped before pairing (whole-bucket
    // rule: deterministic, no tie-breaking, so both engines drop the same
    // rows and parity is exact)
    val bandedSrc = cap.fold("mh_banded")(c =>
      s"(SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY band, band_hash) AS bn FROM mh_banded) WHERE bn <= $c)")
    s"""mh_toks AS (SELECT doc_id, $toksSql AS t FROM $src),
       |mh_sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) AS gs
       |          FROM mh_toks WHERE len(t) >= 3),
       |mh_h AS (SELECT doc_id, [CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT) for g in gs] AS hs FROM mh_sh),
       |mh_sig AS (SELECT doc_id,
       |             [list_min([CAST((CAST(h AS HUGEINT) * ([$as][s+1]) + ([$bs][s+1])) % 2305843009213693951 AS BIGINT) for h in hs])
       |              for s in range(0,8)] AS sg FROM mh_h),
       |mh_banded AS (SELECT doc_id, b AS band, md5(array_to_string(sg[b*2+1:b*2+2], '|')) AS band_hash, sg
       |              FROM mh_sig, range(0,4) t(b)),
       |mh_pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |               len([i for i in range(1,9) if a.sg[i] = b.sg[i]]) / 8.0 AS jaccard_est
       |             FROM $bandedSrc a JOIN $bandedSrc b USING (band, band_hash)
       |             WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  /** Bigram-LM fluency (mirrors Retrieval.bigramLmFluency): add-one
    * smoothing, mean bigram probability ppm, sub-bigram docs 0. Complete
    * SELECT without ORDER BY — composable as a parenthesized subquery. */
  /** The KMV estimator as DuckDB SQL (mirrors Sketches.kmvEstExpr, k=32):
    * exact below k, else (k−1)·2⁴⁰ // (h_k // 2²⁰). */
  private[graft] def kmvEstCaseSql(nReg: String, hk: String): String =
    s"CAST(CASE WHEN $nReg < 32 THEN $nReg ELSE (31 * (1::BIGINT << 40)) " +
      s"// greatest($hk // (1::BIGINT << 20), 1) END AS BIGINT)"

  /** Integer-exact BM25 top-25 for terms (spark, join, shuffle) — the t13
    * oracle, also embedded as the lexical CTE of s7_hybrid_rrf:
    * idf = least((2(N−df)+1)·1e6 // (2df+1), 2e7) (Robertson idf argument
    * as a rational, 20× saturation instead of log);
    * tfsat = 44·tf·avgdl·1e6 // (20·tf·avgdl + 6·avgdl + 18·dl)
    * (k1=1.2, b=0.75 scaled by 20·avgdl); avgdl floored. */
  private[graft] def bm25TopKSql: String =
    s"""WITH base AS (SELECT doc_id, $toksSql AS t,
       |    CAST(len($toksSql) AS BIGINT) AS dl FROM documents),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS total_tokens FROM base),
       |tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM base)
       |  WHERE term IN ('spark', 'join', 'shuffle') GROUP BY doc_id, dl, term),
       |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |    (least(((2*(st.n_docs - df.df) + 1)*1000000) // (2*df.df + 1), 20000000)
       |     * ((44*tf.tf*(st.total_tokens//st.n_docs)*1000000)
       |        // (20*tf.tf*(st.total_tokens//st.n_docs)
       |            + 6*(st.total_tokens//st.n_docs) + 18*tf.dl))) // 1000000 AS contrib
       |  FROM tf JOIN df USING (term) CROSS JOIN st)
       |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score,
       |  CAST(COUNT(*) AS BIGINT) AS n_terms
       |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 25""".stripMargin

  private[graft] def lmFluencySql: String =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
       |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM tk, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
       |db AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM bg GROUP BY doc_id, w1, w2),
       |c12 AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c12 FROM db GROUP BY w1, w2),
       |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
       |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
       |  FROM (SELECT unnest(t) AS tok FROM tk)),
       |sc AS (SELECT db.doc_id,
       |    CAST(SUM(db.cnt * (((c12.c12 + 1)*1000000) // (c1.c1 + v.v))) AS BIGINT) AS sp,
       |    CAST(SUM(db.cnt) AS BIGINT) AS n_bigrams
       |  FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
       |  GROUP BY db.doc_id)
       |SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       |  CASE WHEN COALESCE(sc.n_bigrams, 0) > 0 THEN sc.sp // sc.n_bigrams
       |    ELSE 0 END AS fluency_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Register a recursive delete of `path` at JVM exit — bounds the temp
    * footprint of queries that must write through a real file sink (w9):
    * the sink dir stays readable for the query's lazy downstream reads
    * within the run, and a Verify/Bench/PlanAudit JVM leaves nothing
    * behind. */
  private val exitPaths = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      var p = exitPaths.poll()
      while (p != null) { rm(p.toFile); p = exitPaths.poll() }
    }))
  private[graft] def deleteOnExit(path: java.nio.file.Path): Unit = {
    exitHook
    exitPaths.add(path): Unit
  }

  /** Centroid-dot score CTE chain `q/x/xm/c/sc` shared by the s43 AUC and
    * s44 calibration oracles (mirrors Similarity.centroidScores):
    * truncated-mean centroid of `posLabel` (s5's xm shape — Spark `div`
    * truncates toward zero, so negative sums emulate it), int64 dot per
    * vector. Composable WITH-prefix (no leading WITH, no trailing comma).
    * Dimension-agnostic (index range derives from each row's len(qv), like
    * the operator) and total on posLabel-absent input: the empty-centroid
    * fallback mirrors Similarity.centroidScores's coalesce-to-[] (ldot
    * iterates min(len) → score 0), so operator and oracle agree on ALL
    * inputs, not just ones where the label exists. */
  private[graft] def centroidScoreSql(posLabel: Int): String =
    s"""q AS (SELECT vec_id, label, ${qvSql("embedding")} AS qv FROM embeddings),
       |x AS (SELECT i, CAST(SUM(qv[i]) AS BIGINT) AS s,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM (SELECT qv, unnest(range(1, len(qv)+1)) AS i FROM q
       |            WHERE label = $posLabel) GROUP BY i),
       |xm AS (SELECT i,
       |        CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS s FROM x),
       |c AS (SELECT COALESCE(list(s ORDER BY i), CAST([] AS BIGINT[])) AS cv FROM xm),
       |sc AS (SELECT q.vec_id, q.label,
       |    CAST(COALESCE(list_sum(
       |      [qv[i]*cv[i] for i in range(1, least(len(qv), len(cv))+1)]), 0)
       |      AS BIGINT) AS score
       |  FROM q CROSS JOIN c)""".stripMargin

  /** Balanced-Rocchio CTE chain (mirrors Retrieval.rocchioScore):
    * hashed-bigram features, one class-weighted centroid-difference
    * weight table (`w(b) = Σ y·m·cnt`, m = opposite-class count), margins
    * as HUGEINT, final BIGINT surface. fe is multiply-referenced → AS
    * MATERIALIZED. */
  private[graft] def rocchioSql(buckets: Int): String =
    s"""WITH fe AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % $buckets AS b,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS gram
       |        FROM (SELECT doc_id, lang, $toksSql AS t FROM documents) tk,
       |        UNNEST(generate_series(1, len(t)-1)) AS u(i))
       |  GROUP BY doc_id, y, b),
       |cl AS (SELECT
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
       |  FROM documents),
       |w AS (SELECT b, CAST(SUM(y * (CASE WHEN y = 1 THEN cl.n_neg ELSE cl.n_pos END)
       |      * cnt) AS BIGINT) AS w
       |  FROM fe CROSS JOIN cl GROUP BY b),
       |mf AS (SELECT doc_id, y, SUM(CAST(cnt AS HUGEINT)*w) AS m
       |  FROM fe JOIN w USING (b) GROUP BY doc_id, y)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS label,
       |  CAST(COALESCE(mf.m, 0) AS BIGINT) AS margin,
       |  CAST(CASE WHEN COALESCE(mf.m, 0) > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred,
       |  (CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END)
       |    = (CASE WHEN COALESCE(mf.m, 0) > 0 THEN 1 ELSE -1 END) AS correct
       |FROM documents d LEFT JOIN mf USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Kneser-Ney bigram fluency (mirrors Retrieval.knBigramFluency):
    * absolute discount 3/4 as a rational, continuation-probability
    * interpolation, staged integer floor divisions. `c12` feeds four
    * readers → AS MATERIALIZED (round-7 CTE-inlining gotcha). Complete
    * SELECT without ORDER BY — composable. */
  private[graft] def knFluencySql: String =
    s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
       |bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM tk, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
       |db AS MATERIALIZED (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM bg GROUP BY doc_id, w1, w2),
       |c12 AS MATERIALIZED (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c12
       |  FROM db GROUP BY w1, w2),
       |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |    CAST(COUNT(*) AS BIGINT) AS n1pre FROM c12 GROUP BY w1),
       |ns AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1suf FROM c12 GROUP BY w2),
       |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM c12),
       |sc AS (SELECT db.doc_id,
       |    CAST(SUM(db.cnt * (
       |      ((4*c12.c12 - 3)*1000000) // (4*c1.c1)
       |      + (((3*c1.n1pre*1000000) // (4*c1.c1))
       |         * ((ns.n1suf*1000000) // tt.t_types)) // 1000000
       |    )) AS BIGINT) AS sp,
       |    CAST(SUM(db.cnt) AS BIGINT) AS n_bigrams
       |  FROM db JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       |    JOIN ns USING (w2) CROSS JOIN tt
       |  GROUP BY db.doc_id)
       |SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       |  CASE WHEN COALESCE(sc.n_bigrams, 0) > 0 THEN sc.sp // sc.n_bigrams
       |    ELSE 0 END AS kn_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** DSIR importance (mirrors Retrieval.dsirImportance, target = src1,
    * B = 8192). Complete SELECT without ORDER BY — composable. */
  private[graft] def dsirImportanceSql: String =
    s"""WITH tk AS (SELECT doc_id, (source = 'src1') AS is_t, $toksSql AS t
       |  FROM documents),
       |bg AS (SELECT doc_id, is_t, t[i] || ' ' || t[i+1] AS gram
       |  FROM tk, UNNEST(generate_series(1, len(t)-1)) AS u(i)),
       |fe AS (SELECT doc_id, is_t,
       |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 8192 AS b,
       |    CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY doc_id, is_t, b),
       |bs AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT) AS cnt_t,
       |    CAST(SUM(cnt) AS BIGINT) AS cnt_r FROM fe GROUP BY b),
       |tt AS (SELECT CAST(COALESCE(SUM(cnt_t), 0) AS BIGINT) AS tot_t,
       |    CAST(COALESCE(SUM(cnt_r), 0) AS BIGINT) AS tot_r FROM bs),
       |wt AS (SELECT b,
       |    least((((cnt_t + 1)*1000000000) // (tot_t + 8192)) * 1000000
       |      // greatest(((cnt_r + 1)*1000000000) // (tot_r + 8192), 1),
       |      1000000000) AS w_ppm
       |  FROM bs CROSS JOIN tt),
       |sc AS (SELECT fe.doc_id, CAST(SUM(fe.cnt * wt.w_ppm) AS BIGINT) AS sw,
       |    CAST(SUM(fe.cnt) AS BIGINT) AS n_feats
       |  FROM fe JOIN wt USING (b) GROUP BY fe.doc_id)
       |SELECT d.doc_id, (d.source = 'src1') AS is_target,
       |  COALESCE(sc.n_feats, 0) AS n_feats,
       |  CASE WHEN COALESCE(sc.n_feats, 0) > 0 THEN sc.sw // sc.n_feats
       |    ELSE 0 END AS importance_ppm
       |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** Top-100 repeated 5-gram spans (mirrors Dedup.repeatedSpans). The
    * ORDER BY + LIMIT are part of the result contract (deterministic
    * top-k), so they stay inside when composed as a subquery. */
  private[graft] def repeatedSpansSql: String =
    s"""WITH rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, ${wordGramSql(5)} AS gram
       |  FROM rw, UNNEST(generate_series(1, len(ws) - 4)) AS t(i))
       |SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |  CAST(COUNT(*) AS BIGINT) AS n_occ, MIN(doc_id) AS first_doc
       |FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY df DESC, n_occ DESC, gram LIMIT 100""".stripMargin

  /** Near-dup cluster labels over the mh_pairs chain (mirrors
    * Dedup.nearDupClusters): CC of the jaccard_est ≥ 0.5 pair graph as a
    * recursive reach, label = min vertex. Requires `WITH RECURSIVE` and a
    * preceding `minhashPairsSql(...)` in the same WITH. Single-sourced for
    * d7/d16/d20/d34, p2 and t21. */
  private[graft] val clusterCompSql: String =
    """cl_e AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE jaccard_est >= 0.5),
      |cl_sym AS (SELECT src, dst FROM cl_e UNION SELECT dst, src FROM cl_e),
      |cl_reach(a, b) AS (
      |  SELECT src, src FROM cl_sym
      |  UNION
      |  SELECT r.a, s.dst FROM cl_reach r JOIN cl_sym s ON r.b = s.src),
      |cl_comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM cl_reach GROUP BY a)""".stripMargin

  /** 0..255 md5 bucket of a key expression (mirrors Sampling.md5Bucket256:
    * last two md5 hex digits). Single-sourced for q29 and d33. */
  private[graft] def md5Bucket256Sql(key: String): String = {
    val hx = "'0123456789abcdef'"
    s"CAST((strpos($hx, substr(md5($key::VARCHAR), 31, 1)) - 1) * 16 + " +
      s"(strpos($hx, substr(md5($key::VARCHAR), 32, 1)) - 1) AS BIGINT)"
  }

  /** train/val/test label of a key (mirrors Sampling.splitCol defaults). */
  private[graft] def md5SplitCaseSql(key: String): String =
    s"CASE WHEN ${md5Bucket256Sql(key)} < 200 THEN 'train' " +
      s"WHEN ${md5Bucket256Sql(key)} < 228 THEN 'val' ELSE 'test' END"

  /** Per-doc intra-document duplicate-n-gram registers (mirrors
    * TextAnalysis.intraDocRepetition): positions 0-based, coverage =
    * distinct token positions under any within-doc duplicated gram. */
  private[graft] def intraDocRepetitionSql(n: Int): String =
    s"""WITH rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, i - 1 AS pos, ${wordGramSql(n)} AS gram
       |  FROM rw, UNNEST(generate_series(1, len(ws) - ${n - 1})) AS t(i)),
       |d AS (SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY doc_id, gram) AS c FROM g)
       |  WHERE c >= 2),
       |cov AS (SELECT doc_id,
       |    CAST(COUNT(DISTINCT p) AS BIGINT) AS covered_tokens,
       |    CAST(COUNT(DISTINCT pos) AS BIGINT) AS dup_occ
       |  FROM (SELECT doc_id, pos, UNNEST(range(pos, pos + $n)) AS p FROM d)
       |  GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(c.dup_occ, 0) AS BIGINT) AS dup_occ,
       |  CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       |  CAST((COALESCE(c.covered_tokens, 0) * 1000000)
       |    // GREATEST(len(w.ws), 1) AS BIGINT) AS repetition_ppm
       |FROM rw w LEFT JOIN cov c USING (doc_id) ORDER BY w.doc_id""".stripMargin

  /** Per-doc cross-document duplicated-span coverage (mirrors
    * Dedup.duplicatedSpanCoverage): grams with df ≥ minDf over distinct
    * docs, coverage = distinct token positions under any such window.
    * `g` is multiply-referenced → AS MATERIALIZED (r7 inlining rule). */
  private[graft] def duplicatedSpanCoverageSql(n: Int, minDf: Long): String =
    s"""WITH rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, i - 1 AS pos,
       |    CAST(concat('0x', substr(md5(${wordGramSql(n)}), 1, 15)) AS BIGINT) AS gh
       |  FROM rw, UNNEST(generate_series(1, len(ws) - ${n - 1})) AS t(i)),
       |dg AS (SELECT gh FROM (
       |    SELECT gh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gh)
       |  WHERE df >= $minDf),
       |cov AS (SELECT doc_id,
       |    CAST(COUNT(DISTINCT p) AS BIGINT) AS covered_tokens,
       |    CAST(COUNT(DISTINCT pos) AS BIGINT) AS dup_windows
       |  FROM (SELECT g.doc_id, g.pos, UNNEST(range(g.pos, g.pos + $n)) AS p
       |        FROM g JOIN dg USING (gh))
       |  GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(c.dup_windows, 0) AS BIGINT) AS dup_windows,
       |  CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       |  CAST((COALESCE(c.covered_tokens, 0) * 1000000)
       |    // GREATEST(len(w.ws), 1) AS BIGINT) AS coverage_ppm
       |FROM rw w LEFT JOIN cov c USING (doc_id) ORDER BY w.doc_id""".stripMargin

  /** Per-doc duplicated-span TRIM (mirrors Dedup.trimDuplicatedSpans):
    * keeper occurrence per dup gram = packed min(doc·2²⁰ + pos); a token
    * position is dropped iff covered by a non-keeper dup occurrence. */
  private[graft] def trimDuplicatedSpansSql(n: Int, minDf: Long): String =
    s"""WITH rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS MATERIALIZED (SELECT doc_id, i - 1 AS pos,
       |    CAST(concat('0x', substr(md5(${wordGramSql(n)}), 1, 15)) AS BIGINT) AS gh
       |  FROM rw, UNNEST(generate_series(1, len(ws) - ${n - 1})) AS t(i)
       |  WHERE i - 1 < 1048576 AND doc_id < 8796093022208),
       |dk AS (SELECT gh, MIN(doc_id * 1048576 + pos) AS kpk FROM g
       |  GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= $minDf),
       |dr AS (SELECT DISTINCT doc_id, p
       |  FROM (SELECT g.doc_id, UNNEST(range(g.pos, g.pos + $n)) AS p
       |        FROM g JOIN dk USING (gh)
       |        WHERE g.doc_id * 1048576 + g.pos <> dk.kpk)),
       |tk AS (SELECT doc_id, i - 1 AS p, ws[i] AS tok
       |  FROM rw, UNNEST(generate_series(1, len(ws))) AS t(i)),
       |kp AS (SELECT t.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS kept_tokens,
       |    string_agg(t.tok, ' ' ORDER BY t.p) AS trimmed_text
       |  FROM tk t LEFT JOIN dr ON dr.doc_id = t.doc_id AND dr.p = t.p
       |  WHERE dr.p IS NULL
       |  GROUP BY t.doc_id)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  COALESCE(k.trimmed_text, '') AS trimmed_text
       |FROM rw w LEFT JOIN kp k USING (doc_id) ORDER BY w.doc_id""".stripMargin

  /** q101's sign-safe per-type integer mean of `cents` (the q160/s27
    * offset rule: numerator shifted by 10⁶·n so truncation and floor
    * agree below zero) — ONE spelling PER ENGINE, shared by the batch
    * CUSUM (q101) and the streaming monitor (w19): the two gates must
    * assert the same reference level by construction. */
  private[graft] val offsetMeanSparkSql: String =
    "((sum(cents) + 1000000 * count(1)) div count(1)) - 1000000"
  private[graft] val offsetMeanDuckSql: String =
    "((CAST(SUM(cents) AS BIGINT) + 1000000 * COUNT(*)) // COUNT(*)) - 1000000"

  /** q82's trailing-window anomaly oracle (20-row history, min 8, 3σ via
    * integer cross-multiplication) — shared VERBATIM by the batch gate
    * (q82, Analytics.rollingAnomalies) and the streaming drain (w18,
    * StatefulOps.anomalyMonitor): the two operators implement the same
    * flag rule by definition, so they must face one SQL spelling. */
  private[graft] val rollingAnomalySql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CAST(round(value*100) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL),
      |w AS (SELECT user_id, event_id, ts_us, cents,
      |    COUNT(cents) OVER h AS n,
      |    CAST(SUM(cents) OVER h AS HUGEINT) AS s,
      |    CAST(SUM(cents*cents) OVER h AS HUGEINT) AS q
      |  FROM e WINDOW h AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, ts_us, cents, CAST(n AS BIGINT) AS n_hist
      |FROM w WHERE n >= 8 AND (n*cents - s)*(n*cents - s) > 9*(n*q - s*s)
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  /** q61's CMS (4×64, weight 1, per-user events) register CTEs — shared
    * by the q61 batch gate and the w21 streaming drain (whose Spark sides
    * both call Sketches.cmsBuild): bucket = seeded md5-60 % 64, counter =
    * row count. Composable WITH-prefix. */
  private[graft] val cmsCellsSql: String =
    """cell AS (SELECT unnest(range(0, 4)) AS r, CAST(user_id AS VARCHAR) AS k
      |  FROM events),
      |cms AS (SELECT r,
      |    CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':' || k), 1, 15)) AS BIGINT)
      |      % 64 AS b,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM cell GROUP BY 1, 2)""".stripMargin

  /** HLL (m=64) register/estimate CTE chain keyed by `key` over `from`
    * (user_id hashed): b → r → reg → a → e, with [[hllEstSql]] the
    * estimate expression over e.s — single source for the q63 batch gate
    * and the w11 streaming drain (whose Spark sides share
    * Sketches.hllEstimateCol the same way). q79's sliding variant keeps
    * its own chain: it interposes a window merge between reg and a.
    * Composable WITH-prefix (no leading WITH, no trailing comma). */
  private[graft] def hllChainSql(key: String, from: String): String =
    s"""b AS (SELECT $key,
       |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
       |  FROM $from),
       |r AS (SELECT $key, hv % 64 AS idx,
       |    (hv // 64) % (1::BIGINT << 40) AS w40 FROM b),
       |reg AS (SELECT $key, idx,
       |    MAX(CASE WHEN w40 = 0 THEN 41 ELSE 41 - length(bin(w40)) END) AS mreg
       |  FROM r GROUP BY 1, 2),
       |a AS (SELECT $key,
       |    CAST(SUM(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS sp,
       |    CAST(COUNT(*) AS BIGINT) AS np
       |  FROM reg GROUP BY 1),
       |e AS (SELECT $key, sp + (64 - np) * (1::BIGINT << 41) AS s FROM a)""".stripMargin

  /** The HLL raw-estimate expression over [[hllChainSql]]'s `e.s`. */
  private[graft] val hllEstSql: String =
    "CAST(709 * ((4096 * (1::BIGINT << 41)) // s) // 1000 AS BIGINT)"

  /** The t2 keep predicate over [[qualityMetricsSql]]'s columns (mirrors
    * TextAnalysis.keepCol — ONE spelling for the t2/w15/w16 oracles, the
    * same single-source discipline as keepCol on the Spark side). Pass a
    * qualifier (e.g. "m.") when the metrics CTE is joined to documents,
    * whose own n_tokens/n_chars would otherwise be ambiguous. */
  private[graft] def keepSql(q: String = ""): String =
    s"(${q}n_tokens >= 10 AND ${q}n_tokens <= 100000 AND " +
      s"(CASE WHEN ${q}n_chars > 0 THEN ${q}alpha_len*1000000//${q}n_chars ELSE 0 END) >= 500000)"

  /** Quality metrics CTE body over `src` (mirrors TextAnalysis.qualityScore). */
  private[graft] def qualityMetricsSql(src: String): String = {
    val allStop = TextAnalysis.StopwordLists.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  len($toksSql)::BIGINT AS n_tokens,
       |  length(text)::BIGINT AS n_chars,
       |  len(list_filter($toksSql, x -> list_contains([$allStop], x)))::BIGINT AS stop_hits,
       |  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT AS alpha_len,
       |  list_sum(list_prepend(0, [length(x) for x in $toksSql]))::BIGINT AS sum_tok_len
       |FROM $src""".stripMargin
  }


  /** Unrolled fixed-iteration PageRank oracle over the brand↔type graph —
    * same chained-CTE trick as ivfTopKSql: every floor division the Spark
    * loop performs appears literally, so ranks match bit-for-bit. DuckDB
    * `//` on non-negative integers ≡ Spark `div`; SUM returns HUGEINT, cast
    * back to BIGINT after the damped product. */
  /** Unrolled fixed-iteration label propagation over the brand↔type graph
    * — each round is neighbor-label counts, per-vertex plurality pick
    * (count desc, label asc — ASCII byte order, identical collation both
    * engines) and a keep-own-label fallback for isolated vertices. */
  /** The label-propagation CTE chain over the brand/type bipartite graph
    * (eraw → e → v → l0 → l1..l`iterations`), shared by q66 (the labels
    * themselves) and q180 (modularity of the same labels — single-source
    * rule: the audit must score EXACTLY the partition q66 reports). */
  private[graft] def labelPropChainSql(iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""l$i AS (SELECT l.vertex, COALESCE(p.label, l.label) AS label
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT vertex, label FROM (
         |      SELECT n.vertex, n.label,
         |        ROW_NUMBER() OVER (PARTITION BY n.vertex
         |          ORDER BY n.n DESC, n.label) AS rn
         |      FROM (SELECT e.dst AS vertex, p.label, COUNT(*) AS n
         |            FROM e JOIN l${i - 1} p ON p.vertex = e.src
         |            GROUP BY e.dst, p.label) n)
         |    WHERE rn = 1) p ON p.vertex = l.vertex)""".stripMargin
    }.mkString(",\n")
    s"""eraw AS (
       |  SELECT 'b:' || p_brand AS src, 't:' || p_type AS dst FROM part
       |  UNION ALL
       |  SELECT 't:' || p_type AS src, 'b:' || p_brand AS dst FROM part),
       |e AS (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst),
       |v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
       |l0 AS (SELECT vertex, vertex AS label FROM v),
       |$iters""".stripMargin
  }

  private[graft] def labelPropSql(iterations: Int): String =
    s"""WITH ${labelPropChainSql(iterations)}
       |SELECT vertex, label FROM l$iterations ORDER BY vertex""".stripMargin

  /** Unrolled synchronous k-core peeling over the co-purchase graph
    * (mirrors GraphAlgorithms.kCore over cooccurrenceEdges): each round
    * keeps vertices with current degree ≥ k, then restricts the symmetric
    * adjacency to kept endpoints. The k-core fixpoint is unique and the
    * synchronous schedule is deterministic, so `rounds` ≥ the peeling depth
    * makes the tail rounds no-ops — Spark iterates to the edge-count
    * fixpoint, the oracle just unrolls generously (like pageRankSql). */
  private[graft] def kCoreSql(k: Int, rounds: Int): String = {
    // each round references the previous EXACTLY ONCE (DuckDB inlines
    // CTEs — a 3-reference round would expand 3^rounds). Window counts on
    // the SYMMETRIC adjacency: COUNT() PARTITION BY u ≡ deg(u), ditto v,
    // so one filtered projection is the whole peel.
    val iters = (1 to rounds).map { i =>
      s"""s$i AS (SELECT u, v FROM (
         |    SELECT u, v, COUNT(*) OVER (PARTITION BY u) AS du,
         |      COUNT(*) OVER (PARTITION BY v) AS dv FROM s${i - 1})
         |  WHERE du >= $k AND dv >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH li0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT x.p AS a, y.p AS b
       |      FROM li0 x JOIN li0 y ON x.o = y.o AND x.p < y.p
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |s0 AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
       |$iters
       |SELECT u AS vertex, CAST(COUNT(*) AS BIGINT) AS degree
       |FROM s$rounds GROUP BY u HAVING COUNT(*) >= $k ORDER BY vertex""".stripMargin
  }

  /** Unrolled synchronous k-truss peeling (mirrors GraphAlgorithms.kTruss
    * over cooccurrenceEdges). Triangles enumerate once per round from the
    * smallest corner (x < y < z; Spark's degree-ordered orientation finds
    * the same triangle SET, so supports agree). Every round's edge/triangle
    * CTE is MATERIALIZED — each is referenced 3×, and DuckDB inlines
    * non-materialized CTEs (3^rounds blowup otherwise, the kCoreSql
    * lesson). */
  private[graft] def kTrussSql(k: Int, rounds: Int): String = {
    def triSql(i: Int, src: String): String =
      s"""t$i AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $src e1 JOIN $src e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN $src e3 ON e3.a = e1.b AND e3.b = e2.b),
         |s$i AS MATERIALIZED (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT x AS a, y AS b FROM t$i
         |    UNION ALL SELECT x, z FROM t$i
         |    UNION ALL SELECT y, z FROM t$i) GROUP BY 1, 2)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s"""${triSql(i, s"e${i - 1}")},
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |  LEFT JOIN s$i s USING (a, b) WHERE COALESCE(s.c, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH li0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b
       |  FROM li0 x JOIN li0 y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |$iters,
       |${triSql(rounds + 1, s"e$rounds")}
       |SELECT e.a, e.b, CAST(COALESCE(s.c, 0) AS BIGINT) AS support
       |FROM e$rounds e LEFT JOIN s${rounds + 1} s USING (a, b)
       |WHERE COALESCE(s.c, 0) >= ${k - 2}
       |ORDER BY a, b""".stripMargin
  }

  /** Rendezvous routing distribution (mirrors GraftFunctions.rendezvousNode
    * twice: 3 nodes and 3+1 nodes). The CASE scans nodes in list order, so
    * ties break identically to the Spark when-chain. */
  private[graft] def rendezvousRouteSql: String = {
    def h(n: String) =
      s"CAST(concat('0x', substr(md5('$n:' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    def pick(alias: String, nodes: Seq[String]): String = {
      val g = s"greatest(${nodes.map(h).mkString(", ")})"
      val cases = nodes.map(n => s"WHEN ${h(n)} = $g THEN '$n'").mkString(" ")
      s"(CASE $cases END) AS $alias"
    }
    val n3 = Seq("node-a", "node-b", "node-c")
    s"""WITH keys AS (SELECT DISTINCT user_id FROM events),
       |r AS (SELECT user_id, ${pick("n3", n3)}, ${pick("n4", n3 :+ "node-d")}
       |  FROM keys)
       |SELECT n3, n4, CAST(COUNT(*) AS BIGINT) AS n_keys
       |FROM r GROUP BY n3, n4 ORDER BY n3, n4""".stripMargin
  }

  /** Winnowed-fingerprint copy candidates (mirrors Dedup.winnowedPairs):
    * packed `(hash60 >> 20) · 2²⁰ + pos` argmin per complete gram window,
    * distinct (doc, fp), whole-bucket df cap, inverted-index pair join. */
  private[graft] def winnowingPairsSql(
      n: Int, window: Int, minShared: Long, maxFpDf: Long): String =
    s"""WITH rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, i - 1 AS pos, ${wordGramSql(n)} AS gram
       |  FROM rw, UNNEST(generate_series(1, len(ws) - ${n - 1})) AS t(i)),
       |pk AS (SELECT doc_id, pos,
       |    (CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) >> 20) * 1048576 + pos AS pk
       |  FROM g WHERE pos < 1048576),
       |wv AS (SELECT doc_id, pos,
       |    MIN(pk) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${window - 1} FOLLOWING) AS wmin,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM pk),
       |sel AS (SELECT DISTINCT doc_id, wmin FROM wv WHERE pos <= ng - $window),
       |fp AS (SELECT DISTINCT doc_id, wmin >> 20 AS fp FROM sel),
       |kept AS (SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS dfn FROM fp)
       |  WHERE dfn <= $maxFpDf)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b USING (fp) WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
       |ORDER BY id_a, id_b""".stripMargin

  /** m6's frame-fingerprint candidate-pair CTE chain (mirrors
    * Multimodal.mediaNearDup: frameChars=16, stride=4, maxFrameDf=64) —
    * ends at `mcand(id_a, id_b, inter, na, nb, overlap_ppm)` filtered at
    * `minOverlapPpm`. Shared by m6 (the surface) and m8 (the alignment
    * seed) so the candidate-pair DEFINITION cannot drift; also leaves the
    * stride-4 frame grid CTE `f` open for reuse. */
  private[graft] def mediaCandPairsSql(minOverlapPpm: Long): String =
    s"""f AS (SELECT doc_id, text,
       |    CAST(FLOOR(length(text)/16.0) AS BIGINT) AS nf FROM documents),
       |s AS (SELECT doc_id, text, unnest(range(0, nf, 4)) AS frame_idx
       |      FROM f WHERE nf > 0),
       |fr AS (SELECT DISTINCT doc_id AS id,
       |    md5(substr(text, CAST(frame_idx*16 + 1 AS INTEGER), 16)) AS h
       |  FROM s),
       |sz AS (SELECT id, COUNT(*) AS nf FROM fr GROUP BY id),
       |fdf AS (SELECT h, COUNT(*) AS df FROM fr GROUP BY h),
       |sh AS (SELECT fr.id, fr.h FROM fr JOIN fdf USING (h)
       |  WHERE df >= 2 AND df <= 64),
       |p AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2),
       |mcand AS (SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       |    sa.nf AS na, sb.nf AS nb,
       |    CAST((inter * 1000000) // LEAST(sa.nf, sb.nf) AS BIGINT)
       |      AS overlap_ppm
       |  FROM p JOIN sz sa ON p.id_a = sa.id JOIN sz sb ON p.id_b = sb.id
       |  WHERE CAST((inter * 1000000) // LEAST(sa.nf, sb.nf) AS BIGINT)
       |    >= $minOverlapPpm)""".stripMargin

  /** The q35/q185 brand–type bipartite edge list (both directions) — the
    * default raw-edge body of [[pageRankSql]]. */
  private[graft] val brandTypeErawSql: String =
    """  SELECT 'b:' || p_brand AS src, 't:' || p_type AS dst FROM part
      |  UNION ALL
      |  SELECT 't:' || p_type AS src, 'b:' || p_brand AS dst FROM part""".stripMargin

  /** `seedCondSql` (a boolean SQL over `vertex`) switches the restart
    * distribution to the seed set — personalized PageRank (mirrors
    * GraphAlgorithms.pageRankPpm(seeds)); None reproduces the classic
    * uniform-restart SQL byte-identically. `erawSql` is the raw
    * SYMMETRIC edge select (src, dst — both directions; dedup/self-loop
    * removal happens in the builder's `e` CTE) and `finalSelect` the
    * closing projection over the last round (`{r}` is substituted) —
    * defaults reproduce the q35 SQL byte-identically (the trainWhere
    * rule: existing oracle hashes cannot move). */
  private[graft] def pageRankSql(iterations: Int, dampingPpm: Long,
      seedCondSql: Option[String] = None,
      erawSql: String = brandTypeErawSql,
      finalSelect: String =
        "SELECT vertex, r AS rank_ppm FROM {r} ORDER BY vertex"): String = {
    val base = 1000000L - dampingPpm
    val baseTerm = seedCondSql match {
      case None => s"$base"
      case Some(_) => s"$base * v.ind"
    }
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT v.vertex,
         |  CAST($baseTerm + ($dampingPpm * COALESCE(s.c, 0)) // 1000000 AS BIGINT) AS r
         |  FROM v LEFT JOIN (
         |    SELECT e.dst AS vertex, SUM(p.r // d.od) AS c
         |    FROM e JOIN deg d ON e.src = d.src JOIN r${i - 1} p ON p.vertex = e.src
         |    GROUP BY e.dst) s USING (vertex))""".stripMargin
    }.mkString(",\n")
    val vSql = seedCondSql match {
      case None => "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e)"
      case Some(cond) =>
        s"""v AS (SELECT vertex, CASE WHEN $cond THEN 1 ELSE 0 END AS ind
           |  FROM (SELECT src AS vertex FROM e UNION SELECT dst FROM e))""".stripMargin
    }
    val r0Sql = seedCondSql match {
      case None => "r0 AS (SELECT vertex, CAST(1000000 AS BIGINT) AS r FROM v)"
      case Some(_) => "r0 AS (SELECT vertex, CAST(1000000 * ind AS BIGINT) AS r FROM v)"
    }
    s"""WITH eraw AS (
       |$erawSql),
       |e AS (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst),
       |$vSql,
       |deg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
       |$r0Sql,
       |$iters
       |${finalSelect.replace("{r}", s"r$iterations")}""".stripMargin
  }

  /** BPE merge-learning CTE chain (t36/t37, Bpe.learn parity): word-type
    * table t0 (purely-alphabetic words as `<c><h><a><r>` delimited symbol
    * strings), then per round r: overlapping adjacent-pair weights p_r,
    * the 1-row winner b_r (weight DESC, left, right — the deterministic
    * total order), and the merged table t_r via native `replace` (both
    * engines scan left-to-right non-overlapping ≡ greedy BPE). b_r/t_r are
    * referenced twice → AS MATERIALIZED (the q71 inlining rule). */
  /** One delimited-symbol word-type CTE named `$name` over `srcSql` (a
    * table name, CTE name, or parenthesized subquery with a `text`
    * column). */
  private[graft] def bpeTypesSql(name: String, maxWordLen: Int,
      srcSql: String = "documents"): String =
    s"""$name AS MATERIALIZED (
       |  SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS seq,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest($toksSql) AS word FROM $srcSql)
       |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $maxWordLen
       |  GROUP BY word)""".stripMargin

  private[graft] def bpeChainSql(rounds: Int, maxWordLen: Int,
      trainSrcSql: String = "documents"): String = {
    val t0 = bpeTypesSql("t0", maxWordLen, trainSrcSql)
    val steps = (1 to rounds).map { r =>
      s"""p$r AS (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS wt FROM (
         |    SELECT unnest(sym[1:len(sym)-1]) AS a, unnest(sym[2:len(sym)]) AS b, cnt
         |    FROM (SELECT string_split(seq[2:len(seq)-1], '><') AS sym, cnt
         |      FROM t${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT a, b, wt FROM p$r
         |  ORDER BY wt DESC, a, b LIMIT 1),
         |t$r AS MATERIALIZED (SELECT CASE WHEN m.a IS NULL THEN seq
         |    ELSE replace(seq, '<'||m.a||'><'||m.b||'>', '<'||m.a||m.b||'>')
         |    END AS seq, cnt
         |  FROM t${r - 1} LEFT JOIN b$r m ON TRUE)""".stripMargin
    }
    (t0 +: steps).mkString(",\n")
  }

  private[graft] def bpeMergesSql(rounds: Int, maxWordLen: Int,
      trainSrcSql: String = "documents"): String = {
    val rows = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, a AS left_sym, b AS right_sym,
         |    a||b AS merged, wt FROM b$r""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${bpeChainSql(rounds, maxWordLen, trainSrcSql)}
       |SELECT * FROM (
       |  $rows
       |) ORDER BY round""".stripMargin
  }

  private[graft] val bpeSymMassSql =
    "CAST(SUM(cnt * len(string_split(seq[2:len(seq)-1], '><'))) AS BIGINT)"

  private[graft] def bpeCompressionSql(rounds: Int, maxWordLen: Int): String =
    s"""WITH ${bpeChainSql(rounds, maxWordLen)},
       |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    $bpeSymMassSql AS base_syms
       |  FROM t0),
       |fin AS (SELECT $bpeSymMassSql AS merged_syms FROM t$rounds)
       |SELECT n_types, n_tokens, base_syms, merged_syms,
       |  CAST((merged_syms * 1000000) // base_syms AS BIGINT) AS compression_ppm
       |FROM base, fin""".stripMargin

  /** t40/p6: document-level BPE encoding (Bpe.encodeDocs parity). Extends
    * bpeChainSql with a WORD-KEYED merge replay (`w0`..`w<rounds>` keep the
    * word column; LEFT JOIN ON TRUE so an exhausted chain replays as the
    * identity — the t$r rule), the lexicographic-rank vocabulary over the
    * final type table's symbols, and the per-doc id rollup (`enc`).
    * string_agg ORDER BY (pos, spos) ≡ Spark's array_sort(struct) +
    * flatten — reading order, deterministic. `enc` has
    * (doc_id, n_words, n_tokens, token_ids). */
  private[graft] def bpeEncodeChainSql(rounds: Int, maxWordLen: Int,
      srcSql: String = "documents"): String = {
    val wreplay = (1 to rounds).map { r =>
      s"""w$r AS MATERIALIZED (SELECT word, CASE WHEN m.a IS NULL THEN seq
         |    ELSE replace(seq, '<'||m.a||'><'||m.b||'>', '<'||m.a||m.b||'>')
         |    END AS seq
         |  FROM w${r - 1} LEFT JOIN b$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""${bpeChainSql(rounds, maxWordLen, srcSql)},
       |dw AS MATERIALIZED (SELECT doc_id, pos, word FROM (
       |    SELECT doc_id, unnest(ws) AS word, unnest(range(len(ws))) AS pos
       |    FROM (SELECT doc_id, $toksSql AS ws FROM $srcSql))
       |  WHERE regexp_matches(word, '^[a-z]+$$') AND length(word) <= $maxWordLen),
       |w0 AS (SELECT DISTINCT word,
       |    regexp_replace(word, '(.)', '<\\1>', 'g') AS seq FROM dw),
       |$wreplay,
       |vocab AS (SELECT sym, ROW_NUMBER() OVER (ORDER BY sym) AS tid FROM (
       |    SELECT DISTINCT unnest(string_split(seq[2:len(seq)-1], '><')) AS sym
       |    FROM t$rounds)),
       |wsy AS (SELECT word, unnest(sym) AS sym, unnest(range(len(sym))) AS spos
       |  FROM (SELECT word, string_split(seq[2:len(seq)-1], '><') AS sym
       |    FROM w$rounds)),
       |wid AS (SELECT word, spos, tid FROM wsy JOIN vocab USING (sym)),
       |enc AS (SELECT dw.doc_id,
       |    CAST(COUNT(DISTINCT dw.pos) AS BIGINT) AS n_words,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY dw.pos, wid.spos) AS token_ids
       |  FROM dw JOIN wid USING (word) GROUP BY 1)""".stripMargin
  }

  /** t38: merges trained on `trainWhere` docs, applied (round order, no
    * retrain) to the `incWhere` increment's type table; the compression
    * audit runs on the INCREMENT. */
  private[graft] def bpeDriftSql(rounds: Int, maxWordLen: Int,
      trainWhere: String, incWhere: String): String = {
    // LEFT JOIN ON TRUE (not a cross join): an exhausted chain has an
    // EMPTY b$r, and the increment replay must then be the identity —
    // exactly Bpe.applyMerges on a short merge table (same rule as t$r)
    val inc = (1 to rounds).map { r =>
      s"""i$r AS MATERIALIZED (SELECT CASE WHEN m.a IS NULL THEN seq
         |    ELSE replace(seq, '<'||m.a||'><'||m.b||'>', '<'||m.a||m.b||'>')
         |    END AS seq, cnt
         |  FROM i${r - 1} LEFT JOIN b$r m ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeChainSql(rounds, maxWordLen,
          s"(SELECT * FROM documents WHERE $trainWhere)")},
       |${bpeTypesSql("i0", maxWordLen, s"(SELECT * FROM documents WHERE $incWhere)")},
       |$inc,
       |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    $bpeSymMassSql AS base_syms
       |  FROM i0),
       |fin AS (SELECT $bpeSymMassSql AS merged_syms FROM i$rounds)
       |SELECT n_types, n_tokens, base_syms, merged_syms,
       |  CAST((merged_syms * 1000000) // base_syms AS BIGINT) AS compression_ppm
       |FROM base, fin""".stripMargin
  }
}

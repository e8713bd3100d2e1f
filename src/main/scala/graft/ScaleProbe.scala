package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-decade scaling probe beyond the driver testdata: inflates sf0.1 to
  * an sf1-EQUIVALENT corpus (10 disjoint re-keyed copies of every table —
  * the "union of re-keyed worlds" construction) and times the suite's most
  * expensive queries once at each scale, committing the measured ratios to
  * bench_scaling_sf1.json.
  *
  * Copy construction keeps every copy a self-consistent world:
  *  - all join keys are offset per copy (orderkey/partkey/suppkey/custkey/
  *    doc_id/vec_id/user_id/event_id), so FK joins, co-purchase graphs and
  *    CC run on 10 disjoint replicas — the probe measures whether the
  *    ENGINE absorbs 10× rows (shuffles, windows, aggregates), with the
  *    per-world data distribution held fixed;
  *  - document text is alphabet-rotated per copy (translate with a rotated
  *    a-z map): vocabulary GROWS with the corpus — the realistic text
  *    regime (each copy keeps its internal near-dup structure; cross-copy
  *    similarity is zero). This is the regime where d19's lossless prefix
  *    join is near-linear; its quadratic saturation curve is measured
  *    separately and documented in PLANS.md (d19_prefix_join);
  *  - embeddings get a small deterministic per-copy perturbation (cosine
  *    structure within a copy is preserved; copies are near-coincident in
  *    vector space, the worst case for fixed-centroid IVF cells).
  *
  * Run: sbt "runMain graft.ScaleProbe" (defaults below), ~10 min.
  */
object ScaleProbe {
  private val DefaultQueries = Seq(
    "d19_prefix_join", "q107_incremental_cc", "s13_pq_topk",
    "d31_consensus_v2", "q178_association_rules", "s19_item_cosine",
    "q73_ktruss", "s17_link_prediction", "p2_curation_v2",
    "s38_variance_concentration", "d32_span_coverage", "d35_span_trim",
    "d34_cluster_split", "t40_bpe_encode", "p6_tokenized_release",
    "t44_ccnet_buckets",
    // round-10 second-session additions (batch only — the w-streaming
    // registry drains real SS jobs and is gated at sf0.01/sf0.1 instead)
    "t45_kn_fluency", "q183_ks_drift", "s43_auc_rank", "s44_calibration_bins",
    "t46_rocchio_classifier", "s45_silhouette",
    // round-11 backfill: every round-10 query >= ~1s at sf0.1 gets a
    // one-decade ratio (VERDICT r10 #6), plus the new d38 auto-cap join
    "q180_modularity", "q181_rich_club", "s42_matryoshka_recall",
    "t42_bpe_fertility", "d33_split_leakage", "d36_dup_weights",
    "d37_prefix_join_capped", "d38_prefix_join_autocap",
    // round-11 third-session additions (batch only, ≥~0.5s at sf0.1 or
    // novel scale shapes: the incremental funnel, frame-overlap media
    // dedup, 1-NN hubness, rank-frame retrieval eval, graph transitivity,
    // and the calendar-register Mann-Kendall pair join)
    "p8_incremental_release", "m6_media_near_dup", "s48_hubness",
    "s47_mrr_map", "q193_transitivity", "q187_mann_kendall",
    // round-11 fourth-session additions (novel scale shapes: hub-capped
    // wedge link prediction, register-form Gini, vocabulary-graph
    // TextRank, within-cell triplet mining, frame-window shot runs)
    "q194_link_prediction", "q196_gini_concentration",
    "t48_textrank_keywords", "s49_hard_negatives", "m7_shot_boundaries",
    "m8_media_alignment", "d39_cross_source_matrix",
    // round-12: the four most expensive bench queries are STREAMING
    // (w32/w27/w26/w30, 4-8s fixed drain overhead at sf0.1) — their
    // claimed constant-overhead scaling gets one-decade evidence here
    // (each drains a real SS job over the inflated events log), plus the
    // new TTL'd transformWithState drain and the r12 survival register
    "w26_stream_outer_join", "w27_stream_full_outer_join", "w30_stream_idle_expiry",
    "w32_stream_join_then_agg", "w33_stream_keeplastn_ttl",
    "q203_censored_hazard",
    // round-13: the r12 additions that shipped without one-decade evidence
    // (VERDICT #3 — q204's bucketed windows, w34's touched-buckets-only
    // maintenance) plus this round's wire-frame query
    "q202_event_time_parse", "q204_cvm_drift", "q205_bootstrap_ci",
    "w34_stream_index_maintain", "q206_wire_frame",
    // round-13 additions: the bucketed-store serving/lookup drains
    // (flat-overhead claims get one-decade evidence like w34's) and the
    // register-sized skew audit
    "w35_stream_index_lookup",
    "w37_stream_point_serve", "q207_key_skew_audit",
    "w38_stream_key_subscribe",
    // round-14 additions: the pointer-file-protocol drain and the serde
    // coercion round-trip
    "w39_stream_manifest_store", "q208_serde_coerce",
    // round-16: decade evidence for the r15 exchange-reuse-tail keep the
    // verdict flagged as unevidenced (q97 checkpoint; q181/q194/s17/q107
    // are already above)
    "q97_waiting_suppliers")

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val names = if (args.length > 2) args(2).split(",").toSeq else DefaultQueries
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (!Files.exists(Paths.get(s"$out/lineitem.parquet"))) inflate(spark, src, out)

    def runToNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def hygiene(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // JVM/codegen warmup so the first timed query isn't taxed
    spark.range(1000000L).selectExpr("sum(id)").collect()
    runToNoop(SparkEntry.queries("q1_pricing_summary")(spark, src))

    val rows = names.map { name =>
      // best-of-2 per (query, dir): a single cold pass carries JIT +
      // checkpoint-materialization + GC-debt costs that swamp the plan on
      // the heaviest queries (s19 measured 81.6 s cold vs 9.9-16 s warm
      // isolated at sf1) — the warm number is the one that reflects the
      // plan's scaling
      def time(dir: String): Double = {
        def once(): Double = {
          hygiene()
          val t0 = System.nanoTime()
          runToNoop(SparkEntry.queries(name)(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }
        math.min(once(), once())
      }
      val t01 = time(src)
      val t1 = time(out)
      val ratio = t1 / t01
      println(f"$name%-28s sf0.1=${t01}%6.2fs sf1=${t1}%7.2fs ratio=${ratio}%5.2fx")
      (name, t01, t1, ratio)
    }
    val json = rows.map { case (n, a, b, r) =>
      f"""  "$n": {"sf0_1_sec": $a%.3f, "sf1_sec": $b%.3f, "ratio": $r%.3f}"""
    }.mkString("{\n", ",\n", ",\n  \"data_ratio\": 10.0\n}\n")
    Files.writeString(Paths.get("bench_scaling_sf1.json"), json)
    println("wrote bench_scaling_sf1.json")
    spark.stop()
  }

  /** 10 disjoint re-keyed copies of every sf0.1 table → `out`. */
  private def inflate(spark: SparkSession, src: String, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def writeCopies(t: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      (0 until 10).map(k => copy(base, k)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"inflated $t")
    }
    val abc = "abcdefghijklmnopqrstuvwxyz"
    def rot(k: Int) = abc.drop(k) + abc.take(k)

    writeCopies("documents") { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
        .withColumn("text", translate(col("text"), abc, rot(k)))
    }
    writeCopies("embeddings") { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> cast(x + (($k * 37 + i) % 11 - 5) * 0.003 as float))"))
    }
    writeCopies("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(k * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * 1000000L))
    }
    writeCopies("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L))
    }
    writeCopies("part") { (df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(k * 10000000L))
    }
    writeCopies("customer") { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L))
    }
    writeCopies("supplier") { (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(k * 1000000L))
    }
    writeCopies("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(k * 10000000L))
    }
    for (t <- Seq("nation", "region"))
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
  }
}

package graft.queries

import graft.core.{Changelog, Tables, TimeRange}
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.multimodal.Multimodal
import graft.operators._
import graft.state.{GlobalTable, KVTable, SecondaryIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Support._

/** Sketches, graphs, incremental/state analytics (q60-q119). Registry split from the former monolithic
  * SparkEntry maps; aggregated by [[graft.SparkEntry]]. Each query entry
  * has its DuckDB oracle adjacent in [[CoreQueries2.oracles]]. */
private[graft] object CoreQueries2 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // KMV distinct sketch (k = 32 registers per event type): estimate
    // (k−1)·2⁴⁰ // (h_k // 2²⁰) next to the exact distinct-user count
    "q60_kmv_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val regs = Sketches.kmvRegisters(ev, Seq("event_type"), "user_id", k = 32)
      val est = Sketches.kmvEstimate(regs, Seq("event_type"), k = 32)
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_exact"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_est"))
        .orderBy("event_type")
    }),


    // Count-Min frequency sketch (4×64 counters over per-user events);
    // probes users 0..19 — the estimate upper-bounds the exact count
    "q61_cms_counts" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cms = Sketches.cmsBuild(ev, col("user_id"), lit(1L), depth = 4, width = 64)
      val probes = ev.select(col("user_id")).filter(col("user_id") < 20)
      val exact = ev.filter(col("user_id") < 20).groupBy("user_id")
        .agg(count(lit(1)).as("n_exact"))
      Sketches.cmsLookup(cms, probes, "user_id", depth = 4, width = 64)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("n_est"),
          (col("n_est") >= col("n_exact")).as("upper_bounds"))
        .orderBy("user_id")
    }),


    // Bloom membership (64×60-bit words, 3 hashes) over customers holding
    // a >490k order; probing every customer keeps maybe-rows only — no
    // false negatives, FPs visible via the exact actually_in flag
    "q62_bloom_membership" -> ((s, d) => {
      val hot = Tables.orders(s, d)
        .filter(col("o_totalprice") > 490000.0)
        .select(col("o_custkey"))
      val bloom = Sketches.bloomBuild(hot, col("o_custkey"), words = 64, hashes = 3)
      val probes = Tables.customer(s, d).select(col("c_custkey"))
      val actual = hot.distinct()
        .withColumnRenamed("o_custkey", "c_custkey")
        .withColumn("actually_in", lit(true))
      Sketches.bloomProbe(bloom, probes, "c_custkey", words = 64, hashes = 3)
        .filter(col("maybe_present"))
        .join(actual, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("maybe_present"),
          coalesce(col("actually_in"), lit(false)).as("actually_in"))
        .orderBy("c_custkey")
    }),


    // HyperLogLog (m = 64 registers, integer estimator): rho from exact
    // bitlength (length(bin(w))), S = Σ 2^(41−M_j), no float log anywhere
    "q63_hll_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val regs = Sketches.hllRegisters(ev, Seq("event_type"), "user_id", m = 64)
      val est = Sketches.hllEstimate(regs, Seq("event_type"), m = 64)
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_exact"))
      exact.join(est, "event_type")
        .select(col("event_type"), col("n_exact"), col("n_est"))
        .orderBy("event_type")
    }),


    // sliding 3-hour distinct users from MERGEABLE hourly HLL registers:
    // hourly registers built once, every overlapping window max-merges
    // them (row-local explode + one register-key shuffle) — the raw events
    // are never re-scanned per window; exact distinct alongside
    "q79_sliding_hll" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        call_function("div", col("ts_us"), lit(3600000000L)).as("hour"),
        col("user_id"))
      val hourly = Sketches.hllRegisters(ev, Seq("hour"), "user_id", m = 64)
      val est = Sketches.hllEstimate(
        Sketches.slidingRegisterMerge(hourly, "hour", width = 3),
        Seq("win_end"), m = 64)
      val ends = ev.select(col("hour").as("win_end")).distinct()
      val exact = ev
        .select(col("user_id"),
          explode(sequence(col("hour"), col("hour") + 2)).as("win_end"))
        .join(ends, "win_end")
        .groupBy("win_end").agg(count_distinct(col("user_id")).as("n_exact"))
      exact.join(est, "win_end")
        .select(col("win_end"), col("n_exact"), col("n_est"))
        .orderBy("win_end")
    }),


    // mergeable log-histogram quantile sketch (8 sub-buckets per octave,
    // ≤12.5% relative error) vs the exact deterministic k-th smallest —
    // both via the same ceiling-rank rule over cumulative counts
    "q69_quantile_sketch" -> ((s, d) => {
      val qs = Seq(500000L, 900000L, 990000L)
      val vals = Tables.events(s, d)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val sk = Sketches.logHistSketch(vals, Seq("event_type"), "cents", s = 3)
      val est = Sketches.logHistQuantiles(sk, Seq("event_type"), qs, s = 3)
      val cw = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = vals.groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(cw))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
      val exact = cum
        .select(col("event_type"), col("cents"), col("cum"), col("n"),
          explode(array(qs.map(lit): _*)).as("q_ppm"))
        .filter(col("cum") >= greatest(
          call_function("div", col("q_ppm") * col("n") + 999999L, lit(1000000L)), lit(1L)))
        .groupBy("event_type", "q_ppm")
        .agg(min(col("cents")).as("q_exact"))
      est.join(exact, Seq("event_type", "q_ppm"))
        .select(col("event_type"), col("q_ppm"), col("q_est"), col("q_exact"))
        .orderBy("event_type", "q_ppm")
    }),


    // Bloom runtime-filter join: lineitem rows pruned row-locally against
    // a 256-word bloom of high-value order keys BEFORE the shuffle; FPs
    // die in the join, so the oracle is the PLAIN join — the sketch only
    // cuts shuffled bytes
    "q68_bloom_join" -> ((s, d) => {
      val hot = Tables.orders(s, d).filter(col("o_totalprice") > 450000.0)
      Sketches.bloomPrunedJoin(hot, Tables.lineitem(s, d),
          "o_orderkey", "l_orderkey", words = 4096, hashes = 3)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), qSum(col("l_extendedprice"), "sum_price"))
        .orderBy("o_orderpriority")
    }),


    // single-scan column profile (row-local explode, two partial-agg'd
    // shuffles): nulls, distincts, string min/max, plurality top value
    "q67_profile" -> ((s, d) => {
      Analytics.profile(Tables.events(s, d), Seq("event_type", "user_id", "props"))
        .orderBy("col_name")
    }),


    // KMV set algebra from registers alone: per-day active-user sketches
    // (first 5 days, k=32), pairwise union/intersection/Jaccard estimates
    // by re-ranked merge + inclusion-exclusion, exact intersection beside
    "q65_kmv_setops" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(concat(lit("d"),
            call_function("div", col("ts_us") - Jan1_24, lit(DayUs)).cast("string")).as("day"),
          col("user_id"),
          call_function("div", col("ts_us") - Jan1_24, lit(DayUs)).as("di"))
        .filter(col("di") < 5).drop("di")
      val regs = Sketches.kmvRegisters(ev, Seq("day"), "user_id", k = 32)
      val ops = Sketches.kmvPairwiseOps(regs, "day", k = 32)
      val du = ev.distinct()
      val ex = du.select(col("day").as("ga"), col("user_id"))
        .join(du.select(col("day").as("gb"), col("user_id")), "user_id")
        .filter(col("ga") < col("gb"))
        .groupBy("ga", "gb").agg(count(lit(1)).as("n_inter_exact"))
      ops.join(ex, Seq("ga", "gb"), "left")
        .select(col("ga"), col("gb"), col("a_est"), col("b_est"), col("union_est"),
          col("inter_est"), col("jaccard_ppm"),
          coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"))
        .orderBy("ga", "gb")
    }),


    // Z-order layout audit: Morton-interleave (user bucket, hour since
    // Jan 1) into 64 partitions; per-partition min/max of BOTH dims stay
    // tight — the footer stats a z-ordered 100 TB write would skip on
    "q64_zorder_layout" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          call_function("div", col("ts_us") - Jan1_24, lit(3600000000L)).as("hr"))
      Layout.zOrderStats(ev, col("user_id"), col("hr"), bits = 10, partitions = 64)
        .orderBy("pid")
    }),


    // deterministic label propagation (plurality label, smallest-label
    // tie-break, 3 synchronous rounds) over the brand↔type graph
    "q66_label_prop" -> ((s, d) => {
      val bt = Tables.part(s, d).select(
        concat(lit("b:"), col("p_brand")).as("src"),
        concat(lit("t:"), col("p_type")).as("dst"))
      val edges = bt.union(bt.select(col("dst").as("src"), col("src").as("dst")))
      GraphAlgorithms.labelPropagation(s, edges, iterations = 3)
        .orderBy("vertex")
    }),


    // EXACT heavy hitters with a CMS-pruned shuffle: rows tested row-
    // locally against materialized counters BEFORE the groupBy (CMS never
    // underestimates -> no false negatives; colliding light keys die on
    // the exact HAVING), so the oracle is the PLAIN exact query — the
    // sketch only cuts shuffled keys
    "q70_heavy_hitters" -> ((s, d) => {
      Sketches.heavyHitters(Tables.lineitem(s, d), "l_suppkey",
          threshold = 620L, depth = 3, width = 1024)
        .orderBy("l_suppkey")
    }),


    // k-core (k=3) of the co-purchase graph by synchronous peeling —
    // deterministic fixpoint (the k-core is unique), degree counts within
    // the core; the dense-subgraph extraction that precedes community
    // analytics
    "q71_kcore" -> ((s, d) => {
      GraphAlgorithms.kCore(s, GraphAlgorithms.cooccurrenceEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2L),
          k = 3)
        .orderBy("vertex")
    }),


    // time-travel view: the latest-per-key state AS OF Jan 10 (the
    // reference's bootstrap-to-checkpoint replay as a declarative filter;
    // ts predicate sits below the compaction aggregate → row-group pruning)
    "q77_time_travel" -> ((s, d) => {
      KVTable(Tables.events(s, d), Seq("user_id"), "ts_us",
          tieBreakCols = Seq("event_id"))
        .asOf(Jan10_24)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("value").as("last_value"), col("ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),


    // per-key getAndUpdate RMW fold (P6, ExampleBank clamp-at-zero balance)
    // in CLOSED FORM: b_n = S_n - min(0, min_k S_k) — one ordered window +
    // one aggregate replaces sequential per-key state
    "q80_rmw_fold" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        (round(col("value") * 100).cast("long") - 3500L).as("delta_cents"),
        col("ts_us"), col("event_id"))
      Analytics.clampedRunningFold(ev, Seq("user_id"), "delta_cents",
          Seq("ts_us", "event_id"))
        .orderBy("user_id")
    }),


    // incremental materialized-view maintenance: additive per-key aggregate
    // STATE (n, sum, max) computed on the log halves independently, then
    // merged state-to-state — the oracle recomputes from the full log, so
    // the hash match is the merge(state(base), state(delta)) ≡ state(full)
    // invariant that lets a 100 TB history be scanned once, ever
    "q81_mv_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"), col("ts_us"))
      val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid_ts"))
      val withMid = ev.crossJoin(broadcast(mid))
      val base = Analytics.additiveAggState(
        withMid.filter(col("ts_us") <= col("mid_ts")), Seq("user_id"), "cents", "ts_us")
      val delta = Analytics.additiveAggState(
        withMid.filter(col("ts_us") > col("mid_ts")), Seq("user_id"), "cents", "ts_us")
      Analytics.mergeAdditiveStates(Seq(base, delta), Seq("user_id"))
        .orderBy("user_id")
    }),


    // trailing-window anomaly monitor: |x − mean(hist)| > 3σ(hist) over the
    // preceding 20 same-key values, tested EXACTLY in integer space
    // ((n·x − S)² > 9·(n·Q − S²)) — no doubles, no division, bit-stable
    "q82_rolling_anomaly" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
          col("ts_us"), round(col("value") * 100).cast("long").as("cents"))
        .filter(col("cents").isNotNull)
      Analytics.rollingAnomalies(ev, Seq("user_id"), "cents",
          Seq("ts_us", "event_id"), histRows = 20, minHist = 8, k = 3)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("cents"),
          col("n_hist"))
        .orderBy("user_id", "ts_us", "event_id")
    }),


    // gaps-and-islands interval coalescing: each event opens a 10-minute
    // activity interval; overlapping intervals merge into islands (one
    // ordered window + one co-partitioned aggregate, no self-join)
    "q83_interval_merge" -> ((s, d) => {
      val iv = Tables.events(s, d).select(col("user_id"),
        col("ts_us").as("start_us"),
        (col("ts_us") + lit(600000000L)).as("end_us"), col("event_id"))
      Analytics.mergeIntervals(iv, Seq("user_id"), "start_us", "end_us",
          Seq("event_id"))
        .select(col("user_id"), col("island"), col("island_start"),
          col("island_end"), col("n_rows"))
        .orderBy("user_id", "island")
    }),


    // cumulative distinct event types per user per day: COUNT(DISTINCT)
    // OVER in first-seen-flag form — Spark has no distinct windows and
    // the naive spelling is O(n²) state; this is one narrow window + a
    // running sum over period-sized rows
    "q85_cumulative_distinct" -> ((s, d) => {
      Analytics.cumulativeDistinct(Tables.events(s, d), Seq("user_id"),
          "event_type", "ts_us", tieBreakCols = Seq("event_id"))
        .select(col("user_id"), col("period_us"), col("n_new"),
          col("n_events"), col("cum_distinct"))
        .orderBy("user_id", "period_us")
    }),


    // click→purchase conversion-lag histogram: first click, first purchase
    // strictly after it, floor-minute buckets — two co-partitioned
    // aggregates (funnel frontiers), no per-pair join
    "q86_conversion_lag" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
      val f1 = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
      val f2 = e.filter(col("event_type") === "purchase")
        .join(f1, "user_id").filter(col("ts_us") > col("t1"))
        .groupBy("user_id", "t1").agg(min(col("ts_us")).as("t2"))
      f2.select(expr("(t2 - t1) div 60000000").as("lag_min"))
        .groupBy("lag_min").agg(count(lit(1)).as("n_users"))
        .orderBy("lag_min")
    }),


    // link prediction on the co-purchase graph: Jaccard over common
    // neighbors (hub-capped wedges), existing edges anti-joined away —
    // "bought X also bought Y" candidates, top-20
    // correlated-avg subquery (TPC-H Q17 shape): lineitems whose quantity is
    // below 20% of their part's average — avg decorrelated into one per-part
    // aggregate then re-joined on the SAME key (the agg shuffle partitioning
    // is reusable; no per-row subquery execution). Exact: qc < sum/(5·cnt)
    // cross-multiplied to 5·qc·cnt < sum — zero divisions, zero doubles
    "q96_small_qty_parts" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("qc"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      val perPart = li.groupBy("l_partkey")
        .agg(count(lit(1)).as("cnt"), sum(col("qc")).as("sum_qc"))
      li.join(perPart, "l_partkey")
        .filter(col("qc") * lit(5L) * col("cnt") < col("sum_qc"))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_small"), sum(col("pc")).as("small_rev_cents"))
        .orderBy("p_brand")
    }),


    // lone-late-supplier audit (TPC-H Q21 shape): suppliers that shipped
    // >60 days after the order date on multi-supplier orders where every
    // OTHER supplier was on time. EXISTS/NOT EXISTS decorrelated into
    // per-order counts (n_supp ≥ 2, n_late = 1) — two group-bys on keys the
    // data is already shuffled by, no correlated probes
    "q97_waiting_suppliers" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), Tables.epochUs(col("o_orderdate")).as("odate_us"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), Tables.epochUs(col("l_shipdate")).as("sdate_us"))
      // read twice below (the per-order rollup + the late-supplier filter
      // side of the join): checkpoint or the lineitem⋈orders join + agg
      // computes twice (r2 multi-read rule, r15)
      val perOS = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("sdate_us") - col("odate_us") > lit(60L * DayUs), 1L)
          .otherwise(0L)).as("any_late"))
        .localCheckpoint(true)
      val perO = perOS.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("n_supp"), sum(col("any_late")).as("n_late"))
      perOS.filter(col("any_late") === 1L)
        .join(perO.filter(col("n_supp") >= 2L && col("n_late") === 1L),
          col("l_orderkey") === col("ok"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
    }),


    // top-revenue parts vs a global total (TPC-H Q11 shape): the scalar
    // subquery becomes one 1-row broadcast; threshold rev > total div 2000
    // keeps everything in long space (no 10000·rev overflow at 100 TB) and
    // bounds the result to ≤2000 rows BY CONSTRUCTION at any scale
    "q98_important_parts" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000).cast("long").as("rc"))
      val perPart = li.groupBy("l_partkey").agg(sum(col("rc")).as("rev"))
      val total = perPart.agg(sum(col("rev")).as("total"))
      perPart.crossJoin(broadcast(total))
        .filter(col("rev") > expr("total div 2000"))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("p_brand"),
          (col("rev").cast("double") / 10000.0).as("revenue"),
          // staged ppm: ×1000 then ÷(total÷1000) — same formula both engines,
          // numerator headroom to ~$1e12 revenue per part (rev*1e6 would not)
          expr("(rev * 1000) div (total div 1000)").as("share_ppm"))
        .orderBy(col("revenue").desc, col("l_partkey"))
    }),


    // revenue-concentration audit per segment: exact Gini (rank-weighted
    // integer sums — tie order provably cancels) and Herfindahl index,
    // each ONE double division over exact decimal/HUGEINT moments
    "q119_concentration" -> ((s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("c_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("c_mktsegment").orderBy(col("cents"), col("c_custkey"))
      def dec(c: Column) = c.cast("decimal(38,0)")
      rev.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("cents"))).as("t"),
          sum(dec(col("cents")) * dec(col("cents"))).as("s2"),
          sum(dec(col("i")) * dec(col("cents"))).as("w1"))
        .select(col("c_mktsegment"), col("n"),
          col("t").cast("double").as("total"),
          ((lit(2).cast("decimal(38,0)") * col("w1") -
            dec(col("n") + 1) * col("t")).cast("double") /
            (dec(col("n")) * col("t")).cast("double")).as("gini"),
          (col("s2").cast("double") /
            (col("t").cast("double") * col("t").cast("double"))).as("hhi"))
        .orderBy("c_mktsegment")
    }),


    // confidence-aware ranking: parts by the Wilson lower bound of their
    // return rate — the "sort by rating" formula that beats raw k/n on
    // small n; the whole double formula is ONE shared SQL string so both
    // engines evaluate the identical IEEE tree
    "q118_wilson_rank" -> ((s, d) => {
      val parts = Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"),
          sum((col("l_returnflag") === "R").cast("long")).as("k"))
        .withColumn("wilson_lb", expr(WilsonLb))
      parts.orderBy(col("wilson_lb").desc, col("l_partkey")).limit(20)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("wilson_lb").desc, col("l_partkey"))).cast("int"))
        .select(col("rank"), col("l_partkey"), col("n"), col("k"), col("wilson_lb"))
        .orderBy("rank")
    }),


    // EXACT DAU/MAU stickiness: distinct user-days explode onto the ≤30
    // window days each covers (bounded 30× row-local blowup — never a
    // per-day rescan), MAU = count distinct per window day, stickiness in
    // exact ppm; q79 is the register-merge version of this, this is truth
    "q116_stickiness" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .distinct()
      val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val mau = ud
        .select(col("user_id"), explode(sequence(col("day"), col("day") + 29L)).as("day"))
        .distinct()
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("d1"))
        .groupBy("day").agg(count(lit(1)).as("mau"))
      dau.join(mau, "day")
        .select(col("day"), col("dau"), col("mau"),
          expr("(dau * 1000000) div mau").as("stickiness_ppm"))
        .orderBy("day")
    }),


    // week-over-week growth per event type: weekly counts, one lag window
    // over the WEEK-sized frame, Laplace-smoothed growth in exact ppm
    "q117_wow_growth" -> ((s, d) => {
      val wk = Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts_us div $WeekUs").as("week"))
        .agg(count(lit(1)).as("n"))
      wk.withColumn("prev_n",
          lag(col("n"), 1).over(Window.partitionBy("event_type").orderBy("week")))
        .withColumn("growth_ppm",
          when(col("prev_n").isNotNull,
            expr("((n + 1) * 1000000) div (prev_n + 1)")))
        .orderBy("event_type", "week")
    }),


    // cohort lifetime-value curve: users cohorted by first-seen week, their
    // purchase revenue laid out by week offset with a per-cohort running
    // total — q40's retention matrix with money; one user-keyed aggregate,
    // one co-keyed join, one COHORT-sized window
    "q114_cohort_ltv" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_type"),
          round(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      val first = e.groupBy("user_id").agg(min(col("ts_us")).as("t0"))
      val rev = e.filter(col("event_type") === "purchase")
        .join(first, "user_id")
        .select(expr(s"t0 div $WeekUs").as("cohort_week"),
          expr(s"(ts_us - t0) div $WeekUs").as("offset_weeks"), col("cents"))
        .groupBy("cohort_week", "offset_weeks")
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev_cents"))
      rev.withColumn("cum_rev_cents",
          sum(col("rev_cents")).over(Window.partitionBy("cohort_week")
            .orderBy("offset_weeks")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("cohort_week", "offset_weeks")
    }),


    // robust statistics: per-type median, MAD, and |x−med| > 3·MAD outlier
    // counts — two exact median passes (q110's tie-safe machinery with unit
    // weights), all comparisons integer
    "q115_mad_outliers" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .withColumn("one", lit(1L))
      val med = Analytics.weightedMedian(e, Seq("event_type"), "cents", "one")
        .select(col("event_type"), col("wmedian").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("cents") - col("med")))
      val mad = Analytics.weightedMedian(dev, Seq("event_type"), "adev", "one")
        .select(col("event_type"), col("wmedian").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n"),
          sum((col("adev") > col("mad") * 3L).cast("long")).as("n_outliers"))
        .select("event_type", "n", "med", "mad", "n_outliers")
        .orderBy("event_type")
    }),


    // international trade matrix (TPC-H Q7 shape): revenue between distinct
    // (supplier nation, customer nation) pairs by ship year — the fact
    // table takes two key-joins (order, supplier) while all four dimension
    // hops broadcast; year from UTC epoch µs is calendar-identical
    "q113_nation_volume" -> ((s, d) => {
      val cust = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("o_orderkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("l_orderkey"), col("n_name").as("supp_nation"),
          year(col("l_shipdate").cast("timestamp")).as("ship_year"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long").as("rc"))
        .join(cust, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(count(lit(1)).as("n_items"),
          (sum(col("rc")).cast("double") / 10000.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    }),


    // sequential patterns (SPADE-lite): in how many sessions does type A
    // occur BEFORE type B (any gap) — "exists a<b" collapses to the exact
    // test min_ts(A) < max_ts(B), so the corpus reduces to one (session,
    // type) min/max aggregate and the pair join is 25 rows per session max
    "q111_seq_patterns" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      val sess = Sessionize.assign(ev, "user_id", "ts_us",
        gapUs = 3600000000L, tieBreakCols = Seq("event_id"))
      val st = sess.groupBy("user_id", "session_seq", "event_type")
        .agg(min(col("ts_us")).as("tmin"), max(col("ts_us")).as("tmax"))
      st.select(col("user_id"), col("session_seq"),
          col("event_type").as("a"), col("tmin"))
        .join(st.select(col("user_id"), col("session_seq"),
          col("event_type").as("b"), col("tmax")), Seq("user_id", "session_seq"))
        .filter(col("tmin") < col("tmax"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_sessions"))
        .orderBy("a", "b")
    }),


    // ratio-to-parent rollup: nation revenue as exact ppm of its region and
    // of the grand total — window sums over the NATION-sized aggregate, the
    // fact table shuffles once
    "q112_ratio_to_parent" -> ((s, d) => {
      val rev = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      rev
        .withColumn("region_cents",
          sum(col("rev_cents")).over(Window.partitionBy("r_name")))
        .withColumn("total_cents", sum(col("rev_cents")).over(Window.partitionBy()))
        .select(col("r_name"), col("n_name"), col("rev_cents"),
          expr("(rev_cents * 1000000) div region_cents").as("of_region_ppm"),
          expr("(rev_cents * 1000000) div total_cents").as("of_total_ppm"))
        .orderBy("r_name", "n_name")
    }),


    // exact weighted median price per (flag, status): smallest value whose
    // tie-inclusive running weight reaches half the total — the RANGE
    // default frame makes ties structural, 2·cum ≥ tot keeps it integer
    "q110_weighted_median" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        round(col("l_quantity") * 100).cast("long").as("wq"))
      Analytics.weightedMedian(li, Seq("l_returnflag", "l_linestatus"),
          "price_cents", "wq")
        .orderBy("l_returnflag", "l_linestatus")
    }),


    // followed-by operator: for EVERY click, did the same user purchase
    // within 10 min — the event-sequence join expressed as one ordered
    // window (min future purchase ts over the strict-following frame), no
    // per-event self-join; conversion curve by hour of day in exact ppm
    "q109_followed_by" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      // min over the rows strictly AFTER current ≡ a RUNNING min over the
      // REVERSED order with a strict-past frame: Spark's unbounded-
      // FOLLOWING frames re-aggregate from each row to the partition end
      // (O(n²) per partition — 209 s on the skew world's 99%-one-user
      // events, r14 skew bench), while unbounded-PRECEDING frames are
      // incremental. Identical result, one extra in-partition sort.
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("next_p",
          min(when(col("event_type") === "purchase", col("ts_us"))).over(w))
        .filter(col("event_type") === "click")
        .withColumn("hour", expr("(ts_us div 3600000000) % 24"))
        .groupBy("hour")
        .agg(count(lit(1)).as("n_clicks"),
          sum((col("next_p").isNotNull &&
            col("next_p") - col("ts_us") <= lit(600000000L)).cast("long")).as("n_conv"))
        .withColumn("conv_ppm", expr("(n_conv * 1000000) div n_clicks"))
        .orderBy("hour")
    }),


    // degree assortativity of the co-purchase graph (Newman 2002): Pearson
    // over (deg u, deg v) across directed edge endpoints — do hubs link to
    // hubs? Exact integer moments on a degree-join of the edge list; the
    // symmetric adjacency makes x/y marginals identical
    "q108_degree_assortativity" -> ((s, d) => {
      val edges = GraphAlgorithms.cooccurrenceEdges(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2L, maxBasketSize = 5L)
        .localCheckpoint(true)
      val adj = edges.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
      val deg = adj.groupBy("u").agg(count(lit(1)).as("dg"))
      val pairs = adj
        .join(deg.select(col("u"), col("dg").as("du")), "u")
        .join(deg.select(col("u").as("v"), col("dg").as("dv")), "v")
      // GLOBAL aggregate + series literal attached AFTER (degen-gate class
      // (b), caught again by the r13 SKEW world: the hot part empties the
      // support-≥2 edge set, groupBy(lit) would emit ZERO rows while the
      // oracle's global-agg CTE emits its n=0/NULL row)
      Analytics.groupedCorrelation(pairs, Seq.empty, "du", "dv")
        .withColumnRenamed("corr", "assortativity")
        .withColumn("graph", lit("copurchase"))
        .orderBy("graph")
    }),


    // incremental graph maintenance: components of the pre-2000 customer–
    // supplier graph are CONTRACTED to their labels, and only the 2000+
    // delta edges run through CC again — min-of-mins makes it exactly ≡
    // recomputing on the full edge log, which is what the oracle does
    "q107_incremental_cc" -> ((s, d) => {
      // vertices ride as LONGS through the whole CC (cust → 2k, supp →
      // 2k+1): the distincts, the 450k-edge collect of the local
      // union-find, and every contraction join move 8-byte keys instead of
      // strings (measured ~1.3x on the full query); labels decode to the
      // reference's 'c:'/'s:' strings only at the very end, so component =
      // min ENCODED vertex (the oracle mins the same encoding)
      // the edge frame (src = cust·2, dst = supp·2+1, odate_us) is re-read
      // by CC (count + collect + vertices) and the contraction, so the
      // JOINED frame is checkpointed once and both halves slice from it
      // (checkpointing each half separately ran the lineitem⋈orders join
      // twice, the dominant cost here)
      val ec = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2L).as("src"),
          (col("l_suppkey") * 2L + 1L).as("dst"),
          Tables.epochUs(col("o_orderdate")).as("odate_us"))
        .localCheckpoint(true)
      val base = ec.filter(col("odate_us") < lit(Jan1_00)).select("src", "dst")
      val delta = ec.filter(col("odate_us") >= lit(Jan1_00)).select("src", "dst")
      def decode(c: String) = expr(
        s"concat(CASE WHEN $c % 2 = 0 THEN 'c:' ELSE 's:' END, CAST($c div 2 AS STRING))")
      GraphAlgorithms.incrementalComponents(s, base, delta)
        .select(decode("vertex").as("vertex"), decode("component").as("component"))
        .orderBy("vertex")
    }),


    // daily-seasonality detector: Pearson autocorrelation of the hourly
    // event-count series at lag 24 h — the series is already aggregate-
    // sized, the lag pair comes from an equi-join on h−24 (hours absent
    // from the log pair with nothing; no dense gap-fill materializes), and
    // the correlation is the exact-integer-moment fold of q95
    "q105_autocorrelation" -> ((s, d) => {
      val hc = Tables.events(s, d)
        .groupBy(expr("ts_us div 3600000000").as("h"))
        .agg(count(lit(1)).as("n"))
      val pairs = hc.select(col("h"), col("n").as("n0"))
        .join(hc.select((col("h") + 24L).as("h"), col("n").as("n24")), "h")
      // GLOBAL aggregate + literal series attached after: grouping BY the
      // constant literal emits ZERO rows when the lag join is empty (a
      // sub-24h log is legal — degenerate-world gate r12) while the
      // oracle's global-aggregate CTE emits its (n=0, corr NULL) row
      Analytics.groupedCorrelation(pairs, Seq.empty, "n0", "n24")
        .withColumn("series", lit("hourly_lag24"))
        .orderBy("series")
    }),


    // last-touch attribution: each purchase credits the user's most recent
    // PRECEDING non-purchase event — one ordered window with an
    // ignore-nulls last() over the strict-past frame; no per-purchase
    // point lookup, no self-join
    "q106_attribution" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      e.withColumn("src",
          last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("src"), lit("(none)")).as("attributed"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("attributed")
    }),


    // top supplier(s) by 1996 revenue (TPC-H Q15 shape): the MAX-revenue
    // scalar subquery is a 1-row broadcast against the same supplier-keyed
    // aggregate — ties all surface; year filter prunes at the scan
    "q103_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .withColumn("sd_us", Tables.epochUs(col("l_shipdate")))
        .filter(col("sd_us") >= lit(Jan1_96) && col("sd_us") < lit(Jan1_97))
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long").as("rc"))
        .groupBy("l_suppkey").agg(sum(col("rc")).as("rev"))
      val mx = rev.agg(max(col("rev")).as("mxr"))
      rev.crossJoin(broadcast(mx)).filter(col("rev") === col("mxr"))
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev").cast("double") / 10000.0).as("total_revenue"))
        .orderBy("s_suppkey")
    }),


    // rich-but-idle customers (TPC-H Q22 shape): balance above the positive-
    // balance average (cross-multiplied: bal·n_pos > Σpos — no division) and
    // no orders since 2000 (anti-join on the pruned order scan), per segment
    "q104_idle_rich" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal"))
      val stats = c.filter(col("bal") > 0L)
        .agg(count(lit(1)).as("npos"), sum(col("bal")).as("spos"))
      val recent = Tables.orders(s, d)
        .filter(Tables.epochUs(col("o_orderdate")) >= lit(Jan1_00))
        .select(col("o_custkey")).distinct()
      c.crossJoin(broadcast(stats))
        .filter(col("bal") * col("npos") > col("spos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"), sum(col("bal")).as("sum_bal_cents"))
        .orderBy("c_mktsegment")
    }),


    // per-nation OLS of order value on customer balance: five exact integer
    // moments in one shuffle (orders⋈customer on the join key, then one
    // nation-keyed aggregate); only the final slope/intercept/r² divisions
    // are doubles — identical IEEE expression trees on both engines
    "q102_grouped_ols" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("yc"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("xc"))
      Analytics.groupedOls(o.join(c, o("o_custkey") === c("c_custkey")),
          Seq("c_nationkey"), "xc", "yc")
        .orderBy("c_nationkey")
    }),


    // M4 downsampling: per (event_type, day) the 4 values a pixel-perfect
    // chart needs — the render-a-billion-points reduction; output size is
    // bucket count, not row count. Null values dropped explicitly (the
    // events null policy), amounts in integer cents
    "q100_m4_downsample" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("ts_us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      Analytics.m4Downsample(e, Seq("event_type"), "ts_us", "event_id", "cents",
          bucketWidthUs = DayUs)
        .orderBy("event_type", "bucket")
    }),


    // one-sided CUSUM monitor per event type against its own integer mean:
    // the sequential clamp recurrence collapses to prefix-sum minus prefix-
    // min (q80's closed form), so drift detection over 100 TB of events is
    // two stacked windows on one shuffle — no state store, no fold
    "q101_cusum" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), col("ts_us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      // sign-safe mean (q160/s27 offset rule): cents CAN go negative in
      // principle, and Spark `div` truncates toward zero where DuckDB `//`
      // floors — offsetting the numerator by 10^6·n keeps it non-negative
      // (|cents| ≤ 10^6 by the events.value domain), where both agree; for
      // all-positive data the result is bit-identical to `sum div count`
      val tgt = e.groupBy(col("event_type").as("et"))
        .agg(expr(offsetMeanSparkSql).as("target"))
      val j = e.join(broadcast(tgt), e("event_type") === tgt("et")).drop("et")
      Analytics.cusum(j, Seq("event_type"), "cents", "target",
          Seq("ts_us", "event_id"), threshold = 100000L)
        .orderBy("event_type")
    }),


    // multi-source BFS over the co-purchase graph: hop distance ≤4 from the
    // 5 highest-degree parts — per round the FRONTIER (not the cumulative
    // table) expands through the adjacency and an anti-join drops
    // already-labeled nodes, so total work tracks the wavefront, and the
    // round count is a constant regardless of data scale
    "q99_bfs_hops" -> ((s, d) => {
      val edges = GraphAlgorithms.cooccurrenceEdges(Tables.lineitem(s, d),
        "l_orderkey", "l_partkey", minSupport = 2L, maxBasketSize = 5L)
        .localCheckpoint(true)
      val deg = edges.select(col("src").as("u"))
        .unionByName(edges.select(col("dst").as("u")))
        .groupBy("u").agg(count(lit(1)).as("dg"))
      val seeds = deg.orderBy(col("dg").desc, col("u")).limit(5)
        .select(col("u").as("node"))
      GraphAlgorithms.bfsHops(edges, seeds, maxHops = 4).orderBy("node")
    }),


    // grouped Pearson correlation, exact integer moments: does amount
    // correlate with hour-of-day per event type — built-in corr is a
    // float fold (order-nondeterministic), this one hash-matches
    "q95_grouped_corr" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        expr("(ts_us div 3600000000) % 24").as("hour"))
      Analytics.groupedCorrelation(ev, Seq("event_type"), "cents", "hour")
        .orderBy("event_type")
    }),


    // largest-remainder apportionment: spread a 1000-doc sample budget
    // across (lang, source) strata proportionally, EXACTLY — Σalloc = B
    // by construction, no float rounding drift
    "q94_budget_alloc" -> ((s, d) => {
      Sampling.largestRemainderAlloc(Tables.documents(s, d),
          Seq("lang", "source"), budget = 1000L)
        .orderBy("lang", "source")
    }),


    // top-20 session paths: gap-sessionize, cap each session's path at its
    // first 8 events (bounded strings), count identical paths — the
    // behavioral-pattern miner; path order is total (ts, event_id)
    "q93_session_paths" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      val sess = Sessionize.assign(ev, "user_id", "ts_us",
        gapUs = 3600000000L, tieBreakCols = Seq("event_id"))
      val wIn = Window.partitionBy(col("user_id"), col("session_seq"))
        .orderBy(col("ts_us"), col("event_id"))
      val paths = sess.withColumn("rn", row_number().over(wIn)).filter(col("rn") <= 8)
        .groupBy("user_id", "session_seq")
        .agg(array_join(
          expr("transform(array_sort(collect_list(struct(ts_us, event_id, event_type))), x -> x.event_type)"),
          ">").as("path"))
      val counts = paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      // TakeOrdered top-20 FIRST, then rank the 20-row frame — the global
      // window never sees the full path space
      counts.orderBy(col("n_sessions").desc, col("path")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n_sessions").desc, col("path"))).cast("int"))
        .select("rank", "path", "n_sessions")
        .orderBy("rank")
    }),


    // recency-weighted engagement: power-of-two half-life decay — each
    // whole day of age halves the contribution (cents div 2^age), integer
    // EXACT where float exp-decay would be order-sensitive; age capped so
    // the shift never overflows
    "q91_decayed_sum" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"), col("ts_us"))
      val mx = ev.agg(max(col("ts_us")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("age",
          least(expr("(mx - ts_us) div 86400000000"), lit(40L)).cast("int"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("sum_cents"),
          sum(expr("cents div shiftleft(CAST(1 AS BIGINT), age)")).as("decayed_cents"))
        .orderBy("user_id")
    }),


    // watermark-lag audit: out-of-orderness of event time vs ingest order
    // (event_id) — the data-driven answer to "how late must the watermark
    // be"; max lag + share of events more than 60 s late, per type
    "q92_watermark_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), col("ts_us"))
        .withColumn("lag_us", max(col("ts_us")).over(w) - col("ts_us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          max(col("lag_us")).as("max_lag_us"),
          sum(when(col("lag_us") > 60000000L, 1L).otherwise(0L)).as("n_late_60s"))
        .withColumn("late_60s_ppm",
          call_function("div", col("n_late_60s") * 1000000L, col("n")))
        .orderBy("event_type")
    }),


    // peak concurrency per event type: sweep line over 10-minute activity
    // intervals — one ordered window, never the O(n²) overlap self-join;
    // reports the peak and the earliest time it was reached
    "q90_peak_concurrency" -> ((s, d) => {
      val iv = Tables.events(s, d).select(col("event_type"),
        col("ts_us").as("start_us"), (col("ts_us") + lit(600000000L)).as("end_us"))
      Analytics.peakConcurrency(iv, Seq("event_type"), "start_us", "end_us")
        .orderBy("event_type")
    }),


    // distribution drift between the log's time halves: exact integer
    // total-variation distance per event type over shared value bins —
    // the "did the data move under the model" monitor, no float probs
    "q89_distribution_drift" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"), col("ts_us"))
      val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid_ts"))
      val coh = ev.crossJoin(broadcast(mid))
        .select(col("event_type"), expr("cents div 1000").as("bin"),
          when(col("ts_us") <= col("mid_ts"), 1).otherwise(2).as("cohort"))
      Analytics.distributionDrift(coh, Seq("event_type"), "bin", "cohort")
        .orderBy("event_type")
    }),


    // first-order Markov transitions over user event histories: lead
    // window per user, state-space-sized counts, exact floor-ppm rows
    "q87_markov_transitions" -> ((s, d) => {
      Analytics.markovTransitions(Tables.events(s, d), Seq("user_id"),
          "event_type", Seq("ts_us", "event_id"))
        .orderBy("from_state", "to_state")
    }),


    // k-anonymity audit: quasi-identifiers (lang, source, length bucket);
    // buckets under k=5 are the re-identification risk a release must
    // suppress — the privacy-side complement of t7's PII scrubbing
    "q88_k_anonymity" -> ((s, d) => {
      Analytics.kAnonymity(
          Tables.documents(s, d)
            .select(col("lang"), col("source"), expr("n_chars div 100").as("len_bucket")),
          Seq("lang", "source", "len_bucket"), k = 5L)
        .orderBy("lang", "source", "len_bucket")
    }),


    // Pareto frontier (skyline) per event type, maximizing (amount,
    // recency) — two windows on one sort, never the O(n²) dominance join
    "q84_pareto_front" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"), col("ts_us"))
        .filter(col("cents").isNotNull)
      Analytics.paretoFrontier(ev, Seq("event_type"), "cents", "ts_us")
        .select(col("event_type"), col("event_id"), col("cents"), col("ts_us"))
        .orderBy("event_type", "cents", "ts_us", "event_id")
    }),


    // S3+S4 bootstrap-replay equivalence: snapshot the state at the log
    // midpoint (bootstrap scan), apply the CDC tail on top, re-compact.
    // The oracle computes latest-per-key over the FULL log in one pass, so
    // the hash match IS the reference's checkpoint+replay ≡ full-reset
    // invariant (spark/.../LogRDDSpec.scala:114-127)
    "q78_bootstrap_replay" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), col("value"))
      val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid_ts"))
      Changelog.bootstrapThenApply(ev.crossJoin(broadcast(mid)),
          Seq("user_id"), "ts_us", "mid_ts", tieBreakCols = Seq("event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"),
          col("ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),


    // winsorized robust aggregation: per-event-type p1/p99 bounds from
    // the mergeable log-histogram sketch, row-local clamp (broadcast
    // bounds), raw vs clamped sums + clamp counts — one pathological value
    // no longer owns the mean
    "q76_winsorized" -> ((s, d) => {
      Analytics.winsorizedStats(
          Tables.events(s, d)
            .select(col("event_type"), round(col("value") * 100).cast("long").as("cents")),
          Seq("event_type"), "cents", loPpm = 10000L, hiPpm = 990000L, s = 3)
        .orderBy("event_type")
    }),


    // sketch-derived range partitioning: bounds = octile quantiles of the
    // mergeable log-histogram (no sampling scan, deterministic, mergeable
    // across days); pid is a row-local indicator sum; footer-stat audit
    // proves ordered non-overlapping ranges with near-equal counts
    "q75_sketch_partition" -> ((s, d) => {
      Layout.sketchRangeStats(
          Tables.events(s, d).select(round(col("value") * 100).cast("long").as("cents")),
          col("cents"), numPartitions = 8, s = 3)
        .orderBy("pid")
    }),


    // k-truss (k=3) of the co-purchase graph: synchronous edge peeling by
    // triangle support (degree-ordered enumeration per round) — the
    // edge-level strengthening of k-core, unique fixpoint
    "q73_ktruss" -> ((s, d) => {
      GraphAlgorithms.kTruss(s, GraphAlgorithms.cooccurrenceEdges(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2L),
          k = 3)
        .orderBy("a", "b")
    }),


    // rendezvous (HRW) routing: per-key argmax of node-seeded hashes —
    // the elastic-membership extension of J1's fixed murmur2 routing;
    // adding node-d moves ONLY keys whose new max is node-d (~1/4),
    // visible as n3 <> n4 rows existing solely with n4 = 'node-d'
    "q74_rendezvous_route" -> ((s, d) => {
      val nodes3 = Seq("node-a", "node-b", "node-c")
      val keys = Tables.events(s, d).select(col("user_id")).distinct()
      keys
        .select(col("user_id"),
          rendezvousNode(col("user_id"), nodes3).as("n3"),
          rendezvousNode(col("user_id"), nodes3 :+ "node-d").as("n4"))
        .groupBy("n3", "n4")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("n3", "n4")
    }),


    // CMS inner-product join-size estimate (Cormode–Muthukrishnan): the
    // "how big is purchases ⋈ clicks before I shuffle it" planning
    // primitive — registers only, corpora never rescanned, certified
    // upper bound (min over rows of Σ cA·cB), exact join count beside
    "q72_join_size_sketch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val pur = ev.filter(col("event_type") === "purchase")
      val cli = ev.filter(col("event_type") === "click")
      val est = Sketches.cmsInnerProduct(
        Sketches.cmsBuild(pur, col("user_id"), lit(1L), depth = 4, width = 64),
        Sketches.cmsBuild(cli, col("user_id"), lit(1L), depth = 4, width = 64),
        depth = 4)
      val exact = pur.select(col("user_id"))
        .join(cli.select(col("user_id")), "user_id")
        .agg(count(lit(1)).as("n_exact"))
      est.crossJoin(exact)
        .select(col("n_exact"), col("join_size_est"),
          (col("join_size_est") >= col("n_exact")).as("upper_bounds"))
    }),

  )

  val oracles: Map[String, String] = Map(

    // KMV: k smallest distinct 60-bit md5 hashes; est = 31·2^40 //
    // (h_k // 2^20) once the register set is full, exact below k
    "q60_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
        |e AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_reg, MAX(hv) AS hk
        |  FROM r WHERE rn <= 32 GROUP BY event_type),
        |x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        |  FROM events GROUP BY event_type)
        |SELECT x.event_type, x.n_exact,
        |  CAST(CASE WHEN e.n_reg < 32 THEN e.n_reg
        |       ELSE (31 * (1::BIGINT << 40)) // greatest(hk // (1::BIGINT << 20), 1)
        |       END AS BIGINT) AS n_est
        |FROM x JOIN e USING (event_type) ORDER BY event_type""".stripMargin,


    // CMS 4×64: bucket = md5_60("r:key") % 64, counter = row count; probe
    // estimate = min over the 4 rows (COALESCE 0 for empty cells) — the
    // register CTEs are the shared cmsCellsSql builder (also w21's)
    "q61_cms_counts" ->
      s"""WITH $cmsCellsSql,
        |p AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
        |pb AS (SELECT user_id, r,
        |    CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':'
        |      || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS b
        |  FROM (SELECT user_id, unnest(range(0, 4)) AS r FROM p)),
        |est AS (SELECT user_id, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS n_est
        |  FROM pb LEFT JOIN cms USING (r, b) GROUP BY user_id),
        |x AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM events WHERE user_id < 20 GROUP BY user_id)
        |SELECT x.user_id, x.n_exact, est.n_est, est.n_est >= x.n_exact AS upper_bounds
        |FROM x JOIN est USING (user_id) ORDER BY user_id""".stripMargin,


    // Bloom 64 words × 60 bits, 3 hashes: pos = md5_60("i:key") % 3840,
    // word = pos//60, mask = 1<<(pos%60), words bit_or'd; probe needs all
    // 3 bits set; strict-positive 60-bit masks keep signed int64 safe
    "q62_bloom_membership" ->
      """WITH hot AS (SELECT DISTINCT o_custkey AS k FROM orders
        |  WHERE o_totalprice > 490000),
        |pp AS (SELECT CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || ':'
        |      || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 3840 AS pos
        |  FROM (SELECT k, unnest(range(0, 3)) AS i FROM hot)),
        |bloom AS (SELECT pos // 60 AS word,
        |    CAST(bit_or(1::BIGINT << CAST(pos % 60 AS INTEGER)) AS BIGINT) AS bits
        |  FROM pp GROUP BY 1),
        |prb AS (SELECT c_custkey, pos // 60 AS word,
        |    1::BIGINT << CAST(pos % 60 AS INTEGER) AS mask
        |  FROM (SELECT c_custkey,
        |      CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || ':'
        |        || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 3840 AS pos
        |    FROM (SELECT c_custkey, unnest(range(0, 3)) AS i FROM customer))),
        |hits AS (SELECT c_custkey,
        |    CAST(SUM(CASE WHEN (COALESCE(bits, 0) & mask) <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nh
        |  FROM prb LEFT JOIN bloom USING (word) GROUP BY c_custkey)
        |SELECT h.c_custkey, nh = 3 AS maybe_present, hot.k IS NOT NULL AS actually_in
        |FROM hits h LEFT JOIN hot ON h.c_custkey = hot.k
        |WHERE nh = 3 ORDER BY h.c_custkey""".stripMargin,


    // HLL m=64: idx = h%64, w = (h//64) mod 2^40, rho = 41−bitlength(w)
    // (41 at w=0); register = max rho; S = Σ 2^(41−M) with empty registers
    // contributing 2^41; raw estimate = 709·(64²·2^41 // S) // 1000 —
    // the chain is the shared hllChainSql builder (also w11's)
    "q63_hll_distinct" ->
      s"""WITH ${hllChainSql("event_type", "events")},
         |x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM events GROUP BY event_type)
         |SELECT x.event_type, x.n_exact, $hllEstSql AS n_est
         |FROM x JOIN e USING (event_type) ORDER BY event_type""".stripMargin,


    // q63's register algebra keyed by hour, then the BETWEEN merge join —
    // window registers are max-merges of hourly ones, estimate unchanged
    "q79_sliding_hll" ->
      """WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hour, user_id FROM events),
        |w AS (SELECT DISTINCT hour AS win_end FROM e),
        |b AS (SELECT hour,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM e),
        |r AS (SELECT hour, hv % 64 AS idx,
        |    (hv // 64) % (1::BIGINT << 40) AS w40 FROM b),
        |reg AS (SELECT hour, idx,
        |    MAX(CASE WHEN w40 = 0 THEN 41 ELSE 41 - length(bin(w40)) END) AS mreg
        |  FROM r GROUP BY 1, 2),
        |wreg AS (SELECT w.win_end, reg.idx, MAX(reg.mreg) AS mreg
        |  FROM reg JOIN w ON reg.hour BETWEEN w.win_end - 2 AND w.win_end
        |  GROUP BY 1, 2),
        |a AS (SELECT win_end,
        |    CAST(SUM(1::BIGINT << CAST(41 - mreg AS INTEGER)) AS BIGINT) AS sp,
        |    CAST(COUNT(*) AS BIGINT) AS np
        |  FROM wreg GROUP BY 1),
        |es AS (SELECT win_end, sp + (64 - np) * (1::BIGINT << 41) AS s FROM a),
        |x AS (SELECT w.win_end, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_exact
        |  FROM e JOIN w ON e.hour BETWEEN w.win_end - 2 AND w.win_end GROUP BY 1)
        |SELECT x.win_end, x.n_exact,
        |  CAST(709 * ((4096 * (1::BIGINT << 41)) // s) // 1000 AS BIGINT) AS n_est
        |FROM x JOIN es USING (win_end) ORDER BY win_end""".stripMargin,


    // same ceiling-rank rule on both frames: bucket-id cumsum for the
    // estimate, exact value cumsum for the truth; bucket lower bound
    // reconstructed by the shared integer formula
    "q69_quantile_sketch" ->
      s"""WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events),
         |g AS (SELECT DISTINCT event_type FROM v),
         |qq AS (SELECT event_type, unnest([500000, 900000, 990000]) AS q_ppm FROM g),
         |sk AS (SELECT event_type, ${Sketches.logBucketSql("cents", 3)} AS id,
         |    COUNT(*) AS cnt FROM v GROUP BY 1, 2),
         |sc AS (SELECT event_type, id,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM sk),
         |est AS (SELECT qq.event_type, qq.q_ppm, MIN(sc.id) AS id
         |  FROM qq JOIN sc ON sc.event_type = qq.event_type
         |    AND sc.cum >= greatest((qq.q_ppm * sc.n + 999999) // 1000000, 1)
         |  GROUP BY 1, 2),
         |cc AS (SELECT event_type, cents,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM (SELECT event_type, cents, COUNT(*) AS cnt FROM v GROUP BY 1, 2)),
         |ex AS (SELECT qq.event_type, qq.q_ppm, MIN(cc.cents) AS q_exact
         |  FROM qq JOIN cc ON cc.event_type = qq.event_type
         |    AND cc.cum >= greatest((qq.q_ppm * cc.n + 999999) // 1000000, 1)
         |  GROUP BY 1, 2)
         |SELECT est.event_type, CAST(est.q_ppm AS BIGINT) AS q_ppm,
         |  ${Sketches.logBucketLowSql("est.id", 3)} AS q_est, ex.q_exact
         |FROM est JOIN ex USING (event_type, q_ppm)
         |ORDER BY event_type, q_ppm""".stripMargin,


    // the PLAIN join — bloom false positives cannot change the result
    "q68_bloom_join" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${qSumSql("l_extendedprice", "sum_price")}
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_totalprice > 450000
         |GROUP BY 1 ORDER BY 1""".stripMargin,


    // tall per-column frame (stringified), base stats + plurality top
    // value with (count desc, value asc) tie-break
    "q67_profile" ->
      """WITH tall AS (
        |  SELECT 'event_type' AS col_name, event_type AS v FROM events
        |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL SELECT 'props', props FROM events),
        |base AS (SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |    CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
        |    MIN(v) AS v_min, MAX(v) AS v_max
        |  FROM tall GROUP BY 1),
        |t AS (SELECT col_name, v, COUNT(*) AS n FROM tall
        |  WHERE v IS NOT NULL GROUP BY 1, 2),
        |tp AS (SELECT col_name, v AS top_value, CAST(n AS BIGINT) AS top_n
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY col_name
        |          ORDER BY n DESC, v) AS rn FROM t) WHERE rn = 1)
        |SELECT base.col_name, base.n_rows, base.n_null, base.n_distinct,
        |  base.v_min, base.v_max, tp.top_value, tp.top_n
        |FROM base LEFT JOIN tp USING (col_name) ORDER BY col_name""".stripMargin,


    // KMV registers per day (k=32), pair merge re-ranked, estimates via
    // the shared estimator CASE; exact intersection from the distinct
    // (day, user) frame; inclusion-exclusion clamped at 0
    "q65_kmv_setops" -> {
      val est = kmvEstCaseSql _
      s"""WITH ev AS (SELECT 'd' || CAST((epoch_us(ts) - $Jan1_24) // $DayUs AS VARCHAR) AS day,
         |    user_id FROM events WHERE (epoch_us(ts) - $Jan1_24) // $DayUs < 5),
         |h AS (SELECT DISTINCT day,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
         |  FROM ev),
         |r AS (SELECT day, hv, ROW_NUMBER() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h),
         |reg AS (SELECT day, hv FROM r WHERE rn <= 32),
         |e AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_reg, MAX(hv) AS hk
         |  FROM reg GROUP BY 1),
         |s AS (SELECT day, ${est("n_reg", "hk")} AS n_est FROM e),
         |g AS (SELECT DISTINCT day FROM reg),
         |pr AS (SELECT a.day AS ga, b.day AS gb FROM g a JOIN g b ON a.day < b.day),
         |m AS (SELECT DISTINCT ga, gb, hv FROM (
         |    SELECT pr.ga, pr.gb, reg.hv FROM pr JOIN reg ON reg.day = pr.ga
         |    UNION ALL SELECT pr.ga, pr.gb, reg.hv FROM pr JOIN reg ON reg.day = pr.gb)),
         |mr AS (SELECT ga, gb, hv,
         |    ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY hv) AS rn FROM m),
         |ue AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_reg, MAX(hv) AS hk
         |  FROM mr WHERE rn <= 32 GROUP BY 1, 2),
         |un AS (SELECT ga, gb, ${est("n_reg", "hk")} AS union_est FROM ue),
         |j AS (SELECT un.ga, un.gb, sa.n_est AS a_est, sb.n_est AS b_est, un.union_est,
         |    greatest(sa.n_est + sb.n_est - un.union_est, 0) AS inter_est
         |  FROM un JOIN s sa ON sa.day = un.ga JOIN s sb ON sb.day = un.gb),
         |du AS (SELECT DISTINCT day, user_id FROM ev),
         |x AS (SELECT a.day AS ga, b.day AS gb, CAST(COUNT(*) AS BIGINT) AS n_inter_exact
         |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.day < b.day GROUP BY 1, 2)
         |SELECT j.ga, j.gb, j.a_est, j.b_est, j.union_est,
         |  CAST(j.inter_est AS BIGINT) AS inter_est,
         |  CAST(j.inter_est * 1000000 // greatest(j.union_est, 1) AS BIGINT) AS jaccard_ppm,
         |  COALESCE(x.n_inter_exact, 0) AS n_inter_exact
         |FROM j LEFT JOIN x USING (ga, gb) ORDER BY ga, gb""".stripMargin
    },


    // Morton z = Σ_j ((x>>j & 1) << 2j) + ((y>>j & 1) << 2j+1) over 10-bit
    // coords (user bucket, hour since Jan 1); pid = top 6 z-bits
    "q64_zorder_layout" ->
      s"""WITH c AS (SELECT user_id & 1023 AS x,
         |    ((epoch_us(ts) - $Jan1_24) // 3600000000) & 1023 AS y
         |  FROM events),
         |z AS (SELECT x, y, ${Layout.zValueSql("x", "y", 10)} AS z FROM c)
         |SELECT z >> 14 AS pid, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY pid""".stripMargin,


    "q66_label_prop" -> labelPropSql(iterations = 3),


    // exact heavy hitters: the CMS probe filter is invisible in the result
    // (no false negatives; survivors re-verified exactly), so the oracle
    // is the plain exact aggregate
    "q70_heavy_hitters" ->
      """SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
        |GROUP BY l_suppkey HAVING COUNT(*) >= 620 ORDER BY l_suppkey""".stripMargin,


    "q71_kcore" -> kCoreSql(k = 3, rounds = 16),


    // mirrors Layout.sketchRangeStats: same logHist bucket/quantile
    // formulas as q69, bounds gathered into a list, pid = per-row count
    // of cleared bounds
    "q77_time_travel" ->
      s"""SELECT user_id, event_id AS last_event_id, value AS last_value,
         |  ts_us AS last_ts_us
         |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
         |        ROW_NUMBER() OVER (PARTITION BY user_id
         |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |      FROM events WHERE epoch_us(ts) <= $Jan10_24)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,


    // same closed form: running sum window, prefix-min for the clamp flag,
    // order-free final aggregates
    "q80_rmw_fold" ->
      """WITH e AS (SELECT user_id,
        |    CAST(round(value*100) AS BIGINT) - 3500 AS d,
        |    epoch_us(ts) AS ts_us, event_id FROM events),
        |r1 AS (SELECT user_id, d, ts_us, event_id,
        |    CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |  FROM e),
        |r2 AS (SELECT user_id, d, s,
        |    CAST(MIN(s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS pm
        |  FROM r1)
        |SELECT user_id,
        |  CAST(SUM(d) AS BIGINT) - LEAST(0, CAST(MIN(s) AS BIGINT)) AS final_balance,
        |  CAST(COUNT(*) AS BIGINT) AS n_updates,
        |  CAST(SUM(CASE WHEN s < 0 AND s < COALESCE(pm, 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
        |FROM r2 GROUP BY user_id ORDER BY user_id""".stripMargin,


    // single-pass full-log recompute — equality with the Spark side's
    // base-state + delta-state merge is the IVM invariant
    "q81_mv_incremental" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  MAX(epoch_us(ts)) AS last_ts_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    // same integer test; DuckDB window SUMs land in HUGEINT so the
    // products never overflow (Spark side uses decimal(38,0))
    // shared verbatim with w18's streaming drain (Support single-source)
    "q82_rolling_anomaly" -> rollingAnomalySql,


    // island flag = start exceeds running max end of all earlier intervals
    // (COALESCE to start-1 ≡ Spark's Long.MinValue: first row always opens)
    "q83_interval_merge" ->
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |    epoch_us(ts) + 600000000 AS end_us FROM events),
        |f AS (SELECT user_id, event_id, start_us, end_us,
        |    CASE WHEN start_us > COALESCE(MAX(end_us) OVER (PARTITION BY user_id
        |      ORDER BY start_us, end_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), start_us - 1)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM iv),
        |g AS (SELECT user_id, start_us, end_us,
        |    CAST(SUM(nw) OVER (PARTITION BY user_id
        |      ORDER BY start_us, end_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM f)
        |SELECT user_id, island, MIN(start_us) AS island_start,
        |  MAX(end_us) AS island_end, COUNT(*) AS n_rows
        |FROM g GROUP BY user_id, island ORDER BY user_id, island""".stripMargin,


    // same first-seen-flag identity; DuckDB window SUM → BIGINT casts
    "q85_cumulative_distinct" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
        |    epoch_us(date_trunc('day', ts)) AS day_us FROM events),
        |f AS (SELECT user_id, day_us,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts_us, event_id) = 1 THEN 1 ELSE 0 END AS first_seen
        |  FROM e),
        |d AS (SELECT user_id, day_us AS period_us,
        |    CAST(SUM(first_seen) AS BIGINT) AS n_new, COUNT(*) AS n_events
        |  FROM f GROUP BY 1, 2)
        |SELECT user_id, period_us, n_new, n_events,
        |  CAST(SUM(n_new) OVER (PARTITION BY user_id ORDER BY period_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_distinct
        |FROM d ORDER BY user_id, period_us""".stripMargin,


    // q39's frontier CTE shape; floor-minute via `//` ≡ Spark `div`
    "q86_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |f1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |    WHERE event_type = 'click' GROUP BY user_id),
        |f2 AS (SELECT e.user_id, f1.t1, MIN(e.ts_us) AS t2
        |  FROM e JOIN f1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts_us > f1.t1
        |  GROUP BY 1, 2)
        |SELECT CAST((t2 - t1) // 60000000 AS BIGINT) AS lag_min,
        |  COUNT(*) AS n_users
        |FROM f2 GROUP BY 1 ORDER BY 1""".stripMargin,


    // q54's edge CTE (support >= 2, basket cap 5) + hub-capped wedges;
    // full-graph degrees in the denominator, one canonical double division
    // cross-multiplied avg threshold: 5·qc·cnt < sum_qc, all BIGINT
    "q96_small_qty_parts" ->
      """WITH li AS (SELECT l_partkey, CAST(round(l_quantity*100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS pc FROM lineitem),
        |pa AS (SELECT l_partkey, COUNT(*) AS cnt,
        |    CAST(SUM(qc) AS BIGINT) AS sum_qc FROM li GROUP BY 1)
        |SELECT p_brand, COUNT(*) AS n_small, CAST(SUM(li.pc) AS BIGINT) AS small_rev_cents
        |FROM li JOIN pa USING (l_partkey) JOIN part ON l_partkey = p_partkey
        |WHERE li.qc*5*cnt < sum_qc
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // EXISTS/NOT EXISTS as per-order supplier/late counts (n_supp≥2, n_late=1)
    "q97_waiting_suppliers" ->
      """WITH os AS (SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate)
        |      > 5184000000000 THEN 1 ELSE 0 END) AS any_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, COUNT(*) AS n_supp,
        |    CAST(SUM(any_late) AS BIGINT) AS n_late FROM os GROUP BY 1)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM os JOIN po USING (l_orderkey) JOIN supplier ON l_suppkey = s_suppkey
        |WHERE os.any_late = 1 AND po.n_supp >= 2 AND po.n_late = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""".stripMargin,


    // scalar subquery as a 1-row cross join; `//` ≡ `div` on non-negatives
    "q98_important_parts" ->
      """WITH li AS (SELECT l_partkey,
        |    CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT) AS rc FROM lineitem),
        |pp AS (SELECT l_partkey, CAST(SUM(rc) AS BIGINT) AS rev FROM li GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev) AS BIGINT) AS total FROM pp)
        |SELECT l_partkey, p_brand, rev::DOUBLE/10000.0 AS revenue,
        |  CAST((rev * 1000) // (total // 1000) AS BIGINT) AS share_ppm
        |FROM pp, t JOIN part ON l_partkey = p_partkey
        |WHERE rev > total // 2000
        |ORDER BY revenue DESC, l_partkey""".stripMargin,


    // same moments in HUGEINT; rank over (cents, custkey) — equal values
    // make the i·x sum tie-order-invariant
    "q119_concentration" ->
      """WITH r AS (SELECT c_mktsegment, c_custkey,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |k AS (SELECT c_mktsegment, cents,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY cents, c_custkey) AS i FROM r),
        |m AS (SELECT c_mktsegment, COUNT(*) AS n,
        |    CAST(SUM(cents) AS HUGEINT) AS t,
        |    CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2,
        |    CAST(SUM(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS w1
        |  FROM k GROUP BY 1)
        |SELECT c_mktsegment, n, t::DOUBLE AS total,
        |  (2*w1 - (n+1)*t)::DOUBLE / (n*t)::DOUBLE AS gini,
        |  s2::DOUBLE / (t::DOUBLE * t::DOUBLE) AS hhi
        |FROM m ORDER BY c_mktsegment""".stripMargin,


    // the SAME WilsonLb SQL string, verbatim
    "q118_wilson_rank" ->
      s"""WITH p AS (SELECT l_partkey, COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS k
         |  FROM lineitem GROUP BY 1),
         |w AS (SELECT l_partkey, n, k, $WilsonLb AS wilson_lb FROM p),
         |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY wilson_lb DESC, l_partkey) AS rank
         |  FROM w)
         |SELECT CAST(rank AS INTEGER) AS rank, l_partkey, n, k, wilson_lb
         |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,


    // same ≤30-day expansion via lateral unnest(range); trailing window =
    // days [d−29, d] clipped at the observed max day
    "q116_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |b AS (SELECT MAX(day) AS d1 FROM ud),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |mx AS (SELECT DISTINCT user_id, unnest(range(day, day + 30)) AS day FROM ud),
        |mau AS (SELECT day, COUNT(*) AS mau FROM mx, b WHERE day <= b.d1 GROUP BY 1)
        |SELECT day, dau, mau,
        |  CAST((dau * 1000000) // mau AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN mau USING (day) ORDER BY day""".stripMargin,


    // lag over the week-sized aggregate; +1 Laplace floor-div ppm
    "q117_wow_growth" ->
      s"""WITH wk AS (SELECT event_type, epoch_us(ts) // $WeekUs AS week, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_type, week, n,
         |    lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n FROM wk)
         |SELECT event_type, week, n, prev_n,
         |  CAST(CASE WHEN prev_n IS NOT NULL
         |    THEN ((n + 1) * 1000000) // (prev_n + 1) END AS BIGINT) AS growth_ppm
         |FROM l ORDER BY event_type, week""".stripMargin,


    // cohort by first-seen week over ALL events, revenue from purchases;
    // window sums cast from HUGEINT
    "q114_cohort_ltv" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type,
         |    CAST(round(COALESCE(value, 0)*100) AS BIGINT) AS cents FROM events),
         |f AS (SELECT user_id, MIN(ts_us) AS t0 FROM e GROUP BY 1),
         |r AS (SELECT t0 // $WeekUs AS cohort_week,
         |    (ts_us - t0) // $WeekUs AS offset_weeks, cents
         |  FROM e JOIN f USING (user_id) WHERE event_type = 'purchase'),
         |a AS (SELECT cohort_week, offset_weeks, COUNT(*) AS n_purchases,
         |    CAST(SUM(cents) AS BIGINT) AS rev_cents FROM r GROUP BY 1, 2)
         |SELECT cohort_week, offset_weeks, n_purchases, rev_cents,
         |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week ORDER BY offset_weeks
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
         |FROM a ORDER BY cohort_week, offset_weeks""".stripMargin,


    // two cum*2 >= tot median passes (q110's frame), then integer outlier test
    "q115_mad_outliers" ->
      """WITH e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |w1 AS (SELECT event_type, cents,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY cents) AS BIGINT) AS cum,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS tot FROM e),
        |med AS (SELECT event_type, MIN(CASE WHEN cum*2 >= tot THEN cents END) AS med
        |  FROM w1 GROUP BY 1),
        |d AS (SELECT e.event_type, cents, med, abs(cents - med) AS adev
        |  FROM e JOIN med USING (event_type)),
        |w2 AS (SELECT event_type, med, adev,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY adev) AS BIGINT) AS cum,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS tot FROM d),
        |mad AS (SELECT event_type, MIN(CASE WHEN cum*2 >= tot THEN adev END) AS mad
        |  FROM w2 GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n, MAX(d.med) AS med, MAX(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN adev > mad.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad ON d.event_type = mad.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // DuckDB year() is BIGINT, Spark's is INT — cast in the oracle
    "q113_nation_volume" ->
      """WITH f AS (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |    CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT) AS rc
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name != cn.n_name)
        |SELECT supp_nation, cust_nation, ship_year, COUNT(*) AS n_items,
        |  CAST(SUM(rc) AS BIGINT)::DOUBLE/10000.0 AS revenue
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,


    // q93's sessionization, then the min/max-per-(session, type) collapse
    "q111_seq_patterns" ->
      """WITH flagged AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (SELECT user_id, ts_us, event_type,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |st AS (SELECT user_id, session_seq, event_type,
        |    MIN(ts_us) AS tmin, MAX(ts_us) AS tmax
        |  FROM sess GROUP BY 1, 2, 3)
        |SELECT x.event_type AS a, y.event_type AS b, COUNT(*) AS n_sessions
        |FROM st x JOIN st y ON x.user_id = y.user_id
        |  AND x.session_seq = y.session_seq AND x.tmin < y.tmax
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // window sums over the nation-sized aggregate; `//` ≡ `div`, HUGEINT cast
    "q112_ratio_to_parent" ->
      """WITH rev AS (SELECT r_name, n_name,
        |    CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |w AS (SELECT *, CAST(SUM(rev_cents) OVER (PARTITION BY r_name) AS BIGINT) AS rc,
        |    CAST(SUM(rev_cents) OVER () AS BIGINT) AS tc FROM rev)
        |SELECT r_name, n_name, rev_cents,
        |  CAST((rev_cents * 1000000) // rc AS BIGINT) AS of_region_ppm,
        |  CAST((rev_cents * 1000000) // tc AS BIGINT) AS of_total_ppm
        |FROM w ORDER BY r_name, n_name""".stripMargin,


    // default ordered frame is RANGE (tie-inclusive) in BOTH engines —
    // the structural tie-safety the operator relies on
    "q110_weighted_median" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS v,
        |    CAST(round(l_quantity*100) AS BIGINT) AS wq
        |  FROM lineitem),
        |w AS (SELECT l_returnflag, l_linestatus, v, wq,
        |    CAST(SUM(wq) OVER (PARTITION BY l_returnflag, l_linestatus
        |      ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(wq) OVER (PARTITION BY l_returnflag, l_linestatus)
        |      AS BIGINT) AS tot
        |  FROM li)
        |SELECT l_returnflag, l_linestatus,
        |  MIN(CASE WHEN cum*2 >= tot THEN v END) AS wmedian,
        |  COUNT(*) AS n, MAX(tot) AS total_weight
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // MIN over the strict-following ROWS frame on the same total order
    "q109_followed_by" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |n AS (SELECT event_type, ts_us,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts_us END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
        |  FROM e),
        |c AS (SELECT (ts_us // 3600000000) % 24 AS hour,
        |    CASE WHEN next_p IS NOT NULL AND next_p - ts_us <= 600000000
        |      THEN 1 ELSE 0 END AS conv
        |  FROM n WHERE event_type = 'click')
        |SELECT hour, COUNT(*) AS n_clicks, CAST(SUM(conv) AS BIGINT) AS n_conv,
        |  CAST((CAST(SUM(conv) AS BIGINT) * 1000000) // COUNT(*) AS BIGINT) AS conv_ppm
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


    // s17's edge CTEs → degree join → q95's moment algebra
    "q108_degree_assortativity" ->
      """WITH li0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |li AS (SELECT o, p FROM (SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS bn
        |    FROM li0) WHERE bn <= 5),
        |e AS (SELECT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, COUNT(*) AS dg FROM adj GROUP BY 1),
        |p AS (SELECT du.dg AS x, dv.dg AS y
        |  FROM adj JOIN deg du ON du.u = adj.u JOIN deg dv ON dv.u = adj.v),
        |m AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx, CAST(SUM(y*y) AS HUGEINT) AS syy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy
        |  FROM p),
        |d AS (SELECT n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS d1,
        |    n*syy - sy*sy AS d2 FROM m)
        |SELECT 'copurchase' AS graph, n,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |    THEN num::DOUBLE / sqrt(d1::DOUBLE * d2::DOUBLE) END AS assortativity
        |FROM d ORDER BY graph""".stripMargin,


    // full-graph recompute (q12's reach fixpoint) over ALL edges — the
    // incremental contraction must land on identical min-vertex labels
    "q107_incremental_cc" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), sym AS (
        |  SELECT src, dst FROM e UNION SELECT dst, src FROM e
        |), reach(a, b) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
        |), lbl AS (
        |  SELECT a, MIN(b) AS mb FROM reach GROUP BY a
        |)
        |SELECT CASE WHEN a % 2 = 0 THEN 'c:' ELSE 's:' END || CAST(a // 2 AS VARCHAR) AS vertex,
        |  CASE WHEN mb % 2 = 0 THEN 'c:' ELSE 's:' END || CAST(mb // 2 AS VARCHAR) AS component
        |FROM lbl ORDER BY vertex""".stripMargin,


    // q95's moment CTE over the lag-24 joined hourly series
    "q105_autocorrelation" ->
      """WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |p AS (SELECT a.n AS x, b.n AS y
        |  FROM hc a JOIN hc b ON a.h = b.h + 24),
        |m AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx, CAST(SUM(y*y) AS HUGEINT) AS syy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy
        |  FROM p),
        |d AS (SELECT n, n*sxy - sx*sy AS num, n*sxx - sx*sx AS d1,
        |    n*syy - sy*sy AS d2 FROM m)
        |SELECT 'hourly_lag24' AS series, n,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |    THEN num::DOUBLE / sqrt(d1::DOUBLE * d2::DOUBLE) END AS corr
        |FROM d ORDER BY series""".stripMargin,


    // IGNORE NULLS last_value over the strict-past frame ≡ Spark
    // last(..., ignoreNulls).over(rowsBetween(unboundedPreceding, -1))
    "q106_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events),
        |a AS (SELECT event_type,
        |    LAST_VALUE(CASE WHEN event_type != 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src
        |  FROM e)
        |SELECT COALESCE(src, '(none)') AS attributed, COUNT(*) AS n_purchases
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // max-scalar-subquery over the same aggregate; ties kept
    "q103_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey,
         |    CAST(SUM(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS rev
         |  FROM lineitem
         |  WHERE epoch_us(l_shipdate) >= $Jan1_96 AND epoch_us(l_shipdate) < $Jan1_97
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, rev::DOUBLE/10000.0 AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev = (SELECT MAX(rev) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,


    // positive-balance average via cross-multiplication; NOT EXISTS orders
    "q104_idle_rich" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal*100) AS BIGINT) AS bal FROM customer),
        |st AS (SELECT COUNT(*) AS npos, CAST(SUM(bal) AS BIGINT) AS spos
        |  FROM c WHERE bal > 0)
        |SELECT c_mktsegment, COUNT(*) AS n_custs, CAST(SUM(bal) AS BIGINT) AS sum_bal_cents
        |FROM c, st
        |WHERE bal * npos > spos
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND epoch_us(o_orderdate) >= 946684800000000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // q95's HUGEINT moment CTE; intercept/r² double trees shaped exactly
    // like the Spark side (slope reused, corr squared)
    "q102_grouped_ols" ->
      """WITH j AS (SELECT c_nationkey, CAST(round(c_acctbal*100) AS BIGINT) AS x,
        |    CAST(round(o_totalprice*100) AS BIGINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |m AS (SELECT c_nationkey, COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx, CAST(SUM(y*y) AS HUGEINT) AS syy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy
        |  FROM j GROUP BY 1),
        |d AS (SELECT c_nationkey, n, sx, sy,
        |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS d1, n*syy - sy*sy AS d2
        |  FROM m)
        |SELECT c_nationkey, n,
        |  CASE WHEN d1 > 0 THEN num::DOUBLE / d1::DOUBLE END AS slope,
        |  CASE WHEN d1 > 0 THEN
        |    (sy::DOUBLE - (num::DOUBLE / d1::DOUBLE) * sx::DOUBLE) / n::DOUBLE
        |  END AS intercept,
        |  CASE WHEN d1 > 0 AND d2 > 0 THEN
        |    (num::DOUBLE / sqrt(d1::DOUBLE * d2::DOUBLE)) *
        |    (num::DOUBLE / sqrt(d1::DOUBLE * d2::DOUBLE))
        |  END AS r2
        |FROM d ORDER BY c_nationkey""".stripMargin,


    // FIRST_VALUE over ordered window (default frame) ≡ Spark first().over
    // (the d16-proven pairing); `//` ≡ `div` on non-negative epoch µs
    "q100_m4_downsample" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |w AS (SELECT event_type, ts_us // 86400000000 AS bucket, cents,
        |    FIRST_VALUE(cents) OVER (PARTITION BY event_type, ts_us // 86400000000
        |      ORDER BY ts_us, event_id) AS f,
        |    FIRST_VALUE(cents) OVER (PARTITION BY event_type, ts_us // 86400000000
        |      ORDER BY ts_us DESC, event_id DESC) AS l
        |  FROM e)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
        |  MIN(cents) AS min_v, MAX(cents) AS max_v,
        |  MIN(f) AS first_v, MIN(l) AS last_v
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // same closed form: C = S − min(0, prefix-min S); target = sum//count
    // (floor ≡ div on the non-negative cents); window sums cast from HUGEINT
    "q101_cusum" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |t AS (SELECT event_type,
        |    $offsetMeanDuckSql AS target
        |  FROM e GROUP BY 1),
        |s AS (SELECT event_type, ts_us, event_id,
        |    CAST(SUM(cents - target) OVER w AS BIGINT) AS s
        |  FROM e JOIN t USING (event_type)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |c AS (SELECT event_type, s - LEAST(0, MIN(s) OVER w) AS c
        |  FROM s
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, COUNT(*) AS n, MAX(c) AS max_cusum,
        |  CAST(SUM(CASE WHEN c > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


    // s17's edge CTEs, then 4 unrolled BFS rounds; every multiply-referenced
    // CTE is MATERIALIZED (DuckDB inlines otherwise — the round k reference
    // chain would expand 2^rounds); MIN over the union ≡ the anti-join
    "q99_bfs_hops" ->
      """WITH li0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |li AS (SELECT o, p FROM (SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS bn
        |    FROM li0) WHERE bn <= 5),
        |e AS MATERIALIZED (SELECT x.p AS a, y.p AS b
        |      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u, COUNT(*) AS dg FROM adj GROUP BY 1),
        |seeds AS (SELECT u AS node FROM
        |  (SELECT u, ROW_NUMBER() OVER (ORDER BY dg DESC, u) AS rk FROM deg)
        |  WHERE rk <= 5),
        |d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM seeds),
        |d1 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM d0 UNION ALL
        |    SELECT adj.v, 1 FROM adj JOIN d0 ON adj.u = d0.node WHERE d0.dist = 0)
        |  GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM d1 UNION ALL
        |    SELECT adj.v, 2 FROM adj JOIN d1 ON adj.u = d1.node WHERE d1.dist = 1)
        |  GROUP BY 1),
        |d3 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM d2 UNION ALL
        |    SELECT adj.v, 3 FROM adj JOIN d2 ON adj.u = d2.node WHERE d2.dist = 2)
        |  GROUP BY 1),
        |d4 AS (SELECT node, MIN(dist) AS dist FROM (
        |    SELECT node, dist FROM d3 UNION ALL
        |    SELECT adj.v, 4 FROM adj JOIN d3 ON adj.u = d3.node WHERE d3.dist = 3)
        |  GROUP BY 1)
        |SELECT node, CAST(dist AS INTEGER) AS dist FROM d4 ORDER BY node""".stripMargin,


    // same five integer moments in HUGEINT; the final division is the
    // only double on both sides (correctly-rounded casts of exact ints)
    "q95_grouped_corr" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value*100) AS BIGINT) AS x,
        |    (epoch_us(ts) // 3600000000) % 24 AS y
        |  FROM events),
        |m AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx, CAST(SUM(y*y) AS HUGEINT) AS syy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy
        |  FROM e GROUP BY 1),
        |d AS (SELECT event_type, n,
        |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS d1, n*syy - sy*sy AS d2
        |  FROM m)
        |SELECT event_type, n,
        |  CASE WHEN d1 > 0 AND d2 > 0
        |    THEN num::DOUBLE / sqrt(d1::DOUBLE * d2::DOUBLE) END AS corr
        |FROM d ORDER BY event_type""".stripMargin,


    // same Hamilton arithmetic; `//`+`%` ≡ `div`+`%` on non-negatives
    "q94_budget_alloc" ->
      """WITH st AS (SELECT lang, source, COUNT(*) AS n_rows FROM documents GROUP BY 1, 2),
        |t AS (SELECT *, CAST(SUM(n_rows) OVER () AS BIGINT) AS N FROM st),
        |q AS (SELECT lang, source, n_rows,
        |    CAST((1000*n_rows) // N AS BIGINT) AS quota,
        |    CAST((1000*n_rows) % N AS BIGINT) AS rem FROM t),
        |w AS (SELECT *, CAST(1000 - SUM(quota) OVER () AS BIGINT) AS leftover,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source) AS rk FROM q)
        |SELECT lang, source, n_rows, quota,
        |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM w ORDER BY lang, source""".stripMargin,


    // q19's sessionization with total (ts, event_id) order; path built by
    // string_agg with the same in-session ordering; global top-20 rank
    "q93_session_paths" ->
      """WITH flagged AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (SELECT user_id, ts_us, event_id, event_type,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |capped AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
        |      (PARTITION BY user_id, session_seq ORDER BY ts_us, event_id) AS rn
        |    FROM sess) WHERE rn <= 8),
        |p AS (SELECT user_id, session_seq,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM capped GROUP BY 1, 2),
        |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rank FROM c)
        |SELECT CAST(rank AS INTEGER) AS rank, path, n_sessions
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,


    // DuckDB `<<` takes a column amount (Spark needs the SQL shiftleft
    // spelling); `//` ≡ `div` on the non-negative shift results
    "q91_decayed_sum" ->
      """WITH mx AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
        |e AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
        |    LEAST(((SELECT mx FROM mx) - epoch_us(ts)) // 86400000000, 40) AS age
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(SUM(cents // (CAST(1 AS BIGINT) << age)) AS BIGINT) AS decayed_cents
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,


    // prefix max over ingest order (event_id); HUGEINT window sums cast
    "q92_watermark_lag" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT event_type,
        |    CAST(MAX(ts_us) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - ts_us AS lag_us
        |  FROM e),
        |a AS (SELECT event_type, COUNT(*) AS n, MAX(lag_us) AS max_lag_us,
        |    CAST(SUM(CASE WHEN lag_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_60s
        |  FROM l GROUP BY 1)
        |SELECT event_type, n, max_lag_us, n_late_60s,
        |  CAST((n_late_60s * 1000000) // n AS BIGINT) AS late_60s_ppm
        |FROM a ORDER BY event_type""".stripMargin,


    // same sweep: UNION ALL of +1/-1 points, running sum over (t, delta)
    "q90_peak_concurrency" ->
      """WITH pts AS (
        |  SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, epoch_us(ts) + 600000000 AS t, -1 AS delta FROM events),
        |r AS (SELECT event_type, t, delta,
        |    CAST(SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
        |  FROM pts),
        |m AS (SELECT event_type, t, run,
        |    CAST(MAX(run) OVER (PARTITION BY event_type) AS BIGINT) AS mx
        |  FROM r)
        |SELECT event_type, MIN(mx) AS max_concurrent,
        |  MIN(CASE WHEN run = mx THEN t END) AS peak_ts_us
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin,


    // same common-denominator TV arithmetic in HUGEINT; `//` ≡ `div`
    "q89_distribution_drift" ->
      """WITH b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM events),
        |e AS (SELECT event_type, CAST(round(value*100) AS BIGINT) // 1000 AS bin,
        |    CASE WHEN epoch_us(ts) <= (SELECT (mn + mx) // 2 FROM b)
        |      THEN 1 ELSE 2 END AS cohort
        |  FROM events),
        |c AS (SELECT event_type, bin,
        |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN cohort = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT *,
        |    CAST(SUM(n1) OVER (PARTITION BY event_type) AS BIGINT) AS t1,
        |    CAST(SUM(n2) OVER (PARTITION BY event_type) AS BIGINT) AS t2
        |  FROM c)
        |SELECT event_type, COUNT(*) AS n_bins,
        |  MIN(t1) AS n_cohort1, MIN(t2) AS n_cohort2,
        |  CAST(CASE WHEN MIN(t1) > 0 AND MIN(t2) > 0 THEN
        |      (1000000 * CAST(SUM(ABS(n1*t2 - n2*t1)) AS HUGEINT))
        |        // (2 * MIN(t1) * MIN(t2))
        |    ELSE 1000000 END AS BIGINT) AS tv_ppm
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,


    // LEAD over the same total order; window-SUM → HUGEINT cast before //
    "q87_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        |  FROM events),
        |t AS (SELECT event_type AS from_state,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS to_state
        |  FROM e),
        |c AS (SELECT from_state, to_state, COUNT(*) AS n FROM t
        |  WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  CAST((n * 1000000) // CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT)
        |    AS BIGINT) AS p_ppm
        |FROM c ORDER BY from_state, to_state""".stripMargin,


    "q88_k_anonymity" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS n,
        |  CAST(CASE WHEN COUNT(*) >= 5 THEN 1 ELSE 0 END AS INTEGER) AS is_anonymous
        |FROM documents GROUP BY 1, 2, 3 ORDER BY lang, source, len_bucket""".stripMargin,


    // dominated iff a strictly-larger-cents row has ts ≥ mine (RANGE frame
    // on the DESC integer ordering ≡ cents > current) or a cents-tie has
    // ts > mine; duplicates of (cents, ts) all survive — same two windows
    "q84_pareto_front" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents, epoch_us(ts) AS ts_us
        |  FROM events WHERE value IS NOT NULL),
        |w AS (SELECT *,
        |    MAX(ts_us) OVER (PARTITION BY event_type ORDER BY cents DESC
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mxy,
        |    MAX(ts_us) OVER (PARTITION BY event_type, cents) AS mty
        |  FROM e)
        |SELECT event_type, event_id, cents, ts_us FROM w
        |WHERE (mxy IS NULL OR mxy < ts_us) AND mty = ts_us
        |ORDER BY event_type, cents, ts_us, event_id""".stripMargin,


    // single-pass latest-per-key over the whole log — equality with the
    // Spark side's two-phase bootstrap+tail replay is the point
    "q78_bootstrap_replay" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  value AS last_value, ts_us AS last_ts_us
        |FROM (SELECT user_id, event_id, event_type, value,
        |        epoch_us(ts) AS ts_us,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,


    // same per-group logHist quantile rule as q69 at q_ppm in (1e4, 99e4),
    // pivoted to lo/hi, then a row-local clamp and integer sums
    "q76_winsorized" ->
      s"""WITH v AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents
         |  FROM events),
         |sk AS (SELECT event_type, ${Sketches.logBucketSql("cents", 3)} AS id,
         |    COUNT(*) AS cnt FROM v GROUP BY 1, 2),
         |sc AS (SELECT event_type, id,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM sk),
         |qq AS (SELECT event_type, unnest([10000, 990000]) AS q_ppm
         |  FROM (SELECT DISTINCT event_type FROM v)),
         |est AS (SELECT qq.event_type, qq.q_ppm, MIN(sc.id) AS id
         |  FROM qq JOIN sc ON sc.event_type = qq.event_type
         |    AND sc.cum >= greatest((qq.q_ppm * sc.n + 999999) // 1000000, 1)
         |  GROUP BY 1, 2),
         |b AS (SELECT event_type,
         |    MIN(CASE WHEN q_ppm = 10000 THEN ${Sketches.logBucketLowSql("id", 3)} END) AS lo,
         |    MIN(CASE WHEN q_ppm = 990000 THEN ${Sketches.logBucketLowSql("id", 3)} END) AS hi
         |  FROM est GROUP BY event_type)
         |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(cents) AS BIGINT) AS sum_raw,
         |  CAST(SUM(greatest(b.lo, least(cents, b.hi))) AS BIGINT) AS sum_winsorized,
         |  CAST(SUM(CASE WHEN cents < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
         |  CAST(SUM(CASE WHEN cents > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high
         |FROM v JOIN b USING (event_type)
         |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin,


    "q75_sketch_partition" -> {
      val qs = (1 until 8).map(i => i * 1000000L / 8).mkString(", ")
      s"""WITH v AS (SELECT CAST(round(value*100) AS BIGINT) AS cents FROM events),
         |sk AS (SELECT ${Sketches.logBucketSql("cents", 3)} AS id, COUNT(*) AS cnt
         |  FROM v GROUP BY 1),
         |sc AS (SELECT id,
         |    CAST(SUM(cnt) OVER (ORDER BY id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |    CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM sk),
         |qq AS (SELECT unnest([$qs]) AS q_ppm),
         |est AS (SELECT qq.q_ppm, MIN(sc.id) AS id
         |  FROM qq JOIN sc ON sc.cum >= greatest((qq.q_ppm * sc.n + 999999) // 1000000, 1)
         |  GROUP BY 1),
         |b AS (SELECT list(${Sketches.logBucketLowSql("id", 3)} ORDER BY q_ppm) AS bounds
         |  FROM est),
         |p AS (SELECT CAST(len([x FOR x IN b.bounds IF cents > x]) AS BIGINT) AS pid, cents
         |  FROM v, b)
         |SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MIN(cents) AS v_min, MAX(cents) AS v_max
         |FROM p GROUP BY pid ORDER BY pid""".stripMargin
    },


    "q73_ktruss" -> kTrussSql(k = 3, rounds = 4),


    "q74_rendezvous_route" -> rendezvousRouteSql,


    // mirrors cmsBuild (seeded 60-bit md5 % width, per q61) on both sides,
    // then min over rows of the per-row cell-product sum
    "q72_join_size_sketch" ->
      """WITH pur AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'purchase'),
        |cli AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'click'),
        |ca AS (SELECT r,
        |    CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':' || k), 1, 15)) AS BIGINT) % 64 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(range(0, 4)) AS r, k FROM pur) GROUP BY 1, 2),
        |cb AS (SELECT r,
        |    CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':' || k), 1, 15)) AS BIGINT) % 64 AS b,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(range(0, 4)) AS r, k FROM cli) GROUP BY 1, 2),
        |dots AS (SELECT ca.r, CAST(SUM(ca.c * cb.c) AS BIGINT) AS dot
        |  FROM ca JOIN cb ON ca.r = cb.r AND ca.b = cb.b GROUP BY ca.r),
        |est AS (SELECT CAST(MIN(COALESCE(dot, 0)) AS BIGINT) AS join_size_est
        |  FROM (SELECT unnest(range(0, 4)) AS r) s LEFT JOIN dots USING (r)),
        |x AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM pur p JOIN cli c ON p.k = c.k)
        |SELECT x.n_exact, est.join_size_est,
        |  est.join_size_est >= x.n_exact AS upper_bounds
        |FROM x CROSS JOIN est""".stripMargin,

  )
}

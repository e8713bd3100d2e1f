package graft.queries

import graft.core.{Changelog, Tables, TimeRange}
import graft.functions.GraftFunctions._
import graft.multimodal.Multimodal
import graft.operators._
import graft.state.{GlobalTable, KVTable, SecondaryIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Support._

/** Core relational/state/window queries (q1-q59). Registry split from the former monolithic
  * SparkEntry maps; aggregated by [[graft.SparkEntry]]. Each query entry
  * has its DuckDB oracle adjacent in [[CoreQueries1.oracles]]. */
private[graft] object CoreQueries1 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J2 scatter-gather aggregation (partial+final agg ≙ gather combiner)
    "q1_pricing_summary" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          qSum(col("l_quantity"), "sum_qty"),
          qSum(col("l_extendedprice"), "sum_base_price"),
          qSumWide(col("l_extendedprice") * (lit(1) - col("l_discount")), "sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),


    // R2/J3 prefix + event-time range scan over the keyed changelog view
    "q2_range_scan" -> ((s, d) => {
      val ev = Tables.events(s, d)
      KVTable(ev, Seq("event_type", "event_id"), "ts_us")
        .scan(Seq("click"), TimeRange(Jan10_24, Jan20_24))
        .select(col("event_id"), col("user_id"), col("value"), col("ts_us"))
        .orderBy("event_id")
    }),


    // P1 point lookup against latest-per-key state
    "q3_point_lookup" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("o_orderdate_us", Tables.epochUs(col("o_orderdate")))
        .drop("o_orderdate")
      KVTable(o, Seq("o_orderkey"), "o_orderdate_us")
        .get(Seq(42L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate_us"))
    }),


    // J7 log compaction: latest record per key (max_by, no sort)
    "q4_compact_latest" -> ((s, d) => {
      val ev = Tables.events(s, d)
      KVTable(ev, Seq("user_id"), "ts_us", tieBreakCols = Seq("event_id")).latest
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"),
          col("ts_us").as("last_ts_us"))
        .orderBy("user_id")
    }),


    // J5 serialization-optimized equi-join ≙ broadcast dim join + pruning
    "q5_star_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          qSumWide(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),


    // R4/R5 secondary index build + lookup (word → documents)
    "q6_secondary_index" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val index = SecondaryIndex.build(docs, Seq("doc_id"), tokens(col("text")))
      SecondaryIndex.lookup(index, docs, Seq("doc_id"), "spark")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),


    // R8 CDC keep-last-N per key
    "q7_keep_last_n" -> ((s, d) => {
      val ev = Tables.events(s, d)
      KVTable(ev, Seq("user_id"), "ts_us", tieBreakCols = Seq("event_id"))
        .keepLastN(3)
        .select(col("user_id"), col("recency_rank"), col("event_id"), col("ts_us"))
        .orderBy("user_id", "recency_rank")
    }),


    // P9 TTL expiry by event time (ttl = 7 days before max event time)
    "q8_ttl_expiry" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val maxTs = ev.agg(max(col("ts_us")).as("max_ts"))
      ev.crossJoin(broadcast(maxTs))
        .filter(col("ts_us") >= col("max_ts") - WeekUs)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_live"), qSum(col("value"), "sum_value"))
        .orderBy("user_id")
    }),


    // P10 numKeys (exact distinct key counts)
    "q9_num_keys" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.agg(
        countDistinct(col("user_id")).as("num_users"),
        countDistinct(col("event_type")).as("num_types"),
        count(lit(1)).as("num_records"))
    }),


    // P11 getStats: the store's DESCRIBE-style diagnostic row (file-stat
    // columns excluded here — filesystem metadata has no SQL oracle)
    "q55_store_stats" -> ((s, d) => {
      KVTable(Tables.events(s, d), Seq("user_id"), "ts_us",
          tieBreakCols = Seq("event_id"))
        .getStats
        .select("n_log_rows", "n_keys", "n_tombstones", "min_ts_us", "max_ts_us")
    }),


    // deterministic epoch upsampling: src1 2.5 epochs, src2 1, src3 0.4 —
    // the with-replacement training mix (md5-coin fractional copies)
    "q57_epoch_upsample" -> ((s, d) => {
      Sampling.epochUpsample(Tables.documents(s, d), "source", "doc_id",
          epochsPpm = Map("src1" -> 2500000L, "src2" -> 1000000L, "src3" -> 400000L))
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx")
    }),


    // size-weighted deterministic sampling: 20 docs per source, inclusion
    // probability proportional to n_chars (priority-sampling shape)
    "q59_weighted_sample" -> ((s, d) => {
      Sampling.weightedPrioritySample(Tables.documents(s, d), "source", "doc_id",
          "n_chars", k = 20)
        .select(col("doc_id"), col("source"), col("n_chars"), col("priority"),
          col("rank").cast("int").as("rank"))
        .orderBy("source", "rank")
    }),


    // context packing: per-source token-budget bins from an exclusive
    // prefix sum (budget 512 tokens)
    "q58_context_pack" -> ((s, d) => {
      val withTok = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      Sampling.contextPack(withTok, "source", "doc_id", "n_tokens", budgetTokens = 512L)
        .orderBy("doc_id")
    }),


    // §2.6h crypto proof: minute-windowed salted request signatures signed
    // IN-PLAN over codegen'd built-ins (no UDF); time injected from the
    // event row, so the result is deterministic and oracle-able
    "q56_signed_requests" -> ((s, d) => {
      val path = concat(lit("/api/events/"), col("event_type"), lit("/"),
        col("event_id").cast("string"))
      Tables.events(s, d)
        .select(col("event_id"),
          graft.functions.TimeCryptoProof.signCol(
            path, CryptoSaltHex, expr("(ts_us div 60000000) * 60")).as("signature"))
        .orderBy("event_id")
    }),


    // J8 global (broadcast) store enrichment chain
    "q10_global_enrich" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = GlobalTable(KVTable(Tables.nation(s, d), Seq("n_nationkey"), "n_nationkey"))
      val r = GlobalTable(KVTable(Tables.region(s, d), Seq("r_regionkey"), "r_regionkey"))
      val enriched = r.enrich(
        n.enrich(
          o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
          col("c_nationkey") === col("n_nationkey")),
        col("n_regionkey") === col("r_regionkey"))
      enriched.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), qSum(col("o_totalprice"), "total_price"))
        .orderBy("r_name")
    }),


    // J10 word count (the canonical stateful aggregation, batch view)
    "q11_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy("word")
    }),


    // J9 connected components (brand–type co-occurrence graph from part)
    "q12_connected_components" -> ((s, d) => {
      val edges = Tables.part(s, d).select(
        concat(lit("b:"), col("p_brand")).as("src"),
        concat(lit("t:"), col("p_type")).as("dst"))
      GraphAlgorithms.connectedComponents(s, edges)
        .select(col("vertex"), col("component"))
        .orderBy("vertex")
    }),


    // exact triangle count on the FREQUENT co-purchase graph: parts
    // co-occurring in >= 2 orders (the support threshold every
    // co-occurrence pipeline applies before graph analytics — the raw
    // pair graph at this vocab density is ~300x larger and measured 80x
    // slower with no analytic value). Counting is degree-ordered
    // orientation — out-degree <= O(sqrt m), hub wedges never explode
    // (Suri & Vassilvitskii WWW'11 shape).
    "q53_triangles" -> ((s, d) => {
      GraphAlgorithms.triangleCount(GraphAlgorithms.cooccurrenceEdges(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2L))
    }),


    // global transitivity (Newman's clustering coefficient): 3·triangles /
    // wedges on q53's co-purchase graph — the one-number "how cliquish is
    // the product graph" companion to q122's per-vertex coefficients.
    // Wedges = Σ d(d−1)/2 over the degree register (d(d−1) is even, so
    // the floor-div is exact); triangles reuse the q53 rank-packed count;
    // wedges = 0 is legal (edgeless graph) → the greatest clamp, class (a).
    "q193_transitivity" -> ((s, d) => {
      val edges = GraphAlgorithms.cooccurrenceEdges(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey", minSupport = 2L)
      val und = edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct().localCheckpoint(true)
      val wedges = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(expr("(d * (d - 1)) div 2")), lit(0L)).as("n_wedges"))
      GraphAlgorithms.triangleCount(
          und.select(col("a").as("src"), col("b").as("dst")))
        .crossJoin(wedges)
        .select(col("n_triangles"), col("n_wedges"),
          expr("(3000000 * n_triangles) div greatest(n_wedges, 1)")
            .as("transitivity_ppm"))
    }),


    // same analytic with the PRODUCTION basket cap ON (drop baskets > 5
    // items before the quadratic pair join — the whole-bucket rule of
    // Dedup.capBuckets, mirrored verbatim in the oracle as d8 does): one
    // degenerate 10k-item basket would otherwise emit 10^8 pair rows
    // before any pruning. TPC-H baskets run 1-7 items, so cap=5 actually
    // drops data here and proves the mirrored drop rule, not a no-op.
    "q54_copurchase_capped" -> ((s, d) => {
      GraphAlgorithms.triangleCount(GraphAlgorithms.cooccurrenceEdges(
        Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2L, maxBasketSize = 5L))
    }),


    // tumbling-window rollup (event-time windows; reference has none — §2.7)
    "q13_hourly_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.withColumn("hour_us", unix_micros(date_trunc("hour", timestamp_micros(col("ts_us")))))
        .groupBy(col("hour_us"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), qSum(col("value"), "sum_value"))
        .orderBy("hour_us", "event_type")
    }),


    // J6 stream-state enrichment as event-time as-of join (union+window, no range join)
    "q14_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("c_event_id"))
        .withColumn("c_ts_us", col("ts_us"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts_us",
        rightCols = Seq("c_event_id", "c_ts_us"), rightTieBreak = Seq("c_event_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("right_c_event_id").as("click_event_id"),
          col("right_c_ts_us").as("click_ts_us"))
        .orderBy("event_id")
    }),


    // §2.5 set ops: distinct + union
    "q15_set_ops" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type").as("tag_value"))
        .distinct().withColumn("src", lit("event"))
      val o = Tables.orders(s, d).select(col("o_orderstatus").as("tag_value"))
        .distinct().withColumn("src", lit("order"))
      ev.unionByName(o).orderBy("src", "tag_value")
    }),


    // S9 JSON record view over the raw log value
    "q16_json_props" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    }),


    // §2.5 argmax / top-N per group (auto-increment-subkey analogue)
    "q17_topn_per_group" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      c.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 2)
        .select(col("c_mktsegment"), col("rank"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rank")
    }),


    // J1 murmur2 key routing (Kafka-parity partitioner; no SQL oracle —
    // checked rows-only here, exact test vectors in Murmur2Spec)
    "q18_route_partition" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.select(col("user_id")).distinct()
        .withColumn("partition", kafkaPartition(col("user_id").cast("string"), 32))
        .orderBy("user_id")
    }),


    // S9 XML record views: raw log values carried as XML markup, parsed with
    // xpath extractors (reference: LogRDD.xml). No XML column exists in the
    // testdata, so the query round-trips events through an XML envelope —
    // render (exercise only the parse side in the scored expressions), then
    // xpath the fields back out and aggregate. Money is embedded as integer
    // cents so the string round-trip stays exact.
    "q36_xml_view" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val raw = concat(
        lit("<event id=\""), col("event_id").cast("string"),
        lit("\" user=\""), col("user_id").cast("string"),
        lit("\"><type>"), col("event_type"),
        lit("</type><cents>"), round(col("value") * 100).cast("long").cast("string"),
        lit("</cents></event>"))
      // ONE StAX parse per row via from_xml (the xpath_* extractors each
      // re-parse the document with DOM+XPath — measured 30× slower)
      ev.select(raw.as("raw"))
        .select(xmlView(col("raw"),
          "_user BIGINT, type STRING, cents BIGINT").as("x"))
        .select(
          col("x.type").as("event_type"),
          col("x._user").as("user_id"),
          col("x.cents").as("cents"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(col("cents")).cast("double") / 100.0).as("sum_value"))
        .orderBy("event_type")
    }),


    // exact percentiles (sort-based, linear interpolation — both engines)
    "q26_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("p75"))
        .orderBy("l_returnflag")
    }),


    // ROLLUP subtotals (multi-dimensional aggregation)
    "q27_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), qSum(col("l_quantity"), "sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),


    // pivot: per-user event-type counts as columns
    "q28_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // scope the fill to the pivot columns: filling the user_id grouping
        // key would silently rewrite a null key to 0 while the oracle keeps
        // NULL, masking a mismatch
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
        .orderBy("user_id")
    }),


    // gap-based sessionization (batch analogue of session windows)
    "q19_sessionize" -> ((s, d) => {
      Sessionize.summarize(Tables.events(s, d), "user_id", "ts_us", gapUs = 3600L * 1000000L)
        .orderBy("user_id", "session_seq")
    }),


    // P2-P6 batch upsert + tombstone delete: last-writer-wins merge
    "q20_upsert_merge" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          Tables.epochUs(col("o_orderdate")).as("o_orderdate_us"))
        .withColumn("tombstone", lit(false))
      val base = KVTable(o, Seq("o_orderkey"), "o_orderdate_us",
        tombstoneCol = Some("tombstone"))
      val upserts = o.filter(col("o_orderkey") < 10)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("o_orderdate_us", col("o_orderdate_us") + WeekUs)
      val deletes = o.filter(col("o_orderkey") >= 10 && col("o_orderkey") < 15)
        .withColumn("o_orderdate_us", col("o_orderdate_us") + WeekUs)
        .withColumn("tombstone", lit(true))
      base.upsert(upserts).delete(deletes)
        .where(col("o_orderkey") < 20)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate_us"))
        .orderBy("o_orderkey")
    }),


    // J2 scatter-gather with a custom commutative Aggregator (`gather` ≙ merge)
    "q21_custom_gather" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("value_cents", round(col("value") * 100).cast("long"))
      ev.groupBy(col("event_type"))
        .agg(Gather.countSumUdaf(col("value_cents")).as("g"))
        .select(col("event_type"), col("g.n").as("n"), col("g.sum").as("sum_cents"))
        .orderBy("event_type")
    }),


    // shipping-priority style top-k: filters pushed to both scans, broadcast
    // dim, partial agg, then a global top-10 (TPC-H Q3 analogue)
    "q24_topk_revenue" -> ((s, d) => {
      val cutoff = lit("1998-06-01 00:00:00").cast("timestamp_ntz")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") >= cutoff)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(qSumWide(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"))
        .select(col("l_orderkey"), Tables.epochUs(col("o_orderdate")).as("o_orderdate_us"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),


    // EXISTS / NOT EXISTS as semi/anti joins: customers with and without orders
    "q25_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("status"))
      val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      withOrders.unionByName(withoutOrders).orderBy("c_custkey")
    }),


    // skew-tolerant two-stage salted aggregation (result ≡ plain groupBy)
    "q23_salted_rollup" -> ((s, d) => {
      Skew.saltedCountSum(Tables.events(s, d), Seq("user_id"), "value", saltBuckets = 16)
        .orderBy("user_id")
    }),


    // sliding event-time window (trailing 1h count per user, RANGE frame)
    "q22_sliding_window" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev.withColumn("trailing_cnt", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("ts_us"), col("trailing_cnt"))
        .orderBy("event_id")
    }),


    // deterministic md5-bucket train/val/test split (zero-shuffle,
    // engine-portable, stable under repartition/rerun)
    "q29_split_sample" -> ((s, d) => {
      Sampling.trainValTestSplit(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
        .orderBy("doc_id")
    }),


    // CUBE over (returnflag, linestatus) with grouping flags
    // arbitrary GROUPING SETS (not a rollup/cube prefix chain)
    "q43_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          qSum(col("l_quantity"), "sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),


    "q30_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"),
          qSum(col("l_quantity"), "sum_qty"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),


    // fixed-width value histogram per event type
    "q31_histogram" -> ((s, d) => {
      Histogram.fixedWidth(Tables.events(s, d), Seq("event_type"), "value", width = 10.0)
        .orderBy("event_type", "bin")
    }),


    // R5 inverted-index intersection: docs containing ALL query terms
    "q38_search_and" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val index = SecondaryIndex.build(docs, Seq("doc_id"), tokens(col("text")))
      SecondaryIndex.multiLookup(index, docs, Seq("doc_id"), Seq("spark", "window"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),


    // ordered funnel conversion over the event log (click → view → purchase,
    // time-bounded so each stage has a real failure rate)
    "q39_funnel" -> ((s, d) => {
      Analytics.funnel(
        Tables.events(s, d).filter(col("ts_us") < Jan10_24),
        "user_id", "event_type", "ts_us",
        Seq("click", "view", "purchase"))
        .orderBy("stage")
    }),


    // time-weighted average over SCD2 validity intervals (closed intervals
    // only; exact: long products, decimal sums, one double division)
    "q47_time_weighted" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"), col("ts_us"))
      Changelog.scd2History(ev, Seq("user_id"), "ts_us", tieBreakCols = Seq("event_id"))
        .filter(col("valid_to_us").isNotNull)
        .select(col("user_id"), col("cents"),
          (col("valid_to_us") - col("valid_from_us")).as("dur_us"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_intervals"),
          sum((col("cents") * col("dur_us")).cast("decimal(38,0)")).as("tp"),
          sum(col("dur_us").cast("decimal(38,0)")).as("td"))
        // div class (a): a user whose history is all at ONE instant has
        // zero total duration (legal; ANSI throws even on DOUBLE /) —
        // the time-weighted average is undefined there → NULL both sides
        // (degenerate-world gate r12)
        .select(col("user_id"), col("n_intervals"),
          when(col("td") > 0,
            col("tp").cast("double") / col("td").cast("double"))
            .as("twa_cents"))
        .orderBy("user_id")
    }),


    // salted skew join: result-identical to the plain equi-join (the oracle
    // IS the plain join — proves the salting is correctness-free)
    "q46_salted_join" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("user_id"), col("value"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Skew.saltedJoin(e, c, Seq("user_id"), saltBuckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), qSum(col("value"), "sum_value"))
        .orderBy("c_mktsegment")
    }),


    // SCD2 temporal history: per-user validity intervals from the event log
    "q45_scd2" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
      Changelog.scd2History(ev, Seq("user_id"), "ts_us", tieBreakCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from_us"), col("valid_to_us"))
        .orderBy("user_id", "valid_from_us", "event_id")
    }),


    // rolling 7-day distinct active users per observed day (exact, no sketch)
    "q44_rolling_active" -> ((s, d) => {
      Analytics.rollingActive(Tables.events(s, d), "user_id", "ts_us",
        periods = 7, truncUnit = "day")
        .orderBy("end_us")
    }),


    // weekly cohort retention (first-event cohort × period offset)
    "q40_cohort_retention" -> ((s, d) => {
      Analytics.cohortRetention(Tables.events(s, d), "user_id", "ts_us", "week")
        .orderBy("cohort_us", "period_offset")
    }),


    // equi-depth quantization table: 4 ntile buckets per event type
    "q42_equidepth" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      Histogram.equiDepth(e, Seq("event_type"), "cents",
        tieBreakCols = Seq("event_id"), buckets = 4)
        .withColumn("bucket", col("bucket").cast("int"))
        .orderBy("event_type", "bucket")
    }),


    // per-type 3σ outliers in exact integer algebra (no float variance)
    "q41_outliers" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      Analytics.zscoreOutliers(e, Seq("event_type"), "cents", k = 3)
        .select(col("event_id"), col("event_type"), col("cents"))
        .orderBy("event_id")
    }),


    // corpus rebalancing: deterministic hash-ranked cap per language stratum
    "q37_stratified_cap" -> ((s, d) => {
      Sampling.stratifiedCap(Tables.documents(s, d), Seq("lang"), "doc_id", cap = 50)
        .select(col("doc_id"), col("lang"), col("source"), col("rank"))
        .orderBy("lang", "rank")
    }),


    // J1/§4 co-located layout as a QUERY: both fact tables persisted
    // hash-bucketed on the join key (a one-time write-side layout decision,
    // done on first run and reused after — exactly the recurring-join trade
    // the reference makes with its murmur2-partitioned stores), then a
    // fact-fact join that plans with NO exchange below the aggregation.
    // Results are layout-independent, so the oracle is the plain join.
    "q52_bucketed_join" -> ((s, d) => {
      val suffix = graft.state.Bucketing.tableSuffix(d)
      val (ot, lt) = (s"b_orders_$suffix", s"b_lineitem_$suffix")
      if (!s.catalog.tableExists(ot))
        graft.state.Bucketing.writeBucketed(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          ot, Seq("o_orderkey"), numBuckets = 8)
      if (!s.catalog.tableExists(lt))
        graft.state.Bucketing.writeBucketed(
          Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
            col("l_extendedprice"), col("l_discount")),
          lt, Seq("o_orderkey"), numBuckets = 8)
      graft.state.Bucketing.colocatedJoin(s, ot, lt, Seq("o_orderkey"), forceMerge = true)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          qSumWide(col("l_extendedprice") * (lit(1) - col("l_discount")), "revenue"))
        .orderBy("o_orderpriority")
    }),


    // deterministic training mix: 50%/30%/20% from three sources, others 0
    "q51_mixture_sample" -> ((s, d) => {
      Sampling.mixtureSample(Tables.documents(s, d), "source", "doc_id",
          weightsPpm = Map("src1" -> 500000L, "src2" -> 300000L, "src3" -> 200000L),
          total = 40L)
        .select(col("doc_id"), col("source"), col("rank"))
        .orderBy("source", "rank")
    }),


    // CDC snapshot diff: first-half vs second-half per-user activity.
    // The time midpoint is computed IN-PLAN (1-row broadcast, q8's pattern)
    // — no separate driver job, events is scanned once per snapshot branch,
    // not once extra for the bounds.
    "q32_snapshot_diff" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
        .select(expr("(mn + mx) div 2").as("mid_ts"))
      val withMid = ev.crossJoin(broadcast(mid))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(
          count(lit(1)).as("n"),
          max_by(col("event_type"), struct(col("ts_us"), col("event_id"))).as("last_type"))
      Changelog.diffSnapshots(
        snap(withMid.filter(col("ts_us") < col("mid_ts"))),
        snap(withMid.filter(col("ts_us") >= col("mid_ts"))),
        Seq("user_id"))
        .select(col("user_id"), col("change_type"),
          col("old_val.n").as("old_n"), col("old_val.last_type").as("old_last"),
          col("new_val.n").as("new_n"), col("new_val.last_type").as("new_last"))
        .orderBy("user_id")
    }),


    // point-in-interval range join (bucketized equi-join, no theta join):
    // count global error events inside each user session
    "q33_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sessions = Sessionize.summarize(ev, "user_id", "ts_us", gapUs = 3600L * 1000000L)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("ts_us").as("err_ts"))
      RangeJoin.pointInInterval(errors, sessions, "err_ts",
          "session_start_us", "session_end_us", bucketWidth = 3600L * 1000000L)
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_errors"))
        .orderBy("user_id", "session_seq")
    }),


    // interval-overlap join (bucketized equi-join, canonical-bucket emit —
    // no theta/nested-loop join, no dedup shuffle): two order-window
    // relations, every overlapping pair of 7-day windows
    "q48_interval_overlap" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def windows(mod: Int, kc: String, sc: String, ec: String) = o
        .filter(col("o_orderkey") % mod === 0)
        .select(col("o_orderkey").as(kc),
          Tables.epochUs(col("o_orderdate")).as(sc),
          (Tables.epochUs(col("o_orderdate")) + WeekUs).as(ec))
      RangeJoin.intervalOverlap(
        windows(97, "a_key", "a_start", "a_end"),
        windows(89, "b_key", "b_start", "b_end"),
        "a_start", "a_end", "b_start", "b_end", bucketWidth = WeekUs)
        .select("a_key", "b_key", "a_start", "b_start")
        .orderBy("a_key", "b_key")
    }),


    // gap-fill resampling: daily grid per user between first and last
    // event, value carried forward over empty days (LOCF densification)
    "q50_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      Analytics.resampleLocf(ev, Seq("user_id"), "ts_us", "cents",
          stepUs = DayUs, tieBreakCols = Seq("event_id"))
        .select(col("user_id"), col("slot").as("day"), col("cents"), col("observed"))
        .orderBy("user_id", "day")
    }),


    // entity resolution: fuzzy pairs (edit distance <= 2) closed into
    // clusters — FuzzyJoin + connectedComponents composed; canonical
    // entity = min 60-bit name hash (same md5-prefix longs both engines)
    "q49_entity_resolution" -> ((s, d) => {
      def h60(c: Column): Column =
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      val pairs = FuzzyJoin.editDistancePairs(names, "name", "name",
        maxDistance = 2, maxTokenDf = 1000L)
      val cc = GraphAlgorithms.connectedComponents(s,
        pairs.select(h60(col("id_a")).as("src"), h60(col("id_b")).as("dst")))
      names.withColumn("h", h60(col("name")))
        .join(cc, col("h") === col("vertex"), "left")
        .select(col("name"), coalesce(col("component"), col("h")).as("cluster_id"))
        .orderBy("name")
    }),


    // fuzzy self-join: near-identical part names via token blocking +
    // exact levenshtein on deduped candidate pairs
    "q34_fuzzy_join" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name").as("name")).distinct()
      FuzzyJoin.editDistancePairs(names, "name", "name", maxDistance = 3, maxTokenDf = 1000L)
        .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))
        .orderBy("name_a", "name_b")
    }),


    // integer-exact fixed-iteration PageRank over the brand↔type graph
    "q35_pagerank" -> ((s, d) => {
      val bt = Tables.part(s, d).select(
        concat(lit("b:"), col("p_brand")).as("src"),
        concat(lit("t:"), col("p_type")).as("dst"))
      val edges = bt.union(bt.select(col("dst").as("src"), col("src").as("dst")))
      GraphAlgorithms.pageRankPpm(s, edges, iterations = 10)
        .orderBy("vertex")
    }),

  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(round((l_quantity)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_qty,
        |  CAST(CAST(SUM(CAST(round((l_extendedprice)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_base_price,
        |  CAST(CAST(SUM(CAST(round((l_extendedprice*(1-l_discount))*10000) AS BIGINT)) AS BIGINT) AS DOUBLE)/10000.0 AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(CAST(SUM(CAST(round((l_quantity)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0/COUNT(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,


    "q2_range_scan" ->
      s"""SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events
         |WHERE event_type = 'click' AND epoch_us(ts) >= $Jan10_24 AND epoch_us(ts) < $Jan20_24
         |ORDER BY event_id""".stripMargin,


    "q3_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  epoch_us(o_orderdate) AS o_orderdate_us
        |FROM orders WHERE o_orderkey = 42""".stripMargin,


    "q4_compact_latest" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value, ts_us AS last_ts_us
        |FROM (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,


    "q5_star_join" ->
      """SELECT p_brand,
        |  CAST(CAST(SUM(CAST(round((l_extendedprice*(1-l_discount))*10000) AS BIGINT)) AS BIGINT) AS DOUBLE)/10000.0 AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,


    "q6_secondary_index" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE list_contains($toksSql, 'spark')
         |ORDER BY doc_id""".stripMargin,


    "q7_keep_last_n" ->
      """SELECT user_id, CAST(rn AS INTEGER) AS recency_rank, event_id, ts_us
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,


    "q8_ttl_expiry" ->
      s"""SELECT user_id, COUNT(*) AS n_live,
         |  CAST(CAST(SUM(CAST(round((value)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_value
         |FROM events
         |WHERE epoch_us(ts) >= (SELECT MAX(epoch_us(ts)) FROM events) - $WeekUs
         |GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q9_num_keys" ->
      """SELECT COUNT(DISTINCT user_id) AS num_users,
        |  COUNT(DISTINCT event_type) AS num_types, COUNT(*) AS num_records
        |FROM events""".stripMargin,


    // DuckDB COUNT returns BIGINT already; no tombstone column -> 0
    "q55_store_stats" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_log_rows,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
        |  CAST(0 AS BIGINT) AS n_tombstones,
        |  MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us
        |FROM events""".stripMargin,


    // md5-coin fractional copies: copies = e//1e6 + (hash_ppm < e%1e6);
    // range() in the SELECT list (lateral range on a column cannot join)
    "q57_epoch_upsample" ->
      """WITH c AS (SELECT doc_id, source,
        |    CASE source WHEN 'src1' THEN 2500000 WHEN 'src2' THEN 1000000
        |      WHEN 'src3' THEN 400000 ELSE 0 END AS e,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 AS hp
        |  FROM documents),
        |n AS (SELECT doc_id, source,
        |    e//1000000 + CASE WHEN hp < e % 1000000 THEN 1 ELSE 0 END AS n_copies
        |  FROM c WHERE e > 0)
        |SELECT doc_id, source, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
        |FROM n WHERE n_copies > 0 ORDER BY doc_id, copy_idx""".stripMargin,


    // priority = md5_ppm(key)*1e6 // max(weight,1); ROW_NUMBER -> INT cast
    "q59_weighted_sample" ->
      """WITH p AS (SELECT doc_id, source, n_chars,
        |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000) * 1000000 // greatest(n_chars, 1) AS priority
        |  FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY priority, doc_id) AS rank FROM p)
        |SELECT doc_id, source, n_chars, priority, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 20 ORDER BY source, rank""".stripMargin,


    // window SUM returns HUGEINT -> CAST BIGINT; exclusive prefix via
    // ROWS ... 1 PRECEDING, first row NULL -> 0
    "q58_context_pack" ->
      s"""WITH tk AS (SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |            FROM documents),
         |p AS (SELECT doc_id, source, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
         |  FROM tk)
         |SELECT doc_id, source, n_tokens, tb//512 AS bin FROM p ORDER BY doc_id""".stripMargin,


    // hex-preimage signature mirrored verbatim: salt hex ‖ 16-digit hex
    // minute ‖ path, one string sha256 per row on both engines
    "q56_signed_requests" ->
      s"""SELECT event_id,
         |  upper(sha256('$CryptoSaltHex'
         |    || lpad(upper(to_hex((epoch_us(ts)//60000000)*60)), 16, '0')
         |    || '/api/events/' || event_type || '/' || CAST(event_id AS VARCHAR))) AS signature
         |FROM events ORDER BY event_id""".stripMargin,


    "q10_global_enrich" ->
      """SELECT r_name, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,


    "q11_wordcount" ->
      s"""SELECT word, COUNT(*) AS cnt
         |FROM (SELECT unnest($toksSql) AS word FROM documents)
         |GROUP BY word ORDER BY word""".stripMargin,


    "q12_connected_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT 'b:' || p_brand AS src, 't:' || p_type AS dst FROM part
        |), sym AS (
        |  SELECT src, dst FROM e UNION SELECT dst, src FROM e
        |), reach(a, b) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
        |)
        |SELECT a AS vertex, MIN(b) AS component FROM reach GROUP BY a ORDER BY vertex""".stripMargin,


    // same orientation algebra: rank = degree*1e9 + id, wedges from
    // out-pairs of the lowest-ranked corner, closure join on (v, w)
    "q53_triangles" -> copurchaseTrianglesSql(cap = None),

    // q53's CTE chain with the wedge register and the 3T/W ratio
    "q193_transitivity" -> copurchaseTrianglesSql(cap = None,
      transitivity = true),


    // basket cap mirrored as the same whole-bucket drop rule (window
    // count per order key, drop all rows of baskets > 5) before pairing
    "q54_copurchase_capped" -> copurchaseTrianglesSql(cap = Some(5L)),


    "q13_hourly_rollup" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(round((value)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "q14_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, 1 AS side, event_id,
        |         NULL::BIGINT AS c_event_id, NULL::BIGINT AS c_ts_us
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, event_id, epoch_us(ts)
        |  FROM events WHERE event_type = 'click'
        |), w AS (
        |  SELECT *,
        |    last_value(c_event_id IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, side, c_event_id ROWS UNBOUNDED PRECEDING) AS click_event_id,
        |    last_value(c_ts_us IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, side, c_event_id ROWS UNBOUNDED PRECEDING) AS click_ts_us
        |  FROM u
        |)
        |SELECT event_id, user_id, ts_us, click_event_id, click_ts_us
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,


    "q15_set_ops" ->
      """SELECT tag_value, src FROM (
        |  SELECT DISTINCT event_type AS tag_value, 'event' AS src FROM events
        |  UNION ALL
        |  SELECT DISTINCT o_orderstatus, 'order' FROM orders)
        |ORDER BY src, tag_value""".stripMargin,


    "q16_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q17_topn_per_group" ->
      """SELECT c_mktsegment, CAST(rank AS INTEGER) AS rank, c_custkey, c_acctbal
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |        ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rank
        |      FROM customer)
        |WHERE rank <= 2 ORDER BY c_mktsegment, rank""".stripMargin,


    "q18_route_partition" ->
      s"""SELECT user_id, $murmur2PartitionSql AS partition
         |FROM (SELECT DISTINCT user_id, user_id::VARCHAR AS s FROM events)
         |ORDER BY user_id""".stripMargin,


    "q36_xml_view" ->
      """WITH x AS (
        |  SELECT '<event id="' || CAST(event_id AS VARCHAR)
        |      || '" user="' || CAST(user_id AS VARCHAR)
        |      || '"><type>' || event_type
        |      || '</type><cents>' || CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR)
        |      || '</cents></event>' AS raw
        |  FROM events
        |), p AS (
        |  SELECT regexp_extract(raw, '<type>([^<]*)</type>', 1) AS event_type,
        |         CAST(regexp_extract(raw, ' user="([0-9]+)"', 1) AS BIGINT) AS user_id,
        |         CAST(regexp_extract(raw, '<cents>(-?[0-9]+)</cents>', 1) AS BIGINT) AS cents
        |  FROM x
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)/100.0 AS sum_value
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q26_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


    "q27_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(round((l_quantity)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0 -- Spark rollup emits NO ()-set row on empty input (empty-world gate); only that row can have n=0
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q28_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'view') AS view,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q19_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts)) > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
        |  MAX(ts_us) - MIN(ts_us) AS duration_us, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,


    "q20_upsert_merge" ->
      s"""SELECT o_orderkey,
         |  CASE WHEN o_orderkey < 10 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice,
         |  CASE WHEN o_orderkey < 10 THEN epoch_us(o_orderdate) + $WeekUs
         |       ELSE epoch_us(o_orderdate) END AS o_orderdate_us
         |FROM orders
         |WHERE o_orderkey < 20 AND NOT (o_orderkey >= 10 AND o_orderkey < 15)
         |ORDER BY o_orderkey""".stripMargin,


    "q21_custom_gather" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


    "q24_topk_revenue" ->
      """SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
        |  CAST(CAST(SUM(CAST(round((l_extendedprice*(1-l_discount))*10000) AS BIGINT)) AS BIGINT) AS DOUBLE)/10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,


    "q25_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,


    "q23_salted_rollup" ->
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(round((value)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q22_sliding_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cnt
        |FROM events ORDER BY event_id""".stripMargin,


    "q29_split_sample" -> {
      val bucket = md5Bucket256Sql("doc_id")
      s"""SELECT doc_id, lang, $bucket AS bucket,
         |  ${md5SplitCaseSql("doc_id")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },


    "q43_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(round((l_quantity)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q30_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(round((l_quantity)*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/100.0 AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0 -- Spark cube emits NO ()-set row on empty input (empty-world gate)
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,


    "q31_histogram" ->
      """SELECT event_type, CAST(FLOOR(value/10.0) AS BIGINT) AS bin, COUNT(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,


    "q38_search_and" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM (
         |    SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |    WHERE token IN ('spark', 'window')),
         |hits AS (SELECT doc_id FROM tok GROUP BY doc_id HAVING COUNT(*) = 2)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d JOIN hits USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,


    "q39_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |    WHERE epoch_us(ts) < 1704844800000000),
        |f1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e
        |    WHERE event_type = 'click' GROUP BY user_id),
        |f2 AS (SELECT e.user_id, MIN(ts_us) AS t2 FROM e JOIN f1 USING (user_id)
        |    WHERE event_type = 'view' AND ts_us > f1.t1 GROUP BY e.user_id),
        |f3 AS (SELECT e.user_id, MIN(ts_us) AS t3 FROM e JOIN f2 USING (user_id)
        |    WHERE event_type = 'purchase' AND ts_us > f2.t2 GROUP BY e.user_id),
        |s AS (SELECT f1.user_id,
        |    CASE WHEN f3.t3 IS NOT NULL THEN 3
        |         WHEN f2.t2 IS NOT NULL THEN 2 ELSE 1 END AS stage
        |  FROM f1 LEFT JOIN f2 USING (user_id) LEFT JOIN f3 USING (user_id))
        |SELECT CAST(stage AS INTEGER) AS stage, COUNT(*) AS n_entities
        |FROM s GROUP BY stage ORDER BY stage""".stripMargin,


    "q47_time_weighted" ->
      """WITH h AS (SELECT user_id,
        |    CAST(round(value*100) AS BIGINT) AS cents,
        |    epoch_us(ts) AS vf,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS vt
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CASE WHEN SUM(vt-vf) > 0 THEN
        |    (CAST(SUM(cents*(vt-vf)) AS DOUBLE)) / (CAST(SUM(vt-vf) AS DOUBLE))
        |  END AS twa_cents
        |FROM h WHERE vt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,


    "q46_salted_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n,
         |  ${qSumSql("value", "sum_value")}
         |FROM events JOIN customer ON events.user_id = customer.c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q45_scd2" ->
      """SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS valid_from_us,
        |  LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS valid_to_us
        |FROM events
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,


    "q44_rolling_active" ->
      """WITH e AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS period_us,
        |    user_id FROM events),
        |observed AS (SELECT DISTINCT period_us AS end_us FROM e),
        |c AS (SELECT user_id, unnest(range(period_us,
        |    period_us + 7*86400000000, 86400000000)) AS end_us FROM e)
        |SELECT c.end_us, COUNT(DISTINCT c.user_id) AS n_active
        |FROM c JOIN observed USING (end_us)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q40_cohort_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT user_id, MIN(ts_us) AS first_us FROM e GROUP BY user_id),
        |a AS (SELECT e.user_id,
        |    epoch_us(date_trunc('week', make_timestamp(f.first_us))) AS cohort_us,
        |    CAST((epoch_us(date_trunc('week', make_timestamp(e.ts_us)))
        |        - epoch_us(date_trunc('week', make_timestamp(f.first_us))))
        |      / 604800000000 AS BIGINT) AS period_offset
        |  FROM e JOIN f USING (user_id))
        |SELECT cohort_us, period_offset, COUNT(DISTINCT user_id) AS n_active
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "q42_equidepth" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type, cents, NTILE(4) OVER
        |    (PARTITION BY event_type ORDER BY cents, event_id) AS bucket FROM e)
        |SELECT event_type, CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n,
        |  MIN(cents) AS lo, MAX(cents) AS hi
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    "q41_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT event_type, COUNT(*) AS n, SUM(cents) AS sc,
        |    SUM(cents*cents) AS sc2 FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.cents
        |FROM e JOIN s USING (event_type)
        |WHERE (CAST(s.n AS HUGEINT)*e.cents - sc) * (CAST(s.n AS HUGEINT)*e.cents - sc)
        |    > 9 * (CAST(s.n AS HUGEINT)*sc2 - CAST(sc AS HUGEINT)*sc)
        |ORDER BY e.event_id""".stripMargin,


    "q37_stratified_cap" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, lang, source, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 50 ORDER BY lang, rank""".stripMargin,


    // layout-independent result: the oracle is the plain (unbucketed) join
    "q52_bucketed_join" ->
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  ${qSumWideSql("l_extendedprice*(1-l_discount)", "revenue")}
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


    // per-stratum limit = floor(total * ppm / 1e6): 40 * {0.5, 0.3, 0.2}
    // -> 20/12/8; integer floor-division on both engines (parity rule 5)
    "q51_mixture_sample" ->
      """WITH r AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rank
        |  FROM documents)
        |SELECT doc_id, source, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= CASE source
        |  WHEN 'src1' THEN 40 * 500000 // 1000000
        |  WHEN 'src2' THEN 40 * 300000 // 1000000
        |  WHEN 'src3' THEN 40 * 200000 // 1000000
        |  ELSE 0 END
        |ORDER BY source, rank""".stripMargin,


    "q32_snapshot_diff" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
        |b AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM e),
        |h1 AS (SELECT e.* FROM e, b WHERE ts_us < mid),
        |h2 AS (SELECT e.* FROM e, b WHERE ts_us >= mid),
        |o AS (SELECT c.user_id, c.n, l.last_type FROM
        |  (SELECT user_id, COUNT(*) AS n FROM h1 GROUP BY 1) c JOIN
        |  (SELECT user_id, event_type AS last_type FROM
        |     (SELECT user_id, event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
        |      FROM h1) WHERE rn = 1) l USING (user_id)),
        |nn AS (SELECT c.user_id, c.n, l.last_type FROM
        |  (SELECT user_id, COUNT(*) AS n FROM h2 GROUP BY 1) c JOIN
        |  (SELECT user_id, event_type AS last_type FROM
        |     (SELECT user_id, event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
        |      FROM h2) WHERE rn = 1) l USING (user_id)),
        |d AS (SELECT COALESCE(o.user_id, nn.user_id) AS user_id,
        |  CASE WHEN o.user_id IS NULL THEN 'insert'
        |       WHEN nn.user_id IS NULL THEN 'delete'
        |       WHEN o.n IS DISTINCT FROM nn.n
        |         OR o.last_type IS DISTINCT FROM nn.last_type THEN 'update' END AS change_type,
        |  o.n AS old_n, o.last_type AS old_last, nn.n AS new_n, nn.last_type AS new_last
        |  FROM o FULL OUTER JOIN nn ON o.user_id = nn.user_id)
        |SELECT user_id, change_type, old_n, old_last, new_n, new_last
        |FROM d WHERE change_type IS NOT NULL ORDER BY user_id""".stripMargin,


    "q33_range_join" ->
      """WITH flagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts)) > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged
        |), sessions AS (
        |  SELECT user_id, session_seq, MIN(ts_us) AS s, MAX(ts_us) AS e
        |  FROM sess GROUP BY user_id, session_seq
        |), errors AS (SELECT epoch_us(ts) AS err_ts FROM events WHERE event_type = 'error')
        |SELECT user_id, session_seq, COUNT(*) AS n_errors
        |FROM sessions JOIN errors ON err_ts >= s AND err_ts <= e
        |GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,


    // the oracle is the PLAIN theta join — proving the bucket decomposition
    // + canonical-bucket emit returns exactly the quadratic-join result
    "q48_interval_overlap" ->
      s"""WITH a AS (SELECT o_orderkey AS a_key, epoch_us(o_orderdate) AS a_start,
         |             epoch_us(o_orderdate) + $WeekUs AS a_end
         |           FROM orders WHERE o_orderkey % 97 = 0),
         |b AS (SELECT o_orderkey AS b_key, epoch_us(o_orderdate) AS b_start,
         |        epoch_us(o_orderdate) + $WeekUs AS b_end
         |      FROM orders WHERE o_orderkey % 89 = 0)
         |SELECT a_key, b_key, a_start, b_start
         |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
         |ORDER BY a_key, b_key""".stripMargin,


    // daily slots via epoch-µs floor-division; latest-in-slot by
    // (ts, event_id) row_number; grid = unnest(range); LOCF via
    // last_value IGNORE NULLS over the same (user, day) ordering
    "q50_gap_fill" ->
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |              CAST(round(value*100) AS BIGINT) AS cents,
         |              epoch_us(ts) // $DayUs AS slot
         |            FROM events),
         |latest AS (SELECT user_id, slot, cents FROM (
         |    SELECT user_id, slot, cents,
         |      ROW_NUMBER() OVER (PARTITION BY user_id, slot
         |                         ORDER BY ts_us DESC, event_id DESC) AS rn
         |    FROM ev) WHERE rn = 1),
         |bounds AS (SELECT user_id, MIN(slot) AS s0, MAX(slot) AS s1 FROM ev GROUP BY user_id),
         |grid AS (SELECT user_id, unnest(range(s0, s1 + 1)) AS slot FROM bounds),
         |filled AS (SELECT g.user_id, g.slot,
         |    last_value(l.cents IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.slot
         |      ROWS UNBOUNDED PRECEDING) AS cents,
         |    l.cents IS NOT NULL AS observed
         |  FROM grid g LEFT JOIN latest l ON g.user_id = l.user_id AND g.slot = l.slot)
         |SELECT user_id, slot AS day, cents, observed FROM filled
         |ORDER BY user_id, day""".stripMargin,


    // same blocking/levenshtein as q34, closure per d7's recursive pattern;
    // cluster id = MIN 60-bit md5-prefix hash (≡ Spark's conv(md5) longs)
    "q49_entity_resolution" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
        |hn AS (SELECT name, CAST(concat('0x', substr(md5(name),1,15)) AS BIGINT) AS h FROM names),
        |toks AS (SELECT name, unnest(list_distinct(string_split(name, ' '))) AS tok FROM names),
        |freq AS (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= 1000),
        |blocked AS (SELECT t.name, t.tok FROM toks t JOIN freq f USING (tok)),
        |pairs AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |          FROM blocked a JOIN blocked b USING (tok)
        |          WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 2),
        |er_e AS (SELECT ha.h AS src, hb.h AS dst
        |         FROM pairs p JOIN hn ha ON p.name_a = ha.name JOIN hn hb ON p.name_b = hb.name),
        |er_sym AS (SELECT src, dst FROM er_e UNION SELECT dst, src FROM er_e),
        |er_reach(a, b) AS (
        |  SELECT src, src FROM er_sym
        |  UNION
        |  SELECT r.a, s.dst FROM er_reach r JOIN er_sym s ON r.b = s.src),
        |er_comp AS (SELECT a AS h, MIN(b) AS cluster_id FROM er_reach GROUP BY a)
        |SELECT n.name, COALESCE(c.cluster_id, n.h) AS cluster_id
        |FROM hn n LEFT JOIN er_comp c USING (h)
        |ORDER BY n.name""".stripMargin,


    "q34_fuzzy_join" ->
      """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
        |toks AS (SELECT name, unnest(list_distinct(string_split(name, ' '))) AS tok FROM names),
        |freq AS (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= 1000),
        |blocked AS (SELECT t.name, t.tok FROM toks t JOIN freq f USING (tok)),
        |pairs AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |          FROM blocked a JOIN blocked b USING (tok) WHERE a.name < b.name)
        |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        |FROM pairs WHERE levenshtein(name_a, name_b) <= 3
        |ORDER BY name_a, name_b""".stripMargin,


    "q35_pagerank" -> pageRankSql(iterations = 10, dampingPpm = 850000L),

  )
}

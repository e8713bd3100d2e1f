package graft.queries

import graft.core.Tables
import graft.functions.GraftFunctions.{ldot, md5Hash60, quantize1000}
import graft.operators.{Similarity, Sketches, TextAnalysis}
import graft.streaming.{BucketedStore, ChangelogStream, StatefulOps, StreamingSketches,
  StreamRun, TwsEvent, TwsOps, TwsTimedEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import Support._

/** Oracle-verified Structured Streaming queries (w*): each one runs a REAL
  * streaming job inside the query function — file-source events log drained
  * with one AvailableNow trigger into a memory sink (see
  * [[graft.streaming.StreamRun]]) — and the driver's DuckDB compare then
  * asserts streaming ≡ batch on the replayed log. This is the §2.7
  * windows/watermarks surface promoted from spec-only to hash-gated:
  * windowed aggregation state (w1), arbitrary aggregation state (w2) and
  * dropDuplicates dedup state (w3), session-window merge state (w4),
  * arbitrary flatMapGroupsWithState RMW state (w5) and sliding-window
  * state (w6) each face the batch oracle directly.
  *
  * Scale notes: complete-mode output is aggregate-sized (hours × types,
  * users, type cardinality, sessions), never event-sized; a production
  * deployment would bound the w3 dedup state with a watermark TTL — the
  * replayed-log gate here needs the full state to equal the batch
  * distinct. w5's per-key state is three longs regardless of history. */
private[graft] object StreamingQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // tumbling-window rollup as a STREAMING job: window() state in
    // complete mode, final batch ≡ the q13 batch aggregate by construction
    "w1_stream_hourly" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
        .withColumn("t", timestamp_micros(col("ts_us")))
      val agg = ev.groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), qSum(col("value"), "sum_value"))
      StreamRun.toMemory(agg, "w1_sink")
        .select(unix_micros(col("window.start")).as("hour_us"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("hour_us", "event_type")
    }),

    // per-user lifetime profile as streaming aggregation state (J10's
    // stateful-fold shape with the P6 RMW semantics drained to a table)
    "w2_stream_user_profile" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
      val agg = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"),
          qSum(col("value"), "sum_value"))
      StreamRun.toMemory(agg, "w2_sink").orderBy("user_id")
    }),

    // streaming dropDuplicates state: the (event_type, user_id) pairs are
    // deduped IN the stream (append mode — dedup alone needs no aggregate
    // finalization); the reach rollup is batch over the drained sink
    "w3_stream_distinct_reach" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
      val dd = StreamRun.toMemory(
        ev.select(col("event_type"), col("user_id"))
          .dropDuplicates("event_type", "user_id"),
        "w3_sink", outputMode = "append")
      dd.groupBy("event_type").agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    }),

    // session_window merge state streaming (§2.7's session surface as a
    // native SS stateful op). Boundary semantics probed empirically: two
    // events exactly `gap` apart MERGE (diff ≤ gap ⇒ same session), which
    // is precisely the q19 island convention (diff > gap ⇒ new session),
    // so the gap/island oracle mirrors the merge rule exactly; Spark's
    // session end = last event + gap ⇒ oracle MAX(ts) + gap.
    "w4_stream_sessions" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
        .withColumn("t", timestamp_micros(col("ts_us")))
      val agg = ev.groupBy(col("user_id"), session_window(col("t"), "1 hour"))
        .agg(count(lit(1)).as("n_events"))
      StreamRun.toMemory(agg, "w4_sink")
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    }),

    // arbitrary stateful RMW (P6 getAndUpdate) as a REAL streaming fold:
    // flatMapGroupsWithState runs b ← max(0, b + Δ) per user while the
    // oracle is the Lindley closed form S − min(0, prefix-min S) — the
    // hash match IS the recurrence ≡ closed-form proof on real data.
    // PRECONDITION (asserted via assertSingleBatch): the fold sorts rows
    // within a micro-batch only, so oracle equality needs the whole log
    // in ONE batch — the single-file AvailableNow source delivers that.
    // Only the argmax-n DEDUP over the drained sink is batching-
    // independent (n_updates strictly increases); the fold itself is not.
    // Nulls in `value` are excluded BY DEFINITION on both sides
    // (CLAUDE.md: events.value has nulls at some SFs; a null delta is
    // meaningless in a sequential fold).
    "w5_stream_rmw_fold" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .where(col("value").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (round(col("value") * 100).cast("long") - 3500L).as("delta_cents"))
        .as[(Long, Long, Long, Long)]
      val folded = StatefulOps.clampedFoldMonitor(ev)
        .toDF("user_id", "final_balance", "n_updates", "n_clamped")
      StreamRun.toMemory(folded, "w5_sink", outputMode = "append",
          assertSingleBatch = true)
        .groupBy("user_id")
        .agg(max(struct(col("n_updates"), col("final_balance"),
          col("n_clamped"))).as("r"))
        .select(col("user_id"), col("r.final_balance").as("final_balance"),
          col("r.n_updates").as("n_updates"), col("r.n_clamped").as("n_clamped"))
        .orderBy("user_id")
    }),

    // stream-stream interval join (J6's enrich as TWO live streams): click
    // events join purchase events of the same user within the following
    // hour. Both sides carry event-time watermarks and the join condition
    // bounds state retention to the interval — the canonical SS
    // stream-stream join shape. Inner join in append mode emits exactly
    // the batch join of the replayed log, which is what the oracle hashes.
    "w7_stream_interval_join" -> ((s, d) => {
      val clicks = Tables.eventsStream(s, d)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = Tables.eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          timestamp_micros(col("ts_us")).as("pt"))
        .withWatermark("pt", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("pt")) - unix_micros(col("ct"))).as("lag_us"))
      StreamRun.toMemory(joined, "w7_sink", outputMode = "append")
        .orderBy("click_id", "purchase_id")
    }),

    // the reference's per-key CDC loop hash-gated through updateAndGet
    // (P6) itself: state = latest (ts, event_id, type) per user — the
    // max fold is order-free, so in-batch iterator order cannot matter —
    // and a user whose LATEST event is an 'error' is tombstoned out of
    // the final table (S5 tombstone + q4 compact-latest semantics as one
    // streaming query). Emissions are monotone in (ts, eid), so the
    // argmax-struct dedup over the drained update stream is
    // batching-independent.
    "w10_stream_compact_tombstone" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"),
          struct(col("ts_us"), col("event_id"), col("event_type")).as("v"))
        .as[(Long, (Long, Long, String))]
      val latest = StatefulOps.updateAndGet[
          Long, (Long, Long, String), (Long, Long, String)](
        ev,
        (cur, v) => Some(
          if (cur.exists(c => c._1 > v._1 || (c._1 == v._1 && c._2 >= v._2)))
            cur.get else v))
      val dd = StreamRun.toMemory(latest.toDF("user_id", "st"), "w10_sink",
        outputMode = "update")
      dd.groupBy("user_id").agg(max(col("st")).as("st"))
        .select(col("user_id"), col("st._1").as("ts_us"),
          col("st._2").as("event_id"), col("st._3").as("event_type"))
        .where(col("event_type") =!= "error")
        .orderBy("user_id")
    }),

    // the reference's FULL stream → state → write-back loop hash-gated
    // (GatewayStream's commit cycle, S6+S10 promoted from spec-only):
    // per-user profile state in update mode drains through the bucketed
    // changelog writer as an upsert changelog (one manifest flip per
    // batch; a re-run batch re-commits idempotently), latest-per-user by
    // n_events — by construction equal to the batch aggregate, which is
    // exactly what the oracle hashes. Update mode emits a user only in a
    // batch that added events for it, so its count strictly increases
    // from one emission to the next and is the recency.
    "w9_stream_writeback" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w9_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val ev = Tables.eventsStream(s, d)
      val agg = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), qSum(col("value"), "sum_value"))
      ChangelogStream.materializeLatestBucketed(agg, Seq("user_id"), "n_events",
          s"$tmp/t", s"$tmp/ckpt")
        .outputMode("update").start().awaitTermination()
      BucketedStore.read(s, s"$tmp/t").get.orderBy("user_id")
    }),

    // CHAINED stateful aggregations in ONE streaming query (Spark's
    // multiple-stateful-operator support): hourly counts re-windowed into
    // daily peak/total, append mode. Append emits a window only once the
    // watermark (here max event time, delay 0) passes its end, so the
    // drained result is exactly the batch aggregate restricted to days
    // whose end ≤ max ts — that cutoff is mirrored in the oracle, making
    // the late-data gate itself part of what the hash asserts.
    "w8_stream_chained_agg" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
        .withColumn("t", timestamp_micros(col("ts_us")))
        .withWatermark("t", "0 seconds")
      val hourly = ev.groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val daily = hourly.groupBy(window(col("window"), "1 day"), col("event_type"))
        .agg(max(col("n_events")).as("peak_hourly"),
          sum(col("n_events")).as("n_day"))
      StreamRun.toMemory(daily, "w8_sink", outputMode = "append")
        .select(unix_micros(col("window.start")).as("day_us"),
          col("event_type"), col("peak_hourly"), col("n_day"))
        .orderBy("day_us", "event_type")
    }),

    // STREAMING sketch maintenance hash-gated (the StreamingSketches
    // surface promoted from spec-only): the batch HLL register builder
    // runs unchanged on the stream — max aggregation per (event_type,
    // idx), Structured Streaming's state store IS the sketch, exactly m
    // registers per group regardless of history. The drained registers
    // must be BIT-IDENTICAL to the batch build (q63's register algebra),
    // and the estimate computed over the sunk registers rides along.
    "w11_stream_hll_sketch" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
      val regs = Sketches.hllRegisters(ev, Seq("event_type"), "user_id", m = 64)
      val sunk = StreamRun.toMemory(regs, "w11_sink")
      // estimate via a window over the sunk registers (a join back onto
      // the memory-sink view would self-conflict its attributes); the
      // arithmetic is Sketches.hllEstimateCol — the SAME Column helper
      // hllEstimate's group-by path uses (single-source rule), fed the
      // window forms of its two register aggregates
      val byType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
      val sp = sum(Sketches.pow2(lit(41) - col("mreg"))).over(byType)
      val np = count(lit(1)).over(byType)
      sunk.select(col("event_type"), col("idx"), col("mreg"),
          Sketches.hllEstimateCol(sp, np, m = 64).as("n_est"))
        .orderBy("event_type", "idx")
    }),

    // TTL'd first-seen dedup — the watermark-BOUNDED production form of
    // w3's dropDuplicates (whose state grows with distinct keys forever):
    // one long of state per key, a key re-emits once its previous
    // emission is more than TTL behind in EVENT time. The oracle mirrors
    // the TTL cutoff as the greedy chain eᵢ₊₁ = min{ts > eᵢ + ttl} via a
    // recursive CTE — the hash gate asserts the TTL rule itself, the way
    // w8's gate asserts the watermark cutoff. Single-batch precondition
    // asserted (order-sensitive fold; see clampedFoldMonitor).
    "w12_stream_ttl_dedup" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"))
        .as[(Long, Long, Long)]
      val emitted = StatefulOps.firstSeenWithTtl(ev, ttlUs = 21600000000L)
        .toDF("user_id", "ts_us")
      StreamRun.toMemory(emitted, "w12_sink", outputMode = "append",
          assertSingleBatch = true)
        .orderBy("user_id", "ts_us")
    }),

    // streaming KMV distinct-count registers — the ONE sketch whose state
    // is not a plain aggregate (a k-smallest SET): mapGroupsWithState
    // holds the k-set per group, bounded at 8·k bytes regardless of
    // history. Drained through an update-mode sink + argmax-n dedup
    // (n_updates strictly increases, so the fold is batching-independent
    // like w10's max); final registers must equal the batch k smallest
    // DISTINCT 60-bit hashes per group, exploded to (group, rk, hv) rows.
    "w13_stream_kmv" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("event_type"), md5Hash60(col("user_id")))
        .as[(String, Long)]
      val regs = StreamingSketches.kmvRegisterStream(ev, k = 32)
        .toDF("event_type", "n_updates", "registers")
      val dd = StreamRun.toMemory(regs, "w13_sink", outputMode = "update")
      dd.groupBy("event_type")
        .agg(max(struct(col("n_updates"), col("registers"))).as("r"))
        .select(col("event_type"), posexplode(col("r.registers")).as(Seq("pos", "hv")))
        .select(col("event_type"), (col("pos") + 1).as("rk"), col("hv"))
        .orderBy("event_type", "rk")
    }),

    // stream-STATIC enrich (J8's global store consumed by a live stream):
    // the customer dim joins map-side as a broadcast against every
    // micro-batch — NO join state (unlike w7's stream-stream form), which
    // is the production enrich shape at any dim size Spark can broadcast;
    // the rollup is ordinary streaming aggregation state on the enriched
    // keys. Oracle = the batch join + aggregate of the replayed log.
    "w14_stream_enrich" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
      // un-hinted: the planner auto-broadcasts at any SF where the dim
      // fits, and falls back to a shuffled stream-static join when it
      // doesn't — a forced broadcast() would OOM on a grown dim
      // (CLAUDE.md r6 rule)
      val dim = Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val agg = ev.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"), qSum(col("value"), "sum_value"))
      StreamRun.toMemory(agg, "w14_sink")
        .orderBy("c_mktsegment", "event_type")
    }),

    // the LLM-pipeline quality gate ON THE INGEST STREAM: t2's row-local
    // quality metrics (native codegen'd expressions — no state at all)
    // flag each arriving document, and the per-language admission monitor
    // is one streaming aggregate. This is the shape that matters at
    // 100 TB/day ingest: the gate costs scan speed, state is
    // |langs|-sized, and the drained monitor must equal the batch gate
    // (t2's keep rule) exactly.
    "w15_stream_quality_gate" -> ((s, d) => {
      val m = TextAnalysis.qualityScore(
        Tables.documentsStream(s, d), "lang", "text")
      val agg = m.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      StreamRun.toMemory(agg, "w15_sink").orderBy("lang")
    }),

    // the FULL streaming curation loop in one topology — the LLM-data
    // pipeline's ingest path end to end: row-local quality gate (t2's
    // keep rule, zero state) → streaming content-hash dedup (distinct-
    // pair-sized state) → Spark's exactly-once file sink (its
    // `_spark_metadata` log names only committed files, and a batch id it
    // already committed is skipped) → per-language counts off the
    // committed files. The oracle is the batch composition: per-language
    // count of DISTINCT kept texts — gate, dedup and sink all inside the
    // hash gate at once.
    "w16_stream_curation" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w16_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val kept = Tables.documentsStream(s, d)
        .filter(TextAnalysis.keepCol(col("text")))
        .select(col("lang"), md5(col("text")).as("h"))
        .dropDuplicates("lang", "h")
      kept.writeStream.format("parquet").option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start(s"$tmp/out").awaitTermination()
      s.read.parquet(s"$tmp/out")
        .groupBy("lang").agg(count(lit(1)).as("n_unique_kept"))
        .orderBy("lang")
    }),

    // STREAMING graph-state maintenance hash-gated (J9's streaming form,
    // GraphStreamSpec's merge/split logic promoted to the oracle): the
    // event log is read as an EDGE CHANGELOG — each event upserts the
    // user ↔ event-type edge, and a low-engagement mutation
    // (coalesce(value,0) < 20, ~33% of events at every SF — probed, so
    // the rule is NON-vacuous and compaction ordering is load-bearing)
    // RETRACTS it; an edge is live iff its LATEST mutation by
    // (ts, event_id) is not a retraction. maintainComponents compacts
    // latest-per-edge, drops tombstoned edges and recomputes components
    // per micro-batch, committed by one manifest flip; the drained
    // component table must equal the batch compact → live-CC of the
    // replayed changelog.
    // Vertices ride the q107 long encoding (user·2 even, md5(type)·2+1
    // odd); component = min encoded vertex on both sides.
    "w17_stream_graph_maintain" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w17_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val ch = Tables.eventsStream(s, d).select(
        (col("user_id") * 2L).as("src"),
        (md5Hash60(col("event_type")) * 2L + 1L).as("dst"),
        col("ts_us"), col("event_id"),
        (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone"))
      graft.streaming.GraphStream.maintainComponents(ch, s"$tmp/g",
          s"$tmp/ckpt", tieBreakCols = Seq("event_id"))
        .start().awaitTermination()
      graft.streaming.BucketedStore.read(s, s"$tmp/g/components").get.orderBy("vertex")
    }),

    // LIVE SECONDARY-INDEX MAINTENANCE under streaming ingest (R4 build +
    // R6 tombstone de-index as a STREAMING loop — w17's foreachBatch
    // compaction discipline applied to the reference's CDC-listener index,
    // KVStoreLocal.scala:195-248), INCREMENTAL since r13: table and index
    // live in key-hash bucket dirs and each micro-batch reads back,
    // compacts, and swaps ONLY the buckets its keys touch — per-batch
    // work is O(batch + touched buckets), never O(table) (r12 verdict
    // #1; the reference's own competency, KVStoreIndex.put:46-66).
    // Derived-not-patched holds WITHIN each touched bucket (postings
    // rebuilt from that bucket's fresh latest view), so tombstoned keys
    // leave the index and superseded postings vanish BY CONSTRUCTION
    // (the q174 de-index rule, live); the drained index ≡ the batch
    // index of the replayed log, which is what the oracle asserts —
    // BucketedStoreSpec pins the same (table and index ≡ Changelog.compact
    // + SecondaryIndex.build of the replayed log) on a multi-batch
    // tombstoned drain.
    "w34_stream_index_maintain" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w34_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val ch = Tables.eventsStream(s, d).select(
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone"))
      graft.streaming.ChangelogStream.maintainIndexedBucketed(ch,
          Seq("user_id"), "ts_us", array(col("event_type")), s"$tmp/t",
          s"$tmp/idx", s"$tmp/ckpt", numBuckets = 8,
          tieBreakCols = Seq("event_id"))
        .start().awaitTermination()
      // an EMPTY replay is legal (empty-world gate): zero batches means
      // the store was never created — the index is the empty relation
      graft.streaming.BucketedStore.read(s, s"$tmp/idx")
        .getOrElse(Tables.events(s, d)
          .select(col("event_type").as("index_key"), col("user_id"))
          .limit(0))
        .select(col("index_key"), col("user_id"))
        .orderBy("index_key", "user_id")
    }),

    // LIVE R5 MULTI-TERM INDEX LOOKUP on the bucketed store (w34's
    // topology + the reference's multi-IK intersection query,
    // KVStoreIndex.scala:20-66): ingest maintains a TWO-term inverted
    // index per user (latest event_type + a value band), then the drained
    // bucketed index serves SecondaryIndex.multiLookup(click ∧ band:0) —
    // postings-count intersection, term filter pruned before any shuffle,
    // hit set broadcast into the primary semi-join. ≡ filtering the batch
    // latest view on both predicates, which is what the oracle does. The
    // band is the canonical-double FLOOR(value/50.0) — one shared IEEE
    // expression, bit-identical across engines (the q118 rule).
    "w35_stream_index_lookup" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w35_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val ch = Tables.eventsStream(s, d).select(
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        col("value"),
        (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone"))
      val indexFn = array(col("event_type"),
        concat(lit("band:"),
          floor(coalesce(col("value"), lit(0.0)) / 50.0).cast("long")))
      graft.streaming.ChangelogStream.maintainIndexedBucketed(ch,
          Seq("user_id"), "ts_us", indexFn, s"$tmp/t", s"$tmp/idx",
          s"$tmp/ckpt", numBuckets = 8, tieBreakCols = Seq("event_id"))
        .start().awaitTermination()
      // empty replay ⇒ empty store ⇒ empty lookup (empty-world gate)
      val emptyT = Tables.events(s, d).select(
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        col("value"),
        (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone")).limit(0)
      val idx = graft.streaming.BucketedStore.read(s, s"$tmp/idx")
        .getOrElse(emptyT.select(col("event_type").as("index_key"),
          col("user_id")))
      val live = graft.streaming.BucketedStore.read(s, s"$tmp/t")
        .getOrElse(emptyT)
        .filter(!col("tombstone"))
      graft.state.SecondaryIndex.multiLookup(idx, live, Seq("user_id"),
          Seq("click", "band:0"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
        .orderBy("user_id")
    }),

    // PER-KEY SUBSCRIPTION CONTRACT (R7, live): the reference's
    // KeyValueMediator pushes the key's CURRENT value on subscribe, then
    // every subsequent change (actor/Partition.scala:155-192). Here the
    // subscribe point is T = midpoint of the batch event-time span
    // (serving-config-at-start, the w19 rule): the initial value is the
    // key's latest row AT T from the batch view, and the change feed is a
    // REAL stateless SS job filtered to (key, ts > T) in append mode —
    // feed rows ≡ the key's post-T log slice, init ≡ its pre-T latest,
    // which is what the oracle asserts. There is no network push
    // transport; this gates the subscription's VALUE contract.
    "w38_stream_key_subscribe" -> ((s, d) => {
      val batch = Tables.events(s, d)
      val cfg = batch.agg(min(col("user_id")).as("u"),
        expr("(min(ts_us) + max(ts_us)) div 2").as("t")).head
      val empty = batch
        .select(lit("x").as("kind"), col("ts_us"), col("event_id"),
          col("event_type")).limit(0)
      if (cfg.isNullAt(0)) empty
      else {
        val uid = cfg.getLong(0)
        val t = cfg.getLong(1)
        val feed = Tables.eventsStream(s, d)
          .filter(col("user_id") === uid && col("ts_us") > t)
          .select(col("ts_us"), col("event_id"), col("event_type"))
        val changes = StreamRun.toMemory(feed, "w38_sink",
            outputMode = "append")
          .select(lit("change").as("kind"), col("ts_us"), col("event_id"),
            col("event_type"))
        val init = batch
          .filter(col("user_id") === uid && col("ts_us") <= t)
          .orderBy(col("ts_us").desc, col("event_id").desc).limit(1)
          .select(lit("init").as("kind"), col("ts_us"), col("event_id"),
            col("event_type"))
        init.unionByName(changes).orderBy("kind", "ts_us", "event_id")
      }
    }),

    // ROUTED POINT SERVE (P1 with the reference's cost model, live): after
    // a streamed bucketed materialization, the probe key is murmur3-routed
    // DRIVER-SIDE to its one bucket dir and the serving scan reads exactly
    // 1/N of the table by construction — the Spark-batch analogue of the
    // reference's Murmur2Partitioner single-partition point read
    // (api/.../Murmur2Partitioner.java, Coordinator routing). The probe is
    // min(user_id) from the batch view (serving-config-at-start, the w19
    // rule); result ≡ that user's latest non-tombstone row, which is what
    // the oracle asserts. BucketedStoreSpec pins the single-bucket scan
    // via inputFiles.
    "w37_stream_point_serve" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w37_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val ch = Tables.eventsStream(s, d).select(
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone"))
      graft.streaming.ChangelogStream.materializeLatestBucketed(ch,
          Seq("user_id"), "ts_us", s"$tmp/t", s"$tmp/ckpt",
          numBuckets = 8, tieBreakCols = Seq("event_id"))
        .start().awaitTermination()
      val probe = Tables.events(s, d).agg(min(col("user_id")).as("u")).head
      // empty events ⇒ no probe key AND no store — the empty relation
      // (empty-world gate); the oracle's scalar-subquery filter matches
      // nothing on its side too
      val emptyT = Tables.events(s, d).select(col("user_id"),
        col("event_type"), col("ts_us")).limit(0)
      if (probe.isNullAt(0)) emptyT
      else graft.streaming.BucketedStore.pointLookup(s, s"$tmp/t",
          Seq("user_id"), Seq(probe.getLong(0)))
        .map(_.filter(!col("tombstone"))
          .select(col("user_id"), col("event_type"), col("ts_us")))
        .getOrElse(emptyT)
        .orderBy("user_id")
    }),

    // THE POINTER-FILE (MANIFEST) COMMIT PROTOCOL UNDER THE ORACLE GATE
    // (the StoreFs seam, r13 verdict #1): the w34 ingest topology drains
    // into a bucketed store whose generations are immutable dirs committed
    // by one atomic manifest-pointer put per batch — correct on
    // POSIX and on rename-less object stores alike (StoreFs has no
    // rename). After the drain the crash window is simulated: an ORPHAN
    // staged bucket generation (fully written, named by no manifest)
    // carrying poisoned rows is planted beside the live ones; the read path must serve exactly
    // the committed generation set — ≡ the batch compaction of the
    // replayed log, which the oracle asserts. A protocol bug that leaked
    // an uncommitted generation (poison surfaces) or lost a committed one
    // (rows vanish) breaks the hash.
    "w39_stream_manifest_store" -> ((s, d) => {
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_w39_")
      Support.deleteOnExit(tmpPath)
      val tmp = tmpPath.toString
      val ch = Tables.eventsStream(s, d).select(
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        (coalesce(col("value"), lit(0.0)) < 20.0).as("tombstone"))
      graft.streaming.ChangelogStream.materializeLatestBucketed(ch,
          Seq("user_id"), "ts_us", s"$tmp/t", s"$tmp/ckpt",
          numBuckets = 8, tieBreakCols = Seq("event_id"))
        .start().awaitTermination()
      // crash-window simulation (empty replay ⇒ no bucket to poison —
      // the store is the empty relation, empty-world gate)
      graft.streaming.BucketedStore.existingBuckets(s"$tmp/t")
        .headOption.foreach { b =>
          graft.streaming.BucketedStore.read(s, s"$tmp/t").get.limit(1)
            .withColumn("event_type", lit("__LEAKED_UNCOMMITTED__"))
            // live + non-tombstoned: if the protocol leaked this
            // generation, the poison row MUST surface and break the hash
            .withColumn("tombstone", lit(false))
            .write.mode("overwrite").parquet(s"$tmp/t/.staging-999999-orphan/__b=$b")
        }
      graft.streaming.BucketedStore.read(s, s"$tmp/t")
        .getOrElse(Tables.events(s, d).select(col("user_id"),
          col("event_type"), col("ts_us"),
          lit(false).as("tombstone")).limit(0))
        .filter(!col("tombstone"))
        .select(col("user_id"), col("event_type"), col("ts_us"))
        .orderBy("user_id")
    }),

    // q82's rolling 3σ anomaly monitor as a LIVE stream: anomalyMonitor
    // carries a bounded 20-value ring per user (state is histRows longs
    // per key — history-independent), flags via the same integer
    // cross-multiplied test as the batch operator, and the drained flags
    // face q82's oracle VERBATIM (one SQL spelling, Support single-source)
    // — streaming monitor ≡ batch window on the replayed log. Order-
    // sensitive fold ⇒ single-batch precondition asserted (w5 rule).
    "w18_stream_anomaly" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .where(col("value").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long, Long, Long)]
      val flagged = StatefulOps.anomalyMonitor(ev,
          histRows = 20, minHist = 8, k = 3)
        .toDF("user_id", "ts_us", "event_id", "cents", "n_hist")
      StreamRun.toMemory(flagged, "w18_sink", outputMode = "append",
          assertSingleBatch = true)
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // q101's one-sided CUSUM drift monitor as a LIVE stream: the per-type
    // reference level is computed from the batch view (a monitor's target
    // is configuration at stream start — q101's sign-safe offset mean
    // verbatim), joined stream-static (stateless), then cusumMonitor runs
    // C ← max(0, C + (x − target)) with a THREE-long register per key and
    // emits alarm rows where C > threshold. The oracle is the per-row
    // Lindley closed form Cᵢ = Sᵢ − min(0, min_{k≤i} Sₖ) filtered to
    // alarms — recurrence ≡ closed form, asserted on real data (the w5
    // proof shape, per-row instead of final-register). Single-batch
    // precondition asserted (order-sensitive fold).
    "w19_stream_cusum" -> ((s, d) => {
      import s.implicits._
      val batch = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val tgt = batch.groupBy(col("event_type").as("et"))
        .agg(expr(offsetMeanSparkSql).as("target"))
      val ev = Tables.eventsStream(s, d).where(col("value").isNotNull)
        .select(col("event_type"), col("ts_us"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .join(tgt, col("event_type") === col("et")).drop("et")
        .select(col("event_type"), col("ts_us"), col("event_id"),
          col("cents"), col("target"))
        .as[(String, Long, Long, Long, Long)]
      val alarms = StatefulOps.cusumMonitor(ev, threshold = 100000L)
        .toDF("event_type", "ts_us", "event_id", "cusum")
      StreamRun.toMemory(alarms, "w19_sink", outputMode = "append",
          assertSingleBatch = true)
        .orderBy("event_type", "ts_us", "event_id")
    }),

    // q147's max-drawdown as a LIVE alert stream: drawdownMonitor carries
    // (balance, peak, maxDrawdown) — three longs per user — and emits a
    // row each time a user's drawdown RECORD deepens, so output volume is
    // O(record improvements), never O(events). The oracle replays the
    // same recurrence as windows: prefix-sum balance, prefix-max peak,
    // dd = peak − bal, emit where dd exceeds the strict-past running max
    // — streamed alert rows ≡ batch window rows, hash-asserted.
    // Single-batch precondition asserted (order-sensitive fold).
    "w20_stream_drawdown" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .where(col("value").isNotNull)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (round(col("value") * 100).cast("long") - 3500L).as("delta_cents"))
        .as[(Long, Long, Long, Long)]
      val alerts = StatefulOps.drawdownMonitor(ev)
        .toDF("user_id", "ts_us", "event_id", "max_drawdown_cents")
      StreamRun.toMemory(alerts, "w20_sink", outputMode = "append",
          assertSingleBatch = true)
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // streaming CMS maintenance — the frequency-sketch sibling of w11:
    // cmsBuild's sum-merge registers run UNCHANGED on the stream (the
    // state store IS the sketch, exactly depth×width cells at any
    // history), drained registers must be bit-identical to the batch
    // build (q61's register CTEs, shared cmsCellsSql oracle)
    "w21_stream_cms" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
      val regs = graft.streaming.StreamingSketches.cmsRegisterStream(
        ev, "user_id", depth = 4, width = 64)
      StreamRun.toMemory(regs, "w21_sink")
        .select(col("r"), col("b"), col("c"))
        .orderBy("r", "b")
    }),

    // sliding-window (1h window / 15min slide) streaming aggregation
    // state: each event lands in exactly windowDuration/slide = 4
    // epoch-aligned windows; the oracle materializes the same 4 window
    // starts per event with floor-division arithmetic.
    "w6_stream_sliding" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
        .withColumn("t", timestamp_micros(col("ts_us")))
      val agg = ev.groupBy(window(col("t"), "1 hour", "15 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      StreamRun.toMemory(agg, "w6_sink")
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n_events"))
        .orderBy("win_start_us", "event_type")
    }),

    // keep-last-N per user on Spark 4's transformWithState arbitrary-state
    // API (typed ListState + ValueState over the RocksDB store) — the
    // STREAMING form of q7's CDC keep-last-N listener (R8) and the first
    // w-query on the StatefulProcessor surface. State is the ≤3-element
    // window itself; the drain dedups by the monotone n_seen tag (latest
    // emission per user wins), so the gate is batching-independent — no
    // single-batch assertion needed, unlike the order-sensitive folds.
    "w22_stream_keep_last_n" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .as[TwsEvent]
      val drained = TwsOps.withRocksDb(s) {
        StreamRun.toMemory(TwsOps.keepLastN(ev, n = 3).toDF(),
          "w22_sink", outputMode = "append")
      }.localCheckpoint(true)
      val latest = drained.groupBy(col("user_id").as("u"))
        .agg(max(col("n_seen")).as("mx"))
      drained.join(latest,
          col("user_id") === col("u") && col("n_seen") === col("mx"))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // per-user event-type profile on transformWithState MapState — the
    // J10 stateful count with the type dimension held INSIDE one key's
    // typed map (the reference's per-key record maps, KVStore.scala:107)
    // rather than widening the grouping key. Counts are monotone per
    // (user, type), so max(n) over the drained emissions IS the final
    // state under any micro-batch split of the log.
    "w23_stream_type_profile" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .as[TwsEvent]
      val drained = TwsOps.withRocksDb(s) {
        StreamRun.toMemory(TwsOps.typeCounts(ev).toDF(),
          "w23_sink", outputMode = "append")
      }
      drained.groupBy("user_id", "event_type")
        .agg(max(col("n")).as("n_events"))
        .orderBy("user_id", "event_type")
    }),

    // watermark-BOUNDED streaming dedup via dropDuplicatesWithinWatermark
    // — the production form of w3 whose per-key state EXPIRES once the
    // watermark passes (w3's plain dropDuplicates holds state forever by
    // design of that gate). Which physical row represents a key within a
    // batch is task-order-dependent, so the gated output is the KEY SET
    // only (deterministic under any order); the replayed single-file log
    // arrives inside one watermark horizon, so the emitted key set equals
    // batch DISTINCT exactly.
    "w24_stream_dedup_within_wm" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("ts_us")).as("t"))
        .withWatermark("t", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      StreamRun.toMemory(ev, "w24_sink", outputMode = "append")
        .orderBy("user_id", "event_type")
    }),

    // stream-stream LEFT OUTER interval join — w7's inner join plus the
    // null-extended rows for clicks with no purchase in the following
    // hour. An unmatched click can only be DECLARED unmatched once the
    // watermark passes its whole candidate interval (ct + 1h), and the
    // final watermark of the drained log is maxEventTime − 1h — so
    // exactly the clicks with ct + 2h ≤ maxTs finalize as null rows
    // before termination, and the oracle mirrors that cutoff the same
    // way w8 mirrors the watermark for append-mode windows. Matched rows
    // emit regardless (inner-join semantics are watermark-free).
    "w26_stream_outer_join" -> ((s, d) => {
      val clicks = Tables.eventsStream(s, d)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = Tables.eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          timestamp_micros(col("ts_us")).as("pt"))
        .withWatermark("pt", "1 hour")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("pt") >= col("ct") &&
            col("pt") <= col("ct") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("pt")) - unix_micros(col("ct"))).as("lag_us"))
      StreamRun.toMemory(joined, "w26_sink", outputMode = "append")
        .orderBy("click_id", "purchase_id")
    }),

    // stream-stream FULL OUTER interval join — w26 plus the null rows
    // from the PURCHASE side. The two sides finalize on DIFFERENT
    // conditions (both probed at sf0.001 AND sf0.01, where the boundary
    // cases discriminate): an unmatched click needs the watermark past
    // its whole candidate interval (ct + 1h interval + 1h delay ≤ mt,
    // the w26 rule), while an unmatched purchase only needs the watermark
    // past its own event time (pt + 1h delay ≤ mt) — its candidate
    // clicks all have ct ≤ pt, so nothing future can match once pt is
    // below the watermark. mt = min over both input streams of max event
    // ts. NULL sort keys order differently across engines (Spark NULLS
    // FIRST, DuckDB NULLS LAST) — both sides sort on COALESCE(id, 2^63−1).
    "w27_stream_full_outer_join" -> ((s, d) => {
      val clicks = Tables.eventsStream(s, d)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = Tables.eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          timestamp_micros(col("ts_us")).as("pt"))
        .withWatermark("pt", "1 hour")
      val joined = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("pt") >= col("ct") &&
            col("pt") <= col("ct") + expr("INTERVAL 1 HOUR"),
          "full_outer")
        .select(col("click_id"), col("purchase_id"),
          coalesce(col("user_id"), col("p_user")).as("user_id"),
          (unix_micros(col("pt")) - unix_micros(col("ct"))).as("lag_us"))
      StreamRun.toMemory(joined, "w27_sink", outputMode = "append")
        .orderBy(coalesce(col("click_id"), lit(Long.MaxValue)),
          coalesce(col("purchase_id"), lit(Long.MaxValue)))
    }),

    // UNION of two streams with DIFFERENT watermark delays feeding one
    // windowed aggregate — the multi-source ingest shape (fast click feed
    // + slow purchase feed). Spark's global watermark under the default
    // multipleWatermarkPolicy = min is min(maxCt − 30min, maxPt − 2h),
    // and exactly the windows with end ≤ that emit (probed: the emitted
    // day set equals the cutoff set at sf0.001). The oracle mirrors the
    // two per-stream delays in one LEAST — the first w-query whose cutoff
    // is not a single stream's horizon.
    "w28_stream_union_min_watermark" -> ((s, d) => {
      val clicks = Tables.eventsStream(s, d)
        .where(col("event_type") === "click")
        .select(timestamp_micros(col("ts_us")).as("t"))
        .withWatermark("t", "30 minutes")
      val purchases = Tables.eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(timestamp_micros(col("ts_us")).as("t"))
        .withWatermark("t", "2 hours")
      val agg = clicks.unionByName(purchases)
        .groupBy(window(col("t"), "1 day"))
        .agg(count(lit(1)).as("n_events"))
      StreamRun.toMemory(agg, "w28_sink", outputMode = "append")
        .select(unix_micros(col("window.start")).as("day_us"),
          col("n_events"))
        .orderBy("day_us")
    }),

    // transformWithState EVENT-TIME TIMERS — idle-key expiry (the
    // session-timeout / abandoned-cart shape): each arrival reschedules
    // the key's single timer to last+30min; handleExpiredTimer fires when
    // the watermark passes it. PROBED (incl. a crafted exact-boundary
    // log): timers fire at expiry ≤ watermark (non-strict), the watermark
    // is the max event time in FLOOR-ms, and AvailableNow runs the
    // trailing zero-input batch that delivers the fires — so exactly the
    // users with (last_us div 1000) + 1800000 ≤ (max_us div 1000) emit,
    // each exactly once, with their final (last_us, n_events) state.
    "w30_stream_idle_expiry" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("ts_us"))
        .withWatermark("ts", "0 seconds")
        .as[TwsTimedEvent]
      val drained = TwsOps.withRocksDb(s) {
        StreamRun.toMemory(TwsOps.idleExpiry(ev, gapMs = 1800000L).toDF(),
          "w30_sink", outputMode = "append", assertSingleBatch = true)
      }
      drained.orderBy("user_id")
    }),

    // CHAINED STATEFUL pipeline — stream-stream interval join FEEDING a
    // windowed aggregate (the conversion-funnel-per-day shape, two
    // stateful operators in one topology). The join consumes the
    // downstream watermark slack: a day window emits iff
    // end + interval + delay < mt, STRICT (probed with crafted
    // exact-boundary logs: ruled out 0/1h/3h cutoffs and the non-strict
    // 2h form — the join can emit rows up to `interval` later than its
    // inputs, so the agg's effective watermark is global wm minus the
    // join interval, and the boundary itself holds).
    "w32_stream_join_then_agg" -> ((s, d) => {
      val clicks = Tables.eventsStream(s, d)
        .where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ct"))
        .withWatermark("ct", "1 hour")
      val purchases = Tables.eventsStream(s, d)
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          timestamp_micros(col("ts_us")).as("pt"))
        .withWatermark("pt", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr("INTERVAL 1 HOUR"))
      val agg = joined.groupBy(window(col("pt"), "1 day"))
        .agg(count(lit(1)).as("n_conversions"))
      StreamRun.toMemory(agg, "w32_sink", outputMode = "append")
        .select(unix_micros(col("window.start")).as("day_us"),
          col("n_conversions"))
        .orderBy("day_us")
    }),

    // STREAMING VECTOR INGEST against a frozen ANN index: the IVF
    // centroids are trained on the BATCH view at stream start (w19's
    // monitor-configuration rule) and arriving embeddings are assigned
    // STATELESSLY — the 16 centroids ride the plan as literals and the
    // argmin is a row-local array_min over (distance, cell) structs
    // (lowest cell on ties, exactly assignCells' ROW_NUMBER order), so
    // the ingest path holds zero state and scales with arrival rate
    // alone. Drained assignment ≡ the batch ivfCellsSql assignment.
    "w31_stream_ivf_ingest" -> ((s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), quantize1000(col("embedding")).as("v"))
      val (_, centroids) = Similarity.ivfIndexQuantized(base,
        nCentroids = 16, iterations = 5)
      val stream = Tables.embeddingsStream(s, d)
        .select(col("vec_id").as("id"), quantize1000(col("embedding")).as("v"))
      // single-sourced assignment formula (Similarity.probeCellStructs via
      // the long-cell variant) — the ingest election CANNOT drift from the
      // batch assignCells path
      val assigned = stream.select(col("id"),
        Similarity.assignCellExprLong(col("v"), centroids).as("cell"))
      StreamRun.toMemory(assigned, "w31_sink", outputMode = "append")
        .orderBy("id")
    }),

    // streaming TOP-K maintenance: sort + limit over a streaming
    // aggregate — legal ONLY in complete output mode (the one output mode
    // where the sink sees the whole result every batch), the leaderboard
    // shape (top users by activity, live). The drained final batch is by
    // construction the batch top-k; total (n DESC, user) order makes the
    // cut deterministic on both engines.
    "w29_stream_topk" -> ((s, d) => {
      val agg = Tables.eventsStream(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(desc("n_events"), col("user_id")).limit(10)
      StreamRun.toMemory(agg, "w29_sink")
        .orderBy(desc("n_events"), col("user_id"))
    }),

    // NATIVE STATE TTL on transformWithState (w22 + TTLConfig — the
    // reference's per-store TTL, StateConf.java:30-31, on the Spark 4
    // managed-state path): the keep-last-5 ListState AND the lifetime
    // ValueState both carry a 1-hour PROCESSING-time TTL (TTL requires
    // TimeMode.ProcessingTime). The replayed-log drain completes far
    // inside the TTL horizon by construction — the processing-time
    // analogue of the w19 monitor-config rule — so no state expires
    // mid-drain and the drained final window ≡ batch keep-last-5 with
    // the per-user lifetime count, which is what the oracle asserts.
    // The ACTUAL expiry (an idle key's window and count read as absent
    // once TTL passes between batches) is pinned by TwsOpsSpec's
    // two-batch sleep-past-TTL drain.
    "w33_stream_keeplastn_ttl" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.eventsStream(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .as[TwsEvent]
      // toMemoryDrainStop, not toMemory: processing-time TTL keeps
      // shouldRunAnotherBatch true, so an AvailableNow drain never
      // self-terminates (see StreamRun scaladoc)
      val drained = TwsOps.withRocksDb(s) {
        StreamRun.toMemoryDrainStop(
          TwsOps.keepLastNTtl(ev, n = 5, java.time.Duration.ofHours(1)).toDF(),
          "w33_sink", outputMode = "append")
      }.localCheckpoint(true)
      val latest = drained.groupBy(col("user_id").as("u"))
        .agg(max(col("n_seen")).as("mx"))
      drained.join(latest,
          col("user_id") === col("u") && col("n_seen") === col("mx"))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), col("n_seen"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // DYNAMIC-GAP session windows: the gap is a per-row EXPRESSION
    // (purchases close a session after 30 min, everything else after 1 h)
    // — the session_window API surface w4's fixed gap doesn't touch. The
    // oracle replays the same merge rule as the q19 island convention
    // with the PER-ROW gap: a session extends while the next event starts
    // at or before the previous event's type-dependent horizon (Spark
    // merges at diff == gap — probed round 10), and the session END is
    // max over members of (ts + gap(type)).
    "w25_stream_dynamic_sessions" -> ((s, d) => {
      val ev = Tables.eventsStream(s, d)
        .withColumn("t", timestamp_micros(col("ts_us")))
      val gap = when(col("event_type") === "purchase", lit("30 minutes"))
        .otherwise(lit("1 hour"))
      val agg = ev.groupBy(col("user_id"), session_window(col("t"), gap))
        .agg(count(lit(1)).as("n_events"))
      StreamRun.toMemory(agg, "w25_sink")
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    }),

  )

  val oracles: Map[String, String] = Map(

    "w1_stream_hourly" ->
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         |  COUNT(*) AS n_events, ${qSumSql("value", "sum_value")}
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "w2_stream_user_profile" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
         |  ${qSumSql("value", "sum_value")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "w3_stream_distinct_reach" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "w4_stream_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts)) > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM flagged)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us) + 3600000000 AS session_end_us, COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, seq ORDER BY user_id, session_start_us""".stripMargin,

    "w5_stream_rmw_fold" ->
      """WITH e AS (SELECT user_id,
        |    CAST(round(value*100) AS BIGINT) - 3500 AS d,
        |    epoch_us(ts) AS ts_us, event_id FROM events WHERE value IS NOT NULL),
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

    "w7_stream_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
        |ORDER BY click_id, purchase_id""".stripMargin,

    // last-writer-wins per user, tombstoned when the latest event errors
    "w10_stream_compact_tombstone" ->
      """WITH latest AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, ts_us, event_id, event_type
        |FROM latest WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // the write-back loop lands on the same per-user profile as w2 — the
    // oracle is intentionally identical; what w9 adds to the hash gate is
    // the bucketed changelog writer the profile travels through
    "w9_stream_writeback" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  ${qSumSql("value", "sum_value")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // append-mode watermark cutoff: only days fully past max(ts) emit
    "w8_stream_chained_agg" ->
      """WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
        |h AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
        |    date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT day_us, event_type, CAST(MAX(n) AS BIGINT) AS peak_hourly,
        |  CAST(SUM(n) AS BIGINT) AS n_day
        |FROM h, mx WHERE day_us + 86400000000 <= m
        |GROUP BY day_us, event_type ORDER BY day_us, event_type""".stripMargin,

    // q63's register algebra via the SHARED hllChainSql builder — the
    // gate asserts streamed registers ≡ batch registers bit-identically,
    // estimate alongside
    "w11_stream_hll_sketch" ->
      s"""WITH ${hllChainSql("event_type", "events")}
         |SELECT reg.event_type, CAST(idx AS BIGINT) AS idx,
         |  CAST(mreg AS INTEGER) AS mreg, $hllEstSql AS n_est
         |FROM reg JOIN e USING (event_type)
         |ORDER BY event_type, idx""".stripMargin,

    // the TTL cutoff as a recursive greedy chain: first event per user,
    // then repeatedly the earliest event more than TTL after the last
    // emission — exactly the firstSeenWithTtl state rule
    "w12_stream_ttl_dedup" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |em AS (
        |  SELECT user_id, MIN(ts_us) AS ts_us FROM e GROUP BY user_id
        |  UNION ALL
        |  SELECT em.user_id, n.ts AS ts_us FROM em, LATERAL (
        |    SELECT MIN(ts_us) AS ts FROM e
        |    WHERE e.user_id = em.user_id AND e.ts_us > em.ts_us + 21600000000) n
        |  WHERE n.ts IS NOT NULL
        |)
        |SELECT user_id, ts_us FROM em ORDER BY user_id, ts_us""".stripMargin,

    // k smallest DISTINCT 60-bit hashes per group (KMV register
    // definition), ranked ascending — Spark row_number is INT (rule 5)
    "w13_stream_kmv" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk FROM h)
        |SELECT event_type, CAST(rk AS INTEGER) AS rk, hv
        |FROM r WHERE rk <= 32 ORDER BY event_type, rk""".stripMargin,

    "w14_stream_enrich" ->
      s"""SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n_events,
         |  ${qSumSql("e.value", "sum_value")}
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // t2's keep rule grouped per language — the same qualityMetricsSql
    // chain, with the ppm floor-divisions spelled identically
    "w15_stream_quality_gate" ->
      s"""WITH m AS (${qualityMetricsSql("documents")}),
         |g AS (SELECT d.lang, m.n_tokens, ${keepSql("m.")} AS keep
         |  FROM m JOIN documents d USING (doc_id))
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM g GROUP BY lang ORDER BY lang""".stripMargin,

    // the batch composition of gate → distinct → count; the md5 identity
    // itself never surfaces, so only distinctness must agree (it does:
    // md5 is collision-free at corpus scale and identical hex on both)
    "w16_stream_curation" ->
      s"""WITH m AS (${qualityMetricsSql("documents")}),
         |k AS (SELECT d.lang, md5(d.text) AS h
         |  FROM m JOIN documents d USING (doc_id)
         |  WHERE ${keepSql("m.")})
         |SELECT lang, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_kept
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    // compact latest-per-edge (ts desc, event_id desc), drop tombstones,
    // transitive-closure CC (min encoded vertex), vertices from live edges
    "w17_stream_graph_maintain" ->
      """WITH RECURSIVE ch AS (SELECT user_id*2 AS s0,
        |    CAST(concat('0x', substr(md5(event_type), 1, 15)) AS BIGINT)*2+1 AS d0,
        |    epoch_us(ts) AS ts_us, event_id,
        |    (COALESCE(value, 0) < 20) AS tombstone
        |  FROM events),
        |cn AS (SELECT LEAST(s0, d0) AS src, GREATEST(s0, d0) AS dst,
        |    ts_us, event_id, tombstone FROM ch),
        |latest AS (SELECT src, dst, tombstone, ROW_NUMBER() OVER
        |    (PARTITION BY src, dst ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM cn),
        |live AS (SELECT src, dst FROM latest WHERE rn = 1 AND NOT tombstone),
        |sym AS (SELECT src, dst FROM live UNION SELECT dst, src FROM live),
        |reach(a, b) AS (
        |  SELECT src, src FROM sym
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
        |comp AS (SELECT a AS vertex, MIN(b) AS component FROM reach GROUP BY a)
        |SELECT vertex, component FROM comp ORDER BY vertex""".stripMargin,

    "w18_stream_anomaly" -> rollingAnomalySql,

    // the shared q61 register CTEs, registers surfaced directly
    "w21_stream_cms" ->
      s"""WITH $cmsCellsSql
         |SELECT CAST(r AS INTEGER) AS r, b, c FROM cms ORDER BY r, b""".stripMargin,

    // prefix-sum balance, prefix-max peak, record-deepening filter (dds
    // are >= 0, so COALESCE(strict-past max, 0) is the monitor's maxdd)
    "w20_stream_drawdown" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(value*100) AS BIGINT) - 3500 AS d
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT user_id, ts_us, event_id,
        |    CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bal
        |  FROM e),
        |pk AS (SELECT user_id, ts_us, event_id, bal,
        |    CAST(MAX(bal) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
        |  FROM b),
        |dd AS (SELECT user_id, ts_us, event_id,
        |    GREATEST(peak, 0) - bal AS dd
        |  FROM pk)
        |SELECT user_id, ts_us, event_id, dd AS max_drawdown_cents
        |FROM (SELECT *, COALESCE(MAX(dd) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS prev FROM dd)
        |WHERE dd > prev
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    // q101's offset-mean target, running sum of (x − target), per-row
    // Lindley C = s − LEAST(0, running min s), alarm filter
    "w19_stream_cusum" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |t AS (SELECT event_type, $offsetMeanDuckSql AS target
        |  FROM e GROUP BY 1),
        |r AS (SELECT e.event_type, ts_us, event_id,
        |    CAST(SUM(cents - target) OVER (PARTITION BY e.event_type
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
        |  FROM e JOIN t USING (event_type)),
        |c AS (SELECT event_type, ts_us, event_id,
        |    s - LEAST(0, CAST(MIN(s) OVER (PARTITION BY event_type
        |      ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS cusum
        |  FROM r)
        |SELECT event_type, ts_us, event_id, cusum FROM c WHERE cusum > 100000
        |ORDER BY event_type, ts_us, event_id""".stripMargin,

    "w6_stream_sliding" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
        |w AS (SELECT event_type,
        |    (ts_us // 900000000) * 900000000 - k * 900000000 AS win_start_us
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks)
        |SELECT win_start_us, event_type, COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the final ≤3-element per-user window ≡ the batch last-3 by
    // (ts, event_id) — q7's keep-last-N rule
    "w22_stream_keep_last_n" ->
      """SELECT user_id, ts_us, event_id, event_type
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY user_id, ts_us, event_id""".stripMargin,

    // latest row per user (ts, event_id tie-break), tombstoned users leave
    // the index entirely — the q174 rule on the replayed log
    "w34_stream_index_maintain" ->
      """WITH latest AS (SELECT user_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type AS index_key, user_id FROM latest
        |WHERE rn = 1 AND NOT (COALESCE(value, 0) < 20)
        |ORDER BY index_key, user_id""".stripMargin,

    // init = the key's latest row at the subscribe midpoint T, feed = its
    // post-T log slice; T and the key from the same scalar aggregates
    "w38_stream_key_subscribe" ->
      """WITH b AS (SELECT MIN(user_id) AS u,
        |    (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS t FROM events),
        |init AS (SELECT 'init' AS kind, epoch_us(ts) AS ts_us, event_id,
        |    event_type
        |  FROM events, b WHERE user_id = u AND epoch_us(ts) <= t
        |  ORDER BY epoch_us(ts) DESC, event_id DESC LIMIT 1),
        |chg AS (SELECT 'change' AS kind, epoch_us(ts) AS ts_us, event_id,
        |    event_type
        |  FROM events, b WHERE user_id = u AND epoch_us(ts) > t)
        |SELECT * FROM (SELECT * FROM init UNION ALL SELECT * FROM chg)
        |ORDER BY kind, ts_us, event_id""".stripMargin,

    // the routed read serves exactly the probed user's latest live row
    "w37_stream_point_serve" ->
      """WITH latest AS (SELECT user_id, event_type, value,
        |    epoch_us(ts) AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts_us FROM latest
        |WHERE rn = 1 AND NOT (COALESCE(value, 0) < 20)
        |  AND user_id = (SELECT MIN(user_id) FROM events)
        |ORDER BY user_id""".stripMargin,

    // committed generations only: the drained manifest-protocol store ≡
    // the batch compaction of the replayed log; a leaked uncommitted
    // generation would surface its poison row and break this
    "w39_stream_manifest_store" ->
      """WITH latest AS (SELECT user_id, event_type, value,
        |    epoch_us(ts) AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts_us FROM latest
        |WHERE rn = 1 AND NOT (COALESCE(value, 0) < 20)
        |ORDER BY user_id""".stripMargin,

    // the index set per user is {event_type, band} — containing BOTH
    // 'click' and 'band:0' ⟺ latest row is a click with value in [0,50);
    // FLOOR(value/50.0) is the shared canonical-double expression
    "w35_stream_index_lookup" ->
      """WITH latest AS (SELECT user_id, event_type, value,
        |    epoch_us(ts) AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts_us FROM latest
        |WHERE rn = 1 AND NOT (COALESCE(value, 0) < 20)
        |  AND event_type = 'click'
        |  AND CAST(FLOOR(COALESCE(value, 0)/50.0) AS BIGINT) = 0
        |ORDER BY user_id""".stripMargin,

    // TTL ≫ drain duration ⇒ nothing expires mid-drain: final window =
    // batch keep-last-5, n_seen = the per-user lifetime count
    "w33_stream_keeplastn_ttl" ->
      """SELECT user_id, ts_us, event_id, event_type, n_seen
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_seen
        |  FROM events)
        |WHERE rn <= 5 ORDER BY user_id, ts_us, event_id""".stripMargin,

    // final MapState registers ≡ the batch (user, type) counts
    "w23_stream_type_profile" ->
      """SELECT user_id, event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // w7's inner-join rows, plus null-extended clicks whose candidate
    // interval closed under the final watermark. The global watermark is
    // the MIN over the two input streams' per-column max event times
    // (probed: max-over-all-events over-emits by the clicks that only the
    // later stream's tail covers) minus the 1h delay — so the cutoff is
    // ct + 2h ≤ min(max click ts, max purchase ts).
    "w26_stream_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ct_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pt_us
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT LEAST((SELECT MAX(ct_us) FROM c),
        |    (SELECT MAX(pt_us) FROM p)) AS mt),
        |matched AS (SELECT c.click_id, p.purchase_id, c.user_id,
        |    p.pt_us - c.ct_us AS lag_us
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.pt_us >= c.ct_us AND p.pt_us <= c.ct_us + 3600000000),
        |unmatched AS (SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        |    c.user_id, CAST(NULL AS BIGINT) AS lag_us
        |  FROM c, mx
        |  WHERE c.ct_us + 7200000000 <= mx.mt
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.pt_us >= c.ct_us AND p.pt_us <= c.ct_us + 3600000000))
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        |ORDER BY click_id, purchase_id""".stripMargin,

    // w26's CTEs + the purchase-side nulls: a purchase finalizes at
    // pt + delay <= mt (its candidate clicks all have ct <= pt), clicks
    // at ct + interval + delay <= mt; COALESCE ordering (engine-neutral
    // NULL placement)
    "w27_stream_full_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS ct_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pt_us
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT LEAST((SELECT MAX(ct_us) FROM c),
        |    (SELECT MAX(pt_us) FROM p)) AS mt),
        |matched AS (SELECT c.click_id, p.purchase_id, c.user_id,
        |    p.pt_us - c.ct_us AS lag_us
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.pt_us >= c.ct_us AND p.pt_us <= c.ct_us + 3600000000),
        |un_c AS (SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
        |    c.user_id, CAST(NULL AS BIGINT) AS lag_us
        |  FROM c, mx
        |  WHERE c.ct_us + 7200000000 <= mx.mt
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |      AND p.pt_us >= c.ct_us AND p.pt_us <= c.ct_us + 3600000000)),
        |un_p AS (SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
        |    p.user_id, CAST(NULL AS BIGINT) AS lag_us
        |  FROM p, mx
        |  WHERE p.pt_us + 3600000000 <= mx.mt
        |    AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
        |      AND p.pt_us >= c.ct_us AND p.pt_us <= c.ct_us + 3600000000)),
        |allr AS (SELECT * FROM matched UNION ALL SELECT * FROM un_c
        |  UNION ALL SELECT * FROM un_p)
        |SELECT * FROM allr
        |ORDER BY COALESCE(click_id, 9223372036854775807),
        |  COALESCE(purchase_id, 9223372036854775807)""".stripMargin,

    // daily counts of the unioned event set, gated at the min-policy
    // global watermark: end <= LEAST(max ct - 30min, max pt - 2h)
    "w28_stream_union_min_watermark" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |mx AS (SELECT LEAST(
         |    (SELECT MAX(ts_us) - 1800000000 FROM e WHERE event_type = 'click'),
         |    (SELECT MAX(ts_us) - 7200000000 FROM e WHERE event_type = 'purchase'))
         |    AS wm),
         |dc AS (SELECT (ts_us // $DayUs) * $DayUs AS day_us, COUNT(*) AS n_events
         |  FROM e GROUP BY 1)
         |SELECT day_us, n_events FROM dc, mx
         |WHERE day_us + $DayUs <= mx.wm ORDER BY day_us""".stripMargin,

    // w7's join + daily rollup, gated at the probed STRICT chained
    // cutoff: end + interval(1h) + delay(1h) < min-over-streams max ts
    "w32_stream_join_then_agg" ->
      s"""WITH c AS (SELECT user_id, epoch_us(ts) AS ct_us
         |  FROM events WHERE event_type = 'click'),
         |p AS (SELECT user_id, epoch_us(ts) AS pt_us
         |  FROM events WHERE event_type = 'purchase'),
         |mx AS (SELECT LEAST((SELECT MAX(ct_us) FROM c),
         |    (SELECT MAX(pt_us) FROM p)) AS mt),
         |j AS (SELECT p.pt_us FROM c JOIN p ON c.user_id = p.user_id
         |  AND p.pt_us >= c.ct_us AND p.pt_us <= c.ct_us + 3600000000),
         |dc AS (SELECT (pt_us // $DayUs) * $DayUs AS day_us,
         |    CAST(COUNT(*) AS BIGINT) AS n_conversions
         |  FROM j GROUP BY 1)
         |SELECT day_us, n_conversions FROM dc, mx
         |WHERE day_us + $DayUs + 7200000000 < mx.mt
         |ORDER BY day_us""".stripMargin,

    // the shared frozen-index chain: streamed assignment == batch cells
    "w31_stream_ivf_ingest" ->
      s"""WITH ${ivfCellsSql(16, 5)}
         |SELECT id, cell FROM cells ORDER BY id""".stripMargin,

    // users idle >= 30min before log end (the probed non-strict floor-ms
    // timer cutoff), with their final per-key registers
    "w30_stream_idle_expiry" ->
      """WITH u AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |mx AS (SELECT MAX(epoch_us(ts)) // 1000 AS wm_ms FROM events)
        |SELECT user_id, last_us, n_events FROM u, mx
        |WHERE (last_us // 1000) + 1800000 <= wm_ms
        |ORDER BY user_id""".stripMargin,

    // complete-mode top-k == the batch top-k (total order, so the cut is
    // deterministic)
    "w29_stream_topk" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin,

    // the emitted key set ≡ batch DISTINCT (single-horizon replay)
    "w24_stream_dedup_within_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // interval-union sweep with the PER-ROW gap: a new session starts
    // strictly past the running max of (ts + gap) over earlier members
    // (touch merges — the probed session_window convention); session end
    // = max(ts + gap) over members
    "w25_stream_dynamic_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN event_type = 'purchase' THEN 1800000000
        |      ELSE 3600000000 END AS gap
        |  FROM events),
        |f AS (SELECT user_id, ts_us, event_id, gap,
        |    MAX(ts_us + gap) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |g AS (SELECT user_id, ts_us, event_id, gap,
        |    CASE WHEN prev_end IS NULL OR ts_us > prev_end THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM f),
        |s AS (SELECT user_id, ts_us, gap,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM g)
        |SELECT user_id, MIN(ts_us) AS session_start_us,
        |  MAX(ts_us + gap) AS session_end_us, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, seq
        |ORDER BY user_id, session_start_us""".stripMargin,

  )
}

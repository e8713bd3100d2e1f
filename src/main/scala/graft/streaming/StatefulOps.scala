package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expressions of the reference's stateful
  * per-key processing (reference: KVStore.getAndUpdate/updateAndGet,
  * core/.../state/KVStore.scala:118-129, KVStoreLocal.scala:413-464;
  * streaming loop GatewayStream.scala:165-238).
  *
  * The reference's per-key atomic read-modify-write maps 1:1 onto
  * `mapGroupsWithState`: Spark serializes state updates per key within a
  * micro-batch, which is exactly the per-key linearizability the reference
  * enforces with row locks (KVStoreLocal.scala:589-631) — no locks needed.
  * TTL (StateConf `ttl.sec`) maps to `GroupStateTimeout.ProcessingTimeTimeout`
  * / explicit timeout timestamps.
  */
object StatefulOps {

  /** The reference's `updateAndGet(key, f)` over a keyed stream:
    * `f: (Option[S], V) => Option[S]`; `None` result removes state (the
    * tombstone path). Emits (key, newState) on every change — the CDC push
    * (KVStoreLocal.push, R7/R8). */
  def updateAndGet[K, V, S](
      input: Dataset[(K, V)],
      f: (Option[S], V) => Option[S],
      ttlMs: Option[Long] = None)(
      implicit ke: Encoder[K], se: Encoder[S], oe: Encoder[(K, Option[S])],
      tupleEnc: Encoder[(K, V)]): Dataset[(K, Option[S])] = {
    val timeout =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    input
      .groupByKey(_._1)
      .mapGroupsWithState[S, (K, Option[S])](timeout) { (key, values, state) =>
        if (state.hasTimedOut) {
          state.remove()
          (key, None)
        } else {
          var cur: Option[S] = state.getOption
          values.foreach { case (_, v) => cur = f(cur, v) }
          cur match {
            case Some(s) =>
              state.update(s)
              ttlMs.foreach(state.setTimeoutDuration)
            case None => if (state.exists) state.remove()
          }
          (key, cur)
        }
      }
  }

  /** Canonical stateful word count (reference ExampleWordCount.scala:35-52):
    * running per-word counts, emitted on every update. */
  def runningWordCount(lines: Dataset[String]): Dataset[(String, Option[Long])] = {
    import lines.sparkSession.implicits._
    val words: Dataset[(String, String)] =
      lines.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty)).map(w => (w, w))
    updateAndGet[String, String, Long](words, (st, _) => Some(st.getOrElse(0L) + 1L))
  }

  /** Streaming first-seen-wins dedup — the reference's insert-if-absent
    * (P4 `insert`, KVStore.scala:107) lifted to a stream: the first record
    * per key is emitted, every later one is dropped. This is streaming
    * exact dedup when keyed by content hash (batch counterpart: Dedup.exact).
    * Within one micro-batch ties break by the supplied ordering, so output
    * is deterministic under replay. State per key is one boolean; bound it
    * for unbounded corpora with `ttlMs` (accepting re-emission after the
    * horizon — the same trade TTL'd stores make, P9). */
  def firstSeenOnly[K, V](
      input: Dataset[(K, V)],
      ttlMs: Option[Long] = None)(
      implicit ord: Ordering[V], ke: Encoder[K], oe: Encoder[(K, V)],
      be: Encoder[Boolean]): Dataset[(K, V)] = {
    val timeout =
      if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    input
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (K, V)](OutputMode.Append(), timeout) {
        (key, values, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists || values.isEmpty) {
            Iterator.empty
          } else {
            state.update(true)
            ttlMs.foreach(state.setTimeoutDuration)
            Iterator.single((key, values.map(_._2).min))
          }
      }
  }

  /** Streaming form of [[graft.operators.Analytics.rollingAnomalies]]:
    * per-key trailing-window anomaly monitor over an event stream. State
    * per key is the last `histRows` values (a bounded ring — never the
    * history); a row flags when `(n·x − S)² > k²·(n·Q − S²)` over that
    * ring, the SAME exact integer test as the batch operator (BigInt
    * intermediates here ≡ decimal(38,0) there), so batch and streaming
    * flags are bit-identical on identically-ordered input — asserted by
    * StreamingSpec. Rows inside one micro-batch are processed in
    * (tsUs, tieBreak) order; cross-batch order is the stream's arrival
    * order, as with every per-key monitor.
    *
    * Input (key, tsUs, tieBreak, value) → flagged (key, tsUs, tieBreak,
    * value, nHist). */
  def anomalyMonitor[K](
      input: Dataset[(K, Long, Long, Long)],
      histRows: Int = 20,
      minHist: Int = 8,
      k: Int = 3)(
      implicit ke: Encoder[K], se: Encoder[Seq[Long]],
      oe: Encoder[(K, Long, Long, Long, Long)]): Dataset[(K, Long, Long, Long, Long)] = {
    require(histRows >= minHist && minHist >= 1 && k >= 1,
      "need histRows >= minHist >= 1 and k >= 1")
    input
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Long], (K, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var hist: Vector[Long] = state.getOption.map(_.toVector).getOrElse(Vector.empty)
        val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long, Long, Long, Long)]
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
          val n = hist.size
          if (n >= minHist) {
            val s = hist.iterator.map(BigInt(_)).sum
            val q = hist.iterator.map(v => BigInt(v) * v).sum
            val dev = BigInt(n) * r._4 - s
            val varN2 = BigInt(n) * q - s * s
            if (dev * dev > BigInt(k.toLong * k) * varN2)
              out += ((key, r._2, r._3, r._4, n.toLong))
          }
          hist = (hist :+ r._4).takeRight(histRows)
        }
        state.update(hist)
        out.iterator
      }
  }

  /** Streaming form of [[graft.operators.Analytics.cusum]]: per-key
    * one-sided CUSUM monitor C = max(0, C + (x − target)) over an event
    * stream. State per key is THREE longs (C, its running max, alarm
    * count) — where the batch operator exploits the closed form
    * S − min(0, prefix-min S), the stream just runs the recurrence, and
    * the two are provably the same fold, so final (n, max_cusum,
    * n_alarms) per key are bit-identical on identically-ordered input —
    * asserted by StreamingSpec. Rows inside one micro-batch process in
    * (tsUs, tieBreak) order.
    *
    * Input (key, tsUs, tieBreak, value, target) → per-row alarms
    * (key, tsUs, tieBreak, cusum) for rows where C exceeds `threshold`. */
  def cusumMonitor[K](
      input: Dataset[(K, Long, Long, Long, Long)],
      threshold: Long)(
      implicit ke: Encoder[K], se: Encoder[(Long, Long, Long)],
      oe: Encoder[(K, Long, Long, Long)]): Dataset[(K, Long, Long, Long)] = {
    input
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (K, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var (c, mx, alarms) = state.getOption.getOrElse((0L, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long, Long, Long)]
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
          c = math.max(0L, c + (r._4 - r._5))
          mx = math.max(mx, c)
          if (c > threshold) { alarms += 1; out += ((key, r._2, r._3, c)) }
        }
        state.update((c, mx, alarms))
        out.iterator
      }
  }

  /** Streaming max-drawdown monitor — the streaming twin of the batch
    * q147 window pipeline (prefix-sum balance → prefix-max peak → deepest
    * gap). The whole computation is a 3-long register per key
    * (balance, peak, maxDrawdown); the batch windows fold the identical
    * recurrence, so on identically-ordered input the final registers are
    * bit-identical — asserted by StreamingSpec. Emits a row each time a
    * key's drawdown record DEEPENS (the alert stream), so output volume is
    * O(record improvements), not O(events).
    *
    * Input (key, tsUs, tieBreak, deltaCents) → (key, tsUs, tieBreak,
    * maxDrawdownCents) on record-deepening rows. */
  def drawdownMonitor[K](
      input: Dataset[(K, Long, Long, Long)])(
      implicit ke: Encoder[K], se: Encoder[(Long, Long, Long)],
      oe: Encoder[(K, Long, Long, Long)]): Dataset[(K, Long, Long, Long)] = {
    input
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (K, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var (bal, peak, maxdd) = state.getOption.getOrElse((0L, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long, Long, Long)]
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
          bal += r._4
          if (bal > peak) peak = bal
          val dd = peak - bal
          if (dd > maxdd) { maxdd = dd; out += ((key, r._2, r._3, maxdd)) }
        }
        state.update((bal, peak, maxdd))
        out.iterator
      }
  }

  /** Streaming clamp-at-zero getAndUpdate fold — the P6 RMW semantics run
    * as REAL per-key stream state (reference KVStore.getAndUpdate,
    * core/.../state/KVStore.scala:118-129): b ← max(0, b + Δ), one
    * 3-long register per key (balance, n_updates, n_clamped). The batch
    * counterpart ([[graft.operators.Analytics.clampedRunningFold]]) uses
    * the Lindley closed form S − min(0, prefix-min S); this runs the
    * recurrence itself, and the two are provably the same fold — which is
    * exactly what the w5 oracle gate asserts. Emits the register ONCE per
    * key per micro-batch; n_updates is strictly increasing across batches,
    * so the LAST emission per key (argmax n_updates) is the final state.
    *
    * Input (key, tsUs, tieBreak, deltaCents); rows are sorted in
    * (tsUs, tieBreak) order WITHIN each micro-batch only. Equality with a
    * globally-ordered oracle therefore requires the whole log to arrive in
    * ONE batch (the w5 gate asserts this via StreamRun's
    * assertSingleBatch); only the argmax-n sink dedup — not the fold — is
    * batching-independent. A multi-batch source whose batch boundaries
    * respect global (tsUs, tieBreak) order would also fold correctly, but
    * nothing here enforces that, so the gate pins the stronger form. */
  def clampedFoldMonitor[K](
      input: Dataset[(K, Long, Long, Long)])(
      implicit ke: Encoder[K], se: Encoder[(Long, Long, Long)],
      oe: Encoder[(K, Long, Long, Long)]): Dataset[(K, Long, Long, Long)] = {
    input
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (K, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var (bal, n, clamped) = state.getOption.getOrElse((0L, 0L, 0L))
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
          val next = bal + r._4
          if (next < 0L) { clamped += 1; bal = 0L } else bal = next
          n += 1
        }
        state.update((bal, n, clamped))
        Iterator.single((key, bal, n, clamped))
      }
  }

  /** TTL'd first-seen-only dedup — the PRODUCTION form of streaming
    * dedup state (reference: the at-least-once gateway loop suppresses
    * per-key re-emissions, GatewayStream.scala:165-238; TTL from StateConf
    * `ttl.sec`, KVStoreLocal.scala:413-464): an event emits iff its key
    * has no emission within the preceding `ttlUs` of EVENT time, i.e. the
    * greedy chain e₁ = min ts, eᵢ₊₁ = min { ts > eᵢ + ttl }. Unlike w3's
    * plain dropDuplicates the state is ONE long per key and a key's entry
    * is re-emittable after the TTL — state size is bounded by live keys,
    * not history, which is what makes the operator deployable on an
    * unbounded stream.
    *
    * Input (key, tsUs, tieBreak); rows are sorted by (tsUs, tieBreak)
    * WITHIN each micro-batch only, so oracle equality needs the whole log
    * in one batch (the w12 gate asserts it via StreamRun's
    * assertSingleBatch) — same precondition as [[clampedFoldMonitor]].
    * Emissions depend only on the SET of timestamps once the processing
    * order is globally sorted; ties on tsUs emit exactly once (strict
    * `>` test). */
  def firstSeenWithTtl[K](
      input: Dataset[(K, Long, Long)],
      ttlUs: Long)(
      implicit ke: Encoder[K], se: Encoder[Long],
      oe: Encoder[(K, Long)]): Dataset[(K, Long)] = {
    require(ttlUs > 0, "TTL must be positive")
    input
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (K, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var last = state.getOption
        val out = scala.collection.mutable.ArrayBuffer.empty[(K, Long)]
        rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
          if (last.forall(l => r._2 > l + ttlUs)) {
            out += ((key, r._2))
            last = Some(r._2)
          }
        }
        last.foreach(state.update)
        out.iterator
      }
  }

  /** Output-mode guidance mirroring the reference's at-least-once commit
    * loop (GatewayStream.scala:187-211): update mode + checkpointing. */
  val DefaultOutputMode: OutputMode = OutputMode.Update()
}

package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Streaming maintenance of the [[graft.operators.Sketches]] register
  * sketches — live cardinality / frequency / membership summaries over an
  * unbounded stream.
  *
  * CMS, Bloom and HLL registers need NO custom state at all: their merge
  * operators (sum, bit_or, max) are plain Spark aggregates, so the exact
  * batch register builders run unchanged on a streaming DataFrame in
  * update mode — Structured Streaming's state store IS the sketch. That is
  * the payoff of the registers-as-rows design: one code path, batch and
  * stream, bit-identical registers (asserted by StreamingSketchesSpec).
  *
  * KMV is the exception (a k-smallest SET is not a per-row aggregate), so
  * it gets a `mapGroupsWithState` op with the k-set as per-group state —
  * bounded at 8·k bytes per group.
  */
object StreamingSketches {

  /** Streaming KMV registers per group: state = the k smallest distinct
    * 60-bit hashes seen so far; emits `(group, n_updates, registers)` on
    * every change, `n_updates` strictly increasing so a sink can keep the
    * newest row per group (`max_by(registers, n_updates)`). Feed it
    * `(group, hash)` pairs — hash in the DataFrame domain with
    * [[graft.functions.GraftFunctions.md5Hash60]] so streamed registers
    * are bit-identical to [[graft.operators.Sketches.kmvRegisters]]. */
  def kmvRegisterStream(
      hashed: Dataset[(String, Long)],
      k: Int): Dataset[(String, Long, Seq[Long])] = {
    import hashed.sparkSession.implicits._
    require(k > 1, "KMV needs k > 1")
    hashed
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[Long]), (String, Long, Seq[Long])](
        GroupStateTimeout.NoTimeout()) { (group, values, state) =>
        val (n, regs) = state.getOption.getOrElse((0L, Seq.empty[Long]))
        val merged = (regs ++ values.map(_._2)).distinct.sorted.take(k)
        val next = (n + 1L, merged)
        state.update(next)
        (group, next._1, merged)
      }
  }

  /** The batch HLL register builder applied to a streaming frame — max
    * aggregation, runs in update mode as-is. */
  def hllRegisterStream(df: DataFrame, groupCol: String, valueCol: String, m: Int): DataFrame =
    Sketches.hllRegisters(df, Seq(groupCol), valueCol, m)

  /** The batch CMS register builder applied to a streaming frame — sum
    * aggregation, runs in update mode as-is. */
  def cmsRegisterStream(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame =
    Sketches.cmsBuild(df, col(keyCol), lit(1L), depth, width)

  /** The batch log-histogram quantile-sketch builder applied to a streaming
    * frame — count aggregation per (group, bucket), runs in update mode
    * as-is; quantile lookups run [[Sketches.logHistQuantiles]] over the
    * sunk registers. */
  def logHistRegisterStream(df: DataFrame, groupCol: String, valueCol: String, s: Int): DataFrame =
    Sketches.logHistSketch(df, Seq(groupCol), valueCol, s)
}

package graft.streaming

import graft.operators.GraphAlgorithms
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Incrementally-maintained connected components over a streamed edge
  * changelog.
  *
  * The reference maintains components transactionally per edge mutation
  * (examples/example-distributed-graph/.../GraphApi.scala:48-117 — BFS +
  * rewrite on every connect/disconnect). The Spark re-expression: edges
  * arrive as a changelog (src, dst, ts_us, tombstone); each micro-batch
  * folds them into the edge table through the bucketed writer's step
  * (last-writer-wins per undirected edge, tombstone = disconnect) and
  * recomputes components with the large-star/small-star algorithm into
  * the components table. Both tables are one-bucket [[BucketedStore]]s,
  * rewritten whole and committed each by its own manifest flip; a reader
  * resolves either with [[BucketedStore.read]]. Per-batch recompute is the
  * right batch trade: component merges are global (an edge can fuse two
  * giant components), so "incremental" means incremental *input*, with
  * output recomputed from the maintained edge state — exactly what the
  * reference's batch analytics view does after replaying its vertex/edge
  * log (AnalyticsSystemSpec.scala:64-101).
  */
object GraphStream {

  /** Canonicalize an undirected edge so (a,b) and (b,a) share a key. */
  private def canonical(df: DataFrame): DataFrame =
    df.withColumn("_src", least(col("src"), col("dst")))
      .withColumn("_dst", greatest(col("src"), col("dst")))
      .drop("src", "dst")
      .withColumnRenamed("_src", "src")
      .withColumnRenamed("_dst", "dst")

  /** Stream (src, dst, ts_us, tombstone) edge changes; maintain
    * `<root>/edges` (latest-per-edge, committed by
    * [[ChangelogStream.commitBatch]]) and `<root>/components` (vertex,
    * component), both one-bucket [[BucketedStore]]s. `tieBreakCols` orders
    * same-timestamp mutations of one edge (e.g. a log offset/sequence
    * column) — without it a connect + disconnect in the same timestamp unit
    * resolves arbitrarily across reruns. */
  def maintainComponents(
      edgeChangelog: DataFrame,
      root: String,
      checkpoint: String,
      tieBreakCols: Seq[String] = Nil): DataStreamWriter[Row] = {
    val spark = edgeChangelog.sparkSession
    val edgesPath = s"$root/edges"
    edgeChangelog.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one bucket: every batch rereads and rewrites the whole edge
        // table, as the global component recompute needs it anyway
        ChangelogStream.commitBatch(canonical(batch), batchId, Seq("src", "dst"),
          "ts_us", edgesPath, numBuckets = 1, tieBreakCols, index = None,
          stats = None, LocalFs, BucketCache.shared)
        // no table yet only when the batch was empty: no edges then
        val edges = BucketedStore.read(spark, edgesPath).getOrElse(canonical(batch))
        val live = graft.core.Changelog.dropTombstones(edges, "tombstone")
        BucketedStore.writeBuckets(GraphAlgorithms.connectedComponents(spark, live),
          lit(0), s"$root/components", Seq(0), batchId, arity = 1)
        ()
      }
  }
}

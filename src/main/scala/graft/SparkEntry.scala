package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one entry per implemented operator from SURVEY.md §2,
  * each paired with ANSI SQL the driver runs in DuckDB over the same parquet
  * tables.
  *
  * Determinism/parity conventions (both sides, see also scripts/check.py):
  *  - timestamps surface as epoch microseconds BIGINT, never raw timestamps;
  *  - double aggregates are per-value ×100/×10000 integer-quantized and
  *    summed as BIGINT (exact, order-independent), then divided once;
  *  - vector math uses ×1000 integer quantization (exact folds);
  *  - every result carries a total ORDER BY.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------
  // Queries — every operator of SURVEY §2 that is batch-expressible, plus
  // the LLM-pipeline operators (dedup/similarity/text/multimodal) —
  // aggregated from the per-domain registries in graft.queries (each
  // query sits next to its DuckDB oracle in its domain file).
  // ------------------------------------------------------------------
  type Query = (SparkSession, String) => DataFrame

  /** The one list of per-domain registries: (name, queries, oracles).
    * `queries`, `oracleSql`, DocTool and RegistryConsistencySpec all read
    * it, so a new registry is added here and nowhere else. */
  val registries: Seq[(String, Map[String, Query], Map[String, String])] = Seq(
    ("CoreQueries1", CoreQueries1.queries, CoreQueries1.oracles),
    ("CoreQueries2", CoreQueries2.queries, CoreQueries2.oracles),
    ("CoreQueries3", CoreQueries3.queries, CoreQueries3.oracles),
    ("TextQueries", TextQueries.queries, TextQueries.oracles),
    ("DedupQueries", DedupQueries.queries, DedupQueries.oracles),
    ("SimilarityQueries", SimilarityQueries.queries, SimilarityQueries.oracles),
    ("PipelineQueries", PipelineQueries.queries, PipelineQueries.oracles),
    ("StreamingQueries", StreamingQueries.queries, StreamingQueries.oracles))

  val queries: Map[String, Query] = registries.map(_._2).reduce(_ ++ _)

  def oracleSql: Map[String, String] = registries.map(_._3).reduce(_ ++ _)
}

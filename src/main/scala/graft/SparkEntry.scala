package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Analytics, FaunaParity}
import graft.operators.{AsOfJoin, Clustering, Dedup, EventWindows, FuzzyDedup, GraphOps, Multimodal, Similarity, TextAnalysis, TrainingPrep, TypedAggs}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by operator modules; every entry has a matching
  * DuckDB oracle (QueriesSmokeSpec pins that none is missing).
  */
object SparkEntry {
  private val modules: Seq[QueryModule] = Seq(
    Analytics,    // relational surface: scan/filter/agg/join/window/rollup/pivot/set-ops
    FaunaParity,  // reference operator semantics: epoch normalize, split, JSON tolerance
    EventWindows, // tumbling / session / sliding windows over events
    AsOfJoin,     // as-of (nearest-preceding) join via union + running window
    TypedAggs,    // typed Aggregator (UDAF surface): per-user type bitmask
    TrainingPrep, // stratified sampling, sequence packing, repetition score
    Dedup,        // exact / canonical / n-gram-Jaccard dedup
    FuzzyDedup,   // MinHash+LSH, SimHash, rolling hash, embedding near-dup
    TextAnalysis, // token stats, lang-id, quality scoring, tokenizers
    Similarity,   // brute-force cosine top-k + LSH-bucketed pair mining
    Clustering,   // distributed k-means (quantized-integer, oracle-exact)
    GraphOps,     // iterative PageRank over the interaction graph
    Multimodal    // binary media columns + per-partition decode plumbing
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    FaunaParity.epochNormalize(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap

  /** Dir-aware oracle renderings (see [[QueryModule.oraclesDynamic]]):
    * Verify resolves these against its target dir and overrides the static
    * [[oracleSql]] entry, so corpus-adaptive knobs (q61's LSH bits) stay in
    * oracle parity at any scale. */
  def oracleSqlDynamic: Map[String, (SparkSession, String) => String] =
    modules.flatMap(_.oraclesDynamic).toMap
}

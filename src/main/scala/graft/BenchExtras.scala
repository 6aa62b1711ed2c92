package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, FuzzyDedup}
import graft.queries.Analytics

/** Bench-only rows splitting BUILD from PROBE for the persisted-state
  * queries (q106 dedup index, q112 absorb, q124 bucketed join). The
  * registered queries pay their one-time layout/build cost inside the
  * gate on purpose (the oracle must see the end-to-end shape), which
  * means a PROBE-path regression hides inside build noise in the bench.
  * These rows make the steady-state cost visible on its own:
  *
  *  - `*b` rows time the build alone (fresh rebuild every rep — that IS
  *    the measured quantity);
  *  - `*p`/`*a` rows probe an index/table built ONCE per JVM outside any
  *    rep but the first (the first rep pays the lazy build; the bench's
  *    median-of-3 discards it, leaving pure probe walls).
  *
  * They are NOT part of the driver contract: no oracle (correctness of
  * the underlying operators is q106/q112/q124's job), excluded from the
  * stdout JSON line (which stays registry-only and inside its 1.9 KB
  * budget) — they land in `bench_detail.json` alongside everything else.
  *
  * q112a caveat, documented rather than hidden: absorb MUTATES the index,
  * so rep 1 absorbs the batch's genuinely-novel survivors and later reps
  * re-screen an already-absorbed batch (all dups, empty appends). The
  * median therefore measures the steady-state "seen batch" probe+append
  * machinery — delta-sized either way, which is what the row exists to
  * watch. */
object BenchExtras {

  private val built = scala.collection.mutable.Set[String]()
  private def ensure(key: String)(build: => Unit): Unit =
    synchronized { if (!built(key)) { build; built += key } }

  private def docs(s: SparkSession, dir: String) = Tables.documentsDistributed(s, dir)
  private def baseSplit(s: SparkSession, dir: String)  =
    docs(s, dir).filter(col("doc_id") % FuzzyDedup.DeltaMod < 8)
  private def deltaSplit(s: SparkSession, dir: String) =
    docs(s, dir).filter(col("doc_id") % FuzzyDedup.DeltaMod >= 8)

  /** One row the bench can `.count()` after an eager side effect. */
  private def done(s: SparkSession): DataFrame = s.range(1).toDF("ok")

  def indexBuild(s: SparkSession, dir: String): DataFrame = {
    DedupIndex.build(baseSplit(s, dir), "graft_dedup_idx_bb")
    done(s)
  }

  def indexProbe(s: SparkSession, dir: String): DataFrame = {
    ensure(s"idxp:$dir") { DedupIndex.build(baseSplit(s, dir), "graft_dedup_idx_bp") }
    DedupIndex.probe(s, deltaSplit(s, dir), "graft_dedup_idx_bp")
  }

  def indexAbsorb(s: SparkSession, dir: String): DataFrame = {
    ensure(s"idxa:$dir") { DedupIndex.build(baseSplit(s, dir), "graft_dedup_idx_ba") }
    DedupIndex.probeAndAbsorb(
      s, docs(s, dir).filter(col("doc_id") % FuzzyDedup.DeltaMod === 9), "graft_dedup_idx_ba")
  }

  /** q38 phase split: inside the composed operator (mine → CC → group),
    * doc-block mining dominates the wall with ±20–30% per-rep variance, so
    * the pair STORE's per-round scan cost is invisible in end-to-end
    * medians. `q38m` times mining+packing alone (fresh store per rep);
    * `q38c` runs the CC rounds + cluster grouping over a packed store built
    * once per JVM, so its median is the store's round cost with mining
    * variance excluded by construction. */
  private val ccPacked = scala.collection.mutable.Map[String, FuzzyDedup.PackedPairStore]()

  private def minedPairs(s: SparkSession, dir: String): DataFrame =
    FuzzyDedup.minhashLsh(s, dir).select("id_a", "id_b")

  private def ccToClusters(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"), max(col("node")).as("max_doc_id"))

  def miningPack(s: SparkSession, dir: String): DataFrame = {
    val store = FuzzyDedup.packPairStore(minedPairs(s, dir))
    store.unpersist()
    done(s)
  }

  def ccPackedRounds(s: SparkSession, dir: String): DataFrame = {
    val store = synchronized(
      ccPacked.getOrElseUpdate(dir, FuzzyDedup.packPairStore(minedPairs(s, dir))))
    ccToClusters(FuzzyDedup.ccLoop(store.edges)._1)
  }

  def layoutBuild(s: SparkSession, dir: String): DataFrame = {
    Analytics.bucketedLayoutBuild(s, dir, "g124b")
    done(s)
  }

  def bucketedProbe(s: SparkSession, dir: String): DataFrame = {
    ensure(s"g124p:$dir") { Analytics.bucketedLayoutBuild(s, dir, "g124p") }
    Analytics.bucketedJoinProbe(s, "g124p")
  }

  /** Release a split row's per-JVM cached store once the bench is done
    * with that row: a full-registry run at scale corpora must not retain
    * q38c's packed chunks across the rest of the gate (SCALING.md records
    * the 100× exit-52 OOM that retention caused in q38m). Called by the
    * bench after each row's reps complete; re-running the row just
    * rebuilds. Idempotent; a no-op for rows with no cached store. */
  def releaseAfter(name: String): Unit = synchronized {
    if (name.startsWith("q38c")) { ccPacked.values.foreach(_.unpersist()); ccPacked.clear() }
  }

  /** Short keys stay collision-free against the registry's qNN keys. */
  val rows: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q106b_index_build"    -> (indexBuild _),
    "q106p_index_probe"    -> (indexProbe _),
    "q112a_index_absorb"   -> (indexAbsorb _),
    "q124b_layout_build"   -> (layoutBuild _),
    "q124p_bucketed_probe" -> (bucketedProbe _),
    "q38m_mining_pack"     -> (miningPack _),
    "q38c_cc_packed"       -> (ccPackedRounds _)
  )
}

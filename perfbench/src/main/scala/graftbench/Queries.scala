package graftbench

import org.apache.spark.sql.SparkSession

import graft.{QueryModule, SparkEntry}
import graft.operators._
import graft.queries.{Analytics, FaunaParity}

/** The query workloads' calls into graft, each timed from outside:
  * construction is the registered builder call (with any eager jobs it
  * runs), planning is `queryExecution.executedPlan`, execution is the final
  * action over the physical plan. */
object Queries {

  /** graft's registering modules, by the name the per-layer metrics use. */
  private val Modules: Seq[(String, QueryModule)] = Seq(
    "Analytics" -> Analytics, "FaunaParity" -> FaunaParity, "EventWindows" -> EventWindows,
    "AsOfJoin" -> AsOfJoin, "TypedAggs" -> TypedAggs, "TrainingPrep" -> TrainingPrep,
    "Dedup" -> Dedup, "FuzzyDedup" -> FuzzyDedup, "TextAnalysis" -> TextAnalysis,
    "Similarity" -> Similarity, "Clustering" -> Clustering, "GraphOps" -> GraphOps,
    "Multimodal" -> Multimodal)

  private lazy val registry = SparkEntry.queries
  private lazy val moduleOf: Map[String, String] =
    Modules.flatMap { case (n, m) => m.queries.keys.map(_ -> n) }.toMap

  /** Runs one query; the cold pass also digests its rows. */
  def run(spark: SparkSession, dir: String, name: String, digest: Boolean): Map[String, Any] = {
    val fn = registry.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))
    val ts = Array.fill(4)(0L)
    val gc = Array.fill(4)(0L)
    val ns = Array.fill(4)(0L)
    def mark(i: Int): Unit = { ts(i) = Clock.nowUs(); gc(i) = Clock.gcMs(); ns(i) = System.nanoTime() }
    var rows  = -1L
    var dig: String = null
    var error: String = null
    mark(0)
    var reached = 0
    try {
      val df = fn(spark, dir)
      mark(1); reached = 1
      val qe = df.queryExecution
      qe.executedPlan
      mark(2); reached = 2
      if (digest) { val (n, d) = Digest.of(qe); rows = n; dig = d }
      else rows = qe.toRdd.count()
      mark(3); reached = 3
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        (reached + 1 to 3).foreach(mark)
    }
    Map(
      "name" -> name, "module" -> moduleOf(name), "rows" -> rows, "digest" -> dig, "error" -> error,
      "t_us" -> ts.toSeq, "gc_ms" -> gc.toSeq,
      "construct_s" -> (ns(1) - ns(0)) / 1e9, "plan_s" -> (ns(2) - ns(1)) / 1e9,
      "exec_s" -> (ns(3) - ns(2)) / 1e9, "wall_s" -> (ns(3) - ns(0)) / 1e9)
  }
}

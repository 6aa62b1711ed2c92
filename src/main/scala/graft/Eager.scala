package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Every job a query builder runs before it returns its DataFrame goes
  * through here: checkpoints that truncate lineage, counts that size a
  * plan, bounded collects of a driver-side model, and the index writes
  * wrapped in [[phase]]. Each verb runs its job under a named phase, which
  * is the Spark job description: Bench's listener splits a row's
  * construction time by it, and a cluster's UI or event log shows the same
  * name next to the job.
  *
  * Checkpoints are `localCheckpoint`s, so the frame handed over must be
  * corpus-skinny (ids, counts, hashed longs): its blocks live in executor
  * memory until the frame is released, and die with their executor.
  */
object Eager {

  private val DescriptionKey = "spark.job.description"

  /** Runs `body` with `name` as the job description of every job it
    * starts, including jobs on threads it creates, and restores the
    * caller's description on exit, also when `body` throws. */
  def phase[A](name: String)(body: => A): A = {
    val sc   = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(DescriptionKey)
    sc.setLocalProperty(DescriptionKey, name)
    try body
    finally sc.setLocalProperty(DescriptionKey, prev)
  }

  /** `df` checkpointed locally: the job runs now when `eager`, otherwise
    * with the first action over the result. */
  def materialize(df: DataFrame, name: String, eager: Boolean = true): DataFrame =
    phase(name)(df.localCheckpoint(eager))

  def count(df: DataFrame, name: String): Long = phase(name)(df.count())

  def count(rdd: RDD[_], name: String): Long = phase(name)(rdd.count())

  /** `df`'s rows, failing when there are more than `maxRows`. The rows come
    * from a plain `collect()`, so this starts exactly the jobs that does: a
    * `limit(maxRows + 1)` would plan a CollectLimit, whose incremental
    * take can start several jobs over an aggregate's partitions. */
  def collect(df: DataFrame, maxRows: Int, name: String): Array[Row] = {
    val rows = phase(name)(df.collect())
    if (rows.length > maxRows)
      throw new IllegalStateException(s"$name collected ${rows.length} rows, above its bound of $maxRows")
    rows
  }
}

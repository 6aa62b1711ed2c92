package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Eager]]'s contract: a bounded collect that fails loudly above its
  * bound and starts no job a plain collect would not, and a phase name on
  * every job it runs, with the caller's job description restored after. */
class EagerSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)

  /** Job descriptions of the jobs `body` starts, in start order. */
  private def jobsOf(body: => Any): Seq[String] = {
    val sc   = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    GraftSparkBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; GraftSparkBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("collect returns the rows at its bound and throws one row above it, naming the phase and the bound") {
    val df = spark.range(5).toDF("id")
    assert(Eager.collect(df, 5, "eagerSpec.atBound").map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    val e = intercept[IllegalStateException](Eager.collect(df, 4, "eagerSpec.overBound"))
    assert(e.getMessage.contains("eagerSpec.overBound") && e.getMessage.contains("bound of 4"), e.getMessage)
  }

  test("collect starts as many jobs as a plain collect on an aggregate and a top-n frame, and as head() on a global aggregate") {
    // a fresh frame per run: a second action on one Dataset reuses its
    // materialized shuffle stages and would start fewer jobs
    def grouped(): DataFrame = spark.range(0, 1000, 1, 8).groupBy((col("id") % 7).as("k")).agg(sum("id"))
    def topN(): DataFrame    = spark.range(0, 1000, 1, 8).toDF().orderBy(col("id").desc).limit(5)
    def total(): DataFrame   = spark.range(0, 1000, 1, 8).agg(sum("id"))
    // the aggregate keeps its shuffle partitions, as a large one would: a
    // take that scans them incrementally then needs more than one job
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val before   = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      val plainGrouped = jobsOf(grouped().collect()).size
      val plainTop     = jobsOf(topN().collect()).size
      val plainHead    = jobsOf(total().head()).size
      assert(plainGrouped > 0 && plainTop > 0 && plainHead > 0)
      assert(jobsOf(Eager.collect(grouped(), 7, "eagerSpec.grouped")).size == plainGrouped)
      assert(jobsOf(Eager.collect(topN(), 5, "eagerSpec.topN")).size == plainTop)
      assert(jobsOf(Eager.collect(total(), 1, "eagerSpec.total")).size == plainHead)
    } finally spark.conf.set(coalesce, before)
  }

  test("every job of materialize, count and collect carries the phase name; the caller's description is restored") {
    val sc = spark.sparkContext
    val df = spark.range(0, 100, 1, 4).groupBy((col("id") % 3).as("k")).count()
    sc.setJobDescription("caller")
    try {
      val materialized = jobsOf(Eager.materialize(df, "eagerSpec.materialize"))
      val counted      = jobsOf(Eager.count(df, "eagerSpec.count"))
      val collected    = jobsOf(Eager.collect(df, 3, "eagerSpec.collect"))
      for ((jobs, phase) <- Seq(
          materialized -> "eagerSpec.materialize", counted -> "eagerSpec.count", collected -> "eagerSpec.collect")) {
        assert(jobs.nonEmpty, phase)
        assert(jobs.forall(_ == phase), (phase, jobs))
      }
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      intercept[ArithmeticException](Eager.phase("eagerSpec.throws")(1 / 0))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(jobsOf(spark.range(3).count()).forall(_ == "caller"))
    } finally sc.setJobDescription(null)
    // with no description of the caller's, none is left behind
    Eager.phase("eagerSpec.unset")(())
    assert(sc.getLocalProperty("spark.job.description") == null)
  }
}

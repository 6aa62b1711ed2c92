package graft.etl

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.HttpBatchSink
import graft.sources.{AnimalsJson, HttpTimeouts, HttpTransport, RestEnrich, RetryingHttpClient, RetryPolicy}

/** The reference's full E-T-L composed Spark-first
  * (`/root/reference/src/animals_etl/cli.py:40-43`): paginated scan →
  * keyed-lookup enrichment → transform → batched POST. Unlike the
  * reference's four materialization barriers, the whole run is one
  * pipelined narrow plan and one job, started by the sink action: pages are
  * dealt to at most one task per slot, each with 2 page GETs in flight;
  * lookups keep `concurrency` in flight over a narrow coalesce of those
  * tasks; each task POSTs its batches in order from one sender thread. Every
  * request, page GETs and POSTs included, runs on a pool thread of
  * [[RestEnrich.inFlight]], so a request sleeping in backoff holds only its
  * own thread. Every REST stage builds its clients from the run's one
  * [[RetryPolicy]] and [[HttpTimeouts]], as the reference's CLI does with
  * its one client.
  */
object AnimalsPipeline {

  final case class Result(postedBatches: Long)

  private val ListingSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("born_at", LongType, nullable = true)
  ))

  def pagePath(page: Int): String = s"/animals/v1/animals?page=$page"

  /** The paginated listing scan (S1, the reference's
    * `src/animals_etl/pipeline.py:8-29`). When the first action runs, the
    * driver GETs page 1 to learn `total_pages` (pipeline.py:13-14's "first
    * page sync"), once per listing. The pages are dealt round-robin to
    * `min(total_pages, defaultParallelism)` partitions; each task GETs its
    * pages with 2 in flight (the semaphore analog, R5) and yields their rows
    * in completion order, so one page in backoff does not stop the task's
    * other pages. Every action re-reads every page, page 1 included. */
  def listed(
      spark: SparkSession,
      transportClass: String,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): DataFrame = {
    val newClient = () => new RetryingHttpClient(HttpTransport.byName(transportClass), policy, timeouts)
    GraftBridge.internalCreateDataFrame(spark, new PageRDD(spark.sparkContext, newClient), ListingSchema)
  }

  def run(
      spark: SparkSession,
      transportClass: String,
      asOf: Column,
      concurrency: Int = 8,
      batchSize: Int = 100,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): Result = {
    val ids         = listed(spark, transportClass, policy, timeouts)
    val details     = RestEnrich.details(ids, transportClass, concurrency, policy, timeouts)
    val transformed = AnimalsTransform.transform(details, asOf)
    Result(HttpBatchSink.post(transformed, transportClass, batchSize, policy, timeouts))
  }

  /** Env/CLI-configured entry point — the reference's `cli.py` run shape. */
  def run(spark: SparkSession, transportClass: String, asOf: Column, config: EtlConfig): Result =
    run(spark, transportClass, asOf, config.concurrency, config.batchSize, config.policy, config.timeouts)

  /** Listing rows ([[listed]]). Spark asks an RDD for its partitions once,
    * so the page-1 probe runs once per listing, and only when an action
    * first needs it; it keeps a floor of one page. Rows are built as
    * InternalRows, so tasks need no Row encoder. */
  private final class PageRDD(sc: SparkContext, newClient: () => RetryingHttpClient)
      extends RDD[InternalRow](sc, Nil) {
    override protected def getPartitions: Array[Partition] = {
      val pages = math.max(1, AnimalsJson.parsePage(newClient().get(pagePath(1)).body).totalPages)
      val n     = math.min(pages, sparkContext.defaultParallelism)
      Array.tabulate[Partition](n)(i => PagePartition(i, (i + 1) to pages by n))
    }

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val pages = split.asInstanceOf[PagePartition].pages.iterator
      RestEnrich.inFlight("page", 2, newClient, pages)((client, page) => client.get(pagePath(page)).body).flatMap {
        case (_, body) =>
          AnimalsJson.parsePage(body).items.iterator
            .map(a => InternalRow(a.id, UTF8String.fromString(a.name), a.bornAt.map(Long.box).orNull))
      }
    }
  }

  private final case class PagePartition(index: Int, pages: Range) extends Partition
}

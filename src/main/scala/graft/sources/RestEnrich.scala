package graft.sources

import java.util.concurrent.{Callable, ExecutorCompletionService, ExecutorService, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.annotation.tailrec
import scala.util.Try

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Keyed point-lookup fan-out (S2,
  * `/root/reference/src/animals_etl/pipeline.py:31-55`): enrich an id column
  * by concurrent per-key GETs.
  *
  * Spark mapping: the reference's semaphore (R5) bounds in-flight lookups to
  * `concurrency`, and so does this stage, whatever the number of task slots.
  * The ids are repartitioned to `k = min(concurrency, defaultParallelism)`
  * partitions; each task keeps its share of `concurrency` in flight on a
  * per-task pool of daemon threads (one [[RetryingHttpClient]] per thread, so
  * transports need not be thread-safe) and emits results in completion
  * order, so a lookup sleeping in backoff does not hold up the others. Pool
  * threads only do the HTTP exchange; parsing and row building stay on the
  * task thread. Failed lookups are logged and dropped (P2), matching the
  * reference's error-tolerant semantics; the scan stays pipelined (no
  * barrier).
  */
object RestEnrich {

  val DetailSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("friends", StringType, nullable = true),
    StructField("born_at", LongType, nullable = true)
  ))

  /** Name prefix of the lookup pool threads. */
  val PoolThreadPrefix = "graft-enrich"

  def detailPath(id: Long): String = s"/animals/v1/animals/$id"

  /** In-flight lookups partition `partition` of `k` keeps: `concurrency`
    * split as evenly as it goes, so the shares sum to `concurrency`. */
  def share(concurrency: Int, k: Int, partition: Int): Int =
    concurrency / k + (if (partition < concurrency % k) 1 else 0)

  /** ids: any DataFrame with a LONG `id` column → detail records, failures
    * dropped. `parallelism` bounds in-flight lookups across the job
    * (reference `--concurrency`). */
  def details(
      ids: DataFrame,
      transportClass: String,
      parallelism: Int = 8,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): DataFrame = {
    val spark       = ids.sparkSession
    val concurrency = math.max(1, parallelism)
    val k           = math.min(concurrency, spark.sparkContext.defaultParallelism)
    // RDD mapPartitions: genuine per-partition imperative logic (a live
    // lookup pool per partition) — the one place RDDs beat Dataset ops.
    val rdd = ids
      .select("id")
      .repartition(k)
      .rdd
      .mapPartitionsWithIndex { (part, rows) =>
        val pool = new LookupPool(share(concurrency, k, part),
          () => new RetryingHttpClient(HttpTransport.byName(transportClass), policy, timeouts))
        var done = 0L
        pool.lookups(rows.map(_.getLong(0))).flatMap { case (id, body) =>
          val res =
            try {
              AnimalsJson
                .parseDetail(body.get)
                .map(d => Row(d.id, d.name, d.friends.orNull, d.bornAt.map(Long.box).orNull))
            } catch {
              case scala.util.control.NonFatal(e) =>
                // reference logs and drops the row (pipeline.py:39-43)
                System.err.println(s"[warn] get_animal($id) failed: ${e.getMessage}")
                None
            }
          // progress cadence parity (pipeline.py:53-54): every 100 lookups,
          // per partition (each partition runs its share of the lookups)
          done += 1
          if (done % 100 == 0)
            System.err.println(s"[progress] partition $part fetched $done details…")
          res
        }
      }
    spark.createDataFrame(rdd, DetailSchema)
  }

  /** A task's lookup pool: `width` daemon threads, each with its own client
    * from `newClient`. Shut down by a completion listener of the calling
    * task, so it ends with the task on success, failure or kill. */
  private final class LookupPool(width: Int, newClient: () => RetryingHttpClient) {
    private val ctx = TaskContext.get()
    private val pool: ExecutorService = Executors.newFixedThreadPool(width, new ThreadFactory {
      private val n = new AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$PoolThreadPrefix-${ctx.stageId()}.${ctx.partitionId()}-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
    private val client = ThreadLocal.withInitial[RetryingHttpClient](() => newClient())
    private val done   = new ExecutorCompletionService[(Long, Try[String])](pool)
    ctx.addTaskCompletionListener[Unit](_ => pool.shutdownNow())

    /** (id, response body or failure) for every id, in completion order.
      * Up to 2 × width ids are submitted ahead, so a thread that finishes
      * finds the next id queued even while the task thread is busy
      * downstream. */
    def lookups(ids: Iterator[Long]): Iterator[(Long, Try[String])] = new Iterator[(Long, Try[String])] {
      private var pending = 0

      private def fill(): Unit =
        while (pending < 2 * width && ids.hasNext) {
          val id = ids.next()
          done.submit(new Callable[(Long, Try[String])] {
            def call(): (Long, Try[String]) = id -> Try(client.get().get(detailPath(id)).body)
          })
          pending += 1
        }

      def hasNext: Boolean = { fill(); pending > 0 }

      def next(): (Long, Try[String]) = {
        if (!hasNext) throw new NoSuchElementException("no more lookups")
        pending -= 1
        await()
      }

      // Polls rather than blocks, so a killed task stops waiting even when
      // the kill does not interrupt its thread.
      @tailrec private def await(): (Long, Try[String]) = {
        if (ctx.isInterrupted()) throw new TaskKilledException("lookup wait interrupted")
        val f = done.poll(100, TimeUnit.MILLISECONDS)
        if (f == null) await() else f.get()
      }
    }
  }
}

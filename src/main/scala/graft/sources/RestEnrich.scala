package graft.sources

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, ExecutorService, Executors, Future, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.annotation.tailrec
import scala.util.Try

import org.apache.spark.{Partition, TaskContext, TaskKilledException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Keyed point-lookup fan-out (S2,
  * `/root/reference/src/animals_etl/pipeline.py:31-55`): enrich an id column
  * by concurrent per-key GETs.
  *
  * Spark mapping: the reference's semaphore (R5) bounds in-flight lookups to
  * `concurrency`, and so does this stage, whatever the number of task slots.
  * The ids are coalesced (narrow, no shuffle) to at most
  * `k = min(concurrency, defaultParallelism)` partitions; `concurrency` is
  * split into shares over the partitions the coalesce yields, and each task
  * keeps its share in flight through [[inFlight]] and emits results in
  * completion order, so a lookup sleeping in backoff does not hold up the
  * others. Pool threads only do the HTTP exchange; parsing and row building
  * stay on the task thread. Failed lookups are logged and dropped (P2),
  * matching the reference's error-tolerant semantics. The stage pipelines
  * with the scan before it and the sink after it: a run is one job with no
  * Exchange.
  */
object RestEnrich {

  val DetailSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("friends", StringType, nullable = true),
    StructField("born_at", LongType, nullable = true)
  ))

  /** Name prefix of every [[inFlight]] pool thread: page GETs, lookups and
    * POSTs. The stage label follows it, so each REST stage's threads are
    * told apart. */
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
    val newClient   = () => new RetryingHttpClient(HttpTransport.byName(transportClass), policy, timeouts)
    val idRows      = ids.select("id").coalesce(k).queryExecution.toRdd
    GraftBridge.internalCreateDataFrame(spark, new LookupRDD(idRows, concurrency, newClient), DetailSchema)
  }

  /** The lookups over the coalesced ids, one task per id partition. Each
    * partition carries its share of `concurrency`, computed when Spark first
    * asks for partitions, so building the stage sends no request. Rows are
    * built as InternalRows, so tasks need no Row encoder. */
  private final class LookupRDD(idRows: RDD[InternalRow], concurrency: Int, newClient: () => RetryingHttpClient)
      extends RDD[InternalRow](idRows) {
    override protected def getPartitions: Array[Partition] = {
      val parts = firstParent[InternalRow].partitions
      parts.map(p => SharePartition(p, share(concurrency, parts.length, p.index)))
    }

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val part = split.asInstanceOf[SharePartition]
      val ids  = firstParent[InternalRow].iterator(part.parent, context).map(_.getLong(0))
      var done = 0L
      inFlight("lookup", part.width, newClient, ids)((client, id) => Try(client.get(detailPath(id)).body)).flatMap {
        case (id, body) =>
          val res =
            try {
              AnimalsJson
                .parseDetail(body.get)
                .map(d => InternalRow(d.id, UTF8String.fromString(d.name),
                  d.friends.map(UTF8String.fromString).orNull, d.bornAt.map(Long.box).orNull))
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
            System.err.println(s"[progress] partition ${part.index} fetched $done details…")
          res
      }
    }
  }

  private final case class SharePartition(parent: Partition, width: Int) extends Partition {
    override def index: Int = parent.index
  }

  /** The REST stages' one in-flight primitive: `request` for every key, up
    * to `width` at a time, on `width` daemon threads of the calling task
    * named `graft-enrich-<label>-<stage>.<partition>-<n>`,
    * each with its own client from `newClient` (so transports need not be
    * thread-safe). Up to 2 × width calls are submitted ahead, so a thread
    * that finishes finds the next key queued even while the task thread is
    * busy downstream, and a call sleeping in backoff holds only its own
    * thread. Yields (key, result) in completion order, which at width 1 is
    * key order. The first request that throws fails the iterator with its
    * own exception, and no request starts after it. The pool is shut down by
    * a completion listener of the calling task, so it ends with the task on
    * success, failure or kill. */
  private[graft] def inFlight[K, R](
      label: String, width: Int, newClient: () => RetryingHttpClient, keys: Iterator[K])(
      request: (RetryingHttpClient, K) => R): Iterator[(K, R)] = new Iterator[(K, R)] {
    private val ctx = TaskContext.get()
    private val pool: ExecutorService = Executors.newFixedThreadPool(width, new ThreadFactory {
      private val n = new AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"$PoolThreadPrefix-$label-${ctx.stageId()}.${ctx.partitionId()}-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
    private val client  = ThreadLocal.withInitial[RetryingHttpClient](() => newClient())
    private val done    = new ExecutorCompletionService[(K, R)](pool)
    private val failure = new AtomicReference[Throwable]
    private var pending = 0
    ctx.addTaskCompletionListener[Unit](_ => pool.shutdownNow())

    private def fill(): Unit =
      while (pending < 2 * width && keys.hasNext) {
        val key = keys.next()
        done.submit(new Callable[(K, R)] {
          def call(): (K, R) = {
            if (failure.get != null) throw failure.get
            try key -> request(client.get(), key)
            catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
          }
        })
        pending += 1
      }

    def hasNext: Boolean = { fill(); pending > 0 }

    def next(): (K, R) = {
      if (!hasNext) throw new NoSuchElementException("no more calls")
      pending -= 1
      try await().get()
      catch { case _: ExecutionException => throw failure.get }
    }

    // Polls rather than blocks, so a killed task stops waiting even when
    // the kill does not interrupt its thread.
    @tailrec private def await(): Future[(K, R)] = {
      if (ctx.isInterrupted()) throw new TaskKilledException("in-flight wait interrupted")
      val f = done.poll(100, TimeUnit.MILLISECONDS)
      if (f == null) await() else f
    }
  }
}

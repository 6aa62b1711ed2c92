package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{AnimalsJson, HttpTimeouts, HttpTransport, RestEnrich, RetryingHttpClient, RetryPolicy}

/** Batched HTTP POST sink (K1,
  * `/root/reference/src/animals_etl/pipeline.py:88-99`):
  *
  *  - batch size clamped to [1, 100] exactly as the reference does;
  *  - records serialized with `to_json(..., ignoreNullFields=true)` so an
  *    invalid `born_at` is *key-omitted*, not null — the reference's output
  *    contract (pipeline.py:78-79, SURVEY.md §1.4);
  *  - POSTs run per partition through the retrying client (R1-R4), in
  *    order, one at a time, from one sender thread of
  *    [[graft.sources.RestEnrich.inFlight]] at width 1: a batch is sent only
  *    after the one before it is acknowledged, and none after a failed one.
  *    While a POST is in flight or backing off, the task thread builds the
  *    next batch, so the lookups upstream keep running. Across partitions
  *    POSTs parallelize — the reference POSTs sequentially, so
  *    `df.coalesce(1)` reproduces that exactly when ordering matters;
  *  - at-least-once: Spark task retries can re-POST a partition's batches
  *    (the reference is not idempotent either — README.md:151-154 flags
  *    idempotency as future work). Callers needing exactly-once should
  *    deduplicate by record id server-side: a retried partition need not
  *    batch the same records, since lookups upstream emit in completion
  *    order ([[graft.sources.RestEnrich]]).
  *
  * Batches are counted on the task thread as they are acknowledged; a task
  * returns only after its last POST succeeds, and a failed POST fails the
  * task with its own exception. Returns the number of POSTed batches (via
  * accumulator).
  */
object HttpBatchSink {

  val HomePath = "/animals/v1/home"

  def clampBatchSize(requested: Int): Int = math.max(1, math.min(100, requested))

  def post(
      df: DataFrame,
      transportClass: String,
      batchSize: Int,
      policy: RetryPolicy,
      timeouts: HttpTimeouts
  ): Long = {
    val size     = clampBatchSize(batchSize)
    val batches  = df.sparkSession.sparkContext.longAccumulator("posted_batches")
    val records  = df.sparkSession.sparkContext.longAccumulator("posted_records")
    val jsonRows = df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*), java.util.Map.of("ignoreNullFields", "true")))
    jsonRows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val newClient = () => new RetryingHttpClient(HttpTransport.byName(transportClass), policy, timeouts)
      // the K1 array-envelope contract lives in ONE place (AnimalsJson)
      val groups = it.map(_.getString(0)).grouped(size).map(g => g.size -> AnimalsJson.toJsonBatch(g))
      RestEnrich.inFlight("post", 1, newClient, groups)((client, batch) => client.post(HomePath, batch._2)).foreach {
        case ((n, _), _) => batches.add(1); records.add(n)
      }
    }
    batches.value
  }
}

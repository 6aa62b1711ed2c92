package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{HttpTimeouts, HttpTransport, RetryingHttpClient, RetryPolicy}

/** Batched HTTP POST sink (K1,
  * `/root/reference/src/animals_etl/pipeline.py:88-99`):
  *
  *  - batch size clamped to [1, 100] exactly as the reference does;
  *  - records serialized with `to_json(..., ignoreNullFields=true)` so an
  *    invalid `born_at` is *key-omitted*, not null — the reference's output
  *    contract (pipeline.py:78-79, SURVEY.md §1.4);
  *  - POSTs run per partition through the retrying client (R1-R4); across
  *    partitions they parallelize — the reference POSTs sequentially, so
  *    `df.coalesce(1)` reproduces that exactly when ordering matters;
  *  - at-least-once: Spark task retries can re-POST a partition's batches
  *    (the reference is not idempotent either — README.md:151-154 flags
  *    idempotency as future work). Callers needing exactly-once should
  *    deduplicate by record id server-side: a retried partition need not
  *    batch the same records, since lookups upstream emit in completion
  *    order ([[graft.sources.RestEnrich]]).
  *
  * Returns the number of POSTed batches (via accumulator).
  */
object HttpBatchSink {

  val HomePath = "/animals/v1/home"

  def clampBatchSize(requested: Int): Int = math.max(1, math.min(100, requested))

  def post(
      df: DataFrame,
      transportClass: String,
      batchSize: Int = 100,
      policy: RetryPolicy = RetryPolicy(),
      timeouts: HttpTimeouts = HttpTimeouts()
  ): Long = {
    val size     = clampBatchSize(batchSize)
    val batches  = df.sparkSession.sparkContext.longAccumulator("posted_batches")
    val records  = df.sparkSession.sparkContext.longAccumulator("posted_records")
    val jsonRows = df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*), java.util.Map.of("ignoreNullFields", "true")))
    jsonRows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val client = new RetryingHttpClient(HttpTransport.byName(transportClass), policy, timeouts)
      it.map(_.getString(0)).grouped(size).foreach { group =>
        // the K1 array-envelope contract lives in ONE place (AnimalsJson)
        client.post(HomePath, graft.sources.AnimalsJson.toJsonBatch(group))
        batches.add(1)
        records.add(group.size)
      }
    }
    batches.value
  }
}

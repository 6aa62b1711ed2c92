package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Num

/** Structured Streaming surface over the `events` stream: batch q25's
  * tumbling-window aggregation (`graft.operators.EventWindows`) run with
  * `readStream` + a watermark — Spark guarantees batch/stream semantic
  * parity for `window`, and `StreamingSpec` asserts it on the test data.
  *
  * State design for scale: the watermark bounds state (late data beyond
  * 1 hour is dropped), so a window's state is evicted once it closes.
  */
object EventStream {

  /** File-based event stream from a directory of parquet (each new file is
    * a micro-batch — the standard replayable file source).
    * `maxFilesPerTrigger = Some(1)` forces one file per micro-batch, which
    * lets tests advance the watermark BETWEEN files and exercise the
    * late-data drop path (a single-batch run never drops anything).
    *
    * The file source needs an explicit schema; `ts` has shipped both as a
    * raw ns-epoch LONG (TIMESTAMP(NANOS) under nanosAsLong, part of the
    * GraftSession contract) and as TIMESTAMP(MICROS), so the schema is
    * probed from the files already present and the result normalized to the
    * engine's event shape by [[graft.Tables.normalizeEvents]] — identical to
    * the batch loader, which is what the batch/stream parity pins rely on.
    *
    * Empty-directory starts (the normal "stream up before the producer"
    * deployment) have nothing to probe: the probe's AnalysisException is
    * caught and the source falls back to [[DefaultFileSchema]] — or to the
    * caller's `schema` when supplied, which is also the mitigation for a
    * producer that flips physical `ts` type MID-stream (the probe pins
    * whichever type is present at setup; an explicit schema pins it to the
    * caller's contract instead). */
  def fromParquet(
      spark: SparkSession,
      path: String,
      maxFilesPerTrigger: Option[Int] = None,
      schema: Option[StructType] = None): DataFrame = {
    val fileSchema = schema.getOrElse {
      try spark.read.parquet(path).schema
      catch {
        // empty dir at stream start: begin with the generator's current
        // shape and wait for files rather than failing setup
        case _: org.apache.spark.sql.AnalysisException => DefaultFileSchema
      }
    }
    val reader = spark.readStream.schema(fileSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    graft.Tables.normalizeEvents(reader.parquet(path))
  }

  /** Physical shape the driver's generator currently emits
    * (TIMESTAMP(MICROS) `ts`); [[fromParquet]]'s empty-directory fallback.
    * [[graft.Tables.normalizeEvents]] dispatches on the actual type, so a
    * ns-LONG producer still normalizes correctly once files arrive under
    * an explicit ns schema. */
  val DefaultFileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Tumbling 1-hour counts with a 1-hour watermark — streaming equivalent
    * of the batch `q25_window_tumbling`. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Num.dsum(col("value"), Num.dec6).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value")
      )
}

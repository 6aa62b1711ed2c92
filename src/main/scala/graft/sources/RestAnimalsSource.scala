package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference's paginated listing scan
  * (S1, `/root/reference/src/animals_etl/pipeline.py:8-29`), Spark-first:
  *
  *  - the driver probes page 1 once per scan to learn `total_pages`
  *    (pipeline.py:13-14's "first page sync" step) and plans **one
  *    InputPartition per page** — pages then fetch in parallel across
  *    executors, one GET per running task, so in-flight page GETs are
  *    bounded by scheduler slots (the semaphore analog, R5). Detail
  *    lookups are bounded by `concurrency` instead, whatever the slots
  *    ([[RestEnrich]]), and POSTs run sequentially within each sink
  *    partition ([[graft.sinks.HttpBatchSink]]);
  *  - each partition reader re-fetches its page through the retrying client
  *    (R1-R4 live in [[RetryingHttpClient]], per request, exactly like the
  *    reference);
  *  - rows flow as InternalRow into normal Catalyst planning, so projection
  *    and downstream filters optimize as usual.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.RestAnimalsSource")
  *     .option("transport", "fqn.of.HttpTransportImpl")
  *     .option("retries", "6")
  *     .load()
  * }}}
  */
class RestAnimalsSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RestAnimalsSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = new RestAnimalsTable(properties.asScala.toMap)
}

object RestAnimalsSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("born_at", LongType, nullable = true)
  ))

  val ListPath = "/animals/v1/animals"

  def policyFromOptions(opts: Map[String, String]): RetryPolicy =
    RetryPolicy(
      retries = opts.getOrElse("retries", "6").toInt,
      baseDelayMs = opts.getOrElse("backoff.base.ms", "250").toLong,
      capDelayMs = opts.getOrElse("backoff.cap.ms", "4000").toLong,
      jitterMs = opts.getOrElse("backoff.jitter.ms", "500").toLong
    )

  /** Timeout options (R6), defaults = reference config.py:11-12. */
  def timeoutsFromOptions(opts: Map[String, String]): HttpTimeouts =
    HttpTimeouts(
      connectTimeoutMs = opts.getOrElse("timeout.connect.ms", "5000").toLong,
      readTimeoutMs = opts.getOrElse("timeout.read.ms", "30000").toLong
    )

  def clientFromOptions(opts: Map[String, String]): RetryingHttpClient =
    new RetryingHttpClient(
      HttpTransport.byName(opts("transport")),
      policyFromOptions(opts),
      timeoutsFromOptions(opts)
    )
}

class RestAnimalsTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String                 = "animals_rest"
  override def schema(): StructType           = RestAnimalsSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = options ++ caseInsensitive.asScala
    new ScanBuilder {
      override def build(): Scan = new RestAnimalsScan(merged)
    }
  }
}

final case class PagePartition(page: Int) extends InputPartition

class RestAnimalsScan(options: Map[String, String]) extends Scan with Batch {
  override def readSchema(): StructType = RestAnimalsSource.Schema
  override def toBatch: Batch           = this

  /** Driver-side probe: one GET for page 1 sizes the scan. Memoized, since
    * Spark asks once per copy of the scan node that physical planning makes
    * (twice per pipeline run); only the page count is kept, so each
    * execution still reads every page, page 1 included. */
  private lazy val pages: Array[InputPartition] = {
    val client = RestAnimalsSource.clientFromOptions(options)
    val first = AnimalsJson.parsePage(client.get(s"${RestAnimalsSource.ListPath}?page=1").body)
    (1 to math.max(1, first.totalPages)).map(p => PagePartition(p): InputPartition).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = pages

  override def createReaderFactory(): PartitionReaderFactory = new RestPageReaderFactory(options)
}

class RestPageReaderFactory(options: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val page = partition.asInstanceOf[PagePartition].page
    new PartitionReader[InternalRow] {
      private lazy val rows: Iterator[InternalRow] = {
        val client = RestAnimalsSource.clientFromOptions(options)
        val parsed = AnimalsJson.parsePage(client.get(s"${RestAnimalsSource.ListPath}?page=$page").body)
        parsed.items.iterator.map { a =>
          InternalRow(
            a.id,
            UTF8String.fromString(a.name),
            a.bornAt.map(Long.box).orNull
          )
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit     = ()
    }
  }
}

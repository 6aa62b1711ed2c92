package graftbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.TimestampType

import graft.etl.AnimalsPipeline
import graft.sources.{HttpResponse, HttpTransport}

/** The animals service the `etl` workload runs against, in memory. It serves
  * a catalog generated outside the program (`perfbench/bench/etlgen.py`),
  * sleeps a fixed service time per page GET, detail GET and POST, and answers
  * 503 to the first k attempts of each logical request the fault schedule
  * names. Attempts of one logical request share its `X-Request-Id`.
  *
  * graft instantiates a transport by class name on every task, so the state
  * lives in the companion object (one JVM: driver and executors share it). */
class BenchTransport extends HttpTransport {
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse =
    BenchTransport.serve(method, path, body, headers)
}

object BenchTransport {
  private val mapper = new ObjectMapper()
  private val json   = JsonNodeFactory.instance

  val ListPrefix = "/animals/v1/animals?page="
  val DetailPrefix = "/animals/v1/animals/"
  val HomePath = "/animals/v1/home"

  @volatile private var pages: Array[String]   = Array.empty
  @volatile private var details: Map[Long, String] = Map.empty
  @volatile private var faults: Map[String, Int] = Map.empty
  @volatile private var serviceMs: Map[String, Long] = Map.empty

  private val attemptsById = new ConcurrentHashMap[String, AtomicInteger]()
  private val log          = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val posted       = new ConcurrentLinkedQueue[String]()

  /** Loads a catalog file: `{"page_size", "service_ms", "faults", "animals"}`. */
  def load(file: File): Unit = {
    val root     = mapper.readTree(file)
    val animals  = root.get("animals").elements().asScala.toVector
    val pageSize = root.get("page_size").asInt()
    val chunks   = animals.grouped(pageSize).toVector
    pages = chunks.zipWithIndex.map { case (chunk, i) =>
      val page = json.objectNode().put("page", i + 1).put("total_pages", chunks.size)
      val items = page.putArray("items")
      chunk.foreach { a =>
        val item = items.addObject()
        Seq("id", "name", "born_at").foreach(f => item.set[JsonNode](f, a.get(f)))
      }
      mapper.writeValueAsString(page)
    }.toArray
    details = animals.map(a => a.get("id").asLong() -> mapper.writeValueAsString(a)).toMap
    faults = root.get("faults").fields().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    serviceMs = root.get("service_ms").fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    reset()
  }

  def reset(): Unit = { attemptsById.clear(); log.clear(); posted.clear() }

  /** Attempts logged and batches accepted since the last reset. */
  def attempts: Vector[Map[String, Any]] = log.asScala.toVector
  def postedBatches: Vector[String]       = posted.asScala.toVector

  private def route(method: String, path: String, body: Option[String]): (String, String) =
    (method, path) match {
      case ("GET", p) if p.startsWith(ListPrefix)   => ("page", s"page:${p.stripPrefix(ListPrefix)}")
      case ("GET", p) if p.startsWith(DetailPrefix) => ("detail", s"detail:${p.stripPrefix(DetailPrefix)}")
      case ("POST", HomePath) =>
        // A POST fault names one record; it hits the batch that carries it.
        val ids = mapper.readTree(body.getOrElse("[]")).elements().asScala.map(_.get("id").asLong()).toVector
        ("post", ids.map(i => s"post:$i").find(faults.contains).getOrElse(s"post:${ids.headOption.getOrElse(-1L)}"))
      case _ => ("unknown", s"$method $path")
    }

  def serve(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    val rid     = headers.getOrElse("X-Request-Id", "")
    val attempt = attemptsById.computeIfAbsent(rid, _ => new AtomicInteger()).incrementAndGet()
    val start   = Clock.nowUs()
    val (kind, key) = route(method, path, body)
    Thread.sleep(serviceMs.getOrElse(kind, 0L))
    val resp =
      if (attempt <= faults.getOrElse(key, 0)) HttpResponse(503, """{"detail": "scheduled fault"}""")
      else kind match {
        case "page" =>
          val p = key.stripPrefix("page:").toInt
          if (p >= 1 && p <= pages.length) HttpResponse(200, pages(p - 1)) else HttpResponse(404, "{}")
        case "detail" =>
          details.get(key.stripPrefix("detail:").toLong).map(HttpResponse(200, _)).getOrElse(HttpResponse(404, "{}"))
        case "post" =>
          posted.add(body.getOrElse(""))
          HttpResponse(200, """{"message": "ok"}""")
        case _ => HttpResponse(404, "{}")
      }
    log.add(Map("rid" -> rid, "kind" -> kind, "key" -> key, "attempt" -> attempt,
      "start_us" -> start, "end_us" -> Clock.nowUs(), "status" -> resp.status))
    resp
  }
}

/** One `etl` operation: a full `AnimalsPipeline.run` with the reference
  * defaults (concurrency 8, batch 100, default retry policy). */
object Etl {
  val Transport: String = classOf[BenchTransport].getName

  def firstRead(spark: SparkSession): Unit =
    AnimalsPipeline.listed(spark, Transport).limit(1).collect()

  def run(spark: SparkSession, asOf: String): Map[String, Any] = {
    BenchTransport.reset()
    var error: String = null
    val batches =
      try AnimalsPipeline.run(spark, Transport, lit(asOf).cast(TimestampType)).postedBatches
      catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(500); -1L }
    Map("batches" -> batches, "error" -> error,
      "attempts" -> BenchTransport.attempts, "posted" -> BenchTransport.postedBatches)
  }
}

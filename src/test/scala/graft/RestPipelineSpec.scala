package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.AnimalsPipeline
import graft.sources._
import graft.sinks.HttpBatchSink

/** End-to-end port of the reference's pipeline test
  * (`/root/reference/tests/test_pipeline.py`): canned 2-page listing,
  * 3 details, asserts id set, transform shape, ms-epoch conversion, null
  * born_at handling, and the 3-rows @ batch 2 → 2 batches sink split.
  */
object FakeAnimalsTransport {
  val posts = new ConcurrentLinkedQueue[String]()
  val detailCalls = new AtomicInteger(0)
  val pageCalls = new ConcurrentHashMap[Int, AtomicInteger]()

  val pages: Map[Int, String] = Map(
    1 -> """{"page": 1, "total_pages": 2, "items": [{"id": 1, "name": "Dog"}, {"id": 2, "name": "Cat"}]}""",
    2 -> """{"page": 2, "total_pages": 2, "items": [{"id": 3, "name": "Mouse"}]}"""
  )
  val details: Map[Long, String] = Map(
    1L -> """{"id": 1, "name": "Dog", "friends": "Kangaroo, Sea Lions", "born_at": null}""",
    2L -> """{"id": 2, "name": "Cat", "friends": "", "born_at": 1348692957651}""",
    3L -> """{"id": 3, "name": "Mouse", "friends": "Dog", "born_at": null}"""
  )
}

class FakeAnimalsTransport extends HttpTransport {
  import FakeAnimalsTransport._
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    require(headers.contains("X-Request-Id"), "tracing header missing")
    (method, path) match {
      case ("GET", p) if p.startsWith("/animals/v1/animals?page=") =>
        val page = p.stripPrefix("/animals/v1/animals?page=").toInt
        pageCalls.computeIfAbsent(page, _ => new AtomicInteger).incrementAndGet()
        HttpResponse(200, pages(page))
      case ("GET", p) if p.matches("/animals/v1/animals/\\d+") =>
        detailCalls.incrementAndGet()
        HttpResponse(200, details(p.split("/").last.toLong))
      case ("POST", HttpBatchSink.HomePath) =>
        posts.add(body.getOrElse("")); HttpResponse(200, """{"message": "ok"}""")
      case other => HttpResponse(404, s"no route $other")
    }
  }
}

/** Scripted transport: fails with 500 once, then succeeds — the reference's
  * retry test (`tests/test_http_client.py:31-47`). */
object FlakyTransport { val calls = new AtomicInteger(0) }
class FlakyTransport extends HttpTransport {
  override def request(m: String, p: String, b: Option[String], h: Map[String, String]): HttpResponse =
    if (FlakyTransport.calls.incrementAndGet() == 1) HttpResponse(500, "boom")
    else HttpResponse(200, """{"ok": 1}""")
}

object CountingTransport { val calls = new AtomicInteger(0) }
class Failing422Transport extends HttpTransport {
  override def request(m: String, p: String, b: Option[String], h: Map[String, String]): HttpResponse = {
    CountingTransport.calls.incrementAndGet()
    HttpResponse(422, """{"detail": [{"msg": "invalid"}]}""")
  }
}

class RestPipelineSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val transport = classOf[FakeAnimalsTransport].getName
  private val asOf      = lit("2026-01-01 00:00:00").cast(TimestampType)
  private val fastPolicy = RetryPolicy(retries = 3, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1)

  test("paginated DSv2 source lists all ids across pages") {
    val ids = AnimalsPipeline.listed(spark, transport).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L)) // set-equality, order-insensitive (test_pipeline.py:35-40)
  }

  test("full pipeline: scan -> enrich -> transform -> batched sink") {
    FakeAnimalsTransport.posts.clear()
    val result = AnimalsPipeline.run(spark, transport, asOf, concurrency = 2, batchSize = 2, policy = fastPolicy)
    assert(result.postedBatches == 2) // 3 rows @ size 2 (test_pipeline.py:52-55)

    val bodies = FakeAnimalsTransport.posts.toArray(Array.empty[String]).mkString("\n")
    assert(bodies.contains(""""friends":["Kangaroo","Sea Lions"]"""))
    assert(bodies.contains(""""born_at":"2012-09-26T20:55:57.651000Z"""))
    // key-omission for invalid born_at (pipeline.py:78-79): Dog has no born_at key
    assert(bodies.contains("""{"id":1,"name":"Dog","friends":["Kangaroo","Sea Lions"]}"""))
    assert(bodies.contains("""{"id":3,"name":"Mouse","friends":["Dog"]}"""))
  }

  test("a pipeline run probes page 1 once: one probe plus its partition") {
    FakeAnimalsTransport.pageCalls.clear()
    AnimalsPipeline.run(spark, transport, asOf, concurrency = 2, batchSize = 2, policy = fastPolicy)
    val calls = FakeAnimalsTransport.pageCalls.asScala.map { case (p, n) => p -> n.get }.toMap
    assert(calls == Map(1 -> 2, 2 -> 1))
  }

  test("a repeated action on one listing re-reads every page") {
    val listing = AnimalsPipeline.listed(spark, transport)
    FakeAnimalsTransport.pageCalls.clear()
    assert(listing.collect().length == 3 && listing.collect().length == 3)
    val calls = FakeAnimalsTransport.pageCalls.asScala.map { case (p, n) => p -> n.get }.toMap
    assert(calls == Map(1 -> 3, 2 -> 2)) // page 1: one probe, then one read per action
  }

  test("transform output matches the reference's expected records") {
    val details = RestEnrich.details(
      AnimalsPipeline.listed(spark, transport), transport, parallelism = 2, policy = fastPolicy)
    val out  = graft.etl.AnimalsTransform.transform(details, asOf)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2), Option(r.getString(3)))).toSet
    assert(rows == Set(
      (1L, "Dog", Seq("Kangaroo", "Sea Lions"), None),
      (2L, "Cat", Seq(), Some("2012-09-26T20:55:57.651000Z")),
      (3L, "Mouse", Seq("Dog"), None)
    ))
  }

  test("retry: 500 then 200 succeeds on second attempt") {
    FlakyTransport.calls.set(0)
    val client = new RetryingHttpClient(new FlakyTransport, fastPolicy)
    assert(client.get("/x").status == 200)
    assert(FlakyTransport.calls.get() == 2)
  }

  test("fail-fast on 4xx: single attempt, typed error") {
    class T404 extends HttpTransport {
      val n = new AtomicInteger(0)
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) = {
        n.incrementAndGet(); HttpResponse(404, "nope")
      }
    }
    val t = new T404
    val e = intercept[ClientHttpException](new RetryingHttpClient(t, fastPolicy).get("/x"))
    assert(e.status == 404 && t.n.get() == 1)
  }

  test("422 raises the typed validation channel with parsed detail") {
    CountingTransport.calls.set(0)
    val e = intercept[ValidationHttpException](
      new RetryingHttpClient(new Failing422Transport, fastPolicy).post("/x", "[]"))
    assert(e.detail.contains("invalid"))
    assert(CountingTransport.calls.get() == 1) // no retry on 422
  }

  test("retries exhausted surfaces last status and attempt count") {
    class T500 extends HttpTransport {
      override def request(m: String, p: String, b: Option[String], h: Map[String, String]) =
        HttpResponse(503, "unavailable")
    }
    val e = intercept[RetriesExhaustedException](new RetryingHttpClient(new T500, fastPolicy).get("/x"))
    assert(e.status == 503 && e.attempts == 3)
  }

  test("observe() reports the invalid-born quality counter") {
    import spark.implicits._
    val details = Seq(
      (1L, "A", "x, y", Some(1348692957651L)), // valid ms epoch
      (2L, "B", "", Some(4102444800L)),        // 2100 — future vs asOf → invalid
      (3L, "C", "z", None),                    // null — not counted as invalid
      (4L, "D", "", Some(-5L))                 // negative → invalid
    ).toDF("id", "name", "friends", "born_at")
    val obs = org.apache.spark.sql.Observation()
    val out = graft.etl.AnimalsTransform.transformObserved(details, asOf, obs)
    out.collect()
    val m = obs.get
    assert(m("invalid_born_at") == 2L)
    assert(m("rows") == 4L)
  }

  test("batch size clamps to [1, 100] as the reference does") {
    assert(HttpBatchSink.clampBatchSize(0) == 1)
    assert(HttpBatchSink.clampBatchSize(-5) == 1)
    assert(HttpBatchSink.clampBatchSize(1000) == 100)
    assert(HttpBatchSink.clampBatchSize(50) == 50)
  }

  test("EtlConfig resolves flag > env > default with the reference's keys") {
    import graft.etl.EtlConfig
    // pure defaults = config.py's defaults
    assert(EtlConfig.resolve(Nil, Map.empty) == EtlConfig())
    assert(EtlConfig().timeouts == HttpTimeouts(5000, 30000))
    // env overrides defaults (timeouts are float seconds, like the reference)
    val env = Map("CONCURRENCY" -> "4", "READ_TIMEOUT" -> "12.5")
    assert(
      EtlConfig.resolve(Nil, env) == EtlConfig(concurrency = 4, readTimeoutMs = 12500)
    )
    // CLI flag beats env
    val c = EtlConfig.resolve(Seq("--concurrency", "9", "--batch-size", "7"), env)
    assert(c.concurrency == 9 && c.batchSize == 7 && c.readTimeoutMs == 12500)
    assert(c.policy.attempts == 6)
  }
}

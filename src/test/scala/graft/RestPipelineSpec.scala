package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.{ShuffleDependency, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

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

/** The listing with page 2 down: every page-2 GET answers 503. */
object Page2DownTransport { val page2Gets = new AtomicInteger(0) }
class Page2DownTransport extends FakeAnimalsTransport {
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse =
    if (path == AnimalsPipeline.pagePath(2)) { Page2DownTransport.page2Gets.incrementAndGet(); HttpResponse(503, "down") }
    else super.request(method, path, body, headers)
}

/** Records each request with the timeouts its client configured. */
object TimeoutRecordingTransport { val seen = new ConcurrentLinkedQueue[(String, HttpTimeouts)]() }
class TimeoutRecordingTransport extends FakeAnimalsTransport {
  private var timeouts: HttpTimeouts = _
  override def configure(t: HttpTimeouts): Unit = timeouts = t
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    TimeoutRecordingTransport.seen.add(s"$method $path" -> timeouts)
    super.request(method, path, body, headers)
  }
}

object CountingTransport { val calls = new AtomicInteger(0) }
class Failing422Transport extends HttpTransport {
  override def request(m: String, p: String, b: Option[String], h: Map[String, String]): HttpResponse = {
    CountingTransport.calls.incrementAndGet()
    HttpResponse(422, """{"detail": [{"msg": "invalid"}]}""")
  }
}

/** A six-page listing of twenty ids a page that logs every request in event
  * order: a global tick at its start and at its end, the thread it ran on
  * and its status. Page 2 and the first POST each answer 503 once; `postMode`
  * can instead fail every POST or hold every POST for a minute. State lives
  * in the companion because every pool thread builds its own transport. */
object ScriptedTransport {
  final case class Call(kind: String, key: String, rid: String, thread: String, start: Long, end: Long, status: Int)

  val Pages   = 6
  val PerPage = 20
  val tick    = new AtomicLong
  val calls   = new ConcurrentLinkedQueue[Call]()
  val posts   = new ConcurrentLinkedQueue[String]()
  val postsInFlight = new ConcurrentHashMap[String, AtomicInteger]()
  val maxPostsInFlight = new AtomicInteger
  private val page2Failed = new AtomicBoolean
  private val postFailed  = new AtomicBoolean
  @volatile var postMode = "ok" // "ok" | "fail" | "hang"

  def reset(mode: String = "ok"): Unit = {
    calls.clear(); posts.clear(); postsInFlight.clear(); maxPostsInFlight.set(0)
    page2Failed.set(false); postFailed.set(false); postMode = mode
  }

  /** The pool a thread belongs to, one REST stage of one partition: its
    * name without the pool's thread counter. A task thread is its own. */
  def partitionOf(thread: String): String = thread.replaceAll("-\\d+$", "")

  def idsIn(body: String): Seq[Long] = "\"id\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).toSeq
}

class ScriptedTransport extends HttpTransport {
  import ScriptedTransport._
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    val start  = tick.incrementAndGet()
    val thread = Thread.currentThread.getName
    val (kind, key, resp) = (method, path) match {
      case ("GET", p) if p.startsWith("/animals/v1/animals?page=") =>
        val page  = p.stripPrefix("/animals/v1/animals?page=").toInt
        val items = ((page - 1) * PerPage + 1 to page * PerPage).map(i => s"""{"id": $i, "name": "a$i"}""")
        val resp =
          if (page == 2 && page2Failed.compareAndSet(false, true)) HttpResponse(503, "down")
          else HttpResponse(200, s"""{"page": $page, "total_pages": $Pages, "items": ${items.mkString("[", ",", "]")}}""")
        ("page", page.toString, resp)
      case ("GET", p) =>
        val id = p.stripPrefix("/animals/v1/animals/").toLong
        Thread.sleep(1)
        ("detail", id.toString, HttpResponse(200, s"""{"id": $id, "name": "a$id", "friends": "", "born_at": null}"""))
      case (_, _) =>
        val inFlight = postsInFlight.computeIfAbsent(partitionOf(thread), _ => new AtomicInteger)
        maxPostsInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try {
          Thread.sleep(if (postMode == "hang") 60000 else 2)
          val resp =
            if (postMode == "fail" || postFailed.compareAndSet(false, true)) HttpResponse(503, "busy")
            else { posts.add(body.getOrElse("")); HttpResponse(200, """{"message": "ok"}""") }
          ("post", body.getOrElse(""), resp)
        } finally inFlight.decrementAndGet()
    }
    calls.add(Call(kind, key, headers("X-Request-Id"), thread, start, tick.incrementAndGet(), resp.status))
    resp
  }
}

class RestPipelineSpec extends AnyFunSuite with Eventually {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val transport = classOf[FakeAnimalsTransport].getName
  private val asOf      = lit("2026-01-01 00:00:00").cast(TimestampType)
  private val fastPolicy = RetryPolicy(retries = 3, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1)
  private val scripted   = classOf[ScriptedTransport].getName

  override implicit val patienceConfig: PatienceConfig = PatienceConfig(timeout = Span(10, Seconds))

  private def livePoolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(RestEnrich.PoolThreadPrefix)).toSet

  private def causes(e: Throwable): Iterator[Throwable] = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  private def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap { d =>
      (d match { case s: ShuffleDependency[_, _, _] => Seq(s); case _ => Nil }) ++ shuffles(d.rdd)
    }

  test("a run is one job, and details over the listing has no Exchange") {
    val sc   = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("etl-run")(AnimalsPipeline.run(spark, transport, asOf, concurrency = 2, batchSize = 2, policy = fastPolicy))
      // the listener bus delivers in order: once the marker job is seen,
      // every job of the run has been
      inGroup("etl-marker")(sc.parallelize(Seq(1), 1).count())
      eventually(assert(jobs.contains("etl-marker")))
      assert(jobs.asScala.count(_ == "etl-run") == 1, jobs)
    } finally sc.removeSparkListener(listener)

    val details = RestEnrich.details(AnimalsPipeline.listed(spark, transport), transport, 2, fastPolicy)
    val plan    = details.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan)
    assert(shuffles(details.queryExecution.toRdd).isEmpty, details.queryExecution.toRdd.toDebugString)
  }

  test("lookups run while a page GET and a POST back off; one POST in flight per partition") {
    ScriptedTransport.reset()
    val backoff = RetryPolicy(retries = 3, baseDelayMs = 150, capDelayMs = 150, jitterMs = 1)
    val batch   = ScriptedTransport.PerPage
    val result  = AnimalsPipeline.run(spark, scripted, asOf, concurrency = 2, batchSize = batch, policy = backoff)
    val ids     = 1L to ScriptedTransport.Pages.toLong * ScriptedTransport.PerPage
    assert(result.postedBatches == ids.size / batch)
    assert(ScriptedTransport.posts.asScala.toSeq.flatMap(ScriptedTransport.idsIn).sorted == ids)

    val calls   = ScriptedTransport.calls.asScala.toSeq
    val details = calls.filter(_.kind == "detail")
    def retried(kind: String): (ScriptedTransport.Call, ScriptedTransport.Call) = {
      val failed = calls.filter(c => c.kind == kind && c.status == 503)
      assert(failed.size == 1, failed)
      val Seq(first, second) = calls.filter(_.rid == failed.head.rid).sortBy(_.start)
      (first, second)
    }
    // page 2's backoff: the other pages' ids are being looked up
    val (page2, page2Again) = retried("page")
    assert(page2.key == "2")
    assert(details.exists(d => d.end > page2.end && d.end < page2Again.start))
    // the first POST's backoff: the partition that sent it looks up more ids
    // than its lookup pool had submitted ahead before the POST began
    val (post, postAgain) = retried("post")
    val postingPartition = ScriptedTransport.partitionOf(
      details.find(_.key == ScriptedTransport.idsIn(post.key).head.toString).get.thread)
    val during = details.filter(d =>
      ScriptedTransport.partitionOf(d.thread) == postingPartition && d.start > post.end && d.end < postAgain.start)
    assert(during.size > 2 * RestEnrich.share(2, 2, 0), (post, postAgain, during))
    assert(ScriptedTransport.maxPostsInFlight.get == 1)

    // every request but the driver's page-1 probe ran on a pool thread,
    // and none outlives the run
    val taskSide = calls.filterNot(_.thread == Thread.currentThread.getName)
    assert(taskSide.size == calls.size - 1)
    assert(taskSide.forall(_.thread.startsWith(RestEnrich.PoolThreadPrefix)), taskSide.map(_.thread).distinct)
    // page GETs, lookups and POSTs each run on threads named for their stage
    val threadsOf = taskSide.groupBy(_.kind).map { case (kind, cs) => kind -> cs.map(_.thread).toSet }
    assert(threadsOf.keySet == Set("page", "detail", "post"), threadsOf)
    for (Seq(a, b) <- threadsOf.keys.toSeq.combinations(2))
      assert(threadsOf(a).intersect(threadsOf(b)).isEmpty, threadsOf)
    eventually(assert(livePoolThreads.isEmpty))
  }

  test("a run whose POSTs all fail fails with the POST's error and leaves no pool thread") {
    ScriptedTransport.reset(mode = "fail")
    val e = intercept[Exception](AnimalsPipeline.run(spark, scripted, asOf, concurrency = 2, batchSize = 10, policy = fastPolicy))
    assert(causes(e).exists {
      case r: RetriesExhaustedException => r.method == "POST" && r.status == 503
      case _                            => false
    }, e)
    assert(ScriptedTransport.posts.isEmpty)
    eventually(assert(livePoolThreads.isEmpty))
  }

  test("a run cancelled with a POST in flight returns promptly and leaves no pool thread") {
    // POSTs would hold a minute; only the cancel can end them in time.
    ScriptedTransport.reset(mode = "hang")
    val sc    = spark.sparkContext
    val group = "etl-cancel"
    val run = Future {
      sc.setJobGroup(group, "cancelled run")
      try AnimalsPipeline.run(spark, scripted, asOf, concurrency = 2, batchSize = 10, policy = fastPolicy)
      finally sc.clearJobGroup()
    }(ExecutionContext.global)
    try eventually(assert(ScriptedTransport.postsInFlight.values.asScala.exists(_.get > 0)))
    finally sc.cancelJobGroup(group)
    intercept[SparkException](Await.result(run, 10.seconds))
    eventually(assert(livePoolThreads.isEmpty))
    assert(ScriptedTransport.postsInFlight.values.asScala.forall(_.get == 0))
  }

  test("paginated listing lists all ids across pages") {
    val ids = AnimalsPipeline.listed(spark, transport).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L)) // set-equality, order-insensitive (test_pipeline.py:35-40)
  }

  test("S4 page tolerance: a non-JSON body is one empty page, an id-less item fails loudly") {
    assert(AnimalsJson.parsePage("not json at all") == AnimalsJson.AnimalPage(1, 1, Seq.empty))
    val e = intercept[IllegalArgumentException](
      AnimalsJson.parsePage("""{"page": 1, "total_pages": 2, "items": [{"id": 1}, {"name": "Cat"}]}"""))
    assert(e.getMessage.contains("item 1 has no 'id'"), e.getMessage)
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

  test("a run's retry policy bounds the page GETs: page 2 gives up after its attempts") {
    Page2DownTransport.page2Gets.set(0)
    val policy = RetryPolicy(retries = 2, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1)
    val e = intercept[Exception](
      AnimalsPipeline.run(spark, classOf[Page2DownTransport].getName, asOf, policy = policy))
    val exhausted = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case r: RetriesExhaustedException => r }
    assert(exhausted.exists(r => r.attempts == 2 && r.path == AnimalsPipeline.pagePath(2)), e)
    assert(Page2DownTransport.page2Gets.get() == 2)
  }

  test("every REST stage of a run gets the run's timeouts, page GETs included") {
    TimeoutRecordingTransport.seen.clear()
    val timeouts = HttpTimeouts(1234, 5678)
    AnimalsPipeline.run(spark, classOf[TimeoutRecordingTransport].getName, asOf,
      concurrency = 2, batchSize = 2, policy = fastPolicy, timeouts = timeouts)
    val seen = TimeoutRecordingTransport.seen.asScala.toSeq
    val requests = seen.map(_._1)
    assert(requests.count(_.startsWith("GET /animals/v1/animals?page=")) == 3) // page 1 twice, page 2 once
    assert(requests.count(_.startsWith("GET /animals/v1/animals/")) == 3)
    assert(requests.count(_.startsWith("POST ")) == 2)
    assert(seen.forall(_._2 == timeouts), seen)
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
    val out = graft.etl.AnimalsTransform.transform(details, asOf, Some(obs))
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

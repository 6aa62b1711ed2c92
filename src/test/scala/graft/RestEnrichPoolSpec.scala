package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.sources._

/** Gauge service for the lookup stage: every detail GET sleeps `sleepMs` and
  * is counted in flight while it does. Ids divisible by `missingEvery`
  * answer 404; with `failAll` every lookup does. State lives in the companion
  * because each pool thread builds its own transport by class name. */
object GaugeTransport {
  val current      = new AtomicInteger
  val max          = new AtomicInteger
  val sleepMs      = new AtomicLong
  val calls        = new ConcurrentHashMap[Long, AtomicInteger]()
  val missingEvery = 7L
  @volatile var failAll = false

  def reset(sleep: Long, failEverything: Boolean = false): Unit = {
    current.set(0); max.set(0); sleepMs.set(sleep); calls.clear(); failAll = failEverything
  }
}

class GaugeTransport extends HttpTransport {
  import GaugeTransport._
  override def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse = {
    val id = path.stripPrefix("/animals/v1/animals/").toLong
    calls.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
    max.accumulateAndGet(current.incrementAndGet(), math.max)
    try Thread.sleep(sleepMs.get)
    finally current.decrementAndGet()
    if (failAll || id % missingEvery == 0) HttpResponse(404, "{}")
    else HttpResponse(200, s"""{"id": $id, "name": "a$id", "friends": "", "born_at": null}""")
  }
}

/** `RestEnrich.details` keeps `concurrency` lookups in flight whatever the
  * task slot count, returns every found id once, and leaves no pool thread
  * behind however its task ends. */
class RestEnrichPoolSpec extends AnyFunSuite with Eventually {
  lazy val spark = GraftSession.get("local[4]", 4)
  private val transport = classOf[GaugeTransport].getName
  private val fastPolicy = RetryPolicy(retries = 2, baseDelayMs = 1, capDelayMs = 2, jitterMs = 1)
  private val ids        = 1L to 400L

  override implicit val patienceConfig: PatienceConfig = PatienceConfig(timeout = Span(10, Seconds))

  private def enrich(concurrency: Int): Seq[Long] =
    RestEnrich
      .details(spark.range(1, ids.size + 1).toDF("id"), transport, concurrency, fastPolicy)
      .collect().map(_.getLong(0)).toSeq

  private def livePoolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(RestEnrich.PoolThreadPrefix)).toSet

  private def assertEveryFoundIdOnce(out: Seq[Long]): Unit = {
    assert(out.sorted == ids.filterNot(_ % GaugeTransport.missingEvery == 0))
    assert(GaugeTransport.calls.asScala.keySet == ids.toSet)
    assert(GaugeTransport.calls.values.asScala.forall(_.get == 1))
  }

  test("shares sum to concurrency and differ by at most one") {
    for (c <- 1 to 17; k <- 1 to c) {
      val shares = (0 until k).map(RestEnrich.share(c, k, _))
      assert(shares.sum == c && shares.max - shares.min <= 1 && shares.min >= 1)
    }
  }

  test("concurrency above the slot count: exactly `concurrency` lookups in flight") {
    assert(spark.sparkContext.defaultParallelism == 4)
    GaugeTransport.reset(sleep = 10)
    val out = enrich(concurrency = 8)
    assert(GaugeTransport.max.get == 8)
    assertEveryFoundIdOnce(out)
  }

  test("concurrency below the slot count: at most `concurrency` lookups in flight") {
    GaugeTransport.reset(sleep = 5)
    val out = enrich(concurrency = 3)
    assert(GaugeTransport.max.get <= 3)
    assertEveryFoundIdOnce(out)
  }

  test("no pool thread outlives a successful run") {
    GaugeTransport.reset(sleep = 1)
    assert(enrich(concurrency = 8).nonEmpty)
    eventually(assert(livePoolThreads.isEmpty))
  }

  test("no pool thread outlives a run where every lookup fails") {
    GaugeTransport.reset(sleep = 1, failEverything = true)
    assert(enrich(concurrency = 8).isEmpty)
    assert(GaugeTransport.calls.size == ids.size)
    eventually(assert(livePoolThreads.isEmpty))
  }

  test("a job cancelled mid-lookup returns promptly and leaves no pool thread") {
    // Lookups would sleep a minute; only the cancel can end them in time.
    GaugeTransport.reset(sleep = 60000)
    val sc    = spark.sparkContext
    val group = "enrich-cancel"
    val run = Future {
      sc.setJobGroup(group, "cancelled enrich")
      try enrich(concurrency = 8)
      finally sc.clearJobGroup()
    }(ExecutionContext.global)
    try eventually(assert(GaugeTransport.current.get == 8))
    finally sc.cancelJobGroup(group)
    intercept[SparkException](Await.result(run, 10.seconds))
    eventually(assert(livePoolThreads.isEmpty))
    assert(GaugeTransport.current.get == 0)
  }
}

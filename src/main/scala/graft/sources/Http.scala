package graft.sources

import java.util.UUID

/** Minimal HTTP abstraction so the REST source/sink can run against a real
  * client in production and scripted fakes in tests — the same seam the
  * reference's tests use (`/root/reference/tests/test_http_client.py:5-28`
  * fakes the transport under the retrying client).
  *
  * Implementations must be constructible by FQN with a no-arg constructor:
  * executors instantiate the transport per partition (never serialize live
  * connections).
  */
trait HttpTransport {
  def request(method: String, path: String, body: Option[String], headers: Map[String, String]): HttpResponse

  /** Receive socket-level timeouts (connect / read — the reference also
    * applies read to write+pool, `/root/reference/src/http_client.py:66-71`).
    * Called once per client before the first request; in-memory fakes may
    * keep the no-op default. */
  def configure(timeouts: HttpTimeouts): Unit = ()
}

/** Concrete timeout knobs (R6) mirroring the reference's defaults: connect
  * 5 s, read/write/pool 30 s (`/root/reference/src/animals_etl/config.py:11-12`,
  * `src/http_client.py:66-71`). */
final case class HttpTimeouts(connectTimeoutMs: Long = 5000, readTimeoutMs: Long = 30000)

final case class HttpResponse(status: Int, body: String)

/** Typed 422 error channel (`/root/reference/src/http_client.py:20-27,109-117`):
  * carries the parsed `detail` payload; callers exit with code 2. */
final case class ValidationHttpException(detail: String, method: String, path: String)
    extends RuntimeException(s"422 on $method $path: $detail")

/** Non-retryable client error (fail-fast on 4xx, http_client.py:119-121). */
final case class ClientHttpException(status: Int, method: String, path: String)
    extends RuntimeException(s"$status on $method $path")

/** Retries exhausted (http_client.py:143-155). `cause` carries the LAST
  * transport exception when the failures were network errors (status -1):
  * without it a read-timeout is indistinguishable from DNS failure, TLS
  * error, or connection-refused in the task failure logs. */
final case class RetriesExhaustedException(
    status: Int, attempts: Int, method: String, path: String, cause: Option[Throwable] = None)
    extends RuntimeException(
      s"giving up after $attempts attempts: $status on $method $path", cause.orNull)

/** Non-retryable unexpected status — a 5xx outside the retry set (501, 505,
  * …). The reference logs "[fatal] … not retrying" for these
  * (http_client.py:124-127); burning the whole backoff budget on them costs
  * ~9 s of sleeps per request for a status that will never change. */
final case class FatalStatusException(status: Int, method: String, path: String)
    extends RuntimeException(s"fatal status $status on $method $path (not retryable)")

/** Retry policy mirroring the reference
  * (`/root/reference/src/http_client.py:29-44`): attempts floor 1, sleep
  * `min(cap, base·2^(attempt-1)) + U(0, jitter)`, retry on transient 5xx.
  */
final case class RetryPolicy(
    retries: Int = 6,
    baseDelayMs: Long = 250,
    capDelayMs: Long = 4000,
    jitterMs: Long = 500,
    retryStatuses: Set[Int] = Set(500, 502, 503, 504)
) {
  def attempts: Int = math.max(1, retries)
  def backoffMs(attempt: Int): Long = {
    val exp = math.min(capDelayMs, baseDelayMs * (1L << math.min(attempt - 1, 30)))
    exp + scala.util.Random.nextLong(math.max(1L, jitterMs))
  }
}

/** Retrying client with the reference's semantics: per-request UUID tracing
  * header (R4), exponential backoff + jitter on transient 5xx / transport
  * errors (R1), fail-fast 4xx (R2), typed 422 channel (R3).
  */
final class RetryingHttpClient(
    transport: HttpTransport,
    policy: RetryPolicy = RetryPolicy(),
    timeouts: HttpTimeouts = HttpTimeouts()
) {
  transport.configure(timeouts)

  def get(path: String): HttpResponse                = execute("GET", path, None)
  def post(path: String, body: String): HttpResponse = execute("POST", path, Some(body))

  private def execute(method: String, path: String, body: Option[String]): HttpResponse = {
    val requestId = UUID.randomUUID().toString
    val headers   = Map("X-Request-Id" -> requestId)
    var lastStatus = -1
    var lastError: Option[Throwable] = None
    var attempt    = 1
    while (attempt <= policy.attempts) {
      val resp =
        try Some(transport.request(method, path, body, headers))
        catch { // network error → retryable; keep it for the give-up diagnosis
          case scala.util.control.NonFatal(e) => lastError = Some(e); None
        }
      resp match {
        case Some(r) if r.status >= 200 && r.status < 300 => return r
        case Some(r) if r.status == 422 =>
          throw ValidationHttpException(AnimalsJson.errorDetail(r.body), method, path)
        case Some(r) if r.status >= 400 && r.status < 500 =>
          throw ClientHttpException(r.status, method, path)
        case Some(r) if policy.retryStatuses.contains(r.status) =>
          lastStatus = r.status; lastError = None
        // 3xx: returned outright, like the reference (redirect handling is
        // the caller's concern; raise_for_status passes them through).
        case Some(r) if r.status >= 300 && r.status < 400 => return r
        // Unexpected 5xx (501, 505, …): fail fast, don't retry.
        case Some(r) => throw FatalStatusException(r.status, method, path)
        case None    => lastStatus = -1
      }
      if (attempt < policy.attempts) Thread.sleep(policy.backoffMs(attempt))
      attempt += 1
    }
    throw RetriesExhaustedException(lastStatus, policy.attempts, method, path, lastError)
  }
}

object HttpTransport {
  /** Instantiate a transport by FQN (no-arg constructor) — the executor-side
    * entry point for listing, lookup and sink tasks. */
  def byName(className: String): HttpTransport =
    Class.forName(className).getDeclaredConstructor().newInstance().asInstanceOf[HttpTransport]
}

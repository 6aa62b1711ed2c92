package graft.etl

import graft.sources.{HttpTimeouts, RetryPolicy}

/** Runtime configuration with the reference's env defaults and CLI override
  * semantics (the reference's `config.py`: argparse flags defaulting to
  * `CONCURRENCY`, `BATCH_SIZE`, `MAX_RETRIES`, `CONNECT_TIMEOUT`,
  * `READ_TIMEOUT`). Timeout env values are seconds (floats), like the
  * reference; internally carried as millis. The reference's `API_BASE_URL`
  * is not read: transports are bound by class name with no-arg
  * constructors ([[graft.sources.HttpTransport.byName]]), so the service
  * address belongs to the transport class, and an unknown `--base-url`
  * flag is ignored like any other.
  */
final case class EtlConfig(
    concurrency: Int = 8,
    batchSize: Int = 100,
    retries: Int = 6,
    connectTimeoutMs: Long = 5000,
    readTimeoutMs: Long = 30000
) {
  def policy: RetryPolicy    = RetryPolicy(retries = retries)
  def timeouts: HttpTimeouts = HttpTimeouts(connectTimeoutMs, readTimeoutMs)
}

object EtlConfig {

  /** `--flag value` args override env, env overrides defaults — the
    * reference's `argparse(default=os.getenv(...))` resolution order. */
  def resolve(args: Seq[String] = Nil, env: Map[String, String] = sys.env): EtlConfig = {
    val flags = args
      .sliding(2, 2)
      .collect { case Seq(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v }
      .toMap
    def pick(flag: String, envKey: String, dflt: String): String =
      flags.getOrElse(flag, env.getOrElse(envKey, dflt))
    EtlConfig(
      concurrency = pick("concurrency", "CONCURRENCY", "8").toInt,
      batchSize = pick("batch-size", "BATCH_SIZE", "100").toInt,
      retries = pick("retries", "MAX_RETRIES", "6").toInt,
      connectTimeoutMs = (pick("connect-timeout", "CONNECT_TIMEOUT", "5").toDouble * 1000).toLong,
      readTimeoutMs = (pick("read-timeout", "READ_TIMEOUT", "30").toDouble * 1000).toLong
    )
  }
}

package graft.sources

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** Executor-side HTTP abstraction for the paginated REST sources
  * (SURVEY §2.1). Instances ship to executors inside mapPartitions
  * closures, so implementations must be Serializable and cheap to hold.
  */
trait Transport extends Serializable {
  /** Fetch one URL's body. Implementations retry transient failures. */
  def get(url: String): String
}

/** Real HTTP transport. One User-Agent is chosen per transport INSTANCE
  * (i.e. per session), replicating the reference's import-time
  * `random.choice(USER_AGENTS)` (reference dags/etl.py:11-22, D6) — not
  * per request. Bounded retry with linear backoff mirrors the Airflow
  * task retry policy (etl.py:288-289, D4) at fetch granularity.
  *
  * `rateLimitMs` spaces requests per partition so a 1000-executor
  * fan-out cannot hammer the origin.
  *
  * Every request closes its connection (`disconnect()`), so nearly every
  * request opens a TCP connection. That stays until reuse is measured to
  * pay: against the JDK `HttpServer` loopback origin of the `sendo_etl`
  * benchmark (perfbench/, 4-CPU host), keep-alive spent 54.6 s fetching
  * 1,260 requests instead of 5.1 s, about 43 ms added per request.
  */
class HttpTransport(
    userAgents: Seq[String],
    seed: Int = 42,
    maxRetries: Int = 2,
    retryDelayMs: Long = 5000,
    rateLimitMs: Long = 0,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 30000) extends Transport {

  private val userAgent: String =
    if (userAgents.isEmpty) "graft/0.1"
    else userAgents(math.abs(seed) % userAgents.size)

  @volatile private var lastRequestAt = 0L

  override def get(url: String): String = {
    var attempt = 0
    while (true) {
      try {
        if (rateLimitMs > 0) {
          val wait = lastRequestAt + rateLimitMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          lastRequestAt = System.currentTimeMillis()
        }
        val conn = new URI(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        conn.setRequestProperty("User-Agent", userAgent)
        conn.setConnectTimeout(connectTimeoutMs)
        conn.setReadTimeout(readTimeoutMs)
        try {
          val code = conn.getResponseCode
          if (code >= 500) throw new IOException(s"HTTP $code for $url")
          // 4xx is not transient: retrying a 404/403 just burns
          // maxRetries×backoff per permanently-failing URL (and
          // getInputStream would throw IOException for it, which the
          // retry loop below would treat as transient). Fail fast with a
          // non-IOException.
          if (code >= 400)
            throw new IllegalStateException(s"HTTP $code (client error) for $url")
          return new String(conn.getInputStream.readAllBytes(),
            StandardCharsets.UTF_8)
        } finally conn.disconnect()
      } catch {
        case e: IOException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(retryDelayMs * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Test transport: an in-memory URL→body map (FIXTURES.md §2 payloads).
  * Throws on unknown URLs so tests catch URL-construction drift. */
class FakeTransport(pages: Map[String, String]) extends Transport {
  override def get(url: String): String =
    pages.getOrElse(url,
      throw new NoSuchElementException(s"no fixture for $url"))
}

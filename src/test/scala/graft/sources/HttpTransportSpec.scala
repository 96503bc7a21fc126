package graft.sources

import java.io.IOException
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

/** [[HttpTransport]] against a real loopback origin: a JDK `HttpServer`
  * on 127.0.0.1 (ephemeral port) answering each path with a scripted
  * status sequence, the last status repeating. */
class HttpTransportSpec extends AnyFunSuite {

  /** Serve `path` with `statuses` in order (200 answers with `body`);
    * run `f` with the URL and the request counter, then stop. */
  private def withOrigin(statuses: Int*)(f: (String, AtomicInteger) => Unit): Unit = {
    val body = "page-body"
    val hits = new AtomicInteger()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/page", exchange => {
      val n = hits.getAndIncrement()
      val code = statuses(math.min(n, statuses.size - 1))
      val bytes =
        if (code == 200) body.getBytes(StandardCharsets.UTF_8) else Array.emptyByteArray
      exchange.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/page", hits)
    finally server.stop(0)
  }

  private def transport(maxRetries: Int = 2) =
    new HttpTransport(Seq("spec-agent"), maxRetries = maxRetries,
      retryDelayMs = 1)

  test("a 503 is retried: 503 then 200 returns the body after 2 requests") {
    withOrigin(503, 200) { (url, hits) =>
      assert(transport().get(url) == "page-body")
      assert(hits.get == 2)
    }
  }

  test("a 429 is retried like 5xx: 429 then 200 returns the body after 2 requests") {
    withOrigin(429, 200) { (url, hits) =>
      assert(transport().get(url) == "page-body")
      assert(hits.get == 2)
    }
  }

  test("a permanent 503 fails after maxRetries + 1 requests") {
    withOrigin(503) { (url, hits) =>
      val ex = intercept[IOException](transport(maxRetries = 2).get(url))
      assert(ex.getMessage.contains("503"))
      assert(hits.get == 3)
    }
  }

  test("a 404 fails at once, as a client error, after exactly 1 request") {
    withOrigin(404) { (url, hits) =>
      val ex = intercept[IllegalStateException](transport().get(url))
      assert(ex.getMessage.contains("404"))
      assert(hits.get == 1)
    }
  }
}

package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{GroceryPipeline, PosGenerator, RunPaths}
import graft.testkit.SparkSpec

/** The HTTP ingest boundary against a REAL local server (JDK
  * HttpServer) — the reference's mock_pos_api over genuine sockets:
  * the 10 s-timeout contract, retryable 500s, and the fetch→raw-artifact
  * pipeline stage (grocery_ingest_dag.py:36-47).
  */
class HttpFetchSpec extends AnyFunSuite with SparkSpec {

  private def withServer(handler: HttpExchange => Unit)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      try handler(ex) finally ex.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  test("ingestHttp fetches the envelope over a live socket and commits the raw artifact") {
    withServer { ex =>
      // serve the seeded generator for whatever (run_id, scenario, n) the
      // client asked for — the mock_pos_api contract
      val params = ex.getRequestURI.getQuery.split("&")
        .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      respond(ex, 200, PosGenerator.envelopeJson(
        params("run_id"), params("scenario"), params("n").toInt))
    } { base =>
      val dir = java.nio.file.Files.createTempDirectory("http").toString
      val paths = RunPaths(dir, "run-http")
      GroceryPipeline.ingestHttp(spark, paths, base, "ok", n = 12)
      assert(GroceryPipeline.validate(spark, paths) == 12)
    }
  }

  test("a 500-ing upstream is retried and recovers within the retry budget") {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      if (calls.incrementAndGet() <= 2) respond(ex, 500, "boom")
      else respond(ex, 200, "ok-body")
    } { base =>
      val body = HttpFetch.getWithRetry(s"$base/transactions", retries = 2, delayMs = 10)
      assert(body == "ok-body")
      assert(calls.get() == 3)
    }
  }

  test("retries exhausted surface the status error (retryable failure class)") {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      calls.incrementAndGet(); respond(ex, 500, "always down")
    } { base =>
      val e = intercept[HttpFetch.HttpStatusError] {
        HttpFetch.getWithRetry(s"$base/transactions", retries = 1, delayMs = 10)
      }
      assert(e.status == 500 && e.getMessage.contains("always down"))
      assert(calls.get() == 2) // initial + 1 retry
    }
  }

  test("a hung upstream times out instead of wedging the task") {
    withServer { ex =>
      Thread.sleep(2000)
      respond(ex, 200, "too late")
    } { base =>
      intercept[java.net.http.HttpTimeoutException] {
        HttpFetch.get(s"$base/transactions", timeoutMs = 200)
      }
    }
  }
}

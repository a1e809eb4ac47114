package etlbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The mock POS API: serves the deliveries the benchmark registered, keyed
  * by the (run_id, scenario) query the ingest stage sends, from one server
  * thread on a loopback port. A delivery with `failures = k` answers its
  * first k requests with HTTP 500.
  */
final class PosApi extends AutoCloseable {
  private val deliveries = new ConcurrentHashMap[(String, String), Delivery]()
  private val requests = new ConcurrentHashMap[(String, String), Integer]()

  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "mock-pos-api"); t.setDaemon(true); t
  }
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/transactions", (ex: HttpExchange) => {
    try serve(ex) finally ex.close()
  })
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def register(d: Delivery): Unit = {
    deliveries.put((d.runId, d.scenario), d)
    requests.remove((d.runId, d.scenario))
  }

  /** Requests the delivery has received so far. */
  def attempts(d: Delivery): Int =
    Option(requests.get((d.runId, d.scenario))).map(_.intValue).getOrElse(0)

  def forget(d: Delivery): Unit = {
    deliveries.remove((d.runId, d.scenario))
    requests.remove((d.runId, d.scenario))
  }

  private def serve(ex: HttpExchange): Unit = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> URLDecoder.decode(v, UTF_8) }.toMap
    val key = (q.getOrElse("run_id", ""), q.getOrElse("scenario", ""))
    val d = deliveries.get(key)
    val (status, body) =
      if (d == null) (404, s"no delivery for $key".getBytes(UTF_8))
      else {
        val attempt = requests.merge(key, 1, (a: Integer, b: Integer) => a + b)
        if (attempt <= d.failures) (500, "upstream unavailable".getBytes(UTF_8))
        else (200, d.body)
      }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, body.length.toLong)
    ex.getResponseBody.write(body)
  }

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

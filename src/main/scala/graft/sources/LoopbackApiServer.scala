package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Loopback HTTP twin of the reference's REST API (extract.py:69-95) for
  * exercising [[FmpSource]]'s HTTP transport without egress: serves
  * `GET /{endpoint}/{symbol}` as a JSON ARRAY assembled from the staged
  * JSONL under `{root}/{endpoint}/sym_part={symbol}/` — the same staging
  * the file transport reads, so the two transports are directly
  * comparable against one oracle. A symbol with no staged data returns
  * `[]` (the reference's no-data response, extract.py:88-92).
  *
  * `failFirst = true` returns HTTP `failStatus` (default 500) on the
  * FIRST request to each distinct path and serves normally after —
  * deterministic fault injection for the reader's retry path. With
  * `failStatus = 429`, `retryAfterSec` sets the `Retry-After` header on
  * the failure response (the rate-limit shape a real financial API
  * returns).
  *
  * Built on the JDK-native `com.sun.net.httpserver` (public JDK API since
  * Java 6); binds an ephemeral localhost port. Gate/test fixture — a real
  * deployment points `url` at the actual endpoint instead.
  */
final class LoopbackApiServer(root: String, failFirst: Boolean = false,
                              failStatus: Int = 500,
                              retryAfterSec: Option[Long] = None) {

  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hits = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  server.createContext("/", new HttpHandler {
    override def handle(x: HttpExchange): Unit =
      try {
        val path = x.getRequestURI.getPath
        hits.merge(path, 1, (a, b) => a + b)
        if (failFirst && seen.add(path)) {
          retryAfterSec.foreach(s =>
            x.getResponseHeaders.set("Retry-After", s.toString))
          respond(x, failStatus, "transient failure")
        } else {
          val parts = path.split("/").filter(_.nonEmpty)
          if (parts.length != 2) respond(x, 404, "expected /{endpoint}/{symbol}")
          else respond(x, 200, bodyFor(parts(0), parts(1)))
        }
      } catch {
        case e: Exception => respond(x, 500, e.toString)
      } finally x.close()
  })
  // A small pool: partitions fetch concurrently (one per symbol group), and a
  // single-threaded server would serialize the fan-out the source exists
  // to provide. DAEMON threads, explicitly shut down in stop(): the
  // default factory's non-daemon workers would keep the whole JVM alive
  // after main returns.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    r => { val t = new Thread(r, "loopback-api"); t.setDaemon(true); t })
  server.setExecutor(pool)
  server.start()

  /** JSON array body: the staged JSONL lines joined as array elements. */
  private def bodyFor(endpoint: String, symbol: String): String = {
    val d = new java.io.File(s"$root/$endpoint/sym_part=$symbol")
    if (!d.isDirectory) "[]"
    else d.listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName).iterator
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
      .map(_.trim).filter(_.nonEmpty)
      .mkString("[", ",", "]")
  }

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  /** Requests served per path — lets tests assert that a pruned symbol's
    * fetch NEVER happened and that the retry path re-requested. */
  def hitCount(path: String): Int = Option(hits.get(path)).fold(0)(_.intValue)
  def requestedPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    hits.keySet().asScala.toSet
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

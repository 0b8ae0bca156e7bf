package graft.sources.gsheets.core

import java.net.URI
import java.net.http.{HttpClient => JHttpClient, HttpRequest => JHttpRequest, HttpResponse => JHttpResponse}
import java.time.Duration
import scala.jdk.CollectionConverters._

/** HTTP transport seam, port of reference
  * `src/include/sheets/transport/http_client.hpp:10-22` +
  * `http_type.hpp`. Production impl is [[JdkHttp]] (java.net.http);
  * hermetic tests inject [[MockHttp]] exactly like the reference's
  * `MockHttpClient` (`src/sheets/transport/mock_http_client.cpp`).
  */
sealed abstract class HttpMethod(val name: String)
object HttpMethod {
  case object GET extends HttpMethod("GET")
  case object POST extends HttpMethod("POST")
  case object PUT extends HttpMethod("PUT")
  case object DEL extends HttpMethod("DELETE")
}

final case class HttpRequest(
    method: HttpMethod,
    url: String,
    headers: Map[String, String] = Map.empty,
    body: String = "")

final case class HttpResponse(
    statusCode: Int,
    headers: Map[String, String] = Map.empty,
    body: String = "")

trait SheetsHttp {
  def execute(request: HttpRequest): HttpResponse

  final def get(url: String, headers: Map[String, String]): HttpResponse =
    execute(HttpRequest(HttpMethod.GET, url, headers))
  final def post(url: String, headers: Map[String, String], body: String): HttpResponse =
    execute(HttpRequest(HttpMethod.POST, url, headers, body))
  final def put(url: String, headers: Map[String, String], body: String): HttpResponse =
    execute(HttpRequest(HttpMethod.PUT, url, headers, body))
  final def delete(url: String, headers: Map[String, String]): HttpResponse =
    execute(HttpRequest(HttpMethod.DEL, url, headers))
}

/** Proxy settings, port of `src/utils/proxy.cpp:17-95` config shape.
  * Resolved from options `httpProxy` (host[:port]) +
  * `httpProxyUsername`/`httpProxyPassword`; scheme-aware default port
  * (80 http / 443 https) like the reference.
  */
final case class ProxyConfig(
    host: String,
    port: Int,
    username: String = "",
    password: String = "")

object ProxyConfig {
  /** Accepts `host`, `host:port`, or a full `http(s)://host[:port]` URL. */
  def parse(raw: String, username: String = "", password: String = ""): ProxyConfig = {
    val (scheme, rest) =
      if (raw.startsWith("https://")) ("https", raw.stripPrefix("https://"))
      else if (raw.startsWith("http://")) ("http", raw.stripPrefix("http://"))
      else ("http", raw)
    val hostPort = rest.stripSuffix("/")
    val colon = hostPort.lastIndexOf(':')
    if (colon > 0 && hostPort.drop(colon + 1).forall(_.isDigit) && colon + 1 < hostPort.length)
      ProxyConfig(hostPort.take(colon), hostPort.drop(colon + 1).toInt, username, password)
    else
      ProxyConfig(hostPort, if (scheme == "https") 443 else 80, username, password)
  }
}

/** java.net.http-backed transport (the reference uses httplib+OpenSSL —
  * `src/sheets/transport/httplib_client.cpp:29-83`; on the JVM the
  * platform client is the idiomatic equivalent).
  */
final class JdkHttp(proxy: Option[ProxyConfig] = None) extends SheetsHttp {

  private lazy val client: JHttpClient = {
    val b = JHttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(30))
      .followRedirects(JHttpClient.Redirect.NORMAL)
    proxy.foreach { p =>
      b.proxy(java.net.ProxySelector.of(new java.net.InetSocketAddress(p.host, p.port)))
      if (p.username.nonEmpty) b.authenticator(new java.net.Authenticator {
        override def getPasswordAuthentication =
          new java.net.PasswordAuthentication(p.username, p.password.toCharArray)
      })
    }
    b.build()
  }

  override def execute(request: HttpRequest): HttpResponse = {
    val builder = JHttpRequest.newBuilder(URI.create(request.url))
      .timeout(Duration.ofSeconds(60))
    request.headers.foreach { case (k, v) => builder.header(k, v) }
    val publisher = JHttpRequest.BodyPublishers.ofString(request.body)
    val jreq = (request.method match {
      case HttpMethod.GET  => builder.GET()
      case HttpMethod.POST => builder.POST(publisher)
      case HttpMethod.PUT  => builder.PUT(publisher)
      case HttpMethod.DEL  => builder.DELETE()
    }).build()
    val resp = client.send(jreq, JHttpResponse.BodyHandlers.ofString())
    val headers = resp.headers().map().asScala.map {
      case (k, vs) => k -> vs.asScala.mkString(",")
    }.toMap
    HttpResponse(resp.statusCode(), headers, resp.body())
  }
}

/** Record/replay mock, port of the reference's `MockHttpClient`:
  * `execute` records the request and pops the next queued response;
  * running past the queue throws (same contract as
  * `mock_http_client.cpp:7-15`).
  */
final class MockHttp extends SheetsHttp {
  private val queued = scala.collection.mutable.Queue.empty[HttpResponse]
  private val routed = scala.collection.mutable.ArrayBuffer.empty[(String, HttpResponse)]
  private val recorded = scala.collection.mutable.ArrayBuffer.empty[HttpRequest]

  def addResponse(response: HttpResponse): Unit =
    synchronized { queued.enqueue(response) }
  def addJson(body: String, status: Int = 200): Unit =
    addResponse(HttpResponse(status, Map("Content-Type" -> "application/json"), body))

  /** URL-matched response for a request that repeats or whose place in
    * the sequence doesn't matter (every bind of a property-test grid,
    * each chunk of a batched write): served — repeatably — to any
    * request whose DECODED url contains `urlSubstring`, checked before
    * the FIFO queue.
    */
  def addRoutedJson(urlSubstring: String, body: String): Unit = synchronized {
    routed += ((urlSubstring,
      HttpResponse(200, Map("Content-Type" -> "application/json"), body)))
  }
  def recordedRequests: Vector[HttpRequest] = synchronized { recorded.toVector }
  def reset(): Unit = synchronized { queued.clear(); routed.clear(); recorded.clear() }

  override def execute(request: HttpRequest): HttpResponse = synchronized {
    recorded += request
    val decoded = java.net.URLDecoder.decode(request.url, "UTF-8")
    routed.find { case (sub, _) => decoded.contains(sub) } match {
      case Some((_, resp)) => resp
      case None =>
        if (queued.isEmpty)
          throw new IllegalStateException("MockHttp: No more responses queued")
        queued.dequeue()
    }
  }
}

/** Named-transport registry so DSV2 options (plain strings) can select a
  * transport: `transport=jdk` (default) or a test-registered mock. Mocks
  * are JVM-local — reachable from executors only in local mode, which is
  * exactly the hermetic-test seam (the reference swaps `IHttpClient` at
  * construction; a DSV2 source only gets strings, hence the registry).
  */
object TransportRegistry {
  private val named = new java.util.concurrent.ConcurrentHashMap[String, SheetsHttp]()
  // One JdkHttp (one connection pool) per proxy setting: clients reuse connections.
  private val jdk = new java.util.concurrent.ConcurrentHashMap[Option[ProxyConfig], JdkHttp]()

  def register(name: String, http: SheetsHttp): Unit = named.put(name, http)
  def unregister(name: String): Unit = named.remove(name)

  /** `transport` option → transport. Unknown names fail fast. */
  def resolve(name: Option[String], proxy: Option[ProxyConfig]): SheetsHttp =
    name match {
      case None | Some("jdk") => jdk.computeIfAbsent(proxy, new JdkHttp(_))
      case Some(n) =>
        val h = named.get(n)
        if (h == null)
          throw new IllegalArgumentException(
            s"Unknown transport '$n' (register it via TransportRegistry.register)")
        h
    }
}

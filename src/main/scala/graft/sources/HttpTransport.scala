package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse => JHttpResponse}
import java.time.Duration

/** One HTTP exchange result. `statusText` carries the reason phrase where
  * the client exposes one (HTTP/2 dropped them; fakes supply their own) —
  * it only feeds the reference-shaped error messages.
  */
final case class HttpResponse(status: Int, statusText: String, body: String) {
  def ok: Boolean = status >= 200 && status < 300
}

/** The engine's network seam. The reference performs exactly two HTTP
  * side effects per run — GET the quake feed (task.ts:177) and submit the
  * snapshot (task.ts:256) — both driver-side, once per run. Everything
  * network-shaped goes through this trait so the whole pipeline is
  * testable with a fake (this sandbox has no egress) and a deployment can
  * swap in any client.
  */
trait HttpTransport {
  def get(url: String): HttpResponse
  def post(url: String, body: String,
      contentType: String = "application/json"): HttpResponse
}

/** `java.net.http` implementation for real deployments. Never exercised in
  * tests (no egress here); constructed lazily so simply referencing the
  * object costs nothing.
  */
final class JdkHttpTransport(timeout: Duration = Duration.ofSeconds(30))
    extends HttpTransport {
  private lazy val client = HttpClient.newBuilder()
    .connectTimeout(timeout).build()

  private def send(req: HttpRequest): HttpResponse = {
    val r = client.send(req, JHttpResponse.BodyHandlers.ofString())
    // JDK client exposes no reason phrase (none exists on HTTP/2)
    HttpResponse(r.statusCode(), "", r.body())
  }

  override def get(url: String): HttpResponse =
    send(HttpRequest.newBuilder(URI.create(url)).timeout(timeout).GET().build())

  override def post(url: String, body: String, contentType: String): HttpResponse =
    send(HttpRequest.newBuilder(URI.create(url)).timeout(timeout)
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
}

/** URL construction + error semantics of the reference's two HTTP legs. */
object GeoNetHttp {

  /** The GeoNet quake endpoint (reference task.ts:176). */
  val ApiBase = "https://api.geonet.org.nz/quake"

  /** `?MMI={mmi}` — the server-side intensity filter (task.ts:176). */
  def quakeUrl(mmi: Int): String = s"$ApiBase?MMI=$mmi"

  /** The process-wide live transport: what a run uses when it is given
    * no other. Another client goes in through the `transport` parameter
    * of `QuakeRunner.run` and `QuakeStream.submitSnapshots`, or, for the
    * `geonet` source, which is built from string options, through
    * [[registerTransport]] and the source's `transport` option.
    */
  val LiveTransport: HttpTransport = new JdkHttpTransport()

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, HttpTransport]()

  /** Register a transport under an id addressable from the DSv2
    * `transport` option — race-free injection for concurrent readers.
    */
  def registerTransport(id: String, t: HttpTransport): Unit =
    registry.put(id, t)

  def unregisterTransport(id: String): Unit = registry.remove(id)

  /** Resolve the `transport` option: a registered id, or
    * [[LiveTransport]] when absent. An UNKNOWN id fails loudly — falling
    * back to the live JDK transport on a typo would silently hit the
    * network.
    */
  def transportFor(id: Option[String]): HttpTransport = id match {
    case None => LiveTransport
    case Some(i) => Option(registry.get(i)).getOrElse(
      throw new IllegalArgumentException(
        s"unknown transport id '$i' — register it with " +
          "GeoNetHttp.registerTransport before use"))
  }

  /** GET the feed; non-2xx fails the run with the reference's message
    * (task.ts:179-181).
    */
  def fetchBody(t: HttpTransport, mmi: Int): String = {
    val r = t.get(quakeUrl(mmi))
    if (!r.ok) throw new RuntimeException(
      s"Failed to fetch data: ${r.status} ${r.statusText}")
    r.body
  }

  /** POST the snapshot FeatureCollection (the `submit` leg, task.ts:256);
    * non-2xx propagates as an error like the reference's rethrow
    * (task.ts:257-260).
    */
  def submit(t: HttpTransport, url: String, fcJson: String): Unit = {
    val r = t.post(url, fcJson)
    if (!r.ok) throw new RuntimeException(
      s"Failed to submit data: ${r.status} ${r.statusText}")
  }
}

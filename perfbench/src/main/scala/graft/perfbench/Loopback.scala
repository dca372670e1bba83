package graft.perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{GeoNetHttp, HttpResponse, HttpTransport}

/** Loopback stand-ins for the two hosts the ETL talks to, on 127.0.0.1:
  * a GeoNet quake API emulator (`GET /quake?MMI=k`, filtered server-side
  * like the real API) and a CloudTAK submit sink (`POST /sink`).
  *
  * The emulator serves `feed`. The sink answers as soon as the body is
  * read; `check` runs on the kept bodies in [[verdicts]], after the
  * measurement, so verification neither sits on the measured path nor
  * competes with it for CPU.
  */
final class Loopback(threads: Int, feed: Vector[Quake], check: Array[Byte] => Boolean) {
  private val rendered = new ConcurrentHashMap[Int, Array[Byte]]()
  /** The body of every POST, in arrival order. */
  val receipts = new ConcurrentLinkedQueue[Array[Byte]]()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/quake", (ex: HttpExchange) => serveFeed(ex))
  server.createContext("/sink", (ex: HttpExchange) => receive(ex))
  server.start()

  val port: Int = server.getAddress.getPort
  val sinkUrl: String = s"http://127.0.0.1:$port/sink"

  private def serveFeed(ex: HttpExchange): Unit = try {
    val mmi = Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split('&')).collectFirst {
        case kv if kv.startsWith("MMI=") => kv.drop(4).toInt
      }.getOrElse(-1)
    val body = rendered.computeIfAbsent(mmi, m =>
      FeatureGen.collectionJson(feed.filter(_.mmi >= m)).getBytes(UTF_8))
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
  } finally ex.close()

  private def receive(ex: HttpExchange): Unit = {
    val body = try ex.getRequestBody.readAllBytes() finally ex.getRequestBody.close()
    receipts.add(body)
    ex.sendResponseHeaders(200, -1)
    ex.close()
  }

  /** Check every POST received so far and forget them:
    * (POSTs received, POSTs whose check failed).
    */
  def verdicts(): (Int, Int) = {
    val all = receipts.asScala.toSeq
    receipts.clear()
    val bad = all.count { body =>
      !(try check(body) catch { case scala.util.control.NonFatal(_) => false })
    }
    (all.size, bad)
  }

  def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Loopback {
  private val mapper = new ObjectMapper()

  /** Parse a submitted FeatureCollection into feature nodes. */
  def features(body: Array[Byte]): Seq[JsonNode] = {
    val root = mapper.readTree(body)
    require(root.get("type").asText() == "FeatureCollection")
    val fs = root.get("features")
    (0 until fs.size()).map(fs.get)
  }

  /** Does `body` carry exactly `expected`'s kept features, each with its
    * `[lon, lat, -depth]` geometry and the icon `QuakeModel.MmiIcons`
    * assigns its mmi?
    */
  def matches(body: Array[Byte], expected: Snapshot): Boolean = {
    val fs = features(body)
    fs.size == expected.kept.size &&
      fs.map(_.get("id").asText()).toSet == expected.keptIds &&
      fs.forall { f =>
        val q = expected.byId(f.get("id").asText())
        val c = f.get("geometry").get("coordinates")
        f.get("type").asText() == "Feature" &&
          c.size() == 3 && c.get(0).asDouble() == q.lon &&
          c.get(1).asDouble() == q.lat && c.get(2).asDouble() == -q.depth &&
          f.get("properties").get("icon").asText() == q.icon &&
          f.get("properties").get("metadata").get("mmi").asInt() == q.mmi
      }
  }
}

/** Bytes and time spent in the transport seam. */
final class SourceStats {
  val fetchNs, submitNs, bytesIn, bytesOut, fetches, submits = new AtomicLong()
}

/** The production [[graft.sources.JdkHttpTransport]] pointed at the
  * loopback emulator. `GeoNetHttp.quakeUrl` is hard-wired to
  * api.geonet.org.nz, so that host is rewritten to the emulator; any URL
  * that would still leave 127.0.0.1 is refused. The `sources.*` spans and
  * byte counts are recorded here, for traced operations only.
  */
final class LoopbackTransport(inner: HttpTransport, port: Int,
    val stats: SourceStats) extends HttpTransport {
  private val geonet = GeoNetHttp.ApiBase.takeWhile(_ != '?')
    .split('/').take(3).mkString("/")
  private val local = s"http://127.0.0.1:$port"

  private def rewrite(url: String): String = {
    val u = if (url.startsWith(geonet)) local + url.drop(geonet.length) else url
    require(u.startsWith(local + "/"), s"refusing non-loopback URL $url")
    u
  }

  private def utf8Length(s: String): Long = {
    var n = 0L
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1 else if (c < 0x800) 2
        else if (Character.isHighSurrogate(c)) { i += 1; 4 } else 3)
      i += 1
    }
    n
  }

  override def get(url: String): HttpResponse = Trace.span("sources.fetch") {
    val t0 = System.nanoTime()
    val r = inner.get(rewrite(url))
    if (Trace.enabled) {
      stats.fetchNs.addAndGet(System.nanoTime() - t0)
      stats.fetches.incrementAndGet()
      stats.bytesIn.addAndGet(utf8Length(r.body))
    }
    r
  }

  override def post(url: String, body: String, contentType: String): HttpResponse =
    Trace.span("sources.submit") {
      val t0 = System.nanoTime()
      val r = inner.post(rewrite(url), body, contentType)
      if (Trace.enabled) {
        stats.submitNs.addAndGet(System.nanoTime() - t0)
        stats.submits.incrementAndGet()
        stats.bytesOut.addAndGet(utf8Length(body))
      }
      r
    }
}

package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.quakes.QuakeRunner
import graft.sources.{GeoNetHttp, JdkHttpTransport}

/** `etl_batch`: closed loop, one client. One operation is one
  * `QuakeRunner.run` — GET the feed from the loopback emulator, filter
  * and project it, POST the snapshot to the loopback sink.
  */
final class EtlBatch(seed: Long) extends Workload {
  private val gen = new FeatureGen(seed)
  private val snap = gen.snapshot(EtlBatch.Features)
  private val env = Map("MMI" -> "-1", "Max Age Minutes" -> gen.maxAgeMinutes.toString)
  private val loopback =
    new Loopback(Main.MaxHttpThreads, snap.quakes, Loopback.matches(_, snap))
  private val transport =
    new LoopbackTransport(new JdkHttpTransport(), loopback.port, new SourceStats)
  // the emulator filters on ?MMI= the way the real API does
  require(Loopback.features(GeoNetHttp.fetchBody(transport, 5).getBytes("UTF-8")).size ==
    snap.quakes.count(_.mmi >= 5), "GeoNet emulator ignores ?MMI=")

  import EtlBatch.Op

  private def op(spark: SparkSession, id: Long): Op = {
    OpTag.set(spark, id)
    var logged = 0L
    val t0 = System.nanoTime()
    val n = try Trace.withOp(id) {
      Trace.span("quakes.run") {
        QuakeRunner.run(spark, env, loopback.sinkUrl, transport, gen.nowMs,
          log = line => if (line.startsWith("ok - fetched")) logged = System.nanoTime())
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"etl_batch op $id failed: $e"); -1L }
    Op(id, t0, System.nanoTime(), logged, Trace.enabled, n == snap.kept.size)
  }

  override def stores(spark: SparkSession): Unit = ()

  override def warmUp(spark: SparkSession): Unit = {
    op(spark, 0L)
    loopback.receipts.clear()
  }

  /** Run times keep falling for the first ~40 runs of a JVM (about
    * 25 s) while the JIT compiles the hot paths; runs measured on that
    * slope make the median depend on how fast this JVM warmed up.
    */
  override def settle(spark: SparkSession): Unit = {
    val end = System.nanoTime() + (EtlBatch.SettleSeconds * 1e9).toLong
    while (System.nanoTime() < end) op(spark, 0L)
    loopback.receipts.clear()
  }

  override def measure(spark: SparkSession, seconds: Int, r: Report,
      probe: Option[EngineProbe]): Unit = {
    val traced = probe.isDefined
    val end = System.nanoTime() + seconds * 1000000000L
    val t0 = System.nanoTime()
    val ops = Iterator.from(1).takeWhile(_ => System.nanoTime() < end).map { i =>
      // the traced run alternates traced and untraced operations, so
      // the tracing overhead is measured inside one process
      Trace.enabled = traced && i % 2 == 1
      op(spark, i)
    }.toVector
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.enabled = false
    val (receipts, badPosts) = loopback.verdicts()
    r.attempted = ops.size
    r.failed = ops.count(!_.ok) + badPosts + math.max(0, ops.count(_.ok) - receipts)
    val lat = ops.map(o => (o.endNs - o.startNs) / 1e9)
    val kept = ops.count(_.ok).toDouble * snap.kept.size
    r.metric("latency_p50_s", Stats.median(lat))
    r.metric("latency_tail_s", Stats.percentile(lat, EtlBatch.TailPct))
    r.metric("throughput_per_s", kept / wall)
    r.note("features_per_s", kept / wall, "features/s")
    r.note("operations", ops.size, "count")
    r.note("tail_percentile", EtlBatch.TailPct, "pct")
    probe.foreach { p =>
      Main.drainListeners(spark)
      val tracedOps = ops.filter(_.traced)
      val spans = Trace.all.groupBy(_.op)
      val st = transport.stats
      val n = math.max(1L, st.fetches.get).toDouble
      r.metric("sources.fetch_s", st.fetchNs.get / 1e9 / n)
      r.metric("sources.submit_s", st.submitNs.get / 1e9 / math.max(1L, st.submits.get))
      r.metric("sources.bytes_in", st.bytesIn.get / n)
      r.metric("sources.bytes_out", st.bytesOut.get / math.max(1L, st.submits.get).toDouble)
      // quakes.plan: GET return → first job; quakes.exec: first job →
      // the "ok - fetched N" log line
      val firstJob = p.jobStarts.asScala.toSeq.groupBy(_._1)
        .map { case (o, ts) => o -> ts.map(_._2).min }
      tracedOps.foreach { o =>
        for {
          fetch <- spans.getOrElse(o.id, Nil).find(_.name == "sources.fetch")
          job <- firstJob.get(o.id)
        } {
          Trace.record("quakes.plan", o.id, fetch.endNs, job)
          Trace.record("quakes.exec", o.id, job, o.loggedNs)
        }
      }
      val all = Trace.all.groupBy(_.op)
      def med(name: String) = Stats.median(tracedOps.flatMap(o =>
        all.getOrElse(o.id, Nil).filter(_.name == name).map(_.seconds)))
      r.metric("quakes.plan_s", med("quakes.plan"))
      r.metric("quakes.exec_s", med("quakes.exec"))
      Main.engineLayer(r, p, ops.size, wall)
      Main.traceLayer(r, tracedOps.map(o => (o.startNs, o.endNs, all.getOrElse(o.id, Nil))),
        ops.filterNot(_.traced).map(o => (o.endNs - o.startNs) / 1e9), "quakes")
    }
  }

  override def close(): Unit = loopback.close()
}

object EtlBatch {
  final case class Op(id: Long, startNs: Long, endNs: Long, loggedNs: Long,
      traced: Boolean, ok: Boolean)

  val Features = 5000
  val SettleSeconds = 24.0
  val TailPct = 90.0
}

package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload. The harness sets it up once, from JVM start
  * (`setup_s`), lets it settle, then measures.
  */
trait Workload {
  /** The fixtures and stores the operations need. */
  def stores(spark: SparkSession): Unit
  /** The first operation, which pays one-off code loading. */
  def warmUp(spark: SparkSession): Unit
  /** Untimed operations while the JIT compiles the hot paths: operation
    * times keep falling for the first few dozen operations of a JVM.
    */
  def settle(spark: SparkSession): Unit
  /** Timed operations for `seconds`; fills `report`. */
  def measure(spark: SparkSession, seconds: Int, report: Report,
      probe: Option[EngineProbe]): Unit
  def close(): Unit = ()
}

final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: File, metrics: Seq[(String, String)], tables: String,
    expected: File, record: Boolean)

/** Benchmark process entry point: `--workload --seed --seconds --trace
  * --work <scratch dir> --metrics <name=unit,...>`, plus for the catalogue
  * `--tables <dir> --expected <json> [--record 1]`. Prints the metrics
  * and, as the last line, the result object with the `--metrics` set.
  */
object Main {
  val Cores = 4
  val MaxHttpThreads = math.min(Cores, Runtime.getRuntime.availableProcessors())

  def session(dir: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions())
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(dir, "checkpoints").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(args: Array[String]): RunArgs = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    RunArgs(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("work")),
      m("metrics").split(',').toSeq.map { nu =>
        val Array(n, u) = nu.split('=')
        n -> u
      },
      m.getOrElse("tables", ""), new File(m.getOrElse("expected", "")),
      m.getOrElse("record", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(argv); 0 } catch { case e: Throwable =>
      e.printStackTrace(); 1 }
    System.out.flush()
    // stray non-daemon threads (HTTP client, stream executors) must not
    // keep the process alive after the result line
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val jvmStart = Trace.fromEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime)
    val args = parse(argv)
    val report = new Report(args.metrics)
    val wl: Workload = args.workload match {
      case "etl_batch" => new EtlBatch(args.seed)
      case "catalogue" =>
        new Catalogue(args.seed, args.tables, args.expected, args.record)
      case w => sys.error(s"unknown workload $w")
    }
    // set-up runs from JVM start: class loading, the session, the stores
    // and the first operation
    val spark = session(new File(args.work, "spark"))
    val t1 = System.nanoTime()
    wl.stores(spark)
    val t2 = System.nanoTime()
    wl.warmUp(spark)
    val t3 = System.nanoTime()
    report.metric("setup_s", (t3 - jvmStart) / 1e9)
    report.metric("setup.session_s", (t1 - jvmStart) / 1e9)
    report.metric("setup.stores_s", (t2 - t1) / 1e9)
    report.metric("setup.warmup_s", (t3 - t2) / 1e9)

    val t = System.nanoTime()
    wl.settle(spark)
    report.note("settle_s", (System.nanoTime() - t) / 1e9, "s")

    val probe = if (args.trace) {
      val p = new EngineProbe
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    Trace.enabled = args.trace
    try wl.measure(spark, args.seconds, report, probe)
    finally {
      Trace.enabled = false
      if (args.trace) Trace.dump(new File(args.work, s"../traces/${args.workload}-${args.seed}.jsonl"))
      wl.close()
    }
    System.gc()
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    report.metric("jvm.heap_after_gc_mb", heap / 1048576.0)
    report.note("process_s", (System.nanoTime() - jvmStart) / 1e9, "s")
    spark.stop()
    report.print()
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.graftbridge.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)

  val Layers = Seq("quakes", "sources", "spark", "streaming", "queries")

  /** Traced-run summary: the median traced operation's latency, its
    * self time per layer (these add up to that latency), and the
    * tracing overhead against the untraced operations of the same run.
    */
  def traceLayer(r: Report, traced: Seq[(Long, Long, Seq[Span])],
      untracedLatency: Seq[Double], rootLayer: String): Unit = {
    val byLatency = traced.sortBy { case (a, b, _) => b - a }
    val mid = byLatency.lift((byLatency.size - 1) / 2)
    val self = mid.map { case (a, b, spans) => Trace.selfTimes(a, b, spans, rootLayer) }
      .getOrElse(Map.empty)
    Layers.foreach(l => r.metric(s"self.${l}_s", self.getOrElse(l, 0.0)))
    val p50 = mid.map { case (a, b, _) => (b - a) / 1e9 }.getOrElse(Double.NaN)
    r.metric("trace.latency_p50_s", p50)
    r.metric("trace.overhead_s", p50 - Stats.median(untracedLatency))
  }

  /** Trigger phases (median over triggers) and peak state size. */
  def streamLayer(r: Report, s: StreamProbe): Unit = {
    val trig = s.triggers.asScala.toVector
    def dur(k: String) =
      if (trig.isEmpty) 0.0 else Stats.median(trig.map(_.durations.getOrElse(k, 0L) / 1000.0))
    r.metric("streaming.trigger_s", dur("triggerExecution"))
    r.metric("streaming.add_batch_s", dur("addBatch"))
    r.metric("streaming.query_planning_s", dur("queryPlanning"))
    r.metric("streaming.latest_offset_s", dur("latestOffset"))
    r.metric("streaming.wal_commit_s", dur("walCommit"))
    r.metric("streaming.commit_offsets_s", dur("commitOffsets"))
    r.metric("streaming.state_rows", (0L +: trig.map(_.stateRows)).max.toDouble)
    r.metric("streaming.state_bytes", (0L +: trig.map(_.stateBytes)).max.toDouble)
  }

  /** The per-layer engine counters, per operation. */
  def engineLayer(r: Report, p: EngineProbe, ops: Long, wallS: Double): Unit = {
    val n = math.max(1L, ops).toDouble
    r.metric("spark.core_busy_frac", p.taskBusyMs.get / 1000.0 / (wallS * Cores))
    r.metric("spark.jobs", p.jobs.get / n)
    r.metric("spark.stages", p.stages.get / n)
    r.metric("spark.tasks", p.tasks.get / n)
    r.metric("spark.task_busy_s", p.taskBusyMs.get / 1000.0 / n)
    r.metric("spark.gc_s", p.gcMs.get / 1000.0 / n)
    r.metric("spark.shuffle_write_bytes", p.shuffleWrite.get / n)
    r.metric("spark.shuffle_read_bytes", p.shuffleRead.get / n)
    r.metric("spark.spill_bytes", p.spill.get / n)
    r.metric("spark.max_task_share",
      if (p.stageTaskMs.get == 0) 0.0 else p.stageMaxTaskMs.get.toDouble / p.stageTaskMs.get)
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Local property that tags every Spark job with the benchmark operation
  * submitted it, so job spans land under the right operation.
  */
object OpTag {
  val Key = "perfbench.op"
  def set(spark: SparkSession, op: Long): Unit =
    spark.sparkContext.setLocalProperty(Key, op.toString)
}

/** Engine counters from a SparkListener: job/stage/task counts, task busy
  * and GC time, shuffle and spill bytes, and per-stage task skew. Job
  * intervals become `spark.job` spans.
  */
final class EngineProbe extends SparkListener {
  val jobs, stages, tasks = new AtomicLong()
  val shuffleWrite, shuffleRead, spill = new AtomicLong()
  val taskBusyMs, gcMs = new AtomicLong()
  // Σ over stages of the longest task, and of all tasks (ms)
  val stageMaxTaskMs, stageTaskMs = new AtomicLong()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageMax = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  /** (op, start ns) of every job start, for the quake plan/exec split. */
  val jobStarts = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpTag.Key)))
      .flatMap(_.toLongOption).getOrElse(0L)
    val t = Trace.fromEpochMs(e.time)
    jobStart.put(e.jobId, (op, t))
    jobStarts.add((op, t))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      Trace.record("spark.job", op, t0, Trace.fromEpochMs(e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val d = e.taskInfo.duration
    taskBusyMs.addAndGet(d)
    stageTaskMs.addAndGet(d)
    stageMax.merge(e.stageId, d, (a, b) => math.max(a, b))
    val m = e.taskMetrics
    if (m != null) {
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    Option(stageMax.remove(e.stageInfo.stageId))
      .foreach(v => stageMaxTaskMs.addAndGet(v))
  }
}

/** Per-trigger durations and state sizes from a StreamingQueryListener. */
final class StreamProbe extends StreamingQueryListener {
  import StreamProbe.Trigger
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    // triggers that found no new input report no addBatch; they are polls
    if (d.contains("addBatch")) {
      val start = Trace.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val ops = p.stateOperators
      triggers.add(Trigger(start, d, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
      // triggers run on the query's own thread: operation 0, attributed
      // to operations by time window
      Trace.record("streaming.trigger", 0L, start,
        start + d.getOrElse("triggerExecution", 0L) * 1000000L)
    }
  }
}

object StreamProbe {
  final case class Trigger(startNs: Long, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long)
}

/** Small numeric helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size - 1, math.max(0, rank - 1)))
    }
}

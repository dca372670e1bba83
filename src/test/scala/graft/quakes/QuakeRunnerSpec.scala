package graft.quakes

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.grafttest.ListenerBusBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.sources.{FakeTransport, HttpResponse}

/** The runner's feed-validation contract and the physical shape of one
  * run: a malformed feed fails before any POST (an empty snapshot would
  * expire every live quake at the sink, task.ts:195-203), and a valid
  * one runs as a single map-only Spark job over several partitions,
  * through a prepared snapshot that later runs reuse without compiling.
  */
class QuakeRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val SinkUrl = "https://sink.example/fc"

  private def serving(body: String) =
    new FakeTransport(_ => HttpResponse(200, "OK", body))

  private def runOn(t: FakeTransport, nowMs: Long = FixtureNowMs): Long =
    QuakeRunner.run(spark, Map("Max Age Minutes" -> "525600"), SinkUrl,
      transport = t, nowMs = nowMs, log = _ => ())

  /** Jobs, stages, tasks and shuffle-write bytes of the Spark work `body`
    * starts.
    */
  private def counted(body: => Unit): (Int, Int, Int, Long) = {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger(0)
    val shuffleWrite = new AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        shuffleWrite.addAndGet(
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    // deliver earlier suites' events before counting
    ListenerBusBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusBridge.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get(), stages.get(), tasks.get(), shuffleWrite.get())
  }

  Seq(
    "a truncated body" -> FixtureJson.take(FixtureJson.length / 2),
    "a 200-status HTML page" ->
      "<html><body><h1>502 Bad Gateway</h1></body></html>",
    "a top-level array" -> "[]",
    "a null features member" -> """{"features":null}""",
    "no features member" -> """{"type":"FeatureCollection"}""",
    "a non-object feature" -> """{"features":[42]}""",
    "trailing content" -> (FixtureJson + " {}")
  ).foreach { case (what, body) =>
    test(s"$what fails the run with `Failed to parse data` and no POST") {
      val t = serving(body)
      val e = intercept[RuntimeException](runOn(t))
      assert(e.getMessage.startsWith("Failed to parse data: "), e.getMessage)
      assert(t.gets.size == 1)
      assert(t.posts.isEmpty)
    }
  }

  test("an empty features array still submits an empty snapshot") {
    val t = serving("""{"type":"FeatureCollection","features":[]}""")
    assert(runOn(t) == 0)
    assert(t.posts.map(_._2).toSeq ==
      Seq("""{"type":"FeatureCollection","features":[]}"""))
  }

  test("null features are skipped and the rest of the array is read") {
    val fs = QuakePipeline.featureTexts(FixtureJson)
    val withNulls = fs.flatMap(f => Seq("null", f))
      .mkString("""{"features":[null,""", " , ", ",null]}")
    assert(QuakePipeline.featureTexts(withNulls) == fs)
    val t = serving(withNulls)
    assert(runOn(t) == 5)
    assert(t.posts.size == 1)
  }

  test("feature texts are exact slices of the body, non-ASCII included") {
    val a = """{"properties":{"locality":"Ōtaki \"north\" 🌏"}}"""
    val b = """{"geometry":{"coordinates":[1.5,-2]}}"""
    val body = s"""{"type":"FeatureCollection","features":[$a,\n  $b]}"""
    assert(QuakePipeline.featureTexts(body) == Vector(a, b))
  }

  test("feature slices are exact byte ranges of the UTF-8 body") {
    val a = """{"properties":{"locality":"Ōtaki \"north\" 🌏"}}"""
    val b = """{"geometry":{"coordinates":[1.5,-2]}}"""
    val head = """{"type":"FeatureCollection","features":[null,"""
    val beforeB = s"$head\n$a,\n null ,\r\n  "
    val body = s"$beforeB$b\n]}"
    def bytes(s: String) = s.getBytes(UTF_8).length
    val slices = QuakePipeline.featureSlices(body)
    assert(slices.bytes.sameElements(body.getBytes(UTF_8)))
    val (aStart, bStart) = (bytes(head) + 1, bytes(beforeB))
    assert(slices.bounds.toSeq ==
      Seq(aStart, aStart + bytes(a), bStart, bStart + bytes(b)))
    assert((0 until slices.size).map(slices.utf8(_).toString) == Seq(a, b))
    // a chunk copies just its features' bytes, with offsets into the copy
    val second = slices.chunk(1, 2)
    assert(new String(second.bytes, UTF_8) == b)
    assert(second.bounds.toSeq == Seq(0, bytes(b)))
    assert(slices.chunk(0, 2).utf8(1).toString == b)
  }

  test("the fixture parses into min(6, defaultParallelism) > 1 partitions") {
    val n = math.min(6, spark.sparkContext.defaultParallelism)
    assert(n > 1)
    assert(QuakePipeline.parseFeatureCollection(spark, FixtureJson)
      .rdd.getNumPartitions == n)
  }

  test("one run is exactly one Spark job, with no Exchange or " +
    "BroadcastExchange in its executed plan") {
    // a prepared run executes no SQL plan: one stage and no shuffle write
    // is the same guarantee at stage level
    val (jobs, stages, _, shuffleWrite) =
      counted(assert(runOn(serving(FixtureJson)) == 5))
    assert(jobs == 1)
    assert(stages == 1)
    assert(shuffleWrite == 0L)
  }

  test("each run's job is described as `GeoNet snapshot`, and the " +
    "caller's description and other local properties are kept") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add((js.properties.getProperty("spark.job.description"),
          js.properties.getProperty("caller.op")))
        ()
      }
    }
    ListenerBusBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription("the caller's job")
    sc.setLocalProperty("caller.op", "7")
    try {
      assert(runOn(serving(FixtureJson)) == 5)
      ListenerBusBridge.waitUntilEmpty(sc)
      assert(sc.getLocalProperty("spark.job.description") == "the caller's job")
      assert(sc.getLocalProperty("caller.op") == "7")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
      sc.setLocalProperty("caller.op", null)
    }
    assert(jobs.asScala.toSeq == Seq(("GeoNet snapshot", "7")))
  }

  test("a second run with a new nowMs reuses the prepared snapshot and " +
    "compiles no code") {
    val oneJob = (1, 1, math.min(6, spark.sparkContext.defaultParallelism), 0L)
    val compilations = CodegenMetrics.METRIC_COMPILATION_TIME
    assert(counted(assert(runOn(serving(FixtureJson)) == 5)) == oneJob)
    val before = compilations.getCount
    assert(counted(assert(
      runOn(serving(FixtureJson), FixtureNowMs + 3600 * 1000L) == 5)) == oneJob)
    assert(compilations.getCount == before)
  }
}

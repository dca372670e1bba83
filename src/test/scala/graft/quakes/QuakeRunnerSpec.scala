package graft.quakes

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.grafttest.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.QuakeQueries.{FixtureJson, FixtureNowMs}
import graft.sources.{FakeTransport, HttpResponse}

/** The runner's feed-validation contract and the physical shape of one
  * run: a malformed feed fails before any POST (an empty snapshot would
  * expire every live quake at the sink, task.ts:195-203), and a valid
  * one runs as a single map-only Spark job over several partitions.
  */
class QuakeRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val SinkUrl = "https://sink.example/fc"

  private def serving(body: String) =
    new FakeTransport(_ => HttpResponse(200, "OK", body))

  private def runOn(t: FakeTransport): Long =
    QuakeRunner.run(spark, Map("Max Age Minutes" -> "525600"), SinkUrl,
      transport = t, nowMs = FixtureNowMs, log = _ => ())

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

  test("the fixture parses into min(6, defaultParallelism) > 1 partitions") {
    val n = math.min(6, spark.sparkContext.defaultParallelism)
    assert(n > 1)
    assert(QuakePipeline.parseFeatureCollection(spark, FixtureJson)
      .rdd.getNumPartitions == n)
  }

  test("one run is exactly one Spark job, with no Exchange or " +
    "BroadcastExchange in its executed plan") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val plans =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // deliver earlier suites' events before counting
    ListenerBusBridge.waitUntilEmpty(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val t = serving(FixtureJson)
      assert(runOn(t) == 5)
      ListenerBusBridge.waitUntilEmpty(sc)
      assert(jobs.get() == 1)
      // the snapshot collect, plus the job-less scan that converts the
      // feature texts for the JSON reader
      assert(plans.size() > 0)
      plans.asScala.foreach(plan => assert(!plan.contains("Exchange"), plan))
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }
}

package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Spark's `QueryExecutionListener` sees a DataFrame action. The engine
  * registers none: a `QuakeRunner` run starts its one job through
  * `sc.runJob`, which makes no `QueryExecution`, and its run metrics
  * (K2, task.ts:174,255) are the runner's own `ok -` log lines.
  */
class RunMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("listener captures action name and duration for executed queries") {
    val seen = new ConcurrentLinkedQueue[(String, Long)]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add((funcName, durationNs))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Tables.nation(spark, TestSpark.Sf0001).collect()
      // listener callbacks run async on the listener bus
      val deadline = System.nanoTime() + 10e9.toLong
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen.asScala.exists { case (action, ns) =>
        action == "collect" && ns > 0 })
    } finally spark.listenerManager.unregister(l)
  }
}

package graft.quakes

import org.apache.spark.sql.SparkSession

import graft.quakes.QuakeModel.QuakeConfig
import graft.sources.{GeoNetHttp, HttpTransport}

/** The reference's `control()` loop end-to-end (task.ts:160-261):
  * env → validate → log → fetch → transform → submit → log.
  *
  * Network and clock are injected so the whole run is testable with a
  * fake transport and a pinned `now`; the Spark work in the middle is
  * the session's [[PreparedSnapshot]] for the config: per run, one
  * map-only job named `GeoNet snapshot` over UTF-8 slices of the body,
  * with no query planning, no closure cleaning and no code generation.
  * Config errors throw before any fetch,
  * fetch/submit non-2xx throw with the reference's messages, and a body
  * that is not a FeatureCollection throws `Failed to parse data: …`
  * before anything is submitted — the caller decides whether to
  * log-and-rethrow as task.ts:257-260 does.
  */
object QuakeRunner {

  /** Render a Double the way JS template literals do — integral values
    * without the trailing `.0` — so log lines match the reference's
    * (`from the last 10080 minutes`, task.ts:174).
    */
  private def jsNum(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** @param env       env-style config ('MMI', 'Max Age Minutes')
    * @param submitUrl where the snapshot FeatureCollection is POSTed
    * @param transport HTTP seam (defaults to [[GeoNetHttp.LiveTransport]])
    * @param nowMs     run clock, captured once (task.ts:184)
    * @param log       sink for the reference's `ok - ...` lines
    * @return number of features submitted
    */
  def run(spark: SparkSession, env: Map[String, String], submitUrl: String,
      transport: HttpTransport = GeoNetHttp.LiveTransport,
      nowMs: Long = System.currentTimeMillis(),
      log: String => Unit = println): Long = {
    val cfg = QuakeConfig.fromEnv(env)
    // task.ts:174
    log(s"ok - Fetching earthquakes with MMI >= ${cfg.mmi} " +
      s"from the last ${jsNum(cfg.maxAgeMinutes)} minutes")
    val body = GeoNetHttp.fetchBody(transport, cfg.mmi)
    val (fcJson, n, _) =
      QuakePipeline.prepare(spark, cfg).snapshotWithIds(spark, body, nowMs)
    // task.ts:255
    log(s"ok - fetched $n earthquakes")
    GeoNetHttp.submit(transport, submitUrl, fcJson)
    n
  }
}

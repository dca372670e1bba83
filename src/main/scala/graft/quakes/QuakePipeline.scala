package graft.quakes

import java.io.IOException

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.quakes.QuakeModel._
import graft.quakes.QuakeFunctions._

/** The GeoNet → CoT pipeline (reference task.ts:160-261), Spark-first.
  *
  * `transform` is the one definition of the semantics. DataFrame users
  * (the streaming sinks, the registered queries) run it as a query; the
  * batch runner runs it through a [[PreparedSnapshot]]: the filter /
  * project / `to_json` of the snapshot analysed, optimised and bound
  * once per session and config ([[prepare]]), with `now` an input
  * column instead of a literal, so a new run clock reuses the same
  * compiled code.
  *
  * Physical shape of one prepared run: a driver-side streaming pass cuts
  * the response body into one JSON text per feature; ONE map-only job
  * over `min(features, defaultParallelism)` partitions parses each text,
  * filters (age, quality) and projects (P1-P11) it with the prepared
  * evaluators and renders its JSON; the driver joins the partitions'
  * JSON in partition order. No Exchange, no broadcast join, no planning.
  *
  * Both dictionary lookups (icon P4, intensity P5) are map literals +
  * `element_at` + default, which Catalyst constant-folds into the
  * projection; Catalyst also pushes the two filters below it and folds
  * every constant subexpression — the three manual optimizations the
  * reference hand-codes (SURVEY.md §4) fall out automatically.
  *
  * `now` is captured ONCE per run — a literal in a DataFrame run, a
  * column of every input row in a prepared one — matching the
  * reference's single `Date.now()` at task.ts:184 (we deliberately collapse
  * its second clock read at task.ts:221 into the same instant for
  * determinism; divergence is timing-only).
  *
  * At scale: `transform` is a per-row filter+project over any feature
  * frame, so the same code runs unchanged over a backfill of historical
  * feature archives partitioned by event date; only the snapshot
  * assembly is driver-bound, and it is one API response by definition.
  */
object QuakePipeline {

  private val Json = new JsonFactory()

  private def parseError(why: String): Nothing =
    throw new RuntimeException(s"Failed to parse data: $why")

  /** Cut a GeoNet response body into the JSON text of each `features[]`
    * element, in one streaming pass that materializes no tree. `null`
    * elements are skipped. Anything the reference's `res.json()` /
    * `for…of body.features` (task.ts:183,187) would throw on — a body
    * that is not one JSON object, or whose `features` is not an array —
    * fails with `Failed to parse data: …`, so a malformed feed can never
    * turn into an empty snapshot that expires every live quake.
    */
  private[quakes] def featureTexts(body: String): Vector[String] = {
    val p = Json.createParser(body)
    def offset: Int = p.currentTokenLocation().getCharOffset.toInt
    // Jackson throws on end of input anywhere below the root object, so
    // these loops cannot spin on a truncated body
    def features(): Vector[String] = {
      val out = Vector.newBuilder[String]
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY) {
        t match {
          case JsonToken.VALUE_NULL =>
          case JsonToken.START_OBJECT =>
            val start = offset
            p.skipChildren()
            out += body.substring(start, offset + 1)
          case other => parseError(s"feature is $other, not an object")
        }
        t = p.nextToken()
      }
      out.result()
    }
    try {
      if (p.nextToken() != JsonToken.START_OBJECT)
        parseError("body is not a JSON object")
      var fs: Option[Vector[String]] = None
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        val t = p.nextToken()
        if (name != "features") p.skipChildren()
        else if (t == JsonToken.START_ARRAY) fs = Some(features())
        else parseError(s"features is $t, not an array")
      }
      if (p.nextToken() != null) parseError("trailing content after the body")
      fs.getOrElse(parseError("body has no features array"))
    } catch {
      case e: IOException => parseError(e.getMessage)
    } finally p.close()
  }

  /** Parse a GeoNet API response body (a FeatureCollection JSON string)
    * into one row per feature (reference task.ts:183 + loop at 187), in
    * `min(features, defaultParallelism)` partitions.
    *
    * The feature texts are parallelized as an RDD rather than a local
    * Seq: a `LocalRelation` would let the optimizer evaluate the whole
    * parse and projection on the driver, in one thread.
    */
  def parseFeatureCollection(spark: SparkSession, json: String): DataFrame = {
    val texts = featureTexts(json)
    val sc = spark.sparkContext
    val rdd = sc.parallelize(texts,
      math.max(1, math.min(texts.size, sc.defaultParallelism)))
    spark.read.schema(GeoNetFeatureSchema)
      .json(spark.createDataset(rdd)(Encoders.STRING))
  }

  /** F1 — the reference pushes `MMI >= mmi` into the source URL
    * (task.ts:176). Against a materialized table the same predicate is a
    * plain filter that Catalyst pushes into the parquet scan.
    */
  def mmiFilter(cfg: QuakeConfig): Column = col("properties.mmi") >= cfg.mmi

  /** Full transform: GeoNet feature rows → CoT feature rows.
    *
    * @param features one row per GeoNet feature, schema [[GeoNetFeatureSchema]]
    * @param cfg      validated env config (task.ts:162-172)
    * @param nowMs    run timestamp, epoch millis (task.ts:184)
    */
  def transform(features: DataFrame, cfg: QuakeConfig, nowMs: Long): DataFrame =
    transform(features, cfg, lit(nowMs))

  /** [[transform]] with the run timestamp as any LONG epoch-millis
    * column: a literal, or a column of `features` as in [[prepare]].
    */
  def transform(features: DataFrame, cfg: QuakeConfig, now: Column): DataFrame = {
    val p = col("properties")
    val eventTs = to_timestamp(p("time"))

    val filtered = features
      // F2 (task.ts:190-193): keep iff ageMinutes <= maxAge (strict `>` drops)
      .filter(ageMinutes(eventTs, now) <= cfg.maxAgeMinutes)
      // F3 (task.ts:195-204): GeoNet reclassified events are excluded
      .filter(p("quality") =!= "deleted")

    // P4/P5: icon and intensity lookups, map literal + default on miss
    val icon = lookupWithDefault(p("mmi"), MmiIcons, DefaultIcon)
    val intensity =
      lookupWithDefault(p("mmi"), MmiIntensity, DefaultIntensity)

    val timeLocal = nzLocal(eventTs, now)
    val staleIso = toIso(timestamp_millis(now + lit(5L * 60 * 1000)))

    // P9 (task.ts:233-242): 8 formatted lines joined with '\n'
    val remarks = concat_ws("\n",
      format_string("Magnitude: %.2f", p("magnitude")),
      concat(lit("MMI: "), p("mmi").cast("string")),
      concat(lit("Intensity: "), intensity),
      concat(lit("Location: "), p("locality")),
      concat(lit("Time (UTC): "), p("time")),
      concat(lit("Time (NZ): "), timeLocal),
      format_string("Depth: %.1f km", p("depth")),
      concat(lit("Information Quality: "), p("quality")))

    filtered.select(
      // P1 (task.ts:213)
      concat(lit("earthquake-"), p("publicID")).as("id"),
      lit("Feature").as("type"),
      struct(
        // P2 (task.ts:216) — JS toFixed(1) ≈ JVM %.1f; divergence only at
        // shortest-decimal half-boundaries (SURVEY.md §7.4 risk 1)
        format_string("M%.1f %s", p("magnitude"), p("locality")).as("callsign"),
        lit(CotType).as("type"),
        icon.as("icon"),
        p("time").as("time"),
        p("time").as("start"),
        staleIso.as("stale"),
        // P8 (task.ts:222-232) — field order is the published contract
        struct(
          p("magnitude").as("magnitude"),
          p("mmi").as("mmi"),
          intensity.as("intensity"),
          p("locality").as("locality"),
          p("depth").as("depth"),
          p("quality").as("quality"),
          p("publicID").as("publicID"),
          p("time").as("timeUTC"),
          timeLocal.as("timeLocal")
        ).as("metadata"),
        remarks.as("remarks")
      ).as("properties"),
      // P10/P11 (task.ts:206-208,244-247): [lon, lat, -depth] — CoT altitude
      // is up-positive HAE, quake depth is km down, hence the negation
      struct(
        lit("Point").as("type"),
        array(
          col("geometry.coordinates").getItem(0),
          col("geometry.coordinates").getItem(1),
          -p("depth")
        ).as("coordinates")
      ).as("geometry")
    )
  }

  /** K1 (task.ts:251-256): assemble the run's snapshot FeatureCollection as
    * a single JSON payload. The POST itself is an external side effect
    * outside the engine.
    */
  def toFeatureCollectionJson(cot: DataFrame): String = snapshot(cot)._1

  /** K1 payload + feature count in one action (the count feeds the
    * reference's `ok - fetched N earthquakes` log line, task.ts:255).
    */
  def snapshot(cot: DataFrame): (String, Long) = {
    val (json, n, _) = snapshotWithIds(cot)
    (json, n)
  }

  /** [[snapshot]] plus the snapshot's feature ids, still ONE action: the
    * streaming expiry sink needs the id set, and a `foreachBatch` frame
    * is recomputed per action — a separate ids collect would run the
    * whole micro-batch twice.
    *
    * Each partition renders its own features with `to_json`, and the
    * driver only concatenates them in partition order: the payload is
    * byte-for-byte what `to_json` of the whole collection would print,
    * without a shuffle of every feature to one partition.
    */
  def snapshotWithIds(cot: DataFrame): (String, Long, Seq[String]) = {
    val rows = snapshotRows(cot).collect()
    (featureCollection(rows.iterator.map(_.getString(0))), rows.length.toLong,
      rows.toSeq.map(_.getString(1)))
  }

  /** One row per CoT feature: its JSON, then its id. */
  private def snapshotRows(cot: DataFrame): DataFrame =
    cot.select(
      to_json(struct(col("id"), col("type"), col("properties"),
        col("geometry"))),
      col("id"))

  /** The K1 payload around already-rendered feature JSON. */
  private[quakes] def featureCollection(features: Iterator[String]): String =
    features.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  /** Weak keys: a stopped session's prepared snapshots go with it. */
  private val prepared =
    new java.util.WeakHashMap[SparkSession, java.util.Map[QuakeConfig, PreparedSnapshot]]()

  /** The session's [[PreparedSnapshot]] for `cfg`: planned on first use
    * and again only if the session's configuration changed since, as
    * the time zone and SQL flags are fixed in the plan.
    */
  def prepare(spark: SparkSession, cfg: QuakeConfig): PreparedSnapshot = {
    val conf = spark.conf.getAll
    prepared.synchronized {
      val bySession = prepared.computeIfAbsent(spark, _ => new java.util.HashMap())
      Option(bySession.get(cfg)).filter(_.conf == conf).getOrElse {
        val p = plan(spark, cfg, conf)
        bySession.put(cfg, p)
        p
      }
    }
  }

  /** [[transform]] and [[snapshotRows]] over an empty frame of feed rows
    * plus a `now` column, optimised but not executed.
    */
  private def plan(spark: SparkSession, cfg: QuakeConfig,
      conf: Map[String, String]): PreparedSnapshot = {
    // the feed schema as the JSON reader gives it, nullability included
    val schema = parseFeatureCollection(spark, """{"features":[]}""").schema
    val rows = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      schema.add(StructField("now", LongType, nullable = false)))
    val query = snapshotRows(transform(rows, cfg, col("now")))
    PreparedSnapshot(spark, schema, query.queryExecution.optimizedPlan, conf)
  }

  /** J2 (task.ts:195-203 comment): the snapshot sink's expiry semantics —
    * ids present in the previous snapshot but absent from the current one
    * are expired. A left-anti join computes the expired set.
    */
  def expiredIds(previous: DataFrame, current: DataFrame): DataFrame =
    previous.select("id").join(current.select("id"), Seq("id"), "left_anti")
}

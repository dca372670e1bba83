package graft.quakes

import org.apache.spark.sql.types._

/** Data model + semantic constants of the GeoNet quake pipeline.
  *
  * Derived from the reference's declared TypeBox/TS schemas
  * (reference task.ts:34-79) and its two lookup dictionaries
  * (task.ts:6-18 icons, task.ts:21-32 intensities). Schemas are declared
  * statically — the reference serves them via its `schema()` endpoint
  * (task.ts:145-158), so `df.schema` is part of our public API surface too.
  */
object QuakeModel {

  /** Input row: one GeoJSON Feature from the GeoNet quake API (task.ts:64-79).
    * `time` stays a string column at ingest (the reference passes the raw
    * ISO-8601 string through to several output fields, task.ts:219-230);
    * it is parsed to TimestampType only where arithmetic needs it.
    */
  val GeoNetFeatureSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", StructType(Seq(
      StructField("publicID", StringType, nullable = false),
      StructField("time", StringType, nullable = false),
      StructField("depth", DoubleType),
      StructField("magnitude", DoubleType),
      StructField("mmi", IntegerType),
      StructField("locality", StringType),
      StructField("quality", StringType)
    ))),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType),
      StructField("coordinates", ArrayType(DoubleType))
    )))
  ))

  /** Output `metadata` struct — the published layer contract
    * (GeoNetQuakeMetadata, task.ts:49-59), field order as constructed at
    * task.ts:222-232.
    */
  val MetadataSchema: StructType = StructType(Seq(
    StructField("magnitude", DoubleType),
    StructField("mmi", IntegerType),
    StructField("intensity", StringType, nullable = false),
    StructField("locality", StringType),
    StructField("depth", DoubleType),
    StructField("quality", StringType),
    StructField("publicID", StringType, nullable = false),
    StructField("timeUTC", StringType, nullable = false),
    StructField("timeLocal", StringType, nullable = false)
  ))

  /** Output CoT feature (task.ts:212-248). */
  val CotFeatureSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("properties", StructType(Seq(
      StructField("callsign", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("icon", StringType, nullable = false),
      StructField("time", StringType, nullable = false),
      StructField("start", StringType, nullable = false),
      StructField("stale", StringType, nullable = false),
      StructField("metadata", MetadataSchema),
      StructField("remarks", StringType, nullable = false)
    ))),
    StructField("geometry", StructType(Seq(
      StructField("type", StringType, nullable = false),
      StructField("coordinates", ArrayType(DoubleType))
    )))
  ))

  private val IconBase = "bb4df0a6-ca8d-4ba8-bb9e-3deb97ff015e:NaturalHazards/"

  /** MMI → icon (task.ts:6-18); keys 1..11, four distinct tiers. */
  val MmiIcons: Map[Int, String] = Map(
    1 -> s"${IconBase}NH.25A.EarthquakeWeak.png",
    2 -> s"${IconBase}NH.25A.EarthquakeWeak.png",
    3 -> s"${IconBase}NH.25A.EarthquakeWeak.png",
    4 -> s"${IconBase}NH.25A.EarthquakeWeak.png",
    5 -> s"${IconBase}NH.26A.EarthquakeLight.png",
    6 -> s"${IconBase}NH.27A.EarthquakeModerate.png",
    7 -> s"${IconBase}NH.28A.EarthquakeStrong.png",
    8 -> s"${IconBase}NH.29A.EarthquakeSevere.png",
    9 -> s"${IconBase}NH.29A.EarthquakeSevere.png",
    10 -> s"${IconBase}NH.29A.EarthquakeSevere.png",
    11 -> s"${IconBase}NH.29A.EarthquakeSevere.png"
  )

  /** Fallback icon on dictionary miss (task.ts:218). */
  val DefaultIcon: String = s"${IconBase}NH.24.Earthquake.png"

  /** MMI → human intensity (task.ts:21-32); note the -1 key. */
  val MmiIntensity: Map[Int, String] = Map(
    -1 -> "Unnoticeable",
    1 -> "Unnoticeable",
    2 -> "Weak",
    3 -> "Weak",
    4 -> "Light",
    5 -> "Moderate",
    6 -> "Strong",
    7 -> "Very Strong",
    8 -> "Severe",
    9 -> "Violent"
  )

  /** Fallback intensity on dictionary miss (task.ts:225,236). */
  val DefaultIntensity: String = "Unknown"

  /** Constant CoT type: Other / Incident / Geophysical / Event (task.ts:217). */
  val CotType: String = "a-o-X-i-g-e"

  /** Env config with the reference's defaults + validation (task.ts:34-43,
    * 164-172). Validation throws before any work, matching the reference.
    */
  final case class QuakeConfig(mmi: Int = 5, maxAgeMinutes: Double = 10080.0) {
    require(mmi >= -1 && mmi <= 8,
      "Invalid MMI value. Must be between -1 and 8")
    require(!maxAgeMinutes.isNaN, "Invalid max age minutes value")
  }

  object QuakeConfig {
    /** Parse from an env-style string map, with the reference's defaults
      * ('MMI'='5', 'Max Age Minutes'='10080') and Number()-like parsing.
      */
    def fromEnv(env: Map[String, String]): QuakeConfig = {
      val mmi = env.getOrElse("MMI", "5").trim.toDoubleOption
        .getOrElse(throw new IllegalArgumentException(
          "Invalid MMI value. Must be between -1 and 8"))
      require(mmi == mmi.toInt && mmi >= -1 && mmi <= 8,
        "Invalid MMI value. Must be between -1 and 8")
      val maxAge = env.getOrElse("Max Age Minutes", "10080").trim.toDoubleOption
        .getOrElse(throw new IllegalArgumentException(
          "Invalid max age minutes value"))
      QuakeConfig(mmi.toInt, maxAge)
    }
  }
}

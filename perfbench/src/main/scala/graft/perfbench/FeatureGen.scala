package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import graft.quakes.QuakeModel

/** One generated GeoNet feature. */
final case class Quake(publicID: String, timeMs: Long, depth: Double,
    magnitude: Double, mmi: Int, locality: String, quality: String,
    lon: Double, lat: Double) {
  def id: String = "earthquake-" + publicID
  def icon: String = QuakeModel.MmiIcons.getOrElse(mmi, QuakeModel.DefaultIcon)
}

/** A generated API snapshot and what the pipeline must make of it. */
final case class Snapshot(quakes: Vector[Quake], kept: Vector[Quake]) {
  lazy val keptIds: Set[String] = kept.iterator.map(_.id).toSet
  lazy val byId: Map[String, Quake] = kept.iterator.map(q => q.id -> q).toMap
}

/** Seeded GeoNet feature generator. Every filter and lookup branch of the
  * pipeline is hit: over-age rows (plus one exactly at the age limit),
  * `deleted` rows, mmi keys inside and outside both dictionaries
  * (including −1, which only the intensity dictionary knows), event
  * instants on both sides of the NZST→NZDT switch, and non-ASCII
  * localities.
  */
final class FeatureGen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private var serial = 0

  /** Run clock: a few hours after the September 2024 NZ daylight-saving
    * switch (2024-09-28T14:00Z), so the 7-day age window spans NZST and
    * NZDT instants.
    */
  val nowMs: Long = Instant.parse("2024-10-02T00:00:00Z").toEpochMilli +
    java.lang.Math.floorMod(seed, 24L) * 3600000L
  val maxAgeMinutes: Double = 10080.0

  private val Localities = Vector(
    "5 km north-west of Ōtautahi / Christchurch", "Kaikōura",
    "10 km east of Te Whanganui-a-Tara", "Māhia Peninsula",
    "20 km south-west of Tūranganui-a-Kiwa", "15 km north of Taupō",
    "Whakaari / White Island", "Ōhakune", "Seddon", "Cook Strait",
    "25 km south of Wellington", "Milford Sound", "Hanmer Springs")
  private val Qualities = Vector("best", "preliminary", "automatic", "caution")
  // −1..12: 1..11 have icons, −1..9 have intensities; 0 and 12 have neither
  private val Mmis = (-1 to 12).toVector

  private def round(x: Double, places: Int): Double = {
    val f = math.pow(10, places)
    math.rint(x * f) / f
  }

  def quake(): Quake = {
    serial += 1
    val u = rng.nextDouble()
    val ageMin =
      if (serial % 997 == 0) maxAgeMinutes // exactly at the limit: kept
      else if (u < 0.12) maxAgeMinutes + 1 + rng.nextDouble() * 30000
      else rng.nextDouble() * maxAgeMinutes
    val quality =
      if (rng.nextDouble() < 0.06) "deleted"
      else Qualities(rng.nextInt(Qualities.size))
    Quake(
      publicID = f"2024p$serial%07d",
      timeMs = nowMs - math.round(ageMin * 60000.0),
      depth = round(1 + rng.nextDouble() * 300, 4),
      magnitude = round(rng.nextDouble() * 6.5, 4),
      mmi = Mmis(rng.nextInt(Mmis.size)),
      locality = Localities(rng.nextInt(Localities.size)),
      quality = quality,
      lon = round(165.5 + rng.nextDouble() * 13.5, 6),
      lat = round(-47.5 + rng.nextDouble() * 13.0, 6))
  }

  def kept(q: Quake): Boolean =
    (nowMs - q.timeMs) / 60000.0 <= maxAgeMinutes && q.quality != "deleted"

  def snapshot(n: Int): Snapshot = {
    val qs = Vector.fill(n)(quake())
    Snapshot(qs, qs.filter(kept))
  }
}

object FeatureGen {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  private def str(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** The GeoNet API body for `qs`: a GeoJSON FeatureCollection. */
  def collectionJson(qs: Iterable[Quake]): String = {
    val sb = new java.lang.StringBuilder(qs.size * 300 + 64)
    sb.append("""{"type":"FeatureCollection","features":[""")
    var first = true
    qs.foreach { q =>
      if (!first) sb.append(',')
      first = false
      sb.append("""{"type":"Feature","geometry":{"type":"Point","coordinates":[""")
        .append(q.lon).append(',').append(q.lat).append("]},")
        .append(""""properties":{"publicID":""")
      str(sb, q.publicID)
      sb.append(""","time":""")
      str(sb, Iso.format(Instant.ofEpochMilli(q.timeMs)))
      sb.append(""","depth":""").append(q.depth)
        .append(""","magnitude":""").append(q.magnitude)
        .append(""","mmi":""").append(q.mmi)
        .append(""","locality":""")
      str(sb, q.locality)
      sb.append(""","quality":""")
      str(sb, q.quality)
      sb.append("}}")
    }
    sb.append("]}").toString
  }
}

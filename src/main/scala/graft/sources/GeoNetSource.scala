package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.caseSensitiveResolution
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  ExtractValue, GenericInternalRow, GetArrayItem, Literal, Predicate, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.quakes.QuakeModel.GeoNetFeatureSchema
import graft.quakes.QuakePipeline

/** DataSource V2 connector for the GeoNet quake feed — `format("geonet")`.
  *
  * The reference encodes its intensity filter into the request URL
  * (`?MMI={mmi}`, task.ts:176) so filtering happens server-side before any
  * data moves. This connector expresses the same optimization the Spark
  * way: [[GeoNetScanBuilder]] implements `SupportsPushDownFilters` and
  * absorbs `mmi >= v` / `mmi > v` predicates into the source request, and
  * `SupportsPushDownRequiredColumns` so only the required columns are built.
  * Catalyst then never sees the filtered rows at all — `.filter(col("mmi")
  * >= 5)` on this source costs the same as the reference's URL parameter.
  *
  * Input options (first match wins):
  *  - `body`: an inline FeatureCollection JSON string (tests, and the
  *    driver-fetch pattern where the HTTP GET happens outside the scan)
  *  - `path`: a local file containing one FeatureCollection
  *  - neither: live mode — GET `api.geonet.org.nz/quake?MMI=` once at
  *    planning via [[GeoNetHttp]], the MMI taken from the pushed filter
  *    (else the `mmi` option, else the reference default). Non-2xx throws
  *    `Failed to fetch data: ...` (task.ts:179-181). The `transport`
  *    option names a [[GeoNetHttp.registerTransport]]-registered client
  *    (race-free injection for concurrent queries; unknown ids fail
  *    loudly rather than silently going live).
  *
  * Rows come out FLAT (publicID, time, depth, magnitude, mmi, locality,
  * quality, lon, lat): each is the row of one feature that the shared feed
  * reader of [[QuakePipeline]] parses, as in the prepared snapshot,
  * flattened; a body that is not a FeatureCollection fails the read with
  * `Failed to parse data`. [[GeoNetSource.nest]] rebuilds the GeoJSON
  * nesting for [[QuakePipeline.transform]]. Read
  * with `.schema(GeoNetSource.BodySchema)`, the source gives the body
  * view instead: one row per response, its whole text in `value` — what
  * the prepared snapshot of [[graft.streaming.QuakeStream]] consumes.
  */
class GeoNetTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "geonet"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoNetSource.FlatSchema
  // a read schema selects the view: FlatSchema or BodySchema
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(schema == GeoNetSource.FlatSchema || schema == GeoNetSource.BodySchema,
      s"geonet reads GeoNetSource.FlatSchema or GeoNetSource.BodySchema, not $schema")
    new GeoNetTable(new CaseInsensitiveStringMap(properties), schema)
  }
}

final class GeoNetTable(options: CaseInsensitiveStringMap,
    view: StructType) extends Table with SupportsRead {
  override def name(): String = "geonet"
  override def schema(): StructType = view
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GeoNetScanBuilder(options, view)
}

final class GeoNetScanBuilder(options: CaseInsensitiveStringMap,
    schema: StructType) extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var mmiMin: Option[Int] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema

  /** Absorb `mmi >= v` (and `mmi > v`, as `>= v+1` — mmi is integral) into
    * the source request, exactly like the reference's URL parameter. All
    * other predicates are returned for Spark to evaluate post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case GreaterThanOrEqual("mmi", _: Number) => true
      case GreaterThan("mmi", _: Number) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThanOrEqual(_, v: Number) =>
        mmiMin = Some(mmiMin.fold(v.intValue)(math.max(_, v.intValue)))
      case GreaterThan(_, v: Number) =>
        mmiMin = Some(mmiMin.fold(v.intValue + 1)(math.max(_, v.intValue + 1)))
      case _ =>
    }
    pushed = accepted
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  // the body view keeps its one column: a pruned-away `value` would
  // leave the reader unable to tell it from an empty flat row
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (schema == GeoNetSource.FlatSchema) required = requiredSchema

  override def build(): Scan =
    // lower-case the keys: DSv2 options are case-insensitive by contract,
    // and a `.option("Body", ...)` that silently missed the lookup would
    // fall through to a LIVE network fetch instead of the intended inline
    // fixture
    new GeoNetScan(
      options.asCaseSensitiveMap.asScala.toMap
        .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v },
      mmiMin, required)
}

final class GeoNetScan(options: Map[String, String], mmiMin: Option[Int],
    required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"GeoNetScan(mmiPushed=${mmiMin.getOrElse("none")}, " +
      s"columns=${required.fieldNames.mkString(",")})"

  // the live leg (task.ts:176-181) GETs once, at planning; `lazy val`
  // because Spark may call planInputPartitions more than once per query,
  // and one run must mean one request
  private lazy val body: String = GeoNetSource.resolveBody(options, mmiMin)

  override def planInputPartitions(): Array[InputPartition] =
    Array(GeoNetInputPartition(body))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GeoNetMicroBatchStream(options, mmiMin, required)

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoNetPartitionReaderFactory(mmiMin, required)
}

final case class GeoNetInputPartition(body: String) extends InputPartition

/** Snapshot counter offset: batch N = the N-th fetch of the feed. */
final case class GeoNetOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = n.toString
}

/** Streaming form of the source — the reference's cron re-invocation
  * (task.ts:143) recast as a Structured Streaming micro-batch source:
  * EVERY TRIGGER fetches one fresh FeatureCollection snapshot (or
  * re-reads `body`/`path`, for tests and replayable landings) and emits
  * it as one batch. Offsets count snapshots; with `Trigger.AvailableNow`
  * a run processes exactly one snapshot and stops — byte-for-byte the
  * reference's scheduled single-fetch semantics, checkpointed.
  */
final class GeoNetMicroBatchStream(options: Map[String, String],
    mmiMin: Option[Int], required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  // AvailableNow contract: after prepare, latestOffset must return a
  // FIXED offset (the engine drains up to it, then terminates); we fix it
  // to start+1 on the first post-prepare call — one fresh snapshot per
  // invocation, whatever offset the checkpoint restarts from
  // (re-invocation is the schedule, task.ts:143).
  @volatile private var availableNowMode = false
  @volatile private var fixedTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowMode = true
    fixedTarget = None
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = GeoNetOffset(0L)

  /** Admission-control form (the one the engine uses): one snapshot ahead
    * of the start — each trigger fetches once; under AvailableNow the
    * target freezes so the run processes exactly one snapshot and stops.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GeoNetOffset].n
    if (availableNowMode) {
      if (fixedTarget.isEmpty) fixedTarget = Some(s + 1)
      GeoNetOffset(fixedTarget.get)
    } else GeoNetOffset(s + 1)
  }

  /** Never called: the engine asks a source with admission control for
    * `latestOffset(start, limit)` only.
    */
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def deserializeOffset(json: String): Offset =
    GeoNetOffset(json.trim.toLong)

  // One fetch per BATCH, memoized by end offset: Spark replans a
  // micro-batch several times (logical + physical planning, retries), and
  // every replanning of the same batch must observe the SAME snapshot —
  // both for single-request semantics and for determinism within a batch.
  private val bodies = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GeoNetOffset].n
    val e = end.asInstanceOf[GeoNetOffset].n
    if (e <= s) Array.empty
    // One fetch per planned batch, however many offsets the range spans
    // (ranges >1 only happen on restart-catchup, where the feed has no
    // per-offset history to replay anyway — each fetch IS the snapshot).
    else Array(GeoNetInputPartition(bodies.computeIfAbsent(e,
      _ => GeoNetSource.resolveBody(options, mmiMin))))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoNetPartitionReaderFactory(mmiMin, required)

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[GeoNetOffset].n
    bodies.keySet().removeIf(_ <= e) // committed snapshots won't replan
  }

  override def stop(): Unit = ()
}

/** Reads one body: the body view as its one row; the flat view as the
  * feed reader's rows of it, kept by the pushed `mmi` predicate (the
  * moral equivalent of the server-side `?MMI=` parameter) and flattened
  * to the required columns.
  */
final class GeoNetPartitionReaderFactory(mmiMin: Option[Int],
    required: StructType) extends PartitionReaderFactory {

  // built on the driver, from the session's conf, and shipped
  private val options = QuakePipeline.feedOptions(SQLConf.get)
  private val columns =
    if (required == GeoNetSource.BodySchema) Nil
    else required.fieldNames.toSeq.map(GeoNetSource.flatColumn)
  private val keep = mmiMin.map(m =>
    expressions.GreaterThanOrEqual(GeoNetSource.flatColumn("mmi"), Literal(m)))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val body = p.asInstanceOf[GeoNetInputPartition].body
    val rows =
      if (required == GeoNetSource.BodySchema)
        Iterator.single(new GenericInternalRow(Array[Any](UTF8String.fromString(body))))
      else {
        val parser = QuakePipeline.featureParser(options)
        val kept = keep.map(Predicate.create(_))
        val slices = QuakePipeline.featureSlices(body)
        Iterator.range(0, slices.size).flatMap(i => parser.parse(slices.utf8(i)))
          .filter(row => kept.forall(_.eval(row)))
          .map(UnsafeProjection.create(columns))
      }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = rows.hasNext && { current = rows.next(); true }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

object GeoNetSource {

  /** Shared body resolution: inline `body` > `path` file > live GET with
    * the MMI from the pushed filter / `mmi` option / reference default.
    */
  private[sources] def resolveBody(options: Map[String, String],
      mmiMin: Option[Int]): String =
    options.get("body")
      .orElse(options.get("path").map(p =>
        new String(Files.readAllBytes(Paths.get(p)), "UTF-8")))
      .getOrElse {
        val mmi = mmiMin
          .orElse(options.get("mmi").map(_.toInt))
          .getOrElse(graft.quakes.QuakeModel.QuakeConfig().mmi)
        GeoNetHttp.fetchBody(
          GeoNetHttp.transportFor(options.get("transport")), mmi)
      }

  /** A flat column over the feed row, the inverse of [[nest]]: `lon` and
    * `lat` are `geometry.coordinates[0]` and `[1]`, null where the array
    * is shorter, and any other column is `properties.<name>`.
    */
  private[sources] def flatColumn(name: String): Expression = {
    def top(field: String) = {
      val i = GeoNetFeatureSchema.fieldIndex(field)
      BoundReference(i, GeoNetFeatureSchema(i).dataType, nullable = true)
    }
    def get(parent: Expression, step: Any) =
      ExtractValue(parent, Literal(step), caseSensitiveResolution)
    def coordinate(i: Int) =
      GetArrayItem(get(top("geometry"), "coordinates"), Literal(i), failOnError = false)
    name match {
      case "lon" => coordinate(0)
      case "lat" => coordinate(1)
      case _ => get(top("properties"), name)
    }
  }

  /** The flat relational view of one GeoNet feature (task.ts:64-79): the
    * feed's properties, then lon and lat, all nullable as the feed's are.
    */
  val FlatSchema: StructType = StructType(
    GeoNetFeatureSchema("properties").dataType.asInstanceOf[StructType].fields ++
      Seq(StructField("lon", DoubleType), StructField("lat", DoubleType)))

  /** The body view: one row per response body, its text in `value` (the
    * column name of Spark's text source, so landed files and fetches
    * share one shape).
    */
  val BodySchema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))

  /** Rebuild the GeoJSON nesting expected by QuakePipeline.transform. */
  def nest(flat: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    flat.select(
      lit("Feature").as("type"),
      struct(col("publicID"), col("time"), col("depth"), col("magnitude"),
        col("mmi"), col("locality"), col("quality")).as("properties"),
      struct(lit("Point").as("type"),
        array(col("lon"), col("lat")).as("coordinates")).as("geometry"))
  }
}

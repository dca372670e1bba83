package graft.quakes

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicLong

import scala.annotation.tailrec
import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.core.io.SerializedString
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  AttributeSet, BasePredicate, BindReferences, Expression, ExpressionsEvaluator,
  GenericInternalRow, JoinedRow, NamedExpression, Predicate, SpecializedGetters,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType,
  StructType}

import graft.quakes.QuakePipeline.FeatureSlices

/** The GeoNet snapshot query of one session and config, planned once:
  * [[QuakePipeline.transform]] and the snapshot's projection to one
  * feature struct and its id, analysed and optimised into a chain of
  * filters and projections over the feed rows, with every expression
  * bound to its input row, and a JSON writer for that struct. `now`
  * follows the feed columns in that row, so one prepared snapshot serves
  * every run clock with the same generated code. The subexpressions that
  * read nothing but `now` (today `stale`) are cut out of the chain as run
  * constants, evaluated once per task and appended after `now`.
  *
  * A run is then ONE map-only Spark job, named `GeoNet snapshot`: the
  * driver cuts the body into UTF-8 feature slices
  * ([[QuakePipeline.featureSlices]]) and gives each task one contiguous
  * chunk of them. Each task parses its slices with the feed reader's
  * [[QuakePipeline.featureParser]] in the session's options, appends
  * `now` and the run constants to each row, runs the chain and writes
  * its features' structs straight to UTF-8 JSON, joined with `,`; the
  * driver joins the partitions' bytes in order and decodes them once.
  * The task is a named function class, so starting the job cleans no
  * closure. The output is byte for byte Spark's own JSON of the
  * `collect_list` of [[QuakePipeline.transform]]'s rows for the same
  * feed (the oracle of QuakeSnapshotSpec).
  *
  * The task-side state — parser, compiled predicates and projections,
  * and the expressions themselves, some of which hold a stateful
  * evaluator — is not thread-safe, so each executor thread deserializes
  * its own copy of the plan once, builds its evaluators and keeps them
  * under the prepared snapshot's id.
  */
final class PreparedSnapshot private (
    private[quakes] val conf: Map[String, String],
    id: Long,
    plan: Broadcast[Array[Byte]]) {

  /** The snapshot of one GeoNet response body at `nowMs`: the
    * FeatureCollection JSON, its feature count and ids in order.
    * `spark` is the session this snapshot was prepared for. Throws
    * `Failed to parse data: …` on a body that is not a FeatureCollection,
    * before any job runs.
    */
  def snapshotWithIds(spark: SparkSession, body: String,
      nowMs: Long): (String, Long, Seq[String]) = {
    val slices = QuakePipeline.featureSlices(body)
    val sc = spark.sparkContext
    val n = math.max(1, math.min(slices.size, sc.defaultParallelism))
    // contiguous runs of features, split as `parallelize` splits a Seq
    val chunks = (0 until n).map(i =>
      slices.chunk((i.toLong * slices.size / n).toInt, ((i + 1L) * slices.size / n).toInt))
    val previous = sc.getLocalProperty(PreparedSnapshot.JobDescription)
    sc.setJobDescription("GeoNet snapshot")
    val parts = try SQLExecution.withSQLConfPropagated(spark) {
      sc.runJob(sc.parallelize(chunks, n), new PreparedSnapshot.Render(id, plan, nowMs))
    } finally sc.setLocalProperty(PreparedSnapshot.JobDescription, previous)
    val ids = parts.toSeq.flatMap(_._2)
    (QuakePipeline.featureCollection(parts.toSeq.map(_._1)), ids.size.toLong, ids)
  }

  /** Once a re-plan has replaced this snapshot: drop the executors'
    * copies of its plan. `unpersist`, not `destroy`, so a run still in
    * flight keeps working: the driver keeps its copy for tasks to fetch
    * again, until the context cleaner removes it with this snapshot.
    */
  private[quakes] def release(): Unit = plan.unpersist()
}

object PreparedSnapshot {

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  private[quakes] sealed trait Step
  /** A `Filter`: keep the row iff the bound condition is true. */
  private final case class Keep(condition: Expression) extends Step
  /** A `Project`: the bound output columns. */
  private final case class Compute(columns: Seq[Expression]) extends Step

  /** What a task needs: the reader options for the feed parser, the run
    * constants bound to a one-column `now` row, the steps from the feed
    * row (plus `now` and those constants) up to `(feature, id)`, and the
    * writer of the feature struct.
    */
  private final case class Plan(options: JSONOptions, constants: Seq[Expression],
      steps: Seq[Step], feature: JsonWriter)

  private val nextId = new AtomicLong()

  /** @param query the optimised snapshot query over a `LogicalRDD` of
    *              [[QuakeModel.GeoNetFeatureSchema]] plus a LONG `now`
    *              column, with output `(feature struct, id)`
    * @throws IllegalStateException if the query is not a chain of
    *         `Project`/`Filter` over that scan, or the feature struct
    *         holds a type [[JsonWriter]] cannot write
    */
  private[quakes] def apply(spark: SparkSession, query: LogicalPlan,
      conf: Map[String, String]): PreparedSnapshot = {
    val (constants, steps) = compile(query)
    val sqlConf = spark.sessionState.conf
    val plan = Plan(QuakePipeline.feedOptions(sqlConf), constants, steps,
      JsonWriter(query.output.head.dataType, !sqlConf.jsonGeneratorIgnoreNullFields))
    val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(plan)
    new PreparedSnapshot(conf, nextId.incrementAndGet(),
      spark.sparkContext.broadcast(bytes.array.take(bytes.limit)))
  }

  /** The query's run constants and its steps, scan first.
    *
    * A run constant is a maximal deterministic subexpression, other than
    * a named one, whose only reference is `now`: it has one value per
    * run. Each distinct one is replaced by a new attribute in the steps
    * that read the scan row (its filters and the first projection), which
    * bind to the scan's columns followed by those attributes; the steps
    * above bind to their child's output. The constants come back bound to
    * a row that holds `now` alone. Each task evaluates every constant,
    * even one that only a conditional branch or a filtered-out row would
    * reach.
    */
  private[quakes] def compile(query: LogicalPlan): (Seq[Expression], Seq[Step]) = {
    val feedColumns = (QuakeModel.GeoNetFeatureSchema.fieldNames :+ "now").toSeq
    // the Project/Filter chain, scan side first, and the scan under it
    @tailrec def chain(p: LogicalPlan, above: List[LogicalPlan]): (List[LogicalPlan], LogicalRDD) =
      p match {
        case Project(_, child) => chain(child, p :: above)
        case Filter(_, child) => chain(child, p :: above)
        case scan: LogicalRDD if scan.output.map(_.name) == feedColumns => (above, scan)
        case other => throw new IllegalStateException(
          s"cannot prepare the snapshot: ${other.nodeName} in a plan that may " +
            s"only hold Project and Filter over the feed scan:\n$query")
      }
    val (nodes, scan) = chain(query, Nil)
    val now = AttributeSet(scan.output.last)
    // canonical form → (attribute, expression), in order of discovery
    val constants = mutable.LinkedHashMap.empty[Expression, (Attribute, Expression)]
    def hoist(node: LogicalPlan): LogicalPlan = node.transformExpressionsDown {
      case e if !e.isInstanceOf[NamedExpression] && e.deterministic &&
          e.references.nonEmpty && e.references.subsetOf(now) =>
        constants.getOrElseUpdate(e.canonicalized,
          (AttributeReference(s"constant${constants.size}", e.dataType, e.nullable)(), e))._1
    }
    def step(node: LogicalPlan, input: Seq[Attribute]): Step = node match {
      case Project(columns, _) => Compute(BindReferences.bindReferences(columns, input))
      case Filter(condition, _) => Keep(BindReferences.bindReference(condition, input))
    }
    val (filters, rest) = nodes.span(_.isInstanceOf[Filter])
    val scanLevel = (filters ++ rest.take(1)).map(hoist)
    val input = scan.output ++ constants.values.map(_._1)
    (constants.values.map(c => BindReferences.bindReference(c._2, now.toSeq)).toSeq,
      scanLevel.map(step(_, input)) ++ rest.drop(1).map(n => step(n, n.children.head.output)))
  }

  /** Writes one value of the snapshot's feature struct as JSON, byte for
    * byte as Spark's `JacksonGenerator` writes it, but from the row's
    * UTF-8 bytes into a UTF-8 generator: no string is decoded or
    * re-encoded. Built once per plan from the struct's type, so a type
    * it cannot write fails `prepare`, not a run.
    */
  private sealed abstract class JsonWriter extends Serializable {
    def write(gen: JsonGenerator, data: SpecializedGetters, ordinal: Int): Unit
  }

  private object JsonWriter {
    /** @param writeNulls the session's
      *        `spark.sql.jsonGenerator.ignoreNullFields` negated: write a
      *        null struct field as `"name":null` instead of leaving it out
      */
    def apply(t: DataType, writeNulls: Boolean): JsonWriter = t match {
      case StringType => Utf8
      case IntegerType => Int32
      case DoubleType => Float64
      case ArrayType(element, _) => new Elements(JsonWriter(element, writeNulls))
      case s: StructType =>
        new Fields(s.fieldNames.map(new SerializedString(_)),
          s.fields.map(f => JsonWriter(f.dataType, writeNulls)), writeNulls)
      case other => throw new IllegalStateException(
        s"cannot prepare the snapshot: no JSON writer for ${other.sql}")
    }

    private case object Utf8 extends JsonWriter {
      def write(gen: JsonGenerator, data: SpecializedGetters, ordinal: Int): Unit = {
        val b = data.getUTF8String(ordinal).getByteBuffer
        gen.writeUTF8String(b.array, b.arrayOffset + b.position, b.remaining)
      }
    }
    private case object Int32 extends JsonWriter {
      def write(gen: JsonGenerator, data: SpecializedGetters, ordinal: Int): Unit =
        gen.writeNumber(data.getInt(ordinal))
    }
    private case object Float64 extends JsonWriter {
      def write(gen: JsonGenerator, data: SpecializedGetters, ordinal: Int): Unit =
        gen.writeNumber(data.getDouble(ordinal))
    }

    /** An array; a null element is written as `null`. */
    private final class Elements(element: JsonWriter) extends JsonWriter {
      def write(gen: JsonGenerator, data: SpecializedGetters, ordinal: Int): Unit = {
        val array = data.getArray(ordinal)
        gen.writeStartArray()
        var i = 0
        while (i < array.numElements()) {
          if (array.isNullAt(i)) gen.writeNull() else element.write(gen, array, i)
          i += 1
        }
        gen.writeEndArray()
      }
    }

    /** A struct, its fields in order; a null field is left out unless
      * `writeNulls`.
      */
    private final class Fields(names: Array[SerializedString], fields: Array[JsonWriter],
        writeNulls: Boolean) extends JsonWriter {
      def write(gen: JsonGenerator, data: SpecializedGetters, ordinal: Int): Unit = {
        val row = data.getStruct(ordinal, fields.length)
        gen.writeStartObject()
        var i = 0
        while (i < fields.length) {
          if (!row.isNullAt(i)) {
            gen.writeFieldName(names(i))
            fields(i).write(gen, row, i)
          } else if (writeNulls) {
            gen.writeFieldName(names(i))
            gen.writeNull()
          }
          i += 1
        }
        gen.writeEndObject()
      }
    }
  }

  /** One task of a run: its chunk rendered by the thread's evaluators. A
    * named class, not a lambda, so `runJob` finds no closure to clean.
    */
  private final class Render(id: Long, plan: Broadcast[Array[Byte]], nowMs: Long)
      extends ((TaskContext, Iterator[FeatureSlices]) => (Array[Byte], Array[String]))
      with Serializable {
    override def apply(context: TaskContext,
        chunks: Iterator[FeatureSlices]): (Array[Byte], Array[String]) =
      evaluators(id, plan).render(chunks.next(), nowMs, context.partitionId())
  }

  /** Per executor thread, the evaluators of the few prepared snapshots
    * it ran last.
    */
  private val perThread = ThreadLocal.withInitial { () =>
    new java.util.LinkedHashMap[Long, Evaluators](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Evaluators]): Boolean = size() > 4
    }
  }

  private def evaluators(id: Long, plan: Broadcast[Array[Byte]]): Evaluators =
    perThread.get.computeIfAbsent(id, _ => new Evaluators(
      SparkEnv.get.closureSerializer.newInstance()
        .deserialize[Plan](ByteBuffer.wrap(plan.value))))

  /** As `JacksonGenerator` builds its factory. */
  private val Json = new JsonFactory()

  private final class Evaluators(plan: Plan) {
    private val parser = QuakePipeline.featureParser(plan.options)
    private val constants = plan.constants.toArray
    private val steps: Array[ExpressionsEvaluator] = plan.steps.map {
      case Keep(condition) => Predicate.create(condition)
      case Compute(columns) => UnsafeProjection.create(columns)
    }.toArray
    /** `now`, then the run constants. */
    private val run = new GenericInternalRow(1 + constants.length)
    private val input = new JoinedRow

    /** The chunk's kept features as UTF-8 `json,json,…`, written by one
      * generator and shipped without a String round trip, and their ids.
      */
    def render(chunk: FeatureSlices, nowMs: Long,
        partition: Int): (Array[Byte], Array[String]) = {
      steps.foreach(_.initialize(partition))
      run.setLong(0, nowMs)
      var c = 0
      while (c < constants.length) {
        run.update(c + 1, constants(c).eval(run))
        c += 1
      }
      val json = new ByteArrayOutputStream(1 << 16)
      val gen = Json.createGenerator(json).setRootValueSeparator(null)
      val ids = Array.newBuilder[String]
      var f = 0
      while (f < chunk.size) {
        parser.parse(chunk.utf8(f)).foreach { feature =>
          var row: InternalRow = input(feature, run)
          var i = 0
          while (row != null && i < steps.length) {
            row = steps(i) match {
              case keep: BasePredicate => if (keep.eval(row)) row else null
              case compute: UnsafeProjection => compute(row)
            }
            i += 1
          }
          if (row != null) {
            if (ids.length > 0) gen.writeRaw(',')
            plan.feature.write(gen, row, 0)
            ids += (if (row.isNullAt(1)) null else row.getUTF8String(1).toString)
          }
        }
        f += 1
      }
      gen.close()
      (json.toByteArray, ids.result())
    }
  }
}

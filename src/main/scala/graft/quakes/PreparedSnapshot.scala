package graft.quakes

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BindReferences,
  Expression, ExpressionsEvaluator, GenericInternalRow, JoinedRow, Predicate,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions,
  JacksonParser}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The GeoNet snapshot query of one session and config, planned once:
  * [[QuakePipeline.transform]] and the snapshot's `to_json` projection,
  * analysed and optimised into a chain of filters and projections over
  * the feed rows, with every expression bound to its input row. `now`
  * is the last column of that row, so one prepared snapshot serves every
  * run clock with the same generated code.
  *
  * A run is then ONE map-only job: each task parses its feature texts
  * the way `DataFrameReader.json(Dataset[String])` does (PERMISSIVE, the
  * session's time zone and corrupt-record column), appends `now` to each
  * row, runs the chain and renders its features' JSON, joined with `,`;
  * the driver joins the partitions in order. The output is byte for
  * byte one `to_json` of the `collect_list` of [[QuakePipeline.transform]]'s
  * rows for the same feed (the oracle of QuakeSnapshotSpec).
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
    val texts = QuakePipeline.featureTexts(body)
    val sc = spark.sparkContext
    // locals, so the task closure holds these two and not `this`
    val (id, plan) = (this.id, this.plan)
    val parts = SQLExecution.withSQLConfPropagated(spark) {
      sc.parallelize(texts, math.max(1, math.min(texts.size, sc.defaultParallelism)))
        .mapPartitions { it =>
          Iterator.single(PreparedSnapshot.evaluators(id, plan).render(it, nowMs))
        }
        .collect()
    }
    val ids = parts.toSeq.flatMap(_._2)
    val json = parts.iterator.map(_._1).filter(_.nonEmpty).map(new String(_, UTF_8))
    (QuakePipeline.featureCollection(json), ids.size.toLong, ids)
  }

  /** Once a re-plan has replaced this snapshot: drop the executors'
    * copies of its plan. `unpersist`, not `destroy`, so a run still in
    * flight keeps working: the driver keeps its copy for tasks to fetch
    * again, until the context cleaner removes it with this snapshot.
    */
  private[quakes] def release(): Unit = plan.unpersist()
}

object PreparedSnapshot {

  private sealed trait Step
  /** A `Filter`: keep the row iff the bound condition is true. */
  private final case class Keep(condition: Expression) extends Step
  /** A `Project`: the bound output columns. */
  private final case class Compute(columns: Seq[Expression]) extends Step

  /** What a task needs: the feed schema and reader options for the
    * parser, and the steps from the feed row up to `(json, id)`.
    */
  private final case class Plan(schema: StructType,
      options: JSONOptions, steps: Seq[Step])

  private val nextId = new AtomicLong()

  /** @param schema the feed schema as the JSON reader gives it
    * @param query  the optimised snapshot query over a `LogicalRDD` of
    *               `schema` plus a LONG `now` column
    * @throws IllegalStateException if the query is not a chain of
    *         `Project`/`Filter` over that scan
    */
  private[quakes] def apply(spark: SparkSession, schema: StructType,
      query: LogicalPlan, conf: Map[String, String]): PreparedSnapshot = {
    val feedColumns = (schema.fieldNames :+ "now").toSeq
    def steps(p: LogicalPlan): List[Step] = p match {
      case Project(columns, child) =>
        Compute(BindReferences.bindReferences(columns, child.output)) :: steps(child)
      case Filter(condition, child) =>
        Keep(BindReferences.bindReference(condition, child.output)) :: steps(child)
      case scan: LogicalRDD if scan.output.map(_.name) == feedColumns => Nil
      case other => throw new IllegalStateException(
        s"cannot prepare the snapshot: ${other.nodeName} in a plan that may " +
          s"only hold Project and Filter over the feed scan:\n$query")
    }
    val sqlConf = spark.sessionState.conf
    val options = new JSONOptions(Map.empty[String, String],
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    val plan = Plan(schema, options, steps(query).reverse)
    val bytes = SparkEnv.get.closureSerializer.newInstance().serialize(plan)
    new PreparedSnapshot(conf, nextId.incrementAndGet(),
      spark.sparkContext.broadcast(bytes.array.take(bytes.limit)))
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

  private final class Evaluators(plan: Plan) {
    private val options = plan.options
    private val parser = {
      // as DataFrameReader.json: the corrupt-record column is not parsed
      val parsed = StructType(
        plan.schema.filterNot(_.name == options.columnNameOfCorruptRecord))
      val raw = new JacksonParser(parsed, options, allowArrayAsStructs = true)
      new FailureSafeParser[String](
        raw.parse(_, CreateJacksonParser.string, UTF8String.fromString),
        options.parseMode, plan.schema, options.columnNameOfCorruptRecord)
    }
    private val steps: Array[ExpressionsEvaluator] = plan.steps.map {
      case Keep(condition) => Predicate.create(condition)
      case Compute(columns) => UnsafeProjection.create(columns)
    }.toArray
    private val now = new GenericInternalRow(1)
    private val input = new JoinedRow

    /** The partition's kept features as UTF-8 `json,json,…` (the bytes
      * `to_json` wrote, shipped without a String round trip) and their ids.
      */
    def render(texts: Iterator[String], nowMs: Long): (Array[Byte], Array[String]) = {
      steps.foreach(_.initialize(TaskContext.getPartitionId()))
      now.setLong(0, nowMs)
      val json = new ByteArrayOutputStream(1 << 16)
      val ids = Array.newBuilder[String]
      texts.flatMap(parser.parse).foreach { feature =>
        var row: InternalRow = input(feature, now)
        var i = 0
        while (row != null && i < steps.length) {
          row = steps(i) match {
            case keep: BasePredicate => if (keep.eval(row)) row else null
            case compute: UnsafeProjection => compute(row)
          }
          i += 1
        }
        if (row != null) {
          if (json.size > 0) json.write(',')
          row.getUTF8String(0).writeTo(json)
          ids += (if (row.isNullAt(1)) null else row.getUTF8String(1).toString)
        }
      }
      (json.toByteArray, ids.result())
    }
  }
}

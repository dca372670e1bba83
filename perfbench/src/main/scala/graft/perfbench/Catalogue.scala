package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.queries._

/** `catalogue`: closed loop, one client. One operation is one registered
  * `SparkEntry.queries` entry over the generated tables, called and then
  * collected; a pass runs the whole mix in a seed-permuted order. Every
  * result's row count and order-insensitive digest is checked against
  * `expected_catalogue.json`.
  */
final class Catalogue(seed: Long, tables: String, expectedFile: File,
    record: Boolean) extends Workload {
  import Catalogue._

  private val registry = SparkEntry.queries
  require(Mix.forall(registry.contains),
    s"unregistered queries: ${Mix.filterNot(registry.contains).mkString(",")}")
  // each pass runs the mix in its own seed-derived order
  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Mix)
  private val expected: Map[String, (Long, String)] =
    if (record) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(expectedFile)
      root.fieldNames().asScala.map { q =>
        q -> ((root.get(q).get("rows").asLong(), root.get(q).get("digest").asText()))
      }.toMap
    }
  require(record || Mix.forall(expected.contains),
    s"no expectation for ${Mix.filterNot(expected.contains).mkString(",")}")

  /** The store the mix reads (q46's embedding bands), built into this
    * run's warehouse.
    */
  override def stores(spark: SparkSession): Unit =
    SimilarityQueries.EmbBandStore.ensure(spark, tables)

  override def warmUp(spark: SparkSession): Unit = run(spark, Mix.head, 0L)

  /** Whole passes, so every query of the mix has run (and the JIT has
    * compiled its hot paths) before timing: the second pass is still
    * about a fifth slower than the fourth.
    */
  override def settle(spark: SparkSession): Unit =
    (1 to SettlePasses).foreach(_ => Mix.foreach(q => run(spark, q, 0L)))

  private def run(spark: SparkSession, name: String, op: Long, pass: Int = 0): QueryOp = {
    OpTag.set(spark, op)
    Trace.withOp(op) {
      Trace.span("queries.query") {
        val t0 = System.nanoTime()
        try {
          graft.core.CacheScope.withScope {
            val df = Trace.span("queries.build")(registry(name)(spark, tables))
            val t1 = System.nanoTime()
            val rows = Trace.span("queries.action")(df.collect())
            QueryOp(name, pass, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, Some(rows))
          }
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"catalogue: $name failed: $e")
          QueryOp(name, pass, (System.nanoTime() - t0) / 1e9, 0.0, None)
        }
      }
    }
  }

  override def measure(spark: SparkSession, seconds: Int, r: Report,
      probe: Option[EngineProbe]): Unit = {
    val sp = probe.map { _ =>
      val p = new StreamProbe
      spark.streams.addListener(p)
      p
    }
    val end = System.nanoTime() + seconds * 1000000000L
    val t0 = System.nanoTime()
    val ops = scala.collection.mutable.ArrayBuffer[Timed]()
    var pass = 0
    // whole passes only: a pass is the unit pass_s is measured on
    while (pass < MinPasses || System.nanoTime() < end) {
      pass += 1
      order(pass).zipWithIndex.foreach { case (q, i) =>
        val id = pass * 1000L + i + 1
        // traced runs trace every other pass, so the overhead is measured in-run
        Trace.enabled = probe.isDefined && pass % 2 == 1
        val a = System.nanoTime()
        val o = run(spark, q, id, pass)
        ops += Timed(o, id, a, System.nanoTime(), Trace.enabled)
      }
    }
    Trace.enabled = false
    val wall = (System.nanoTime() - t0) / 1e9
    sp.foreach(spark.streams.removeListener)
    // results are checked after the timed passes, off the measured path
    val verdicts = ops.map(_.op).map { o =>
      val got = o.result.map(rows => (rows.length.toLong, digest(rows)))
      val ok = got.isDefined && (record || got == expected.get(o.name))
      if (!ok) System.err.println(s"catalogue: ${o.name} gave $got, " +
        s"expected ${expected.get(o.name)}")
      (o, got, ok)
    }
    r.attempted = ops.size
    r.failed = verdicts.count(!_._3)
    if (record) writeExpected(verdicts.map { case (o, got, _) => (o, got) }.toSeq, expectedFile)
    val passS = ops.groupBy(_.op.pass).toSeq.sortBy(_._1).map(_._2.map(_.op.seconds).sum)
    // the mix is a handful of very different queries, so percentiles of
    // the pooled times fall in the gaps between them; each query is
    // summarised over its own passes, and the mix by the geometric mean
    val times = Mix.map(q => ops.filter(_.op.name == q).map(_.op.seconds).toSeq)
    def geomean(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    r.metric("latency_p50_s", geomean(times.map(Stats.median)))
    r.metric("latency_tail_s", geomean(times.map(Stats.percentile(_, TailPct))))
    r.metric("throughput_per_s", Mix.size / Stats.median(passS))
    r.note("pass_s", Stats.median(passS), "s")
    r.note("passes", pass, "count")
    r.note("tail_percentile", TailPct, "pct")
    passS.zipWithIndex.foreach { case (t, i) => r.note(s"pass${i + 1}_s", t, "s") }
    (sp zip probe).foreach { case (s, p) =>
      Main.drainListeners(spark)
      val n = pass.toDouble
      def total(names: Seq[String], f: QueryOp => Double) =
        ops.filter(o => names.contains(o.op.name)).map(o => f(o.op)).sum / n
      r.metric("queries.build_s", total(Mix, _.buildS))
      r.metric("queries.action_s", total(Mix, _.actionS))
      Modules.foreach { case (m, qs) => r.metric(s"queries.${m}_s", total(qs, _.seconds)) }
      (Mix zip times).foreach { case (q, ts) => r.metric(s"query.${q}_s", Stats.median(ts)) }
      Main.streamLayer(r, s)
      Main.engineLayer(r, p, ops.size, wall)
      val spans = Trace.all.groupBy(_.op)
      val triggers = spans.getOrElse(0L, Nil)
      val (traced, untraced) = ops.toSeq.partition(_.traced)
      Main.traceLayer(r,
        traced.map(t => (t.startNs, t.endNs, spans.getOrElse(t.id, Nil) ++ triggers)),
        untraced.map(t => (t.endNs - t.startNs) / 1e9), "queries")
    }
  }
}

final case class QueryOp(name: String, pass: Int, buildS: Double, actionS: Double,
    result: Option[Array[Row]]) {
  def seconds: Double = buildS + actionS
}

/** A measured query with its operation id and wall-clock interval. */
final case class Timed(op: QueryOp, id: Long, startNs: Long, endNs: Long,
    traced: Boolean)

object Catalogue {
  val Modules: Seq[(String, Seq[String])] = Seq(
    "tpch" -> Seq("q250_tpch01"),
    "similarity" -> Seq("q46_embed_lsh"),
    "streaming" -> Seq("q220_rocksdb_dedup_parity"),
    "relational" -> Seq("q175_merge_upsert"))
  val Mix: Seq[String] = Modules.flatMap(_._2)
  val SettlePasses = 2
  val MinPasses = 4
  val TailPct = 90.0

  /** Record mode: store what the first pass returned as the expectations
    * (only after the results were cross-checked against the oracle).
    */
  def writeExpected(ops: Seq[(QueryOp, Option[(Long, String)])], expectedFile: File): Unit = {
    val byName = ops.groupBy(_._1.name).map { case (q, xs) => q -> xs.map(_._2).distinct }
    require(byName.values.forall(v => v.size == 1 && v.head.isDefined),
      "passes disagree or failed; not recording")
    val body = Mix.map { q =>
      val (rows, d) = byName(q).head.get
      s"""  "$q": {"rows": $rows, "digest": "$d"}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(expectedFile.toPath, body)
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9e"
    case f: Float => f"${f.toDouble}%.6e"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k) + ":" + render(x) }.toSeq.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  /** Order-insensitive digest: SHA-256 over the sorted rendered rows. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.queries.StreamingQueries.{runDirs, spoolStream, withSessionConfs}

/** Execution-fault gates (q272–q274): the engine's behavior under the
  * conditions a 100 TB cluster actually runs in — task retries, memory
  * pressure (spills/fallbacks), and runtime re-planning (AQE) — each
  * promoted from spec-only claims to driver-visible oracle rows
  * (round-17 verdict #2/#3/#4).
  *
  * Correctness story: every gate computes a result the DuckDB oracle
  * recomputes CLEANLY (no faults, no spills — DuckDB knows nothing of
  * either), so hash-equality IS the proof that the degraded path
  * changes no bytes. The fault/pressure evidence rides extra boolean
  * columns read from the EXECUTED plan's own metrics (the DppPlanSpec
  * discipline) or from an injection counter — pinned TRUE by the
  * oracle, so a run where the hazard silently failed to engage (retry
  * never injected, fallback never fired, skew never split) fails the
  * gate as loudly as a wrong answer.
  *
  * These gates are why the repo's sessions run `local[N,4]`: Spark's
  * production default is spark.task.maxFailures=4, and plain local[N]
  * (maxFailures=1) silently deletes the entire retry path from every
  * test the engine runs.
  */
object FaultGateQueries {

  /** Injected-failure counters — plain JVM atomics, NOT Spark
    * accumulators: accumulator updates from failed task attempts are
    * discarded by design, which is exactly the attempt this counts.
    * Keyed by a PER-INVOCATION tag (advisory r18 #3): a single
    * process-global counter read as before/after deltas would
    * cross-contaminate whenever two gates (or two sessions in the
    * same JVM — parallel suites do this) inject concurrently, able to
    * flip `faults_injected` true for a leg that never injected. The
    * task closure captures only the tag STRING and resolves the
    * counter through this static map at run time — a directly
    * captured AtomicLong would be serialized into the task closure
    * and the executor side would increment a deserialized COPY.
    * Single-JVM local mode makes the static reliable.
    */
  private[graft] val injectedByTag =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val tagSeq = new AtomicLong(0)
  private def freshTag(): String = "inj-" + tagSeq.incrementAndGet()
  /** Consume-on-read: each tag is read exactly once, after the action
    * that drove the injecting stage has completed — removing the entry
    * here keeps the static map from growing without bound across
    * repeated gate runs in a long-lived JVM (bench loops, repeated
    * suites; advisory r19 #3).
    */
  private def injectedCount(tag: String): Long =
    Option(injectedByTag.remove(tag)).map(_.get()).getOrElse(0L)

  /** Wrap `df` so that EVERY task of its stage throws on its first
    * attempt and succeeds on retry — the once-per-partition fault the
    * determinism contract ("md5-uniform, retry-stable, never rand()",
    * SURVEY.md §2.12) must survive. Goes through the RDD seam on
    * purpose: the fault must live INSIDE the stage that recomputes
    * the wrapped subtree, so a retried task re-runs the real scan/
    * shuffle-read and re-derives every value from scratch.
    */
  private def failFirstAttempt(s: SparkSession, df: DataFrame,
      tag: String): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0) {
        injectedByTag.computeIfAbsent(tag, _ => new AtomicLong(0))
          .incrementAndGet()
        throw new RuntimeException(
          s"$tag: injected first-attempt failure (partition ${tc.partitionId()})")
      }
      it
    }
    s.createDataFrame(rdd, schema)
  }

  /** Every physical node, recursing through the AQE wrappers a plain
    * `collect` treats as leaves (query stages, nested adaptive plans,
    * reused exchanges) — the DppPlanSpec traversal, needed here at
    * QUERY time because the metrics are part of the gate's output.
    */
  private[queries] def allNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val kids = plan match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case p => p.children
    }
    plan +: kids.flatMap(allNodes)
  }

  /** Sum of a named metric across all nodes of `df`'s EXECUTED plan
    * (call only after an action has run the plan).
    */
  private[queries] def metricSum(df: DataFrame, metric: String): Long =
    allNodes(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get(metric)).map(_.value).sum

  private[queries] def fp(cols: Column*): Column =
    conv(substring(md5(concat_ws(":", cols.map(_.cast("string")): _*)),
      1, 10), 16, 10).cast("long")

  // ─────────────────────────────────────────────────────────────────
  // q272 — DETERMINISM UNDER TASK RETRIES: two legs, each run with an
  // injected once-per-task first-attempt failure on `local[N,4]`.
  //
  //  (a) scan retry — the md5-uniform split profile (q49's shape):
  //      a retried scan task re-derives every split assignment; the
  //      md5 construction makes the redo bit-identical where a
  //      rand()-based splitter would silently re-deal the corpus.
  //  (b) write commit — a hash-partitioned parquet landing write
  //      (q92's fold discipline) with the fault in the WRITE stage:
  //      the committer must discard failed attempts' files, so the
  //      landing zone holds every row exactly once.
  //
  // Each leg's fingerprint is compared in-query against the clean
  // (uninjected) computation AND against the oracle's replay;
  // `faults_injected` (from the injection counter) pins that the
  // failures actually happened — a scheduler that stopped retrying
  // would abort the query, a gate that stopped injecting flips the
  // column. Scale shape: both legs are one partial-agg'd pass; the
  // retry cost is one partition's recompute per task, the 100 TB
  // contract for any transient executor loss.
  // ─────────────────────────────────────────────────────────────────
  val q272RetryDeterminism: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("n_chars"))

    def splitProfile(src: DataFrame): DataFrame = src
      .select(col("doc_id"), splitAssign(col("doc_id")).as("split"))
      .agg(count(lit(1)).as("n_rows"),
        sum(fp(col("doc_id"), col("split"))).as("rows_fp"))

    def firstRow(df: DataFrame): (Long, Long) = {
      val r = df.head(); (r.getLong(0), r.getLong(1))
    }

    val cleanScan = firstRow(splitProfile(docs))
    val scanTag = freshTag()
    val faultScan = firstRow(splitProfile(failFirstAttempt(s, docs, scanTag)))
    val scanFaults = injectedCount(scanTag)

    def landingProfile(src: DataFrame): DataFrame = src
      .agg(count(lit(1)).as("n_rows"),
        sum(fp(col("doc_id"), col("n_chars"))).as("rows_fp"))
    val cleanWrite = firstRow(landingProfile(docs))
    val dir = IngestQueries.landingDir(s, d, "retrylanding")
    val writeTag = freshTag()
    failFirstAttempt(s, docs.repartition(8, col("doc_id")), writeTag)
      .write.parquet(dir)
    val writeFaults = injectedCount(writeTag)
    val written = firstRow(landingProfile(s.read.parquet(dir)))

    import s.implicits._
    Seq(
      ("scan_retry", faultScan._1, faultScan._2,
        scanFaults > 0, faultScan == cleanScan),
      ("write_commit", written._1, written._2,
        writeFaults > 0, written == cleanWrite))
      .toDF("leg", "n_rows", "rows_fp", "faults_injected", "matches_clean")
      .orderBy("leg")
  }

  private val docsFpSql =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || " +
      "CAST(n_chars AS VARCHAR)), 1, 10))::BIGINT"

  val q272Sql: String = {
    val splitSql = splitAssignSql("doc_id")
    s"""WITH profile AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |      ($splitSql)), 1, 10))::BIGINT) AS BIGINT) AS rows_fp
       |  FROM documents),
       |landing AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM($docsFpSql) AS BIGINT) AS rows_fp
       |  FROM documents)
       |SELECT 'scan_retry' AS leg, n_rows, rows_fp,
       |  TRUE AS faults_injected, TRUE AS matches_clean FROM profile
       |UNION ALL
       |SELECT 'write_commit', n_rows, rows_fp, TRUE, TRUE FROM landing
       |ORDER BY leg""".stripMargin
  }

  // ─────────────────────────────────────────────────────────────────
  // q273 — CORRECTNESS UNDER SPILL PRESSURE: at 100 TB the spill path
  // IS the common path, and this gate makes it the TESTED path. Two
  // legs under punitive session thresholds:
  //
  //  (a) ObjectHashAggregate → sort-based fallback (threshold 2): the
  //      per-language sorted-id fingerprint (collect_list is
  //      TypedImperative → ObjectHashAggregateExec) exceeds the
  //      two-key in-memory budget immediately, so every task finishes
  //      the aggregation SORT-BASED — pinned from the plan's
  //      numTasksFallBacked ("number of sort fallback tasks").
  //  (b) sort-merge join buffered-side spill (in-memory threshold 16):
  //      a 25-row-per-key self-join makes every buffered match group
  //      overflow to the external row array — pinned from the SMJ's
  //      "spill size" metric.
  //
  // The oracle recomputes both results with no memory pressure at
  // all; hash equality proves degradation is graceful, the metric
  // booleans prove it actually degraded. Metrics are read AFTER a
  // collect() on the SAME QueryExecution (head() would execute a
  // separate limited plan whose metrics stay zero).
  // ─────────────────────────────────────────────────────────────────
  val q273SpillGate: Q = (s, d) =>
    withSessionConfs(s,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val docs = documents(s, d)

      val agg = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          fp(col("lang"),
            array_join(transform(sort_array(collect_list(col("doc_id"))),
              x => x.cast("string")), ",")).as("lang_fp"))
        .agg(count(lit(1)).as("n_langs"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("lang_fp")).as("langs_fp"))
      val aggRow = agg.collect()(0)
      val fallbackTasks = metricSum(agg, "numTasksFallBacked")

      // every 5th 25-row group, WHOLE: groups stay above the 16-row
      // spill threshold (sampling rows instead would shrink groups
      // below it and silently un-spill the gate) while the quadratic
      // pair volume — pure spill-I/O cost, no extra coverage — stays
      // bounded at every SF
      val grouped = docs.select(col("doc_id"),
        expr("doc_id DIV 25").as("gk"))
        .filter(col("gk") % 5 === 0)
      val pairs = grouped.select(col("doc_id").as("a_id"), col("gk"))
        .join(grouped.select(col("doc_id").as("b_id"), col("gk")), "gk")
        .agg(count(lit(1)).as("n_pairs"),
          sum(fp(col("a_id"), col("b_id"))).as("pairs_fp"))
      val pairsRow = pairs.collect()(0)
      val spillBytes = metricSum(pairs, "spillSize")

      import s.implicits._
      Seq((aggRow.getLong(0), aggRow.getLong(1), aggRow.getLong(2),
        fallbackTasks > 0,
        pairsRow.getLong(0), pairsRow.getLong(1), spillBytes > 0))
        .toDF("n_langs", "n_docs", "langs_fp", "agg_fell_back",
          "n_pairs", "pairs_fp", "join_spilled")
    }

  val q273Sql: String =
    """WITH per_lang AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    ('0x' || substr(md5(lang || ':' ||
      |      string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)),
      |      1, 10))::BIGINT AS lang_fp
      |  FROM documents GROUP BY lang),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
      |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |    CAST(SUM(lang_fp) AS BIGINT) AS langs_fp FROM per_lang),
      |pairs AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(('0x' || substr(md5(CAST(a.doc_id AS VARCHAR) || ':' ||
      |      CAST(b.doc_id AS VARCHAR)), 1, 10))::BIGINT) AS BIGINT)
      |      AS pairs_fp
      |  FROM documents a JOIN documents b
      |    ON a.doc_id // 25 = b.doc_id // 25
      |  WHERE (a.doc_id // 25) % 5 = 0)
      |SELECT n_langs, n_docs, langs_fp, TRUE AS agg_fell_back,
      |  n_pairs, pairs_fp, TRUE AS join_spilled
      |FROM agg, pairs""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q299 — WINDOW-OPERATOR SPILL (q273's discipline for the THIRD
  // stateful-memory operator class): q273 proves aggregation's sort
  // fallback and the sort-merge join's buffered-row spill change no
  // bytes; WindowExec is the remaining operator that buffers a whole
  // partition in memory (ExternalAppendOnlyUnsafeRowArray — running
  // frames, ranking functions), and at 100 TB a per-key window over a
  // hot key WILL exceed any in-memory threshold. Under punitive
  // thresholds every per-lang partition spills to disk
  // (`spillSize` > 0 read off the executed WindowExec) while the
  // running-sum + row_number fingerprints stay hash-equal to DuckDB's
  // pressure-free replay — degradation changes no bytes here either.
  // PlanGateSpec holds the negative control (default thresholds spill
  // nothing), so the detector can flip.
  // ─────────────────────────────────────────────────────────────────
  val q299WindowSpillGate: Q = (s, d) =>
    withSessionConfs(s,
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "16",
      "spark.sql.windowExec.buffer.spill.threshold" -> "16") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      val win = documents(s, d).select(col("doc_id"), col("lang"),
          sum(col("n_chars")).over(w).as("run_chars"),
          row_number().over(w).as("rn"))
        .agg(count(lit(1)).as("n_rows"),
          sum(fp(col("doc_id"), col("run_chars"), col("rn")))
            .as("win_fp"))
      val row = win.collect()(0)
      val spill = metricSum(win, "spillSize")
      import s.implicits._
      Seq((row.getLong(0), row.getLong(1), spill > 0))
        .toDF("n_rows", "win_fp", "window_spilled")
    }

  val q299Sql: String =
    """WITH win AS (
      |  SELECT doc_id,
      |    SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id)
      |      AS run_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |    CAST(run_chars AS VARCHAR) || ':' || CAST(rn AS VARCHAR)),
      |    1, 10))::BIGINT) AS BIGINT) AS win_fp,
      |  TRUE AS window_spilled
      |FROM win""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q274 — AQE AS A DRIVER-VISIBLE GATE: the two runtime re-plans
  // production leans on hardest, each pinned from the final adaptive
  // plan's own metrics (promoting AqeSkewSpec's claims to the oracle
  // tier).
  //
  //  (a) skew-join split: 90% of the corpus lands on one join key
  //      (derived from doc_id, so the oracle can replay it); under
  //      test-scale thresholds OptimizeSkewedJoin must split the hot
  //      partition — "number of skewed partitions" > 0 — and the
  //      joined aggregate must still match DuckDB's clean replay.
  //  (b) partition coalescing: a low-cardinality aggregate under 32
  //      shuffle partitions with a large advisory size — AQE must
  //      fuse the near-empty reducers ("number of coalesced
  //      partitions" > 0) without changing the aggregate.
  //
  // Scale shape: these ARE the scale mechanisms — (a) bounds the
  // straggler tail when a key goes hot, (b) keeps reducer count
  // proportional to data, not to a static shuffle.partitions.
  // ─────────────────────────────────────────────────────────────────
  val q274AqeGate: Q = (s, d) =>
    withSessionConfs(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val docs = documents(s, d)
      // 90% of rows on key 0, the tail spread over 200 keys — the
      // q58/AqeSkewSpec hot-key profile, derived from the corpus. The
      // text column rides along as the payload (skew detection reads
      // COMPRESSED shuffle-partition bytes; key-only rows compress
      // below any sane threshold at test scale), and the left side is
      // spread over 16 map tasks first: AQE splits a skewed reducer
      // by MAP-OUTPUT RANGES, so a single-mapper stage (one parquet
      // file at test scale) is structurally unsplittable however hot
      // the key — at 100 TB the mappers are legion, locally we must
      // make them exist.
      val left = docs.select(
        when(col("doc_id") % 10 < 9, 0L)
          .otherwise(col("doc_id") % 200 + 1).as("k"),
        col("doc_id").as("v"), col("text"))
        .repartition(16, col("v"))
      val right = s.range(0, 201).select(col("id").as("k"),
        (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n_joined"),
          sum(col("v") + col("w")).as("joined_sum"),
          sum(length(col("text")).cast("long")).as("chars_sum"))
      val joinedRow = joined.collect()(0)
      val skewed = metricSum(joined, "numSkewedPartitions")

      val coalesce = withSessionConfs(s,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m") {
        val df = docs.groupBy(expr("doc_id % 16").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_docs"))
        val r = df.collect()(0)
        (r.getLong(0), r.getLong(1),
          metricSum(df, "numCoalescedPartitions"))
      }

      import s.implicits._
      Seq((joinedRow.getLong(0), joinedRow.getLong(1),
        joinedRow.getLong(2), skewed > 0,
        coalesce._1, coalesce._2, coalesce._3 > 0))
        .toDF("n_joined", "joined_sum", "chars_sum", "skew_split",
          "n_buckets", "n_docs", "coalesced")
    }

  val q274Sql: String =
    """WITH skew_left AS (
      |  SELECT CASE WHEN doc_id % 10 < 9 THEN 0
      |    ELSE doc_id % 200 + 1 END AS k, doc_id AS v, text
      |  FROM documents),
      |skew_right AS (SELECT i AS k, i * 10 AS w FROM range(0, 201) t(i)),
      |joined AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_joined,
      |    CAST(SUM(v + w) AS BIGINT) AS joined_sum,
      |    CAST(SUM(length(text)) AS BIGINT) AS chars_sum
      |  FROM skew_left JOIN skew_right USING (k)),
      |buckets AS (
      |  SELECT doc_id % 16 AS bucket, COUNT(*) AS n
      |  FROM documents GROUP BY 1),
      |coal AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |    CAST(SUM(n) AS BIGINT) AS n_docs FROM buckets)
      |SELECT n_joined, joined_sum, chars_sum, TRUE AS skew_split,
      |  n_buckets, n_docs, TRUE AS coalesced
      |FROM joined, coal""".stripMargin

  // ─────────────────────────────────────────────────────────────────
  // q277 — STREAMING EXACTLY-ONCE UNDER TASK RETRIES (q272's write
  // leg composed with the streaming stack): the doc spool streams one
  // file per AvailableNow trigger, and EVERY task of every
  // micro-batch's foreachBatch write job fails on its first attempt.
  // Two layers of the exactly-once story are under test at once — the
  // commit protocol must discard failed WRITE attempts' files inside
  // each batch (task grain), and the batchId-keyed idempotent sink
  // must keep replays single-landing (batch grain, the q181/q247
  // contract). The sink must equal the spool truth row-for-row with
  // one partition per micro-batch; the injection counter pins that
  // the faults actually fired. At 100 TB this is the ordinary life of
  // a long-running ingest stream — executors die mid-batch and the
  // landing zone must not notice.
  // ─────────────────────────────────────────────────────────────────
  val q277StreamingRetry: Q = (s, d) => {
    val spDir = StreamingQueries.docSpool(s, d)
    val Seq(ckpt, outPath) =
      runDirs(s, "graft_stream_retry", d)("_ckpt", "_out")
    val tag = freshTag()
    spoolStream(s, spDir, 1)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamingQueries.writeBatch(
          failFirstAttempt(batch.sparkSession, batch, tag), outPath, batchId)
      }
      .start().awaitTermination()
    val faults = injectedCount(tag)
    val nBatches = s.read.parquet(outPath)
      .select(countDistinct(col("batch_id"))).head().getLong(0)
    val sunk = StreamingQueries.readSink(s, outPath)
      .agg(count(lit(1)).as("n"),
        sum(fp(col("doc_id"), md5(col("text")))).as("f")).head()
    import s.implicits._
    Seq((sunk.getLong(0), sunk.getLong(1), nBatches, faults > 0))
      .toDF("n_rows", "rows_fp", "n_batches", "faults_injected")
  }

  /** The spool is 3 parquet files by construction (docSpool's
    * repartition(3)) and AvailableNow + maxFilesPerTrigger=1 makes
    * each its own micro-batch — n_batches = 3 is the spool contract,
    * pinned so a silently single-batch run (which would never
    * exercise cross-batch retry) fails the gate.
    */
  val q277Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |    md5(text)), 1, 10))::BIGINT) AS BIGINT) AS rows_fp,
      |  CAST(3 AS BIGINT) AS n_batches,
      |  TRUE AS faults_injected
      |FROM documents""".stripMargin

  // ─────────────────────────────────────────────────────────────────

  val queries: Map[String, Q] = Map(
    "q272_retry_determinism" -> q272RetryDeterminism,
    "q273_spill_gate" -> q273SpillGate,
    "q274_aqe_gate" -> q274AqeGate,
    "q277_streaming_retry" -> q277StreamingRetry,
    "q299_window_spill_gate" -> q299WindowSpillGate)

  val oracle: Map[String, String] = Map(
    "q272_retry_determinism" -> q272Sql,
    "q273_spill_gate" -> q273Sql,
    "q274_aqe_gate" -> q274Sql,
    "q277_streaming_retry" -> q277Sql,
    "q299_window_spill_gate" -> q299Sql)
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

import graft.core.Tables._

/** Corpus profiling + batch-shaping operators a training pipeline runs
  * between filtering and writing shards: exact distribution quantiles
  * (data profiling / cutoff calibration) and token-budget sequence
  * packing (pretraining batch shaping).
  *
  * Both are written in the shape that survives 100 TB:
  *  - q61 computes EXACT quantiles WITHOUT sorting the corpus: a
  *    (lang, n_chars) histogram first (one partial-agg shuffle, output
  *    bounded by the value domain, not the row count), then the
  *    cumulative walk + quantile pick runs over the tiny histogram. The
  *    naive window (`row_number` over each language's full stream) sorts
  *    a whole language in ONE task — the classic quantile scale trap.
  *  - q62 packs per (lang, shard): the cumulative token walk is
  *    inherently sequential, so it shards first (deterministic doc_id
  *    mod) and packs within shards — each task owns corpus/(langs·shards)
  *    rows instead of a whole language.
  *
  * All arithmetic is integer (counts, ceil-division thresholds, floor
  * bin division) — bit-identical on any engine, no float quantile
  * interpolation to drift.
  */
object CorpusStatsQueries {

  /** Integer ceil(total · pct / 100) — the rank a discrete quantile must
    * reach; `div`/`//` integer arithmetic, identical on both engines.
    */
  private def rankAt(pct: Int): Column =
    expr(s"(total * $pct + 99) div 100")

  /** q61 — exact per-language length quantiles (p50/p90/p99) via the
    * two-phase histogram: smallest value whose cumulative count reaches
    * ceil(p·n). `quantile_disc` semantics, engine-neutral.
    */
  val q61LengthQuantiles: Q = (s, d) =>
    lengthQuantiles(s, d).orderBy("lang")

  /** The q61 engine: per-language (p50, p90, p99, n_docs) via the
    * two-phase histogram — output bounded by |langs|, so downstream
    * consumers (q69's outlier clip) can broadcast it.
    */
  def lengthQuantiles(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    quantilesOverHist(documents(s, d)
      .groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("cnt")))

  /** The quantile pick over any `(lang, n_chars, cnt)` histogram — the
    * report half of the q61 engine, shared VERBATIM by the batch query
    * and q170's streaming histogram fold (per-bucket counts are a
    * commutative monoid, so the folded stream state IS this histogram).
    */
  def quantilesOverHist(
      hist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("lang").orderBy("n_chars")
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total",
        sum(col("cnt")).over(Window.partitionBy("lang")))
    def pick(pct: Int): Column =
      min(when(col("cum") >= rankAt(pct), col("n_chars"))).as(s"p$pct")
    cum.groupBy("lang")
      .agg(pick(50), pick(90), pick(99),
        max(col("total")).as("n_docs"))
  }

  /** The q61 histogram-quantile CTE chain, shared with q69's oracle. */
  private val quantilesCtesSql: String =
    """hist AS (
      |  SELECT lang, n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
      |cum AS (
      |  SELECT lang, n_chars,
      |    SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
      |                   ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER (PARTITION BY lang) AS total
      |  FROM hist),
      |quant AS (
      |  SELECT lang,
      |    MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN n_chars END) AS p50,
      |    MIN(CASE WHEN cum >= (total * 90 + 99) // 100 THEN n_chars END) AS p90,
      |    MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN n_chars END) AS p99,
      |    CAST(MAX(total) AS BIGINT) AS n_docs
      |  FROM cum GROUP BY lang)""".stripMargin

  val q61Sql: String =
    s"""WITH $quantilesCtesSql
       |SELECT lang, p50, p90, p99, n_docs FROM quant ORDER BY lang""".stripMargin

  private val PackBudget = 4096L
  private val PackShards = 8

  /** q62 — token-budget sequence packing (GPT-style pretraining batch
    * shaping): documents are concatenated in deterministic (doc_id)
    * order within each (lang, shard) stream and split into bins of
    * `PackBudget` tokens; a doc's bin is its stream's token offset DIV
    * budget. One window cumsum per shard — no global sort, no driver
    * loop; retries land in the same bin (pure function of doc_id order).
    */
  val q62TokenPacking: Q = (s, d) => {
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % PackShards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"offset div $PackBudget"))
      .select("doc_id", "lang", "shard", "n_tokens", "bin")
      .orderBy("doc_id")
  }

  val q62Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, doc_id % $PackShards AS shard,
       |    len($tokensSql) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, lang, shard, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $PackBudget
       |    AS BIGINT) AS bin
       |FROM t ORDER BY doc_id""".stripMargin

  /** q63 — token-rarity scoring: join CORPUS-LEVEL vocabulary statistics
    * (per-token document frequency) back onto every document and score
    * it by the mean document frequency of its token occurrences — the
    * IDF-flavored commonness signal quality pipelines use to flag
    * gibberish/foreign/boilerplate docs whose vocabulary doesn't match
    * the corpus. Docs whose mean df falls below `RareDocPerMille`/1000
    * of the corpus document count (or token-less docs) are flagged — a
    * fraction, so the knob is corpus-size independent (set near this
    * corpus's median so BOTH flag branches stay exercised by the
    * oracle). The comparison is `mean_df * 1000 < perMille * n_docs`:
    * integer-literal arithmetic only, because a fractional literal
    * types as exact DECIMAL in DuckDB but as a rounded double in Spark,
    * and the two thresholds then differ by an ulp for many corpus
    * sizes — a latent hash FAIL on boundary-valued docs.
    *
    * Shape: the per-doc token ARRAY frame is computed once, persisted
    * (tracked) and exploded by both consumers — tokenizing is the
    * dominant cost and must not run per consumer (the q56/q57 shared-
    * frame convention).
    *
    * THE CACHE IS CORPUS-SIZED — a deliberate space-time trade, stated
    * explicitly (the q45 rewrite's standard): MEMORY_AND_DISK spills
    * rather than OOMs, but at 100 TB it is a second on-disk copy of the
    * corpus (~1× input bytes; token arrays ≈ the text they came from).
    * It wins while (cache write + 2 reads) < 2× tokenize+scan — true
    * here and for any regex-heavy tokenizer (tokenize dominates the scan
    * several-fold). Recompute-per-consumer wins instead when executor
    * storage is the scarce resource — i.e. when local disk cannot hold a
    * second corpus copy alongside shuffle space — or when the tokenizer
    * is cheap enough (a plain split) to approach scan cost. Callers at
    * that scale pass `cacheTokens = false` below: both consumers then
    * re-tokenize from the columnar scan, trading ~1 extra tokenize pass
    * for zero storage footprint. The default stays `true` — correct for
    * every SF this library is benched at and for clusters provisioned
    * with disk ≥ 2× corpus.
    *
    * One distinct + one groupBy build the (token, doc_freq)
    * vocabulary — output bounded by vocabulary size, not corpus size —
    * then one join sends df values back to token occurrences (AQE
    * broadcasts the vocab side when it fits; at web scale it shuffles on
    * the token, which is exactly the vocabulary skew the BucketPairs-
    * style cap does NOT need: df rows are unique per token) and one
    * per-doc aggregate. The mean is an exact integer sum divided once —
    * bit-identical across engines (the only-one-division rule).
    */
  private val RareDocPerMille = 777L

  val q63TokenRarity: Q = (s, d) => tokenRarity(s, d)

  /** q63 engine; `cacheTokens = false` is the storage-scarce 100 TB mode
    * (see the trade-off note above): both consumers re-tokenize from the
    * scan instead of reading a corpus-sized cache.
    */
  def tokenRarity(s: org.apache.spark.sql.SparkSession, d: String,
      cacheTokens: Boolean = true): org.apache.spark.sql.DataFrame = {
    // single-file parquet -> one input partition; fan out before the
    // regex-heavy tokenize (same rationale as DedupTextQueries)
    val base = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("w"))
    val docToks =
      if (cacheTokens) graft.core.CacheScope.track(
        base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else base
    val tok = docToks.select(col("doc_id"), explode(col("w")).as("t"))
    val docFreq = tok.distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    val scored = tok.join(docFreq, Seq("t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(col("df")).as("mean_df"))
    val total = documents(s, d).agg(count(lit(1)).as("n_docs"))
    documents(s, d).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("mean_df"), lit(0.0)).as("mean_df"),
        (coalesce(col("mean_df"), lit(0.0)) * lit(1000L) <
          lit(RareDocPerMille) * col("n_docs")).as("is_rare"))
      .orderBy("doc_id")
  }

  val q63Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tokensSql) AS t FROM documents),
       |df AS (
       |  SELECT t, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, t FROM tok)
       |  GROUP BY t),
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens, AVG(df) AS mean_df
       |  FROM tok JOIN df USING (t) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(s.n_tokens, 0) AS n_tokens,
       |  COALESCE(s.mean_df, 0.0) AS mean_df,
       |  COALESCE(s.mean_df, 0.0) * 1000 <
       |    $RareDocPerMille * (SELECT COUNT(*) FROM documents) AS is_rare
       |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q69 — length-outlier clipping: drop documents whose character count
    * exceeds their language's exact p99 (the standard "clip the tail
    * before tokenizer budgeting" hygiene pass). Second consumer of the
    * q61 histogram engine: the quantile table is bounded by |langs|, so
    * it broadcasts back onto the corpus and the clip itself is a
    * map-side comparison — two corpus passes total (histogram aggregate
    * + filter scan), no corpus-sized shuffle, no per-language sort.
    */
  val q69OutlierClip: Q = (s, d) =>
    documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(lengthQuantiles(s, d).select(col("lang"), col("p99"))),
        Seq("lang"))
      .filter(col("n_chars") <= col("p99"))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  val q69Sql: String =
    s"""WITH $quantilesCtesSql
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d JOIN quant q USING (lang)
       |WHERE d.n_chars <= q.p99
       |ORDER BY d.doc_id""".stripMargin

  /** q73 — vocabulary coverage curve: the number of DISTINCT token types
    * (most-frequent-first) needed to cover 50/90/99% of all token
    * occurrences — the tokenizer-design profile (vocab-size vs OOV-rate
    * trade) and the Zipf-shape sanity check run before committing a BPE
    * vocab budget. Same two-phase discipline as q61: the corpus pass is
    * ONE partial-agg shuffle producing the (token, count) table — output
    * bounded by |vocabulary|, not corpus rows — and only that bounded
    * table flows through the rank/cumulative window. The window is
    * deliberately single-partition: a vocabulary (even web-scale, ~10⁸
    * types) fits one task, and the alternative — partitioned ranking —
    * cannot express a global frequency order. Ties break on the token
    * string so rank order is total and engine-identical. All arithmetic
    * is integer (counts, ceil-division ranks); the coverage targets use
    * q61's `rankAt` contract.
    */
  val q73VocabCoverage: Q = (s, d) => {
    val counts = documents(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n_occ"))
    val w = Window.orderBy(col("n_occ").desc, col("t"))
    val cum = counts
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum(col("n_occ")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n_occ")).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    def cov(pct: Int): Column =
      min(when(col("cum") >= rankAt(pct), col("rank"))).as(s"c$pct")
    cum.agg(count(lit(1)).as("n_types"),
        max(col("total")).as("n_occurrences"),
        cov(50), cov(90), cov(99))
      .orderBy("n_types")
  }

  val q73Sql: String =
    s"""WITH tok AS (SELECT unnest($tokensSql) AS t FROM documents),
       |counts AS (SELECT t, COUNT(*) AS n_occ FROM tok GROUP BY t),
       |cum AS (SELECT t, n_occ,
       |  ROW_NUMBER() OVER (ORDER BY n_occ DESC, t) AS rank,
       |  SUM(n_occ) OVER (ORDER BY n_occ DESC, t
       |                   ROWS UNBOUNDED PRECEDING) AS cum,
       |  SUM(n_occ) OVER () AS total
       |  FROM counts)
       |SELECT COUNT(*) AS n_types,
       |  CAST(MAX(total) AS BIGINT) AS n_occurrences,
       |  MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN rank END) AS c50,
       |  MIN(CASE WHEN cum >= (total * 90 + 99) // 100 THEN rank END) AS c90,
       |  MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN rank END) AS c99
       |FROM cum ORDER BY n_types""".stripMargin

  private val ShuffleShards = 16

  /** q74 — deterministic corpus shuffle + shard manifest: the training-
    * export step that breaks crawl/source ordering before shards are
    * written (adjacent-doc correlation is a real pretraining pathology).
    * Shard = 60-bit md5 slice mod `ShuffleShards` (integer arithmetic,
    * never float·S-and-floor — a float product can straddle an ulp
    * between engines); position = rank of the md5 hex key within the
    * shard, ties (impossible for md5, but contractually) broken by
    * doc_id. Retry-stable and seedless like every sampling op here
    * ([[graft.queries.mdUniform]] family, salt `shuffle:`).
    *
    * Scale shape: ONE hash-partition exchange on `shard` and a
    * per-shard sort — each task sorts corpus/S rows. This window IS the
    * production write: `repartition($"shard").sortWithinPartitions` +
    * `partitionBy(shard)` emits the same (shard, pos) order with the
    * same single exchange; at 100 TB, S scales to thousands so a shard
    * stays executor-sized. No global sort anywhere — the final
    * `ORDER BY doc_id` is the oracle-comparison convention, not part of
    * the operator.
    */
  val q74ShardManifest: Q = (s, d) =>
    withShard(documents(s, d))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("skey", "doc_id")))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")

  /** The q74 shard/sort-key derivation over any frame with a `doc_id` —
    * shared by the manifest query and [[writeShardedCorpus]] so the
    * logical manifest and the physical layout cannot drift.
    */
  private def withShard(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("skey",
        md5(concat(lit("shuffle:"), col("doc_id").cast("string"))))
      .withColumn("shard",
        conv(substring(col("skey"), 1, 15), 16, 10).cast("long")
          % ShuffleShards)

  /** q74's manifest as a PHYSICAL layout — the production form of the
    * shuffle (`Tables.writeBucketed` convention: the API, not just a
    * spec fixture): hash-repartition on `shard` (all rows of a shard in
    * exactly one task), sort within partitions by the md5 key, write
    * `partitionBy(shard)`. Each shard directory then holds its documents
    * in manifest `pos` order — the trainer streams shard files as-is, no
    * read-time sort. Same single exchange as the q74 window;
    * ShardedLayoutSpec proves file order == manifest order, one file per
    * shard.
    */
  def writeShardedCorpus(s: org.apache.spark.sql.SparkSession, d: String,
      path: String): Unit =
    withShard(documents(s, d))
      .repartition(ShuffleShards, col("shard"))
      // the sort LEADS with the partition column: the dynamic-partition
      // writer requires child ordering on it and would otherwise insert
      // its own (unstable) shard-only sort, destroying the skey order;
      // skey stays in the file (the writer must SEE the full ordering)
      // and doubles as the row's manifest key — 32 bytes next to text
      .sortWithinPartitions("shard", "skey", "doc_id")
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  val q74Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
       |  FROM documents),
       |sharded AS (
       |  SELECT doc_id, skey,
       |    ('0x' || substr(skey, 1, 15))::BIGINT % $ShuffleShards AS shard
       |  FROM keyed)
       |SELECT doc_id, shard,
       |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos
       |FROM sharded ORDER BY doc_id""".stripMargin

  /** q234 — `_metadata` PROVENANCE AUDIT of the sharded-corpus lake:
    * the manifest-vs-files reconciliation every 100 TB lake needs
    * before a training run trusts a layout. [[writeShardedCorpus]]
    * materializes q74's manifest as `partitionBy(shard)` parquet; the
    * audit then reads the lake back WITH the hidden `_metadata` struct
    * (file_path, file_size — the provenance columns the scan carries
    * for free, no extra I/O) and reconciles three independent views of
    * the same bytes per shard:
    *  - CONTENT: row count + content fingerprint from the file rows
    *    must equal the manifest recomputation (the oracle's side);
    *  - PLACEMENT: every row's `_metadata.file_path` must sit under
    *    its own `shard=<n>/` directory (`path_ok`) and each shard must
    *    hold exactly ONE data file (`n_files` — the write contract);
    *  - LISTING: an INDEPENDENT filesystem listing (driver-side glob,
    *    |shards| entries — bounded, never corpus-scaled) must agree
    *    with `_metadata` file-for-file on name and byte size
    *    (`n_listed`, `size_ok`) — a file the scan reads that the
    *    listing lacks (or vice versa, or a size drift) is exactly the
    *    orphan/torn-write class a lake audit exists to catch.
    * DuckDB cannot see our filesystem, so the oracle replays the
    * manifest derivation from `documents` and pins the physical
    * invariants at their contract values (1 file, all-true) — any
    * physical violation flips a hashed column.
    *
    * Scale shape: one scan of the lake with two virtual columns, one
    * partial-agg shuffle of |shards| rows, one broadcast of the
    * |shards|-row listing. At 100 TB the listing comes from the lake
    * manifest/catalog instead of a glob; the reconciliation plan is
    * unchanged.
    */
  val q234MetadataAudit: Q = (s, d) => {
    val dir = IngestQueries.landingDir(s, d, "shardlake")
    writeShardedCorpus(s, d, dir)
    auditShardedLake(s, dir)
  }

  /** The q234 reconciliation over any sharded lake directory — split
    * from the query so MetadataAuditSpec can tamper with a written
    * lake and prove a physical violation flips the audit columns.
    */
  private[queries] def auditShardedLake(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val listed = fs.globStatus(
        new org.apache.hadoop.fs.Path(dir, "shard=*/*.parquet"))
      .toSeq.map { st =>
        (st.getPath.getParent.getName.stripPrefix("shard=").toLong,
          st.getPath.getName, st.getLen)
      }
    val listing = s.createDataFrame(listed)
      .toDF("shard", "file_name", "listed_size")
    val perShardListed = listing.groupBy("shard")
      .agg(count(lit(1)).as("n_listed"))

    val physical = s.read.parquet(dir)
      .select(col("doc_id"), col("text"),
        col("shard").cast("long").as("shard"),
        col("_metadata.file_path").as("file_path"),
        col("_metadata.file_size").as("file_size"))
      .withColumn("file_name", element_at(split(col("file_path"), "/"), -1))

    physical
      .join(broadcast(listing), Seq("shard", "file_name"), "left")
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("file_name")).as("n_files"),
        sum(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("text")))), 1, 10),
            16, 10).cast("long")).as("docs_fp"),
        bool_and(col("file_path").contains(
          concat(lit("/shard="), col("shard"), lit("/")))).as("path_ok"),
        bool_and(coalesce(
          col("file_size") > 0 && col("file_size") === col("listed_size"),
          lit(false))).as("size_ok"))
      .join(broadcast(perShardListed), Seq("shard"), "left")
      .select(col("shard"), col("n_docs"), col("n_files"),
        coalesce(col("n_listed"), lit(0L)).as("n_listed"),
        col("docs_fp"), col("path_ok"), col("size_ok"))
      .orderBy("shard")
  }

  val q234Sql: String =
    s"""WITH keyed AS (
       |  SELECT doc_id, text,
       |    md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey
       |  FROM documents),
       |sharded AS (
       |  SELECT doc_id, text,
       |    ('0x' || substr(skey, 1, 15))::BIGINT % $ShuffleShards AS shard
       |  FROM keyed)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(1 AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS n_listed,
       |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
       |    md5(text)), 1, 10))::BIGINT) AS BIGINT) AS docs_fp,
       |  TRUE AS path_ok, TRUE AS size_ok
       |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin

  /** q246 — ANSI ERROR SEMANTICS + `try_` ARITHMETIC: Spark 4 runs
    * ANSI-on by default, which changes the 100 TB failure mode — one
    * bad row no longer poisons a result with a silent NULL/garbage, it
    * KILLS THE JOB. This gate pins both halves of that contract: the
    * strict side (a probe proves plain `/` raises DIVIDE_BY_ZERO — a
    * session accidentally running ANSI-off would green silently
    * otherwise, caught by the narrow `SparkThrowable` condition
    * match), and the mitigation side — `try_divide`/`try_add` return
    * NULL for exactly the rows the recipe damages (doc_id%5=0 zero
    * divisors; doc_id%7=0 seeded Long.MaxValue overflow) while every
    * healthy row computes normally, counted and summed per language.
    * The oracle replays the recipe with CASE guards — the `try_`
    * family must be semantically equal to guarded arithmetic, just
    * without a second pass over the predicate.
    *
    * Scale shape: all map-side codegen'd expressions in one
    * partial-agg pass; the strict probe is a pushdown-filtered
    * `limit(1)` action, never a corpus scan.
    */
  val q246TryArithmetic: Q = (s, d) => {
    val docs = documents(s, d)
    val ansiStrict =
      try {
        docs.filter(col("doc_id") % 5 === 0)
          .select((col("n_chars") / (col("doc_id") % 5)).as("x"))
          .limit(1).collect()
        false
      } catch {
        case e: org.apache.spark.SparkThrowable
            if e.getCondition != null &&
              e.getCondition.startsWith("DIVIDE_BY_ZERO") => true
      }
    val ratio = try_divide(col("n_chars"), col("doc_id") % 5)
    // `+ 1` makes the seeded overflow UNCONDITIONAL: n_chars >= 0 in
    // any corpus, so MaxValue + (n_chars + 1) always wraps — a
    // zero-length document in a future testdata regeneration cannot
    // flip the gate (try_add(MaxValue, 0) would NOT overflow).
    val seeded = try_add(
      when(col("doc_id") % 7 === 0, lit(Long.MaxValue)).otherwise(lit(0L)),
      col("n_chars") + 1)
    docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(ratio.isNull, 1L).otherwise(0L)).as("n_div_null"),
        sum(when(seeded.isNull, 1L).otherwise(0L)).as("n_overflow_null"),
        sum(floor(ratio)).as("sum_floor_ratio"))
      .withColumn("ansi_strict", lit(ansiStrict))
      .orderBy("lang")
  }

  val q246Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_div_null,
      |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_overflow_null,
      |  CAST(SUM(CASE WHEN doc_id % 5 <> 0
      |    THEN CAST(FLOOR(n_chars / (doc_id % 5)) AS BIGINT) END)
      |    AS BIGINT) AS sum_floor_ratio,
      |  TRUE AS ansi_strict
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q83 — per-language MAD (median absolute deviation of n_chars):
    * the robust dispersion figure profiling uses where q71's stddev is
    * outlier-dominated (a handful of giant documents can double a
    * stddev while MAD barely moves — exactly the corpora these
    * pipelines see). Third consumer of the histogram-quantile
    * discipline: q61's engine yields the per-language median, the
    * |x − median| histogram yields the deviation median — TWO corpus
    * scans total (both collapse map-side to value-domain-bounded
    * histograms), the quantile table broadcast back like q69, and every
    * value is an integer so both engines agree bit-for-bit with no
    * float quantile interpolation.
    */
  val q83LengthMad: Q = (s, d) => {
    val med = lengthQuantiles(s, d).select(col("lang"), col("p50"))
    val devHist = documents(s, d)
      .join(broadcast(med), Seq("lang"))
      .select(col("lang"), col("p50"),
        abs(col("n_chars") - col("p50")).as("dev"))
      .groupBy("lang", "p50", "dev").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy("dev")
    devHist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total",
        sum(col("cnt")).over(Window.partitionBy("lang")))
      .groupBy("lang")
      .agg(max(col("p50")).as("median"),
        min(when(col("cum") >= rankAt(50), col("dev"))).as("mad"))
      .orderBy("lang")
  }

  val q83Sql: String =
    s"""WITH $quantilesCtesSql,
       |dev AS (
       |  SELECT d.lang, q.p50, abs(d.n_chars - q.p50) AS dev
       |  FROM documents d JOIN quant q USING (lang)),
       |dh AS (SELECT lang, p50, dev, COUNT(*) AS cnt FROM dev GROUP BY 1, 2, 3),
       |dc AS (SELECT lang, p50, dev,
       |  SUM(cnt) OVER (PARTITION BY lang ORDER BY dev
       |                 ROWS UNBOUNDED PRECEDING) AS cum,
       |  SUM(cnt) OVER (PARTITION BY lang) AS total
       |  FROM dh)
       |SELECT lang, MAX(p50) AS median,
       |  MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN dev END) AS mad
       |FROM dc GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-(lang, shard) token quota for q79: BudgetTokens/lang spread
    * across q62's shard count.
    */
  private val BudgetTokens = 3200L

  /** q79 — token-BUDGET-capped sampling: fill each language's token
    * quota (the mixture spec a pretraining run actually states: "this
    * many tokens of each language", not "this fraction of documents")
    * by admitting documents in deterministic md5 order until the budget
    * is hit. A doc is kept while the RUNNING token total BEFORE it is
    * under its stream's quota — so every stream slightly overshoots by
    * at most one document, deterministically, rather than undershooting
    * or cutting a document in half.
    *
    * Scale shape = q62's: the cumulative walk is inherently sequential,
    * so it runs per (lang, shard) — `PackShards` deterministic doc_id
    * streams per language, each task owning corpus/(langs·shards) rows,
    * each stream owning budget/shards tokens. The admission ORDER is the
    * md5-uniform draw (salt `budget:`) so the kept set is an unbiased,
    * retry-stable sample of the language, not a doc_id-prefix artifact.
    */
  val q79BudgetSample: Q = (s, d) => {
    val w = Window.partitionBy("lang", "shard").orderBy("u", "doc_id")
    val shardBudget = BudgetTokens / PackShards
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % PackShards).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        mdUniform("budget:", col("doc_id")).as("u"))
      .withColumn("prior_tokens",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("prior_tokens") < shardBudget)
      .select("doc_id", "lang", "shard", "n_tokens", "prior_tokens")
      .orderBy("doc_id")
  }

  val q79Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, doc_id % $PackShards AS shard,
       |    len($tokensSql) AS n_tokens,
       |    ${mdUniformSql("budget:", "doc_id")} AS u
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY lang, shard ORDER BY u, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS prior_tokens
       |  FROM t)
       |SELECT doc_id, lang, shard, n_tokens, prior_tokens
       |FROM c WHERE prior_tokens < ${BudgetTokens / PackShards}
       |ORDER BY doc_id""".stripMargin

  /** Learned merges for q127 — small enough that the unrolled oracle
    * stays readable, large enough that later merges build ON earlier
    * merge symbols (merge-of-merged, the property that makes BPE BPE).
    */
  private val BpeIters = 8

  /** Private-use-area stand-in for merge token `i` — a single BMP char
    * on both engines, so `substr`/`length`/`replace` character
    * semantics agree and merged symbols can themselves pair.
    */
  private def mergeSym(i: Int): String = (0xE000 + i).toChar.toString

  /** q127 — BPE merge TRAINING (the Sennrich-style tokenizer-building
    * loop): repeatedly find the corpus' most frequent adjacent
    * character pair (never across whitespace), replace every
    * occurrence with a fresh merge symbol, and repeat — [[BpeIters]]
    * rounds. Output is the learned merge table `(it, pair, n_pair)`;
    * later rounds' pairs legitimately CONTAIN earlier merge symbols,
    * which is the algorithm's whole point. Ties (equal counts) break
    * to the binary-smaller pair on both engines.
    *
    * Scale shape — the canonical distributed BPE trainer: each round
    * is ONE corpus pass whose pair counting is partial-agg'd (the
    * shuffle carries the pair DOMAIN, bounded by alphabet², never the
    * corpus), the winner is a vocabulary-grain driver reduction (ONE
    * row — the same bounded-collect class as a k-means centroid
    * update), and the merge applies map-side as a literal `replace` in
    * the next round's scan. K rounds = K passes; each round's text
    * persists so round k reads the previous merge's output instead of
    * replaying k−1 replaces (CacheScope-tracked, released per Verify's
    * scope). At 100 TB this is exactly how production BPE training
    * jobs are shaped — iterative full scans with a tiny reduced state.
    *
    * The oracle unrolls the same K rounds as chained CTE stages, each
    * stage's `replace` keyed by the previous stage's scalar winner —
    * bit-exact across engines because pair extraction (`substr`),
    * whitespace exclusion, counting, tie order and replacement are all
    * integer/string operations.
    */
  val q127BpeMerges: Q = (s, d) => {
    import s.implicits._
    val merges = bpeTrain(s, documents(s, d))
    bpeMemo.put(d, merges)
    merges.toDF("it", "pair", "n_pair").orderBy("it")
  }

  /** The q127 trainer over any `(doc_id, text)` frame. */
  private[graft] def bpeMerges(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    bpeTrain(s, docs).toDF("it", "pair", "n_pair").orderBy("it")
  }

  /** Once-per-JVM-per-source-dir merge table (the trained-artifact memo
    * — the RunStore discipline at vocabulary grain; 8 rows, so a
    * sidecar is overkill). q127 always RE-TRAINS (it times the
    * trainer) and refreshes this; q128 encodes with whatever training
    * already ran, training once itself when nothing has.
    */
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, String, Long)]]()

  private[graft] def trainedMerges(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Int, String, Long)] =
    bpeMemo.computeIfAbsent(d, _ => bpeTrain(s, documents(s, d)))

  /** The shared training loop: the learned merges `(it, pair, n_pair)`,
    * which q127 reports and q128 encodes with ([[trainedMerges]]).
    */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): Seq[(Int, String, Long)] = {
    // r21 (guide §2.3 "aggregate before you shuffle" — the Sennrich
    // trainer's own word-dictionary form): pairs never span whitespace,
    // so the corpus-grain per-position explode (one generator row per
    // CHARACTER, each copying the full text — the former 8 × corpus
    // passes, ~0.4 s/round at sf0.1) collapses to the WORD-FREQUENCY
    // table: split once, count words once, and every training round
    // explodes only the DISTINCT words (vocabulary-grain), weighting
    // pair counts by word frequency. Merges rewrite the vocabulary
    // (replace + re-aggregate — a merge can only rewrite within a
    // word, since the merged pair contains no whitespace character and
    // an occurrence spanning a word boundary would have to), so the
    // per-round pass is O(vocab), not O(corpus). Counts are identical
    // by Σ_word n_word × pairs_in_word = pairs_in_corpus (whitespace-
    // crossing pairs excluded on both forms: the old rlike("\\s")
    // filter ≡ splitting on the same \s class). The r20 negative
    // result (array-first rewrite, interpreted lambda tax) is moot on
    // this shape: the explode now runs over KB of vocabulary.
    // Up-front spread as before: a small corpus file arrives as ONE
    // scan partition and the first split+count pass would run on one
    // core without it; the vocab frames inherit hash distribution.
    var words = graft.core.CacheScope.track(docs
      .select(col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var it = 0
    var exhausted = false
    while (it < BpeIters && !exhausted) {
      val winner = words
        .filter(length(col("w")) >= 2)
        .select(col("w"), col("n"),
          explode(sequence(lit(1), length(col("w")) - 1)).as("p"))
        .selectExpr("substr(w, p, 2) AS pair", "n")
        .groupBy("pair")
        .agg(sum(col("n")).as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair"))
        .limit(1)
        .collect()
      if (winner.isEmpty) exhausted = true
      else {
        val pair = winner(0).getAs[String]("pair")
        merges += ((it, pair, winner(0).getAs[Long]("n_pair")))
        words = graft.core.CacheScope.track(
          words.select(
            org.apache.spark.sql.functions.replace(
              col("w"), lit(pair), lit(mergeSym(it))).as("w"),
            col("n"))
            .groupBy("w").agg(sum(col("n")).as("n"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        it += 1
      }
    }
    merges.toSeq
  }

  /** The unrolled training rounds as chained CTE stages (`t0` →
    * `t{BpeIters}` with per-stage winners `w0..`), shared by both BPE
    * oracles.
    */
  private val bpeStagesSql: String = {
    val stages = (0 until BpeIters).map { i =>
      s"""p$i AS (
         |  SELECT substr(text, p, 2) AS pair
         |  FROM (SELECT text, unnest(range(1, length(text))) AS p
         |        FROM t$i WHERE length(text) >= 2)),
         |w$i AS (
         |  SELECT $i AS it, pair, COUNT(*) AS n_pair
         |  FROM p$i WHERE NOT regexp_matches(pair, '\\s')
         |  GROUP BY pair ORDER BY n_pair DESC, pair LIMIT 1),
         |t${i + 1} AS (
         |  SELECT doc_id,
         |    replace(text, (SELECT pair FROM w$i), '${mergeSym(i)}') AS text
         |  FROM t$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id, text FROM documents),
       |$stages""".stripMargin
  }

  val q127Sql: String = {
    val union = (0 until BpeIters)
      .map(i => s"SELECT it, pair, n_pair FROM w$i")
      .mkString("\nUNION ALL\n")
    s"""$bpeStagesSql
       |$union
       |ORDER BY it""".stripMargin
  }

  /** q128 — BPE ENCODE: the learned merges applied back to the corpus
    * (training without application is half a tokenizer). After the
    * [[BpeIters]] merge rounds every non-whitespace character of the
    * merged text is ONE vocabulary symbol — base character or merge —
    * so the per-document symbol count is a `length` over the merged
    * text with whitespace stripped, next to the raw character count it
    * compressed. This is q37's token counting upgraded from a
    * whitespace heuristic to a TRAINED subword vocabulary, and the
    * quantity a budget-packing pass (q62) would consume from a real
    * tokenizer.
    *
    * Scale shape: given a trained merge table (the [[trainedMerges]]
    * memo — at 100 TB the merge table is the tokenizer artifact,
    * trained once and shipped), ENCODING is a single map-side pass:
    * the 8 merges chain as nested literal `replace` calls inside one
    * codegen'd projection — no join, no loop, no second corpus
    * derivation; both counts come off the same scan.
    */
  val q128BpeEncode: Q = (s, d) =>
    bpeEncodeCounts(documents(s, d), trainedMerges(s, d)).orderBy("doc_id")

  /** The encode pass over any `(doc_id, text)` frame given a trained
    * merge table — pure map-side, so it is STREAM-READY as-is
    * (StreamReadyTransformsSpec pins batch == stream): tokenize-on-
    * ingest with a shipped tokenizer artifact.
    */
  private[graft] def bpeEncodeCounts(docs: org.apache.spark.sql.DataFrame,
      merges: Seq[(Int, String, Long)]): org.apache.spark.sql.DataFrame = {
    val encodedText = merges.foldLeft(col("text")) { case (c, (i, pair, _)) =>
      org.apache.spark.sql.functions.replace(c, lit(pair), lit(mergeSym(i)))
    }
    docs.select(col("doc_id"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_chars"),
      length(regexp_replace(encodedText, "\\s", "")).cast("long").as("n_bpe"))
  }

  val q128Sql: String =
    s"""$bpeStagesSql
       |SELECT t0.doc_id,
       |  length(regexp_replace(t0.text, '\\s', '', 'g')) AS n_chars,
       |  length(regexp_replace(t$BpeIters.text, '\\s', '', 'g')) AS n_bpe
       |FROM t0 JOIN t$BpeIters USING (doc_id)
       |ORDER BY t0.doc_id""".stripMargin

  /** q135 — vocabulary DRIFT between the corpus base and the ingest
    * delta (q64's slice discipline: `doc_id % 10 = 0` is the arriving
    * delta): the distribution-shift monitor an ingest pipeline runs
    * before trusting frozen artifacts (tokenizer merges, quantizer
    * grids, quality cutoffs) on new data. Per token, the divergence is
    * the CROSS-MULTIPLIED rate difference
    * `|c_base·n_delta − c_delta·n_base|` — exactly zero iff the token's
    * rate is identical in both slices, monotone in the rate gap, and
    * pure BIGINT (the float KL/JS alternatives hit the sum-order
    * hazard; cross-multiplication compares the same rationals without
    * ever dividing). Top-20 by divergence.
    *
    * Scale shape: ONE tokenize pass with a boolean slice tag, one
    * partial-aggregated groupBy(token) (shuffle bounded by the
    * vocabulary, not the corpus), scalar totals broadcast, and the cut
    * is TakeOrderedAndProject — no global sort.
    */
  val q135TokenDrift: Q = (s, d) => {
    val toks = documents(s, d)
      .select((col("doc_id") % 10 === 0).as("is_delta"),
        explode(tokens(col("text"))).as("tok"))
    // vocabulary-grain and consumed TWICE (totals + final projection) —
    // persisted so the corpus is tokenized once, not once per consumer
    val counts = graft.core.CacheScope.track(toks.groupBy("tok").agg(
      sum(when(col("is_delta"), 1L).otherwise(0L)).as("c_delta"),
      sum(when(col("is_delta"), 0L).otherwise(1L)).as("c_base"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totals = counts.agg(
      sum("c_delta").as("n_delta"), sum("c_base").as("n_base"))
    counts.crossJoin(broadcast(totals))
      .select(col("tok"), col("c_base"), col("c_delta"),
        abs(col("c_base") * col("n_delta") - col("c_delta") * col("n_base"))
          .as("divergence"))
      .orderBy(col("divergence").desc, col("tok"))
      .limit(20)
  }

  val q135Sql: String =
    s"""WITH t AS (SELECT doc_id % 10 = 0 AS is_delta, unnest($tokensSql) AS tok
       |           FROM documents),
       |c AS (SELECT tok,
       |  CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS c_delta,
       |  CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS c_base
       |  FROM t GROUP BY tok),
       |n AS (SELECT CAST(SUM(c_delta) AS BIGINT) AS n_delta,
       |             CAST(SUM(c_base) AS BIGINT) AS n_base FROM c)
       |SELECT tok, c_base, c_delta,
       |  abs(c_base * n_delta - c_delta * n_base) AS divergence
       |FROM c CROSS JOIN n
       |ORDER BY divergence DESC, tok LIMIT 20""".stripMargin

  /** Count-min sketch geometry shared by q149/q150 and both oracles:
    * `CmsDepth` md5-derived hash rows over `CmsWidth` buckets, and a
    * fixed [[CmsQueryCount]]-token md5-sampled query set (the q49/
    * annQuerySet discipline — |queries| constant across scale factors).
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 512
  private[graft] val CmsQueryCount = 50

  /** Vocab-grain token counts `(tok, n)` — the word-count shape whose
    * map-side partial aggregation bounds the exchange at
    * min(vocab, rows·partitions). Shared pre-pass of the CMS family
    * (r20 optimization, guide §2.3 "aggregate before you shuffle"):
    * every downstream hash/probe then runs once per DISTINCT token
    * instead of once per occurrence.
    */
  private[graft] def tokenCounts(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toks.groupBy("tok").agg(count(lit(1)).as("n"))

  /** The d×w sketch over a token stream. r20 optimization (guide §2.3,
    * §4): the d md5 probes are computed per DISTINCT token over the
    * [[tokenCounts]] pre-aggregation and weighted by `n`, instead of
    * per occurrence — identical bucket sums (the bucket is a pure
    * function of `(i, tok)`), ~vocab/corpus of the hashing work. The
    * sketch's own exchange stays ≤ d·w groups; the added vocab-grain
    * exchange is the family's standard word-count shape (q63/q135
    * already pay it). For a truly unbounded key domain, feed occurrence
    * rows with `n = 1` via [[cmsSketch]]'s raw form — the weighted
    * fold degrades to the original per-occurrence sketch.
    */
  private[graft] def cmsSketch(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cmsSketchCounted(tokenCounts(toks))

  /** [[cmsSketch]] over an already-counted `(tok, n)` frame. */
  private[graft] def cmsSketchCounted(tc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tc
      .select(explode(sequence(lit(0), lit(CmsDepth - 1))).as("i"),
        col("tok"), col("n"))
      .select(col("i"),
        (conv(substring(md5(concat(col("i").cast("string"), lit(":"),
          col("tok"))), 1, 15), 16, 10).cast("long") % CmsWidth).as("bucket"),
        col("n"))
      .groupBy("i", "bucket")
      .agg(sum(col("n")).as("c"))

  /** The fixed md5-sampled token query set over a token stream. */
  private[graft] def cmsQuerySet(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toks.select("tok").distinct()
      .orderBy(md5(concat(lit("cms:"), col("tok"))))
      .limit(CmsQueryCount)

  /** Point estimates for a key set against a sketch frame: each key
    * probes its `CmsDepth` buckets, the estimate is the MIN count.
    */
  private[graft] def cmsEstimates(qset: org.apache.spark.sql.DataFrame,
      sketch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    qset
      .select(col("tok"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("i"))
      .select(col("tok"), col("i"),
        (conv(substring(md5(concat(col("i").cast("string"), lit(":"),
          col("tok"))), 1, 15), 16, 10).cast("long") % CmsWidth).as("bucket"))
      .join(sketch, Seq("i", "bucket"))
      .groupBy("tok")
      .agg(min(col("c")).as("cms_n"))

  /** q149 — COUNT-MIN SKETCH over the corpus token stream: the
    * deterministic-sketch tier beyond q26's HLL — and unlike HLL,
    * fully ORACLE-CHECKABLE, because the whole sketch (d md5-derived
    * hash rows × w buckets of exact integer counts) is a pure function
    * of the data that DuckDB replays bit-for-bit. Output: the fixed
    * 50-token query set with each token's EXACT count beside its CMS
    * estimate — the overestimate-only contract (`cms_n ≥ exact_n`,
    * CmsSpec) visible in the result itself.
    *
    * Scale shape: one token pass feeds a vocab-grain word count (the
    * exchange q63/q135/the exact side already pay; map-side partials
    * bound it), and the sketch folds that count with the d md5 probes
    * per DISTINCT token — its own exchange stays ≤ d·w = 2048 groups
    * regardless of corpus size. Probes are a 50×4-row frame joined to
    * a 2048-row sketch — broadcast class. For an unbounded key domain
    * (where even the vocab count is corpus-grain) the sketch degrades
    * to the per-occurrence fold via [[cmsSketch]]'s raw form.
    */
  val q149CountMinSketch: Q = (s, d) => {
    // ONE tokenize + count pass feeds all three legs (r20, guide §2.3):
    // the persisted frame is the vocab-grain (tok, n) table — far
    // smaller than the former per-occurrence token stream — and the
    // query-set distinct and the exact counts fall out of it for free
    // (qset's `distinct` and the exact leg's corpus-grain re-count both
    // retired). Values are unchanged: exact_n ≡ n, and the sketch's
    // weighted fold sums the same occurrences.
    val tc = graft.core.CacheScope.track(
      tokenCounts(documents(s, d)
        .select(explode(tokens(col("text"))).as("tok")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val qset = tc.select("tok")
      .orderBy(md5(concat(lit("cms:"), col("tok"))))
      .limit(CmsQueryCount)
    val exact = tc.join(qset, Seq("tok"), "left_semi")
      .select(col("tok"), col("n").as("exact_n"))
    cmsEstimates(qset, cmsSketchCounted(tc))
      .join(exact, "tok")
      .select(col("tok"), col("exact_n"), col("cms_n"))
      .orderBy("tok")
  }

  val q149Sql: String = cmsSqlFor("documents")

  /** The q149 derivation over any document relation — q150 reuses it
    * verbatim (the fold must reproduce the batch sketch exactly).
    */
  private def cmsSqlFor(rel: String): String =
    s"""WITH tk AS (SELECT unnest($tokensSql) AS tok FROM $rel),
       |qs AS (SELECT tok FROM (SELECT DISTINCT tok FROM tk)
       |       ORDER BY md5('cms:' || tok) LIMIT $CmsQueryCount),
       |hh AS (SELECT unnest(range($CmsDepth)) AS i),
       |sk AS (SELECT hh.i,
       |    ('0x' || substr(md5(CAST(hh.i AS VARCHAR) || ':' || tok), 1, 15))::BIGINT
       |      % $CmsWidth AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tk CROSS JOIN hh GROUP BY 1, 2),
       |ex AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
       |       FROM tk JOIN qs USING (tok) GROUP BY 1),
       |est AS (SELECT q.tok, CAST(MIN(s.c) AS BIGINT) AS cms_n
       |  FROM qs q CROSS JOIN hh
       |  JOIN sk s ON s.i = hh.i AND s.bucket =
       |    ('0x' || substr(md5(CAST(hh.i AS VARCHAR) || ':' || q.tok), 1, 15))::BIGINT
       |      % $CmsWidth
       |  GROUP BY q.tok)
       |SELECT qs.tok, ex.exact_n, est.cms_n
       |FROM qs JOIN ex USING (tok) JOIN est USING (tok)
       |ORDER BY tok""".stripMargin

  // ---------------------------------------------------------------- q168

  /** Deterministic-HLL geometry: p = 8 → 256 registers; the 60-bit
    * md5-uniform hash splits into an 8-bit register index and a 52-bit
    * pattern whose leading-zero rank is the register value (ρ ∈
    * [1, 53]). The per-register indicator 2^−ρ is carried SCALED as
    * the exact BIGINT `2^(54−ρ)` (an empty register contributes
    * `2^54`), so the harmonic-mean denominator is a commutative
    * integer sum — at most 256·2^54 < 2^63 — and the only float in
    * the whole pipeline is ONE final division by a constant both
    * engines hold as the same double literal (the q46
    * embedded-constant discipline).
    */
  private[graft] val HllRegisters = 256L
  private[graft] val HllScaledOne = 1L << 54
  private[graft] val HllNumerator: Double =
    0.7213 / (1 + 1.079 / 256.0) * 256.0 * 256.0 * math.pow(2, 54)

  /** q168 — DETERMINISTIC HyperLogLog, fully hash-gated: q26 exercises
    * Spark's native `approx_count_distinct` (whose HLL++ registers no
    * other engine replays — that row is rows-only by design); this is
    * the same estimator re-derived from the repo's md5-uniform hash so
    * DuckDB replays every register bit-for-bit and the driver's hash
    * gate now covers the sketch tier's LAST family. One token pass,
    * shuffle bounded at 256 partial-agg'd register groups whatever the
    * corpus size (the q149 shape: max is a commutative fold); output =
    * register-fold evidence (zero-register count + the exact scaled
    * harmonic sum — ANY flipped register flips it) beside the raw HLL
    * estimate and the exact distinct count the sketch exists to avoid
    * at 100 TB. The small-range linear-counting branch (`E < 2.5m`
    * with zero registers) needs `ln` — the documented production
    * branch, deliberately outside the bit-exact gate; at every tested
    * SF the vocabulary sits far above that regime.
    */
  /** The folded register frame `(reg, rho)` of a token stream — the
    * whole sketch: 256 rows max, map-side `max` partials. Register
    * folds form a MONOID (element-wise max), which is what makes the
    * streaming sibling (q169) a per-batch fold with constant state.
    */
  private[graft] def hllRegisterFrame(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val h = conv(substring(md5(concat(lit("hll:"), col("tok"))), 1, 15),
      16, 10).cast("long")
    toks
      .select(h.as("h"))
      .select((col("h") % HllRegisters).as("reg"),
        expr(s"h div $HllRegisters").as("w"))
      .select(col("reg"),
        when(col("w") === 0, lit(53L))
          .otherwise(lit(53L) - length(conv(col("w"), 10, 2)).cast("long"))
          .as("rho"))
      .groupBy("reg").agg(max(col("rho")).as("rho"))
  }

  /** The q168 report off a folded register frame + a 1-row exact
    * distinct frame — shared verbatim by the batch and streaming
    * forms, so the fold can never drift from the estimator.
    */
  private[graft] def hllReport(regFold: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    regFold.agg(
        count(lit(1)).as("n_present"),
        sum(expr("shiftleft(cast(1 as bigint), cast(54 - rho as int))"))
          .as("present_sum"))
      .crossJoin(exact)
      .withColumn("scaled_sum",
        col("present_sum") +
          (lit(HllRegisters) - col("n_present")) * lit(HllScaledOne))
      .select(
        lit(HllRegisters).as("m"),
        (lit(HllRegisters) - col("n_present")).as("n_zero"),
        col("scaled_sum"),
        (lit(HllNumerator) / col("scaled_sum").cast("double"))
          .as("hll_estimate"),
        col("exact_distinct"))

  val q168HllReplay: Q = (s, d) => {
    val toks = graft.core.CacheScope.track(
      documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    hllReport(hllRegisterFrame(toks),
      toks.agg(count_distinct(col("tok")).as("exact_distinct")))
  }

  val q168Sql: String =
    s"""WITH tk AS (SELECT unnest($tokensSql) AS tok FROM documents),
       |h AS (SELECT ('0x' || substr(md5('hll:' || tok), 1, 15))::BIGINT AS h
       |      FROM tk),
       |r AS (SELECT h % $HllRegisters AS reg, h // $HllRegisters AS w FROM h),
       |regs AS (SELECT reg,
       |    MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
       |  FROM r GROUP BY reg),
       |summ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(54 - rho AS INTEGER)) AS BIGINT)
       |      AS present_sum
       |  FROM regs),
       |ex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
       |       FROM tk)
       |SELECT CAST($HllRegisters AS BIGINT) AS m,
       |  CAST($HllRegisters - n_present AS BIGINT) AS n_zero,
       |  CAST(present_sum + ($HllRegisters - n_present) * $HllScaledOne
       |    AS BIGINT) AS scaled_sum,
       |  $HllNumerator / CAST(present_sum +
       |    ($HllRegisters - n_present) * $HllScaledOne AS DOUBLE)
       |    AS hll_estimate,
       |  exact_distinct
       |FROM summ CROSS JOIN ex""".stripMargin

  // ---------------------------------------------------------------- q173

  /** Bloom-filter geometry shared by q173/q174 and both oracles:
    * `BloomWords` words of `BloomBitsPerWord` bits (60, so `1L << bit`
    * never touches the sign bit on either engine) and `BloomHashes`
    * md5-derived probe positions per key — m = 256·60 = 15,360 bits,
    * fixed like the CMS d·w grid so the sketch is ≤ 256 rows at ANY
    * corpus size. Production sizes m ≈ 14·n bits for a 1% FP target —
    * one constant away; the CONTRACT (no false negatives, ever) is
    * geometry-independent and is what the verdict grid's hash pins.
    */
  private[graft] val BloomWords = 256L
  private[graft] val BloomBitsPerWord = 60L
  private[graft] val BloomHashes = 3

  /** THE bit-position derivation `(i, fp) → pos ∈ [0, m)` — the hash
    * family itself, single-sourced so the build side ([[bloomBits]]),
    * the streaming fold (q174) and the flattened probe (q186's
    * runtime-filter prune) can never drift onto different positions.
    */
  private[graft] def bloomPos(i: org.apache.spark.sql.Column,
      fp: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(concat(i.cast("string"), lit(":bloom:"), fp)),
      1, 15), 16, 10).cast("long") % (BloomWords * BloomBitsPerWord)

  /** Per-key probe rows `(…, word, mask)` — `BloomHashes` md5-derived
    * bit positions for each input row's `fp`, shared VERBATIM by the
    * build and probe sides (and by q174's streaming fold) so the two
    * halves can never drift onto different hash families.
    */
  private[graft] def bloomBits(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("*"),
        explode(sequence(lit(0), lit(BloomHashes - 1))).as("i"))
      .withColumn("pos", bloomPos(col("i"), col("fp")))
      .select(df.columns.toIndexedSeq.map(col) :+
        expr(s"pos div $BloomBitsPerWord").as("word") :+
        expr(s"shiftleft(cast(1 as bigint), " +
          s"cast(pos % $BloomBitsPerWord as int))").as("mask"): _*)

  /** The folded word frame `(word, w)` of a fingerprint set — the whole
    * filter: ≤ [[BloomWords]] rows, `bit_or` partials fold map-side.
    * Bitwise OR is a commutative AND idempotent monoid (the q169/HLL
    * class, strictly stronger than CMS addition under at-least-once
    * delivery), which is exactly what makes q174's per-micro-batch fold
    * replay-safe.
    */
  private[graft] def bloomSketch(fps: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bloomBits(fps.select("fp").distinct())
      .groupBy("word").agg(expr("bit_or(mask)").as("w"))

  /** The `(doc_id, fp = md5(lower(text)))` frame q173/q174 share; base =
    * the 90% admitted corpus, delta = the 10% arrival slice (q135's
    * `doc_id % 10` convention).
    */
  private[graft] def bloomDocFps(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    documents(s, d).select(col("doc_id"), md5(lower(col("text"))).as("fp"))

  /** The q173 report off a folded sketch — shared verbatim by the batch
    * and streaming forms. The probe set is the delta slice PLUS a
    * deterministic ~10% RE-ARRIVAL sample of the base itself (the
    * md5-uniform `bloomprobe:` salt) — re-ingested shards are exactly
    * what a membership pre-gate exists to catch, and the sample
    * guarantees the member row of the grid is populated at every SF
    * (the synthetic corpus has no exact duplicate crossing the
    * base/delta split, so delta alone would only ever exercise the
    * non-member path). Every probe doc checks its [[BloomHashes]]
    * positions against the ≤ 256-row word frame (broadcast class), the
    * verdict is `min(hit)` (all probed bits set), and the output is the
    * (maybe_in_base, is_member) verdict grid with counts + the q158
    * commutative doc fingerprint — the `(0, 1)` false-negative row must
    * NEVER appear, and its absence is itself hash-checked, while the
    * `(1, 1)` row is non-empty by construction. `n_set_bits` rides
    * along as whole-sketch evidence: one flipped word flips it.
    */
  private[graft] def bloomReport(s: org.apache.spark.sql.SparkSession,
      d: String, sketch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val fps = bloomDocFps(s, d)
    val base = fps.filter(col("doc_id") % 10 =!= 0)
    val probeSet = fps.filter(col("doc_id") % 10 === 0)
      .unionByName(base.filter(mdUniform("bloomprobe:", col("doc_id")) < 0.1))
    val verdicts = bloomBits(probeSet)
      .join(sketch, Seq("word"), "left")
      .select(col("doc_id"), col("fp"),
        when(coalesce(col("w"), lit(0L)).bitwiseAND(col("mask")) =!= 0, 1L)
          .otherwise(0L).as("hit"))
      .groupBy("doc_id", "fp")
      .agg(min(col("hit")).as("maybe_in_base"))
      .join(base.select("fp").distinct().withColumn("is_member", lit(1L)),
        Seq("fp"), "left")
      .withColumn("is_member", coalesce(col("is_member"), lit(0L)))
    verdicts.groupBy("maybe_in_base", "is_member")
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), col("fp"))), 1, 10), 16, 10).cast("long"))
          .as("docs_fp"))
      .crossJoin(sketch.agg(
        sum(expr("bit_count(w)")).cast("long").as("n_set_bits")))
      .orderBy("maybe_in_base", "is_member")
  }

  /** q173 — BLOOM-FILTER membership pre-gate: the admission fast path a
    * 100 TB dedup tier runs BEFORE any shuffle — "has this fingerprint
    * possibly been seen?" answered from a ≤ 256-row broadcast bitset
    * instead of a join against the corpus. Completes the sketch QUAD
    * (CMS q149 = frequencies, HLL q168 = cardinality, histogram q61 =
    * quantiles, Bloom = membership), and like the others it is fully
    * hash-gated: the bitset is a pure md5 function of the data that
    * DuckDB replays bit-for-bit.
    *
    * Scale shape: the build is one base pass whose shuffle carries at
    * most [[BloomWords]] `bit_or` partial-agg'd groups whatever the
    * corpus size; probes are |probe set|×3 rows against a
    * broadcast-class word frame — the exact-membership side (the
    * anti-join the filter exists to avoid at 100 TB) appears here only
    * to measure the FP rate in the open.
    */
  val q173BloomMembership: Q = (s, d) =>
    bloomReport(s, d,
      bloomSketch(bloomDocFps(s, d).filter(col("doc_id") % 10 =!= 0)))

  val q173Sql: String = {
    val m = BloomWords * BloomBitsPerWord
    s"""WITH fps AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
       |base AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 10 <> 0),
       |delta AS (SELECT doc_id, fp FROM fps WHERE doc_id % 10 = 0
       | UNION ALL
       | SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0
       |  AND ${mdUniformSql("bloomprobe:", "doc_id")} < 0.1),
       |hh AS (SELECT unnest(range($BloomHashes)) AS i),
       |bb AS (SELECT
       |   ('0x' || substr(md5(CAST(i AS VARCHAR) || ':bloom:' || fp), 1, 15))::BIGINT
       |     % $m AS pos
       |  FROM base CROSS JOIN hh),
       |sk AS (SELECT pos // $BloomBitsPerWord AS word,
       |    bit_or(1::BIGINT << CAST(pos % $BloomBitsPerWord AS INTEGER)) AS w
       |  FROM bb GROUP BY 1),
       |pr AS (SELECT d.doc_id, d.fp,
       |   ('0x' || substr(md5(CAST(hh.i AS VARCHAR) || ':bloom:' || d.fp), 1, 15))::BIGINT
       |     % $m AS pos
       |  FROM delta d CROSS JOIN hh),
       |hits AS (SELECT p.doc_id, p.fp,
       |   CASE WHEN (COALESCE(s.w, 0) &
       |     (1::BIGINT << CAST(p.pos % $BloomBitsPerWord AS INTEGER))) <> 0
       |    THEN 1 ELSE 0 END AS hit
       |  FROM pr p LEFT JOIN sk s ON s.word = p.pos // $BloomBitsPerWord),
       |ver AS (SELECT h.doc_id, h.fp,
       |   CAST(MIN(h.hit) AS BIGINT) AS maybe_in_base,
       |   CAST(CASE WHEN h.fp IN (SELECT fp FROM base) THEN 1 ELSE 0 END
       |     AS BIGINT) AS is_member
       |  FROM hits h GROUP BY h.doc_id, h.fp),
       |bits AS (SELECT CAST(SUM(bit_count(w)) AS BIGINT) AS n_set_bits FROM sk)
       |SELECT maybe_in_base, is_member, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || fp),
       |    1, 10))::BIGINT) AS BIGINT) AS docs_fp,
       |  n_set_bits
       |FROM ver CROSS JOIN bits
       |GROUP BY maybe_in_base, is_member, n_set_bits
       |ORDER BY maybe_in_base, is_member""".stripMargin
  }

  // ---------------------------------------------------------------- q179

  /** q179's candidate stage, exposed for the pruning spec: the
    * vocab-grain distinct token frame probes the broadcast ≤ 2048-row
    * CMS sketch (q149's geometry, shared verbatim) and keeps tokens
    * whose ESTIMATE clears the threshold. CMS overestimates only, so
    * the candidate set is a SUPERSET of the true heavy hitters —
    * no-false-negative by the same contract CmsSpec pins.
    */
  private[graft] def hhCandidates(toks: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    hhCandidatesCounted(tokenCounts(toks), total)

  /** [[hhCandidates]] over an already-counted `(tok, n)` frame — the
    * probe set is the counted frame's key column (already distinct).
    */
  private[graft] def hhCandidatesCounted(tc: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cmsEstimates(tc.select("tok"), cmsSketchCounted(tc))
      .crossJoin(total)
      .filter(col("cms_n") * lit(HhShareDen) >= col("total"))

  /** Heavy-hitter threshold: share ≥ 1/1000 of the token stream,
    * compared in integers (`n·1000 ≥ total`) — scale-free, no float
    * division.
    */
  private[graft] val HhShareDen = 1000L

  /** q179 — TWO-PASS HEAVY HITTERS: the φ-frequent-item query at
    * 100 TB — "which tokens exceed 0.1% of the stream" — answered
    * EXACTLY through the sketch: pass 1 probes the ≤ 2048-row CMS for
    * candidates (overestimate-only ⇒ the candidate set provably
    * contains every true heavy hitter), pass 2 keeps ONLY the candidate
    * tokens' exact counts (a semi-join against the shared vocab-grain
    * count — see the body comment) and re-applies the threshold to
    * drop the sketch's false positives. Output = the true heavy
    * hitters with exact counts — the ORACLE is the direct exact
    * computation, so the two-pass algorithm's exactness (not just
    * plausibility) is hash-gated.
    *
    * Scale shape: the sketch build shuffles ≤ d·w = 2048 groups; the
    * candidate probe is a vocab-grain distinct (the q63 bounded-vocab
    * discipline) against a broadcast sketch; the only corpus-grain
    * shuffle that remains is over candidate-token rows — at a 0.1%
    * floor that is ≤ 1000 distinct keys whatever the corpus size. For
    * unbounded key domains (user-ids, URLs) where even the distinct is
    * too big, the same two passes run with the candidate filter pushed
    * into pass 2's scan — the shape survives.
    */
  val q179HeavyHitters: Q = (s, d) => {
    // r20 (guide §2.3): the two passes now run over ONE persisted
    // vocab-grain (tok, n) count — the sketch probe hashes each
    // distinct token d times instead of each occurrence, and pass 2's
    // exact counts are a semi-join row-pick instead of a corpus-grain
    // re-count. Same candidates, same exact_n, same threshold. For an
    // unbounded key domain where even the counted frame is too big,
    // the original shape (candidate filter pushed into a second
    // occurrence-grain scan) remains the documented fallback —
    // [[hhCandidates]] still accepts raw occurrence rows.
    val tc = graft.core.CacheScope.track(
      tokenCounts(documents(s, d)
        .select(explode(tokens(col("text"))).as("tok")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val total = tc.agg(sum(col("n")).as("total"))
    tc
      .join(hhCandidatesCounted(tc, total).select("tok"),
        Seq("tok"), "left_semi")
      .select(col("tok"), col("n").as("exact_n"))
      .crossJoin(total)
      .filter(col("exact_n") * lit(HhShareDen) >= col("total"))
      .select(col("tok"), col("exact_n"), col("total"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  val q179Sql: String =
    s"""WITH tk AS (SELECT unnest($tokensSql) AS tok FROM documents),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tk),
       |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
       |      FROM tk GROUP BY tok)
       |SELECT c.tok, c.exact_n, t.total
       |FROM c CROSS JOIN t
       |WHERE c.exact_n * $HhShareDen >= t.total
       |ORDER BY exact_n DESC, tok""".stripMargin

  /** q214 — TOKENIZER ROUND-TRIP (decode ∘ encode = identity): the
    * lossless-detokenization property every LLM pipeline assumes and
    * rarely gates. Encoding chains the trained merges forward
    * (q128's map-side nested `replace`); DECODING inverts them in
    * REVERSE merge order — later merges may contain earlier merge
    * symbols (nesting is BPE's whole point), and reverse-order
    * expansion unwinds exactly that nesting. Merge symbols live in the
    * Unicode private-use area (U+E000+) so no corpus character
    * collides. The ORACLE never sees the tokenizer: it fingerprints
    * the RAW documents — one character lost, doubled, or mis-expanded
    * anywhere in encode→decode flips the lang-grain hash. Both passes
    * are single codegen'd map-side projections over one scan; at
    * 100 TB the round-trip audit is scan-bounded, the property a
    * tokenizer-artifact promotion pipeline checks before shipping.
    */
  val q214BpeRoundtrip: Q = (s, d) => {
    val merges = trainedMerges(s, d)
    val encoded = merges.foldLeft(col("text")) { case (c, (i, pair, _)) =>
      org.apache.spark.sql.functions.replace(c, lit(pair), lit(mergeSym(i)))
    }
    val decoded = merges.reverse.foldLeft(encoded) { case (c, (i, pair, _)) =>
      org.apache.spark.sql.functions.replace(c, lit(mergeSym(i)), lit(pair))
    }
    documents(s, d)
      .select(col("doc_id"), col("lang"), decoded.as("rt_text"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("rt_text")).cast("long")).as("n_chars"),
        sum(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("rt_text")))), 1, 10),
          16, 10).cast("long")).as("docs_fp"))
      .orderBy("lang")
  }

  val q214Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(SUM(('0x' || substr(md5(
      |    CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 10))::BIGINT)
      |    AS BIGINT) AS docs_fp
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val queries: Map[String, Q] = Map(
    "q214_bpe_roundtrip" -> q214BpeRoundtrip,
    "q179_heavy_hitters" -> q179HeavyHitters,
    "q173_bloom_membership" -> q173BloomMembership,
    "q149_count_min_sketch" -> q149CountMinSketch,
    "q168_hll_replay" -> q168HllReplay,
    "q127_bpe_merges" -> q127BpeMerges,
    "q128_bpe_encode" -> q128BpeEncode,
    "q135_token_drift" -> q135TokenDrift,
    "q61_length_quantiles" -> q61LengthQuantiles,
    "q62_token_packing" -> q62TokenPacking,
    "q63_token_rarity" -> q63TokenRarity,
    "q69_outlier_clip" -> q69OutlierClip,
    "q73_vocab_coverage" -> q73VocabCoverage,
    "q74_shard_manifest" -> q74ShardManifest,
    "q234_metadata_audit" -> q234MetadataAudit,
    "q246_try_arithmetic" -> q246TryArithmetic,
    "q79_budget_sample" -> q79BudgetSample,
    "q83_length_mad" -> q83LengthMad
  )

  val oracle: Map[String, String] = Map(
    // raw-documents fingerprint: the gate is decode(encode(x)) == x
    "q214_bpe_roundtrip" -> q214Sql,
    "q173_bloom_membership" -> q173Sql,
    "q179_heavy_hitters" -> q179Sql,
    "q127_bpe_merges" -> q127Sql,
    "q128_bpe_encode" -> q128Sql,
    "q135_token_drift" -> q135Sql,
    "q149_count_min_sketch" -> q149Sql,
    "q168_hll_replay" -> q168Sql,
    "q61_length_quantiles" -> q61Sql,
    "q62_token_packing" -> q62Sql,
    "q63_token_rarity" -> q63Sql,
    "q69_outlier_clip" -> q69Sql,
    "q73_vocab_coverage" -> q73Sql,
    "q74_shard_manifest" -> q74Sql,
    "q234_metadata_audit" -> q234Sql,
    "q246_try_arithmetic" -> q246Sql,
    "q79_budget_sample" -> q79Sql,
    "q83_length_mad" -> q83Sql
  )
}

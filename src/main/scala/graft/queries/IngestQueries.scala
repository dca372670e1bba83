package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables._

/** Corpus-release operators: the steps between a filtered corpus and a
  * training run — mixture balancing across languages and the final
  * cross-modal manifest a trainer consumes. (The incremental-ingest
  * dedup leg is q64 in [[DedupTextQueries]], next to its LSH machinery.)
  */
object IngestQueries {

  /** True iff the cause chain carries a malformed-record error
    * CONDITION — `SparkThrowable.getCondition`, the same narrow
    * error-class contract q246 uses for DIVIDE_BY_ZERO — never a
    * message substring, so an unrelated exception whose text happens
    * to contain "Malformed" (a corrupt parquet footer, say) cannot
    * green a FAILFAST refusal gate. Spark 4 wraps the per-file task
    * failure in FAILED_READ_FILE with the malformed condition riding
    * its cause chain, hence the walk.
    */
  private def malformedRefusal(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
        st.getCondition.startsWith("MALFORMED_RECORD_IN_PARSING")
      case _ => false
    }

  /** Largest language's keep rate; smaller languages keep proportionally
    * more (up to everything), flattening the mixture toward α = 0.5.
    */
  private val BaseRate = 0.5

  /** q65 — temperature-balanced language mixture (the XLM-R/mT5 α-style
    * rebalancing): sampled counts target n_lang^α with α = 0.5, i.e.
    * keep-rate(lang) = BaseRate · sqrt(n_max / n_lang), so low-resource
    * languages are up-weighted relative to the head language. Selection
    * is the md5-uniform threshold (q49/q54 construction, salt "mix:") —
    * deterministic, retry-stable, and engine-portable.
    *
    * Scale shape: TWO corpus passes — the per-language count aggregate
    * (partial-agg'd to |langs| rows, persisted so the n_max derivation
    * reads the cache instead of re-scanning the corpus) and the main
    * scan with the map-side threshold filter, rates broadcast-joined on.
    * No shuffle of any corpus-sized frame. Float parity: `BaseRate ·
    * sqrt(n_max / n_lang)` is one division, one sqrt (IEEE
    * correctly-rounded on both engines), one multiply by an
    * exactly-representable constant — bit-identical in DuckDB, so even
    * boundary-valued documents hash-match.
    */
  val q65BalancedMixture: Q = (s, d) => {
    val docs = documents(s, d)
    val counts = graft.core.CacheScope.track(
      docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nMax = counts.agg(max(col("n_lang")).as("n_max"))
    val rates = counts.crossJoin(broadcast(nMax))
      .select(col("lang"), (lit(BaseRate) *
        sqrt(col("n_max").cast("double") / col("n_lang"))).as("rate"))
    mixtureFilter(docs, rates).orderBy("doc_id")
  }

  /** The q65 selection leg over a precomputed per-language `(lang,
    * rate)` table: broadcast the rates, keep a doc when its md5-uniform
    * draw (salt `mix:`) falls under its language's rate. Pure map-side
    * once the rates are known — so the SAME code path serves the batch
    * rebalance (rates derived in-query, above) and a streaming ingest
    * leg where rates come from an out-of-band corpus profile
    * (yesterday's aggregate); StreamReadyTransformsSpec pins batch ==
    * stream row equality.
    *
    * A language ABSENT from the rates table — possible only on the
    * streaming leg, where a new language can appear before the profile
    * refreshes — is governed by `unknownLangRate` (LEFT join +
    * coalesce), an explicit knob rather than an inner join's silent
    * total drop: 1.0 admits everything until the profile catches up
    * (the safe ingest default — dropping is unrecoverable), 0.0
    * quarantines. The batch path derives rates from the same frame, so
    * every language is covered and the default never engages.
    */
  def mixtureFilter(docs: org.apache.spark.sql.DataFrame,
      rates: org.apache.spark.sql.DataFrame,
      unknownLangRate: Double = 1.0): org.apache.spark.sql.DataFrame =
    docs.join(broadcast(rates), Seq("lang"), "left")
      .filter(mdUniform("mix:", col("doc_id")) <
        coalesce(col("rate"), lit(unknownLangRate)))
      .select(col("doc_id"), col("lang"))

  val q65Sql: String =
    s"""WITH n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
       |mx AS (SELECT MAX(n_lang) AS n_max FROM n)
       |SELECT doc_id, lang FROM (
       | SELECT d.doc_id, d.lang,
       |  ${mdUniformSql("mix:", "doc_id")} AS u,
       |  $BaseRate * sqrt(CAST(n_max AS DOUBLE) / n_lang) AS p
       | FROM documents d JOIN n USING (lang) CROSS JOIN mx)
       |WHERE u < p ORDER BY doc_id""".stripMargin

  /** Minimum token count for a manifest row (exercises both branches on
    * the test corpus: median ≈ 56 tokens, p10 ≈ 20).
    */
  private val MinTokens = 40L

  /** q66 — training-example manifest assembly: the CROSS-MODAL equi-join
    * that pairs each document with its embedding row (doc_id = vec_id)
    * and emits the record a trainer consumes — language, embedding
    * label, token budget, and the deterministic split (same "split:"
    * hash as q49, so the manifest's split agrees with the split audit).
    * Short documents are dropped at the manifest gate.
    *
    * Scale shape: a 1:1 equi-join of two corpus-sized tables — the one
    * join class where ingest-time layout is the whole story. Written
    * naively both sides shuffle; bucketed by id at ingest
    * ([[graft.core.Tables.writeBucketed]] on `doc_id`/`vec_id`, same
    * bucket count) it plans exchange-free exactly like BucketingSpec's
    * fact-fact join. The tokenize+filter runs BEFORE the join, so the
    * join's probe side is already manifest-sized.
    */
  val q66TrainingManifest: Q = (s, d) => {
    documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .filter(col("n_tokens") >= MinTokens)
      .withColumn("split", splitAssign(col("doc_id")))
      .join(embeddings(s, d)
          .select(col("vec_id").as("doc_id"), col("label")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("label"),
        col("n_tokens"), col("split"))
      .orderBy("doc_id")
  }

  val q66Sql: String =
    s"""WITH t AS (
       | SELECT doc_id, lang, len($tokensSql) AS n_tokens,
       |  ${splitAssignSql("doc_id")} AS split
       | FROM documents)
       |SELECT t.doc_id, t.lang, e.label, t.n_tokens, t.split
       |FROM t JOIN embeddings e ON t.doc_id = e.vec_id
       |WHERE t.n_tokens >= $MinTokens
       |ORDER BY t.doc_id""".stripMargin

  /** Context window: tokens per chunk / stride between chunk starts
    * (overlap = ChunkTokens − ChunkStride).
    */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** q67 — context-window chunking: split every document into
    * `ChunkTokens`-token windows starting every `ChunkStride` tokens
    * (the standard overlapping-window slicer that feeds a fixed-context
    * trainer; q62 PACKS short docs into budgets, this SPLITS long ones —
    * between them every document reaches the batch shaper). Each chunk
    * carries its md5 content fingerprint so chunk-level dedup (shift-
    * tolerant, the q38 motivation) composes directly.
    *
    * Scale shape: tokenize once, explode the start offsets, slice —
    * all map-side, NO shuffle anywhere but the final presentation sort;
    * the chunk index is `start div stride` (pure arithmetic, not a
    * window ordinal), so output is deterministic under any partitioning
    * and retry.
    */
  val q67TokenChunks: Q = (s, d) =>
    chunkTokens(documents(s, d)).orderBy("doc_id", "chunk_ix")

  /** The q67 transform over any `(doc_id, text)` frame — pure map-side
    * (tokenize → explode starts → slice, no aggregation, no sort), so it
    * is STREAM-READY as-is: apply it to a `readStream` of documents and
    * chunks flow out per micro-batch (StreamReadyTransformsSpec pins
    * batch==stream row equality).
    */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST(start DIV $ChunkStride AS BIGINT)").as("chunk_ix"),
        col("start").cast("long").as("start"),
        least(lit(ChunkTokens), col("n") - col("start"))
          .cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ",
          slice(col("w"), col("start") + 1, lit(ChunkTokens)))).as("chunk_fp"))

  val q67Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS w FROM documents),
       |s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
       |c AS (SELECT doc_id, w, n, unnest(range(0, n, $ChunkStride)) AS start FROM s)
       |SELECT doc_id,
       |  start // $ChunkStride AS chunk_ix,
       |  start,
       |  least($ChunkTokens, n - start) AS n_chunk_tokens,
       |  md5(array_to_string(list_slice(w, start + 1, start + $ChunkTokens), ' ')) AS chunk_fp
       |FROM c ORDER BY doc_id, chunk_ix""".stripMargin

  /** q76 — substring-level dedup at chunk granularity: the 64-token
    * windows q67 cuts, fingerprint-grouped across the corpus to find
    * text REUSED BETWEEN documents (boilerplate, quotations, mirrored
    * passages) that document-level dedup (q30/q53) cannot see — two
    * long documents sharing one paragraph are not near-duplicates, but
    * a trainer still memorizes the repeated span (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * failure mode, at window rather than suffix granularity). Composes
    * directly on [[chunkTokens]] — same windows, same fingerprints — so
    * a chunk flagged here maps 1:1 onto a q67 training chunk. Tail
    * windows (< ChunkTokens tokens) are excluded: a 3-token tail
    * matching another doc's tail is not a 64-token repeat.
    *
    * Scale shape: two stacked partial-agg'd groupBys on the 16-byte
    * fingerprint — (fp, doc) occurrence counts, then per-fp totals with
    * the `HAVING n_docs > 1` filter. Output is bounded by the number of
    * REPEATED windows (duplication-proportional, like q59's edge set);
    * no window function, no join, no corpus-sized anything past the
    * first combine.
    */
  val q76RepeatedWindows: Q = (s, d) => {
    val perDoc = chunkTokens(documents(s, d))
      .filter(col("n_chunk_tokens") === ChunkTokens)
      .groupBy("chunk_fp", "doc_id")
      .agg(count(lit(1)).as("n_in_doc"))
    perDoc.groupBy("chunk_fp")
      .agg(sum(col("n_in_doc")).as("n_copies"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("chunk_fp")
  }

  val q76Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS w FROM documents),
       |s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
       |c AS (SELECT doc_id, w, n, unnest(range(0, n, $ChunkStride)) AS start FROM s),
       |occ AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(w, start + 1, start + $ChunkTokens), ' ')) AS chunk_fp
       |  FROM c WHERE least($ChunkTokens, n - start) = $ChunkTokens),
       |per_doc AS (
       |  SELECT chunk_fp, doc_id, COUNT(*) AS n_in_doc FROM occ GROUP BY 1, 2)
       |SELECT chunk_fp,
       |  CAST(SUM(n_in_doc) AS BIGINT) AS n_copies,
       |  COUNT(*) AS n_docs,
       |  MIN(doc_id) AS canonical_doc
       |FROM per_doc GROUP BY chunk_fp HAVING COUNT(*) > 1
       |ORDER BY chunk_fp""".stripMargin

  /** q120's window width: dense (stride-1) 8-token windows — fine-grained
    * enough to catch a repeated sentence, wide enough that a common
    * 3-token phrase is not a "duplicated span".
    */
  private val ScrubW = 8

  /** q120 — duplicated-span SCRUB: the removal half of substring-level
    * dedup. q76 detects text reused between documents at 64-token chunk
    * granularity; this operator does what the Lee et al. pipeline does
    * next — cut the duplicated spans out of every document, keeping the
    * unique remainder (document-level dedup drops whole near-duplicate
    * docs; this recovers the unique part of documents that merely SHARE
    * a passage). A dense stride-1 window of [[ScrubW]] tokens is
    * "duplicated" when its fingerprint occurs more than once in the
    * corpus (across documents or repeated within one — both are the
    * same memorization risk); a token is scrubbed when ANY duplicated
    * window covers it, so overlapping duplicated windows merge into one
    * scrubbed span exactly as interval union would.
    *
    * Scale shape: tokenize once; explode dense window starts (n rows per
    * n-token doc — the same order of work as tokenizing); ONE
    * partial-agg'd groupBy on the 16-byte fingerprint to find repeated
    * windows (`HAVING count > 1` — output is duplication-proportional);
    * join windows back to the repeated set (broadcastable in the common
    * low-duplication regime) and fold each doc's duplicated starts into
    * one sorted array; then the scrub itself is a pure map-side
    * `filter(w, (tok, i) => !exists(starts, p => p ≤ i ≤ p+W−1))` —
    * per-doc work bounded by n·(dup starts), no exchange. Output hashes
    * the scrubbed text (md5) rather than shipping it, so the gate holds
    * byte-exactly without corpus-sized result rows.
    */
  val q120SpanScrub: Q = (s, d) => spanScrub(documents(s, d))

  /** Tokenized `(doc_id, w, n)` view of a `(doc_id, text)` frame. */
  private def tokenized(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .withColumn("n", size(col("w")))

  /** Dense stride-1 [[ScrubW]]-token window fingerprints of a
    * [[tokenized]] frame: `(doc_id, p, fp)` — the shared derivation of
    * the batch scrub (q120), the duplicated-window store build and the
    * incremental scrub's delta side (q124), so no consumer can drift
    * from the store's fingerprint recipe.
    */
  private[graft] def windowFps(docsTok: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docsTok.filter(col("n") >= ScrubW)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("n") - ScrubW)).as("p"))
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", slice(col("w"), col("p") + 1, lit(ScrubW)))).as("fp"))

  /** The scrub assembly shared by q120 and q124: fold each doc's
    * duplicated starts (`wins` rows whose `fp` is in `dupFps`) into one
    * sorted array, then cut every covered token map-side.
    */
  private def scrubAssembly(docsTok: org.apache.spark.sql.DataFrame,
      wins: org.apache.spark.sql.DataFrame,
      dupFps: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dupStarts = wins.join(dupFps, "fp")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("ps"),
        count(lit(1)).as("n_dup_windows"))
    docsTok.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("ps0", coalesce(col("ps"), array().cast("array<int>")))
      .withColumn("kept", filter(col("w"), (tok, i) =>
        !exists(col("ps0"), p => p <= i && i <= p + lit(ScrubW - 1))))
      .select(col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (col("n") - size(col("kept"))).cast("long").as("n_scrubbed"),
        md5(concat_ws(" ", col("kept"))).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** The q120 scrub over any `(doc_id, text)` frame — see [[q120SpanScrub]]. */
  private[graft] def spanScrub(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val docsTok = tokenized(docs)
    val wins = windowFps(docsTok)
    val dup = wins.groupBy("fp")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select("fp")
    scrubAssembly(docsTok, wins, dup)
  }

  /** The scrub oracle, parameterized by an output-doc predicate:
    * duplication is ALWAYS judged corpus-wide (the `fps`/`dup` CTEs
    * never filter), only the scrubbed output set narrows — which is
    * exactly the incremental contract q124's store path must reproduce.
    */
  private def spanScrubSql(docPred: String): String = {
    val w = ScrubW
    val w1 = if (docPred.isEmpty) "" else s" WHERE $docPred"
    val w2 = if (docPred.isEmpty) "" else s"\nWHERE s.$docPred"
    s"""WITH t AS (SELECT doc_id, $tokensSql AS w FROM documents),
       |s AS (SELECT doc_id, w, len(w) AS n FROM t),
       |wins AS (
       |  SELECT doc_id, unnest(range(0, n - ${w - 1})) AS p, w
       |  FROM s WHERE n >= $w),
       |fps AS (
       |  SELECT doc_id, p,
       |    md5(array_to_string(list_slice(w, p + 1, p + $w), ' ')) AS fp
       |  FROM wins),
       |dup AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 1),
       |ds AS (
       |  SELECT doc_id, list(p ORDER BY p) AS ps, COUNT(*) AS n_dup
       |  FROM fps JOIN dup USING (fp) GROUP BY doc_id),
       |tok AS (
       |  SELECT doc_id, unnest(range(len(w))) AS i, w FROM s$w1),
       |keep AS (
       |  SELECT tok.doc_id, i, w[i + 1] AS x
       |  FROM tok LEFT JOIN ds ON tok.doc_id = ds.doc_id
       |  WHERE ds.ps IS NULL
       |     OR len(list_filter(ds.ps, p -> p <= i AND i <= p + ${w - 1})) = 0),
       |ka AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |    string_agg(x, ' ' ORDER BY i) AS kept_text
       |  FROM keep GROUP BY doc_id)
       |SELECT s.doc_id,
       |  s.n AS n_tokens,
       |  COALESCE(ds.n_dup, 0) AS n_dup_windows,
       |  s.n - COALESCE(ka.n_kept, 0) AS n_scrubbed,
       |  md5(COALESCE(ka.kept_text, '')) AS scrub_md5
       |FROM s LEFT JOIN ds USING (doc_id) LEFT JOIN ka USING (doc_id)$w2
       |ORDER BY s.doc_id""".stripMargin
  }

  val q120Sql: String = spanScrubSql("")

  /** The corpus-side duplicated-window artifact: every dense window
    * fingerprint of the BASE corpus (`doc_id % 10 <> 0` — the q64/q97
    * store-vs-delta convention) with its occurrence count, bucketed by
    * the 16-byte fp. The scrub analog of [[SignatureStore]]: built once
    * per corpus generation, and every later ingest batch scrubs against
    * it without re-fingerprinting the base.
    */
  private[graft] val DupWindowStore = new RunStore("graft_dupwin", 8,
    Seq("fp"),
    (s, d) => windowFps(tokenized(
        documents(s, d).filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), col("text"))))
      .groupBy("fp").agg(count(lit(1)).as("n_base")))

  /** q124 — INCREMENTAL span scrub (scrub-on-ingest): the delta slice
    * (`doc_id % 10 = 0`) scrubbed against the [[DupWindowStore]]
    * instead of a corpus-wide re-fingerprint. A delta window is
    * duplicated iff its store count plus its delta count reaches 2 —
    * algebraically identical to "corpus-wide count ≥ 2 restricted to
    * delta docs", so the oracle is the BATCH scrub's SQL with only the
    * output set narrowed (the q105/q107/q108 incremental ≡ recompute
    * discipline, applied to span scrubbing): a store count that
    * drifted from the base fingerprints, or a delta-side derivation
    * diverging from the store build's, would flip a scrub and fail the
    * hash.
    *
    * Scale shape: the base corpus is NEVER tokenized at ingest time —
    * its windows live pre-counted in the fp-bucketed store; the delta
    * side derives O(delta tokens) window rows, its per-fp counts
    * broadcast onto the store's bucket layout (no store-side
    * exchange), and the scrub itself is the same map-side assembly as
    * q120 over delta docs only.
    */
  val q124IncrementalSpanScrub: Q = (s, d) => {
    val store = DupWindowStore.table(s, d)
    val deltaTok = tokenized(
      documents(s, d).filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")))
    val wins = windowFps(deltaTok)
    val deltaCounts = wins.groupBy("fp").agg(count(lit(1)).as("n_delta"))
    val dupFps = deltaCounts.join(store, Seq("fp"), "left")
      .filter(coalesce(col("n_base"), lit(0L)) + col("n_delta") >= 2)
      .select("fp")
    scrubAssembly(deltaTok, wins, dupFps)
  }

  val q124Sql: String = spanScrubSql("doc_id % 10 = 0")

  /** Docs kept per language by q68. */
  private val FixedPerLang = 50

  /** q68 — FIXED-SIZE stratified sampling: exactly `FixedPerLang` docs
    * per language (fewer iff the language is smaller), chosen as the k
    * smallest md5-uniform draws — deterministic, retry-stable, and
    * independent of the rate-based q54/q65 decisions (different salt).
    * The eval-set builder's op: "give me exactly 50 per language".
    *
    * Scale shape: this is the second production consumer of the native
    * [[graft.functions.TopKAggregate]] (q44 is the first): each map-side
    * partial keeps only k candidates per language, so the shuffle
    * carries ≤ k·partitions rows per language instead of the whole
    * corpus — the window form (`row_number` over each language, which
    * the oracle uses) would sort every language's full stream in one
    * task. Scoring by −u turns "k smallest draws" into the aggregate's
    * "k highest scores" (ties resolve to the smaller doc_id on both
    * paths).
    */
  val q68FixedStratified: Q = (s, d) => {
    val u = mdUniform("fix:", col("doc_id"))
    documents(s, d)
      .select(col("lang"), col("doc_id"), (-u).as("score"))
      .groupBy("lang")
      .agg(graft.functions.TopKAggregate
        .topK(col("doc_id"), col("score"), FixedPerLang).as("topk"))
      .transform(df => graft.functions.TopKAggregate
        .explodeTopK(df, col("lang"), col("topk")))
      .select(col("group").as("lang"), col("rank"),
        col("id").as("doc_id"))
      .orderBy("lang", "rank")
  }

  val q68Sql: String =
    s"""WITH u AS (
       |  SELECT lang, doc_id,
       |    ${mdUniformSql("fix:", "doc_id")} AS u
       |  FROM documents)
       |SELECT lang,
       |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rank,
       |  doc_id
       |FROM u
       |QUALIFY rank <= $FixedPerLang
       |ORDER BY lang, rank""".stripMargin

  /** q172 — SNAPSHOT DIFF (the change-data-capture audit): what changed
    * between two generations of the corpus, reported as per-status
    * counts plus an order-independent membership fingerprint — the
    * check a versioned data lake runs before publishing "generation
    * N+1" (Delta/Iceberg CDF's summary view, computed from the
    * snapshots themselves when no change log exists).
    *
    * Generation 2 is DERIVED deterministically from the corpus (the
    * fixture has one snapshot), via the md5-uniform contract: ~3% of
    * docs drop (salt `snapdrop:`), ~5% of survivors edit (salt
    * `snapedit:`, a suffix append), and ~2% spawn an added doc under a
    * shifted id — so all four statuses are populated at any SF and the
    * oracle replays the derivation exactly.
    *
    * The diff itself is the operator under test: each side reduces
    * map-side to `(doc_id, fp = md5(text))` — 24 bytes/row crosses the
    * exchange, never text — then ONE full-outer equi-join on doc_id
    * classifies added/removed/changed/unchanged, and the report
    * aggregates to 4 rows: count + the q158 commutative fingerprint
    * (sum of 40-bit md5-derived integers over (doc_id, fp)), so a
    * single misclassified row flips the hash. At 100 TB both sides
    * bucket by doc_id (q66's layout) and the join is exchange-free.
    */
  val q172SnapshotDiff: Q = (s, d) => {
    val g1 = documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val base = documents(s, d)
    val kept = base.filter(mdUniform("snapdrop:", col("doc_id")) >= 0.03)
    val edited = kept.select(col("doc_id"),
      when(mdUniform("snapedit:", col("doc_id")) < 0.05,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")).as("text"))
    val added = base
      .filter(mdUniform("snapadd:", col("doc_id")) < 0.02)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(lit("added "), col("doc_id").cast("string")).as("text"))
    val g2 = edited.unionByName(added)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    g1.withColumnRenamed("fp", "fp1")
      .join(g2.withColumnRenamed("fp", "fp2"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("fp2"), col("fp1")).as("fp"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(
            md5(concat(col("doc_id").cast("string"), lit(":"), col("fp"))),
            1, 10), 16, 10).cast("long")).as("members_fp"))
      .orderBy("status")
  }

  val q172Sql: String = {
    val uDrop = mdUniformSql("snapdrop:", "doc_id")
    val uEdit = mdUniformSql("snapedit:", "doc_id")
    val uAdd = mdUniformSql("snapadd:", "doc_id")
    s"""WITH g1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |g2raw AS (
       | SELECT doc_id,
       |  CASE WHEN $uEdit < 0.05 THEN text || ' rev2' ELSE text END AS text
       | FROM documents WHERE $uDrop >= 0.03
       | UNION ALL
       | SELECT doc_id + 10000000 AS doc_id,
       |  'added ' || CAST(doc_id AS VARCHAR) AS text
       | FROM documents WHERE $uAdd < 0.02),
       |g2 AS (SELECT doc_id, md5(text) AS fp FROM g2raw),
       |j AS (
       | SELECT COALESCE(g1.doc_id, g2.doc_id) AS doc_id,
       |  CASE WHEN g1.fp IS NULL THEN 'added'
       |       WHEN g2.fp IS NULL THEN 'removed'
       |       WHEN g1.fp <> g2.fp THEN 'changed'
       |       ELSE 'unchanged' END AS status,
       |  COALESCE(g2.fp, g1.fp) AS fp
       | FROM g1 FULL OUTER JOIN g2 ON g1.doc_id = g2.doc_id)
       |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || fp),
       |   1, 10))::BIGINT) AS BIGINT) AS members_fp
       |FROM j GROUP BY status ORDER BY status""".stripMargin
  }

  /** q175 — CDC MERGE apply (the upsert half of the q172 story): q172
    * diffs two snapshots; q175 BUILDS the next snapshot by applying a
    * keyed change feed to the base — Delta's `MERGE INTO` / Iceberg's
    * upsert / a compacted Debezium topic, as one Spark plan.
    *
    * The change feed is derived deterministically (md5-uniform salts)
    * with three sequence points so every MERGE edge case is populated
    * at any SF: seq 1 updates (~5%, ` v2`), seq 2 DELETES (~3%), seq 3
    * updates (~4%, ` v3`) — a key hit by both seq 2 and seq 3 is
    * deleted-then-UPSERTED (the resurrection case that distinguishes
    * upsert from update), and ~2% seq-1 INSERTS arrive under fresh keys.
    *
    * The apply is the production two-step: (1) LOG COMPACTION — one
    * key-grain `max(struct(seq, op, text))` partial-agg'd fold elects
    * the last writer per key (seqs are distinct per key by
    * construction, so op/text never tiebreak); (2) one full-outer
    * equi-join against the base classifies inserted / updated /
    * deleted / unchanged and emits the merged text. Output is the
    * 4-row status grid with counts + the q158 commutative fingerprint
    * over `(doc_id, md5(final_text))` — a snapshot-membership hash, so
    * one wrongly-applied op flips it. At 100 TB: the feed is
    * delta-proportional, compaction and join both shuffle on doc_id
    * once (co-partitioned with q66's doc_id-bucketed layout → the join
    * is exchange-free), and nothing corpus-sized crosses an exchange
    * except the base's own (doc_id, text) pass.
    */
  /** The MERGE core, spec-held on hand fixtures (MergeUpsertSpec):
    * compact a `(doc_id, seq, op, new_text)` change feed to its last
    * writer per key (one `max(struct)` partial-agg'd fold — seqs must
    * be distinct per key), then classify against `(doc_id, text)` base
    * via ONE full-outer equi-join. Returns the doc-grain
    * `(doc_id, status, final_fp)` frame; deleted rows keep the literal
    * `gone` fingerprint so the snapshot hash still covers them.
    */
  private[graft] def applyMerge(base: org.apache.spark.sql.DataFrame,
      feed: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val last = feed
      .groupBy("doc_id")
      .agg(max(struct(col("seq"), col("op"), col("new_text"))).as("m"))
      .select(col("doc_id"), col("m.op").as("op"),
        col("m.new_text").as("new_text"))
    base.join(last, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("op").isNull, "unchanged")
          .when(col("op") === "D", "deleted")
          .when(col("text").isNull, "inserted")
          .otherwise("updated").as("status"),
        when(col("op") === "D", lit("gone"))
          .otherwise(md5(coalesce(col("new_text"), col("text"))))
          .as("final_fp"))
  }

  /** The deterministic change feed q175/q180 share — three sequence
    * points over base keys (update/delete/update, so delete-then-update
    * resurrection and update-then-delete are both populated at any SF)
    * plus fresh-key inserts.
    */
  private[graft] def cdcFeed(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val upd1 = base
      .filter(mdUniform("cdc_u1:", col("doc_id")) < 0.05)
      .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v2")).as("new_text"))
    val dels = base
      .filter(mdUniform("cdc_d:", col("doc_id")) < 0.03)
      .select(col("doc_id"), lit(2L).as("seq"), lit("D").as("op"),
        lit(null).cast("string").as("new_text"))
    val upd2 = base
      .filter(mdUniform("cdc_u2:", col("doc_id")) < 0.04)
      .select(col("doc_id"), lit(3L).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v3")).as("new_text"))
    val ins = base
      .filter(mdUniform("cdc_i:", col("doc_id")) < 0.02)
      .select((col("doc_id") + lit(20000000L)).as("doc_id"),
        lit(1L).as("seq"), lit("U").as("op"),
        concat(lit("ins "), col("doc_id").cast("string")).as("new_text"))
    upd1.unionByName(dels).unionByName(upd2).unionByName(ins)
  }

  /** The q175 status-grid report over the doc-grain merge frame —
    * shared VERBATIM by the batch query and q180's streaming fold.
    */
  private[graft] def mergeReport(merged: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    merged.groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(
            md5(concat(col("doc_id").cast("string"), lit(":"),
              col("final_fp"))), 1, 10), 16, 10).cast("long"))
          .as("snapshot_fp"))
      .orderBy("status")

  val q175MergeUpsert: Q = (s, d) =>
    mergeReport(applyMerge(
      documents(s, d).select(col("doc_id"), col("text")), cdcFeed(s, d)))

  val q175Sql: String = {
    val u1 = mdUniformSql("cdc_u1:", "doc_id")
    val uD = mdUniformSql("cdc_d:", "doc_id")
    val u2 = mdUniformSql("cdc_u2:", "doc_id")
    val uI = mdUniformSql("cdc_i:", "doc_id")
    s"""WITH feed AS (
       | SELECT doc_id, 1 AS seq, 'U' AS op, text || ' v2' AS new_text
       | FROM documents WHERE $u1 < 0.05
       | UNION ALL
       | SELECT doc_id, 2 AS seq, 'D' AS op, CAST(NULL AS VARCHAR) AS new_text
       | FROM documents WHERE $uD < 0.03
       | UNION ALL
       | SELECT doc_id, 3 AS seq, 'U' AS op, text || ' v3' AS new_text
       | FROM documents WHERE $u2 < 0.04
       | UNION ALL
       | SELECT doc_id + 20000000 AS doc_id, 1 AS seq, 'U' AS op,
       |  'ins ' || CAST(doc_id AS VARCHAR) AS new_text
       | FROM documents WHERE $uI < 0.02),
       |last AS (
       | SELECT doc_id, op, new_text FROM (
       |  SELECT doc_id, op, new_text,
       |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
       |  FROM feed) WHERE rn = 1),
       |merged AS (
       | SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id,
       |  CASE WHEN l.op IS NULL THEN 'unchanged'
       |       WHEN l.op = 'D' THEN 'deleted'
       |       WHEN b.text IS NULL THEN 'inserted'
       |       ELSE 'updated' END AS status,
       |  CASE WHEN l.op = 'D' THEN 'gone'
       |       ELSE md5(COALESCE(l.new_text, b.text)) END AS final_fp
       | FROM documents b FULL OUTER JOIN last l ON b.doc_id = l.doc_id)
       |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       | CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || final_fp),
       |   1, 10))::BIGINT) AS BIGINT) AS snapshot_fp
       |FROM merged GROUP BY status ORDER BY status""".stripMargin
  }

  /** q191 — RETRACTABLE aggregate-view maintenance (the DBSP/Materialize
    * class): q189 folds insert-only partials; this maintains the
    * per-shard live-document summary under the FULL CDC feed —
    * updates and deletes included — by appending SIGNED partials.
    * The maintenance pass is the classic IVM join: the last-wins
    * delta resolution (q175's exact algebra) left-joins the BASE
    * state for pre-images, and each change row becomes a retraction
    * plus an addition in one signed row — delete = (−1, −len(old)),
    * insert = (+1, +len(new)), update = (0, len(new) − len(old)).
    * Counts and sums form a GROUP (not just a monoid — every element
    * has an inverse), which is exactly what makes deletes foldable as
    * appends; the fold itself is the same schema-checked store append
    * q189 uses, O(delta), nothing base-side rewritten.
    *
    * Scale shape: the pre-image join is delta(⊆9%-of-keys)-vs-base —
    * broadcast the delta keys or co-bucket both on doc_id at 100 TB;
    * partials shuffle at delta-group grain; the view store is bucketed
    * on the view key so serving merges co-located signed partials with
    * no exchange (q189's PlanSpec discipline). Oracle: the from-scratch
    * aggregate over the POST-MERGE live state — fold-under-retraction ≡
    * recompute, the lifecycle gate extended to deletes.
    */
  val q191RetractableAggView: Q = (s, d) => {
    val t = RunStore.tableName("graft_retractview", d)
    RunStore.dropWithLocation(s, t)
    val base = documents(s, d).select(col("doc_id"), col("text"))
    def shard(c: org.apache.spark.sql.Column) = c % 8
    val basePartials = base.groupBy(shard(col("doc_id")).as("shard"))
      .agg(count(lit(1)).as("dn"),
        sum(length(col("text")).cast("long")).as("dchars"))
    graft.core.Tables.writeBucketed(basePartials, t, 8, "shard")
    val last = cdcFeed(s, d).groupBy("doc_id")
      .agg(max(struct(col("seq"), col("op"), col("new_text"))).as("m"))
      .select(col("doc_id"), col("m.op").as("op"),
        col("m.new_text").as("new_text"))
    val oldLen = length(col("old_text")).cast("long")
    val newLen = length(col("new_text")).cast("long")
    val deltaPartials = last
      .join(base.withColumnRenamed("text", "old_text"), Seq("doc_id"), "left")
      .select(shard(col("doc_id")).as("shard"),
        when(col("op") === "D",
          when(col("old_text").isNotNull, lit(-1L)).otherwise(lit(0L)))
          .otherwise(
            when(col("old_text").isNull, lit(1L)).otherwise(lit(0L)))
          .as("dn"),
        when(col("op") === "D", -coalesce(oldLen, lit(0L)))
          .otherwise(newLen - coalesce(oldLen, lit(0L))).as("dchars"))
      .groupBy("shard")
      .agg(sum(col("dn")).as("dn"), sum(col("dchars")).as("dchars"))
    DedupTextQueries.foldAdmittedVia(df => df)(s, t, deltaPartials)
    s.table(t).groupBy("shard")
      .agg(sum(col("dn")).as("n_live"), sum(col("dchars")).as("n_chars"))
      .orderBy("shard")
  }

  /** The from-scratch aggregate over the post-merge LIVE state (q175's
    * feed/last CTEs verbatim).
    */
  val q191Sql: String = {
    val u1 = mdUniformSql("cdc_u1:", "doc_id")
    val uD = mdUniformSql("cdc_d:", "doc_id")
    val u2 = mdUniformSql("cdc_u2:", "doc_id")
    val uI = mdUniformSql("cdc_i:", "doc_id")
    s"""WITH feed AS (
       | SELECT doc_id, 1 AS seq, 'U' AS op, text || ' v2' AS new_text
       | FROM documents WHERE $u1 < 0.05
       | UNION ALL
       | SELECT doc_id, 2 AS seq, 'D' AS op, CAST(NULL AS VARCHAR) AS new_text
       | FROM documents WHERE $uD < 0.03
       | UNION ALL
       | SELECT doc_id, 3 AS seq, 'U' AS op, text || ' v3' AS new_text
       | FROM documents WHERE $u2 < 0.04
       | UNION ALL
       | SELECT doc_id + 20000000 AS doc_id, 1 AS seq, 'U' AS op,
       |  'ins ' || CAST(doc_id AS VARCHAR) AS new_text
       | FROM documents WHERE $uI < 0.02),
       |last AS (
       | SELECT doc_id, op, new_text FROM (
       |  SELECT doc_id, op, new_text,
       |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
       |  FROM feed) WHERE rn = 1),
       |live AS (
       | SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id,
       |  COALESCE(l.new_text, b.text) AS text
       | FROM documents b FULL OUTER JOIN last l ON b.doc_id = l.doc_id
       | WHERE l.op IS NULL OR l.op = 'U')
       |SELECT doc_id % 8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_live,
       |  CAST(SUM(length(text)) AS BIGINT) AS n_chars
       |FROM live GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** The q200 escaping-hazard field: every JSON escape class in one
    * deterministic string — quote, backslash, newline, tab, a
    * non-ASCII codepoint — derived from doc_id so both engines build
    * the identical value. The corpus text itself is plain words, so
    * WITHOUT this field the round-trip gate would never exercise the
    * encoder/decoder's escape paths.
    */
  private val JsonHazardPrefix = "m\"\\\n\t\u00e9:"

  /** q200 — JSONL INGEST round-trip: the format LLM training corpora
    * actually arrive in, driven through the hash gate. The documents
    * table is serialized to newline-delimited JSON (`to_json` —
    * escapes and all; the hazard field forces quote/backslash/control/
    * non-ASCII escape paths), read back through `spark.read.json` with
    * an EXPLICIT schema (the SURVEY §1.2 contract — inference is a dev
    * check, never the ingest path), and the report fingerprints every
    * `(doc_id, md5(text), md5(meta))` triple commutatively per lang —
    * one character lost or double-escaped anywhere in the
    * encode→write→read→decode chain flips the hash. The ORACLE never
    * sees the JSONL: it recomputes the report from the parquet table,
    * so the gate is precisely the round-trip's fidelity.
    *
    * Scale shape: serialization and parsing are pure map-side codecs
    * (one whole-stage-codegen'd pass each, no exchange until the
    * lang-grain report partials); at 100 TB JSONL ingest is
    * scan-bounded, exactly as here.
    */
  /** The serialized JSONL frame (one `value` column), shared by q200's
    * batch write and q201's streaming-arrival spool — ONE serializer,
    * so the two forms can never round-trip different bytes.
    */
  /** The hazard-bearing documents projection `(doc_id, lang, text,
    * meta)` — THE expression every at-rest round-trip gate (q200 JSONL,
    * q212/q217 VARIANT, q222 CSV, q224 ORC) encodes and q200Sql's
    * `chr()` recipe replays. Single-sourced so a change to the hazard
    * set can never leave one format's gate silently exercising a
    * weaker escape surface (round-16 review).
    */
  private[graft] def hazardDocs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        concat(lit(JsonHazardPrefix), col("doc_id").cast("string"))
          .as("meta"))

  private[graft] def jsonlFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    hazardDocs(s, d)
      .select(to_json(struct(col("doc_id"), col("lang"), col("text"),
        col("meta"))).as("value"))

  /** The explicit ingest schema (§1.2: inference is a dev check). */
  private[graft] val JsonlSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("meta",
      org.apache.spark.sql.types.StringType)))

  /** The round-trip report over any decoded `(doc_id, lang, text,
    * meta)` frame — shared verbatim by q200 and q201's sink read.
    */
  private[graft] def jsonlReport(decoded: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    decoded.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("text")),
            md5(col("meta")))), 1, 10), 16, 10).cast("long"))
          .as("docs_fp"))
      .orderBy("lang")

  val q200JsonlRoundtrip: Q = (s, d) => {
    val dir = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      RunStore.tableName("graft_jsonl", d) + "_data")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) fs.delete(dir, true)
    jsonlFrame(s, d).write.text(dir.toString)
    jsonlReport(s.read.schema(JsonlSchema).json(dir.toString))
  }

  /** The oracle recomputes the report from the PARQUET table — the
    * hazard string rebuilt via chr() so the SQL literal cannot mangle
    * the control characters.
    */
  val q200Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
      |  CAST(SUM(('0x' || substr(md5(
      |    CAST(doc_id AS VARCHAR) || ':' || md5(text) || ':' ||
      |    md5('m"' || chr(92) || chr(10) || chr(9) || chr(233) || ':'
      |        || CAST(doc_id AS VARCHAR))), 1, 10))::BIGINT) AS BIGINT)
      |    AS docs_fp
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q212 — VARIANT ingest (semi-structured landing without a schema):
    * the q200 JSONL stream parsed into Spark 4's binary `VARIANT` type
    * (`parse_json`) and the typed fields extracted back out with
    * `variant_get` path expressions — the open-table-format answer to
    * "land now, shred later" (the JSON parses ONCE into the compact
    * binary encoding; every later extraction is a binary path walk,
    * not a re-parse — at 100 TB that is the difference between one
    * decode at ingest and one per consumer). Report + oracle are
    * q200's VERBATIM: the gate is JSON → VARIANT → typed-extraction
    * fidelity, hazard escapes included — a variant encoder that
    * mangled one escape or a path walk that lost a field flips the
    * lang-grain fingerprint. Pure map-side both legs, like q200.
    */
  val q212VariantIngest: Q = (s, d) => {
    val decoded = jsonlFrame(s, d)
      .select(parse_json(col("value")).as("v"))
      .select(
        expr("variant_get(v, '$.doc_id', 'long')").as("doc_id"),
        expr("variant_get(v, '$.lang', 'string')").as("lang"),
        expr("variant_get(v, '$.text', 'string')").as("text"),
        expr("variant_get(v, '$.meta', 'string')").as("meta"))
    jsonlReport(decoded)
  }

  /** A fresh landing directory for the at-rest format round-trips
    * (q222–q224): the `_data` run dir of `graft_<tag>`
    * ([[StreamingQueries.runDirs]]).
    */
  private[queries] def landingDir(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String): String =
    StreamingQueries.runDirs(s, s"graft_$tag", d)("_data").head

  /** q222 — CSV INGEST round-trip (q200's discipline for the other
    * format real corpora land in): the documents table — hazard meta
    * field included, so embedded QUOTES, BACKSLASHES, NEWLINES, tabs
    * and non-ASCII all ride inside quoted fields — is serialized to
    * CSV with pinned RFC-4180 options (quote `"`, escape `"` = doubled
    * quotes, header row) and read back with the SAME pinned options,
    * an EXPLICIT schema (§1.2: inference is a dev check, never the
    * ingest path) and `multiLine` (an embedded newline splits a record
    * across physical lines; a reader without it would shear every
    * multiline row). Report + oracle are q200's VERBATIM: the gate is
    * encode→write→read→decode fidelity — the oracle recomputes from
    * parquet and never sees the CSV.
    *
    * Scale shape: both legs are pure map-side codecs like q200, with
    * ONE caveat worth the scaladoc: `multiLine` makes a CSV file
    * UNSPLITTABLE (a record boundary is no longer a line boundary), so
    * at 100 TB the landing zone must arrive as many files — exactly
    * how distributed producers write it — not one monolith. The
    * parallelism unit here is already the file.
    */
  val q222CsvRoundtrip: Q = (s, d) => {
    val dir = landingDir(s, d, "csv")
    val src = hazardDocs(s, d)
    src.write.option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(dir)
    jsonlReport(
      s.read.schema(JsonlSchema)
        .option("header", "true")
        .option("quote", "\"").option("escape", "\"")
        .option("multiLine", "true")
        .csv(dir))
  }

  /** q223 — MALFORMED-RECORD QUARANTINE (the reject channel every real
    * landing zone needs, absent from q200's happy path): a CSV fixture
    * with a deterministic malformation recipe — every row whose
    * `doc_id % 37 = 0` lands with a non-numeric id, unparseable
    * against the explicit LONG column — read in PERMISSIVE mode with
    * `columnNameOfCorruptRecord`, so damaged rows are KEPT as raw text
    * in the corrupt column instead of silently nulled or dropped. The
    * report gates all four contracts at once: total row count (nothing
    * vanishes), good/corrupt split (the recipe's arithmetic), a
    * fingerprint over the GOOD rows (quarantine must not distort what
    * it admits), and `ff_refused` — the same directory re-read in
    * FAILFAST throws rather than ingesting damage, the mode a
    * zero-tolerance pipeline runs. Oracle: recomputes every number
    * from parquet by replaying the malformation recipe in SQL.
    *
    * Scale shape: ONE map-side parse pass + one metrics reduction (the
    * aggregate references the data columns alongside `_quarantine`, so
    * the corrupt-column pruning hazard — wrong results when the corrupt
    * column is queried ALONE — cannot bite); the quarantine filter is a
    * null test on the parsed row. The FAILFAST probe is deliberately an
    * independent plan over the same directory: it gates the READER
    * mode, not this query's cached state.
    */
  val q223CsvQuarantine: Q = (s, d) => {
    val dir = landingDir(s, d, "csvq")
    val docs = documents(s, d)
    docs.select(
        concat(
          when(col("doc_id") % 37 === 0, concat(lit("x"), col("doc_id")))
            .otherwise(col("doc_id").cast("string")),
          lit(","), col("lang"), lit(","), md5(col("text"))).as("value"))
      .write.text(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_quarantine",
        org.apache.spark.sql.types.StringType)))
    // no cache: the report is ONE aggregate over one parse pass, and it
    // references data columns alongside _quarantine (Spark only forbids
    // — and column pruning only distorts — queries touching the corrupt
    // column ALONE); the FAILFAST probe below is an independent plan
    // that re-reads the directory by design
    val parsed = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .csv(dir)
    // the FAILFAST probe must actually PARSE the damaged column —
    // count() prunes every column and the reader then never converts a
    // token, so the refusal would silently not trigger. The catch is
    // NARROW (round-16 advisory): only a failure whose cause chain
    // names the malformed-record path counts as a refusal — an
    // unrelated exception (filesystem error, analysis error after a
    // schema change) must fail the gate loudly, not green it.
    val ffRefused =
      try {
        s.read.schema(org.apache.spark.sql.types.StructType(schema.dropRight(1)))
          .option("mode", "FAILFAST").csv(dir)
          .agg(sum(col("doc_id"))).head()
        false
      } catch {
        case scala.util.control.NonFatal(e) if malformedRefusal(e) => true
      }
    parsed.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("_quarantine").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_quarantine").isNotNull, 1L).otherwise(0L))
        .as("n_corrupt"),
      sum(when(col("_quarantine").isNull,
        conv(substring(md5(concat_ws(":",
          col("doc_id").cast("string"), col("lang"), col("h"))), 1, 10),
          16, 10).cast("long"))).as("good_fp"))
      .withColumn("ff_refused", lit(ffRefused))
  }

  val q223Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_good,
      |  CAST(SUM(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(SUM(CASE WHEN doc_id % 37 <> 0 THEN
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang
      |      || ':' || md5(text)), 1, 10))::BIGINT END) AS BIGINT)
      |    AS good_fp,
      |  TRUE AS ff_refused
      |FROM documents""".stripMargin

  /** q224 — ORC round-trip (the second at-rest columnar format; 100 TB
    * lakes routinely hold both): the same hazard-bearing frame as q222
    * written as ORC and read back, report + oracle q200's VERBATIM —
    * the gate is encode→decode fidelity through ORC's own string
    * encoding, dictionary and compression paths; the oracle never sees
    * the ORC. Scale shape: columnar scan both legs, splittable files,
    * predicate/column pruning native — the same properties the parquet
    * tables get, which is exactly the point of gating parity.
    */
  val q224OrcRoundtrip: Q = (s, d) => {
    val dir = landingDir(s, d, "orc")
    hazardDocs(s, d).write.orc(dir)
    jsonlReport(s.read.schema(JsonlSchema).orc(dir))
  }

  /** q232 — XML LANDING ZONE (Spark 4's built-in XML source; real
    * corpora still land as XML feeds): the documents table serialized
    * as one `<doc>` record per line — an `id` ATTRIBUTE, a nested
    * `<meta lang=".." nc=".."/>` element with two attributes, and an
    * `<h>` child element, so the reader exercises attribute prefixes
    * AND nesting, not just flat fields — read back via `rowTag` with
    * an EXPLICIT schema in PERMISSIVE mode + `columnNameOfCorruptRecord`,
    * then the same directory re-read in FAILFAST must refuse (narrow
    * catch — only a malformed-record failure counts).
    *
    * Both legs use Spark's XML machinery: the WRITER emits the lake
    * (`rootTag`/`rowTag`, `_`-prefixed struct fields mapped to
    * attributes — each file a well-formed document, which the reader
    * REQUIRES: without an enclosing root only the first record of a
    * file parses and the remainder lands corrupt, measured on 4.1.2),
    * then the damage is injected ON DISK — every `</doc>` end tag in
    * the five poisoned bucket files flipped to `</dok>`.
    *
    * The quarantine grain is deliberately DIFFERENT from q223's CSV:
    * XML is a multiline format, so the source quarantines at FILE
    * grain — a syntactically broken record poisons the file and the
    * WHOLE file lands as a single corrupt row. The fixture makes that
    * deterministic: docs land one FILE per `doc_id % 50` bucket
    * (repartition on the bucket + partitionBy, so exactly one task
    * writes each bucket), and in the poisoned buckets
    * (`bucket % 10 = 7`) EVERY record's end tag is broken — whichever
    * record the parser meets first, the file yields exactly one
    * corrupt row and zero admitted rows. Type-conversion malformations
    * are deliberately NOT used: a conversion failure on the first
    * record of a file escapes PERMISSIVE entirely on 4.1.2 (attribute
    * casts sit outside the bad-record wrapper) — syntax damage is the
    * recipe with defined semantics. Report: total/good/corrupt split +
    * fingerprint over ADMITTED rows, q223's contract; the oracle
    * replays the bucket arithmetic from parquet and never sees the
    * XML.
    *
    * Scale shape: map-side parse + one metrics reduction; the
    * parallelism unit is the file (records span lines, so XML files
    * are unsplittable — the landing zone must arrive as many files,
    * exactly how distributed feed producers write it). The poisoning
    * pass is driver-side by design — it touches exactly the 5 fixture
    * files (file count is bucket-fixed, never corpus-scaled).
    */
  val q232XmlQuarantine: Q = (s, d) => {
    val dir = landingDir(s, d, "xmlq")
    documents(s, d).select(
        col("doc_id").as("_id"),
        struct(col("lang").as("_lang"), col("n_chars").as("_nc")).as("meta"),
        md5(col("text")).as("h"),
        (col("doc_id") % 50).as("bucket"))
      .repartition(col("bucket"))
      .write.option("rowTag", "doc").option("rootTag", "docs")
      .partitionBy("bucket").xml(dir)
    locally { // poison: break every record end tag in buckets %10 == 7
      val root = new org.apache.hadoop.fs.Path(dir)
      val pfs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      pfs.listStatus(root)
        .filter { st =>
          val n = st.getPath.getName
          st.isDirectory && n.startsWith("bucket=") &&
            n.stripPrefix("bucket=").toLong % 10 == 7
        }
        .flatMap(st => pfs.listStatus(st.getPath))
        .filter(_.getPath.getName.startsWith("part-"))
        .foreach { st =>
          val in = pfs.open(st.getPath)
          val body =
            try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
            finally in.close()
          // exact "</doc>" only — "</docs>" does not match, so the
          // enclosing root stays intact and the damage is record-level
          val out = pfs.create(st.getPath, true)
          try out.write(body.replace("</doc>", "</dok>").getBytes("UTF-8"))
          finally out.close()
        }
    }
    val metaType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_nc",
        org.apache.spark.sql.types.LongType)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("meta", metaType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_quarantine",
        org.apache.spark.sql.types.StringType)))
    val parsed = s.read.schema(schema)
      .option("rowTag", "doc")
      .option("recursiveFileLookup", "true") // bucket dirs are layout,
      .option("mode", "PERMISSIVE")          // not partition columns
      .option("columnNameOfCorruptRecord", "_quarantine")
      .xml(dir)
    val ffRefused =
      try {
        s.read.schema(org.apache.spark.sql.types.StructType(schema.dropRight(1)))
          .option("rowTag", "doc")
          .option("recursiveFileLookup", "true")
          .option("mode", "FAILFAST").xml(dir)
          .agg(sum(col("_id"))).head()
        false
      } catch {
        case scala.util.control.NonFatal(e) if malformedRefusal(e) => true
      }
    parsed.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("_quarantine").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_quarantine").isNotNull, 1L).otherwise(0L))
        .as("n_corrupt"),
      sum(when(col("_quarantine").isNull,
        conv(substring(md5(concat_ws(":",
          col("_id").cast("string"), col("meta._lang"),
          col("meta._nc").cast("string"), col("h"))), 1, 10),
          16, 10).cast("long"))).as("good_fp"))
      .withColumn("ff_refused", lit(ffRefused))
  }

  /** q232's oracle: clean-bucket rows admitted exactly; each of the 5
    * poisoned buckets (one file apiece by construction) collapses to
    * ONE corrupt row — the file-grain quarantine contract.
    */
  val q232Sql: String =
    """WITH b AS (SELECT doc_id, lang, n_chars, text,
      |             (doc_id % 50) % 10 = 7 AS poisoned
      |           FROM documents)
      |SELECT CAST(SUM(CASE WHEN NOT poisoned THEN 1 ELSE 0 END) + 5
      |    AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN NOT poisoned THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_good,
      |  CAST(5 AS BIGINT) AS n_corrupt,
      |  CAST(SUM(CASE WHEN NOT poisoned THEN
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang
      |      || ':' || CAST(n_chars AS VARCHAR) || ':' || md5(text)),
      |      1, 10))::BIGINT END) AS BIGINT)
      |    AS good_fp,
      |  TRUE AS ff_refused
      |FROM b""".stripMargin

  /** q228 — HIVE-PARTITIONED lake layout + DYNAMIC partition overwrite:
    * THE two primitives a 100 TB parquet lake runs on and the one
    * layout family the engine had not yet gated (stores are bucketed;
    * this is the directory-partitioned landing layout). The documents
    * table lands `partitionBy(lang)`; then exactly ONE partition — the
    * minimum lang, a data-derived deterministic choice — is rewritten
    * in place with `partitionOverwriteMode=dynamic` (the mode that
    * replaces only the partitions the incoming frame CONTAINS; static
    * overwrite would truncate the whole table — the classic lake
    * footgun). The report reads the WHOLE lake back per lang: the
    * rewritten partition must carry exactly the transformed rows, every
    * sibling partition exactly the originals — which is precisely what
    * the oracle recomputes with a CASE on the target lang.
    * PartitionedLakeSpec pins the physical claims the hash can't: the
    * sibling partitions' FILES are untouched (same names/sizes — the
    * rewrite never rewrote them), and a lang-filtered read prunes to
    * `PartitionFilters` with the partition column absent from
    * `ReadSchema` (scan-level pruning, the reason this layout exists).
    *
    * Scale shape: the rewrite reads and writes ONE partition; the
    * report is one partial-agg pass whose shuffle is |langs| rows. At
    * 100 TB, partition-grain rewrite is how backfills ship without
    * touching the other 99.9% of the lake.
    */
  val q228PartitionedOverwrite: Q = (s, d) => {
    val dir = landingDir(s, d, "partlake")
    val docs = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    docs.write.partitionBy("lang").parquet(dir)
    val target = docs.agg(min(col("lang"))).head().getString(0)
    docs.filter(col("lang") === target)
      .withColumn("text", concat(lit("rewritten:"), col("text")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(dir)
    s.read.parquet(dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("text")))), 1, 10),
            16, 10).cast("long")).as("docs_fp"))
      .orderBy("lang")
  }

  /** q230 — DYNAMIC PARTITION PRUNING through q228's lake layout (the
    * single biggest scan-reducer a 100 TB star schema has): the
    * documents table lands hive-partitioned by `lang` (the fact), a
    * per-lang dimension with a data-derived `lang_rank` (rarest lang
    * first — rank over `(n_docs, lang)`, deterministic at every SF)
    * lands beside it, and the gate query joins fact⋈dim on the
    * PARTITION column with a selective predicate on the dim's NON-key
    * column (`lang_rank <= 2`). Static pruning cannot see through that
    * predicate — the langs it selects are only known after the dim is
    * read — so the optimizer must inject a `dynamicpruning#` subquery
    * into the fact scan's `PartitionFilters` (free here: the dim is
    * broadcast for the join anyway, and DPP's default
    * `reuseBroadcastOnly` re-uses that exchange as the IN-filter). The
    * hash gates the join+aggregate RESULT; DppPlanSpec pins the plan
    * claims the hash can't — the `dynamicpruning` expression on the
    * fact scan and the scan's own `number of partitions read` metric
    * reporting the PRUNED count, not the total.
    *
    * Scale shape: at 100 TB the fact scan reads only the partitions
    * the filtered dim names — the other 99% of the lake is never
    * listed into tasks. One broadcast, one partial-agg pass; the
    * predicate goes fact-side at RUNTIME, not read-everything-then-
    * filter.
    */
  val q230DynamicPartitionPruning: Q = (s, d) => {
    val dir = landingDir(s, d, "dpplake")
    val docs = documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    docs.write.partitionBy("lang").parquet(s"$dir/fact")
    // |langs| rows: the single-partition window is dimension-build
    // work, never corpus-scaled
    docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs"), col("lang"))))
      .write.parquet(s"$dir/dim")
    val fact = s.read.parquet(s"$dir/fact")
    val dim = s.read.parquet(s"$dir/dim").filter(col("lang_rank") <= 2)
    fact.join(broadcast(dim), Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("text")))), 1, 10),
            16, 10).cast("long")).as("docs_fp"))
      .orderBy("lang")
  }

  val q230Sql: String =
    """WITH counts AS (
      |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      |dim AS (
      |  SELECT lang, ROW_NUMBER() OVER (ORDER BY n, lang) AS lang_rank
      |  FROM counts)
      |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' ||
      |    md5(d.text)), 1, 10))::BIGINT) AS BIGINT) AS docs_fp
      |FROM documents d JOIN dim ON d.lang = dim.lang
      |WHERE dim.lang_rank <= 2
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  val q228Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |    md5(CASE WHEN lang = (SELECT MIN(lang) FROM documents)
      |        THEN 'rewritten:' || text ELSE text END)), 1, 10))::BIGINT)
      |    AS BIGINT) AS docs_fp
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** q235 — RUN METRICS VIA `observe()` (the Observation API): the
    * admission pass writes accepted documents to the landing zone and
    * the run's metrics — total seen, admitted count, admitted volume —
    * ride ON THE SAME SCAN as accumulator-backed observed metrics,
    * collected when the write action completes. The alternative every
    * naive pipeline ships is a second full scan (`count()` before or
    * after the write) — at 100 TB that doubles the job. The returned
    * frame reconciles the observation against the landing zone itself
    * (a footer-count read, never a row scan): `write_ok` flips if the
    * metrics and the written bytes disagree. Oracle recomputes the
    * metrics from `documents` and pins the reconciliation TRUE.
    *
    * Scale shape: ONE corpus pass total; observed metrics are Spark
    * accumulators merged on the driver (bytes per task, not rows);
    * the reconciliation count reads parquet row-group metadata only.
    */
  val q235ObserveMetrics: Q = (s, d) => {
    val dir = landingDir(s, d, "obslanding")
    val obs = new org.apache.spark.sql.Observation("q235_admission")
    documents(s, d)
      .withColumn("admitted", col("n_chars") >= 200)
      .observe(obs,
        count(lit(1)).as("n_total"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("n_chars")).otherwise(0L))
          .as("chars_admitted"))
      .filter(col("admitted"))
      .select("doc_id", "text", "lang")
      .write.parquet(dir)
    val m = obs.get
    val written = s.read.parquet(dir).count()
    import s.implicits._
    Seq((m("n_total").asInstanceOf[Long],
        m("n_admitted").asInstanceOf[Long],
        m("chars_admitted").asInstanceOf[Long],
        written == m("n_admitted").asInstanceOf[Long]))
      .toDF("n_total", "n_admitted", "chars_admitted", "write_ok")
  }

  val q235Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_admitted,
      |  CAST(SUM(CASE WHEN n_chars >= 200 THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS chars_admitted,
      |  TRUE AS write_ok
      |FROM documents""".stripMargin

  /** q237 — SCHEMA EVOLUTION AT THE LANDING ZONE (`mergeSchema`): two
    * ingest generations land side by side — generation 1 wrote
    * (doc_id, text), generation 2 added `lang` and a `quality` column —
    * and ONE read reconciles them: `mergeSchema=true` unions the
    * parquet footers' schemas (a metadata operation, never a data
    * scan) and back-fills the missing columns with NULL. The report
    * proves the seam: per generation, row count, NULL back-fill count
    * for the added column, the added measure's sum (0-coalesced where
    * it predates the column), and a content fingerprint that would
    * catch any row-level corruption through the merge. The oracle
    * replays the generation split arithmetically from `documents`.
    * This is q206's widen-on-fold discipline applied to the RAW
    * landing zone, where history cannot be rewritten — the reader,
    * not the writer, absorbs the schema drift.
    *
    * Scale shape: schema merge reads footers of each generation (at
    * 100 TB: bounded by file count, parallelized by Spark); the report
    * is one partial-agg pass. No rewrite of generation-1 data ever.
    */
  val q237SchemaEvolutionRead: Q = (s, d) => {
    val dir = landingDir(s, d, "evolanding")
    val docs = documents(s, d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .write.parquet(s"$dir/gen=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("lang"),
        col("n_chars").as("quality"))
      .write.parquet(s"$dir/gen=2")
    s.read.option("mergeSchema", "true").option("basePath", dir)
      .parquet(s"$dir/gen=1", s"$dir/gen=2")
      .groupBy(col("gen").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_lang_null"),
        sum(coalesce(col("quality"), lit(0L))).as("quality_sum"),
        sum(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("text")))), 1, 10),
            16, 10).cast("long")).as("docs_fp"))
      .orderBy("gen")
  }

  val q237Sql: String =
    """SELECT CAST(1 + (doc_id % 2) AS BIGINT) AS gen,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_lang_null,
      |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
      |    AS BIGINT) AS quality_sum,
      |  CAST(SUM(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
      |    md5(text)), 1, 10))::BIGINT) AS BIGINT) AS docs_fp
      |FROM documents GROUP BY gen ORDER BY gen""".stripMargin

  /** Records-per-file cap for q238 — small enough that every shard
    * splits into several files at every SF, so the rolling logic is
    * actually exercised, never a one-file-per-shard degenerate pass.
    */
  private val FileCap = 40L

  /** q238 — WRITER FILE-SIZING AUDIT (`maxRecordsPerFile`): the
    * small-files/giant-files problem is the canonical 100 TB lake
    * writer failure — a task owning a hot partition writes one
    * unsplittable multi-GB file, or a thousand tasks write a thousand
    * 10-row files. The control is `maxRecordsPerFile`: each shard is
    * owned by one task (`repartition(shard)`) and the writer ROLLS to
    * a new file every `FileCap` records. The audit reads the lake back
    * with `_metadata.file_path` and proves the contract per shard:
    * the file count is exactly ⌈rows/cap⌉ (no stragglers, no orphan
    * tiny files), no file exceeds the cap, and the row count survived.
    * The oracle replays the arithmetic from `documents` — any rolling
    * misbehavior flips `n_files` or `cap_ok`.
    *
    * Scale shape: write is one hash exchange on shard; the audit is
    * one scan with a virtual column and a two-level partial agg
    * (file grain, then shard grain). At 100 TB the same audit runs on
    * row-group metadata alone.
    */
  val q238WriterSizingAudit: Q = (s, d) => {
    val dir = landingDir(s, d, "sizedlake")
    documents(s, d)
      .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("long"))
      .repartition(4, col("shard"))
      .write.option("maxRecordsPerFile", FileCap)
      .partitionBy("shard").parquet(dir)
    s.read.parquet(dir)
      .select(col("shard").cast("long").as("shard"),
        col("_metadata.file_path").as("file_path"))
      .groupBy("shard", "file_path")
      .agg(count(lit(1)).as("rows_in_file"))
      .groupBy("shard")
      .agg(countDistinct(col("file_path")).as("n_files"),
        sum(col("rows_in_file")).as("n_docs"),
        bool_and(col("rows_in_file") <= FileCap).as("cap_ok"))
      .orderBy("shard")
  }

  val q238Sql: String =
    s"""SELECT CAST(doc_id % 4 AS BIGINT) AS shard,
       |  CAST((COUNT(*) + ${FileCap - 1}) // $FileCap AS BIGINT) AS n_files,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  TRUE AS cap_ok
       |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  /** q241 — SMALL-FILES COMPACTION AUDIT (the OPTIMIZE pass every
    * 100 TB lake schedules): a fragmented landing zone — streaming
    * appends capped at 10 records/file, ⌈rows/10⌉ files per shard —
    * is compacted by one rewrite (hash-repartition on the partition
    * key → exactly ONE file per shard), and the audit proves the
    * rewrite did what compaction must: file count collapses from the
    * fragmentation arithmetic to 1, row counts survive, and a content
    * fingerprint over (doc_id, text) is BYTE-IDENTICAL across the
    * seam — compaction that loses or duplicates a row is corruption
    * with a progress bar. Both sides are read back through
    * `_metadata.file_path` (q234's discipline), so the file-grain
    * claims come from the scan itself, not the writer's word.
    *
    * Scale shape: the compaction is one exchange on the partition
    * key; each audit is one scan + partial agg. At 100 TB the same
    * rewrite runs per-partition on the fragmented subset only (the
    * partition predicate prunes the healthy ones); the audit
    * arithmetic is unchanged.
    */
  val q241CompactionAudit: Q = (s, d) => {
    val fragDir = landingDir(s, d, "fraglake")
    documents(s, d)
      .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("long"))
      .repartition(4, col("shard"))
      .write.option("maxRecordsPerFile", 10L)
      .partitionBy("shard").parquet(fragDir)
    def audit(path: String, filesCol: String, fpCol: String) =
      s.read.parquet(path)
        .select(col("shard").cast("long").as("shard"),
          col("_metadata.file_path").as("file_path"),
          col("doc_id"), col("text"))
        .groupBy("shard")
        .agg(countDistinct(col("file_path")).as(filesCol),
          count(lit(1)).as(s"n_docs_$fpCol"),
          sum(conv(substring(md5(concat_ws(":",
              col("doc_id").cast("string"), md5(col("text")))), 1, 10),
              16, 10).cast("long")).as(s"fp_$fpCol"))
    val before = audit(fragDir, "n_files_before", "before")
    val compactDir = landingDir(s, d, "compactlake")
    s.read.parquet(fragDir)
      .repartition(4, col("shard"))
      .write.partitionBy("shard").parquet(compactDir)
    val after = audit(compactDir, "n_files_after", "after")
    before.join(after, Seq("shard"))
      .select(col("shard"), col("n_docs_before").as("n_docs"),
        col("n_files_before"), col("n_files_after"),
        (col("n_docs_before") === col("n_docs_after") &&
          col("fp_before") === col("fp_after")).as("content_ok"))
      .orderBy("shard")
  }

  val q241Sql: String =
    """SELECT CAST(doc_id % 4 AS BIGINT) AS shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST((COUNT(*) + 9) // 10 AS BIGINT) AS n_files_before,
      |  CAST(1 AS BIGINT) AS n_files_after,
      |  TRUE AS content_ok
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  val queries: Map[String, Q] = Map(
    "q241_compaction_audit" -> q241CompactionAudit,
    "q235_observe_metrics" -> q235ObserveMetrics,
    "q237_schema_evolution_read" -> q237SchemaEvolutionRead,
    "q238_writer_sizing_audit" -> q238WriterSizingAudit,
    "q228_partitioned_overwrite" -> q228PartitionedOverwrite,
    "q230_dynamic_partition_pruning" -> q230DynamicPartitionPruning,
    "q232_xml_quarantine" -> q232XmlQuarantine,
    "q222_csv_roundtrip" -> q222CsvRoundtrip,
    "q223_csv_quarantine" -> q223CsvQuarantine,
    "q224_orc_roundtrip" -> q224OrcRoundtrip,
    "q200_jsonl_roundtrip" -> q200JsonlRoundtrip,
    "q212_variant_ingest" -> q212VariantIngest,
    "q191_retractable_agg_view" -> q191RetractableAggView,
    "q172_snapshot_diff" -> q172SnapshotDiff,
    "q175_merge_upsert" -> q175MergeUpsert,
    "q65_balanced_mixture" -> q65BalancedMixture,
    "q66_training_manifest" -> q66TrainingManifest,
    "q67_token_chunks" -> q67TokenChunks,
    "q68_fixed_stratified" -> q68FixedStratified,
    "q76_repeated_windows" -> q76RepeatedWindows,
    "q120_span_scrub" -> q120SpanScrub,
    "q124_incremental_span_scrub" -> q124IncrementalSpanScrub
  )

  val oracle: Map[String, String] = Map(
    // recomputed from parquet — the gate is the JSONL round-trip's
    // fidelity, escapes included
    "q200_jsonl_roundtrip" -> q200Sql,
    // q200's SQL verbatim: CSV encode→decode fidelity (quotes,
    // newlines, multiline records) against the parquet recomputation
    "q222_csv_roundtrip" -> q200Sql,
    // the malformation recipe replayed in SQL from parquet
    "q223_csv_quarantine" -> q223Sql,
    // q200's SQL verbatim: ORC encode→decode fidelity
    "q224_orc_roundtrip" -> q200Sql,
    // the partial rewrite replayed in SQL: transformed rows for the
    // overwritten partition, originals everywhere else
    "q228_partitioned_overwrite" -> q228Sql,
    "q235_observe_metrics" -> q235Sql,
    "q241_compaction_audit" -> q241Sql,
    "q237_schema_evolution_read" -> q237Sql,
    "q238_writer_sizing_audit" -> q238Sql,
    "q230_dynamic_partition_pruning" -> q230Sql,
    "q232_xml_quarantine" -> q232Sql,
    // q200's SQL verbatim: the gate is JSON -> VARIANT -> typed-extract
    // fidelity against the parquet-recomputed report
    "q212_variant_ingest" -> q200Sql,
    // the from-scratch aggregate over the post-merge live state:
    // fold-under-retraction must equal recompute
    "q191_retractable_agg_view" -> q191Sql,
    "q172_snapshot_diff" -> q172Sql,
    "q175_merge_upsert" -> q175Sql,
    "q65_balanced_mixture" -> q65Sql,
    "q66_training_manifest" -> q66Sql,
    "q67_token_chunks" -> q67Sql,
    "q68_fixed_stratified" -> q68Sql,
    "q76_repeated_windows" -> q76Sql,
    "q120_span_scrub" -> q120Sql,
    // the batch scrub's SQL with only the output set narrowed:
    // incremental scrub must equal recompute
    "q124_incremental_span_scrub" -> q124Sql
  )
}

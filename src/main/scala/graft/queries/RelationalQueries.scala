package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._

/** Relational core: aggregation, joins, windows, sorts, set ops.
  *
  * The reference itself has only one aggregate (A1 count, task.ts:255) and
  * one join-shaped op (J1 dictionary lookup, task.ts:218); everything else
  * here is the "free" Spark surface SURVEY.md §2.5-2.7 commits to, each
  * exercised once with a DuckDB oracle.
  *
  * Scale notes are inline per query: what shuffles, what broadcasts, and
  * why the plan survives 1000 executors.
  */
object RelationalQueries {

  /** TPC-H Q1-shaped pricing summary. One hash-agg shuffle on a 6-value
    * grouping key; partial aggregation map-side reduces ~150k rows/partition
    * to 6 before the exchange, so the shuffle is O(partitions), not O(rows).
    */
  val q01PricingSummary: Q = (s, d) => {
    val li = lineitem(s, d)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        avg(col("l_quantity").cast("long")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      | AVG(CAST(l_quantity AS BIGINT)) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5-shaped star join: revenue per nation for one region.
    * nation⋈region (25×5 rows) and customer are broadcast; the only real
    * shuffle is lineitem⋈orders on orderkey. At 100 TB both fact tables
    * would be bucketed on orderkey to make that shuffle-free too.
    */
  val q02StarRevenue: Q = (s, d) => {
    val dims = nation(s, d)
      .join(region(s, d), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
    customer(s, d)
      .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
      .join(orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name")
      .agg(
        sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  val q02Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM customer, orders, lineitem, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Top-3 orders per customer — ranking window, deterministic tiebreak.
    * Single shuffle on o_custkey; rank predicate prunes before output.
    */
  val q03TopOrdersPerCust: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  val q03Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      | FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Global top-k — planned as TakeOrderedAndProject: each partition keeps
    * its local top-10, the driver merges k·partitions rows. No full sort.
    */
  val q04TopKGlobal: Q = (s, d) =>
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  val q04Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  /** Left-semi join (EXISTS): customers in BUILDING with at least one
    * URGENT order. Semi-join output carries only the left side, so Spark
    * can broadcast the deduplicated right keys.
    */
  val q05SemiJoin: Q = (s, d) => {
    val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_mktsegment = 'BUILDING'
      |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no pending orders. */
  val q06AntiJoin: Q = (s, d) => {
    val pending = orders(s, d).filter(col("o_orderstatus") === "P")
    customer(s, d)
      .join(pending, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** Left-outer join + aggregate: customer count / balance per nation,
    * keeping empty nations. nation (25 rows) broadcast to the customer side.
    */
  val q07OuterAgg: Q = (s, d) =>
    broadcast(nation(s, d))
      .join(customer(s, d), col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy("n_name")
      .agg(
        count(col("c_custkey")).as("n_cust"),
        coalesce(sum(money(col("c_acctbal"))), lit(0)).cast("double").as("total_acctbal"))
      .orderBy("n_name")

  val q07Sql: String =
    """SELECT n_name, COUNT(c_custkey) AS n_cust,
      | CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_acctbal
      |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** ROLLUP region → nation over customers (grouping-set aggregation).
    * Expressed through the `spark.sql` entry point: referencing rollup
    * grouping columns after a join trips Spark's ambiguous-self-join
    * false positive in the DSL (the SQL path resolves fine, and the plan
    * is identical — Expand + two-phase hash aggregate over broadcast
    * joins).
    */
  val q08Rollup: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("g_customer")
    nation(s, d).createOrReplaceTempView("g_nation")
    region(s, d).createOrReplaceTempView("g_region")
    s.sql(
      """SELECT COALESCE(r_name, 'ALL') AS region_name,
        |       COALESCE(n_name, 'ALL') AS nation_name,
        |       COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM g_customer
        |JOIN g_nation ON c_nationkey = n_nationkey
        |JOIN g_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin)
  }

  val q08Sql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region_name, COALESCE(n_name, 'ALL') AS nation_name,
      | COUNT(*) AS n_cust,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region_name, nation_name""".stripMargin

  /** CUBE over order status × priority. */
  val q09Cube: Q = (s, d) =>
    orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(money(col("o_totalprice"))).cast("double").as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy("status", "priority")

  val q09Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** Exact distinct aggregation (expands to a two-phase plan in Spark). */
  val q10Distinct: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  val q10Sql: String =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
      | COUNT(DISTINCT o_orderpriority) AS n_prio, COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** INTERSECT: BUILDING-segment customers that also placed orders. */
  val q11Intersect: Q = (s, d) =>
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
      .intersect(orders(s, d).select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  val q11Sql: String =
    """SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders
      |ORDER BY custkey""".stripMargin

  /** EXCEPT: parts never shipped in near-max quantity (≥ 48). */
  val q12Except: Q = (s, d) =>
    part(s, d).select(col("p_partkey").as("partkey"))
      .except(lineitem(s, d).filter(col("l_quantity") >= 48)
        .select(col("l_partkey").as("partkey")))
      .orderBy("partkey")

  val q12Sql: String =
    """SELECT p_partkey AS partkey FROM part
      |EXCEPT
      |SELECT l_partkey AS partkey FROM lineitem WHERE l_quantity >= 48
      |ORDER BY partkey""".stripMargin

  /** Equi + range join: lineitems shipped within 60 days of their order
    * date. The equi key carries the shuffle; the range predicate is a
    * post-join filter — the scalable shape for interval joins (vs a pure
    * inequality join, which would nest-loop).
    */
  val q13RangeJoin: Q = (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lineitems"))
      .orderBy("o_orderpriority")

  val q13Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lineitems
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** GROUPING SETS (beyond rollup/cube): per-status and per-priority
    * totals in one pass over orders — one Expand + one aggregate instead
    * of a UNION of two scans.
    */
  val q25GroupingSets: Q = (s, d) => {
    orders(s, d).createOrReplaceTempView("g_orders")
    s.sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM g_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin)
  }

  val q25Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  /** HLL sketch aggregation: approx_count_distinct next to the exact
    * count. No oracle entry — permanently: Spark's native HLL++
    * registers are not replayable in another engine (unlike q45's
    * trained centroids, there is no value to pin and replay against),
    * so the rows-only check plus a scalatest accuracy bound (< 5%
    * relative error) cover it; the hash-gated twin is q168's own
    * register-exact HLL, replayed bit-for-bit by DuckDB. At 100 TB the
    * sketch is the difference between a map-side-combinable single
    * pass and a two-phase exact distinct.
    */
  val q26ApproxDistinct: Q = (s, d) =>
    orders(s, d)
      .groupBy("o_orderstatus")
      .agg(approx_count_distinct(col("o_custkey")).as("approx_cust"),
        countDistinct(col("o_custkey")).as("exact_cust"))
      .orderBy("o_orderstatus")

  /** q58 — two-phase SALTED aggregation over a heavy-hitter key
    * ([[graft.core.Skew.saltedSum]], registered so the skew helper gets
    * an oracle-checked row, not just SkewSpec's equality proof).
    * `l_returnflag` has 3 values — the textbook hot-key aggregation where
    * one reducer owns a third of a 100 TB fact table. The salted form
    * spreads each key over 16 deterministic sub-buckets (salt =
    * hash(l_orderkey) % 16, retry-stable — never rand()), partial-sums
    * per (key, salt), then merges ≤16 partials per key; decimal sums make
    * the two-phase total bit-equal to the direct GROUP BY the oracle
    * runs. The second phase moves 3·16 rows — noise at any scale.
    */
  val q58SaltedHotkey: Q = (s, d) =>
    graft.core.Skew.saltedSum(lineitem(s, d), col("l_returnflag"),
        col("l_extendedprice"), col("l_orderkey"), buckets = 16)
      .select(col("k").as("l_returnflag"),
        col("total").as("revenue"), col("n").as("n_items"))
      .orderBy("l_returnflag")

  val q58Sql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q82 — PIVOT: per-language document counts cross-tabbed by the
    * train/val/test split (the §2.5 wide-aggregation form rollup/cube/
    * grouping-sets don't cover). The pivot values are DECLARED
    * (`Seq("train","val","test")`) — never the two-pass value-discovery
    * overload, which at 100 TB adds a full distinct scan before the
    * real aggregate and makes the output schema data-dependent. Planned
    * as two stacked partial-agg'd aggregates (Catalyst lowers pivot to
    * a (lang, split) pre-aggregate — the corpus-sized reduction, map-
    * side combined — then the pivot aggregate over that groups×values-
    * bounded frame; see PLANS.md), equivalent in data movement to the
    * oracle's single `SUM(CASE ...)` pass since everything past the
    * first partial combine is group-grain. The split comes from the
    * shared [[graft.queries.splitAssign]] contract. Empty cells
    * coalesce to 0 on both engines.
    */
  val q82SplitPivot: Q = (s, d) =>
    documents(s, d)
      .withColumn("split", splitAssign(col("doc_id")))
      .groupBy("lang").pivot("split", Seq("train", "val", "test"))
      .agg(count(lit(1)))
      .select(col("lang"),
        coalesce(col("train"), lit(0L)).as("train"),
        coalesce(col("val"), lit(0L)).as("val"),
        coalesce(col("test"), lit(0L)).as("test"))
      .orderBy("lang")

  val q82Sql: String =
    s"""WITH s AS (
       |  SELECT lang, ${splitAssignSql("doc_id")} AS split FROM documents)
       |SELECT lang,
       |  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train,
       |  CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS val,
       |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS test
       |FROM s GROUP BY lang ORDER BY lang""".stripMargin

  /** q155 — RECORD-level entity resolution over the customer dimension:
    * the blocking-then-verify shape structured-record dedup uses (the
    * text tiers dedup DOCUMENTS; this deduplicates ENTITIES on typed
    * fields). Blocking key = (nation, name length, 6-digit name
    * prefix): candidate pairs exist only within a block — the classic
    * cardinality cut that turns the n² record matrix into bounded
    * per-block work (the q34/q42 blocking discipline on relational
    * fields) — then the VERIFY tier confirms candidates with full
    * Levenshtein ≤ 2 on the name (both engines' classic integer DP —
    * the q129 parity). One shuffle on the block key; per-task work is
    * the block's pair matrix, bounded by the key's construction.
    */
  val q155EntityResolution: Q = (s, d) => {
    val c = customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .withColumn("blk", concat_ws("|",
        col("c_nationkey"), length(col("c_name")),
        substring(col("c_name"), 10, 6)))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("id_a"), col("b.c_custkey").as("id_b"),
        levenshtein(col("a.c_name"), col("b.c_name")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("id_a", "id_b")
  }

  val q155Sql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_name,
      |    CAST(c_nationkey AS VARCHAR) || '|' ||
      |    CAST(length(c_name) AS VARCHAR) || '|' ||
      |    substr(c_name, 10, 6) AS blk
      |  FROM customer)
      |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      |FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** q157 — DATA-QUALITY constraint audit (the Deequ/expectations
    * shape): one report row per declared constraint with its violation
    * count and the checked row count — referential integrity via
    * ANTI-joins (never a row-returning join — violations are COUNTED),
    * domain ranges as predicate sums folded map-side, and key
    * uniqueness as `count − count(distinct)`. Every scan-expressible
    * check on a table folds in ONE aggregation pass over it (Spark
    * shares no scans across union branches, so the naive
    * one-union-arm-per-check plan re-reads each table per check);
    * each FK check adds exactly one anti-join pass. At 100 TB the
    * audit is one agg pass + one join pass per audited table, report
    * rows are constraint-grain — the gate an ingest pipeline
    * evaluates before publishing a snapshot.
    */
  val q157ConstraintAudit: Q = (s, d) => {
    val o = orders(s, d)
    val l = lineitem(s, d)
    val c = customer(s, d)
    def row(name: String, v: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column) =
      struct(lit(name).as("check_name"), v.cast("long").as("n_violations"),
        n.as("n_rows"))
    // ONE aggregation pass per table computes every scan-expressible
    // check on it at once (Spark does not share scans across union
    // branches — a per-check union would re-read orders five times);
    // the per-table struct array explodes to report rows afterwards.
    val ordersChecks = o.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("bad_price"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"))
      .select(explode(array(
        row("orders.o_totalprice>0", col("bad_price"), col("n")),
        row("orders.o_orderkey unique", col("dup_keys"), col("n")))).as("r"))
    val lineChecks = l.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
        .otherwise(0L)).as("bad_qty"))
      .select(explode(array(
        row("lineitem.l_quantity in [1,50]", col("bad_qty"), col("n")))).as("r"))
    val custChecks = c.agg(
      count(lit(1)).as("n"),
      sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("null_keys"))
      .select(explode(array(
        row("customer.c_custkey not null", col("null_keys"), col("n")))).as("r"))
    // referential integrity: ONE left join per FK yields the orphan
    // count AND the row count together (an anti-join + separate COUNT
    // pays a second child scan; the right side dedups so multiplicity
    // can never inflate the parent count) — violations are COUNTED,
    // never returned as rows
    def fkCheck(name: String, child: org.apache.spark.sql.DataFrame,
        key: String, parent: org.apache.spark.sql.DataFrame,
        parentKey: String) =
      child.join(
          parent.select(col(parentKey).as(key)).distinct()
            .withColumn("fk_hit", lit(1)),
          Seq(key), "left")
        .agg(sum(when(col("fk_hit").isNull, 1L).otherwise(0L)).as("v"),
          count(lit(1)).as("n"))
        .select(row(name, col("v"), col("n")).as("r"))
    val orphanOrders =
      fkCheck("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey")
    val orphanLines =
      fkCheck("lineitem.l_orderkey->orders", l, "l_orderkey", o, "o_orderkey")
    Seq(ordersChecks, lineChecks, custChecks, orphanOrders, orphanLines)
      .reduce(_ unionByName _)
      .select(col("r.check_name"), col("r.n_violations"), col("r.n_rows"))
      .orderBy("check_name")
  }

  val q157Sql: String =
    """SELECT * FROM (
      |  SELECT 'orders.o_custkey->customer' AS check_name,
      |    CAST((SELECT COUNT(*) FROM orders o
      |          WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                            WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      |      AS n_violations,
      |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey->orders',
      |    CAST((SELECT COUNT(*) FROM lineitem li
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = li.l_orderkey)) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
      |  UNION ALL
      |  SELECT 'orders.o_totalprice>0',
      |    CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity in [1,50]',
      |    CAST((SELECT COUNT(*) FROM lineitem
      |          WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
      |  UNION ALL
      |  SELECT 'orders.o_orderkey unique',
      |    CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      |  UNION ALL
      |  SELECT 'customer.c_custkey not null',
      |    CAST((SELECT COUNT(*) FROM customer WHERE c_custkey IS NULL) AS BIGINT),
      |    CAST((SELECT COUNT(*) FROM customer) AS BIGINT))
      |ORDER BY check_name""".stripMargin

  /** One q185 profile row for `(label, df[key])`: key-grain counts,
    * then the scalar skew diagnostics off that tiny frame. Two passes
    * over the KEY-grain frame (not the table): the argmax/max/sum
    * aggregate, then the hot-key count against the returned totals —
    * the key frame is |distinct keys| rows, the only table-grain work
    * is the first groupBy's map-side-combined count.
    */
  private def keyProfile(label: String, df: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame = {
    // The long cast must be lossless: a non-integral audited key would
    // silently cast to NULL and collapse every key into one bucket —
    // refuse loudly instead of profiling garbage.
    val dt = df.schema(key).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(dt),
      s"keyProfile($label): join key '$key' must be integral, got $dt")
    val cnts = df.select(col(key).cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("cnt")).as("max_key_rows"),
      max(struct(col("cnt"), col("k"))).as("top"))
    cnts.crossJoin(broadcast(tot))
      .groupBy("n_rows", "n_keys", "max_key_rows", "top")
      .agg(sum(when(col("cnt") * col("n_keys") > col("n_rows") * lit(HotKeyFactor),
        1L).otherwise(0L)).as("n_hot_keys"))
      .select(lit(label).as("join_key"),
        col("n_rows").cast("long").as("n_rows"),
        col("n_keys"), col("max_key_rows"),
        col("top.k").as("top_key"),
        expr("max_key_rows * 1000 * n_keys div n_rows").as("skew_x1000"),
        col("n_hot_keys"))
  }

  /** A key is "hot" when its row count exceeds `HotKeyFactor`× the mean
    * rows-per-key — compared in cross-multiplied integers
    * (`cnt·n_keys > n_rows·factor`), never a float division.
    */
  private val HotKeyFactor = 10L

  /** q185 — JOIN-KEY SKEW AUDIT: the profile an operator reads BEFORE
    * choosing a join strategy at 100 TB — per prospective join key:
    * row/key cardinalities, the heaviest key and its multiplicity, the
    * max/mean skew ratio (scaled integer, one deterministic floor), and
    * how many keys run ≥ 10× the mean. This is the measurement that
    * decides between a plain shuffle join, AQE skew splitting, and the
    * explicit salting q58 implements — the engine ships the diagnostic
    * alongside the remedies.
    *
    * Scale shape: per audited key ONE map-side-combined count shuffle
    * at key grain; everything downstream runs on the |keys|-row frame
    * (the q63 bounded-vocab discipline) with a 1-row broadcast for the
    * totals. `skew_x1000 = max·1000·n_keys div n_rows` stays inside
    * BIGINT while max·n_keys·1000 < 2⁶³ — beyond that (≫ any real
    * key-grain frame) production widens to DECIMAL one cast deep.
    */
  val q185SkewAudit: Q = (s, d) =>
    Seq(
      keyProfile("events.user_id", graft.core.Tables.events(s, d), "user_id"),
      keyProfile("lineitem.l_suppkey", lineitem(s, d), "l_suppkey"),
      keyProfile("orders.o_custkey", orders(s, d), "o_custkey"))
      .reduce(_ unionByName _)
      .orderBy("join_key")

  val q185Sql: String = {
    def profile(label: String, table: String, key: String): String =
      s"""SELECT '$label' AS join_key,
         |  CAST(t.n_rows AS BIGINT) AS n_rows, t.n_keys, t.max_key_rows,
         |  t.top_key,
         |  (t.max_key_rows * 1000 * t.n_keys) // t.n_rows AS skew_x1000,
         |  CAST((SELECT COUNT(*) FROM
         |          (SELECT COUNT(*) AS cnt FROM $table GROUP BY $key) h
         |        WHERE h.cnt * t.n_keys > t.n_rows * $HotKeyFactor) AS BIGINT)
         |    AS n_hot_keys
         |FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |        CAST(COUNT(*) AS BIGINT) AS n_keys,
         |        MAX(cnt) AS max_key_rows,
         |        (SELECT k FROM (SELECT $key AS k, COUNT(*) AS cnt
         |                        FROM $table GROUP BY 1) x
         |         ORDER BY cnt DESC, k DESC LIMIT 1) AS top_key
         |      FROM (SELECT COUNT(*) AS cnt FROM $table GROUP BY $key) c) t""".stripMargin
    s"""SELECT * FROM (
       |${profile("events.user_id", "events", "user_id")}
       |UNION ALL
       |${profile("lineitem.l_suppkey", "lineitem", "l_suppkey")}
       |UNION ALL
       |${profile("orders.o_custkey", "orders", "o_custkey")})
       |ORDER BY join_key""".stripMargin
  }

  /** q186 — RUNTIME-FILTER JOIN PRUNE: the bloom-filter semi-join
    * reduction every 100 TB star join leans on — the dim side's key
    * set compiles to a ≤ 256-row bitset ([[CorpusStatsQueries]]'s
    * q173 geometry, shared verbatim) that is broadcast to the FACT
    * scan and prunes non-joining rows BEFORE the shuffle; the exact
    * join then runs over candidates only. No false negatives ever
    * (the bloom contract — every truly-joining row survives the
    * prune), false positives are the measured cost; the report row
    * carries fact/candidate/matched/false-positive counts, the
    * matched revenue (DECIMAL-exact), and the sketch's set-bit count
    * as whole-filter evidence. Spark's own AQE runtime filters do
    * this opaquely; here the mechanism is explicit and hash-gated —
    * DuckDB replays the md5 bitset bit-for-bit, so a drifted hash
    * family, a lost word, or a false negative all flip the gate.
    *
    * Scale shape: the FACT TABLE IS NEVER SHUFFLED — where q173's
    * membership report explodes probes and re-groups at probe grain,
    * here each of the [[CorpusStatsQueries.BloomHashes]] bit tests is a
    * flat column fed by its own broadcast join against the ≤ 256-row
    * word frame ([[CorpusStatsQueries.bloomPos]], the single-sourced
    * hash family), the verdict is `least(hit_i)`, the exact confirm
    * broadcasts the bounded dim-key set, and the report is one global
    * aggregate (map-side partials → 1 row). The dim side filters via a
    * broadcast nation lookup and its sketch build shuffles ≤ 256
    * `bit_or` groups — the only hash exchanges in the plan are
    * dim-grain. That is the runtime-filter contract at 100 TB: prune
    * happens at the scan, nothing fact-sized crosses an exchange.
    */
  val q186BloomJoinPrune: Q = (s, d) => {
    val dimKeys = customer(s, d)
      .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_7")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("k"))
    val dimFps = dimKeys
      .select(md5(concat(lit("cust:"), col("k").cast("string"))).as("fp"))
    val sketch = CorpusStatsQueries.bloomSketch(dimFps)
    val bpw = CorpusStatsQueries.BloomBitsPerWord
    val probes = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"),
      md5(concat(lit("cust:"), col("o_custkey").cast("string"))).as("fp"))
    val withHits = (0 until CorpusStatsQueries.BloomHashes)
      .foldLeft(probes) { (df, i) =>
        df.withColumn(s"pos_$i",
            CorpusStatsQueries.bloomPos(lit(i), col("fp")))
          .withColumn(s"word_$i", expr(s"pos_$i div $bpw"))
          .withColumn(s"mask_$i", expr(
            s"shiftleft(cast(1 as bigint), cast(pos_$i % $bpw as int))"))
          .join(broadcast(sketch.select(col("word").as(s"word_$i"),
            col("w").as(s"w_$i"))), Seq(s"word_$i"), "left")
          .withColumn(s"hit_$i",
            when(coalesce(col(s"w_$i"), lit(0L))
              .bitwiseAND(col(s"mask_$i")) =!= 0, 1L).otherwise(0L))
      }
    val verdicts = withHits
      .withColumn("maybe", least(
        (0 until CorpusStatsQueries.BloomHashes).map(i => col(s"hit_$i")): _*))
      .join(broadcast(dimKeys.distinct().withColumn("m", lit(1L))),
        col("o_custkey") === col("k"), "left")
    verdicts.agg(
        count(lit(1)).as("n_fact"),
        sum(col("maybe")).cast("long").as("n_candidates"),
        sum(coalesce(col("m"), lit(0L))).cast("long").as("n_matched"),
        sum(when(col("maybe") === 1L && col("m").isNull, 1L).otherwise(0L))
          .as("n_false_positives"),
        sum(when(col("m") === 1L, money(col("o_totalprice")))
          .otherwise(money(lit(0)))).cast("double").as("matched_revenue"))
      .crossJoin(sketch.agg(
        sum(expr("bit_count(w)")).cast("long").as("n_set_bits")))
  }

  val q186Sql: String = {
    val m = CorpusStatsQueries.BloomWords * CorpusStatsQueries.BloomBitsPerWord
    val bpw = CorpusStatsQueries.BloomBitsPerWord
    s"""WITH dim AS (SELECT c_custkey AS k FROM customer c
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  WHERE n.n_name = 'NATION_7'),
       |dfp AS (SELECT DISTINCT md5('cust:' || CAST(k AS VARCHAR)) AS fp
       |  FROM dim),
       |hh AS (SELECT unnest(range(${CorpusStatsQueries.BloomHashes})) AS i),
       |bb AS (SELECT
       |   ('0x' || substr(md5(CAST(i AS VARCHAR) || ':bloom:' || fp), 1, 15))::BIGINT
       |     % $m AS pos
       |  FROM dfp CROSS JOIN hh),
       |sk AS (SELECT pos // $bpw AS word,
       |    bit_or(1::BIGINT << CAST(pos % $bpw AS INTEGER)) AS w
       |  FROM bb GROUP BY 1),
       |probe AS (SELECT o_orderkey, o_custkey, o_totalprice,
       |    md5('cust:' || CAST(o_custkey AS VARCHAR)) AS fp
       |  FROM orders),
       |hits AS (SELECT p.o_orderkey, p.o_custkey, p.o_totalprice,
       |   CASE WHEN (COALESCE(s.w, 0) &
       |     (1::BIGINT << CAST((('0x' || substr(md5(CAST(hh.i AS VARCHAR)
       |        || ':bloom:' || p.fp), 1, 15))::BIGINT % $m) % $bpw AS INTEGER)))
       |     <> 0 THEN 1 ELSE 0 END AS hit
       |  FROM probe p CROSS JOIN hh
       |  LEFT JOIN sk s ON s.word =
       |    (('0x' || substr(md5(CAST(hh.i AS VARCHAR) || ':bloom:' || p.fp),
       |      1, 15))::BIGINT % $m) // $bpw),
       |ver AS (SELECT o_orderkey, o_custkey, o_totalprice,
       |    MIN(hit) AS maybe,
       |    CASE WHEN o_custkey IN (SELECT k FROM dim) THEN 1 ELSE 0 END AS mm
       |  FROM hits GROUP BY 1, 2, 3),
       |bits AS (SELECT CAST(SUM(bit_count(w)) AS BIGINT) AS n_set_bits FROM sk)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
       |  CAST(SUM(maybe) AS BIGINT) AS n_candidates,
       |  CAST(SUM(mm) AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN maybe = 1 AND mm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_false_positives,
       |  CAST(SUM(CASE WHEN mm = 1 THEN CAST(o_totalprice AS DECIMAL(18,2))
       |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS matched_revenue,
       |  n_set_bits
       |FROM ver CROSS JOIN bits GROUP BY n_set_bits""".stripMargin
  }

  /** q189 — INCREMENTAL AGGREGATE-VIEW MAINTENANCE: the materialized
    * per-customer order summary kept fresh the LSM way — the view
    * stores additive PARTIALS (count + DECIMAL-exact cents), the ingest
    * delta aggregates O(delta) and APPENDS its own partials through the
    * generic schema-checked store fold (nothing base-side is read or
    * rewritten — classic IVM for distributive aggregates: the delta's
    * group partials are the complete maintenance update), and serving
    * merges the ≤ generations-per-key partial rows. Because the store
    * is BUCKETED on the view key, base and delta partials for a key
    * are co-located and the serve-time merge needs NO exchange (the
    * bucket layout satisfies the final aggregation's clustering —
    * PlanSpec pins it). Compaction back to one row per key is the
    * store family's existing generation-dir machinery. Oracle: the
    * direct single-pass aggregate over ALL orders — fold ≡
    * from-scratch, the q126/q163 lifecycle contract on an AGGREGATE
    * view rather than an index.
    */
  val q189IncrementalAggView: Q = (s, d) => {
    val t = RunStore.tableName("graft_aggview", d)
    RunStore.dropWithLocation(s, t)
    val o = orders(s, d)
    val isBase = col("o_orderkey") % 10 =!= 0
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("rev_cents"))
    graft.core.Tables.writeBucketed(partials(o.filter(isBase)), t, 8,
      "o_custkey")
    DedupTextQueries.foldAdmittedVia(partials)(s, t, o.filter(!isBase))
    s.table(t).groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev_cents")).as("rev_cents"))
      .orderBy("o_custkey")
  }

  val q189Sql: String =
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS rev_cents
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q206 — STORE SCHEMA EVOLUTION (widen-on-fold): q189's aggregate
    * view, but the ingest delta arrives WIDER than the store — its
    * partials carry a new `max_price_cents` column the base build never
    * computed. The fold goes through
    * [[DedupTextQueries.foldWidenedVia]]: the catalog schema gains the
    * nullable column, the delta appends under the unchanged bucket
    * spec, and base rows read back NULL-padded — no base file is
    * rewritten, the fold stays O(delta) exactly as before the widen.
    * Serving aggregates across the schema seam: SUMs span both
    * generations, MAX sees only delta partials (NULL elsewhere) — which
    * is precisely the oracle's `MAX(CASE WHEN delta THEN … END)` over
    * the raw table. The bucket layout still satisfies the serve
    * aggregation's clustering, so widening costs the plan nothing.
    */
  val q206StoreWidenFold: Q = (s, d) => {
    val t = RunStore.tableName("graft_aggvieww", d)
    RunStore.dropWithLocation(s, t)
    val o = orders(s, d)
    val isBase = col("o_orderkey") % 10 =!= 0
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("rev_cents"))
    def widePartials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("rev_cents"),
          max((money(col("o_totalprice")) * 100).cast("long"))
            .as("max_price_cents"))
    graft.core.Tables.writeBucketed(partials(o.filter(isBase)), t, 8,
      "o_custkey")
    DedupTextQueries.foldWidenedVia(widePartials)(s, t, o.filter(!isBase))
    s.table(t).groupBy("o_custkey")
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("rev_cents")).as("rev_cents"),
        max(col("max_price_cents")).as("max_price_cents"))
      .orderBy("o_custkey")
  }

  val q206Sql: String =
    """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS rev_cents,
      |  MAX(CASE WHEN o_orderkey % 10 = 0 THEN
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) END)
      |    AS max_price_cents
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q207 — TIME-TRAVEL READ (as-of-generation diff): q172's snapshot
    * diff computed between REAL retained generations of a REAL store,
    * not frames the query derives for itself. The run: build the base
    * aggregate view → compact (the swap demotes generation 0, which
    * [[RunStore.sweepGraceMs]] retains on disk) → fold the ingest
    * delta onto the CURRENT generation. `asOfGeneration(t, 1)` then
    * reads the pre-fold snapshot from the demoted dir and the diff
    * classifies every key as insert/update/same — the audit query an
    * open table format answers with snapshot isolation, answered here
    * by the store family's existing retention machinery. Oracle
    * recomputes both snapshots from the raw table. At 100 TB the
    * as-of read costs one extra scan of the OLD generation (plain
    * parquet, no bucket metadata — an audit path, not a serving
    * path); retention already paid the storage as the crash/straggler
    * contract.
    */
  val q207TimeTravelDiff: Q = (s, d) => {
    val t = RunStore.tableName("graft_aggviewtt", d)
    RunStore.dropWithLocation(s, t)
    val o = orders(s, d)
    val isBase = col("o_orderkey") % 10 =!= 0
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("rev_cents"))
    graft.core.Tables.writeBucketed(partials(o.filter(isBase)), t, 8,
      "o_custkey")
    DedupTextQueries.compactStore(s, t)
    DedupTextQueries.foldAdmittedVia(partials)(s, t, o.filter(!isBase))
    def view(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_custkey")
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("rev_cents")).as("rev_cents"))
    val prev = view(RunStore.asOfGeneration(s, t, back = 1))
      .select(col("o_custkey"),
        col("n_orders").as("n_orders_prev"),
        col("rev_cents").as("rev_cents_prev"))
    view(RunStore.asOfGeneration(s, t, back = 0))
      .join(prev, Seq("o_custkey"), "left")
      .select(col("o_custkey"),
        when(col("n_orders_prev").isNull, "insert")
          .when(col("n_orders") =!= col("n_orders_prev") ||
            col("rev_cents") =!= col("rev_cents_prev"), "update")
          .otherwise("same").as("kind"),
        col("n_orders_prev"), col("n_orders").as("n_orders_cur"),
        col("rev_cents_prev"), col("rev_cents").as("rev_cents_cur"))
      .orderBy("o_custkey")
  }

  /** q249 — RETENTION VACUUM over the time-travel store (q207's
    * history, bounded): three generations are built (base compaction,
    * fold, compaction, fold — current = everything, history = two
    * snapshots), then [[RunStore.vacuumRetain]] prunes history to ONE
    * retained snapshot — the VACUUM every as-of-capable lake runs,
    * because time travel is a retention contract and the history tail
    * is where 100 TB of storage goes to die. The gate holds all four
    * contract edges at once: the LIVE view is untouched (count +
    * fingerprint vs the oracle's recomputation from `orders`), the
    * RETAINED snapshot still reads and is byte-identical to its
    * pre-vacuum self (`prev_stable`), exactly one generation was
    * pruned and its directory is physically gone (`n_pruned`,
    * `pruned_gone`), and a read past the new horizon REFUSES loudly
    * (`pruned_refused`) — never silently serves the wrong snapshot.
    * The vacuum call itself runs under the sweep guards (lease +
    * age gate); the age gate is relaxed for the freshly-built fixture
    * via vacuumRetain's PER-CALL graceMs override — the process-global
    * sweepGraceMs is never mutated, so concurrent stores keep their
    * cross-process-reader protection.
    *
    * Scale shape: vacuum is a driver-side metadata walk (|generations|
    * entries) + directory deletes; no data pass anywhere. The
    * content gates are one partial-agg read of the live store and one
    * of the retained snapshot.
    */
  val q249RetentionVacuum: Q = (s, d) => {
    val t = RunStore.tableName("graft_aggviewvac", d)
    RunStore.dropWithLocation(s, t)
    val o = orders(s, d)
    val m10 = col("o_orderkey") % 10
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("rev_cents"))
    graft.core.Tables.writeBucketed(partials(o.filter(m10 >= 2)), t, 8,
      "o_custkey")
    DedupTextQueries.compactStore(s, t)
    DedupTextQueries.foldAdmittedVia(partials)(s, t, o.filter(m10 === 1))
    DedupTextQueries.compactStore(s, t)
    DedupTextQueries.foldAdmittedVia(partials)(s, t, o.filter(m10 === 0))
    def view(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_custkey")
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("rev_cents")).as("rev_cents"))
    def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = view(df).agg(count(lit(1)),
        sum(conv(substring(md5(concat_ws(":",
            col("o_custkey").cast("string"),
            col("n_orders").cast("string"),
            col("rev_cents").cast("string"))), 1, 10), 16, 10)
          .cast("long"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val prevBefore = fingerprint(RunStore.asOfGeneration(s, t, back = 1))
    // Per-call grace override — the process-global sweepGraceMs stays
    // untouched, so every OTHER store's cross-process-reader age gate
    // holds while this query's freshly-built fixture is vacuumed.
    val deleted = RunStore.vacuumRetain(s, t, keepHistory = 1, graceMs = 0L)
    val prevAfter = fingerprint(RunStore.asOfGeneration(s, t, back = 1))
    val refused =
      try {
        RunStore.asOfGeneration(s, t, back = 2).count(); false
      } catch { case _: IllegalArgumentException => true }
    val fs = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val (nKeys, liveFp) = fingerprint(s.table(t))
    import s.implicits._
    Seq((nKeys, liveFp, prevBefore == prevAfter, deleted.size.toLong,
        deleted.nonEmpty && deleted.forall(p => !fs.exists(p)), refused))
      .toDF("n_keys", "live_fp", "prev_stable", "n_pruned",
        "pruned_gone", "pruned_refused")
  }

  val q249Sql: String =
    """WITH v AS (
      | SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS rev_cents
      | FROM orders GROUP BY o_custkey)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' ||
      |    CAST(n_orders AS VARCHAR) || ':' ||
      |    CAST(rev_cents AS VARCHAR)), 1, 10))::BIGINT) AS BIGINT)
      |    AS live_fp,
      |  TRUE AS prev_stable, CAST(1 AS BIGINT) AS n_pruned,
      |  TRUE AS pruned_gone, TRUE AS pruned_refused
      |FROM v""".stripMargin

  /** q225 — CATALOG STATISTICS / CBO surface (`ANALYZE TABLE` +
    * `spark.sql.cbo.enabled`): at 100 TB, join order and broadcast
    * decisions are made from CATALOG statistics, not file sizes — a
    * surface that was entirely ungated until this row. The documents
    * projection is written as a bucketed catalog table, `ANALYZE TABLE
    * … COMPUTE STATISTICS` (table-level) and `… FOR COLUMNS doc_id,
    * lang, n_chars` (column-level) run against it, and the report
    * reads the numbers BACK FROM THE CATALOG — row count, per-column
    * min/max/null counts, the language NDV — against DuckDB's exact
    * recomputation from parquet. `plan_row_count` is the sharpest leg:
    * with CBO enabled it is the row count the OPTIMIZER sees
    * (`optimizedPlan.stats.rowCount`), i.e. the gate pins that
    * statistics actually reach plan costing, not merely the catalog.
    *
    * NDV honesty: ANALYZE computes distinct counts with HLL++, exact
    * below the sparse-mode threshold — gated for `lang` (|langs| ≈ 10,
    * exact at every SF) and deliberately NOT for doc_id, whose
    * million-scale NDV is approximate by design (the 2% error is the
    * documented contract, not a bug to gate against). The join-order /
    * broadcast decision that stats FLIP is plan-shape, not data, so it
    * lives in CboPlanSpec rather than this hash gate.
    */
  val q225CboStats: Q = (s, d) => {
    val t = RunStore.tableName("graft_stats_docs", d)
    RunStore.dropWithLocation(s, t)
    graft.core.Tables.writeBucketed(
      documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
      t, 8, "doc_id")
    s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
    s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS " +
      "doc_id, lang, n_chars")
    val meta = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(t))
    val stats = meta.stats.getOrElse(
      sys.error(s"$t: ANALYZE left no table stats"))
    def colStat(c: String) = stats.colStats.getOrElse(c,
      sys.error(s"$t: ANALYZE left no column stats for $c"))
    def longOf(v: Option[Any]): Long = v match {
      case Some(x: Long) => x
      case Some(x) => x.toString.toLong
      case None => sys.error("missing stat value")
    }
    val planRowCount = graft.queries.StreamingQueries.withSessionConfs(s,
      "spark.sql.cbo.enabled" -> "true") {
      s.table(t).queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(sys.error("CBO produced no rowCount estimate"))
        .toLong
    }
    import s.implicits._
    Seq((
      longOf(stats.rowCount.map(_.toLong)),
      planRowCount,
      longOf(colStat("lang").distinctCount.map(_.toLong)),
      longOf(colStat("doc_id").min), longOf(colStat("doc_id").max),
      longOf(colStat("doc_id").nullCount.map(_.toLong)),
      longOf(colStat("n_chars").min), longOf(colStat("n_chars").max)))
      .toDF("row_count", "plan_row_count", "lang_ndv", "doc_id_min",
        "doc_id_max", "doc_id_nulls", "nchars_min", "nchars_max")
  }

  val q225Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
      |  CAST(COUNT(*) AS BIGINT) AS plan_row_count,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_ndv,
      |  CAST(MIN(doc_id) AS BIGINT) AS doc_id_min,
      |  CAST(MAX(doc_id) AS BIGINT) AS doc_id_max,
      |  CAST(0 AS BIGINT) AS doc_id_nulls,
      |  CAST(MIN(n_chars) AS BIGINT) AS nchars_min,
      |  CAST(MAX(n_chars) AS BIGINT) AS nchars_max
      |FROM documents""".stripMargin

  /** q276 — COST-BASED JOIN REORDERING (`spark.sql.cbo.joinReorder`,
    * q225's stats finally DRIVING a plan decision end-to-end): a
    * 4-way star written in the WORST textual order — the fact table
    * first — over ANALYZE'd catalog tables, with a highly selective
    * filter on the customer dim. Without reorder Catalyst keeps the
    * parse order (fact joins first, every downstream join carries
    * fact-grain rows); with `cbo.enabled` + `cbo.joinReorder.enabled`
    * CostBasedJoinReorder re-plans from the COLUMN statistics:
    * filtered customer ⋈ nation first (15-row intermediate), orders
    * next, the fact table LAST — measured, and pinned in CboPlanSpec
    * (leaf order flips; the gate carries `fact_joined_last` from the
    * optimized plan so a driver run proves the reorder engaged, not
    * just that the answer held). The result rides the collect inside
    * the conf scope — Spark optimizes lazily at action time, so a
    * returned-then-executed frame would plan under RESTORED confs.
    *
    * Scale shape: THE join-order decision at 100 TB — cost ordering
    * turns fact-grain intermediates into dim-grain ones; the stats
    * that power it are q225's ANALYZE surface, maintained at ingest.
    */
  val q276CboJoinReorder: Q = (s, d) => {
    def t(x: String) = RunStore.tableName(s"graft_cbojr_$x", d)
    def put(x: String, df: org.apache.spark.sql.DataFrame,
        cols: String): Unit = {
      RunStore.dropWithLocation(s, t(x))
      df.write.mode("overwrite").format("parquet").saveAsTable(t(x))
      s.sql(s"ANALYZE TABLE ${t(x)} COMPUTE STATISTICS")
      s.sql(s"ANALYZE TABLE ${t(x)} COMPUTE STATISTICS FOR COLUMNS $cols")
    }
    put("li", lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey")
    put("or", orders(s, d).select("o_orderkey", "o_custkey"),
      "o_orderkey, o_custkey")
    put("cu", customer(s, d).select("c_custkey", "c_nationkey"),
      "c_custkey, c_nationkey")
    put("na", nation(s, d).select("n_nationkey", "n_name"),
      "n_nationkey, n_name")
    val text =
      s"""SELECT n_name,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
         |    AS DOUBLE) AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM ${t("li")}, ${t("or")}, ${t("cu")}, ${t("na")}
         |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
         |  AND c_nationkey = n_nationkey AND c_custkey < 15
         |GROUP BY n_name ORDER BY n_name""".stripMargin
    val rows = graft.queries.StreamingQueries.withSessionConfs(s,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val df = s.sql(text)
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.toString)
      val factLast = leaves.nonEmpty && leaves.last.contains(t("li"))
      df.collect().map(r =>
        (r.getString(0), r.getDouble(1), r.getLong(2), factLast)).toSeq
    }
    import s.implicits._
    rows.toDF("n_name", "revenue", "n_items", "fact_joined_last")
      .orderBy("n_name")
  }

  val q276Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
      |    AS DOUBLE) AS revenue,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  TRUE AS fact_joined_last
      |FROM lineitem, orders, customer, nation
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_nationkey = n_nationkey AND c_custkey < 15
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q216 — MULTISET set ops (`INTERSECT ALL` / `EXCEPT ALL`): the bag
    * semantics q11/q12's set forms deliberately erase — per duplicate
    * key, INTERSECT ALL keeps min(multiplicity) rows and EXCEPT ALL
    * keeps the multiplicity DIFFERENCE, which is what reconciliation
    * workloads actually need (set forms answer "which keys", bag forms
    * answer "how many rows went missing"). Inputs are the dup-heavy
    * lineitem partkeys split by return flag; the output is the raw
    * multiset (keys repeated), so the gate pins the exact per-key
    * multiplicities, not a collapsed count. Spark plans both as
    * aggregate-count + generate (replicate-by-count) — two hash-agg
    * shuffles, no join blowup, the same cost class as the set forms at
    * 100 TB.
    */
  val q216SetopsAll: Q = (s, d) => {
    def side(flag: String) = lineitem(s, d)
      .filter(col("l_returnflag") === flag)
      .select(col("l_partkey").as("partkey"))
    def leg(name: String, df: org.apache.spark.sql.DataFrame) =
      df.select(lit(name).as("leg"), col("partkey"))
    leg("except_all", side("R").exceptAll(side("A")))
      .unionByName(leg("intersect_all", side("R").intersectAll(side("A"))))
      .orderBy("leg", "partkey")
  }

  val q216Sql: String =
    """WITH r AS (SELECT l_partkey AS partkey FROM lineitem
      |           WHERE l_returnflag = 'R'),
      |a AS (SELECT l_partkey AS partkey FROM lineitem
      |      WHERE l_returnflag = 'A')
      |SELECT 'except_all' AS leg, partkey
      |FROM (SELECT partkey FROM r EXCEPT ALL SELECT partkey FROM a)
      |UNION ALL
      |SELECT 'intersect_all', partkey
      |FROM (SELECT partkey FROM r INTERSECT ALL SELECT partkey FROM a)
      |ORDER BY leg, partkey""".stripMargin

  /** q210 — LATERAL JOIN with a correlated per-row LIMIT (top-N per
    * key as the OPTIMIZER sees it): each customer's 2 most recent
    * orders via `Dataset.lateralJoin` — the SQL:2016 LATERAL form of
    * q03's window ranking. The decorrelation matters more than the
    * sugar: Catalyst rewrites the correlated limit into row_number
    * with `WindowGroupLimit` pushed MAP-SIDE (each task keeps ≤ 2 rows
    * per key before the exchange — pinned in SubquerySpec), so the
    * lateral form costs the same as the hand-written window at 100 TB
    * instead of a per-customer probe. Oracle: DuckDB's own LATERAL.
    */
  val q210LateralTopk: Q = (s, d) => {
    val recent = orders(s, d)
      .filter(col("o_custkey") === col("c_custkey").outer())
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
      .limit(2)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    customer(s, d).select(col("c_custkey"))
      .lateralJoin(recent)
      .select(col("c_custkey"), col("o_orderkey"),
        (money(col("o_totalprice")) * 100).cast("long").as("price_cents"),
        // parquet reads the date TIMESTAMP_NTZ; session tz is UTC so
        // the cast is instant-preserving and matches epoch_ms
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"))
      .orderBy("c_custkey", "o_orderkey")
  }

  val q210Sql: String =
    """SELECT c_custkey, t.o_orderkey,
      |  CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS price_cents,
      |  epoch_ms(t.o_orderdate) AS o_date_ms
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_orderdate DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, t.o_orderkey""".stripMargin

  /** q213 — UNPIVOT/MELT (wide → long): the inverse of q82's pivot,
    * via the native `Dataset.unpivot` — four lineitem measure columns
    * melted to `(measure, value)` rows and profiled per measure in
    * exact decimal. Unpivot is a pure map-side `expand` (each input
    * row emits one row per measure, no exchange until the 4-group
    * aggregate) — the reshape a feature pipeline runs before
    * long-format stats, free at any scale. Oracle: the equivalent
    * per-measure UNION ALL.
    */
  val q213UnpivotMeasures: Q = (s, d) => {
    lineitem(s, d)
      .unpivot(
        Array(col("l_orderkey")),
        Array(money(col("l_quantity")).as("l_quantity"),
          money(col("l_extendedprice")).as("l_extendedprice"),
          money(col("l_discount")).as("l_discount"),
          money(col("l_tax")).as("l_tax")),
        "measure", "value")
      .groupBy("measure")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value")).cast("double").as("sum_value"),
        min(col("value")).cast("double").as("min_value"),
        max(col("value")).cast("double").as("max_value"))
      .orderBy("measure")
  }

  val q213Sql: String = {
    def leg(c: String) =
      s"""SELECT '$c' AS measure, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  CAST(MIN(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
         |  CAST(MAX(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS max_value
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(leg).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        ")\nORDER BY measure")
  }

  val q207Sql: String =
    """WITH base AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n0,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS c0
      |  FROM orders WHERE o_orderkey % 10 <> 0 GROUP BY o_custkey),
      |cur AS (
      |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n1,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS c1
      |  FROM orders GROUP BY o_custkey)
      |SELECT cur.o_custkey,
      |  CASE WHEN base.o_custkey IS NULL THEN 'insert'
      |       WHEN n1 <> n0 OR c1 <> c0 THEN 'update'
      |       ELSE 'same' END AS kind,
      |  base.n0 AS n_orders_prev, cur.n1 AS n_orders_cur,
      |  base.c0 AS rev_cents_prev, cur.c1 AS rev_cents_cur
      |FROM cur LEFT JOIN base ON cur.o_custkey = base.o_custkey
      |ORDER BY cur.o_custkey""".stripMargin

  // ─── Correlated-subquery pack (q202–q205) ────────────────────────
  // The one Catalyst surface previously without gate coverage:
  // subquery decorrelation. All four queries use Spark 4's native
  // DataFrame subquery API (`Dataset.exists()`, `Dataset.scalar()`,
  // `Column.isin(Dataset)`, `Column.outer()` for outer references) —
  // the declarative form SURVEY.md §2.6/§2.7 marks "free". PlanSpec
  // pins that Catalyst decorrelates each into joins: no per-row
  // subquery execution survives in the physical plan, so the shapes
  // cost exactly their equivalent join at 100 TB.

  /** q202 — CORRELATED EXISTS (TPC-H Q4 shape): orders counted by
    * priority when at least one lineitem shipped more than 60 days
    * after the order date. The subquery correlates on BOTH the key
    * (`l_orderkey = outer(o_orderkey)`) and a non-equi comparison
    * against the outer row's date — exactly what
    * RewritePredicateSubquery must fold into ONE left-semi join (key
    * equality as join key, date comparison as residual condition).
    * At 100 TB: a single semi-join shuffle on orderkey, the same cost
    * as q05 — EXISTS adds nothing once decorrelated, which is the
    * point the plan pin proves.
    */
  val q202ExistsCorrelated: Q = (s, d) => {
    val late = lineitem(s, d).filter(
      col("l_orderkey") === col("o_orderkey").outer() &&
        col("l_shipdate") >
          col("o_orderdate").outer() + expr("INTERVAL 60 DAYS"))
    orders(s, d).filter(late.exists())
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val q202Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q203 — CORRELATED SCALAR SUBQUERIES (TPC-H Q17 shape): lineitems
    * whose quantity sits below 1/5 of their part's mean quantity,
    * revenue rolled up per brand. The mean is expressed as TWO
    * correlated scalar subqueries (per-part count and per-part
    * quantity sum) so the comparison stays in exact integer
    * arithmetic on both engines (`qty·5·cnt < sum` ⇔ `qty < sum/5cnt`;
    * l_quantity is integral-valued): no float division, no decimal
    * AVG scale mismatch. RewriteCorrelatedScalarSubquery folds each
    * into a partkey-grouped aggregate joined back — at 100 TB that is
    * one map-side-combined aggregate at part grain plus one join on
    * partkey, NOT a per-row table scan.
    */
  val q203ScalarSubquery: Q = (s, d) => {
    // The OUTER key is renamed to a name the inner scope cannot have:
    // `.outer()` resolves lazily and an inner column of the same name
    // shadows the outer one — even through a projection (filter
    // resolution resurrects dropped child columns), so a same-named
    // correlation silently collapses to `pk = pk` ⇒ true and the
    // "per-part" scalars become whole-table constants. Caught by the
    // oracle gate when this query was first written.
    // `.select(agg)` not `.agg(agg)`: groupBy().agg analyzes eagerly
    // and rejects the not-yet-bindable outer reference; the global
    // aggregate via select defers until the subquery is embedded.
    def perPart(a: org.apache.spark.sql.Column) = lineitem(s, d)
      .filter(col("l_partkey") === col("pk1").outer())
      .select(a).scalar()
    val cnt = perPart(count(lit(1)))
    val tot = perPart(sum(col("l_quantity").cast("long")))
    lineitem(s, d).withColumnRenamed("l_partkey", "pk1")
      .join(broadcast(part(s, d)), col("pk1") === col("p_partkey"))
      .filter(col("l_quantity").cast("long") * 5 * cnt < tot)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small"),
        sum(money(col("l_extendedprice"))).cast("double")
          .as("small_revenue"))
      .orderBy("p_brand")
  }

  val q203Sql: String =
    """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_small,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |   AS small_revenue
      |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
      |WHERE CAST(l_quantity AS BIGINT) * 5 *
      |   (SELECT COUNT(*) FROM lineitem l2
      |    WHERE l2.l_partkey = l1.l_partkey)
      |  < (SELECT SUM(CAST(l_quantity AS BIGINT)) FROM lineitem l2
      |     WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q204 — EXISTS ∧ NOT EXISTS (TPC-H Q21/Q22 shape): orders with at
    * least one returned lineitem but NO lineitem shipped more than 90
    * days late — the double-anti pattern warehouse queries use for
    * "flagged but never escalated" cohorts. Catalyst decorrelates the
    * pair into one left-semi PLUS one left-anti join on the same
    * orderkey; under AQE both sides share the orders shuffle. The
    * anti join carries the non-equi date residual, covering the
    * harder decorrelation branch (NOT EXISTS with a correlated
    * inequality), which q06's plain anti join never exercised.
    */
  val q204DoubleAntiExists: Q = (s, d) => {
    val returned = lineitem(s, d).filter(
      col("l_orderkey") === col("o_orderkey").outer() &&
        col("l_returnflag") === "R")
    val late = lineitem(s, d).filter(
      col("l_orderkey") === col("o_orderkey").outer() &&
        col("l_shipdate") >
          col("o_orderdate").outer() + expr("INTERVAL 90 DAYS"))
    orders(s, d).filter(returned.exists() && !late.exists())
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val q204Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_returnflag = 'R')
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
      |                  WHERE l2.l_orderkey = o.o_orderkey
      |                    AND l2.l_shipdate >
      |                        o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q205 — NOT IN WITH A NULLABLE RHS: the SQL null-semantics trap.
    * `x NOT IN (subquery)` is three-valued: one NULL in the subquery
    * makes every non-matching row UNKNOWN (filtered), so the
    * with-nulls leg legitimately returns 0 parts while the
    * null-stripped leg returns the true anti-join count. Both legs
    * run through `Column.isin(Dataset)` negated — Spark plans the
    * nullable leg as a null-aware anti join (broadcast, since
    * correctness there cannot be expressed as a plain hash anti
    * join), the stripped leg as an ordinary anti join. The engine
    * must reproduce BOTH counts — an engine that "fixes" the nulls
    * silently is wrong, and this row pins that we don't.
    */
  val q205NotInNullable: Q = (s, d) => {
    def rhs = lineitem(s, d).filter(col("l_returnflag") === "R")
      .select(when(col("l_quantity") <= 49, col("l_partkey")).as("cand"))
    def leg(name: String, sub: org.apache.spark.sql.DataFrame) =
      part(s, d).filter(!col("p_partkey").isin(sub))
        .agg(count(lit(1)).as("n_parts"))
        .select(lit(name).as("leg"), col("n_parts"))
    leg("rhs_with_nulls", rhs)
      .unionByName(leg("rhs_without_nulls",
        rhs.filter(col("cand").isNotNull)))
      .orderBy("leg")
  }

  val q205Sql: String =
    """WITH rhs AS (
      | SELECT CASE WHEN l_quantity <= 49 THEN l_partkey END AS cand
      | FROM lineitem WHERE l_returnflag = 'R')
      |SELECT 'rhs_with_nulls' AS leg, CAST(COUNT(*) AS BIGINT) AS n_parts
      |FROM part WHERE p_partkey NOT IN (SELECT cand FROM rhs)
      |UNION ALL
      |SELECT 'rhs_without_nulls', CAST(COUNT(*) AS BIGINT)
      |FROM part WHERE p_partkey NOT IN
      |  (SELECT cand FROM rhs WHERE cand IS NOT NULL)
      |ORDER BY leg""".stripMargin

  /** q242 — PARAMETERIZED SQL + EXECUTE IMMEDIATE (the
    * injection-safe SQL surface a multi-tenant engine exposes):
    * the SAME admission report runs through BOTH Spark 4 binding
    * mechanisms — (1) the named-parameter API (`spark.sql(text,
    * args)`) with the table bound via `IDENTIFIER(:tbl)` (identifiers
    * cannot be value-parameterized; IDENTIFIER is the safe channel
    * for them) and the threshold via `:min`, and (2) dynamic SQL:
    * a session variable (`DECLARE` / `SET VAR`) fed into `EXECUTE
    * IMMEDIATE ... USING` with a positional marker. Parameters are
    * BOUND, never spliced — a value containing `'; DROP TABLE` is
    * data, not syntax. The report joins the two legs and hashes their
    * agreement: both binders must resolve to the same plan semantics
    * or `legs_match` flips. Oracle recomputes the report with the
    * values inlined — binding must be semantically invisible.
    *
    * Scale shape: binding is a driver-side parse concern; the plan is
    * the same partial-agg pass either way (|langs| rows shuffled).
    */
  val q242ParameterizedSql: Q = (s, d) => {
    val view = "graft_param_docs"
    documents(s, d).createOrReplaceTempView(view)
    val report =
      "SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars " +
        "FROM IDENTIFIER(:tbl) WHERE n_chars >= :min GROUP BY lang"
    val byParam = s.sql(report, Map("tbl" -> view, "min" -> 200))
    s.sql("DECLARE OR REPLACE VARIABLE min_chars INT")
    s.sql("SET VAR min_chars = 200")
    val byExec = s.sql(
      s"""EXECUTE IMMEDIATE
         |'SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars
         |  FROM $view WHERE n_chars >= ? GROUP BY lang'
         |USING min_chars""".stripMargin)
      .select(col("lang"), col("n_docs").as("e_n_docs"),
        col("chars").as("e_chars"))
    // Null-safe <=> so a group missing from one leg of the full_outer
    // reads as an explicit FALSE, honoring the column's "flips on any
    // divergence" contract (=== would yield NULL there).
    byParam.join(byExec, Seq("lang"), "full_outer")
      .select(col("lang"), col("n_docs"), col("chars"),
        (col("n_docs") <=> col("e_n_docs") &&
          col("chars") <=> col("e_chars")).as("legs_match"))
      .orderBy("lang")
  }

  val q242Sql: String =
    """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars, TRUE AS legs_match
      |FROM documents WHERE n_chars >= 200
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q248 — EMPTY-RELATION SEMANTICS: what every operator must do
    * when its input is RUNTIME-empty — the normal state of affairs at
    * 100 TB, where partition pruning, selective dim filters, and DPP
    * routinely reduce a branch to zero rows. Three legs, each a
    * distinct empty-input contract engines get wrong independently:
    * a GLOBAL aggregate over an empty relation returns exactly ONE
    * row (count 0, sum NULL — not zero rows, not a 0 sum); a GROUPED
    * aggregate over the same input returns ZERO groups; and a LEFT
    * join against an empty build side preserves every probe row with
    * a 0 match count (an engine that "optimizes" the join away must
    * not drop the probe side). The oracle replays all three in SQL —
    * the legs are where subtly-wrong shortcut rewrites surface.
    *
    * Scale shape: the point IS the shortcut-correctness; each leg is
    * one partial-agg pass whose empty branches cost nothing.
    */
  val q248EmptyRelation: Q = (s, d) => {
    val docs = documents(s, d)
    val none = docs.filter(col("lang") === "zz_none")
    val global = none
      .agg(count(lit(1)).as("c1"), sum(col("n_chars")).as("c2"))
      .select(lit("agg_over_empty").as("leg"), col("c1"), col("c2"))
    val groups = none.groupBy("lang").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("c1"), sum(col("n")).as("c2"))
      .select(lit("groups_over_empty").as("leg"), col("c1"), col("c2"))
    val leftJoin = docs
      .join(none.select(col("doc_id").as("k"), col("n_chars").as("nc")),
        col("doc_id") === col("k"), "left")
      .agg(count(lit(1)).as("c1"), count(col("nc")).as("c2"))
      .select(lit("left_join_empty").as("leg"), col("c1"), col("c2"))
    global.unionByName(groups).unionByName(leftJoin).orderBy("leg")
  }

  val q248Sql: String =
    """SELECT 'agg_over_empty' AS leg, CAST(COUNT(*) AS BIGINT) AS c1,
      |  CAST(SUM(n_chars) AS BIGINT) AS c2
      |FROM documents WHERE lang = 'zz_none'
      |UNION ALL
      |SELECT 'groups_over_empty',
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
      |    (SELECT lang FROM documents WHERE lang = 'zz_none' GROUP BY lang)),
      |  CAST(NULL AS BIGINT)
      |UNION ALL
      |SELECT 'left_join_empty',
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents),
      |  CAST(0 AS BIGINT)
      |ORDER BY leg""".stripMargin

  val queries: Map[String, Q] = Map(
    "q248_empty_relation" -> q248EmptyRelation,
    "q249_retention_vacuum" -> q249RetentionVacuum,
    "q242_parameterized_sql" -> q242ParameterizedSql,
    "q202_exists_correlated" -> q202ExistsCorrelated,
    "q203_scalar_subquery" -> q203ScalarSubquery,
    "q204_double_anti_exists" -> q204DoubleAntiExists,
    "q205_not_in_nullable" -> q205NotInNullable,
    "q206_store_widen_fold" -> q206StoreWidenFold,
    "q207_time_travel_diff" -> q207TimeTravelDiff,
    "q225_cbo_stats" -> q225CboStats,
    "q276_cbo_join_reorder" -> q276CboJoinReorder,
    "q210_lateral_topk" -> q210LateralTopk,
    "q213_unpivot_measures" -> q213UnpivotMeasures,
    "q216_setops_all" -> q216SetopsAll,
    "q189_incremental_agg_view" -> q189IncrementalAggView,
    "q185_skew_audit" -> q185SkewAudit,
    "q186_bloom_join_prune" -> q186BloomJoinPrune,
    "q157_constraint_audit" -> q157ConstraintAudit,
    "q155_entity_resolution" -> q155EntityResolution,
    "q82_split_pivot" -> q82SplitPivot,
    "q58_salted_hotkey" -> q58SaltedHotkey,
    "q25_grouping_sets" -> q25GroupingSets,
    "q26_approx_distinct" -> q26ApproxDistinct,
    "q01_pricing_summary" -> q01PricingSummary,
    "q02_star_revenue" -> q02StarRevenue,
    "q03_top_orders_per_cust" -> q03TopOrdersPerCust,
    "q04_topk_global" -> q04TopKGlobal,
    "q05_semi_join" -> q05SemiJoin,
    "q06_anti_join" -> q06AntiJoin,
    "q07_outer_agg" -> q07OuterAgg,
    "q08_rollup" -> q08Rollup,
    "q09_cube" -> q09Cube,
    "q10_distinct" -> q10Distinct,
    "q11_intersect" -> q11Intersect,
    "q12_except" -> q12Except,
    "q13_range_join" -> q13RangeJoin
  )

  val oracle: Map[String, String] = Map(
    "q202_exists_correlated" -> q202Sql,
    "q203_scalar_subquery" -> q203Sql,
    "q204_double_anti_exists" -> q204Sql,
    "q205_not_in_nullable" -> q205Sql,
    "q206_store_widen_fold" -> q206Sql,
    "q207_time_travel_diff" -> q207Sql,
    // catalog statistics vs exact recomputation: the numbers ANALYZE
    // writes (and CBO costing reads) must equal the data's truth
    "q225_cbo_stats" -> q225Sql,
    "q276_cbo_join_reorder" -> q276Sql,
    "q242_parameterized_sql" -> q242Sql,
    "q248_empty_relation" -> q248Sql,
    "q249_retention_vacuum" -> q249Sql,
    "q210_lateral_topk" -> q210Sql,
    "q213_unpivot_measures" -> q213Sql,
    "q216_setops_all" -> q216Sql,
    // the direct single-pass aggregate: the folded partial store must
    // serve exactly the from-scratch view
    "q189_incremental_agg_view" -> q189Sql,
    "q185_skew_audit" -> q185Sql,
    "q186_bloom_join_prune" -> q186Sql,
    "q157_constraint_audit" -> q157Sql,
    "q155_entity_resolution" -> q155Sql,
    "q82_split_pivot" -> q82Sql,
    "q58_salted_hotkey" -> q58Sql,
    "q25_grouping_sets" -> q25Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_star_revenue" -> q02Sql,
    "q03_top_orders_per_cust" -> q03Sql,
    "q04_topk_global" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_outer_agg" -> q07Sql,
    "q08_rollup" -> q08Sql,
    "q09_cube" -> q09Sql,
    "q10_distinct" -> q10Sql,
    "q11_intersect" -> q11Sql,
    "q12_except" -> q12Sql,
    "q13_range_join" -> q13Sql
  )
}

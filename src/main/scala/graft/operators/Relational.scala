package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator inventory — SURVEY.md §2.2–2.6.
  *
  * The reference compiles every relational construct to SQLite SQL text
  * (reference: src/compiler.py:270-321, 1786-1940); the operator surface is
  * projection / distinct / filter / boolean / comparison / LIKE / arithmetic /
  * CASE / CAST / comma cross-joins (+WHERE equality) / IN-subquery /
  * EXISTS / scalar subquery / COUNT-SUM-AVG-MIN-MAX (+DISTINCT) /
  * GROUP BY + HAVING / ORDER BY / LIMIT-OFFSET.
  *
  * Here each family is expressed Spark-first as a declarative DataFrame
  * plan so Catalyst gets pushdown/pruning/join-selection for free. Every
  * query carries a deterministic ORDER BY and aliases every computed
  * column identically to its DuckDB oracle (driver compares by sorted
  * column name + value hash).
  *
  * Scale notes (100 TB): filters and projections push to the parquet
  * scan; equi-joins shuffle on join keys with AQE free to pick
  * broadcast for the small dims (region/nation are KB-sized — Catalyst
  * broadcasts them under the 10 MB default); aggregations are
  * partial-aggregated map-side by HashAggregate before the shuffle.
  * Float aggregates are rounded in BOTH engines to absorb summation-order
  * nondeterminism, which is unavoidable for distributed sums.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** q01: full-scan aggregation (TPC-H Q1 shape) — groupBy/agg/avg/count,
    * partial agg map-side; covers §2.4. */
  val q01Agg: Q = (spark, dir) => {
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: projection + filter + arithmetic + BETWEEN — predicate pushdown
    * to parquet; covers §2.2 comparison/arithmetic. */
  val q02FilterProject: Q = (spark, dir) => {
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate").between(
        lit("1995-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select((col("l_extendedprice") * col("l_discount")).as("disc_revenue"))
      .agg(round(sum("disc_revenue"), 2).as("revenue"))
  }

  val q02Sql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** q03: equi-join + group + top-k (TPC-H Q3 shape). The reference only
    * has comma-cross-join + WHERE (src/grammar.y:380-385); Catalyst turns
    * the equality predicate into a shuffled hash/sort-merge equi-join —
    * same semantics, scalable physical plan. Top-k compiles to
    * TakeOrderedAndProject (no global sort). */
  val q03JoinTopK: Q = (spark, dir) => {
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val lineitem = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val q03Sql: String =
    """SELECT o_orderkey, o_orderdate,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  /** q04: DISTINCT (§2.2) — hash aggregate, map-side partial. */
  val q04Distinct: Q = (spark, dir) => {
    Tables.load(spark, dir, "lineitem")
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q04Sql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q05: IN (subquery) → left-semi join (§2.2/2.3). The inner side is
    * tiny → broadcast semi-join, no shuffle of the big side. */
  val q05InSubquery: Q = (spark, dir) => {
    val nation = Tables.load(spark, dir, "nation")
      .filter(col("n_regionkey") === 0).select("n_nationkey")
    Tables.load(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  val q05Sql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS total_bal
      |FROM customer
      |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q06: EXISTS → left-semi; NOT EXISTS → left-anti (§2.2). */
  val q06Exists: Q = (spark, dir) => {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_quantity") > 49).select("l_suppkey")
    Tables.load(spark, dir, "supplier")
      .join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  val q06Sql: String =
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_suppkey = s_suppkey AND l_quantity > 49)
      |ORDER BY s_suppkey""".stripMargin

  /** q07: CASE WHEN / CAST (§2.2 expressions). */
  val q07CaseCast: Q = (spark, dir) => {
    Tables.load(spark, dir, "orders")
      .withColumn("price_bucket",
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large"))
      // floor() before the integer cast: Spark's double→long cast
      // truncates while DuckDB's rounds — floor is unambiguous in both.
      .withColumn("price_int", floor(col("o_totalprice")).cast("long"))
      .groupBy("price_bucket")
      .agg(count(lit(1)).as("n_orders"), sum("price_int").as("sum_price_int"))
      .orderBy("price_bucket")
  }

  val q07Sql: String =
    """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
      |            WHEN o_totalprice < 150000 THEN 'medium'
      |            ELSE 'large' END AS price_bucket,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_int
      |FROM orders
      |GROUP BY price_bucket
      |ORDER BY price_bucket""".stripMargin

  /** q08: multi-key ORDER BY + LIMIT/OFFSET (§2.5). */
  val q08OrderLimitOffset: Q = (spark, dir) => {
    Tables.load(spark, dir, "part")
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
      .orderBy(col("p_brand").asc, col("p_size").desc, col("p_partkey").asc)
      .offset(5)
      .limit(20)
  }

  val q08Sql: String =
    """SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
      |ORDER BY p_brand ASC, p_size DESC, p_partkey ASC
      |LIMIT 20 OFFSET 5""".stripMargin

  /** q09: LIKE / NOT LIKE pattern match (§2.2). */
  val q09Like: Q = (spark, dir) => {
    Tables.load(spark, dir, "part")
      .filter(col("p_type").like("%ECO%") && !col("p_name").like("%green%"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"), round(avg("p_retailprice"), 4).as("avg_price"))
      .orderBy("p_brand")
  }

  val q09Sql: String =
    """SELECT p_brand, count(*) AS n_parts,
      |  round(avg(p_retailprice), 4) AS avg_price
      |FROM part
      |WHERE p_type LIKE '%ECO%' AND p_name NOT LIKE '%green%'
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** q10: IS NULL / IS NOT NULL + boolean ops (§2.2 predicates). */
  val q10NullPredicates: Q = (spark, dir) => {
    Tables.load(spark, dir, "events")
      .filter(col("props").isNotNull && (col("event_type") === "click" || col("value") > 90))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  val q10Sql: String =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE props IS NOT NULL AND (event_type = 'click' OR value > 90)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q11: the reference's comma-cross-join form (src/compiler.py:1024-1035)
    * — `FROM region, nation, customer WHERE` equalities. Catalyst folds the
    * cross product + equality predicates into broadcast equi-joins. */
  val q11CommaJoin: Q = (spark, dir) => {
    val region = Tables.load(spark, dir, "region")
    val nation = Tables.load(spark, dir, "nation")
    val customer = Tables.load(spark, dir, "customer")
    // declared as cross joins + filter, exactly the reference's semantics;
    // Catalyst's ReorderJoin turns this into two equi-joins.
    customer.crossJoin(nation).crossJoin(region)
      .filter(col("c_nationkey") === col("n_nationkey") &&
              col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_bal"))
      .orderBy("r_name", "n_name")
  }

  val q11Sql: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |  round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer, nation, region
      |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** q12: scalar subquery as expression (§2.2, compiler.py:1795-1797).
    * Expressed via spark.sql — Catalyst plans the scalar subquery as a
    * broadcast single-row join. */
  val q12ScalarSubquery: Q = (spark, dir) => {
    Tables.load(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT l_returnflag, count(*) AS n_above_avg
        |FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  val q12Sql: String =
    """SELECT l_returnflag, count(*) AS n_above_avg
      |FROM lineitem
      |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q13: GROUP BY + HAVING (§2.4) — HAVING = post-agg filter. */
  val q13Having: Q = (spark, dir) => {
    Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_spent"))
      .filter(col("n_orders") >= 12)
      .orderBy(col("n_orders").desc, col("o_custkey").asc)
  }

  val q13Sql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_spent
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(*) >= 12
      |ORDER BY n_orders DESC, o_custkey ASC""".stripMargin

  /** q14: multi-table star join (region→nation→supplier→lineitem) —
    * dims broadcast, fact shuffles once. */
  val q14StarJoin: Q = (spark, dir) => {
    val region = Tables.load(spark, dir, "region")
    val nation = Tables.load(spark, dir, "nation")
    val supplier = Tables.load(spark, dir, "supplier")
    val lineitem = Tables.load(spark, dir, "lineitem")
    lineitem
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")
  }

  val q14Sql: String =
    """SELECT r_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem, supplier, nation, region
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** q15: COUNT(DISTINCT ...) + MIN/MAX (§2.4). */
  val q15CountDistinct: Q = (spark, dir) => {
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"))
      .orderBy("l_returnflag")
  }

  val q15Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  min(l_quantity) AS min_qty,
      |  max(l_quantity) AS max_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q16: set ops (engine extension — absent from the reference grammar,
    * SURVEY §2.5): UNION ALL of two branch projections. */
  val q16Union: Q = (spark, dir) => {
    val orders = Tables.load(spark, dir, "orders")
    val hi = orders.filter(col("o_totalprice") > 300000)
      .select(col("o_orderkey"), lit("high").as("band"))
    val lo = orders.filter(col("o_totalprice") < 20000)
      .select(col("o_orderkey"), lit("low").as("band"))
    hi.unionAll(lo)
      .groupBy("band").agg(count(lit(1)).as("n"))
      .orderBy("band")
  }

  val q16Sql: String =
    """SELECT band, count(*) AS n FROM (
      |  SELECT o_orderkey, 'high' AS band FROM orders WHERE o_totalprice > 300000
      |  UNION ALL
      |  SELECT o_orderkey, 'low' AS band FROM orders WHERE o_totalprice < 20000
      |) GROUP BY band ORDER BY band""".stripMargin

  /** q17: time-bucketed aggregation over the events table — the batch
    * shape of the streaming windowed agg (§ Structured Streaming). */
  val q17EventsTimeAgg: Q = (spark, dir) => {
    Tables.load(spark, dir, "events")
      .withColumn("day", date_trunc("day", col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .orderBy("day", "event_type")
  }

  val q17Sql: String =
    """SELECT date_trunc('day', ts) AS day, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY day, event_type
      |ORDER BY day, event_type""".stripMargin

  /** q18: gap-based sessionization of the events stream table — the
    * classic log-pipeline operator: per user, a >30-minute silence
    * starts a new session; sessions roll up to (events, span).
    *
    * Scale design: skew-adaptive. A cheap probe (map-side-combined
    * groupBy count — the shuffle is one row per user) measures the
    * largest single user; below the per-task bound the single-shuffle
    * plan runs (ONE user_id exchange shared by both window passes and
    * the rollup — PlanShapeSpec guards it). Above it — a bot account, a
    * null/default user id — that plan would serialize the whole entity
    * into one task, so the TWO-PHASE path runs instead: sessionize
    * within (user_id, coarse time bucket), then merge the
    * boundary-touching sessions in a second pass whose input is
    * sessions (≤ bucket/gap per entity-bucket), not events. Both paths
    * are value-identical (SessionizeSkewSpec pins it on a 50 %-skewed
    * fixture). Gaps compare in microseconds (`unix_micros`) so the
    * oracle's epoch_us arithmetic is exact. Ties order by
    * (ts, event_id) in both engines. */
  val q18Sessionize: Q = (spark, dir) =>
    sessionize(Tables.load(spark, dir, "events"))

  /** Gap-sessionize `events` (needs user_id, ts, event_id) into
    * (user_id, session_id, n_events, session_start, duration_us),
    * session_id numbered 1.. per user in time order. Picks the
    * single-shuffle or two-phase plan by probing max-rows-per-user
    * against `maxEntityRowsPerTask`. */
  // the probe result memoized per (canonicalized input plan, input file
  // set): bench and repeated callers would otherwise pay a full
  // scan+agg of events on EVERY sessionize() call (including plan-only
  // inspection). The file list makes the key data-sensitive for the
  // common mutation paths — an append adds files, and a Spark overwrite
  // rewrites part-file names — so a stale 'not skewed' answer cannot
  // route a now-skewed corpus through the single-pass plan. (A same-
  // name in-place rewrite outside Spark is not detected: pass
  // `precomputedMaxEntityRows` or reset the cache.) NON-FILE sources
  // (in-memory frames, temp views, join results) have an empty
  // inputFiles list, which would degrade the guard to plan-hash-only —
  // those are NOT cached at all: the plan hash cannot see a mutated
  // in-memory input, and a localRelation probe is cheap anyway.
  // Bounded at 64 entries (graft.Memo.skewProbes, pass lifetime): a miss
  // on a full slot evicts one other entry, never the requested key.

  def sessionize(events: DataFrame,
      gapUs: Long = 1800L * 1000000L,
      bucketUs: Long = 86400L * 1000000L,
      maxEntityRowsPerTask: Long = 5000000L,
      precomputedMaxEntityRows: Option[Long] = None): DataFrame = {
    def probe(): Long =
      events.groupBy("user_id").count()
        .agg(max("count")).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
    val maxUserRows = precomputedMaxEntityRows.getOrElse {
      val files = events.inputFiles.sorted.mkString("\n")
      if (files.isEmpty) probe() // non-file source: uncacheable (see above)
      else {
        val key = (events.queryExecution.analyzed.semanticHash(), files)
        graft.Memo.skewProbes.getOrElseUpdate(key)(probe())
      }
    }
    if (maxUserRows <= maxEntityRowsPerTask) sessionizeSinglePass(events, gapUs)
    else sessionizeTwoPhase(events, gapUs, bucketUs)
  }

  /** The classic one-shuffle plan: both window passes (lag, running
    * session counter) and the per-session rollup reuse one user_id
    * exchange. Right whenever no single entity exceeds a task. */
  def sessionizeSinglePass(events: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** Skew-safe plan: phase 1 windows over (user_id, bucket) — a hot
    * entity's events spread across buckets, so no task exceeds one
    * entity-bucket — and rolls up LOCAL sessions. Phase 2 re-windows
    * over user_id alone, but its input is the per-bucket session list:
    * within a bucket adjacent local sessions are > gap apart by
    * construction, so per entity it carries at most ceil(bucket/gap)
    * sessions per bucket — the hot user that was 10^9 events is now
    * ~48/day rows. Adjacent sessions (necessarily across bucket
    * boundaries) merge when their inter-event gap ≤ gapUs; the running
    * sum renumbers merged sessions 1.. per user in time order, exactly
    * the single-pass numbering. */
  def sessionizeTwoPhase(events: DataFrame, gapUs: Long,
      bucketUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    val local = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("bucket", floor(col("us") / lit(bucketUs)).cast("long"))
      .withColumn("prev_us", lag(col("us"), 1).over(w1))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("lsid",
        sum("new_sess").over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "bucket", "lsid")
      .agg(count(lit(1)).as("n"),
        min("ts").as("start_ts"),
        min("us").as("start_us"),
        max("us").as("end_us"))
    // bucket-local sessions are disjoint, time-ordered intervals per
    // user (buckets partition the time axis), so ordering by start_us
    // is total; a session can only merge with its immediate
    // predecessor, and only when the boundary gap closes
    val w2 = Window.partitionBy("user_id").orderBy("start_us")
    local
      .withColumn("prev_end", lag(col("end_us"), 1).over(w2))
      .withColumn("new_merged",
        when(col("prev_end").isNull || col("start_us") - col("prev_end") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("new_merged").over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(sum("n").as("n_events"),
        min("start_ts").as("session_start"),
        (max("end_us") - min("start_us")).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  val q18Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*)::BIGINT AS n_events,
      |  min(ts) AS session_start,
      |  CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** All relational queries + oracles, keyed for SparkEntry. */
  val queries: Map[String, Q] = Map(
    "q18_sessionize" -> q18Sessionize,
    "q01_agg" -> q01Agg,
    "q02_filter_project" -> q02FilterProject,
    "q03_join_topk" -> q03JoinTopK,
    "q04_distinct" -> q04Distinct,
    "q05_in_subquery" -> q05InSubquery,
    "q06_exists" -> q06Exists,
    "q07_case_cast" -> q07CaseCast,
    "q08_order_limit_offset" -> q08OrderLimitOffset,
    "q09_like" -> q09Like,
    "q10_null_predicates" -> q10NullPredicates,
    "q11_comma_join" -> q11CommaJoin,
    "q12_scalar_subquery" -> q12ScalarSubquery,
    "q13_having" -> q13Having,
    "q14_star_join" -> q14StarJoin,
    "q15_count_distinct" -> q15CountDistinct,
    "q16_union" -> q16Union,
    "q17_events_time_agg" -> q17EventsTimeAgg)

  val oracles: Map[String, String] = Map(
    "q18_sessionize" -> q18Sql,
    "q01_agg" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_topk" -> q03Sql,
    "q04_distinct" -> q04Sql,
    "q05_in_subquery" -> q05Sql,
    "q06_exists" -> q06Sql,
    "q07_case_cast" -> q07Sql,
    "q08_order_limit_offset" -> q08Sql,
    "q09_like" -> q09Sql,
    "q10_null_predicates" -> q10Sql,
    "q11_comma_join" -> q11Sql,
    "q12_scalar_subquery" -> q12Sql,
    "q13_having" -> q13Sql,
    "q14_star_join" -> q14Sql,
    "q15_count_distinct" -> q15Sql,
    "q16_union" -> q16Sql,
    "q17_events_time_agg" -> q17Sql)
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dims.DateDim
import graft.ops.RelationalOps
import graft.text.TextFunctions
import graft.dedup.Dedup
import graft.similarity.{Ann, IndexStore, Ivf, IvfPq, Pq}

/** The declared query surface: one entry per operator family from
  * SURVEY.md §2 plus the training-data-pipeline extensions
  * (dedup / similarity / text analysis / event windows).
  *
  * Each `q*` method is a pure (SparkSession, sfDir) => DataFrame over
  * the driver-generated testdata; `Oracles.sql` carries the DuckDB
  * equivalent with IDENTICAL output column names and types (the
  * driver's compare hashes values under name-sorted columns).
  *
  * Determinism rules applied throughout:
  *  - every double produced by an order-sensitive aggregate is
  *    `round(_, 2)` in both engines;
  *  - every ranking has a total-order tie-break;
  *  - DuckDB date-part/len results are BIGINT, so they are CAST to
  *    INT in the oracle wherever Spark yields IntegerType.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // ----------------------------------------------------- scans / projections

  /** P1/S4 — projection reaching the parquet scan (column pruning). */
  def qScanProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")

  /** P2/P5 — rename + timestamp→date cast. */
  def qRenameCast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey").as("order_key"),
      col("l_linenumber").as("line_no"),
      to_date(col("l_shipdate")).as("ship_date"))

  /** P4 — derived per-row arithmetic (the total_emission analog). */
  def qDerivedArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"),
      col("l_linenumber"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
        .as("charged"))

  // ------------------------------------------------------------- filters

  /** F1/F3 — conjunctive predicate pushed to the scan. */
  def qFilterPred(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** F2/F4 — null/threshold gate on orders. */
  def qFilterNull(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 300000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  // -------------------------------------------------------- aggregations

  /** A4/TPC-H Q1 shape — grouped full-table rollup with partial aggs. */
  def qAggPricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        count(lit(1)).as("cnt"))

  /** A2 — global count. */
  def qCountStar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))

  /** exact distinct counts (the HLL/approx variant has no oracle). */
  def qCountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"))

  /** A1 — plain distinct. */
  def qDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()

  /** A1 keep-first — deterministic dedup via row_number window. */
  def qDedupKeepFirst(s: SparkSession, dir: String): DataFrame =
    RelationalOps.dedupKeepFirst(
      t(s, dir, "customer").select("c_nationkey", "c_custkey", "c_name"),
      Seq("c_nationkey"),
      Seq(col("c_custkey")))

  /** A3 — union of role-playing projections + distinct. */
  def qUnionDistinct(s: SparkSession, dir: String): DataFrame =
    RelationalOps.unionDistinct(
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey")),
      t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  /** grouping sets — ROLLUP. */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))

  /** grouping sets — CUBE. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))

  // -------------------------------------------------------------- joins

  /** J1 — inner equi-join fact→dim. */
  def qJoinInner(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").join(
      t(s, dir, "customer"),
      col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name")

  /** Full-outer join with unmatched rows on BOTH sides (customers
    * below 1000 vs order rollups above 500 — the overlap matches,
    * each tail survives null-padded). Completes the join-type surface
    * (inner/left/semi/anti/null-safe/salted/full).
    */
  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_custkey") < 1000)
      .select("c_custkey", "c_name")
    val o = t(s, dir, "orders").filter(col("o_custkey") > 500)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("o_custkey"),
        col("n_orders"), col("total"))
  }

  /** J2 — left joins up a dim chain (broadcast both dims). */
  def qJoinLeftChain(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"), "left")
      .select("c_custkey", "n_name", "r_name")

  /** J4-J7/J11 — anti-join (customers with no URGENT order; the
    * incremental-idempotence idiom of the reference, emission-dag.py:83).
    */
  def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti").select("c_custkey", "c_name")
  }

  /** semi-join (customers with at least one urgent order). */
  def qJoinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi").select("c_custkey")
  }

  /** J1 null-safe `<=>` — NaN=NaN pandas merge semantics
    * (SURVEY §2.4): nullable derived keys on both sides still match.
    */
  def qJoinNullsafe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = t(s, dir, "lineitem").select(
      when(col("l_returnflag") === "N", lit(null)).otherwise(col("l_returnflag")).as("rf"))
    val keys = Seq("A", "R", "N").toDF("c")
      .select(when(col("c") === "N", lit(null)).otherwise(col("c")).as("rf"))
    l.join(broadcast(keys), l("rf") <=> keys("rf"))
      .select(keys("rf").as("rf"))
      .groupBy("rf")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Salted skew join — semantics must be identical to the plain
    * equi-join (the oracle is the unsalted SQL), while the hot keys
    * spread over saltFactor reducers.
    */
  def qJoinSalted(s: SparkSession, dir: String): DataFrame =
    RelationalOps.saltedEquiJoin(
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      Seq("l_orderkey"),
      saltFactor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))

  /** Bloom-gated incremental anti-join — must equal the exact
    * NOT EXISTS (false positives fall through to the exact join;
    * negatives are definitely novel).
    */
  def qBloomAntijoin(s: SparkSession, dir: String): DataFrame =
    RelationalOps.bloomAntiJoinNew(
      t(s, dir, "customer").select("c_custkey", "c_name"),
      t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")),
      Seq("c_custkey"))
      .select("c_custkey", "c_name")

  /** FK/orphan-key validation (WarehouseQa — SURVEY §7.3, reference
    * create_tables.py FK set): orphan-row count per declared FK across
    * the warehouse star schema, one aggregation over one scan of each
    * table, with no join. The "probe:" row points lineitem.l_orderkey at
    * nation's 25-key set — a deliberately mismatched check whose large
    * deterministic count pins the counting logic (the real FKs are all
    * 0 on the clean synthetic data, which would hash-match even if
    * counting silently broke).
    */
  def qFkOrphans(s: SparkSession, dir: String): DataFrame = {
    import graft.etl.WarehouseQa._
    val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer"); val nat = t(s, dir, "nation")
    orphanCounts(Seq(
      li -> Seq(
        Fk("lineitem.l_orderkey->orders", "l_orderkey", ord, "o_orderkey"),
        Fk("lineitem.l_partkey->part", "l_partkey", t(s, dir, "part"), "p_partkey"),
        Fk("lineitem.l_suppkey->supplier", "l_suppkey", t(s, dir, "supplier"), "s_suppkey"),
        Fk("probe:lineitem.l_orderkey->nation", "l_orderkey", nat, "n_nationkey")),
      ord -> Seq(Fk("orders.o_custkey->customer", "o_custkey", cust, "c_custkey")),
      cust -> Seq(Fk("customer.c_nationkey->nation", "c_nationkey", nat, "n_nationkey")),
      nat -> Seq(Fk("nation.n_regionkey->region", "n_regionkey", t(s, dir, "region"), "r_regionkey")),
      t(s, dir, "events") -> Seq(Fk("events.user_id->customer", "user_id", cust, "c_custkey"))))
  }

  /** J9/J10 + A4 — the star-schema rollup (lineitem→orders→customer→
    * nation→region), dims broadcast, one shuffle for the final groupBy.
    */
  def qStarJoinRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  /** A4 flagship — "total emission on a brand level" analog:
    * quantity × retailprice rolled up by brand.
    */
  def qEmissionByBrand(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(round(sum(col("l_quantity") * col("p_retailprice")), 2).as("total_emission"))

  // ---------------------------------------------------- sort / window

  /** O1/O2 + limit — global top-n with total-order tie-break. */
  def qTopnSort(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      .limit(10)

  /** window ranking — top-3 per group. */
  def qWindowRank(s: SparkSession, dir: String): DataFrame =
    RelationalOps.topKPerGroup(
      t(s, dir, "part").select("p_brand", "p_partkey", "p_retailprice"),
      Seq("p_brand"),
      Seq(col("p_retailprice").desc, col("p_partkey").asc),
      3,
      rankCol = "rnk")

  /** window lag — per-user event value delta ordered by time. */
  def qWindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events").select(
      col("event_id"),
      col("user_id"),
      (col("value") - lag("value", 1).over(w)).as("delta"))
  }

  // ------------------------------------------------------- date / time

  /** D1-D8 — the generated date dimension (reference
    * create_tables.py:6-15), 7,306 rows 2010..2030.
    */
  def qDateDim(s: SparkSession, dir: String): DataFrame = DateDim.generate(s)

  /** D2-D7 on real data — date parts of o_orderdate. */
  def qDateParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyyMMdd").cast("int").as("date_id"),
      date_format(col("o_orderdate"), "EEEE").as("week_day"),
      dayofmonth(col("o_orderdate")).as("day"),
      month(col("o_orderdate")).as("month"),
      weekofyear(col("o_orderdate")).as("week"),
      quarter(col("o_orderdate")).as("quarter"),
      year(col("o_orderdate")).as("year"))

  // ---------------------------------------------- streaming-shaped (events)

  /** Retention cohort analysis: users grouped by first-activity date,
    * counted on each later active day offset — the classic product-
    * analytics rollup. Two key-partitioned aggregations and one
    * equi-join on user_id (no broadcast assumption: the first-day side
    * is |users|-sized and co-shuffles); day_offset arithmetic stays
    * per-row.
    */
  def qRetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val firstDay = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("cohort"))
    ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .join(firstDay, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** Tumbling-window aggregation in batch — the same `window()`
    * primitive Structured Streaming uses (graft.streaming runs the
    * streaming variant; results are checked here in batch).
    */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"),
        col("cnt"),
        col("sum_value"))

  /** Gap-based sessionization in batch (30-min inactivity gap): the
    * classic event-pipeline operator — boundary detection via lag,
    * session ids via running sum, then per-session rollup. The
    * streaming variant lives in graft.streaming (state timeouts);
    * semantics here are checked against the SQL oracle.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000 // 30 min in microseconds
    val boundary = when(
      unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > gapUs, 1L)
      .otherwise(lit(0L))
    t(s, dir, "events")
      .withColumn("sid", sum(boundary).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"))
  }

  /** Ordered funnel over the events table ([[graft.ops.EventAnalytics
    * .funnel]]): view → click → purchase, anchored at each user's
    * first view, every later step strictly after the previous and
    * within 7 days of the anchor. Output is the funnel chart (step,
    * users). Hash-green means the k-join min-chain reproduces
    * DuckDB's CTE derivation of the same anchored semantics exactly.
    */
  def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val f = graft.ops.EventAnalytics.funnel(
      t(s, dir, "events"), Seq("view", "click", "purchase"),
      windowSecs = 7L * 24 * 3600)
    graft.ops.EventAnalytics.funnelCounts(f, nSteps = 3)
  }

  /** Weekly funnel conversion: [[qEventsFunnel]]'s per-user rows
    * cohorted by anchor week — entered / reached-step-2 / completed
    * counts and the conversion rate per week. The funnel output is
    * user-sized, so the cohort rollup is a trivial second aggregate.
    */
  def qEventsFunnelWeekly(s: SparkSession, dir: String): DataFrame = {
    val f = graft.ops.EventAnalytics.funnel(
      t(s, dir, "events"), Seq("view", "click", "purchase"),
      windowSecs = 7L * 24 * 3600)
    f.groupBy(date_trunc("week", col("step_1")).as("week"))
      .agg(count(lit(1)).as("entered"),
        count(when(col("steps_completed") >= 2, 1)).as("clicked"),
        count(when(col("steps_completed") === 3, 1)).as("completed"))
      .withColumn("cvr", round(col("completed").cast("double") / col("entered"), 6))
  }

  /** The unanchored funnel ([[graft.ops.EventAnalytics.funnelAny]]):
    * best chain over ALL view anchors per user, 2-day window — the
    * variant that can't under-report when a user's first view is too
    * early to complete. The per-anchor frontier (one row per
    * (user, anchor) per level, greedy-min within an anchor) is
    * reproduced anchor-by-anchor in DuckDB.
    */
  def qEventsFunnelAny(s: SparkSession, dir: String): DataFrame =
    graft.ops.EventAnalytics.funnelAny(
      t(s, dir, "events"), Seq("view", "click", "purchase"),
      windowSecs = 2L * 24 * 3600)

  /** Regular-grid resample with gap filling ([[graft.ops
    * .EventAnalytics.fillGaps]]): hourly event counts and value sums
    * over the COMPLETE hour spine from first to last event — missing
    * hours appear with n=0/sum=0 — plus the hourly mean
    * forward-filled across gaps (last non-null earlier hour). The
    * spine is calendar-sized (span/step), so the fill runs on
    * metadata-scale rows no matter the event volume.
    */
  def qEventsResample(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"),
        round(avg("value"), 6).as("avg_value"))
    graft.ops.EventAnalytics.fillGaps(agg, "bucket", stepSecs = 3600,
      zeroFillCols = Seq("n", "sv"), ffillCols = Seq("avg_value"))
      .select(col("bucket"), col("n"), round(col("sv"), 2).as("sum_value"),
        col("avg_value"))
  }

  /** 24-hour moving average over the gap-filled hourly grid —
    * composes [[qEventsResample]]'s spine with a rows-frame window
    * (on a COMPLETE grid, 24 rows ≡ 24 hours, so the frame is exact
    * without range-interval arithmetic). The window rides one
    * calendar-sized partition: bounded by time, not data.
    */
  def qEventsMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val grid = graft.ops.EventAnalytics.fillGaps(agg, "bucket",
      stepSecs = 3600, zeroFillCols = Seq("n"))
    val w = Window.orderBy("bucket").rowsBetween(-23, 0)
    grid.select(col("bucket"), col("n"),
      sum("n").over(w).as("n_24h"),
      round(avg("n").over(w), 6).as("avg_24h"))
  }

  /** Cumulative distinct users by day — each user counts once, on
    * their first-ever event day, then a running sum over the
    * calendar. The heavy step is one per-user aggregation; the
    * cumulative window sees only day-sized rows.
    */
  def qEventsCumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    val firstDay = t(s, dir, "events")
      .groupBy("user_id")
      .agg(date_trunc("day", min(col("ts"))).as("day"))
    val perDay = firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
    perDay.select(col("day"), col("new_users"),
      sum("new_users").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0))
        .as("cum_users"))
  }

  /** Bucketed co-located join: both sides written `bucketBy(8, key)`
    * into catalog tables (external, parquet, under the query temp
    * dir), then joined on the bucket key — Spark's answer to
    * pre-partitioned co-located joins: the SMJ reads matching buckets
    * directly and NEITHER side shuffles (PlanSpec pins zero hash
    * exchanges under a disabled broadcast threshold). At 100 TB this
    * is THE repeated-join amortization: one bucketed write, then
    * every subsequent join on that key rides the layout for free.
    */
  def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    val l = t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o.write.mode("overwrite").format("parquet")
      .option("path", s"$indexQueryDir/bucket_orders")
      .bucketBy(8, "o_orderkey").saveAsTable("graft_bucket_orders")
    l.write.mode("overwrite").format("parquet")
      .option("path", s"$indexQueryDir/bucket_lineitem")
      .bucketBy(8, "l_orderkey").saveAsTable("graft_bucket_lineitem")
    s.table("graft_bucket_lineitem")
      .join(s.table("graft_bucket_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("revenue"))
  }

  /** TPC-H Q3 shape — selective star join + grouped top-k by revenue. */
  def qTpchQ3(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)

  /** TPC-H Q5 shape — the local-supplier-volume join: six tables, with
    * the extra non-key conjunct c_nationkey = s_nationkey riding the
    * same hash join as l_suppkey = s_suppkey (one equi-join, the
    * nation match filters its probe). nation and region broadcast
    * (dims of 25 / 5 rows at any SF); customer/orders/lineitem shuffle
    * on their join keys — the plan a 1000-executor cluster wants,
    * since only the two big-side exchanges touch data-proportional
    * bytes.
    */
  def qTpchQ5(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)

  /** TPC-H Q10 shape — returned-item revenue ranking: one quarter of
    * orders, lineitems flagged 'R', customer + broadcast nation, top
    * 20 customers by lost revenue. The selective filters sit on the
    * fact sides BEFORE the joins so the shuffles carry only the
    * quarter's rows.
    */
  def qTpchQ10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-10-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** TPC-H Q18 shape — large-volume customers: the order keys whose
    * lineitems exceed a quantity threshold (a groupBy-HAVING that
    * reduces lineitem map-side before anything joins) drive a SEMI
    * join, then the survivors re-aggregate with customer attached.
    * The heavy table is scanned twice but only the reduced key set
    * shuffles twice — the Q18 plan every engine wants.
    */
  def qTpchQ18(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val big = li.groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q")).filter(col("q") > 150)
      .select("l_orderkey")
    li.join(big, Seq("l_orderkey"), "left_semi")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .agg(sum("l_quantity").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
        col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q14 shape — promotion revenue share: one month of
    * lineitem (shipdate pushed to the scan) joined to a BROADCAST
    * part dim, conditional aggregation in one pass. The month filter
    * + broadcast means the only data-proportional work is the
    * filtered lineitem scan itself.
    */
  def qTpchQ14(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))), 2)
          .as("promo_revenue"),
        round(sum(rev), 2).as("total_revenue"),
        round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev), 4).as("promo_pct"))
  }

  /** TPC-H Q6 shape — forecasting revenue change: the pure
    * scan-filter-aggregate (one year of shipments, a discount band, a
    * quantity cap → one revenue scalar). Every predicate pushes to the
    * parquet scan and the whole query is a single map-side partial +
    * one-row final aggregate — the no-shuffle baseline the other
    * headliners build on.
    */
  def qTpchQ6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.05 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
        .as("revenue"))

  /** TPC-H Q19 shape — discounted revenue under an OR-of-ANDs
    * predicate (three brand/size/quantity branches): the classic
    * disjunction test. part filters to the three brands BEFORE
    * broadcasting; the residual branch predicate evaluates after the
    * join (it mixes columns of both sides), inside the same
    * whole-stage-codegen pipeline — no shuffle until the final
    * one-row aggregate.
    */
  def qTpchQ19(s: SparkSession, dir: String): DataFrame = {
    val part = broadcast(t(s, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
      .select("p_partkey", "p_brand", "p_size"))
    val branch =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    t(s, dir, "lineitem")
      .join(part, col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
  }

  /** TPC-H Q7 shape — volume shipping between two nations: both
    * nation filters broadcast-semi-reduce their OWN big side FIRST
    * (suppliers of the two nations via n1, customers via n2 — 2/25 of
    * each), so the lineitem/orders shuffles carry only the filtered
    * slice; the cross-pair disjunction is a residual filter after both
    * attach. The plan a 1000-executor cluster wants: two broadcast
    * prunes, then data-proportional exchanges only on what survives.
    */
  def qTpchQ7(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_3", "NATION_7")
    val n1 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    t(s, dir, "supplier").join(n1, col("s_nationkey") === col("s_nk"))
      .join(t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp")),
        col("s_suppkey") === col("l_suppkey"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").join(n2, col("c_nationkey") === col("c_nk")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape — national market share: PROMO parts sold into
    * one region over two years; the share of one supplier nation in
    * that volume, per order year. part is the selective probe
    * (broadcast after its type filter at these dim sizes), region
    * prunes customers via two broadcast hops, and the conditional
    * share is one aggregate pass — no self-join, no second scan.
    */
  def qTpchQ8(s: SparkSession, dir: String): DataFrame = {
    val part = broadcast(t(s, dir, "part")
      .filter(col("p_type") === "PROMO").select("p_partkey"))
    val amRegion = broadcast(t(s, dir, "region")
      .filter(col("r_name") === "AMERICA").select("r_regionkey"))
    val custNation = broadcast(t(s, dir, "nation")
      .join(amRegion, col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk")))
    val suppNation = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    t(s, dir, "lineitem").join(part, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(custNation, col("c_nationkey") === col("c_nk"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0.0))) /
          sum(vol), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q1 — the full pricing summary (the complete 8-aggregate
    * report; q_agg_pricing keeps the historical 5-column shape). One
    * scan with the shipdate bound pushed to parquet, map-side partial
    * aggregation into 6 groups — at 100 TB this is bandwidth-bound
    * and shuffles six rows per partition.
    */
  def qTpchQ1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 2).as("avg_qty"),
        round(avg("l_extendedprice"), 2).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q2 shape — minimum-cost supplier. The testdata has no
    * partsupp, so the part↔supplier relation is what lineitem
    * witnessed: for each STANDARD part of size 15, the EUROPE
    * supplier who shipped it cheapest (min l_extendedprice — a raw
    * stored column, so the min-equality join is float-safe across
    * engines). The correlated-min is a per-part window over the
    * already-joined slice — one shuffle on l_partkey, no self-join
    * rescan; region/nation/part prune via broadcasts BEFORE the big
    * side shuffles.
    */
  def qTpchQ2(s: SparkSession, dir: String): DataFrame = {
    val europe = broadcast(t(s, dir, "nation")
      .join(t(s, dir, "region").filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name"))
    val supp = t(s, dir, "supplier")
      .join(europe, col("s_nationkey") === col("n_nationkey"))
    val prt = broadcast(t(s, dir, "part")
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select("p_partkey", "p_name"))
    val offers = t(s, dir, "lineitem")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("s_acctbal"), col("n_name"), col("l_extendedprice").as("cost"))
    val minW = Window.partitionBy("p_partkey")
    offers.withColumn("min_cost", min("cost").over(minW))
      .filter(col("cost") === col("min_cost"))
      .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "cost")
      .distinct()
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  /** TPC-H Q4 shape — order-priority checking. The testdata has no
    * commit/receipt dates, so "late" is shipped >60 days after the
    * order date; the EXISTS is a left-semi join with the equi key on
    * l_orderkey and the lateness residual riding the same join (no
    * second pass, no distinct). Quarter filter pushes to the orders
    * scan first.
    */
  def qTpchQ4(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q9 shape — product-type profit by nation and year. No
    * partsupp/supplycost in the testdata, so cost is the part's list
    * price times quantity at a 10% margin proxy; parts prune by name
    * token and broadcast, supplier nation broadcasts, and the profit
    * is one aggregate pass over the three-way fact join.
    */
  def qTpchQ9(s: SparkSession, dir: String): DataFrame = {
    val redParts = broadcast(t(s, dir, "part")
      .filter(col("p_name").like("red %"))
      .select("p_partkey", "p_retailprice"))
    val suppNation = broadcast(t(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation")))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("p_retailprice") * col("l_quantity") * lit(0.1)
    t(s, dir, "lineitem")
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(suppNation, col("s_nationkey") === col("s_nk"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(sum(amount), 2).as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** TPC-H Q11 shape — important stock identification. partsupp's
    * value is re-expressed as shipped value per part from one
    * nation's suppliers; the HAVING threshold is a scalar subquery
    * (0.1% of that nation's total), carried as a broadcast one-row
    * cross join so every group filters map-side against the same
    * scalar — the same two-aggregation plan the real Q11 wants.
    */
  def qTpchQ11(s: SparkSession, dir: String): DataFrame = {
    val nat = broadcast(t(s, dir, "nation")
      .filter(col("n_name") === "NATION_3").select("n_nationkey"))
    val supp = t(s, dir, "supplier")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val slice = t(s, dir, "lineitem")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("value"))
    val total = slice.agg(sum("value").as("total_value"))
    slice.groupBy("l_partkey").agg(sum("value").as("part_value"))
      .crossJoin(broadcast(total))
      .filter(col("part_value") > col("total_value") * lit(0.001))
      .select(col("l_partkey"), round(col("part_value"), 2).as("value"))
      .orderBy(col("value").desc, col("l_partkey").asc)
  }

  /** TPC-H Q12 shape — shipping-priority audit. No shipmode column,
    * so lines group by return flag; "late" is shipped >30 days after
    * the order date. One join with the year band pushed to the
    * lineitem scan, then conditional counts split urgent vs not —
    * the CASE-sum plan, no second scan.
    */
  def qTpchQ12(s: SparkSession, dir: String): DataFrame = {
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q13 — customer order-count distribution (faithful: every
    * column it needs exists). Left outer join so zero-order customers
    * survive with c_count=0, the orders side pre-filtered (priority
    * stands in for the comment pattern), then the distribution is a
    * second tiny aggregation over customer-count rows.
    */
  def qTpchQ13(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    t(s, dir, "customer").select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15 — top supplier (faithful). Quarter revenue per
    * supplier, then the max-revenue scalar broadcast back over the
    * one-row cross join; the revenue aggregation runs ONCE and feeds
    * both sides (Spark reuses the exchange), and the float equality
    * is within-engine only — each engine compares its own sums.
    */
  def qTpchQ15(s: SparkSession, dir: String): DataFrame = {
    val revenue = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val maxRev = revenue.agg(max("total_revenue").as("max_revenue"))
    revenue.crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(t(s, dir, "supplier"), col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_revenue"), 2).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16 shape — parts/supplier relationship counts. The
    * part↔supplier pairs come from lineitem (no partsupp); the
    * excluded-supplier NOT IN (acctbal in arrears stands in for
    * complaints) is a broadcast anti join; distinct supplier counts
    * per (brand, type, size) over the size IN-list — all exact
    * integers, fully hash-stable.
    */
  def qTpchQ16(s: SparkSession, dir: String): DataFrame = {
    val excluded = t(s, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val prt = broadcast(t(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size"))
    t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
        col("p_type").asc, col("p_size").asc)
  }

  /** TPC-H Q17 shape — small-quantity-order revenue. The correlated
    * per-part average is a window over the joined slice (one shuffle
    * on partkey, no self-join second scan); the brand/type filter
    * broadcasts so only matching parts' lineitems shuffle at all.
    */
  def qTpchQ17(s: SparkSession, dir: String): DataFrame = {
    val prt = broadcast(t(s, dir, "part")
      .filter(col("p_brand") === "Brand#23" && col("p_type") === "SMALL")
      .select("p_partkey"))
    val slice = t(s, dir, "lineitem")
      .join(prt, col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val avgW = Window.partitionBy("l_partkey")
    slice.withColumn("avg_qty", avg("l_quantity").over(avgW))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum("l_extendedprice") / lit(7.0), 2).as("avg_yearly"))
  }

  /** TPC-H Q20 shape — potential part promotion. No availqty, so the
    * inner threshold is "shipped more than 80 units of that red part
    * in 1996"; the nested IN-chain stays two semi joins: (supp,part)
    * totals HAVING the threshold reduce to a distinct supplier set,
    * which semi-joins suppliers of the target nation.
    */
  def qTpchQ20(s: SparkSession, dir: String): DataFrame = {
    val redParts = broadcast(t(s, dir, "part")
      .filter(col("p_name").like("red %")).select("p_partkey"))
    val bigShippers = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").as("qty"))
      .filter(col("qty") > 80)
      .select("l_suppkey")
    val nat = broadcast(t(s, dir, "nation")
      .filter(col("n_name") === "NATION_1").select("n_nationkey"))
    t(s, dir, "supplier")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .join(bigShippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
      .orderBy("s_name")
  }

  /** TPC-H Q21 shape — suppliers who kept orders waiting. "Late" is
    * shipped >60 days after the order date (no receipt/commit dates).
    * The EXISTS (another supplier on the order) and NOT EXISTS
    * (another supplier ALSO late) are a left-semi and a left-anti on
    * the same order key with the supplier-difference residual riding
    * each join; the late set is computed once and reused for both the
    * driver rows and the anti side.
    */
  def qTpchQ21(s: SparkSession, dir: String): DataFrame = {
    val late = t(s, dir, "lineitem")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select("l_orderkey", "l_suppkey")
    val nat = broadcast(t(s, dir, "nation")
      .filter(col("n_name") === "NATION_2").select("n_nationkey"))
    val l1 = late
      .join(t(s, dir, "supplier").join(nat,
        col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
    val anyOther = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o2_orderkey"), col("l_suppkey").as("o2_suppkey"))
    val otherLate = late
      .select(col("l_orderkey").as("o3_orderkey"), col("l_suppkey").as("o3_suppkey"))
    l1.join(anyOther, col("l_orderkey") === col("o2_orderkey") &&
        col("o2_suppkey") =!= col("l_suppkey"), "left_semi")
      .join(otherLate, col("l_orderkey") === col("o3_orderkey") &&
        col("o3_suppkey") =!= col("l_suppkey"), "left_anti")
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** TPC-H Q22 shape — global sales opportunity. Market segment
    * stands in for the phone prefix; "no orders" is windowed to
    * 2000+ (every testdata customer has SOME order). The positive-
    * average threshold is a broadcast one-row cross join; the NOT
    * EXISTS is a left-anti against the date-filtered orders.
    */
  def qTpchQ22(s: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE")
    val cust = t(s, dir, "customer").filter(col("c_mktsegment").isin(segs: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg("c_acctbal").as("avg_bal"))
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        round(sum("c_acctbal"), 2).as("totacctbal"))
      .orderBy("cntrycode")
  }

  /** As-of join (backward): for each error event, the user's most
    * recent purchase at-or-before it — the time-series join composed
    * as union + window carry-forward (one shuffle; see
    * RelationalOps.asofJoinBackward). Oracle: DuckDB's native
    * ASOF LEFT JOIN.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("purchase_value"), col("ts").as("purchase_ts"))
    RelationalOps.asofJoinBackward(
      errors, purchases, Seq("user_id"), "ts",
      Seq("purchase_value", "purchase_ts"))
  }

  /** Forward as-of join: for each error event, the user's NEXT
    * purchase at-or-after it. Oracle: DuckDB ASOF LEFT JOIN with the
    * inequality reversed.
    */
  def qAsofJoinFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("next_value"), col("ts").as("next_ts"))
    RelationalOps.asofJoinForward(
      errors, purchases, Seq("user_id"), "ts",
      Seq("next_value", "next_ts"))
  }

  /** §3.3 — the ad-hoc SQL surface: register views, run `spark.sql`
    * (parse → analyze → optimize → execute through Catalyst).
    */
  def qSqlView(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(month(o_orderdate) AS INT) AS mo,
             COUNT(*) AS n_orders,
             ROUND(SUM(o_totalprice), 2) AS total
      FROM orders_v GROUP BY 1, 2""")
  }

  /** Sketch aggregates — HLL distinct + approximate quantiles (no SQL
    * oracle: approximation algorithms are engine-specific).
    */
  def qApproxSketch(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      approx_count_distinct(col("l_orderkey")).as("approx_orders"),
      percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("p50_qty"),
      percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("p95_price"))

  /** Custom KMV bottom-k distinct sketch (TypedImperativeAggregate —
    * partial buffers, binary merge across the shuffle). Rows-only:
    * the estimate is xxhash64-order-statistics based; accuracy is
    * asserted against exact counts in SketchAggregatesSpec.
    */
  def qSketchKmv(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      graft.functions.SketchFunctions.kmvDistinct(col("l_partkey")).as("kmv_parts"),
      graft.functions.SketchFunctions.kmvDistinct(col("l_orderkey")).as("kmv_orders"))

  /** Semi-structured extraction: parse the events `props` JSON column
    * with a schema'd `from_json` and aggregate on the extracted field.
    * (The oracle mirrors the extraction with a regexp so it does not
    * depend on DuckDB's JSON extension being loadable offline.)
    */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    t(s, dir, "events")
      .select(col("event_type"), from_json(col("props"), schema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  /** Recursive CTE (Spark 4's `WITH RECURSIVE`, executed as an
    * iterated UnionLoop): each customer walks the synthetic ancestor
    * chain custkey → custkey div 10 → … until the root band (< 10) —
    * a data-driven hierarchy traversal (org chart / BOM explosion
    * shape) the one-shot relational algebra can't express. Depth is
    * log10(max key) ≈ 6 rounds, each round a distributed scan of the
    * previous frontier — the engine-level guard is
    * spark.sql.cteRecursionLevelLimit/RowLimit. Oracle: DuckDB's own
    * WITH RECURSIVE over the same arithmetic.
    */
  def qRecursiveCte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_rc")
    s.sql("""
      WITH RECURSIVE chain (node, anc, depth) AS (
        SELECT c_custkey, c_custkey, 0 FROM customer_rc
        UNION ALL
        SELECT node, anc div 10, depth + 1 FROM chain WHERE anc >= 10
      )
      SELECT depth, count(*) AS n, sum(node) AS sum_node,
             sum(anc) AS sum_anc
      FROM chain GROUP BY depth
    """)
  }

  /** VARIANT semi-structured analytics (Spark 4's open binary JSON
    * encoding: parse once, typed path extraction with NO declared
    * schema — the shape lives in the data, unlike [[qJsonExtract]]'s
    * from_json + StructType): each order renders to a nested JSON
    * document, parses to a variant, and the query filters and
    * aggregates ON typed extractions — `$.cust.st` two levels down,
    * `$.price` as double, `$.k` as long, plus a missing path through
    * try_variant_get (NULL, never an error). Scale: parse_json /
    * variant_get are row-local expressions (no shuffle added), and
    * the variant encoding is columnar-shreddable, so extraction obeys
    * the same projection discipline as any flat column at 100 TB.
    * Oracle: DuckDB replays the algebra on the flat columns —
    * hash-green means every extraction round-tripped losslessly
    * through JSON text → variant binary → typed value.
    */
  def qVariant(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val v = o.select(parse_json(to_json(struct(
      col("o_orderkey").as("k"),
      struct(col("o_custkey").as("id"), col("o_orderstatus").as("st"))
        .as("cust"),
      col("o_totalprice").as("price")))).as("v"))
    v.select(
        variant_get(col("v"), "$.cust.st", "string").as("status"),
        variant_get(col("v"), "$.price", "double").as("price"),
        variant_get(col("v"), "$.k", "long").as("okey"),
        try_variant_get(col("v"), "$.absent", "string").as("absent"))
      .filter(pmod(col("okey"), lit(3)) === 0)
      .groupBy("status")
      .agg(round(sum("price"), 2).as("total_price"),
        count(lit(1)).as("n"),
        count(col("absent")).as("n_absent"))
  }

  // ------------------------------------------------------ text analysis

  def qTxtTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))

  def qTxtQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.punctCount(col("text")).as("n_punct"),
      TextFunctions.stopwordCount(col("text")).as("n_stop"),
      TextFunctions.qualityScore(col("text")).as("quality"))

  def qTxtLangid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.langId(col("text")).as("lang_pred"))

  def qTxtFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fingerprint"))

  /** BPE-ish subword token counts next to whitespace tokens. */
  def qTxtBpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_ws"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe"))

  /** Karp-Rabin rolling fingerprint (portable polynomial hash —
    * DuckDB reproduces it with list_reduce, so the native codegen
    * expression is oracle-checked byte for byte).
    */
  def qTxtRollhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.rollingHash(col("text")).as("rh"))

  /** Winnowing fingerprint selection (k=8-gram Karp-Rabin hashes,
    * w=4 window minima) — oracle-checked via the closed polynomial
    * form (stepwise mod ≡ mod of the full polynomial).
    */
  def qTxtWinnow(s: SparkSession, dir: String): DataFrame =
    TextFunctions.winnowStats(t(s, dir, "documents"), k = 8, w = 4)

  /** Repetition quality stats (C4/Gopher-style): per-doc unigram and
    * bigram term-frequency summaries from the one-pass native
    * expression — callers gate on 1 − uniq/n (duplicate fraction) and
    * top/n (top-term occupancy). Counts as BIGINT so the oracle
    * compares exactly.
    */
  def qTxtRepetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        TextFunctions.repetitionStats(col("text")).as("u"),
        TextFunctions.repetitionStats(col("text"), 2).as("b"))
      .select(
        col("doc_id"),
        col("u.n_terms").cast("long").as("n_tokens"),
        col("u.n_distinct").cast("long").as("uniq_tokens"),
        col("u.top_count").cast("long").as("top_token_n"),
        col("b.n_distinct").cast("long").as("uniq_bigrams"),
        col("b.top_count").cast("long").as("top_bigram_n"))

  /** Deterministic 80/10/10 train/val/test split
    * (RelationalOps.hashSplit, portable rolling-hash mode): membership
    * is a pure function of doc_id, so re-runs, engines and incremental
    * batches all agree. Integer weights (8/1/1) keep the cumulative
    * boundaries exact doubles, so the oracle's comparisons are
    * bitwise identical.
    */
  def qSplitHash(s: SparkSession, dir: String): DataFrame =
    RelationalOps.hashSplit(
      t(s, dir, "documents"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0),
      Seq("doc_id"),
      portableHash = true)
      .select(col("doc_id"), col("split"))

  /** Sliding-window chunking (TextFunctions.chunkDocuments): 32-token
    * windows, 8-token overlap — every doc contributes ≥1 chunk,
    * adjacent chunks share the overlap. Reproduced in DuckDB with
    * list slicing.
    */
  def qTxtChunks(s: SparkSession, dir: String): DataFrame =
    TextFunctions.chunkDocuments(
      t(s, dir, "documents"), chunkTokens = 32, overlapTokens = 8)

  /** PII redaction (TextFunctions.redactPii). The synthetic corpus
    * carries no PII, so the query SYNTHESIZES it deterministically
    * from doc_id (an email, a URL, a long id number prefixed to the
    * text) — both engines build the identical dirty string, so the
    * oracle hash checks the actual replacement behavior, not an
    * identity transform.
    */
  def qTxtRedact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.redactPii(concat(
        lit("contact u"), col("doc_id").cast("string"),
        lit("@mail-example.org or https://ex.example/"), col("doc_id").cast("string"),
        lit("/x id "), (col("doc_id") * 1234567).cast("string"),
        lit(" :: "), col("text"))).as("clean"))

  /** Unigram-LM cross-entropy ([[graft.text.UnigramLm]]) — the CCNet
    * LM-quality-gate shape: train add-1-smoothed term probabilities
    * on the corpus, score every doc by −avg(ln p). Counts and ln
    * only, so the whole train+score pipeline replays in DuckDB.
    */
  def qTxtXent(s: SparkSession, dir: String): DataFrame =
    graft.text.UnigramLm.scoreSelf(t(s, dir, "documents"))

  /** DSIR importance weights ([[graft.text.Dsir.importanceWeights]]):
    * every raw doc's log likelihood ratio against a target-domain
    * unigram model (target = every 7th doc — a deterministic stand-in
    * for "the domain sample"). Hash-green means the two smoothed
    * models, the OOV fallback and the per-doc ratio sum all land
    * exactly on DuckDB's independent computation.
    */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Dsir.importanceWeights(
      docs, docs.filter(pmod(col("doc_id"), lit(7)) === 0))
  }

  /** DSIR Gumbel-top-k RESAMPLE ([[graft.text.Dsir.resample]]): a
    * without-replacement sample ∝ exp(logw) under hash-seeded
    * (md5-portable, fully deterministic) Gumbel noise — the actual
    * DSIR estimator, reproducible enough for an external engine to
    * draw the SAME sample. Hash-green = DuckDB draws it.
    */
  def qDsirResample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.text.Dsir.resample(
      docs, docs.filter(pmod(col("doc_id"), lit(7)) === 0), k = 100)
  }

  /** BM25 lexical retrieval ([[graft.text.Bm25]]) — top-10 docs for a
    * fixed query set under Okapi BM25 (k1=1.2, b=0.75, Lucene idf).
    * The postings never shuffle at query time: the tiny query-term
    * set broadcasts, a semi-join prunes the scan, and the per-query
    * ranking is the map-side k-heap. Scores round to 4 decimals
    * BEFORE ranking so tied docs order by doc_id identically in both
    * engines.
    */
  def qBm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (0, "fast table scan"),
      (1, "window merge batch"),
      (2, "stream filter group sort"),
      (3, "vector hash join")).toDF("query_id", "query_text")
    graft.text.Bm25.topK(t(s, dir, "documents"), queries, k = 10)
  }

  /** The BM25 index LIFECYCLE as a behavioral oracle (the q_ann_ingest
    * discipline): create from doc_id < 250, ingest an OVERLAPPING
    * batch (200-349 — 50 docs already indexed), replay the same batch
    * (must be a no-op), then rank the fixed query set from the SAVED
    * index — bucket-pruned scan, ledger stats, registry-deduped
    * postings. Hash-green means the whole protocol (novelty anti-join
    * through the doc registry + bloom sidecar, ledger-summed N/avgdl,
    * partitioned postings) reproduces exact BM25 over the distinct
    * union, which DuckDB computes independently.
    */
  def qBm25Ingest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/bm25_ingest")
    // bloom sized near the actual per-shard registry count (the ×20
    // scale probe's lesson: an oversized sidecar costs every probe its
    // full width — 1M capacity is ~1.2 MB/cell against ~60 ids here)
    graft.text.Bm25Store.create(store, "bmq", docs.filter(col("doc_id") < 250),
      nBuckets = 16, nShards = 8, bloomIdsPerShard = 1L << 12)
    val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
    graft.text.Bm25Store.appendDocs(store, "bmq", batch)
    graft.text.Bm25Store.appendDocs(store, "bmq", batch) // replay: no-op
    val queries = Seq(
      (0, "fast table scan"), (1, "window merge batch"),
      (2, "stream filter group sort"), (3, "vector hash join"))
      .toDF("query_id", "query_text")
    graft.text.Bm25Store.topK(store, "bmq", queries, k = 10)
  }

  /** Deterministic content-hash sampling (md5-prefix bucket — the
    * reproducible, engine-portable alternative to rand()-based
    * sample()): keep the ~25% of docs whose first fingerprint nibble
    * is 0-3, report per-language survivor counts.
    */
  def qSampleHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))

  /** Stratified corpus mixing ([[graft.pipelines.TrainingDataPipeline
    * .stratifiedSampleHash]]): per-language keep rates (en 50%, de
    * 25%, everything else 10%) decided by a content-hash draw — the
    * deterministic mixture-reweighting pass a training-data pipeline
    * runs at corpus scale (map-only, no RNG, no shuffle). The oracle
    * evaluates the identical hex-threshold CASE in DuckDB.
    */
  def qSampleMixture(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.stratifiedSampleHash(
      t(s, dir, "documents"), "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))

  // ------------------------------------------------------------- dedup

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents")).select("fp", "keep_id", "dups")

  /** MinHash+LSH candidate pairs (no SQL oracle — Spark-hash based). */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(
      t(s, dir, "documents"),
      shingleWidth = 2, k = 64, bands = 16, threshold = 0.2)
      .orderBy("id_a", "id_b")

  /** Span-level exact substring dedup (Dedup.duplicateSpans — the
    * Lee et al. relational shape): duplicated 8-token spans over a
    * bounded doc subset, keep-first, overlaps merged. Fully
    * oracle-checked — grams, first-occurrence minima, and the
    * gaps-and-islands merge reproduce in DuckDB SQL.
    */
  def qDedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(t(s, dir, "documents").filter(col("doc_id") < 300), n = 8,
      hashGrams = false)

  /** [[qDedupSpans]] on the PRODUCTION shuffle shape — grams key the
    * shuffle as 8-byte longs instead of strings — with the xxhash64
    * digest swapped for the engine-portable md5-halves combine
    * (h1·2³⁰ + h2 ≤ 2⁶² — exact, overflow-free BIGINT arithmetic in
    * both engines, the cwSeedMins discipline), so the hashed path the
    * default runs is itself oracle-checked, not only spec-pinned
    * against the string mode.
    */
  def qDedupSpansMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpansKeyed(
      t(s, dir, "documents").filter(col("doc_id") < 300), n = 8,
      idCol = "doc_id", textCol = "text",
      keyOf = g => conv(substring(md5(g), 1, 8), 16, 10).cast("long") * lit(1073741824L) +
        conv(substring(md5(g), 9, 8), 16, 10).cast("long"))

  /** [[qDedupSpans]] applied: the cleaned text after excising every
    * non-first duplicated span occurrence.
    */
  def qDedupSpansClean(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicateSpans(t(s, dir, "documents").filter(col("doc_id") < 300), n = 8,
      hashGrams = false)

  /** Multi-scale duplicated-run stats ([[Dedup.dupRunStats]] — the
    * prefix-doubling, suffix-array-tight refinement): per doc, how
    * many positions start a duplicated ≥4-token window and the
    * longest duplicated run to ×2 resolution (widths 4·2^k, k<4).
    * String-signature twin — the full pipeline (multi-width window
    * streams, corpus-wide count≥2, per-position max) reproduces in
    * DuckDB SQL.
    */
  def qDedupRuns(s: SparkSession, dir: String): DataFrame =
    Dedup.dupRunStats(t(s, dir, "documents").filter(col("doc_id") < 300),
      n = 4, levels = 4, hashGrams = false)

  /** [[qDedupRuns]] on the PRODUCTION shuffle shape — 8-byte long
    * signatures — with xxhash64 swapped for the engine-portable
    * md5-halves digest of each wide window (h1·2³⁰+h₂, exact BIGINT
    * arithmetic in both engines). The doubling RECURRENCE itself is
    * spec-pinned hashed ≡ string (DedupSpec); this oracles the hashed
    * key-width path end to end.
    */
  def qDedupRunsMd5(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
    val md5Half = (g: Column) =>
      conv(substring(md5(g), 1, 8), 16, 10).cast("long") * lit(1073741824L) +
        conv(substring(md5(g), 9, 8), 16, 10).cast("long")
    // direct per-width signatures (no doubling — md5 of the wide gram
    // is what DuckDB can replay); union the four width streams
    val base = docs
      .select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 4)
    val leveled = (0 until 4).map { k =>
      val w = 4 << k
      base
        .filter(size(col("toks")) >= w)
        .select(col("id"), lit(k).as("lvl"), posexplode(transform(
          sequence(lit(0), size(col("toks")) - w),
          i => md5Half(array_join(slice(col("toks"), i + 1, lit(w)), " "))))
          .as(Seq("pos", "sig")))
    }.reduce(_ unionAll _)
    val dup = leveled.groupBy("lvl", "sig")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select("lvl", "sig")
    leveled.join(dup, Seq("lvl", "sig"))
      .groupBy(col("id"), col("pos"))
      .agg(max(expr("4 * shiftleft(1, lvl)")).cast("int").as("run_len"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_pos"), max(col("run_len")).as("max_run"))
      .select(col("id").as("doc_id"), col("n_dup_pos"), col("max_run"))
  }

  /** SimHash signatures per doc (no SQL oracle — xxhash64 based). */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      Dedup.simhash(col("text")).as("simhash"))

  /** Exact char-3-gram Jaccard over a bounded all-pairs subset —
    * oracle-checked (DuckDB substr n-grams agree with the native
    * CharNGrams expression on ASCII text). The LSH-candidates variant
    * of the same verify stage runs inside the cleaning pipeline and
    * DedupSpec; this query pins the *math* against a second engine.
    */
  def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").filter(col("doc_id") < 60)
      .select(col("doc_id").as("id"),
        array_distinct(TextFunctions.charShingles(col("text"), 3)).as("sh"))
    d.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(broadcast(d.select(col("id").as("id_b"), col("sh").as("sh_b"))),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("j"))
      .filter(col("j") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
  }

  /** Portable-hash MinHash (md5-seeded, k=16, char-4-gram shingles)
    * over a bounded doc subset: per-seed signature minima, then pairs
    * by count of agreeing minhash rows — the whole MinHash pipeline
    * reproduced in DuckDB SQL, so the LSH math itself is
    * oracle-checked (the production path keeps the faster xxhash64
    * native expression).
    */
  def qDedupMinhashMd5(s: SparkSession, dir: String): DataFrame =
    md5MinhashAgree(s, dir, minAgree = 4)

  /** Shared portable-hash MinHash pair builder (docs with id < 200):
    * (id_a, id_b, n_agree) by count of agreeing md5 minhash rows.
    */
  private def md5MinhashAgree(s: SparkSession, dir: String, minAgree: Int): DataFrame =
    md5MinhashAgreeOver(
      t(s, dir, "documents").filter(col("doc_id") < 200), minAgree)

  /** Per-seed minhash minima from ONE md5 digest per gram: the digest
    * splits into two 32-bit halves (h1, h2) and seed i's hash is the
    * Carter-Wegman combine h1 + i·h2 — a pairwise-independent family,
    * the textbook minhash seeding — instead of 16 separate seeded
    * digests. Measured honestly at sf0.1: the sig aggregation drops
    * only ~10% (0.62 → 0.55 s steady-state) — the wide 16-min
    * hash-aggregate over the gram stream dominates, not the digests —
    * but the hash values shrink from 32-char strings to longs, which
    * also thins every downstream band key, shuffle row and agree
    * compare. Values stay ≤ 2^36 so 64-bit signed arithmetic is exact
    * and overflow-free in BOTH engines (DuckDB BIGINT traps on
    * overflow — wrap semantics would not be portable). The DuckDB twin
    * computes the identical expression via
    * CAST('0x'||substr(md5(gram),..) AS BIGINT), so the oracle still
    * matches hash-for-hash.
    */
  private def cwSeedMins: Seq[Column] = {
    val h1 = conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(md5(col("gram")), 9, 8), 16, 10).cast("long")
    (0 until 16).map(i => min(h1 + lit(i.toLong) * h2).as(s"mh_$i"))
  }

  /** [[md5MinhashAgree]] over an arbitrary documents frame. */
  private def md5MinhashAgreeOver(docs: DataFrame, minAgree: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id").as("id"),
        explode(array_distinct(TextFunctions.charShingles(col("text"), 4))).as("gram"))
    // all 16 per-seed minima in ONE wide aggregation over the gram rows
    // (map-side partial min per seed) instead of exploding a 16× row
    // copy per gram; the tiny (id × 16) unpivot happens after the agg.
    val seedMins = cwSeedMins
    val sig = grams.groupBy("id").agg(seedMins.head, seedMins.tail: _*)
      .select(col("id"), explode(array((0 until 16).map(i =>
        struct(lit(i).as("s"), col(s"mh_$i").as("mh"))): _*)).as("r"))
      .select(col("id"), col("r.s").as("s"), col("r.mh").as("mh"))
    sig.select(col("s"), col("mh"), col("id").as("id_a"))
      .join(sig.select(col("s"), col("mh"), col("id").as("id_b")), Seq("s", "mh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_agree"))
      .filter(col("n_agree") >= minAgree)
  }

  /** Recall of the production MinHash-LSH candidate pass against
    * EXACT word-3-shingle Jaccard truth on a bounded subset: true
    * pairs are all pairs with exact J >= 0.7 (all-pairs over 200
    * docs); a true pair is recalled if the banded candidate pass
    * (est-jaccard threshold 0.5 — margin for the k=64 estimator's
    * noise) surfaced it. One row (truth_pairs, hits, recall);
    * DedupSpec gates recall >= 0.9. Rows-only for the driver — the
    * estimate depends on Spark-internal xxhash64.
    */
  def qDedupMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    val sh = docs.select(col("doc_id").as("id"),
      array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
    val truth = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(broadcast(sh.select(col("id").as("id_b"), col("sh").as("sh_b"))),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("j"))
      .filter(col("j") >= 0.7)
    val cand = Dedup.minhashCandidates(docs, threshold = 0.5)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    truth.join(cand, Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("truth_pairs"),
        sum(coalesce(col("hit"), lit(0))).as("hits"),
        round(sum(coalesce(col("hit"), lit(0))) / count(lit(1)), 4).as("recall"))
  }

  /** Connected-component dedup (Dedup.componentDedup — the fixpoint
    * variant's core) over the portable md5-minhash candidate graph,
    * so the min-label-propagation logic itself is pinned against a
    * second engine (DuckDB WITH RECURSIVE reachability closure):
    * surviving doc ids = each component's minimum. minAgree=10
    * (est-jaccard 0.625) — the template-generated corpus is near-fully
    * connected at lower bars, which would collapse to one component
    * and exercise nothing.
    */
  def qDedupFixpointMd5(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    Dedup.componentDedup(docs, md5MinhashAgree(s, dir, minAgree = 10)).select("doc_id")
  }

  /** [[qDedupFixpointMd5]] on the alternating large-star/small-star
    * algorithm (Dedup.componentDedupStar — the O(log n)-round opt-in
    * for chain-shaped duplicate graphs). Same candidate graph, same
    * recursive-closure oracle: both component algorithms must keep
    * exactly each component's minimum id, so a divergence between the
    * two is caught twice (here vs DuckDB, and star vs label in
    * DedupSpec).
    */
  def qDedupFixpointStar(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    Dedup.componentDedupStar(docs, md5MinhashAgree(s, dir, minAgree = 10)).select("doc_id")
  }

  /** Incremental dedup rule on the portable md5 pipeline: existing
    * corpus = docs 0-99 (kept as-is), incoming batch = docs 100-199;
    * an incoming doc survives unless a smaller-id doc (existing or
    * already-kept batch) shares its fingerprint, or the md5-minhash
    * candidate graph over the exact survivors pairs it with any
    * smaller id. Pins the SEMANTICS of Dedup.minhashDedupIncremental
    * (whose production path — asymmetric bucket pruning, xxhash sigs —
    * is spec-tested) against the DuckDB oracle.
    */
  def qDedupIncrementalMd5(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    val fps = docs.select(col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp"))
    val exactDrop = fps.as("f")
      .join(fps.as("g"),
        col("f.fp") === col("g.fp") && col("g.doc_id") < col("f.doc_id"),
        "left_semi")
      .filter(col("doc_id") >= 100)
      .select("doc_id")
    val survivors = docs.join(exactDrop, Seq("doc_id"), "left_anti")
    val nearDrop = md5MinhashAgreeOver(survivors, minAgree = 10)
      .filter(col("id_b") >= 100)
      .select(col("id_b").as("doc_id")).distinct()
    survivors.filter(col("doc_id") >= 100)
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }

  /** The STATE-BACKED incremental dedup lifecycle (DedupState: init →
    * ingestBatch → read back), hash-checked end to end on the portable
    * md5 pipeline: the signature expression is injected as the
    * Carter-Wegman md5 formulation (16 one-row bands ≡ the oracle's
    * per-seed equality join; est-jaccard 10/16 = 0.625, exact in
    * binary), so the surviving corpus the sharded state tables produce
    * must equal q_dedup_incremental_md5's survivors plus the seeded
    * corpus — the same rule, computed through fingerprint-sharded
    * `__docs`, band-sharded `__bands`, and two idempotent kernel
    * appends instead of an O(corpus) rescan. The production xxhash
    * path is gated by DedupStateSpec's exact-equivalence to
    * minhashDedupIncremental and the streamed DedupIngestSpec.
    */
  def qDedupStreamMd5(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/dedupstream")
    // one md5 per gram (the digest pair is the aggregate's INPUT
    // array, evaluated once — not inside the per-seed lambda, which
    // would re-digest 16×: the minhashSignature history's exact trap)
    val cwSig: Column => Column = txt =>
      aggregate(
        transform(array_distinct(TextFunctions.charShingles(txt, 4)),
          g => struct(
            conv(substring(md5(g), 1, 8), 16, 10).cast("long").as("h1"),
            conv(substring(md5(g), 9, 8), 16, 10).cast("long").as("h2"))),
        array_repeat(lit(Long.MaxValue), 16),
        (acc, h) => zip_with(acc, sequence(lit(0L), lit(15L)),
          (a, i) => least(a, h("h1") + i * h("h2"))))
    val p = graft.dedup.DedupState.Params(
      k = 16, bands = 16, threshold = 0.625,
      maxBucket = 1000000000, nShards = 8, sigOf = Some(cwSig))
    graft.dedup.DedupState.init(
      store, "ds", docs.filter(col("doc_id") < 100), p = p)
    graft.dedup.DedupState.ingestBatch(
      store, "ds", docs.filter(col("doc_id") >= 100), p = p)
    store.read(graft.dedup.DedupState.docsTable("ds")).select(col("doc_id"))
  }

  /** Duplicate-cluster statistics (Dedup.componentLabels): one row per
    * connected component of the candidate graph with its size and id
    * range — the dedup observability rollup (what got merged, how
    * big). Oracle: the recursive closure's per-node labels aggregated.
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.componentLabels(md5MinhashAgree(s, dir, minAgree = 10))
      .groupBy("label")
      .agg(count(lit(1)).as("members"), min("node").as("min_id"), max("node").as("max_id"))

  /** Canonical-document selection (Dedup.componentRepresentatives):
    * one surviving doc per near-dup cluster of the portable md5
    * candidate graph, chosen by QUALITY (ties to min id) instead of
    * min id — the curation-grade variant of component dedup. Oracle:
    * the recursive closure's labels + a quality-ordered row_number,
    * both formulas already pinned by q_dedup_fixpoint_md5 and
    * q_txt_quality.
    */
  def qDedupRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    Dedup.componentRepresentatives(
      docs, md5MinhashAgree(s, dir, minAgree = 10),
      scoreExpr = TextFunctions.qualityScore(col("text")))
      .select(col("cluster"), col("doc_id"))
  }

  /** Deterministic weighted interleave (TrainingDataPipeline
    * .interleaveByWeight): three synthetic sources (doc_id % 3) with
    * weights 1/2/4 — ordering by interleave_key yields the 1:2:4
    * proportional mixing order. The key arithmetic ((pos-0.5)/w with
    * exactly-representable weights) reproduces bit-identically in
    * DuckDB.
    */
  def qInterleave(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.interleaveByWeight(
      t(s, dir, "documents"),
      col("doc_id") % 3,
      Map("0" -> 1.0, "1" -> 2.0, "2" -> 4.0),
      orderCols = Seq(col("doc_id")))
      .select("doc_id", "grp", "pos", "interleave_key")

  /** Portable-hash SimHash twin (16-bit, md5-derived bit votes over
    * the token multiset) — the SimHash math (hash → ±1 votes → sign →
    * bit pack) reproduced in DuckDB SQL; the production path keeps the
    * 64-bit xxhash64 native expression. Bit j's vote for a token is
    * the parity of hex digit j of md5(token).
    */
  def qDedupSimhashMd5(s: SparkSession, dir: String): DataFrame =
    md5Simhash16(s, dir)

  /** Shared 16-bit md5 SimHash signatures for docs with id < 200. */
  private def md5Simhash16(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
    val votes = toks
      .select(col("doc_id"), explode(sequence(lit(1), lit(16))).as("j"), col("tok"))
      .groupBy("doc_id", "j")
      .agg(sum(ascii(md5(col("tok")).substr(col("j"), lit(1))) % 2 * 2 - 1).as("v"))
    votes
      .groupBy("doc_id")
      .agg(sum(when(col("v") >= 0, pow(lit(2), col("j") - 1).cast("long"))
        .otherwise(lit(0L))).as("simhash16"))
  }

  /** The banded SimHash candidate path (Dedup.simhashBandedPairs — the
    * same band-explode / bucket-pair / Hamming-filter code the 64-bit
    * production query runs) driven by the 16-bit md5 signatures, 4
    * bands × 4 bits, maxHamming 3. The pigeonhole bound makes the
    * banded output CLOSED-FORM at this setting — exactly the all-pairs
    * Hamming-≤3 ball — so the whole band machinery is hash-checked
    * against a trivially-correct DuckDB oracle (xor + bit_count over
    * the same signatures): the bands may not DROP a ≤3 pair (every such
    * pair shares a band) and may not ADD one past the filter.
    * maxBucket 1000 > the 200-doc population, so the hot-bucket guard
    * provably never fires here.
    */
  def qDedupSimhashPairsMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashBandedPairs(
      md5Simhash16(s, dir).select(col("doc_id").as("id"), col("simhash16").as("sig")),
      sigBits = 16, nBands = 4, maxHamming = 3, maxBucket = 1000)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))

  /** Embedding-cosine near-duplicate pairs, exact over a bounded
    * subset (the oracle-checkable baseline; Ann.cosineNearDupPairs is
    * the LSH-bucketed scale path for the same operator).
    */
  def qDedupEmbcos(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      .join(broadcast(e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Ann.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** TF-IDF keyword extraction ([[graft.text.Tfidf]]): each doc's 5
    * highest-scoring terms by length-normalized tf × smoothed idf,
    * rounded-then-ranked with a term tiebreak (the deterministic BM25
    * convention), reduced through the map-side k-heap — no window.
    */
  def qTxtTfidf(s: SparkSession, dir: String): DataFrame =
    graft.text.Tfidf.topTerms(t(s, dir, "documents"), k = 5)

  /** Hybrid retrieval ([[graft.similarity.Hybrid]]): RRF-fuse BM25
    * lexical top-20 with brute-force cosine top-20 (query vectors =
    * embeddings 0..3, paired with the BM25 query ids), then take the
    * fused top-10. Rank arithmetic only — both source rankings are
    * themselves oracle-checked queries, and the fused score
    * 1/(60+r) sums are exact doubles, so the whole two-retriever
    * stack is hash-checkable end to end.
    */
  def qHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = Seq(
      (0L, "fast table scan"),
      (1L, "window merge batch"),
      (2L, "stream filter group sort"),
      (3L, "vector hash join")).toDF("query_id", "query_text")
    val lex = graft.text.Bm25.topK(t(s, dir, "documents"), queries, k = 20)
    val emb = t(s, dir, "embeddings")
    val vec = graft.similarity.Ann
      .bruteForceTopK(emb.filter(col("vec_id") < 4), emb, k = 20)
      .withColumnRenamed("neighbor_id", "doc_id")
    graft.similarity.Hybrid.rrfFuse(Seq(lex, vec), k = 10)
  }

  /** Incremental rollup maintenance ([[graft.ops.RollupStore]]) as a
    * behavioral gate: init from the even-orderkey half of lineitem,
    * fold in the odd half, replay the fold (must be detected and
    * skipped — aggregation is not idempotent), then finalize. The
    * corpus is scanned only to BUILD batch partials; the refresh
    * itself reads and rewrites only the touched key shards.
    * Hash-green means the whole merge discipline — mergeable
    * (count,sum,min,max) state, KMV-sketch distinct state (exact
    * below k, so COUNT(DISTINCT) oracles it at this scale),
    * content-keyed replay detection, atomic shard rewrite, derived
    * avg — reproduces the one-shot GROUP BY DuckDB computes over the
    * full table.
    */
  def qAggIncremental(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/rollup_inc")
    val keys = Seq("l_partkey")
    val ms = Seq("l_quantity", "l_extendedprice")
    val dms = Seq("l_suppkey", "l_orderkey")
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    graft.ops.RollupStore.init(store, "inc", b1, keys, ms, nShards = 16,
      distinctMeasures = dms)
    graft.ops.RollupStore.ingest(store, "inc", b2, keys, ms, distinctMeasures = dms)
    graft.ops.RollupStore.ingest(store, "inc", b2, keys, ms, distinctMeasures = dms) // replay: no-op
    graft.ops.RollupStore.finalize(store, "inc", ms, distinctMeasures = dms)
      .select(col("l_partkey"), col("n"),
        col("sum_l_quantity").as("sum_qty"),
        col("min_l_quantity").as("min_qty"),
        col("max_l_quantity").as("max_qty"),
        round(col("sum_l_extendedprice"), 2).as("sum_price"),
        col("avg_l_quantity").as("avg_qty"),
        col("ndv_l_suppkey").as("ndv_supp"),
        col("ndv_l_orderkey").as("ndv_ord"))
  }

  /** Reshard lifecycle gate: init at 4 shards from the even half,
    * grow to 16 ([[graft.ops.RollupStore.reshard]] — generation
    * rewrite + single-meta-row publish), then fold the odd half under
    * the NEW shard map. Hash-green proves resharding moves every
    * state row consistently (a key split across cells would surface
    * as duplicate key rows here) and that post-reshard ingest merges
    * against the re-celled state.
    */
  def qAggReshard(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/rollup_resh")
    val keys = Seq("l_partkey")
    val ms = Seq("l_quantity")
    val dms = Seq("l_suppkey")
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    graft.ops.RollupStore.init(store, "resh", b1, keys, ms, nShards = 4,
      distinctMeasures = dms)
    graft.ops.RollupStore.reshard(store, "resh", keys, 16)
    graft.ops.RollupStore.ingest(store, "resh", b2, keys, ms, distinctMeasures = dms)
    graft.ops.RollupStore.finalize(store, "resh", ms, distinctMeasures = dms)
      .select(col("l_partkey"), col("n"),
        col("sum_l_quantity").as("sum_qty"),
        col("avg_l_quantity").as("avg_qty"),
        col("ndv_l_suppkey").as("ndv_supp"))
  }

  /** Heavy-hitter rollup state ([[graft.functions.HeavyHitterFunctions]]
    * through [[graft.ops.RollupStore]]): the q_agg_incremental
    * lifecycle with a Misra-Gries top-k column — init from the even
    * half, fold the odd half, replay detected, finalize the ranked
    * (count desc, key asc) supplier top-5 per return flag. sf0.1
    * lineitem holds 1000 distinct suppliers per flag, so the sketch
    * is built with k=2048 — above the domain, NO decrement ever
    * fires and the counters are EXACT — so the whole
    * mergeable-summaries fold (partial sketch per batch, union into
    * stored state across two ingests) must reproduce DuckDB's
    * one-shot GROUP BY + rank. Output is exploded to flat
    * (flag, n, sum_qty, rank, supp, cnt) rows so any row-comparison
    * harness can sort/hash it (array cells are unsortable in pandas).
    */
  def qAggTopk(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/rollup_topk")
    val keys = Seq("l_returnflag")
    val ms = Seq("l_quantity")
    val tms = Seq("l_suppkey")
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    graft.ops.RollupStore.init(store, "topk", b1, keys, ms, nShards = 4,
      topkMeasures = tms, topkK = 2048)
    graft.ops.RollupStore.ingest(store, "topk", b2, keys, ms, topkMeasures = tms)
    graft.ops.RollupStore.ingest(store, "topk", b2, keys, ms, topkMeasures = tms) // replay
    graft.ops.RollupStore.finalize(store, "topk", ms, topkMeasures = tms, topJ = 5)
      .select(col("l_returnflag"), col("n"),
        col("sum_l_quantity").as("sum_qty"),
        posexplode(arrays_zip(
          col("topk_keys_l_suppkey").as("k"),
          col("topk_counts_l_suppkey").as("c"))))
      .select(col("l_returnflag"), col("n"), col("sum_qty"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.k").as("top_supp"), col("col.c").as("top_supp_n"))
  }

  /** Streaming-path gate for the sketch state families (VERDICT r8
    * missing #3): the actual foreachBatch sink
    * ([[graft.streaming.RollupIngest.rollupSink]]) folds two epochs
    * of lineitem — with a re-delivered epoch in between, which the
    * epoch stamp (not content) must recognize and skip — carrying
    * BOTH a Misra-Gries top-k and a log-binned quantile measure.
    * The finalized read must equal DuckDB's one-shot GROUP BY: both
    * sketches are in their exact regimes (k=2048 > 1000 suppliers
    * per flag; 50 distinct quantities < 512 bins).
    */
  def qAggStream(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/rollup_stream")
    val keys = Seq("l_returnflag")
    val ms = Seq("l_quantity")
    val sink = graft.streaming.RollupIngest.rollupSink(store, "st", keys, ms,
      nShards = 4, topkMeasures = Seq("l_suppkey"), topkK = 2048,
      quantileMeasures = Seq("l_quantity"))
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    sink(b1, 0L)
    sink(b2, 1L)
    sink(b2, 1L) // re-delivered epoch 1: skipped by the epoch stamp
    graft.ops.RollupStore.finalize(store, "st", ms,
      topkMeasures = Seq("l_suppkey"), topJ = 5,
      quantileMeasures = Seq("l_quantity"), quantiles = Seq(0.5))
      .select(col("l_returnflag"), col("n"),
        col("sum_l_quantity").as("sum_qty"), col("p50_l_quantity"),
        posexplode(arrays_zip(
          col("topk_keys_l_suppkey").as("k"),
          col("topk_counts_l_suppkey").as("c"))))
      .select(col("l_returnflag"), col("n"), col("sum_qty"),
        col("p50_l_quantity"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.k").as("top_supp"), col("col.c").as("top_supp_n"))
  }

  /** Quantile rollup state ([[graft.functions.QuantileFunctions]]
    * through [[graft.ops.RollupStore]]): the incremental lifecycle
    * with a log-binned quantile sketch column. l_quantity holds 50
    * distinct values — far under the 512-bin capacity — so the state
    * stays an EXACT value histogram through both folds and the p50/p90
    * reads are exact rank-⌈q·N⌉ values, which plain window SQL
    * reproduces in DuckDB (no quantile-function semantics to match).
    */
  def qAggQuantile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/rollup_q")
    val keys = Seq("l_returnflag")
    val ms = Seq("l_quantity")
    val qms = Seq("l_quantity")
    val b1 = li.filter(pmod(col("l_orderkey"), lit(2)) === 0)
    val b2 = li.filter(pmod(col("l_orderkey"), lit(2)) === 1)
    graft.ops.RollupStore.init(store, "q", b1, keys, ms, nShards = 4,
      quantileMeasures = qms)
    graft.ops.RollupStore.ingest(store, "q", b2, keys, ms, quantileMeasures = qms)
    graft.ops.RollupStore.ingest(store, "q", b2, keys, ms, quantileMeasures = qms) // replay
    graft.ops.RollupStore.finalize(store, "q", ms, quantileMeasures = qms,
      quantiles = Seq(0.5, 0.9))
      .select(col("l_returnflag"), col("n"),
        col("sum_l_quantity").as("sum_qty"),
        col("p50_l_quantity"), col("p90_l_quantity"))
  }

  /** Type-2 SCD history ([[graft.ops.Scd2]]) as a behavioral gate:
    * three deterministic snapshot versions of the customer dimension —
    * a segment rewrite at v2 (plus ten brand-new keys), a balance
    * bump at v3 — merged incrementally, then the FULL history view
    * (every version with its validity interval). Hash-green means the
    * whole mechanism — null-safe change classification, append-only
    * closed rows keyed (key, valid_to), touched-shard current rewrite,
    * interval bookkeeping — reproduces the history DuckDB derives
    * directly from the three version definitions.
    */
  def qScd2(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .filter(col("c_custkey") < 300)
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/scd2")
    val keys = Seq("c_custkey")
    val attrs = Seq("c_mktsegment", "c_acctbal")
    val newRows = cust.filter(col("c_custkey") < 10).select(
      (col("c_custkey") + 10000).as("c_custkey"),
      lit("SEG_NEW").as("c_mktsegment"),
      col("c_custkey").cast("double").as("c_acctbal"))
    val v1 = cust
    val v2 = cust.withColumn("c_mktsegment",
      when(pmod(col("c_custkey"), lit(3)) === 0,
        concat(lit("SEG_"), pmod(col("c_custkey"), lit(5))))
        .otherwise(col("c_mktsegment")))
      .unionByName(newRows)
    val v3 = v2.withColumn("c_acctbal",
      when(pmod(col("c_custkey"), lit(4)) === 0, col("c_acctbal") + 10)
        .otherwise(col("c_acctbal")))
    graft.ops.Scd2.merge(store, "dim", v1, keys, attrs, version = 1, nShards = 8)
    graft.ops.Scd2.merge(store, "dim", v2, keys, attrs, version = 2)
    graft.ops.Scd2.merge(store, "dim", v3, keys, attrs, version = 3)
    graft.ops.Scd2.merge(store, "dim", v3, keys, attrs, version = 3) // replay: no-op
    graft.ops.Scd2.history(store, "dim")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** The SCD2 delete feed ([[graft.ops.Scd2.retire]]): the q_scd2
    * three-version lifecycle, then keys ≡ 0 (mod 7) retire at
    * version 4 (their current rows close with their last state;
    * replay is a no-op), and the full history view must show every
    * surviving key current, every retired key's final interval closed
    * at 4, and all earlier closed intervals untouched.
    */
  /** The mod-7 retire keys of the shared dim's v3 state — recomputed
    * (cheap) where a consumer needs the request batch itself.
    */
  private def scd2SharedDead(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .filter(col("c_custkey") < 300)
    cust.select(col("c_custkey"))
      .unionByName(cust.filter(col("c_custkey") < 10)
        .select((col("c_custkey") + 10000).as("c_custkey")))
      .filter(pmod(col("c_custkey"), lit(7)) === 0)
  }

  def qScd2Retire(s: SparkSession, dir: String): DataFrame = {
    // the shared dim ALREADY carries this retire at v4; re-issuing the
    // same request is exactly the crash-replay shape the gate asserts
    // (stamped no-op), and the history view is the query's output
    val store = scd2DimShared(s, dir)
    graft.ops.Scd2.retire(store, "dim", scd2SharedDead(s, dir),
      Seq("c_custkey"), version = 4) // replay: no-op
    graft.ops.Scd2.history(store, "dim")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Change-data-feed derived from the SCD2 history ([[graft.ops
    * .Scd2.changes]]) — the q_scd2_retire lifecycle (three merges +
    * a retire), then the FULL feed over (0, 4]: inserts at the version
    * each key appeared, update pre/post image pairs at each attribute
    * change, deletes at the retire. Hash-green means the open/close
    * full-outer derivation classifies every event exactly as DuckDB
    * derives it from the version definitions directly.
    */
  def qScd2Cdf(s: SparkSession, dir: String): DataFrame =
    // identical v1→v4 lifecycle to the MV family's shared dim: the
    // feed derivation is a pure read, so it consumes the one shared
    // build (the merges it would repeat are q_scd2's oracle-gated job)
    graft.ops.Scd2.changes(scd2DimShared(s, dir), "dim",
      Seq("c_custkey"), fromVersion = 0, toVersion = 4)

  /** Stored incremental materialized view ([[graft.ops.MvStore]] over
    * [[graft.ops.Scd2.changes]]) — the CDC consumer the feed exists
    * for: seed a (count, sum) MV per market segment from the
    * version-1 state (the only source scan the view ever takes), then
    * advance it version by version applying ONLY the signed change
    * deltas, with a replayed epoch the stamp probe must recognize.
    * Hash-green means three persisted touched-shard refreshes land
    * exactly on DuckDB's direct aggregate of the final state —
    * inserts/postimages added, preimages/deletes subtracted, segment
    * moves handled on both sides, retired keys' groups decremented.
    */
  /** The v1→v4 SCD2 dimension BOTH MV-family queries consume,
    * built once per process into a shared store — the realistic
    * warehouse shape (one dimension feeds many downstream views), and
    * the honest cost model: the merges' correctness is oracle-gated by
    * q_scd2/q_scd2_asof on their own stores, so paying the 4 merge
    * round-trips again per MV query measured nothing new. Read-only
    * after the build (the retire here closes rows; the vacuum/retire
    * lifecycle queries keep their own stores).
    */
  private val scd2DimBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def scd2DimShared(
      s: SparkSession, dir: String): graft.sources.ParquetStore = {
    val store =
      new graft.sources.ParquetStore(s, s"$indexQueryDir/scd2_dim_shared")
    scd2DimBuilt.computeIfAbsent(dir, _ => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .filter(col("c_custkey") < 300)
      val keys = Seq("c_custkey")
      val attrs = Seq("c_mktsegment", "c_acctbal")
      val newRows = cust.filter(col("c_custkey") < 10).select(
        (col("c_custkey") + 10000).as("c_custkey"),
        lit("SEG_NEW").as("c_mktsegment"),
        col("c_custkey").cast("double").as("c_acctbal"))
      val v1 = cust
      val v2 = cust.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(3)) === 0,
          concat(lit("SEG_"), pmod(col("c_custkey"), lit(5))))
          .otherwise(col("c_mktsegment")))
        .unionByName(newRows)
      val v3 = v2.withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(4)) === 0, col("c_acctbal") + 10)
          .otherwise(col("c_acctbal")))
      val dead = v3.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select("c_custkey")
      graft.ops.Scd2.merge(store, "dim", v1, keys, attrs, version = 1, nShards = 8)
      graft.ops.Scd2.merge(store, "dim", v2, keys, attrs, version = 2)
      graft.ops.Scd2.merge(store, "dim", v3, keys, attrs, version = 3)
      graft.ops.Scd2.retire(store, "dim", dead, keys, version = 4)
      java.lang.Boolean.TRUE
    })
    store
  }

  def qScd2Mv(s: SparkSession, dir: String): DataFrame = {
    val store = scd2DimShared(s, dir)
    val keys = Seq("c_custkey")
    val groups = Seq("c_mktsegment")
    val sums = Seq("c_acctbal")
    graft.ops.MvStore.init(store, "mv_sum",
      graft.ops.Scd2.asOf(store, "dim", 1), groups, sums, nShards = 8)
    // the (2,3] epoch is delivered twice IN SEQUENCE — the stamp
    // probe's contract (retry-before-advance, like foreachBatch):
    // a replay arriving after LATER epochs rewrote its shards is
    // outside the detection window by design
    Seq((1L, 2L), (2L, 3L), (2L, 3L), (3L, 4L)).foreach { case (a, b) =>
      graft.ops.MvStore.refresh(store, "mv_sum",
        graft.ops.Scd2.changes(store, "dim", keys, a, b), groups, sums,
        batchId = Some(s"v$a-$b"))
    }
    graft.ops.MvStore.read(store, "mv_sum")
      .select(col("c_mktsegment"), col("n"),
        round(col("sum_c_acctbal"), 2).as("sum_bal"))
  }

  /** The MV with MIN/MAX measures ([[graft.ops.MvStore]] with
    * `minMaxCols`) — the non-invertible-aggregate half of IVM:
    * additions grow the stored extremes in place (no source read),
    * while groups hit by a preimage/delete are marked dirty and
    * recomputed from the post-change dimension pruned to those
    * groups. The v3 balance bumps grow maxima; the v4 retire deletes
    * rows (possibly a group's extreme), forcing the dirty path.
    * Hash-green means both paths land exactly on DuckDB's direct
    * min/max of the final surviving state.
    */
  def qScd2MvMinmax(s: SparkSession, dir: String): DataFrame = {
    val store = scd2DimShared(s, dir)
    val keys = Seq("c_custkey")
    val groups = Seq("c_mktsegment")
    val sums = Seq("c_acctbal")
    val mm = Seq("c_acctbal")
    graft.ops.MvStore.init(store, "mv_mm",
      graft.ops.Scd2.asOf(store, "dim", 1), groups, sums, nShards = 8,
      minMaxCols = mm)
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).foreach { case (a, b) =>
      graft.ops.MvStore.refresh(store, "mv_mm",
        graft.ops.Scd2.changes(store, "dim", keys, a, b), groups, sums,
        batchId = Some(s"v$a-$b"), minMaxCols = mm,
        current = Some(graft.ops.Scd2.asOf(store, "dim", b)))
    }
    graft.ops.MvStore.read(store, "mv_mm")
      .select(col("c_mktsegment"), col("n"),
        round(col("sum_c_acctbal"), 2).as("sum_bal"),
        col("min_c_acctbal").as("min_bal"),
        col("max_c_acctbal").as("max_bal"))
  }

  /** Retention ([[graft.ops.Scd2.vacuum]]): the q_scd2_retire
    * lifecycle, then closed intervals ending at or before version 3
    * are physically dropped (a second vacuum is a no-op) — history
    * keeps every current row plus only the retire-closed intervals
    * (valid_to = 4). The oracle is q_scd2_retire's history minus the
    * vacuumed intervals.
    */
  def qScd2Vacuum(s: SparkSession, dir: String): DataFrame = {
    // vacuum MUTATES (drops closed history) — run it on a CLONE of the
    // shared dim so siblings still read the full history; the copy is
    // metadata-cheap beside the three merges it replaces
    scd2DimShared(s, dir)
    val conf = s.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$indexQueryDir/scd2_dim_shared")
    val dst = new org.apache.hadoop.fs.Path(s"$indexQueryDir/scd2_vac")
    val fs = src.getFileSystem(conf)
    fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    val store = new graft.sources.ParquetStore(s, dst.toString)
    graft.ops.Scd2.vacuum(store, "dim", beforeVersion = 3)
    graft.ops.Scd2.vacuum(store, "dim", beforeVersion = 3) // replay: no-op
    graft.ops.Scd2.history(store, "dim")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Temporal enrichment against the SCD2 history ([[graft.ops.Scd2
    * .asOfJoin]]) — THE query type-2 dimensions exist for: each fact
    * carries its own version, and the join selects the dimension row
    * whose validity interval covers it ("who was this customer when
    * the order shipped"). Same three-version lifecycle as q_scd2;
    * facts hit base keys at versions 1-3, new keys at 1-3 (version 1
    * precedes their introduction → NULL attributes, left semantics).
    * The oracle derives every as-of attribute from the version
    * definitions directly.
    */
  def qScd2Asof(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .filter(col("c_custkey") < 300)
    // the shared v1→v4 dim: every fact version here is ≤ 3, and the
    // v4 retire only closes intervals AT 4 (valid_to = 4 > any fv),
    // so the as-of resolution is bit-identical to a v1→v3 build
    val store = scd2DimShared(s, dir)
    val keys = Seq("c_custkey")
    val facts = cust
      .select(col("c_custkey"), (lit(1) + pmod(col("c_custkey"), lit(3))).cast("long").as("fv"))
      .unionByName(
        cust.filter(col("c_custkey") < 10)
          .select((col("c_custkey") + 10000).as("c_custkey"))
          .select(col("c_custkey"),
            (lit(1) + pmod(col("c_custkey"), lit(3))).cast("long").as("fv")))
    graft.ops.Scd2.asOfJoin(store, "dim", facts, keys, "fv")
      .select(col("c_custkey"), col("fv"), col("c_mktsegment"),
        col("c_acctbal"), col("valid_from"))
  }

  /** Windowed heavy hitters over the events stream shape: per
    * event-day window, the Misra-Gries top-3 event types with their
    * counts — the composition a streaming monitor runs (window
    * aggregation + mergeable frequency state). Event-type cardinality
    * is tiny, so the sketch is in its exact regime and DuckDB's
    * one-shot GROUP BY + rank reproduces it bit-for-bit. Output is
    * exploded to flat (day, n, rank, type, cnt) rows so any
    * row-comparison harness can sort/hash it.
    */
  def qEventsTopk(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(graft.functions.HeavyHitterFunctions
        .mgSketch(col("event_type"), k = 64).as("hh"),
        count(lit(1)).as("n"))
      .select(col("day"), col("n"),
        posexplode(arrays_zip(
          graft.functions.HeavyHitterFunctions.mgTopKeys(col("hh"), 64, 3).as("k"),
          graft.functions.HeavyHitterFunctions.mgTopCounts(col("hh"), 64, 3).as("c"))))
      .select(col("day"), col("n"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.k").as("top_type"), col("col.c").as("top_count"))
  }

  /** Per-window quantiles over the events stream shape: each
    * event-day's p50/p95 of `value` through the log-binned quantile
    * sketch. Daily value cardinality (~3k) sits far under the 8192-bin
    * capacity, so the state stays an exact histogram and the reads are
    * exact rank-⌈q·N⌉ doubles — window SQL reproduces them
    * bit-for-bit.
    */
  def qEventsQuantile(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(graft.functions.QuantileFunctions.qSketch(col("value"), 8192).as("qs"),
        count(lit(1)).as("n"))
      .select(col("day"), col("n"),
        graft.functions.QuantileFunctions.qQuantile(col("qs"), 0.5, 8192).as("p50_value"),
        graft.functions.QuantileFunctions.qQuantile(col("qs"), 0.95, 8192).as("p95_value"))
  }

  /** Z-order clustering key ([[graft.ops.ZOrder]]): the 8-bit Morton
    * interleave of (l_partkey, l_suppkey) min/max ranks per lineitem
    * row — the value [[graft.ops.ZOrder.cluster]] range-partitions
    * and sorts on to give every written file a tight hyper-rectangle.
    * Pure deterministic arithmetic (one min/max aggregate, scale,
    * floor, shift/mask interleave) the DuckDB twin replicates term by
    * term; the layout PROPERTY (per-file spans narrow on both
    * columns) is pinned by ZOrderSpec.
    */
  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    graft.ops.ZOrder.withZValue(li, Seq("l_partkey", "l_suppkey"), bits = 8, zCol = "z")
      .select(col("l_orderkey"), col("l_linenumber"), col("z"))
  }

  /** Zone-map pruned read ([[graft.ops.ZoneMap]]): cluster lineitem
    * by (l_partkey, l_suppkey), build the footer-only per-file
    * min/max manifest, then answer a 1/16-of-the-domain partkey range
    * through the manifest — candidate files driver-selected, residual
    * filter over the survivors only. Hash-green against the plain
    * filter proves the prune loses nothing (safety); ZoneMapSpec
    * separately proves it actually skips (the candidate list is a
    * small fraction of the files). Both range bounds derive from
    * min/max with integer arithmetic so DuckDB reproduces them
    * exactly.
    */
  def qZonemapPrune(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val zdir = s"$indexQueryDir/zonemap_layout"
    graft.ops.ZOrder.cluster(li, Seq("l_partkey", "l_suppkey"), numPartitions = 32)
      .write.mode("overwrite").parquet(zdir)
    val mf = graft.ops.ZoneMap.build(s, zdir, Seq("l_partkey", "l_suppkey"))
    val st = li.agg(min("l_partkey"), max("l_partkey")).head()
    val lo = st.getLong(0)
    val hi = lo + (st.getLong(1) - lo) / 16
    graft.ops.ZoneMap.prunedRead(s, zdir, mf, "l_partkey",
      lo.toDouble, hi.toDouble)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
  }

  /** Small-file compaction ([[graft.ops.Compact]]) as a behavioral
    * gate: splinter orders into 64 tiny files (a streaming sink's
    * 64-epoch tail), bin-pack them, run a REDUNDANT second pass (must
    * be a no-op — everything is already at target size), then read the
    * table back. Hash-green means the rewrite lost and duplicated
    * nothing: the packed table is byte-for-byte the same relation
    * DuckDB reads from the source. The file-count mechanics, the
    * untouched-big-files property, and crash recovery from both
    * failure windows are CompactSpec's.
    */
  def qCompact(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders")
    val path = s"$indexQueryDir/compact_orders"
    src.repartition(64).write.mode("overwrite").parquet(path)
    graft.ops.Compact.binPack(s, path,
      targetBytes = 8L << 20, smallBytes = 4L << 20)
    graft.ops.Compact.binPack(s, path,
      targetBytes = 8L << 20, smallBytes = 4L << 20) // no-op: already packed
    s.read.parquet(path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Targeted range delete ([[graft.ops.DeleteWhere.range]]) as a
    * behavioral gate: z-cluster a lineitem slice, delete a partkey
    * range (the zone-map manifest confines the rewrite to the files
    * that can hold it), REPLAY the same delete (must remove 0 more
    * rows), and read the survivors. Hash-green means the file surgery
    * removed exactly the range and nothing else — DuckDB derives the
    * survivor set from the predicate directly. File-locality,
    * NULL-semantics and crash behavior are DeleteWhereSpec's.
    */
  def qDeleteWhere(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val path = s"$indexQueryDir/delete_where"
    graft.ops.ZOrder.cluster(li, Seq("l_partkey", "l_suppkey"), numPartitions = 32)
      .write.mode("overwrite").parquet(path)
    val st = li.agg(min("l_partkey"), max("l_partkey")).head()
    val lo = st.getLong(0)
    val hi = lo + (st.getLong(1) - lo) / 16
    graft.ops.DeleteWhere.range(s, path, "l_partkey", lo.toDouble, hi.toDouble)
    graft.ops.DeleteWhere.range(s, path, "l_partkey", lo.toDouble, hi.toDouble) // replay: 0 rows
    s.read.parquet(path)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  /** GDPR-shaped key purge ([[graft.ops.DeleteWhere.byKeys]]): orders
    * laid out by key, a bloom file index built over it, then every
    * orderkey ≡ 0 (mod 997) — a driver-sized request batch, |keys| =
    * n/997 — purged through the index (only the files whose blooms
    * can hold a requested key rewrite). The surviving relation must
    * equal DuckDB's direct `WHERE o_orderkey % 997 <> 0`.
    */
  def qDeleteKeys(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/delete_keys"
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(path)
    val ix = graft.ops.BloomFileIndex.build(s, path, "o_orderkey")
    val keys: Seq[Any] = o.filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    graft.ops.DeleteWhere.byKeys(s, path, "o_orderkey", keys, Some(ix))
    s.read.parquet(path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Stats-pruned MERGE ([[graft.ops.UpsertWhere.byKeys]]): orders
    * laid out by key + bloom file index, then one update batch —
    * price doubled for every orderkey ≡ 0 (mod 991), plus brand-new
    * keys shifted by 10⁶ — merged through the index (only files whose
    * blooms admit a batch key rewrite; inserts append). Hash-green
    * means the file surgery lands exactly on DuckDB's CASE-rewrite +
    * UNION derivation of the final state. Pruning locality, replay
    * idempotence and the all-insert path are UpsertWhereSpec's.
    */
  def qUpsertPruned(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/upsert_pruned"
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(path)
    val ix = graft.ops.BloomFileIndex.build(s, path, "o_orderkey")
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
      lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"))
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      bump.unionByName(fresh), Some(ix))
    s.read.parquet(path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** DATA-SIZED distributed MERGE ([[graft.ops.UpsertWhere
    * .byKeysDistributed]]): same key-clustered orders layout, but the
    * update batch — every EVEN key in the first eighth of the key
    * range, price tripled, plus shifted inserts — stays a DataFrame
    * end to end: its keys are never collected; the zone-map manifest
    * bounds the probe to the first-eighth files and the exact
    * semi-join probe selects the files that really hold a batch key.
    * The require() makes the O(touched files) claim behavioral: most
    * files must ride through untouched. Hash-green = the distributed
    * file surgery lands exactly on DuckDB's CASE+UNION derivation.
    */
  def qUpsertBulk(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/upsert_bulk"
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(path)
    val mf = graft.ops.ZoneMap.build(s, path, Seq("o_orderkey"))
      .localCheckpoint()
    val st = o.agg(min("o_orderkey"), max("o_orderkey")).head()
    val cut = st.getLong(0) + (st.getLong(1) - st.getLong(0)) / 8
    val bump = o.filter(col("o_orderkey") <= cut &&
        pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 3)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 2000000L).as("o_orderkey"), col("o_custkey"),
      lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"))
    val r = graft.ops.UpsertWhere.byKeysDistributed(s, path, "o_orderkey",
      bump.unionByName(fresh), Some(mf))
    require(r.untouched > r.filesTotal / 2,
      s"bulk merge rewrote ${r.candidates} of ${r.filesTotal} files — " +
        "the range-bounded probe did not localize the batch")
    s.read.parquet(path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** DATA-SIZED distributed DELETE ([[graft.ops.DeleteWhere
    * .byKeysDistributed]]): the retention-sweep shape — every ODD key
    * in the second eighth of the key range, supplied as a DataFrame
    * (never collected), purged through the zone-map-bounded exact
    * probe; then REPLAYED (must delete 0 more rows). Hash-green =
    * survivors equal DuckDB's direct predicate derivation.
    */
  def qDeleteBulk(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/delete_bulk"
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(path)
    val mf = graft.ops.ZoneMap.build(s, path, Seq("o_orderkey"))
      .localCheckpoint()
    val st = o.agg(min("o_orderkey"), max("o_orderkey")).head()
    val span = st.getLong(1) - st.getLong(0)
    val lo = st.getLong(0) + span / 8
    val hi = st.getLong(0) + (span / 8) * 2
    val doomed = o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi &&
      pmod(col("o_orderkey"), lit(2)) === 1).select("o_orderkey")
    val r = graft.ops.DeleteWhere.byKeysDistributed(
      s, path, "o_orderkey", doomed, Some(mf))
    require(r.untouched > r.filesTotal / 2,
      s"bulk delete rewrote ${r.candidates} of ${r.filesTotal} files")
    val r2 = graft.ops.DeleteWhere.byKeysDistributed(
      s, path, "o_orderkey", doomed, Some(mf))
    require(r2.deletedRows == 0, s"replay deleted ${r2.deletedRows} rows")
    s.read.parquet(path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Transaction-log time travel ([[graft.ops.TxLog]]): bring an
    * orders layout under log management (v0), MERGE an update batch
    * through the bloom index (v1 — prices doubled for 991-multiples,
    * shifted inserts), purge the 997-multiples (v2), then read ALL
    * THREE snapshots back, version-tagged, out of the one directory —
    * the superseded files v1/v2 replaced are retained and re-resolved
    * by the log. Hash-green means every version reconstructs exactly
    * DuckDB's per-version derivation. Isolation, vacuum, orphan and
    * contention behavior are TxLogSpec's.
    */
  def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/timetravel"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val ix = graft.ops.BloomFileIndex.build(s, path, "o_orderkey")
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
      lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"))
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      bump.unionByName(fresh), Some(ix)) // v1
    val dead: Seq[Any] = graft.ops.TxLog.snapshot(s, path, 1)
      .filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    graft.ops.DeleteWhere.byKeys(s, path, "o_orderkey", dead) // v2
    Seq(0, 1, 2)
      .map(v => graft.ops.TxLog.snapshot(s, path, v)
        .withColumn("version", lit(v)))
      .reduce(_.unionByName(_))
      .select(col("version"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
  }

  /** COPY INTO lifecycle ([[graft.ops.CopyInto]]): a CSV landing zone
    * derived from nation loads in two incremental waves with a
    * replayed (must-be-no-op) load between — the ledger-tracked
    * replacement for the reference's move-to-archive checkpointing
    * (`dags/emission-dag.py:41,49,59`). Hash-green means the ledger
    * skipped every already-committed file (no row doubled across the
    * replay and the incremental pickup) and missed none (no row
    * lost): the final snapshot is exactly the nation relation.
    */
  def qCopyInto(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val src = s"$indexQueryDir/copyinto_src"
    val path = s"$indexQueryDir/copyinto_tbl"
    Seq(src, path).foreach { p =>
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    }
    val opts = Map("header" -> "true")
    n.filter(col("n_nationkey") < 12).repartition(2)
      .write.option("header", "true").csv(src)
    graft.ops.TxLog.convert(s, path)
    graft.ops.TxLog.setTableSchema(s, path, n.schema, 0)
    graft.ops.CopyInto.copyInto(s, path, src, "csv", opts) // wave 1
    graft.ops.CopyInto.copyInto(s, path, src, "csv", opts) // replay: no-op
    n.filter(col("n_nationkey") >= 12).repartition(2)
      .write.option("header", "true").mode("append").csv(src)
    graft.ops.CopyInto.copyInto(s, path, src, "csv", opts) // incremental
    graft.ops.TxLog.snapshot(s, path)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  /** Declared clustering columns ([[graft.ops.TxLog
    * .setClusterColumns]] — Delta liquid clustering's CLUSTER BY as a
    * table property): 24 unsorted splinter files, one bare
    * graft_optimize (no column list anywhere at the call site), and
    * the packed tail comes out range-clustered on the declared key —
    * require()s pin the physical claim (median per-file key span
    * under a quarter of the domain; unsorted splinters sit at ~full
    * domain). Hash-green means the maintenance pass preserved every
    * row. Scale: the pack rewrites only the small-file tail (an
    * already-clustered 100 TB body is never rewritten to re-sort),
    * one range shuffle over the tail's bytes.
    */
  def qClusterBy(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val path = s"$indexQueryDir/cluster_by"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartition(24).write.parquet(path) // unsorted splinters
    graft.ops.TxLog.convert(s, path)
    graft.ops.TxLog.setClusterColumns(s, path, Seq("o_orderkey"))
    // target = total/8 so the pack emits ~8 range-files at EVERY sf
    // (a fixed byte target collapses tiny inputs into one file and
    // the span assert below loses its teeth)
    val total = fsp.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(fsp).filter(_.isFile)
      .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen).sum
    graft.ops.Compact.binPack(s, path, // bare: no cols at the call site
      targetBytes = math.max(4L << 10, total / 8),
      smallBytes = 64L << 20)
    val spans = graft.ops.TxLog.read(s, path)
      .groupBy(input_file_name())
      .agg((max("o_orderkey") - min("o_orderkey")).as("span"))
      .collect().map(_.getAs[Long]("span")).sorted
    val domain = o.agg(max("o_orderkey") - min("o_orderkey"))
      .head().getLong(0)
    require(spans.length > 2 && spans(spans.length / 2) < domain / 4,
      s"declared clustering did not narrow file spans: " +
        s"median ${spans(spans.length / 2)} of domain $domain")
    graft.ops.TxLog.read(s, path)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** Streaming append into the transaction log ([[graft.streaming
    * .TxLogIngest]]): four epochs of documents land as atomic log
    * versions, with epoch 2 RE-DELIVERED (the txn probe must skip it
    * — appending is not idempotent by content) and in-line
    * maintenance (compactEvery=2) bin-packing the tail + writing
    * checkpoints mid-stream. Hash-green means the committed snapshot
    * is exactly the full documents relation: no epoch lost, none
    * doubled, the maintenance rewrites preserved everything.
    */
  def qTxlogStream(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = s"$indexQueryDir/txlog_stream"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val sink = graft.streaming.TxLogIngest.appendSink(path, compactEvery = 2)
    (0 until 4).foreach { e =>
      sink(docs.filter(pmod(col("doc_id"), lit(4)) === e), e.toLong)
      if (e == 2) sink(docs.filter(pmod(col("doc_id"), lit(4)) === e), e.toLong)
    }
    graft.ops.TxLog.snapshot(s, path)
      .select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
  }

  /** Streaming CDC MERGE ([[graft.streaming.TxLogIngest.mergeSink]]):
    * three epochs against a keyed orders table — a seed, a re-price
    * epoch carrying TWO sequence-stamped versions of its keys (the
    * SEQUENCE-BY netting must keep only the later), and a replayed
    * epoch the txn probe must skip — each applied through the
    * merge-on-read upsert (positions hidden, batch appended, one
    * stamped commit; zero matched files rewritten). Hash-green means
    * the netted, exactly-once stream lands exactly on DuckDB's
    * CASE-rewrite of the final state.
    */
  def qDvStream(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/dv_stream"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val sink = graft.streaming.TxLogIngest.mergeSink(path,
      Seq("o_orderkey"), seqCol = Some("seq"))
    sink(o.withColumn("seq", lit(0L)), 0) // seed epoch
    val stale = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", lit(-1.0)).withColumn("seq", lit(1L))
    val fresh = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("seq", lit(2L))
    sink(stale.unionByName(fresh), 1) // nets to seq=2 rows only
    sink(stale.unionByName(fresh), 1) // re-delivered: no-op
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Change feed across log versions ([[graft.ops.TxLog.diff]]): the
    * q_timetravel lifecycle (merge at v1, purge at v2) in its own
    * directory, then the ROW-LEVEL diff v0→v2 — updated keys appear
    * as delete+insert pairs, purged keys as deletes, fresh keys as
    * inserts, and every untouched row cancels (diff reads only the
    * CHANGED files). Hash-green means the multiset difference is
    * exactly DuckDB's modular-arithmetic derivation of who changed.
    */
  def qTxlogDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/txlog_diff"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
      lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"))
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      bump.unionByName(fresh), None) // v1
    val dead: Seq[Any] = graft.ops.TxLog.snapshot(s, path, 1)
      .filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    graft.ops.DeleteWhere.byKeys(s, path, "o_orderkey", dead) // v2
    graft.ops.TxLog.diff(s, path, 0, 2)
      .select(col("_change_type"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
  }

  /** MERGE-ON-READ deletes ([[graft.ops.DeletionVectors]]): two
    * overlapping predicate deletes against a logged lineitem slice
    * write only (file, pos) sidecars — zero data files rewritten —
    * and the snapshot anti-joins the positions back out. Hash-green
    * means the vectored read lands exactly on DuckDB's direct
    * double-NOT filter; the second delete exercises the vector-merge
    * path (its sidecar carries the first delete's positions forward).
    */
  def qDvDelete(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_shipdate")
    val path = s"$indexQueryDir/dv_delete"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    graft.ops.DeletionVectors.delete(s, path,
      pmod(col("l_partkey"), lit(7)) === 0) // v1
    graft.ops.DeletionVectors.delete(s, path,
      col("l_quantity") >= 45.0) // v2: merges vectors on shared files
    graft.ops.TxLog.snapshot(s, path).select(
      "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_shipdate")
  }

  /** DV fold-in ([[graft.ops.DeletionVectors.materialize]]): a
    * vectored delete, then materialize rewrites ONLY the DV-carrying
    * files without the hidden rows and vacuum reclaims the dead
    * sidecars — the read is back on the zero-tax plain-scan plan, and
    * the relation is unchanged through the fold (hash-green against
    * the same filter DuckDB runs directly).
    */
  def qDvMaterialize(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/dv_materialize"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    graft.ops.DeletionVectors.delete(s, path,
      col("o_orderstatus") === "F" &&
        pmod(col("o_custkey"), lit(3)) === 0) // v1
    graft.ops.DeletionVectors.materialize(s, path) // v2
    graft.ops.TxLog.vacuum(s, path, retainVersions = 1, dvSweepAgeMs = 0L)
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Change feed across a DV commit ([[graft.ops.TxLog.diff]] keyed
    * by (file, vector) pairs): a vectored delete changes no file
    * NAMES, yet the diff must still surface exactly the newly-hidden
    * rows as deletes — both sides read the same files, each applying
    * its own version's vector, and the multiset difference is the
    * increment. Hash-green against DuckDB's direct predicate.
    */
  def qDvDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/dv_diff"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    graft.ops.DeletionVectors.delete(s, path,
      pmod(col("o_orderkey"), lit(499)) === 0) // v1
    graft.ops.TxLog.diff(s, path, 0, 1).select(
      col("_change_type"), col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))
  }

  /** MERGE-ON-READ upsert ([[graft.ops.DeletionVectors.upsert]]):
    * the q_upsert_pruned batch shape (keys ≡ 0 mod 991 re-priced,
    * five shifted inserts) applied WITHOUT rewriting a matched file —
    * old rows hide behind one vector, the batch appends as fresh
    * files, one commit swaps both. Candidates pruned through the
    * bloom index. Hash-green means the vectored merge lands exactly
    * on DuckDB's CASE-rewrite + UNION of the final state.
    */
  def qDvUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/dv_upsert"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val ix = graft.ops.BloomFileIndex.build(s, path, "o_orderkey")
    val batch = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") < 5).select(
        (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
        // the table's OWN timestamp flavor (testdata has shipped both
        // NTZ and LTZ) — upsert's type check rejects a drifted literal
        lit("2000-01-01").cast(o.schema("o_orderdate").dataType)
          .as("o_orderdate"),
        lit("9-NEW").as("o_orderpriority")))
    val keys: Seq[Any] = batch.select("o_orderkey").collect()
      .map(_.getLong(0)).toSeq
    val cand = graft.ops.BloomFileIndex
      .candidateFiles(ix, graft.ops.TxLog.dataInputFiles(s, path), keys)
      .map(u => u.substring(u.lastIndexOf('/') + 1))
    graft.ops.DeletionVectors.upsert(s, path, batch, Seq("o_orderkey"),
      candidates = Some(cand)) // v1: one commit, zero rewrites
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Schema evolution through the MOR upsert: the merge batch carries
    * a column the table never had ([[graft.ops.DeletionVectors
    * .upsert]] with `evolveSchema` — the widened schema is PINNED in
    * the log and versioned), so the snapshot reads old files NULL for
    * it with no mergeSchema footer cost. Hash-green means the evolved
    * relation lands exactly on DuckDB's CASE derivation, NULLs
    * included.
    */
  def qDvEvolve(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/dv_evolve"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val batch = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .withColumn("o_channel", lit("web"))
    graft.ops.DeletionVectors.upsert(s, path, batch, Seq("o_orderkey"),
      evolveSchema = true) // v1: pins the widened schema
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
      col("o_channel"))
  }

  /** Hidden partitioning ([[graft.ops.PartitionTransforms]]): events
    * laid out by `days(ts)` × `bucket(8, user_id)` — the QUERY never
    * names a partition column: a time-range request and a user-id
    * request each derive their partitions from the data predicate
    * (day strings bracket the range; Murmur3 buckets come from the
    * same `hash()` the writer ran), prune the snapshot's entries
    * driver-side, and apply the original predicate as the residual.
    * Both prunes are guarded (must open < ¼ of the files). Hash-green
    * means the layout-blind predicates land exactly on DuckDB's
    * direct filters.
    */
  def qHiddenPartition(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.PartitionTransforms
    val ev = t(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val path = s"$indexQueryDir/hidden_partition"
    PartitionTransforms.write(s, ev, path, Seq(
      PartitionTransforms.Days("ts"), PartitionTransforms.Bucket(8, "user_id")))
    val total = graft.ops.TxLog.liveFiles(s, path).size
    val byTime = PartitionTransforms.scanRange(s, path, "ts",
      "2024-01-10 00:00:00", "2024-01-12 23:59:59")
    require(byTime.inputFiles.length <= total / 4,
      s"day prune opened ${byTime.inputFiles.length} of $total files")
    val byUser = PartitionTransforms.scanEquals(s, path, "user_id",
      Seq(1L, 2L))
    // two keys land in ≤2 of 8 buckets ⇒ ≤¼ of partitions, but file
    // counts per (day × bucket) are uneven — ⅓ still proves the prune
    require(byUser.inputFiles.length <= total / 3,
      s"bucket prune opened ${byUser.inputFiles.length} of $total files")
    byTime.withColumn("probe", lit("time"))
      .unionByName(byUser.withColumn("probe", lit("user")))
  }

  /** Partition-spec EVOLUTION ([[graft.ops.PartitionTransforms
    * .evolve]]): era 1 lands half the events under days(ts), the spec
    * evolves to months(ts) — METADATA-ONLY, require()d: every era-1
    * file stays live untouched — and era 2 appends under the new
    * layout. The range scan prunes each era by its own transform
    * (days bracket vs month bracket), reads the eras under their own
    * hive layouts, and unions. Hash-green = the mixed-era read equals
    * DuckDB's direct filter of the source.
    *
    * Scale shape: Iceberg's spec-evolution economics — re-laying a
    * 100 TB table costs one metadata file, not a rewrite; old data
    * keeps its pruning, new data gets the better layout.
    */
  def qPartitionEvolve(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.PartitionTransforms
    val ev = t(s, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val path = s"$indexQueryDir/partition_evolve"
    val half1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val half2 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    PartitionTransforms.write(s, half1, path, Seq(
      PartitionTransforms.Days("ts")))
    val filesEra1 = graft.ops.TxLog.liveFiles(s, path).toSet
    PartitionTransforms.evolve(s, path, Seq(
      PartitionTransforms.Months("ts")))
    PartitionTransforms.append(s, half2, path)
    val all = graft.ops.TxLog.liveFiles(s, path)
    require(filesEra1.subsetOf(all.toSet),
      "evolution must be metadata-only: no era-1 file rewritten")
    require(all.exists(_.startsWith("p_months_ts=")),
      "era-2 files must land under the evolved layout")
    val got = PartitionTransforms.scanRange(s, path, "ts",
      "2024-01-10 00:00:00", "2024-01-12 23:59:59")
    require(got.inputFiles.length < all.size,
      s"mixed-era prune opened ${got.inputFiles.length} of ${all.size}")
    got
  }

  /** Snapshot export for engines that don't speak the log
    * ([[graft.ops.SnapshotExport]]): convert orders, mutate it
    * (delete + MOR upsert), MATERIALIZE (a manifest lists raw files —
    * DV-carrying entries refuse, require()d), export, then read the
    * table THE WAY AN EXTERNAL ENGINE WOULD — `spark.read.parquet`
    * over the manifest's listed URIs, no log involvement. A commit
    * AFTER the export must not leak into the manifest read (the
    * listed files are immutable). Hash-green = the external-style
    * read equals DuckDB replaying the same algebra.
    */
  def qExportManifest(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/export_manifest"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    // upsert BEFORE delete: o_orderkey 0 divides both 991 and 997 —
    // delete-first would re-insert it via the merge's NOT MATCHED arm
    graft.ops.DeletionVectors.upsert(s, path,
      o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      Seq("o_orderkey")) // v1: MOR
    graft.ops.DeletionVectors.delete(s, path,
      pmod(col("o_orderkey"), lit(997)) === 0) // v2: vectored
    val refused = scala.util.Try(
      graft.ops.SnapshotExport.symlinkManifest(s, path))
    require(refused.isFailure,
      "a DV-carrying snapshot must refuse to export")
    graft.ops.DeletionVectors.materialize(s, path) // fold vectors
    val n = graft.ops.SnapshotExport.symlinkManifest(s, path)
    require(n > 0, "export must list files")
    // a LATER commit must not reach manifest readers
    graft.ops.TxLog.append(s, path,
      o.limit(5).withColumn("o_orderkey", col("o_orderkey") + 90000000L))
    val listed = graft.ops.SnapshotExport.manifestFiles(s, path)
    s.read.parquet(listed: _*)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
  }

  /** Incremental MV over a LOGGED table ([[graft.ops.MvStore]]
    * consuming [[graft.ops.TxLog.diff]] via `asChangeFeed`): seed a
    * per-status (count, sum) view from v0's snapshot, then advance it
    * commit by commit applying ONLY each version-range's change feed
    * — with the v1→v2 batch REPLAYED (the content stamp must
    * recognize it). Hash-green means two signed incremental refreshes
    * land exactly on DuckDB's direct aggregate of the final state —
    * the lakehouse log and the IVM machinery composing end to end.
    */
  def qTxlogMv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/txlog_mv"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/txlog_mv_state")
    graft.ops.MvStore.init(store, "lmv", graft.ops.TxLog.snapshot(s, path, 0),
      Seq("o_orderstatus"), Seq("o_totalprice"))
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
      lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"))
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      bump.unionByName(fresh), None) // v1
    val dead: Seq[Any] = graft.ops.TxLog.snapshot(s, path, 1)
      .filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    graft.ops.DeleteWhere.byKeys(s, path, "o_orderkey", dead) // v2
    val f01 = graft.ops.TxLog.asChangeFeed(graft.ops.TxLog.diff(s, path, 0, 1))
    val f12 = graft.ops.TxLog.asChangeFeed(graft.ops.TxLog.diff(s, path, 1, 2))
    graft.ops.MvStore.refresh(store, "lmv", f01,
      Seq("o_orderstatus"), Seq("o_totalprice"))
    graft.ops.MvStore.refresh(store, "lmv", f12,
      Seq("o_orderstatus"), Seq("o_totalprice"))
    graft.ops.MvStore.refresh(store, "lmv", f12,
      Seq("o_orderstatus"), Seq("o_totalprice")) // replay: stamp no-op
    graft.ops.MvStore.read(store, "lmv")
      .select(col("o_orderstatus"), col("n"),
        round(col("sum_o_totalprice"), 2).as("sum_price"))
  }

  /** Incremental JOIN view ([[graft.ops.JoinMv]]): revenue by
    * customer segment — an aggregate over fact ⋈ dim — seeded once,
    * then kept in step with BOTH transaction logs through one advance
    * that applies Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD: the fact side
    * re-prices and inserts rows while the dim side MOVES customers to
    * a new segment in the same window (the group-move + cross-term
    * shape a naive one-sided feed gets wrong). A replayed advance is
    * stamp-recognized. Hash-green means the signed two-term delta
    * lands exactly on DuckDB's direct aggregate of the final joined
    * state — no row lost, doubled, or left in its old group.
    */
  def qJoinMv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val root = s"$indexQueryDir/joinmv"
    val fsp = new org.apache.hadoop.fs.Path(root)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val f = s"$root/fact"; val d = s"$root/dim"
    o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(f)
    graft.ops.TxLog.convert(s, f)
    c.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
      .repartition(2).write.parquet(d)
    graft.ops.TxLog.convert(s, d)
    val store = new graft.sources.ParquetStore(s, s"$root/state")
    val K = Seq("o_custkey"); val G = Seq("seg"); val M = Seq("price")
    graft.ops.JoinMv.follow(store, "rev", f, d, K, G, M) // seed
    // fact churn: re-price %991 keys, insert 5 fresh zero-price rows
    val bump = graft.ops.TxLog.snapshot(s, f)
      .filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("price", col("price") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
      lit(0.0).as("price"))
    graft.ops.UpsertWhere.byKeys(s, f, "o_orderkey",
      bump.unionByName(fresh))
    // dim churn IN THE SAME WINDOW: %97 customers move segments
    val moved = graft.ops.TxLog.snapshot(s, d)
      .filter(pmod(col("o_custkey"), lit(97)) === 0)
      .withColumn("seg", lit("MOVED"))
    graft.ops.UpsertWhere.byKeys(s, d, "o_custkey", moved)
    graft.ops.JoinMv.follow(store, "rev", f, d, K, G, M) // one advance
    graft.ops.JoinMv.follow(store, "rev", f, d, K, G, M) // no-op
    graft.ops.JoinMv.read(store, "rev").select(col("seg"), col("n"),
      round(col("sum_price"), 2).as("sum_price"))
  }

  /** Incremental join view with MIN/MAX measures
    * ([[graft.ops.JoinMv.follow]] `minMaxCols`): three advances —
    * a grow-only one (fresh high-price facts extend maxes in place,
    * no source read), a DELETE that removes every sub-1000 fact row
    * (grow-only state cannot answer; the hit groups recompute their
    * extremes from the post-change JOINED rows), and a dim-side
    * segment move (the %97 customers' facts change groups through
    * the F_old ⋈ ΔD term, extremes following). Hash-green = the
    * cursor-driven view equals DuckDB's direct min/max/sum/count of
    * the final joined state.
    */
  def qJoinMvMinmax(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val root = s"$indexQueryDir/joinmv_minmax"
    val fsp = new org.apache.hadoop.fs.Path(root)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val f = s"$root/fact"; val d = s"$root/dim"
    o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(f)
    graft.ops.TxLog.convert(s, f)
    c.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"))
      .repartition(2).write.parquet(d)
    graft.ops.TxLog.convert(s, d)
    val store = new graft.sources.ParquetStore(s, s"$root/state")
    val K = Seq("o_custkey"); val G = Seq("seg"); val M = Seq("price")
    def follow() = graft.ops.JoinMv.follow(
      store, "rev", f, d, K, G, M, minMaxCols = M)
    graft.Phases.timed("seed")(follow())
    // grow-only advance: fresh top-price facts, no removals
    graft.Phases.timed("grow_write")(
      graft.ops.UpsertWhere.byKeys(s, f, "o_orderkey",
        o.filter(col("o_orderkey") < 5).select(
          (col("o_orderkey") + 1000000L).as("o_orderkey"),
          col("o_custkey"), lit(1000000.0).as("price"))))
    graft.Phases.timed("grow_advance")(follow())
    // dirty advance: DELETE every sub-1000 fact row — most groups
    // lose their stored MIN and must recompute through the join
    graft.Phases.timed("delete_write")(
      graft.ops.DeleteWhere.where(s, f, col("price") < 1000.0))
    graft.Phases.timed("dirty_advance")(follow())
    // dim-side advance: %97 customers change segment
    graft.Phases.timed("dim_write")(
      graft.ops.UpsertWhere.byKeys(s, d, "o_custkey",
        graft.ops.TxLog.snapshot(s, d)
          .filter(pmod(col("o_custkey"), lit(97)) === 0)
          .withColumn("seg", lit("MOVEDMM"))))
    graft.Phases.timed("dim_advance")(follow())
    graft.Phases.timed("noop_advance")(follow())
    graft.ops.JoinMv.read(store, "rev").select(col("seg"), col("n"),
      round(col("sum_price"), 2).as("sum_price"),
      col("min_price"), col("max_price"))
  }

  /** THREE-TABLE incremental join view ([[graft.ops.JoinMv
    * .followStar]]): orders ⋈ customer ⋈ nation maintained from all
    * three logs by the telescoping delta algebra — and the chain is
    * a SNOWFLAKE: nation joins `c_nationkey`, a column customer
    * produced, not a fact column. One advance churns ALL THREE
    * tables (facts re-price + insert, %97 customers move both
    * segment and nation, nations 0-2 rename) and the three summands
    * must telescope to exactly the new state; a no-op follow closes.
    * Hash-green = the cursor-driven view equals DuckDB's direct
    * aggregate of the final three-way join.
    */
  def qJoinMvStar(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val root = s"$indexQueryDir/joinmv_star"
    val fsp = new org.apache.hadoop.fs.Path(root)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val f = s"$root/fact"; val d1 = s"$root/cust"; val d2 = s"$root/nat"
    o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price"))
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(f)
    graft.ops.TxLog.convert(s, f)
    c.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"), col("c_nationkey"))
      .repartition(2).write.parquet(d1)
    graft.ops.TxLog.convert(s, d1)
    n.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("nation_name"))
      .repartition(1).write.parquet(d2)
    graft.ops.TxLog.convert(s, d2)
    val store = new graft.sources.ParquetStore(s, s"$root/state")
    val dims = Seq((d1, Seq("o_custkey")), (d2, Seq("c_nationkey")))
    val G = Seq("seg", "nation_name"); val M = Seq("price")
    graft.Phases.timed("seed")(
      graft.ops.JoinMv.followStar(store, "rev", f, dims, G, M))
    // all three churn in ONE window
    graft.Phases.timed("churn_writes") {
      graft.ops.UpsertWhere.byKeys(s, f, "o_orderkey",
        graft.ops.TxLog.snapshot(s, f)
          .filter(pmod(col("o_orderkey"), lit(991)) === 0)
          .withColumn("price", col("price") * 2)
          .unionByName(o.filter(col("o_orderkey") < 5).select(
            (col("o_orderkey") + 1000000L).as("o_orderkey"),
            col("o_custkey"), lit(0.0).as("price"))))
      graft.ops.UpsertWhere.byKeys(s, d1, "o_custkey",
        graft.ops.TxLog.snapshot(s, d1)
          .filter(pmod(col("o_custkey"), lit(97)) === 0)
          .withColumn("seg", lit("MOVED"))
          .withColumn("c_nationkey", pmod(col("c_nationkey") + 7, lit(25))))
      graft.ops.UpsertWhere.byKeys(s, d2, "c_nationkey",
        graft.ops.TxLog.snapshot(s, d2).filter(col("c_nationkey") < 3)
          .withColumn("nation_name",
            concat(lit("REN_"), col("c_nationkey").cast("string"))))
    }
    graft.Phases.timed("star_advance")(
      graft.ops.JoinMv.followStar(store, "rev", f, dims, G, M))
    graft.Phases.timed("noop_advance")(
      graft.ops.JoinMv.followStar(store, "rev", f, dims, G, M))
    graft.ops.JoinMv.read(store, "rev")
      .select(col("seg"), col("nation_name"), col("n"),
        round(col("sum_price"), 2).as("sum_price"))
  }

  /** THREE-TABLE star view over ONE [[graft.ops.DbLog]] database
    * ([[graft.ops.DbMv.refreshStar]]) — the telescoping delta algebra
    * of q_joinmv_star PLUS the property only the shared log gives:
    * all three tables churn in ONE database transaction (a torn read
    * of that churn is impossible — both feeds come from the same
    * (from, to]), and the refresh's state + cursor land in ONE atomic
    * commit of their own. min/max measures ride along: the fact
    * deletes (%997 keys) dirty their groups, which re-derive extremes
    * from the NEW joined state; the fresh 1.0-price facts grow mins
    * in place. State is maintained merge-on-read — touched groups
    * only, never a view rewrite. Hash-green = the cursor-driven view
    * equals DuckDB's direct aggregate of the final three-way join.
    */
  def qDbMvStar(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val db = s"$indexQueryDir/dbmv_star"
    val fsp = new org.apache.hadoop.fs.Path(db)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, db)
    graft.ops.DbLog.transact(s, db, "seed") { txn =>
      txn.append("fact", o.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("price")))
      txn.append("cust", c.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment").as("seg"), col("c_nationkey")))
      txn.append("nat", n.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("nation_name")))
    }
    // reserveK: min/max ride bounded extreme reserves — a scattered
    // churn advances without the post-change source recompute (only
    // a drained prefix falls back to it), and the values stay exact
    val view = graft.ops.DbMv.StarView("fact",
      Seq(("cust", Seq("o_custkey")), ("nat", Seq("c_nationkey"))),
      groupCols = Seq("seg", "nation_name"), sumCols = Seq("price"),
      minMaxCols = Seq("price"), reserveK = 8)
    graft.Phases.timed("seed")(
      graft.ops.DbMv.initStar(s, db, "rev", view))
    // ONE transaction churns all three tables: fact re-prices %991,
    // inserts fresh 1.0-price rows AND deletes %997 (dirty min/max);
    // %97 customers move segment and nation; nations 0-2 rename
    val bump = graft.ops.DbLog.snapshot(s, db, "fact")
      .filter(pmod(col("o_orderkey"), lit(991)) === 0 &&
        pmod(col("o_orderkey"), lit(997)) =!= 0)
      .withColumn("price", col("price") * 2)
      .unionByName(o.filter(col("o_orderkey") < 5).select(
        (col("o_orderkey") + 1000000L).as("o_orderkey"),
        col("o_custkey"), lit(1.0).as("price")))
      .localCheckpoint()
    val dead = graft.ops.DbLog.snapshot(s, db, "fact")
      .filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").localCheckpoint()
    val custUpd = graft.ops.DbLog.snapshot(s, db, "cust")
      .filter(pmod(col("o_custkey"), lit(97)) === 0)
      .withColumn("seg", lit("MOVED"))
      .withColumn("c_nationkey", pmod(col("c_nationkey") + 7, lit(25)))
      .localCheckpoint()
    val natUpd = graft.ops.DbLog.snapshot(s, db, "nat")
      .filter(col("c_nationkey") < 3)
      .withColumn("nation_name",
        concat(lit("REN_"), col("c_nationkey").cast("string")))
      .localCheckpoint()
    graft.Phases.timed("churn_txn")(
      graft.ops.DbLog.transact(s, db, "churn") { txn =>
        txn.applyKeyed("fact", Seq("o_orderkey"), bump, dead)
        txn.upsertKeyed("cust", Seq("o_custkey"), custUpd)
        txn.upsertKeyed("nat", Seq("c_nationkey"), natUpd)
      })
    graft.Phases.timed("star_advance")(
      graft.ops.DbMv.refreshStar(s, db, "rev")) // one advance, 3 summands
    // SECOND, purely SCATTERED merge-on-read churn: %983 keys hit
    // every fact file, so every entry's deletion vector grows — the
    // shape whose feed degenerated to two full scans before the
    // DV-delta positional path. Its advance receipt (scat_advance)
    // holds the win in the suite: the removed side serves from the
    // churn-sized _cdc sidecars, never a base-file re-read.
    val bump2 = graft.ops.DbLog.snapshot(s, db, "fact")
      .filter(pmod(col("o_orderkey"), lit(983)) === 0)
      .withColumn("price", col("price") * 2).localCheckpoint()
    graft.Phases.timed("scat_churn_txn")(
      graft.ops.DbLog.transact(s, db, "scat") { txn =>
        txn.upsertKeyed("fact", Seq("o_orderkey"), bump2)
      })
    graft.Phases.timed("scat_advance")(
      graft.ops.DbMv.refreshStar(s, db, "rev"))
    val again = graft.Phases.timed("noop_advance")(
      graft.ops.DbMv.refreshStar(s, db, "rev"))
    require(again._1 == again._2,
      "dbmv_star: the final refresh must recognize the fixpoint")
    graft.ops.DbMv.readStar(s, db, "rev")
      .select(col("seg"), col("nation_name"), col("mv_count"),
        round(col("sum_price"), 2).as("sum_price"),
        col("min_price"), col("max_price"))
  }

  /** The log→MV loop CLOSED ([[graft.ops.MvStore.followTxLog]] over
    * [[graft.ops.TxLog.diffSince]]): where q_txlog_mv hand-lists its
    * version pairs, here the view carries a persisted CURSOR — seed
    * pins it at v0, the same MERGE + purge land as v1/v2, and ONE
    * follow call advances the cursor through both commits (the diff
    * still reads only changed files); a second follow is a recognized
    * no-op. Hash-green = the cursor-driven view equals DuckDB's
    * direct aggregate of the final state. Crash-replay, the
    * retention-cliff reseed and cursor persistence are
    * MvStoreSpec's.
    */
  def qTxlogFollow(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/txlog_follow"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val store = new graft.sources.ParquetStore(
      s, s"$indexQueryDir/txlog_follow_state")
    val g = Seq("o_orderstatus"); val m = Seq("o_totalprice")
    require(graft.ops.MvStore.followTxLog(store, "fmv", path, g, m) == ((0, 0)))
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
      lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"))
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      bump.unionByName(fresh), None) // v1
    val dead: Seq[Any] = graft.ops.TxLog.snapshot(s, path, 1)
      .filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    graft.ops.DeleteWhere.byKeys(s, path, "o_orderkey", dead) // v2
    require(graft.ops.MvStore.followTxLog(store, "fmv", path, g, m) == ((0, 2)))
    require(graft.ops.MvStore.followTxLog(store, "fmv", path, g, m) == ((2, 2)))
    graft.ops.MvStore.read(store, "fmv")
      .select(col("o_orderstatus"), col("n"),
        round(col("sum_o_totalprice"), 2).as("sum_price"))
  }

  /** Hive-partitioned lakehouse DML end to end: orders land
    * partitioned BY STATUS (path-encoded column), convert to a log,
    * then a cross-partition keyed purge (997-multiples) and a keyed
    * MERGE (991-multiples' price doubled + shifted inserts) — each ONE
    * commit regardless of how many partitions it touches, candidates
    * read with basePath so the partition column stays queryable, and
    * replacement trees keep the hive layout ([[graft.ops.Compact
    * .stageRewriteHive]]). Hash-green = the final snapshot (partition
    * column included) equals DuckDB's direct derivation.
    */
  /** Multi-table ATOMIC transaction ([[graft.ops.DbLog]]): a
    * database log holding an orders table runs one transaction that
    * (a) copies the 'F'-status rows into an archive table, (b)
    * appends a one-row audit record, and (c) deletes the moved rows
    * from the source — three tables, ONE commit (the require pins
    * it). The output unions the PRE-transaction snapshot (time
    * travel across the whole database) with the post state of all
    * three tables; hash-green means the cut was consistent: no row
    * lost, doubled, or visible on only one side of the move.
    */
  def qDblogTxn(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val db = s"$indexQueryDir/dblog_txn"
    val fsp = new org.apache.hadoop.fs.Path(db)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, db) // v0
    graft.ops.DbLog.transact(s, db, "seed")(
      _.append("orders", o.repartition(8))) // v1
    val vPre = graft.ops.DbLog.currentVersion(s, db)
    graft.ops.DbLog.transact(s, db, "archive-F") { txn =>
      val f = txn.table("orders").filter(col("o_orderstatus") === "F")
      txn.append("orders_archive", f)
      txn.append("audit", f.agg(count(lit(1)).as("n_moved")))
      txn.deleteWhere("orders", col("o_orderstatus") === "F")
    } // v2: the three-table transaction
    require(graft.ops.DbLog.currentVersion(s, db) == vPre + 1,
      "the multi-table transaction must be exactly one commit")
    def slim(df: DataFrame, tbl: String, phase: String): DataFrame =
      df.select(lit(phase).as("phase"), lit(tbl).as("tbl"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    slim(graft.ops.DbLog.snapshot(s, db, "orders", vPre), "orders", "pre")
      .unionByName(slim(
        graft.ops.DbLog.snapshot(s, db, "orders"), "orders", "post"))
      .unionByName(slim(
        graft.ops.DbLog.snapshot(s, db, "orders_archive"),
        "orders_archive", "post"))
      .unionByName(graft.ops.DbLog.snapshot(s, db, "audit").select(
        lit("post").as("phase"), lit("audit").as("tbl"),
        col("n_moved").as("o_orderkey"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice")))
  }

  /** Cross-table-consistent change feeds ([[graft.ops.DbLog.diff]]):
    * after the archive transaction, the source table's feed and the
    * archive table's feed are read over the SAME database version
    * pair — one cursor for both. Hash-green means the move shows up
    * whole: the deletes leaving orders are exactly the inserts
    * landing in the archive, nothing torn between the two feeds
    * (possible only because both tables share one log and one
    * version sequence).
    */
  def qDblogDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val db = s"$indexQueryDir/dblog_diff"
    val fsp = new org.apache.hadoop.fs.Path(db)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, db)
    graft.ops.DbLog.transact(s, db, "seed")(
      _.append("orders", o.repartition(8)))
    val vPre = graft.ops.DbLog.currentVersion(s, db)
    graft.ops.DbLog.transact(s, db, "archive-F") { txn =>
      txn.append("orders_archive",
        txn.table("orders").filter(col("o_orderstatus") === "F"))
      txn.deleteWhere("orders", col("o_orderstatus") === "F")
    }
    val (feeds, cur) = graft.ops.DbLog.diffSince(s, db,
      Seq("orders", "orders_archive"), vPre)
    require(cur == vPre + 1, "both feeds advance over one shared commit")
    def slim(df: DataFrame, tbl: String): DataFrame =
      df.select(lit(tbl).as("tbl"), col("_change_type").as("change"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    slim(feeds("orders"), "orders")
      .unionByName(slim(feeds("orders_archive"), "orders_archive"))
  }

  /** Streaming multi-table fan-out ([[graft.streaming.DbIngest
    * .routeSink]]): three epochs of events route to per-type tables
    * (click/view/…) inside one DbLog database — each epoch is ONE
    * atomic commit across every table it touches, epoch 1
    * re-delivered (the single txn probe must skip it — there is
    * exactly one commit to remember, which is why exactly-once holds
    * ACROSS tables). Hash-green means the reassembled union of the
    * routed tables is exactly the source relation: no epoch lost,
    * none doubled, no row routed to the wrong table.
    */
  def qDblogStream(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(s, dir)
    val db = s"$indexQueryDir/dblog_stream"
    val fsp = new org.apache.hadoop.fs.Path(db)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val sink = graft.streaming.DbIngest.routeSink(db, "event_type")
    (0 until 3).foreach { e =>
      sink(ev.filter(pmod(col("event_id"), lit(3)) === e), e.toLong)
      if (e == 1) sink(ev.filter(pmod(col("event_id"), lit(3)) === e), e.toLong)
    }
    require(graft.ops.DbLog.currentVersion(s, db) == 3,
      "one commit per epoch, however many tables each touched")
    graft.ops.DbLog.tables(s, db).map { tbl =>
      graft.ops.DbLog.snapshot(s, db, tbl)
        .select(lit(tbl).as("tbl"), col("event_id"), col("ts"),
          col("user_id"), col("value"), col("props"))
    }.reduce(_.unionByName(_))
  }

  def qHiveDml(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/hive_dml"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartition(4).write.partitionBy("o_orderstatus").parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val dead = o.filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey")
    graft.ops.DeleteWhere.byKeysDistributed(s, path, "o_orderkey", dead) // v1
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0 &&
        pmod(col("o_orderkey"), lit(997)) =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") < 5).select(
      (col("o_orderkey") + 3000000L).as("o_orderkey"), col("o_custkey"),
      lit(0.0).as("o_totalprice"),
      lit("2000-01-01").cast("timestamp").as("o_orderdate"),
      lit("9-NEW").as("o_orderpriority"),
      lit("N").as("o_orderstatus"))
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      bump.unionByName(fresh, allowMissingColumns = false), None) // v2
    require(graft.ops.TxLog.currentVersion(s, path) == 2,
      "each cross-partition operation must be one commit")
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** CHECK constraints ([[graft.ops.TxLog.setCheckConstraints]]): a
    * log-managed orders table declares `o_totalprice >= 0`; a valid
    * MERGE (991-bump) lands, then a poisoned batch (negative prices)
    * must RAISE and commit nothing — the require()s pin both the
    * exception and the unchanged version. Hash-green = the surviving
    * state is exactly the valid merge's, per DuckDB.
    */
  def qTxlogConstraint(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/txlog_check"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path)
    graft.ops.TxLog.setCheckConstraints(s, path,
      Seq("o_totalprice >= 0", "o_orderkey IS NOT NULL"))
    val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey", bump, None) // v1
    val poison = o.filter(col("o_orderkey") < 50)
      .withColumn("o_totalprice", col("o_totalprice") * -1)
    val raised =
      try { graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey", poison, None); false }
      catch { case _: graft.ops.TxLog.ConstraintViolation => true }
    require(raised, "poisoned batch was admitted")
    require(graft.ops.TxLog.currentVersion(s, path) == 1,
      "violating write moved the version")
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Table replication ([[graft.ops.TxLog.replicateTo]]): a source
    * orders table takes the familiar MERGE (v1) + purge (v2)
    * lifecycle while a DOWNSTREAM copy follows its change feed —
    * seeded by a one-commit full resync at v0, advanced through both
    * commits in one cursor hop (cost O(changed files both sides)),
    * with a no-op advance asserted. Hash-green = the replica equals
    * DuckDB's direct derivation of the source's final state.
    */
  def qTxlogReplicate(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val srcPath = s"$indexQueryDir/repl_src"
    val dstPath = s"$indexQueryDir/repl_dst"
    val conf = s.sparkContext.hadoopConfiguration
    Seq(srcPath, dstPath).foreach { p =>
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(conf).delete(fsp, true)
    }
    graft.Phases.timed("seed_write") {
      o.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey").write.parquet(srcPath)
      graft.ops.TxLog.convert(s, srcPath) // v0
    }
    graft.Phases.timed("resync") {
      require(graft.ops.TxLog.replicateTo(s, srcPath, dstPath, "o_orderkey")
        == ((-1, 0)))
    }
    graft.Phases.timed("churn_writes") {
      val bump = o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val fresh = o.filter(col("o_orderkey") < 5).select(
        (col("o_orderkey") + 1000000L).as("o_orderkey"), col("o_custkey"),
        lit("N").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
        lit("2000-01-01").cast("timestamp").as("o_orderdate"),
        lit("9-NEW").as("o_orderpriority"))
      graft.ops.UpsertWhere.byKeys(s, srcPath, "o_orderkey",
        bump.unionByName(fresh), None) // v1
      val dead: Seq[Any] = graft.ops.TxLog.snapshot(s, srcPath, 1)
        .filter(pmod(col("o_orderkey"), lit(997)) === 0)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      graft.ops.DeleteWhere.byKeys(s, srcPath, "o_orderkey", dead) // v2
    }
    graft.Phases.timed("churn_advance") {
      require(graft.ops.TxLog.replicateTo(s, srcPath, dstPath, "o_orderkey")
        == ((0, 2)))
    }
    graft.Phases.timed("noop_advance") {
      require(graft.ops.TxLog.replicateTo(s, srcPath, dstPath, "o_orderkey")
        == ((2, 2))) // nothing new
    }
    graft.ops.TxLog.snapshot(s, dstPath).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** The lakehouse from PLAIN SQL ([[graft.plans
    * .GraftTableFunctions]]): a log-managed table queried through the
    * `graft_snapshot` TABLE function — two versions (before/after a
    * keyed purge) selected, tagged and unioned entirely in
    * `spark.sql`, no DataFrame API in the query text. Hash-green =
    * the TVF resolution (unresolved leaf → analyzed snapshot plan)
    * reconstructs both versions exactly per DuckDB's derivation.
    */
  def qSqlTimetravel(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.installInto(s)
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/sql_timetravel"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val dead: Seq[Any] = o.filter(pmod(col("o_orderkey"), lit(997)) === 0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    graft.ops.DeleteWhere.byKeys(s, path, "o_orderkey", dead) // v1
    s.sql(
      s"""SELECT 0 AS version, o_orderkey, o_custkey, o_totalprice
          FROM graft_snapshot('$path', 0)
          UNION ALL
          SELECT 1, o_orderkey, o_custkey, o_totalprice
          FROM graft_snapshot('$path', 1)""")
  }

  /** Stats-carrying commits ([[graft.ops.TxLog.setStatsColumns]] +
    * [[graft.ops.TxLog.snapshotPruned]]): a key-range-partitioned
    * orders table is ingested epoch-by-epoch into a log that embeds
    * each file's o_orderkey min/max IN its ADD entry, then a
    * one-sixteenth range read plans from the LOG ALONE — no zone-map
    * sidecar exists, no footer is read at plan time, and the
    * require() proves most files were never opened. Hash-green = the
    * log-planned selective read equals DuckDB's direct BETWEEN.
    */
  def qTxlogStats(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/txlog_stats"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.TxLog.convert(s, path)
    graft.ops.TxLog.setStatsColumns(s, path, Seq("o_orderkey"))
    val st = o.agg(min("o_orderkey"), max("o_orderkey")).head()
    val (kmin, kmax) = (st.getLong(0), st.getLong(1))
    val step = math.max(1L, (kmax - kmin + 16) / 16)
    (0 until 16).foreach { e =>
      val lo = kmin + e * step
      graft.streaming.TxLogIngest.appendSink(path)(
        o.filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + step)
          .coalesce(1), e.toLong)
    }
    val qlo = kmin + (kmax - kmin) / 4
    val qhi = kmin + (kmax - kmin) / 4 + (kmax - kmin) / 16
    val pruned = graft.ops.TxLog.snapshotPruned(
      s, path, "o_orderkey", qlo.toDouble, qhi.toDouble)
    val total = graft.ops.TxLog.liveFiles(s, path).length
    require(pruned.inputFiles.length <= total / 4,
      s"log-planned read opened ${pruned.inputFiles.length} of $total files")
    pruned.select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** String zone maps ([[graft.ops.ZoneMap.buildString]]): documents
    * laid out by language, the lexicographic per-file manifest built
    * from footers only, then the equality-pruned read of one language
    * — which must equal the plain filter exactly (the manifest is
    * necessary, never sufficient: the residual filter still runs).
    * Candidate-count locality and the no-stats-never-prunes rule are
    * ZoneMapSpec's.
    */
  def qZonemapString(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val path = s"$indexQueryDir/zonemap_string"
    docs.repartitionByRange(8, col("lang"))
      .sortWithinPartitions("lang").write.mode("overwrite").parquet(path)
    val mf = graft.ops.ZoneMap.buildString(s, path, Seq("lang"))
    graft.ops.ZoneMap.prunedReadString(s, path, mf, "lang", "en")
      .select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
  }

  /** Declarative data-quality expectations ([[graft.ops
    * .Expectations]]): six contract rules over orders — not-null,
    * key uniqueness, accepted status set, a price range tight enough
    * to FAIL (violations > 0), a priority regex that splits the
    * table, and a composite-key uniqueness — all counted in one
    * aggregation over one scan. Hash-green means every violation
    * count and pass flag matches DuckDB's direct derivation.
    */
  def qDqReport(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations._
    check(t(s, dir, "orders"), Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
      InRange("o_totalprice", 0.0, 300000.0),
      MatchesRegex("o_orderpriority", "^1-"),
      Unique(Seq("o_custkey", "o_orderdate"))))
  }

  /** Grouped DQ monitoring ([[graft.ops.Expectations.checkByGroup]]):
    * the q_dq_report rules per ORDER YEAR — a failing batch pinpoints
    * which year broke which contract; uniqueness scoped within the
    * year. One aggregation over one scan, year count × rule count
    * output rows.
    */
  def qDqByGroup(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations._
    checkByGroup(
      t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))),
      Seq("o_year"),
      Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 300000.0),
        MatchesRegex("o_orderpriority", "^1-")))
  }

  /** Row-level quarantine ([[graft.ops.Expectations.quarantine]]):
    * the dead-letter router — every order tagged with the rules it
    * violates ('|'-joined, declaration order), clean rows empty.
    * Output keeps only violating rows (quarantine-side), the count
    * complement of q_dq_report's aggregate view.
    */
  def qDqQuarantine(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Expectations._
    quarantine(t(s, dir, "orders"), Seq(
      InRange("o_totalprice", 0.0, 300000.0),
      MatchesRegex("o_orderpriority", "^[1-3]-"),
      AcceptedValues("o_orderstatus", Seq("O", "F"))))
      .filter(col("__dq_reasons") =!= "")
      .select(col("o_orderkey"), col("__dq_reasons").as("dq_reasons"))
  }

  /** Bloom-file-index pruned point lookup ([[graft.ops
    * .BloomFileIndex]]): lay lineitem out hash-partitioned by
    * l_orderkey (each key's rows in ONE file — and unclustered, the
    * zone-map worst case), build the per-file bloom index, probe
    * three deterministic mid-range orderkeys through it. The bloom
    * skips every file that can't hold the keys (BloomFileIndexSpec
    * proves the skip); hash-green against DuckDB's plain IN proves
    * the prune loses nothing.
    */
  def qBloomindexPoint(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val bdir = s"$indexQueryDir/bloomindex_layout"
    li.repartition(32, col("l_orderkey")).write.mode("overwrite").parquet(bdir)
    val idx = graft.ops.BloomFileIndex.build(s, bdir, "l_orderkey",
      expectedPerFile = 1L << 16)
    val keys = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .offset(500).limit(3).collect().map(_.getLong(0)).toSeq
    graft.ops.BloomFileIndex.prunedRead(s, bdir, idx, "l_orderkey", keys)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"))
  }

  /** SemDeDup (the sixth dedup family, [[graft.similarity.SemDedup]])
    * under INJECTED deterministic centroids — the embeddings of
    * vec_id 0..7, collected in id order so cell index ≡ centroid's
    * vec_id — which makes the whole decision pure algebra DuckDB can
    * replicate: one-pass argmin-L2 assignment (the kernel's
    * −2·v·c + |c|² score, ties to the lower cell), intra-cluster
    * cosine edges at 0.35, recursive-closure groups, keep =
    * lowest-centroid-similarity member (ties to min id). The
    * production path trains centroids via Ivf.build — same code below
    * the quantizer seam, spec-tested in SemDedupSpec.
    */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    graft.similarity.SemDedup.dedup(e, cents, threshold = 0.35)
  }

  /** Cluster-balanced sampling ([[graft.pipelines.TrainingDataPipeline
    * .clusterBalancedSample]], mode `central`) under the SAME injected
    * centroids as q_dedup_semantic: every embedding assigns to its
    * nearest of 8 frozen centroids, each cell keeps its 5 most
    * prototypical members (highest cosine to the own centroid, ties
    * to the lower id) — the topic-balanced curation sample. Pure
    * algebra under the quantizer seam; the production path trains
    * centroids with Ivf.build (ClusterSampleSpec covers it).
    */
  def qClusterSample(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = e.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    graft.pipelines.TrainingDataPipeline
      .clusterBalancedSample(e, cents, perCluster = 5, mode = "central")
  }

  /** Benchmark decontamination (TrainingDataPipeline
    * .contaminationReport): corpus docs (id >= 50) sharing any 8-token
    * shingle with the eval set (id < 50), with the shared-gram count.
    * Eval grams broadcast; the corpus never shuffles before the final
    * per-doc count. Reproduced gram-for-gram in DuckDB.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.pipelines.TrainingDataPipeline.contaminationReport(
      docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50))
  }

  /** Mixture-weight token budgets (TrainingDataPipeline
    * .tokenBudgetByGroup): three synthetic sources (doc_id % 3) fill
    * 8k/5k/2k token budgets with their own best-quality docs — the
    * grouped form of q_token_budget, reproduced in DuckDB SQL.
    */
  def qTokenBudgetGroup(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.tokenBudgetByGroup(
      t(s, dir, "documents"),
      col("doc_id") % 3,
      Map("0" -> 8000L, "1" -> 5000L, "2" -> 2000L))

  /** Token-budget selection (TrainingDataPipeline.tokenBudgetSelect):
    * highest-quality docs until a 20k-token budget fills, via the
    * bucket-histogram plan (whole quality levels kept by filter, one
    * bounded window on the boundary level only — no global ordering).
    * Fully deterministic and reproduced in DuckDB SQL.
    */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.TrainingDataPipeline
      .tokenBudgetSelect(t(s, dir, "documents"), budgetTokens = 20000L)

  /** Greedy next-fit sequence packing (TrainingDataPipeline
    * .packSequences): 512-token context windows, 8 portable buckets
    * (doc_id mod 8 so the oracle reproduces the bucketing; production
    * defaults to xxhash64). The per-bucket greedy scan is reproduced
    * in DuckDB with a recursive CTE walking each bucket in id order.
    */
  def qPackSequences(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.packSequences(
      t(s, dir, "documents"),
      maxSeqTokens = 512L,
      bucketExpr = Some(pmod(col("doc_id"), lit(8))))

  /** Deterministic stratified sample (RelationalOps.stratifiedSample,
    * portable-hash mode): exactly 20 lineitem rows per l_returnflag,
    * chosen by md5 order over (orderkey, linenumber, partkey, suppkey)
    * — a true row key in this corpus, so the order is total and the
    * sample identical in any engine with md5. (orderkey, linenumber)
    * alone is NOT unique here; a tied boundary would make the k-th
    * pick engine-dependent.
    */
  def qSampleStratified(s: SparkSession, dir: String): DataFrame =
    RelationalOps.stratifiedSample(
      t(s, dir, "lineitem"),
      strataCols = Seq("l_returnflag"),
      k = 20,
      seedCols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      portableHash = true)
      .select("l_returnflag", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "l_quantity")

  /** The deterministic prefix of the cleaning pipeline (quality gate →
    * language gate → exact dedup) — oracle-checked end-to-end; the
    * near-dedup tail is oracle-checked through the funnel's md5 twin
    * (q_pipeline_funnel).
    */
  def qPipelineClean(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.TrainingDataPipeline._
    val conf = Config()
    Dedup.exactDedup(languageGate(qualityGate(t(s, dir, "documents"), conf), conf))
      .select("doc_id")
  }

  /** Multimodal asset metadata (binary content + typed meta): the
    * oracle-checkable slice of the multimodal path — ids, kinds, byte
    * lengths, declared dimensions. Feature extraction (stub decode)
    * is exercised in MultimodalSpec.
    */
  def qMmMeta(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.synthesizeAssets(t(s, dir, "documents"))
      .toDF()
      .select(
        col("asset_id"),
        col("kind"),
        length(col("content")).as("n_bytes"),
        col("width"),
        col("height"),
        col("sample_rate"))

  /** Multimodal feature extraction through the batched mapPartitions
    * decode stage — oracle-checked: the stub decode's features
    * (entropy over 16 byte-bins, mean byte value) are deterministic
    * byte arithmetic that DuckDB reproduces via ascii()/log2, so the
    * typed codec-boundary path itself is pinned, not just the
    * metadata projection.
    */
  def qMmFeatures(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .extractFeatures(
        graft.multimodal.Multimodal.synthesizeAssets(t(s, dir, "documents")))
      .toDF()
      .select(
        col("asset_id"),
        col("kind"),
        col("n_bytes"),
        round(col("entropy"), 6).as("entropy"),
        round(col("mean_byte"), 6).as("mean_byte"))

  /** Banded SimHash near-dup pairs (rows-only — Spark-hash based). */
  def qDedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(t(s, dir, "documents"), maxHamming = 16)

  /** The composed cleaning pipeline's funnel, oracle-checked
    * end-to-end: the same funnel code path (one-scan gate counts,
    * persisted exact dedup, drop-set near-dedup counting) with the
    * engine-portable BANDED md5-minhash candidate generator injected
    * for the near-dedup stage, so every stage count — including the
    * near-dedup tail that used to be rows-only — hash-matches the
    * DuckDB reproduction. The production xxhash generator keeps its
    * own recall gate (q_dedup_minhash_recall) and spec coverage.
    */
  def qPipelineFunnel(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.funnel(
      t(s, dir, "documents"),
      nearDupPairs = Some(survivors =>
        md5MinhashBandedPairs(survivors, minAgree = 10, maxBucket = 200)))

  /** Banded md5-minhash near-dup pairs — the production LSH shape
    * (band-bucket join, hot-bucket drop, agree-count verify)
    * reproduced on the portable md5 pipeline. The unbanded
    * [[md5MinhashAgreeOver]] joins on EVERY per-seed collision, which
    * is quadratic in the count of docs sharing one boilerplate minimum
    * — measured 34 s at sf0.1's 5,000 template-heavy docs, where the
    * 4-seed band keys plus the >maxBucket drop run in ~5 s. The
    * bounded (<200-doc) twin queries keep the unbanded form (their
    * collision groups cannot exceed 200); this one serves full-corpus
    * twins (the funnel). The wide signature frame feeds three
    * consumers (bands, both verify sides), so it persists for the
    * duration of the consuming action — registered with the pipeline
    * cache registry; Verify and Bench release after every query.
    */
  private def md5MinhashBandedPairs(
      docs: DataFrame,
      minAgree: Int,
      maxBucket: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id").as("id"),
        explode(array_distinct(TextFunctions.charShingles(col("text"), 4))).as("gram"))
    val seedMins = cwSeedMins
    val sigWide = grams.groupBy("id").agg(seedMins.head, seedMins.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.pipelines.TrainingDataPipeline.registerCache(sigWide)
    val bands = sigWide
      .select(col("id"), explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"),
          concat_ws("|", (4 * b until 4 * b + 4).map(i => col(s"mh_$i")): _*).as("bk"))): _*))
        .as("r"))
      .select(col("id"), col("r.b").as("b"), col("r.bk").as("bk"))
    val hot = bands.groupBy("b", "bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket).select("b", "bk")
    val kept = bands.join(hot, Seq("b", "bk"), "left_anti")
    val cand = kept.select(col("b"), col("bk"), col("id").as("id_a"))
      .join(kept.select(col("b"), col("bk"), col("id").as("id_b")), Seq("b", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verify against the WIDE frame: one row per pair and a 16-term
    // agree sum in projection — no 16× explode through the joins
    val aSide = sigWide.select(
      col("id").as("id_a") +: (0 until 16).map(i => col(s"mh_$i").as(s"a_$i")): _*)
    val bSide = sigWide.select(
      col("id").as("id_b") +: (0 until 16).map(i => col(s"mh_$i").as(s"b_$i")): _*)
    val nAgree = (0 until 16)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand.join(aSide, Seq("id_a")).join(bSide, Seq("id_b"))
      .select(col("id_a"), col("id_b"), nAgree.as("n_agree"))
      .filter(col("n_agree") >= minAgree)
  }

  // ------------------------------------------------- similarity search

  /** Brute-force exact cosine top-5 for the first 20 vectors. */
  def qAnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, k = 5)
  }

  /** LSH-bucketed approximate variant (no oracle; recall<1).
    * Multiprobe (query-side Hamming-1 probing) is the production
    * config: measured recall@5 0.93-1.0 on the synthetic corpus vs
    * 0.4-0.48 single-probe, for ~(nBits+1)× query-side candidate
    * budget and no growth in indexed state.
    */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(t(s, dir, "embeddings").filter(col("vec_id") < 100), k = 5,
      multiProbe = true)

  /** IVF ANN: k-means coarse quantizer + probed-cell exact scoring
    * (rows-only — k-means cells are engine-specific).
    */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = Ivf.build(emb, nLists = 16)
    Ivf.topK(index, emb.filter(col("vec_id") < 100), k = 5, nProbe = 4)
  }

  /** FILTERED ANN ([[Ivf.topK]]'s `eligible`): top-k under a metadata
    * predicate (label ≤ 2, ~30% of the corpus), the filter pushed
    * INTO the probe — the eligible ids semi-join the corpus before
    * the cell shuffle, so scoring volume shrinks with selectivity and
    * every query still fills k rows. Post-filtering the unfiltered
    * top-k would starve (~70% of each top-5 ineligible); the spec
    * gate proves that. At FULL probe the result must equal exact
    * brute force over the filtered corpus — the oracle below.
    */
  def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = Ivf.build(emb, nLists = 16)
    Ivf.topK(index, emb.filter(col("vec_id") < 20), k = 5, nProbe = 16,
      eligible = Some(emb.filter(col("label") <= 2).select("vec_id")))
  }

  /** IVF at full probe (nProbe = nLists): every cell is scored, so the
    * result must equal exact brute force — which makes the whole IVF
    * machinery (assignment, probing, per-cell scoring, ranking)
    * oracle-checkable against the brute-force SQL.
    */
  def qAnnIvfFull(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = Ivf.build(emb, nLists = 16)
    Ivf.topK(index, emb.filter(col("vec_id") < 20), k = 5, nProbe = 16)
  }

  /** IVF index persisted to a warehouse store, loaded back, and
    * queried at FULL probe — must equal exact brute force, so the
    * whole index lifecycle (centroid round-trip through parquet,
    * querying off the materialized assigned table instead of
    * re-assigning) is hash-gated against the brute-force oracle.
    */
  // ONE warehouse dir per process for the index-lifecycle queries:
  // Bench/Verify invoke each query several times, and a fresh
  // never-deleted temp dir per rep would accumulate full index copies
  // under /tmp; the stores overwrite their tables, so reps reuse it.
  private lazy val indexQueryDir =
    java.nio.file.Files.createTempDirectory("graft_idx_queries").toString

  def qAnnIvfSaved(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/ivf_saved")
    IndexStore.saveIvf(store, "ivf_q", Ivf.build(emb, nLists = 16))
    val loaded = IndexStore.loadIvf(store, "ivf_q")
    Ivf.topK(loaded, emb.filter(col("vec_id") < 20), k = 5, nProbe = 16)
  }

  /** Hot-cell split (IndexStore.splitIvfCell) queried at FULL probe:
    * build, split cell 0 into 3, query every cell — must still equal
    * exact brute force (ANY partition of the corpus into cells is
    * exact at full probe), so the whole rebalance path — sub-training,
    * row movement through the partition-surgery rewrite, centroid
    * append, reload — is hash-gated against the brute-force oracle.
    */
  def qAnnIvfSplit(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/ivf_split")
    IndexStore.saveIvf(store, "ivfs", Ivf.build(emb, nLists = 8))
    val grown = IndexStore.splitIvfCell(store, "ivfs", cell = 0, nSub = 3)
    Ivf.topK(grown, emb.filter(col("vec_id") < 20), k = 5, nProbe = 10)
  }

  /** Quantizer drift report (IndexStore.driftReport): per-cell
    * quantization error of a held-out batch (vec_id >= 400) under
    * quantizers trained and baselined on the initial corpus — the
    * retrain signal for the incremental-ingest lifecycle. Rows-only:
    * k-means cells and error magnitudes are engine-specific;
    * IndexStoreSpec gates the semantics (in-distribution ≈ 1,
    * shifted ≫ 1, error exactly the query-side ADC distortion).
    */
  def qAnnDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") < 400)
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/drift")
    val index = IvfPq.build(corpus, nLists = 8, m = 16, k = 16)
    IndexStore.saveIvfPq(store, "drift_q", index)
    IndexStore.saveCellStats(store, "drift_q", index, corpus)
    IndexStore.driftReport(store, "drift_q", emb.filter(col("vec_id") >= 400))
  }

  /** The full incremental-ingest path as a driver-gated behavioral
    * oracle: quantizers train on vec_id < 400, an id-bloom sidecar
    * builds, an OVERLAPPING batch (vec_id ≥ 350 — 50 already-ingested
    * ids, 150 new) appends through the bloom + cell-pruned anti-join,
    * and the same batch REPLAYS (must be a no-op). The resulting id
    * set must be exactly the distinct corpus ids — any duplicate
    * append, dropped row, or bloom false-negative breaks the hash.
    * Cell assignments are engine-specific but deliberately excluded
    * from the output; the spec layer covers them.
    */
  def qAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/ingest")
    IndexStore.saveIvf(store, "ing", Ivf.build(emb.filter(col("vec_id") < 400), nLists = 8))
    IndexStore.buildIdBloom(store, "ing__assigned",
      expectedIdsPerCell = 1 << 16, fpp = 0.01)
    IndexStore.appendIvfBatch(store, "ing", emb.filter(col("vec_id") >= 350))
    IndexStore.appendIvfBatch(store, "ing", emb.filter(col("vec_id") >= 350)) // replay
    store.read("ing__assigned").select(col("id"))
  }

  /** SQ8 persisted lifecycle ([[IndexStore.saveSq8]]/`appendSq8Batch`):
    * save the even-id half, bloom sidecar, ingest the odd half plus an
    * overlapping batch plus a full replay — the stored ids must land
    * exactly once (hash(id)→cell is permanent for SQ8, so the
    * cell-pruned anti-join alone is exactly-once; no registry needed).
    * Oracle: the distinct corpus ids. Sq8Spec separately pins that the
    * saved+ingested corpus SEARCHES identically to a one-shot encode.
    */
  def qAnnSq8Ingest(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/sq8_ingest")
    IndexStore.saveSq8(store, "sq", emb.filter(pmod(col("vec_id"), lit(2)) === 0),
      nShards = 16)
    IndexStore.buildIdBloom(store, "sq__sq8",
      expectedIdsPerCell = 1 << 16, fpp = 0.01)
    IndexStore.appendSq8Batch(store, "sq",
      emb.filter(pmod(col("vec_id"), lit(2)) === 1))
    IndexStore.appendSq8Batch(store, "sq", emb.filter(col("vec_id") < 100)) // overlap
    IndexStore.appendSq8Batch(store, "sq",
      emb.filter(pmod(col("vec_id"), lit(2)) === 1)) // replay
    IndexStore.loadSq8(store, "sq").select(col("vec_id"))
  }

  /** Rebalance policy report (IndexStore.rebalanceReport) over a
    * deterministic skewed assignment, so the count→mean→action
    * arithmetic is fully oracle-checked: cells derive from vec_id
    * (cell 0 holds ~70% of rows), the table round-trips through a real
    * store, and the DuckDB twin reproduces counts, mean, and the split
    * threshold exactly. The k-means-assigned production path is
    * spec-gated end-to-end (IndexStoreSpec: hot cell flagged → split →
    * report clears).
    */
  def qAnnRebalance(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/rebalance")
    val assigned = emb.select(
      col("vec_id").as("id"), col("embedding").as("vec"),
      when(pmod(col("vec_id"), lit(10)) < 7, lit(0))
        .otherwise(pmod(col("vec_id"), lit(10)) - 6).cast("int").as("cell"))
    store.overwritePartitioned(assigned, "rb__assigned", "cell")
    IndexStore.rebalanceReport(store, "rb")
  }

  /** Sidecar bloom-health policy (IndexStore.bloomHealthReport) over
    * the same deterministic skewed assignment as q_ann_rebalance, with
    * a deliberately undersized sidecar (capacity 64 per cell) so the
    * hot cell saturates: per-cell n_ids, load factor, the estimated
    * false-positive rate (1−e^(−k·n/m))^k and the grow/ok action are
    * all plain arithmetic the DuckDB twin reproduces — k and num_bits
    * re-derive from Spark's own BloomFilter sizing rules (num_bits 512
    * is create(64, 0.03).bitSize(), pinned by IndexStoreSpec so the
    * twin's literal cannot drift). est_fpp rounds to 6 places against
    * libm ulp skew; load_factor is n/64, exact in binary.
    */
  def qAnnBloomHealth(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/bloomhealth")
    val assigned = emb.select(
      col("vec_id").as("id"), col("embedding").as("vec"),
      when(pmod(col("vec_id"), lit(10)) < 7, lit(0))
        .otherwise(pmod(col("vec_id"), lit(10)) - 6).cast("int").as("cell"))
    store.overwritePartitioned(assigned, "bh__assigned", "cell")
    IndexStore.buildIdBloom(store, "bh__assigned", expectedIdsPerCell = 64, fpp = 0.03)
    IndexStore.bloomHealthReport(store, "bh__assigned", fppThreshold = 0.05)
      .withColumn("est_fpp", round(col("est_fpp"), 6))
  }

  /** Combined per-cell health view (IndexStore.indexHealthReport):
    * the rebalance size policy and the sidecar bloom-fpp policy of ONE
    * index in one row per cell, over the same deterministic skewed
    * assignment as q_ann_rebalance with the same undersized sidecar as
    * q_ann_bloom_health — so the join, both action columns, and the
    * severity-ranked combined action (split > retrain > grow > ok) are
    * all arithmetic the DuckDB twin reproduces. The hot cell 0 is both
    * oversized (split) and bloom-saturated (grow): the combined action
    * must rank split first while bloom_action stays visible.
    */
  def qAnnHealth(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val store = new graft.sources.ParquetStore(s, s"$indexQueryDir/health")
    val assigned = emb.select(
      col("vec_id").as("id"), col("embedding").as("vec"),
      when(pmod(col("vec_id"), lit(10)) < 7, lit(0))
        .otherwise(pmod(col("vec_id"), lit(10)) - 6).cast("int").as("cell"))
    store.overwritePartitioned(assigned, "hl__assigned", "cell")
    IndexStore.buildIdBloom(store, "hl__assigned", expectedIdsPerCell = 64, fpp = 0.03)
    IndexStore.indexHealthReport(store, "hl", fppThreshold = 0.05)
      .withColumn("est_fpp", round(col("est_fpp"), 6))
  }

  /** Multimodal image decode through the REAL javax.imageio codec,
    * oracle-checked end to end: per doc a solid-color PNG (dimensions
    * and RGB channels derived from doc_id) is ENCODED on the
    * executors, decoded back by Multimodal.extractImageStats (ImageIO
    * read + pixel scan), and the resulting stats are pure doc_id
    * arithmetic the DuckDB twin reproduces (PNG is lossless and
    * TYPE_INT_RGB preserves the channel bytes bit-for-bit, so the
    * decode returns exactly the encoded constants). round(…,6) guards
    * the one non-integer value (mean luminance) against
    * association-order ulp drift between engines.
    */
  def qMmImageStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val w = 2 + (id % 7).toInt; val h = 2 + (id % 5).toInt
        val r = ((id * 37) % 256).toInt
        val g = ((id * 59) % 256).toInt
        val b = ((id * 83) % 256).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (r << 16) | (g << 8) | b
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", out)
        graft.multimodal.Multimodal.Asset(id, "image", out.toByteArray, w, h, 0)
      }
    }
    graft.multimodal.Multimodal.extractImageStats(assets).toDF()
      .select(col("asset_id"), col("px_width"), col("px_height"), col("n_pixels"),
        round(col("mean_luma"), 6).as("mean_luma"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
  }

  /** Multimodal audio decode through the REAL javax.sound.sampled
    * codec, oracle-checked end to end (the q_mm_image_stats recipe on
    * the audio axis): per doc a constant-amplitude mono 16-bit PCM WAV
    * (rate, length and amplitude derived from doc_id) is ENCODED on
    * the executors, decoded back by Multimodal.extractAudioStats
    * (AudioSystem read + sample scan), and the stats are pure doc_id
    * arithmetic the DuckDB twin reproduces: a constant signal's RMS
    * and peak are EXACTLY |amplitude| in raw sample units (sum of n
    * identical squares ≤ 1.5e10 is exact in double, n·A²/n = A² is an
    * exact division, sqrt of a perfect square is exact), and
    * duration = frames/rate is the same IEEE division in both engines.
    */
  def qMmAudioStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
    val assets = ids.mapPartitions { it =>
      it.map { id =>
        val rate = 8000 + (id % 3).toInt * 4000
        val n = 100 + (id % 50).toInt
        val amp = ((id * 131) % 20001).toInt - 10000
        val bytes = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          bytes(2 * i) = (amp & 0xff).toByte
          bytes(2 * i + 1) = ((amp >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(bytes), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        graft.multimodal.Multimodal.Asset(id, "audio", out.toByteArray, 0, 0, rate)
      }
    }
    graft.multimodal.Multimodal.extractAudioStats(assets).toDF()
      .select(col("asset_id"), col("sample_rate"), col("channels"),
        col("n_frames"), col("duration_s"), col("rms"), col("peak"))
  }

  /** Multimodal video container metadata through the REAL ISO BMFF box
    * parser, oracle-checked end to end (the q_mm_image_stats recipe on
    * the container axis): per doc a structurally well-formed MP4
    * header — ftyp + moov(mvhd, trak(tkhd)×n) + a skipped mdat — is
    * built byte-by-byte on the executors (every field at its ISO/IEC
    * 14496-12 offset, dimensions in 16.16 fixed point), parsed back by
    * Multimodal.extractVideoMeta, and the resulting metadata is pure
    * doc_id arithmetic the DuckDB twin reproduces. duration_s =
    * units/timescale is the same IEEE division in both engines.
    */
  def qMmVideoMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id")).as[Long]
    val assets = ids.mapPartitions { it =>
      def u32(v: Long): Array[Byte] = Array(
        ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def u16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
        val body = payload.flatten.toArray
        u32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
      }
      // identity transform matrix — the 36-byte unity matrix every
      // real muxer writes (1.0, 0, 0, 0, 1.0, 0, 0, 0, 0x40000000)
      val unity = u32(0x00010000L) ++ u32(0) ++ u32(0) ++
        u32(0) ++ u32(0x00010000L) ++ u32(0) ++
        u32(0) ++ u32(0) ++ u32(0x40000000L)
      it.map { id =>
        val timescale = 600L + (id % 4) * 200
        val durUnits = 1000L + (id % 5000)
        val w = 16 * (2 + (id % 8)).toInt
        val h = 16 * (2 + (id % 6)).toInt
        val nTracks = 1 + (id % 2).toInt
        val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), u32(512),
          "isom".getBytes("US-ASCII"), "mp41".getBytes("US-ASCII"))
        val mvhd = box("mvhd", u32(0) /* v0 + flags */,
          u32(0), u32(0) /* creation/modification */,
          u32(timescale), u32(durUnits),
          u32(0x00010000L) /* rate 1.0 */, u16(0x0100) /* volume */, u16(0),
          u32(0), u32(0) /* reserved */, unity,
          Array.fill(24)(0.toByte) /* pre_defined */, u32(nTracks + 1L))
        def tkhd(trackId: Long, tw: Int, th: Int, vol: Int) = box("tkhd",
          u32(0x000007L) /* v0, enabled|in_movie|in_preview */,
          u32(0), u32(0), u32(trackId), u32(0), u32(durUnits),
          u32(0), u32(0) /* reserved */, u16(0), u16(0) /* layer, alt_group */,
          u16(vol), u16(0), unity,
          u32(tw.toLong << 16), u32(th.toLong << 16))
        val traks = box("trak", tkhd(1, w, h, 0)) ++
          (if (nTracks == 2) box("trak", tkhd(2, 0, 0, 0x0100)) else Array.empty[Byte])
        val moov = box("moov", mvhd, traks)
        // sample data the parser must SKIP by size, never scan
        val mdat = box("mdat", Array.fill(8 + (id % 7).toInt)(0x5a.toByte))
        graft.multimodal.Multimodal.Asset(
          id, "video", ftyp ++ moov ++ mdat, w, h, 0)
      }
    }
    graft.multimodal.Multimodal.extractVideoMeta(assets).toDF()
      .select(col("asset_id"), col("brand"), col("timescale"),
        col("duration_units"), col("duration_s"), col("n_tracks"),
        col("width"), col("height"))
  }

  /** Recall@5 of the probed IVF path (nProbe=4 of 16 cells — a 4×
    * candidate-budget cut) against oracle-pinned brute-force truth.
    * One row; IvfSpec gates the value (rows-only for the driver — the
    * scalar is approximation-dependent, but any silent recall collapse
    * now fails CI instead of passing as "500 rows returned").
    * Context for the gate level: the synthetic embeddings are uniform
    * random on the 64-sphere — the worst case for a data-adaptive
    * quantizer (no cluster structure to exploit), measured 0.59-0.62
    * at nProbe=4 and 0.82-0.87 at nProbe=8. Clustered real embeddings
    * sit well above this floor at equal probe fractions.
    */
  def qAnnIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    val index = Ivf.build(emb, nLists = 16)
    Ann.recallAgainst(
      Ivf.topK(index, queries, k = 5, nProbe = 4),
      Ann.bruteForceTopK(queries, emb, k = 5))
  }

  /** Recall@5 of hyperplane-LSH top-k (multiprobe — the q_ann_lsh
    * production config) against brute-force truth over the same
    * corpus. AnnSpec gates the value at >= 0.8.
    */
  def qAnnLshRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    Ann.recallAgainst(
      Ann.lshTopK(emb, k = 5, multiProbe = true).filter(col("query_id") < 100),
      Ann.bruteForceTopK(queries, emb, k = 5))
  }

  /** PQ ANN, refined (similarity.Pq): 16×16 product-quantized corpus
    * (16 code bytes per 64-dim vector — the compressed-scan 100 TB
    * path), ADC candidates, exact cosine re-rank. Deterministic but
    * Spark-hash-sampled training → rows-only; quality is CI-gated via
    * [[qAnnPqRecall]] and PqSpec.
    */
  def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cb = Pq.train(emb, m = 16, k = 16)
    Pq.topK(cb, emb, emb.filter(col("vec_id") < 100), kNeighbors = 5)
  }

  /** Recall@5 of refined PQ against brute-force truth — PqSpec gates
    * the refined value at >= 0.6 (uniform random embeddings are PQ's
    * worst case; clustered real data scores far higher).
    */
  def qAnnPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    val cb = Pq.train(emb, m = 16, k = 16)
    Ann.recallAgainst(
      Pq.topK(cb, emb, queries, kNeighbors = 5),
      Ann.bruteForceTopK(queries, emb, k = 5))
  }

  /** IVF-PQ composed index (similarity.IvfPq — the FAISS `IVFx,PQy`
    * production shape): coarse cells prune the search, residual PQ
    * codes compress the stored corpus, ADC scores probed cells, exact
    * cosine refines. Rows-only (Spark-hash-sampled training); quality
    * CI-gated via [[qAnnIvfPqRecall]] and IvfPqSpec.
    */
  def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val index = IvfPq.build(emb, nLists = 16, m = 16, k = 16)
    IvfPq.topK(index, emb, emb.filter(col("vec_id") < 100), kNeighbors = 5, nProbe = 4)
  }

  /** Recall@5 of IVF-PQ (nProbe 4/16) against brute-force truth —
    * IvfPqSpec gates the probing and full-probe floors.
    */
  def qAnnIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    val index = IvfPq.build(emb, nLists = 16, m = 16, k = 16)
    Ann.recallAgainst(
      IvfPq.topK(index, emb, queries, kNeighbors = 5, nProbe = 4),
      Ann.bruteForceTopK(queries, emb, k = 5))
  }

  /** Recall@5 of int8 scalar quantization ([[graft.similarity.Sq8]]:
    * 4× compression, per-vector symmetric rounding, exact integer dot
    * kernel) against brute-force float truth. Sq8Spec gates the value
    * at ≥ 0.95 — SQ8's whole error budget is encode-time rounding, so
    * it sits far above the PQ/LSH floors.
    */
  def qAnnSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    val enc = graft.similarity.Sq8.encode(emb)
    Ann.recallAgainst(
      graft.similarity.Sq8.topK(enc.filter(col("vec_id") < 100), enc, k = 5),
      Ann.bruteForceTopK(queries, emb, k = 5))
  }

  /** Recall@5 of IVF-SQ8 ([[graft.similarity.Sq8.topKIvf]] — coarse
    * cells prune, int8 scores inside probed cells: ¼ the probed-cell
    * scan bytes) against brute-force float truth. Sq8Spec gates the
    * quantization loss in ISOLATION: IVF-SQ8 vs plain IVF at the
    * same probes must hold ≥ 0.95.
    */
  def qAnnIvfSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 100)
    val index = Ivf.build(emb, nLists = 16)
    Ann.recallAgainst(
      graft.similarity.Sq8.topKIvf(index, queries, k = 5, nProbe = 4),
      Ann.bruteForceTopK(queries, emb, k = 5))
  }

  /** Embedding L2 norms — exercises the vector math path. */
  def qEmbNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      round(Ann.l2Norm(col("embedding")), 6).as("l2_norm"))

  // ------------------------------------------------------------- set ops

  /** EXCEPT (set difference, distinct semantics). */
  def qExcept(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  /** INTERSECT (distinct semantics). */
  def qIntersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))

  // ------------------------------------------------- pivot / conditional agg

  /** Pivot on l_linestatus (map-side conditional aggregation — no
    * extra shuffle vs the plain groupBy).
    */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 2))

  // ---------------------------------------------------- scalar functions

  /** String-function surface: case, substring, length, concat,
    * regexp_replace, padding — all codegen'd builtins.
    */
  def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("uname"),
      substring(col("p_name"), 1, 8).as("prefix"),
      length(col("p_name")).as("len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"),
      lpad(col("p_brand"), 12, ".").as("padded"))

  /** Array-function surface over the token array: distinct count,
    * lexicographic sort + slice + join.
    */
  def qArrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), array_distinct(TextFunctions.tokens(col("text"))).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_distinct"),
        concat_ws(" ", slice(sort_array(col("toks")), 1, 3)).as("first3"))

  /** Unpivot (wide → long): per-returnflag totals of three measures
    * melted to (flag, measure, value) — Spark's `unpivot` ↔ SQL
    * UNPIVOT. Values rounded as aggregates before the melt.
    */
  def qUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("qty"),
        round(sum("l_extendedprice"), 2).as("price"),
        round(sum("l_discount"), 2).as("disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")),
        "measure", "value")

  /** Generator surface: explode the token array, global word
    * frequency top-20 with a total-order tie-break.
    */
  def qExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(20)

  // ---------------------------------------------------------- subqueries

  /** Correlated scalar subquery (decorrelated by Catalyst into an
    * aggregate + join — no per-row re-execution).
    */
  def qSubqueryCorr(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_sq")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders_sq o
      WHERE o_totalprice > 2.0 * (
        SELECT AVG(o2.o_totalprice) FROM orders_sq o2
        WHERE o2.o_custkey = o.o_custkey)""")
  }

  /** Nested IN subqueries (semi-join chain region→nation→customer). */
  def qInSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_sq")
    t(s, dir, "nation").createOrReplaceTempView("nation_sq")
    t(s, dir, "region").createOrReplaceTempView("region_sq")
    s.sql("""
      SELECT c_custkey, c_name FROM customer_sq
      WHERE c_nationkey IN (
        SELECT n_nationkey FROM nation_sq
        WHERE n_regionkey IN (
          SELECT r_regionkey FROM region_sq WHERE r_name = 'EUROPE'))""")
  }

  // ------------------------------------------------- more window shapes

  /** Window frames: 3-row moving average + running sum per user.
    * Rounded at 6 decimals, not 2: avg-of-2 of 2-decimal values lands
    * exactly on .xx5 midpoints where decimal-HALF_UP (Spark) and
    * binary-value rounding (DuckDB) disagree; at the 6th decimal the
    * ≤3-decimal exact values pass through unchanged while engine fp
    * noise (~1e-13) is still absorbed.
    */
  def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events").select(
      col("event_id"),
      col("user_id"),
      round(avg("value").over(w.rowsBetween(-2, Window.currentRow)), 6).as("mavg"),
      round(sum("value").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 6).as("csum"))
  }

  /** max_by with a composite (value, tie-break) ordering — per brand,
    * the priciest part's key.
    */
  def qArgMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy("p_brand")
      .agg(
        max_by(col("p_partkey"), struct(col("p_retailprice"), col("p_partkey")))
          .as("top_part"),
        round(max("p_retailprice"), 2).as("top_price"))

  // --------------------------------------------------- stats / percentiles

  /** Exact percentiles (linear interpolation) + sample stddev +
    * correlation — the order-statistics surface.
    */
  def qPercentileStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").agg(
      round(expr("percentile(l_quantity, 0.5)"), 2).as("med_qty"),
      round(expr("percentile(l_extendedprice, 0.95)"), 2).as("p95_price"),
      round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"))

  // ------------------------------------------- grouping sets / more windows

  /** Explicit GROUPING SETS with grouping() indicator columns
    * (disambiguates real nulls from subtotal rows).
    */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) AS INT) AS g_rf,
             CAST(grouping(l_linestatus) AS INT) AS g_ls,
             COUNT(*) AS cnt
      FROM lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""")
  }

  /** Rank-family window functions: ntile, percent_rank, cume_dist,
    * dense_rank under one total order. percent_rank/cume_dist are
    * exact rationals of the same integers in any engine — no rounding
    * needed.
    */
  def qWindowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("p_retailprice"), col("p_partkey"))
    t(s, dir, "part").select(
      col("p_partkey"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      dense_rank().over(w).as("dr"))
  }

  // ------------------------------------------------- histogram / regex

  /** Fixed-width histogram via floor arithmetic (portable across
    * engines; 2-decimal prices divide the power-of-ten width exactly,
    * so bucket boundaries are binary-exact in both).
    */
  def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(floor(col("l_extendedprice") / 10000.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** regexp_extract group capture + aggregation over the raw
    * semi-structured props string.
    */
  def qRegexExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(regexp_extract(col("props"), "\"k\": (-?\\d+)", 1).as("k_str"))
      .groupBy("k_str")
      .agg(count(lit(1)).as("cnt"))

  // ------------------------------------------------------ date arithmetic

  /** Date arithmetic surface: day offset, day difference, last day of
    * month, month truncation.
    */
  def qDateArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("dd"),
      last_day(col("o_orderdate").cast("date")).as("ld"),
      date_trunc("month", col("o_orderdate")).cast("date").as("mstart"))

  /** Conditional/null-handling functions: CASE, coalesce over nullif,
    * least/greatest.
    */
  def qConditional(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      when(col("o_totalprice") > 200000.0, "high")
        .when(col("o_totalprice") > 100000.0, "mid")
        .otherwise("low").as("band"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_x"),
      least(col("o_totalprice"), lit(150000.0)).as("lo"),
      greatest(col("o_totalprice"), lit(150000.0)).as("hi"))

  /** Grouped exact percentiles — order statistics per group (one
    * shuffle; the sort is per-group inside the aggregate).
    */
  def qPercentileGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 2).as("med_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 2).as("p90_price"),
        count(lit(1)).as("cnt"))

  // ----------------------------------------------------------- range join

  /** Range self-join: per user, how many ordered event pairs lie
    * within a 5-minute gap — bucketed into an equi-join
    * (RelationalOps.rangeSelfJoinPairs) instead of a quadratic
    * theta-join.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame =
    RelationalOps.rangeSelfJoinPairs(
      t(s, dir, "events"), Seq("user_id"), "ts", 300000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))

  // ----------------------------------------------------------- sql dml

  /** SQL DML routed through the log ([[graft.plans.GraftDml]]): a
    * MERGE INTO (merge-on-read upsert — matched rows vectored out,
    * the batch appends), an UPDATE (candidate-pruned copy-on-write)
    * and a DELETE FROM (same pruning), each written as one ordinary
    * SQL statement against `parquet.`path``, each landing as exactly
    * one log commit. Receipt asserts pin the routing: the MERGE
    * reports op=merge, the DELETE rewrites fewer files than the
    * table holds, and the version counter advances once per
    * statement. Hash-green = the post-DML table equals DuckDB
    * computing the same three statements' algebra directly.
    */
  def qSqlDml(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/sql_dml"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val filesPre = graft.ops.TxLog.liveFiles(s, path).toSet
    o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") < 50)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_totalprice", lit(0.0)))
      .createOrReplaceTempView("sql_dml_src")
    val merge = graft.plans.GraftDml.sql(s,
      s"""MERGE INTO parquet.`$path` AS t USING sql_dml_src AS src
         |ON t.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head() // v1
    require(merge.getString(0) == "merge" && merge.getLong(4) == 1L,
      s"MERGE must route through the log as v1: $merge")
    require(filesPre.subsetOf(graft.ops.TxLog.liveFiles(s, path).toSet),
      "SQL MERGE must take the merge-on-read path: no data file rewritten")
    val upd = graft.plans.GraftDml.sql(s,
      s"""UPDATE parquet.`$path` SET o_orderpriority = 'X-DML'
         |WHERE o_orderkey % 993 = 0""".stripMargin).head() // v2
    require(upd.getString(0) == "update" && upd.getLong(4) == 2L,
      s"UPDATE must route through the log as v2: $upd")
    val del = graft.plans.GraftDml.sql(s,
      s"DELETE FROM parquet.`$path` WHERE o_orderkey % 997 = 0").head() // v3
    require(del.getString(0) == "delete" && del.getLong(4) == 3L &&
        del.getLong(2) > 0,
      s"DELETE must route through the log as v3: $del")
    graft.ops.TxLog.snapshot(s, path)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
  }

  /** The SQL DDL lifecycle ([[graft.plans.GraftDdl]]) composed with
    * DML, entirely through `GraftDml.sql`: CTAS from a SELECT over
    * the raw parquet, ALTER TABLE ADD COLUMNS (metadata-only commit +
    * versioned schema pin — pre-evolution rows read NULL), INSERT
    * INTO the widened table, UPDATE touching both eras. Hash-green =
    * the final snapshot equals DuckDB replaying the same algebra.
    * Scale shape: the only data-sized costs are the CTAS write and
    * the UPDATE's pruned rewrite; ADD COLUMNS touches no data file.
    */
  def qSqlDdl(s: SparkSession, dir: String): DataFrame = {
    val path = s"$indexQueryDir/sql_ddl"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    t(s, dir, "orders").createOrReplaceTempView("sql_ddl_orders")
    val ctas = graft.plans.GraftDml.sql(s,
      s"""CREATE TABLE parquet.`$path` AS
         |SELECT o_orderkey, o_totalprice FROM sql_ddl_orders
         |WHERE o_orderkey % 3 = 0""".stripMargin).head()
    require(ctas.getString(0) == "create-table-as" && ctas.getLong(4) == 0L,
      s"CTAS must land as v0: $ctas")
    val alter = graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$path` ADD COLUMNS (flag STRING)").head()
    require(alter.getString(0) == "add-columns" && alter.getLong(3) == 0L,
      s"ADD COLUMNS must touch no data file: $alter")
    graft.plans.GraftDml.sql(s,
      s"""INSERT INTO parquet.`$path`
         |SELECT o_orderkey + 20000000, o_totalprice, 'late'
         |FROM sql_ddl_orders WHERE o_orderkey < 30""".stripMargin)
    graft.plans.GraftDml.sql(s,
      s"""UPDATE parquet.`$path` SET flag = 'big'
         |WHERE o_totalprice > 200000""".stripMargin)
    graft.ops.TxLog.snapshot(s, path)
      .select(col("o_orderkey"), col("o_totalprice"), col("flag"))
  }

  /** Write-audit-publish on a branch ([[graft.ops.TxLog.createBranch]]
    * / `@branch` SQL DML / [[graft.ops.TxLog.publishBranch]]): fork
    * `close`, run the month-close batch on the branch entirely in SQL
    * (DELETE every 997th key, MERGE doubled prices + fresh +10M keys
    * against `path@close`), audit the branch while asserting MAIN is
    * bit-unmoved at v0, then publish: ONE atomic main commit lands the
    * whole batch. Hash-green = the post-publish snapshot equals DuckDB
    * replaying the same algebra.
    *
    * Scale shape: branch writes are the same pruned CoW/MOR operators
    * main uses (only the commit-file name differs); publish moves NO
    * data — O(changed entries) metadata, the Iceberg/Nessie WAP
    * economics. Audit reads cost one branch log fold.
    */
  def qBranchWap(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/branch_wap"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // main v0
    graft.ops.TxLog.createBranch(s, path, "close")
    val del = graft.plans.GraftDml.sql(s,
      s"DELETE FROM parquet.`$path@close` WHERE o_orderkey % 997 = 0").head()
    require(del.getString(1) == path && del.getLong(2) > 0,
      s"branch DELETE must split the @close suffix and hit rows: $del")
    o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(o.filter(col("o_orderkey") < 50)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_totalprice", lit(0.0)))
      .createOrReplaceTempView("branch_wap_src")
    graft.plans.GraftDml.sql(s,
      s"""MERGE INTO parquet.`$path@close` AS t USING branch_wap_src AS src
         |ON t.o_orderkey = src.o_orderkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // audit: the branch sees the batch, main is bit-unmoved at v0
    require(graft.ops.TxLog.currentVersion(s, path) == 0,
      "main must not advance while the branch is open")
    val mainCnt = graft.ops.TxLog.snapshot(s, path).count()
    require(mainCnt == o.count(), "main rows must be untouched pre-publish")
    val branchCnt = graft.ops.TxLog.withBranch(s, path, "close")(
      graft.ops.TxLog.snapshot(s, path).count())
    require(branchCnt != mainCnt, "the branch must differ pre-publish")
    val v = graft.ops.TxLog.publishBranch(s, path, "close")
    require(v == 1, s"publish must land as ONE main commit (got v$v)")
    require(graft.ops.TxLog.snapshot(s, path).count() == branchCnt,
      "post-publish main must equal the audited branch state")
    graft.ops.TxLog.snapshot(s, path)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
  }

  /** Deletion vectors inside a DbLog database ([[graft.ops.DbLog
    * .Txn.deleteWhereVectored]] / [[graft.ops.DbLog.Txn.upsertKeyed]]):
    * one multi-table transaction vectors matched orders rows out
    * (write cost O(deleted rows) — no orders data file rewritten,
    * asserted on the live-file set), MOR-upserts customer balances
    * and appends an audit row, all landing as ONE database version.
    * The snapshot and the change feed both read through the shared
    * DV-applying reader; the diff across the DV commit carries
    * exactly the vectored deletes.
    */
  def qDblogDv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val db = s"$indexQueryDir/dblog_dv"
    val fsp = new org.apache.hadoop.fs.Path(db)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, db) // v0
    graft.ops.DbLog.transact(s, db, "seed") { txn =>
      txn.append("orders", o.repartition(8))
      txn.append("customer", c.repartition(4))
    } // v1
    val vPre = graft.ops.DbLog.currentVersion(s, db)
    val ordersFilesPre = graft.ops.TxLog.liveEntries(s, db)
      .filter(_.name.startsWith("orders/")).map(_.name).toSet
    graft.ops.DbLog.transact(s, db, "dv-close-month") { txn =>
      txn.deleteWhereVectored("orders", col("o_orderstatus") === "F")
      txn.upsertKeyed("customer", Seq("c_custkey"),
        c.filter(pmod(col("c_custkey"), lit(97)) === 0)
          .withColumn("c_acctbal", lit(0.0)))
      txn.append("audit", s.range(1).select(lit("close").as("op")))
    } // v2 — one commit for all three tables
    require(graft.ops.DbLog.currentVersion(s, db) == vPre + 1,
      "the DV transaction must be exactly one commit")
    val ordersFilesPost = graft.ops.TxLog.liveEntries(s, db)
      .filter(_.name.startsWith("orders/")).map(_.name).toSet
    require(ordersFilesPre.subsetOf(ordersFilesPost),
      "vectored delete must not rewrite orders data files")
    val deletes = graft.ops.DbLog.diff(s, db, "orders", vPre, vPre + 1)
      .filter(col("_change_type") === "delete")
    def slim(df: DataFrame, tbl: String): DataFrame =
      df.select(lit(tbl).as("tbl"), col("k"), col("v"))
    slim(graft.ops.DbLog.snapshot(s, db, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v")),
      "orders_post")
      .unionByName(slim(deletes
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v")),
        "orders_deleted"))
      .unionByName(slim(graft.ops.DbLog.snapshot(s, db, "customer")
        .select(col("c_custkey").as("k"), col("c_acctbal").as("v")),
        "customer_post"))
  }

  /** The change-feed readStream source ([[org.apache.spark.sql.graft
    * .ChangeFeedSource]]): a `readStream.format("graft-cdc")` query
    * tails the log — offsets ARE versions, each microbatch is the
    * changed-files-only diff — while a MOR-era upsert and a keyed
    * delete land mid-query. Hash-green = the materialized feed
    * (change type + commit version per row) equals DuckDB replaying
    * the same three commits' algebra. Restart/cursor semantics are
    * ChangeFeedSourceSpec's.
    */
  def qCdcStream(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/cdc_stream"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    val sink = s"cdc_stream_${System.nanoTime}"
    val q = s.readStream.format("graft-cdc")
      .option("path", path).option("startingVersion", "0").load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cdc_q_ck").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // batch 1: the v0 snapshot as inserts
      graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
        o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(o.filter(col("o_orderkey") < 50)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
            .withColumn("o_totalprice", lit(0.0)))) // v1
      q.processAllAvailable() // batch 2: diff (0, 1]
      graft.ops.DeleteWhere.byKeysDistributed(s, path, "o_orderkey",
        graft.ops.TxLog.snapshot(s, path)
          .filter(pmod(col("o_orderkey"), lit(997)) === 0)
          .select("o_orderkey")) // v2
      q.processAllAvailable() // batch 3: diff (1, 2]
    } finally q.stop()
    s.table(sink).select(col("_change_type"), col("_commit_version"),
      col("o_orderkey"), col("o_totalprice"))
  }

  /** SELF-HEALING cdc pipeline ([[graft.streaming.CdcSupervisor]]):
    * a graft-cdc → apply replication survives ALTER TABLE ADD COLUMN
    * on the source mid-stream with ZERO manual intervention — the
    * evolution batch fails by contract (frozen-schema), the
    * supervisor recreates the query from the same checkpoint (the
    * rebuilt source re-resolves the schema at the current pin), the
    * uncommitted range redelivers, and the apply sink widens the
    * replica. A post-restart keyed update then flows normally.
    * Hash-green = the replica equals DuckDB's derivation of the
    * source's final state, pre-evolution rows NULL in the new
    * column, exactly once each.
    */
  def qCdcAutorestart(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val root = s"$indexQueryDir/cdc_autorestart"
    val fsp = new org.apache.hadoop.fs.Path(root)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    val src = s"$root/src"; val rep = s"$root/rep"
    n.repartition(2).write.parquet(src)
    graft.ops.TxLog.convert(s, src)
    val ck = s"$root/ck" // wiped with the root at the next run
    val sup = new graft.streaming.CdcSupervisor(() =>
      s.readStream.format("graft-cdc")
        .option("path", src).option("startingVersion", "0").load()
        .writeStream.format("graft").option("path", rep)
        .option("mode", "apply").option("keys", "n_nationkey")
        .option("checkpointLocation", ck).start())
    try {
      sup.processAllAvailable() // v0 snapshot applies
      // the source evolves UNDER the running stream + a commit
      // carrying the new column: ONE drain call heals through it
      graft.plans.GraftDml.sql(s,
        s"ALTER TABLE parquet.`$src` ADD COLUMNS (extra BIGINT)")
      graft.ops.TxLog.append(s, src,
        n.withColumn("n_nationkey",
          (col("n_nationkey") + 100).cast(n.schema("n_nationkey").dataType))
          .withColumn("extra", (col("n_nationkey") * 7).cast("long")))
      sup.processAllAvailable()
      require(sup.restarts == 1,
        s"cdc_autorestart: expected exactly one evolution restart, " +
          s"got ${sup.restarts}")
      // post-restart churn flows through the healed stream
      graft.ops.UpsertWhere.byKeys(s, src, "n_nationkey",
        n.filter(col("n_nationkey") === 1L)
          .withColumn("extra", lit(999L)))
      sup.processAllAvailable()
      require(sup.restarts == 1, "cdc_autorestart: no further restart")
    } finally sup.stop()
    graft.ops.TxLog.snapshot(s, rep)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
        col("extra"))
  }

  /** Row-group-routed range DELETE ([[graft.ops.DeleteWhere
    * .rangeRowGroups]] over [[graft.ops.ZoneMap.buildRowGroups]]):
    * a clustered layout deletes a narrow `l_partkey` band through
    * the row-group manifest — the receipt must show candidate files
    * strictly under the total (routing engaged) and the estimate
    * must bound the deleted rows; a second routed delete of an
    * out-of-domain range must touch nothing. Hash-green = the
    * survivors equal DuckDB's direct NOT-BETWEEN filter.
    */
  def qRoutedDelete(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val p = s"$indexQueryDir/routed_delete"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    li.repartitionByRange(8, col("l_partkey"))
      .sortWithinPartitions("l_partkey").write.parquet(p)
    graft.ops.TxLog.convert(s, p)
    val rg = graft.ops.ZoneMap.buildRowGroups(s, p, Seq("l_partkey"))
    val (receipt, est) = graft.ops.DeleteWhere.rangeRowGroups(
      s, p, "l_partkey", 800.0, 900.0, rg)
    require(receipt.candidates < receipt.filesTotal,
      s"routed_delete: expected pruning, " +
        s"${receipt.candidates} of ${receipt.filesTotal}")
    require(est >= receipt.deletedRows,
      s"routed_delete: estimate $est under-bounds ${receipt.deletedRows}")
    // out-of-domain: the zero estimate touches nothing
    val (r2, e2) = graft.ops.DeleteWhere.rangeRowGroups(
      s, p, "l_partkey", 1e15, 2e15,
      graft.ops.ZoneMap.buildRowGroups(s, p, Seq("l_partkey")))
    require(r2.candidates == 0 && r2.deletedRows == 0 && e2 == 0L,
      "routed_delete: out-of-domain range must be a no-op")
    graft.ops.TxLog.read(s, p)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
  }

  /** End-to-end log-to-log replication written ENTIRELY in standard
    * Spark streaming API — `readStream.format("graft-cdc")` tails the
    * source table's commits, `writeStream.format("graft")` mode=apply
    * lands each microbatch through the CDC-apply operator (upserts
    * AND deletes, idempotent by construction). The source takes an
    * upsert (price×2 on every 991st key + fresh +10M keys) and a
    * keyed delete (every 997th key) while the pipeline runs; the
    * returned replica snapshot must equal DuckDB replaying the same
    * algebra. 100 TB shape: each hop is O(changed files) — the source
    * reads only the commit range's files, the apply rewrites only the
    * files its keys land in.
    */
  def qStreamPipe(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val src = s"$indexQueryDir/stream_pipe_src"
    val dst = s"$indexQueryDir/stream_pipe_dst"
    Seq(src, dst).foreach { p =>
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    }
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(src)
    graft.ops.TxLog.convert(s, src) // v0
    val q = s.readStream.format("graft-cdc")
      .option("path", src).option("startingVersion", "0").load()
      .writeStream.format("graft")
      .option("path", dst).option("mode", "apply").option("keys", "o_orderkey")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("pipe_ck").toString)
      .start()
    try {
      graft.Phases.timed("snapshot_epoch")(
        q.processAllAvailable()) // the v0 snapshot replicates as inserts
      graft.Phases.timed("churn_writes") {
        graft.ops.UpsertWhere.byKeys(s, src, "o_orderkey",
          o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .unionByName(o.filter(col("o_orderkey") < 50)
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
              .withColumn("o_totalprice", lit(0.0)))) // v1
        graft.ops.DeleteWhere.byKeysDistributed(s, src, "o_orderkey",
          graft.ops.TxLog.snapshot(s, src)
            .filter(pmod(col("o_orderkey"), lit(997)) === 0)
            .select("o_orderkey")) // v2
      }
      graft.Phases.timed("churn_epoch")(
        q.processAllAvailable()) // both commits flow through the pipe
    } finally q.stop()
    graft.ops.TxLog.snapshot(s, dst)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** The FULL SQL MERGE surface ([[graft.plans.GraftDml]]'s general
    * executor): conditional matched clauses in priority order
    * (DELETE first, a guarded partial UPDATE second, UPDATE SET *
    * third), INSERT * for fresh keys, and WHEN NOT MATCHED BY SOURCE
    * with its own condition — one statement, one merge-on-read
    * commit. Hash-green means clause ordering, per-clause condition
    * evaluation, partial-SET semantics (unassigned columns keep the
    * target value) and the target-only clause all land exactly on
    * DuckDB's replay of the same algebra.
    */
  def qSqlMergeFull(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/sql_merge_full"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    o.filter(col("o_orderkey") <= 2000)
      .withColumn("o_totalprice", col("o_totalprice") + 7.0)
      .unionByName(o.filter(col("o_orderkey") < 40)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("o_totalprice", lit(0.0))
        .withColumn("o_orderpriority", lit("9-NEW")))
      .createOrReplaceTempView("merge_full_src")
    val r = graft.plans.GraftDml.sql(s,
      s"""MERGE INTO parquet.`$path` AS t USING merge_full_src AS s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
         |WHEN MATCHED AND s.o_totalprice > 150000 THEN
         |  UPDATE SET o_totalprice = s.o_totalprice,
         |             o_orderpriority = 'HOT'
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 13 = 0
         |  THEN DELETE
         |""".stripMargin).head()
    require(r.getString(0) == "merge" && r.getLong(2) > 0,
      s"general MERGE must fire: $r")
    graft.ops.TxLog.snapshot(s, path).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Clone DETACH ([[graft.ops.TxLog.localize]]): a shallow clone of
    * a DV-carrying table takes a CoW edit (localizing its candidate
    * files), then `localize` copies every still-based entry's live
    * rows local — folding inherited vectors as it goes — and the
    * SOURCE DIRECTORY IS DELETED OUTRIGHT before the result is read.
    * Hash-green means the detached clone's state survives total
    * source loss and equals DuckDB's replay of the composed edits.
    */
  def qCloneDetach(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val src = s"$indexQueryDir/clone_detach_src"
    val dst = s"$indexQueryDir/clone_detach_dst"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    for (p <- Seq(src, dst))
      fs.delete(new org.apache.hadoop.fs.Path(p), true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(src)
    graft.ops.TxLog.convert(s, src) // v0
    graft.ops.DeletionVectors.delete(s, src,
      pmod(col("o_custkey"), lit(5)) === 0) // src v1: vectors pre-clone
    graft.ops.TxLog.cloneTo(s, src, dst)
    graft.ops.DeleteWhere.range(s, dst, "o_orderkey", 1, 1000) // localizes hits
    val r = graft.ops.TxLog.localize(s, dst) // detach: copy the rest
    require(r.localized > 0 && r.bytesCopied > 0,
      s"detach must copy the still-based tail: $r")
    require(graft.ops.TxLog.dataInputFiles(s, dst)
      .forall(!_.contains("clone_detach_src")),
      "a detached clone must reference nothing under the source")
    fs.delete(new org.apache.hadoop.fs.Path(src), true) // source GONE
    graft.ops.TxLog.snapshot(s, dst).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
  }

  /** Row-level change feed with UPDATE IMAGES ([[graft.ops.TxLog
    * .changes]]): a MERGE commit's changed rows pair by key into
    * update_preimage/update_postimage (one-sided keys stay
    * insert/delete), a later DELETE commit contributes pure deletes,
    * and every row carries its commit version — the Delta CDF /
    * Debezium consumer shape [[graft.ops.TxLog.diff]]'s net multiset
    * view cannot express. Hash-green means per-commit attribution and
    * image pairing land exactly on DuckDB's independent replay of
    * each commit's algebra.
    */
  def qCdfImages(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val path = s"$indexQueryDir/cdf_images"
    val fsp = new org.apache.hadoop.fs.Path(path)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(path)
    graft.ops.TxLog.convert(s, path) // v0
    graft.ops.UpsertWhere.byKeys(s, path, "o_orderkey",
      o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.filter(col("o_orderkey") < 50)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))) // v1
    graft.ops.DeleteWhere.byKeysDistributed(s, path, "o_orderkey",
      graft.ops.TxLog.snapshot(s, path)
        .filter(pmod(col("o_orderkey"), lit(997)) === 0)
        .select("o_orderkey")) // v2
    graft.ops.TxLog.changes(s, path, 0, 2, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
  }

  /** ZERO-COPY SHALLOW CLONE ([[graft.ops.TxLog.cloneTo]]): the clone
    * is one metadata commit (asserted: zero data files under the
    * clone root), after which source and clone diverge through every
    * write family — the clone takes a CoW range delete (localizing
    * the touched entries), a vectored delete, a MOR upsert and an
    * append; the source takes its own delete and append. Hash-green
    * means both endpoints land exactly on DuckDB's independent replay
    * of each side's algebra — shared bytes, independent states.
    */
  def qClone(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val src = s"$indexQueryDir/clone_src"
    val dst = s"$indexQueryDir/clone_dst"
    for (p <- Seq(src, dst)) {
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    }
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(src)
    graft.ops.TxLog.convert(s, src) // src v0
    graft.ops.TxLog.cloneTo(s, src, dst) // dst v0, zero bytes copied
    require({
      val p = new org.apache.hadoop.fs.Path(dst)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      !fs.listStatus(p).exists(st => st.isFile ||
        !st.getPath.getName.startsWith("_"))
    }, "shallow clone must copy no data files")
    // clone-side lifecycle: CoW localize + DV + MOR merge + append
    graft.ops.DeleteWhere.range(s, dst, "o_orderkey", 1, 2000) // dst v1
    graft.ops.DeletionVectors.delete(s, dst,
      pmod(col("o_custkey"), lit(7)) === 0) // dst v2
    graft.ops.DeletionVectors.upsert(s, dst,
      o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      keyCols = Seq("o_orderkey")) // dst v3
    graft.ops.TxLog.append(s, dst,
      o.filter(col("o_orderkey") < 50)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)) // dst v4
    // source-side divergence AFTER the clone — invisible to the clone
    graft.ops.DeleteWhere.range(s, src, "o_orderkey", 1, 500)
    graft.ops.TxLog.append(s, src,
      o.filter(col("o_orderkey") < 30)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L))
    val cols = Seq(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))
    graft.ops.TxLog.snapshot(s, dst).select(cols: _*)
      .withColumn("side", lit("clone"))
      .unionByName(graft.ops.TxLog.snapshot(s, src).select(cols: _*)
        .withColumn("side", lit("source")))
  }

  /** Clone of a DV-CARRYING table: the clone inherits the source's
    * deletion vectors (sidecars resolve under the source's `_dv/` via
    * the entry's dvBase), a further clone-side delete MERGES the
    * inherited positions into a LOCAL sidecar, and materialize folds
    * everything into clone-local files — while the source diverges
    * with its own post-clone vector. Hash-green means inherited +
    * merged + folded vectors all land on DuckDB's direct filters.
    */
  def qCloneDv(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_shipdate")
    val src = s"$indexQueryDir/clone_dv_src"
    val dst = s"$indexQueryDir/clone_dv_dst"
    for (p <- Seq(src, dst)) {
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    }
    li.repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").write.parquet(src)
    graft.ops.TxLog.convert(s, src) // src v0
    graft.ops.DeletionVectors.delete(s, src,
      pmod(col("l_partkey"), lit(7)) === 0) // src v1: vectors pre-clone
    graft.ops.TxLog.cloneTo(s, src, dst)
    // the clone-side delete merges the INHERITED vector's positions
    graft.ops.DeletionVectors.delete(s, dst, col("l_quantity") >= 45.0)
    graft.ops.DeletionVectors.materialize(s, dst) // fold into LOCAL files
    graft.ops.TxLog.vacuum(s, dst, retainVersions = 1, dvSweepAgeMs = 0L)
    // post-materialize the clone reads NOTHING from the source
    require(graft.ops.TxLog.dataInputFiles(s, dst)
      .forall(!_.contains("clone_dv_src")),
      "materialize must localize every DV-carrying (= every) entry")
    // source diverges with its own post-clone vector
    graft.ops.DeletionVectors.delete(s, src, col("l_quantity") <= 2.0)
    val cols = Seq(col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_quantity"),
      col("l_shipdate"))
    graft.ops.TxLog.snapshot(s, dst).select(cols: _*)
      .withColumn("side", lit("clone"))
      .unionByName(graft.ops.TxLog.snapshot(s, src).select(cols: _*)
        .withColumn("side", lit("source")))
  }

  /** COLUMN MAPPING ([[graft.ops.ColumnMapping]]): `ALTER TABLE …
    * RENAME COLUMN` is metadata-only — data files keep their physical
    * names forever; the pin carries logical→physical (Delta name-mode
    * mapping on the log's versioned pins). After the rename every DML
    * family keeps working through the NEW name: a SQL UPDATE, a MOR
    * upsert, a SQL DELETE and an append — and the query ASSERTS that
    * no live file ever spells the new name (nothing rewrote) while
    * the snapshot reads it everywhere. Hash-green means the logical
    * view lands exactly on DuckDB's replay with the rename applied as
    * a projection.
    */
  def qColmapRename(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val p = s"$indexQueryDir/colmap_rename"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.parquet(p)
    graft.ops.TxLog.convert(s, p) // v0
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$p` RENAME COLUMN o_totalprice TO price") // v1
    // every write family through the NEW logical name
    graft.plans.GraftDml.sql(s,
      s"UPDATE parquet.`$p` SET price = price * 2 WHERE o_orderkey % 997 = 0")
    graft.ops.DeletionVectors.upsert(s, p,
      o.filter(pmod(col("o_orderkey"), lit(991)) === 0)
        .withColumnRenamed("o_totalprice", "price")
        .withColumn("price", col("price") + 1),
      keyCols = Seq("o_orderkey")) // MOR merge
    graft.plans.GraftDml.sql(s,
      s"DELETE FROM parquet.`$p` WHERE o_custkey % 13 = 0")
    graft.ops.TxLog.append(s, p,
      o.filter(col("o_orderkey") < 100)
        .withColumnRenamed("o_totalprice", "price")
        .withColumn("o_orderkey", col("o_orderkey") + 30000000L))
    // receipt: the rename rewrote NOTHING — every live data file still
    // spells the physical name, never the logical one
    graft.ops.TxLog.liveFiles(s, p).foreach { n =>
      val footer = s.read.parquet(s"$p/$n").schema.fieldNames.toSet
      require(footer.contains("o_totalprice") && !footer.contains("price"),
        s"column mapping leaked the logical name into $n: $footer")
    }
    graft.ops.TxLog.snapshot(s, p)
  }

  /** DROP + re-ADD of the SAME column name under column mapping: the
    * re-added column maps to FRESH physical storage, so pre-drop rows
    * read NULL instead of resurrecting the dead column's values out
    * of old footers — the correctness hole name-based parquet
    * evolution cannot close (and the reason Delta/Iceberg carry
    * column IDs). Post-add appends land in the fresh column and read
    * back. Hash-green against DuckDB nulling the old era explicitly.
    */
  def qColmapDropReadd(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val p = s"$indexQueryDir/colmap_readd"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").write.parquet(p)
    graft.ops.TxLog.convert(s, p)
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$p` RENAME COLUMN l_extendedprice TO price")
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$p` DROP COLUMN l_quantity")
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$p` ADD COLUMNS (l_quantity DOUBLE)")
    // post-add rows carry real quantities in the FRESH physical column
    graft.ops.TxLog.append(s, p,
      li.withColumnRenamed("l_extendedprice", "price")
        .filter(col("l_orderkey") < 100)
        .withColumn("l_orderkey", col("l_orderkey") + 50000000L)
        .select("l_orderkey", "l_linenumber", "price", "l_quantity"))
    graft.ops.TxLog.snapshot(s, p)
  }

  /** IDENTITY COLUMNS ([[graft.ops.IdentityColumns]]): `GENERATED
    * ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 5)` filled by the
    * append path from the log's kernel-atomic allocation ledger —
    * unique, monotone, gaps-allowed (SQL-standard identity). Two
    * appends land as single sorted partitions so the assignment is
    * deterministic and DuckDB replays it with row_number arithmetic;
    * the second batch's ids sit strictly above the first's high water
    * (the ledger survives commits). The general assignment is
    * shuffle-free per-partition blocks — the sort here is the QUERY's
    * determinism choice, not the operator's requirement.
    */
  def qIdentity(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val p = s"$indexQueryDir/identity"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.plans.GraftDml.sql(s,
      s"""CREATE TABLE parquet.`$p`
         |  (row_id BIGINT GENERATED ALWAYS AS IDENTITY
         |     (START WITH 10 INCREMENT BY 5),
         |   c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)""".stripMargin)
    graft.ops.TxLog.append(s, p,
      c.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .repartition(1).sortWithinPartitions("c_custkey"))
    graft.ops.TxLog.append(s, p,
      c.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .repartition(1).sortWithinPartitions("c_custkey"))
    graft.ops.TxLog.snapshot(s, p)
  }

  /** CLONE × SCHEMA EVOLUTION ([[graft.ops.TxLog.cloneTo]] +
    * [[graft.ops.ColumnMapping]]): a shallow clone RENAMES a column,
    * copy-on-write DELETES a slice (localizing exactly the touched
    * based entries) and APPENDS under the new name — while the SOURCE
    * stays byte-identical: the output carries the source's row count
    * and key sum as cross-joined scalars, so any leak of the clone's
    * rename/delete into the source breaks the hash. The clone's
    * mixed provenance (still-based source bytes + localized rewrites +
    * fresh appends) reads as ONE logical table under the renamed pin.
    */
  def qCloneRename(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    val src = s"$indexQueryDir/clone_rename_src"
    val cln = s"$indexQueryDir/clone_rename_c"
    Seq(src, cln).foreach { p =>
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    }
    base.repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").write.parquet(src)
    graft.ops.TxLog.convert(s, src)
    graft.ops.TxLog.cloneTo(s, src, cln)
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$cln` RENAME COLUMN l_extendedprice TO price")
    graft.plans.GraftDml.sql(s,
      s"DELETE FROM parquet.`$cln` WHERE l_quantity > 40")
    graft.ops.TxLog.append(s, cln,
      base.filter(col("l_orderkey") < 100)
        .withColumn("l_orderkey", col("l_orderkey") + 80000000L)
        .withColumnRenamed("l_extendedprice", "price"))
    val srcAgg = graft.ops.TxLog.snapshot(s, src).agg(
      count(lit(1)).as("src_rows"),
      sum(col("l_orderkey")).as("src_keysum"))
    graft.ops.TxLog.snapshot(s, cln).crossJoin(srcAgg)
  }

  /** PER-TABLE COLUMN MAPPING in a DbLog database
    * ([[graft.ops.DbLog.renameColumn]]): one multi-table warehouse,
    * RENAME COLUMN on table `li` only — metadata-sized, sibling `ord`
    * untouched. Post-rename, a multi-table transaction appends to BOTH
    * tables under the new name and a copy-on-write delete prunes `li`
    * by a predicate on an unrenamed column; the staged files keep
    * spelling the PHYSICAL (pre-rename) name while every query speaks
    * the logical one. The output is a cross-table join snapshot —
    * hash-green means the whole lifecycle (rename, mixed-era files,
    * physical staging, per-table pins) lands exactly on DuckDB
    * replaying the visible algebra.
    */
  def qDblogColmap(s: SparkSession, dir: String): DataFrame = {
    val li0 = t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    val ord0 = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val p = s"$indexQueryDir/dblog_colmap"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, p)
    graft.ops.DbLog.transact(s, p, "seed") { txn =>
      txn.append("li", li0)
      txn.append("ord", ord0)
    }
    graft.ops.DbLog.renameColumn(s, p, "li", "l_extendedprice", "price")
    graft.ops.DbLog.transact(s, p, "post-rename") { txn =>
      txn.append("li", li0.filter(col("l_orderkey") < 200)
        .withColumn("l_orderkey", col("l_orderkey") + 90000000L)
        .withColumnRenamed("l_extendedprice", "price"))
      txn.append("ord", ord0.filter(col("o_orderkey") < 200)
        .withColumn("o_orderkey", col("o_orderkey") + 90000000L))
    }
    graft.ops.DbLog.transact(s, p, "prune") { txn =>
      txn.deleteWhere("li", col("l_quantity") > 45)
    }
    val li = graft.ops.DbLog.snapshot(s, p, "li")
    val ord = graft.ops.DbLog.snapshot(s, p, "ord")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left")
      .select(li("l_orderkey"), li("l_linenumber"), li("price"),
        li("l_quantity"), ord("o_totalprice"))
  }

  /** Per-table TYPE WIDENING in a DbLog database
    * ([[graft.ops.DbLog.alterColumnType]]): `li.l_quantity` seeds as
    * INT, renames to `qty` (column mapping freezes the physical
    * name), then widens INT→BIGINT — metadata-only, the sibling
    * table `ord` keeps the pin its creating commit wrote. A
    * post-widen MULTI-TABLE txn appends qty values beyond INT range
    * to `li` and fresh keys to `ord` in one commit; a narrowing
    * attempt must refuse; and the
    * pre-evolution AS OF cut must read the narrow type under its old
    * name at one consistent cross-table version. DuckDB replays the
    * final join with explicit CASTs; the AS OF cut rides along as
    * scalar leak detectors.
    */
  def qDblogWiden(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val li0 = t(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("int").as("l_quantity"))
    val ord0 = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val p = s"$indexQueryDir/dblog_widen"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, p)
    graft.ops.DbLog.transact(s, p, "seed") { txn =>
      txn.append("li", li0)
      txn.append("ord", ord0)
    }
    val vSeed = graft.ops.DbLog.currentVersion(s, p)
    // rename THEN widen: the retype keeps the frozen physical name
    graft.ops.DbLog.renameColumn(s, p, "li", "l_quantity", "qty")
    graft.ops.DbLog.alterColumnType(s, p, "li", "qty", LongType)
    require(scala.util.Try(graft.ops.DbLog.alterColumnType(
        s, p, "li", "qty", IntegerType)).isFailure,
      "dblog_widen: narrowing BIGINT -> INT must refuse")
    require(graft.ops.DbLog.tableSchema(s, p, "ord") ==
        graft.ops.DbLog.tableSchema(s, p, "ord", vSeed),
      "dblog_widen: the sibling table must keep its creation pin (untouched)")
    graft.ops.DbLog.transact(s, p, "post-widen") { txn =>
      txn.append("li", li0.filter(col("l_orderkey") < 200)
        .select((col("l_orderkey") + 90000000L).as("l_orderkey"),
          col("l_linenumber"),
          (col("l_quantity").cast("long") + 3000000000L).as("qty")))
      txn.append("ord", ord0.filter(col("o_orderkey") < 200)
        .withColumn("o_orderkey", col("o_orderkey") + 90000000L))
    }
    // the pre-evolution cut: narrow type, old name, both tables at
    // ONE shared version — the cross-table AS OF consistency claim
    val liOld = graft.ops.DbLog.snapshot(s, p, "li", vSeed)
    require(liOld.schema("l_quantity").dataType == IntegerType,
      "dblog_widen: AS OF before the widen must read INT")
    val preLi = liOld.count()
    val preOrd = graft.ops.DbLog.snapshot(s, p, "ord", vSeed).count()
    val li = graft.ops.DbLog.snapshot(s, p, "li")
    require(li.schema("qty").dataType == LongType,
      "dblog_widen: the current snapshot must read BIGINT")
    val ord = graft.ops.DbLog.snapshot(s, p, "ord")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left")
      .select(li("l_orderkey"), li("l_linenumber"), li("qty"),
        ord("o_totalprice"))
      .withColumn("pre_li_rows", lit(preLi))
      .withColumn("pre_ord_rows", lit(preOrd))
  }

  /** PER-TABLE ROW TRACKING on a [[graft.ops.DbLog]] database
    * ([[graft.ops.RowTracking.enableTable]]): stable `_row_id`s /
    * `_row_commit_version`s on TWO tables of one database, allocated
    * from the shared database-wide ledger (ids unique across tables)
    * and replayed through the full rewrite matrix: a MULTI-TABLE
    * transaction appending both tables in one commit (ids interleave
    * in staged order), a per-table compaction (ids and versions
    * travel materialized), a second multi-table transaction running a
    * copy-on-write DELETE on one table and a merge-on-read keyed
    * upsert on the other (survivors keep id+version; update images
    * inherit ids, take the txn's version), and a copy-on-write keyed
    * upsert (delete + re-insert under the same id). DuckDB replays
    * every id with row_number arithmetic over the append order and
    * the commit-version CASE logic.
    */
  def qDbRowIds(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_acctbal")
    val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
    val p = s"$indexQueryDir/db_rowids"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.DbLog.create(s, p) // v0
    graft.ops.DbLog.setTableSchema(s, p, "cust", c.schema, 0)
    graft.ops.DbLog.setTableSchema(s, p, "ord", o.schema, 0)
    graft.ops.RowTracking.enableTable(s, p, "cust")
    graft.ops.RowTracking.enableTable(s, p, "ord")
    def sorted1(df: DataFrame, k: String) =
      df.repartition(1).sortWithinPartitions(k)
    // v1/v2: two multi-table commits — cust ids [0, nE), ord
    // [nE, nE+nO0), then the second wave at the moved water
    graft.Phases.timed("loads") {
      graft.ops.DbLog.transact(s, p, "load1") { txn =>
        txn.append("cust",
          sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 0), "c_custkey"))
        txn.append("ord",
          sorted1(o.filter(pmod(col("o_orderkey"), lit(3)) === 0), "o_orderkey"))
      }
      graft.ops.DbLog.transact(s, p, "load2") { txn =>
        txn.append("cust",
          sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 1), "c_custkey"))
        txn.append("ord",
          sorted1(o.filter(pmod(col("o_orderkey"), lit(3)) === 1), "o_orderkey"))
      }
    }
    // v3: pack cust's two files — no id or version may move
    graft.Phases.timed("compact")(
      require(graft.ops.DbLog.compactTable(s, p, "cust",
        smallBytes = 8L << 20) == 3, "db_rowids: compaction must land v3"))
    // v4: multi-table churn — CoW delete on cust, MOR upsert on ord
    graft.Phases.timed("churn_txn") {
      val ordUpd = graft.ops.DbLog.snapshot(s, p, "ord")
        .filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .localCheckpoint()
      graft.ops.DbLog.transact(s, p, "churn") { txn =>
        txn.deleteWhere("cust", pmod(col("c_custkey"), lit(7)) === 0)
        txn.upsertKeyed("ord", Seq("o_orderkey"), ordUpd)
      }
    }
    // v5: CoW keyed upsert on cust — delete + re-insert, id inherited
    graft.Phases.timed("bump_txn") {
      val custUpd = graft.ops.DbLog.snapshot(s, p, "cust")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .localCheckpoint()
      graft.ops.DbLog.transact(s, p, "bump") { txn =>
        txn.upsert("cust", "c_custkey", custUpd)
      }
    }
    val cu = graft.ops.RowTracking.readTable(s, p, "cust")
      .select(lit("cust").as("tbl"), col("c_custkey").cast("long").as("k"),
        col("c_acctbal").cast("double").as("v"),
        col(graft.ops.RowTracking.Col),
        col(graft.ops.RowTracking.VerCol).cast("long")
          .as(graft.ops.RowTracking.VerCol))
    val or = graft.ops.RowTracking.readTable(s, p, "ord")
      .select(lit("ord").as("tbl"), col("o_orderkey").cast("long").as("k"),
        col("o_totalprice").cast("double").as("v"),
        col(graft.ops.RowTracking.Col),
        col(graft.ops.RowTracking.VerCol).cast("long")
          .as(graft.ops.RowTracking.VerCol))
    cu.unionByName(or)
  }

  /** KEYLESS replication of ONE TABLE of a [[graft.ops.DbLog]]
    * database ([[graft.ops.DbLog.replicateTableByRowId]]): the
    * per-table `_row_id` feed replicates `db/cust` into a standalone
    * replica while a sibling table churns alongside — a multi-table
    * transaction applying a keyed change batch to cust AND appending
    * to the sibling replicates in one hop, a SIBLING-ONLY commit
    * advances the cursor without committing anything to the replica,
    * table MAINTENANCE (deletion-vector fold + bin-pack) nets to
    * nothing (asserted on the replica's version each time), and a
    * per-table RENAME mid-stream followed
    * by a post-rename update re-spells the replica through the
    * table's own pins. DuckDB replays the final replica, ids
    * included, with row_number arithmetic.
    */
  def qDbReplicate(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val db = s"$indexQueryDir/db_replicate"
    val dst = s"$indexQueryDir/db_replicate_dst"
    val conf = s.sparkContext.hadoopConfiguration
    Seq(db, dst).foreach { p =>
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(conf).delete(fsp, true)
    }
    graft.ops.DbLog.create(s, db) // v0
    graft.ops.DbLog.setTableSchema(s, db, "cust", c.schema, 0)
    graft.ops.RowTracking.enableTable(s, db, "cust")
    def sorted1(df: DataFrame) =
      df.repartition(1).sortWithinPartitions("c_custkey")
    def meta(tag: String) = {
      import s.implicits._
      Seq(tag).toDF("note")
    }
    graft.Phases.timed("loads") {
      graft.ops.DbLog.transact(s, db, "load1") { txn => // cust ids 0..nE-1
        txn.append("cust",
          sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 0)))
        txn.append("meta", meta("w1"))
      }
      graft.ops.DbLog.transact(s, db, "load2") { txn => // ids nE..n-1
        txn.append("cust",
          sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 1)))
        txn.append("meta", meta("w2"))
      }
    }
    graft.Phases.timed("resync")(
      graft.ops.DbLog.replicateTableByRowId(s, db, "cust", dst))
    // one multi-table txn: keyed changes on cust (delete %7 minus the
    // %10 overlap, bump %10 by 1000) + a sibling append
    graft.Phases.timed("churn_txn") {
      val bump = graft.ops.DbLog.snapshot(s, db, "cust")
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .localCheckpoint()
      val dead = graft.ops.DbLog.snapshot(s, db, "cust")
        .filter(pmod(col("c_custkey"), lit(7)) === 0 &&
          pmod(col("c_custkey"), lit(10)) =!= 0)
        .select("c_custkey").localCheckpoint()
      graft.ops.DbLog.transact(s, db, "churn") { txn =>
        txn.applyKeyed("cust", Seq("c_custkey"), bump, dead)
        txn.append("meta", meta("churn"))
      }
    }
    graft.Phases.timed("churn_advance")(
      graft.ops.DbLog.replicateTableByRowId(s, db, "cust", dst))
    // a sibling-only commit: the advance is a pure cursor hop
    val dstV = graft.ops.TxLog.currentVersion(s, dst)
    graft.ops.DbLog.append(s, db, "meta", meta("sibling"))
    graft.Phases.timed("sibling_advance")(
      graft.ops.DbLog.replicateTableByRowId(s, db, "cust", dst))
    require(graft.ops.TxLog.currentVersion(s, dst) == dstV,
      "db_replicate: a sibling-table advance must commit nothing")
    // maintenance movement nets to nothing too: fold the churn txn's
    // deletion vectors (visible rows only, ids materialized), then
    // pack the smalls — both must replicate as empty feeds
    graft.Phases.timed("materialize")(
      require(graft.ops.DbLog.materializeTable(s, db, "cust") > 0,
        "db_replicate: the churn left vectors to fold"))
    graft.Phases.timed("compact")(
      require(graft.ops.DbLog.compactTable(s, db, "cust",
        smallBytes = 8L << 20) > 0, "db_replicate: smalls to pack"))
    graft.Phases.timed("maintain_advance")(
      graft.ops.DbLog.replicateTableByRowId(s, db, "cust", dst))
    require(graft.ops.TxLog.currentVersion(s, dst) == dstV,
      "db_replicate: a maintenance advance must commit nothing")
    // per-table rename mid-stream + a post-rename update
    graft.Phases.timed("rename_writes") {
      graft.ops.DbLog.renameColumn(s, db, "cust", "c_acctbal", "bal")
      val upd2 = graft.ops.DbLog.snapshot(s, db, "cust")
        .filter(pmod(col("c_custkey"), lit(13)) === 0)
        .withColumn("bal", col("bal") + 7).localCheckpoint()
      graft.ops.DbLog.transact(s, db, "post-rename")(
        _.upsertKeyed("cust", Seq("c_custkey"), upd2))
    }
    graft.Phases.timed("rename_advance")(
      graft.ops.DbLog.replicateTableByRowId(s, db, "cust", dst))
    graft.ops.TxLog.snapshot(s, dst)
      .select(col("c_custkey"), col("c_name"), col("bal"),
        col(graft.ops.RowTracking.Col))
  }

  /** ROW TRACKING ([[graft.ops.RowTracking]]): stable `_row_id`s that
    * survive rewrites. Three sorted single-partition appends give
    * deterministic position-derived ids (file base + row index); a
    * copy-on-write DELETE then rewrites the files (survivors carry
    * their ids MATERIALIZED), a compaction packs the remains (ids
    * travel as data), and a merge-on-read upsert bumps a key slice
    * (update images inherit their rows' ids). DuckDB replays the ids
    * with row_number arithmetic over the ORIGINAL append order — every
    * surviving row must still wear the id it was born with, through
    * three generations of physical rewrites.
    */
  def qRowIds(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val p = s"$indexQueryDir/rowids"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.ops.TxLog.convert(s, p) // v0
    graft.ops.TxLog.setTableSchema(s, p, c.schema, 0)
    graft.ops.RowTracking.enable(s, p)
    def sorted1(df: DataFrame) =
      df.repartition(1).sortWithinPartitions("c_custkey")
    graft.ops.TxLog.append(s, p, // v1
      sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 0)))
    graft.ops.TxLog.append(s, p, // v2
      sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 1)))
    graft.ops.TxLog.append(s, p, // v3
      sorted1(c.filter(col("c_custkey") <= 30)
        .withColumn("c_custkey", col("c_custkey") + 1000000L)))
    // pack the three appends — ids AND commit versions travel as
    // materialized data: no row's provenance moves with its bytes (v4)
    graft.ops.Compact.binPack(s, p, smallBytes = 8L << 20)
    // copy-on-write delete: the packed file rewrites, survivors keep
    // both id and version (v5)
    graft.ops.DeleteWhere.where(s, p, pmod(col("c_custkey"), lit(7)) === 0)
    // merge-on-read update: images inherit their rows' ids by key but
    // take the UPDATE's commit as their row version (v6)
    val upd = graft.ops.TxLog.snapshot(s, p)
      .filter(pmod(col("c_custkey"), lit(10)) === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1000)
      .localCheckpoint()
    graft.ops.DeletionVectors.upsert(s, p, upd, keyCols = Seq("c_custkey"))
    graft.ops.RowTracking.read(s, p)
  }

  /** Row-id-keyed replication ([[graft.ops.TxLog.replicateByRowId]]):
    * a row-tracked source replicates KEYLESSLY — the stable `_row_id`
    * is the merge key, so no user column is chosen (or renamed out
    * from under the pipeline). Lifecycle: three sorted appends (the
    * deterministic-id discipline of q_rowids), full resync, CoW
    * delete + MOR update advanced in one hop, a compaction advance
    * that must replicate as NOTHING (identical (row, id) pairs net to
    * an empty feed — asserted on the replica's version), then a
    * mapped RENAME on the source mid-stream followed by a post-rename
    * update — the replica follows the new spelling and the id key
    * never breaks. DuckDB replays the final replica, ids included,
    * with row_number arithmetic over the original append order.
    */
  def qReplicateRowid(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val src = s"$indexQueryDir/replrow_src"
    val dst = s"$indexQueryDir/replrow_dst"
    val conf = s.sparkContext.hadoopConfiguration
    Seq(src, dst).foreach { p =>
      val fsp = new org.apache.hadoop.fs.Path(p)
      fsp.getFileSystem(conf).delete(fsp, true)
    }
    graft.ops.TxLog.convert(s, src) // v0
    graft.ops.TxLog.setTableSchema(s, src, c.schema, 0)
    graft.ops.RowTracking.enable(s, src)
    def sorted1(df: DataFrame) =
      df.repartition(1).sortWithinPartitions("c_custkey")
    graft.Phases.timed("appends") {
      graft.ops.TxLog.append(s, src, // ids 0..nE-1
        sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 0)))
      graft.ops.TxLog.append(s, src, // ids nE..n-1
        sorted1(c.filter(pmod(col("c_custkey"), lit(2)) === 1)))
      graft.ops.TxLog.append(s, src, // ids n..
        sorted1(c.filter(col("c_custkey") <= 30)
          .withColumn("c_custkey", col("c_custkey") + 1000000L)))
    }
    graft.Phases.timed("resync") {
      require(graft.ops.TxLog.replicateByRowId(s, src, dst)._1 == -1)
    }
    // churn: CoW delete + MOR update, replicated in one cursor hop
    graft.Phases.timed("churn_writes") {
      graft.ops.DeleteWhere.where(s, src,
        pmod(col("c_custkey"), lit(7)) === 0)
      val upd = graft.ops.TxLog.snapshot(s, src)
        .filter(pmod(col("c_custkey"), lit(10)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .localCheckpoint()
      graft.ops.DeletionVectors.upsert(s, src, upd,
        keyCols = Seq("c_custkey"))
    }
    graft.Phases.timed("churn_advance")(
      graft.ops.TxLog.replicateByRowId(s, src, dst))
    // compaction must replicate as NOTHING: the replica version holds
    val dstV = graft.ops.TxLog.currentVersion(s, dst)
    graft.Phases.timed("compact")(
      graft.ops.Compact.binPack(s, src, smallBytes = 8L << 20))
    graft.Phases.timed("compact_advance")(
      graft.ops.TxLog.replicateByRowId(s, src, dst))
    require(graft.ops.TxLog.currentVersion(s, dst) == dstV,
      "replicate_rowid: a compaction advance must commit nothing")
    // mapped rename mid-stream + a post-rename update; the replica
    // follows the spelling, the id key survives by construction
    graft.Phases.timed("rename_writes") {
      graft.ops.ColumnMapping.renameColumn(s, src, "c_acctbal", "bal")
      val upd2 = graft.ops.TxLog.snapshot(s, src)
        .filter(pmod(col("c_custkey"), lit(13)) === 0)
        .withColumn("bal", col("bal") + 7)
        .localCheckpoint()
      graft.ops.DeletionVectors.upsert(s, src, upd2,
        keyCols = Seq("c_custkey"))
    }
    graft.Phases.timed("rename_advance")(
      graft.ops.TxLog.replicateByRowId(s, src, dst))
    graft.ops.TxLog.snapshot(s, dst)
      .select(col("c_custkey"), col("c_name"), col("bal"),
        col(graft.ops.RowTracking.Col))
  }

  /** IDENTITY `GENERATED BY DEFAULT` ([[graft.ops.IdentityColumns]]):
    * the engine fills omitted ids exactly like ALWAYS, but a batch MAY
    * supply the column — supplied values land verbatim and the
    * allocation ledger RE-SYNCS past the supplied maximum inside the
    * same write, so later engine assignments never collide (the
    * SQL-standard BY DEFAULT contract). Three batches: engine-assigned
    * (sorted single partition — deterministic ids), fully-explicit
    * (1000000 + key), and MIXED — explicit on even keys, NULL on odd
    * keys, where the NULL rows fill strictly above the batch's own
    * supplied max because the re-sync happens before assignment.
    * DuckDB replays all three with row_number arithmetic.
    */
  def qIdentityDefault(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val p = s"$indexQueryDir/identity_default"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.plans.GraftDml.sql(s,
      s"""CREATE TABLE parquet.`$p`
         |  (row_id BIGINT GENERATED BY DEFAULT AS IDENTITY
         |     (START WITH 10 INCREMENT BY 5),
         |   c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)""".stripMargin)
    // engine-assigned: the batch omits row_id
    graft.ops.TxLog.append(s, p,
      c.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .repartition(1).sortWithinPartitions("c_custkey"))
    // fully explicit: values land verbatim, the ledger re-syncs past max
    graft.ops.TxLog.append(s, p,
      c.filter(pmod(col("c_custkey"), lit(2)) === 1)
        .select((lit(1000000L) + col("c_custkey")).as("row_id"),
          col("c_custkey"), col("c_name"), col("c_acctbal")))
    // mixed: explicit on evens, NULL (engine fills above 2000000+max
    // even key ≤ 40, the batch's own re-synced water) on odds
    graft.ops.TxLog.append(s, p,
      c.filter(col("c_custkey") <= 40)
        .repartition(1).sortWithinPartitions("c_custkey")
        .select(
          when(pmod(col("c_custkey"), lit(2)) === 0,
            lit(2000000L) + col("c_custkey")).as("row_id"),
          col("c_custkey"), col("c_name"), col("c_acctbal")))
    graft.ops.TxLog.snapshot(s, p)
  }

  /** TYPE WIDENING (`ALTER TABLE … ALTER COLUMN c TYPE t`,
    * [[graft.plans.GraftDdl]]): metadata-only — the pin retypes, old
    * footers serve under the wide type natively (Spark 4 parquet
    * type-widening, both readers; no file rewritten — asserted), and
    * a post-widen append lands values only the wide type can hold
    * (BIGINT beyond 2³¹, doubles beyond float) next to the old-era
    * rows. Hash-green means the mixed-era union is bit-identical to
    * DuckDB casting every row explicitly.
    */
  def qTypeWiden(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice").cast("float").as("price_f"))
    val p = s"$indexQueryDir/type_widen"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    base.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey").write.parquet(p)
    graft.ops.TxLog.convert(s, p)
    val filesBefore = graft.ops.TxLog.liveFiles(s, p).toSet
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$p` ALTER COLUMN l_linenumber TYPE BIGINT")
    graft.plans.GraftDml.sql(s,
      s"ALTER TABLE parquet.`$p` ALTER COLUMN price_f TYPE DOUBLE")
    require(graft.ops.TxLog.liveFiles(s, p).toSet == filesBefore,
      "type widening must rewrite no data file")
    // post-widen rows hold values only the WIDE types can carry
    graft.ops.TxLog.append(s, p,
      base.filter(col("l_orderkey") < 100).select(
        (col("l_orderkey") + 70000000L).as("l_orderkey"),
        (col("l_linenumber").cast("long") + 10000000000L)
          .as("l_linenumber"),
        (col("price_f").cast("double") + 1.0d).as("price_f")))
    graft.ops.TxLog.snapshot(s, p)
  }

  /** GENERATED COLUMNS ([[graft.ops.GeneratedColumns]]): `revenue
    * DOUBLE GENERATED ALWAYS AS (l_extendedprice * (1 - l_discount))`
    * declared at CREATE, filled by the append (the batch never
    * supplies it), then RECOMPUTED by a MOR upsert that doubles the
    * discount on a key slice — the derived value moves with its
    * source, the staleness bug a stored-but-unmanaged column always
    * grows. Hash-green means fill + recompute land exactly on DuckDB
    * computing the expression per row.
    */
  def qGencol(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      "l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount")
    val p = s"$indexQueryDir/gencol"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.plans.GraftDml.sql(s,
      s"""CREATE TABLE parquet.`$p`
         |  (l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
         |   l_extendedprice DOUBLE, l_discount DOUBLE,
         |   revenue DOUBLE GENERATED ALWAYS AS
         |     (l_extendedprice * (1 - l_discount)))""".stripMargin)
    graft.ops.TxLog.append(s, p, li) // fill: batch omits revenue
    // update-shaped write: discount doubles on a key slice, the batch
    // still omits revenue — recompute derives it from the NEW discount
    graft.ops.DeletionVectors.upsert(s, p,
      li.filter(pmod(col("l_orderkey"), lit(100)) === 0 &&
          col("l_linenumber") === 1)
        .withColumn("l_discount", col("l_discount") * 2),
      keyCols = Seq("l_orderkey", "l_linenumber"))
    graft.ops.TxLog.snapshot(s, p)
  }

  /** AUTO COLUMNS COMPOSED: one table declares an IDENTITY column, a
    * DEFAULT column and a GENERATED column; inserts supply only the
    * data columns. The first batch omits the defaulted column (lands
    * 'std'), the second supplies it explicitly ('vip' — supplied wins,
    * the DEFAULT-vs-GENERATED semantic split); identity continues
    * across commits; the generated fee derives per row. Batches land
    * as single sorted partitions so DuckDB replays the identity
    * arithmetic with row_number.
    */
  def qAutoColumns(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    val p = s"$indexQueryDir/auto_columns"
    val fsp = new org.apache.hadoop.fs.Path(p)
    fsp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(fsp, true)
    graft.plans.GraftDml.sql(s,
      s"""CREATE TABLE parquet.`$p`
         |  (row_id BIGINT GENERATED ALWAYS AS IDENTITY,
         |   c_name STRING, c_acctbal DOUBLE,
         |   tier STRING DEFAULT 'std',
         |   fee DOUBLE GENERATED ALWAYS AS (c_acctbal * 0.01))""".stripMargin)
    def batch(parity: Int) =
      c.filter(pmod(col("c_custkey"), lit(2)) === parity)
        .repartition(1).sortWithinPartitions("c_custkey")
        .select("c_name", "c_acctbal")
    graft.ops.TxLog.append(s, p, batch(0)) // omit tier -> 'std'
    graft.ops.TxLog.append(s, p,
      batch(1).withColumn("tier", lit("vip"))) // supplied wins
    graft.ops.TxLog.snapshot(s, p)
  }
}

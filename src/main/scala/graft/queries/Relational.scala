package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import OracleFragments.foldSql
import Tables._

/** Relational extension suite (absent from the reference — SURVEY.md
  * §2.2 — built Spark-first on testdata): scan→filter→agg, joins with
  * explicit broadcast of small dimensions, window functions, semi/anti
  * joins, distinct aggregation. Every double aggregate goes through the
  * decimal-exact [[Tables.dsum]] so results are reproducible at any
  * parallelism (local[32] today, 1000 executors at 100 TB).
  */
object Relational {

  /** Line revenue net of discount. */
  private def netPrice: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** The nations of the region `rName`, region columns joined on. */
  private def regionNations(spark: SparkSession, sfDir: String, rName: String): DataFrame =
    load(spark, sfDir, "nation")
      .join(broadcast(load(spark, sfDir, "region").filter(col("r_name") === rName)),
        col("n_regionkey") === col("r_regionkey"))

  /** TPC-H Q1-style pricing summary: full scan + 4-way decimal-exact agg.
    * Scale posture: map-side partial agg on 6 groups → negligible shuffle. */
  def q1Pricing(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem")
    // r17: the 8 decimal folds are the query's kernel and otherwise run
    // inside the one-row-group scan's single task (SkewOps.fanOut —
    // identity at warehouse scale); decimal addition is exactly
    // associative-commutative, so the fold order change is value-free.
    graft.ext.SkewOps.fanOut(
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(netPrice).as("sum_disc_price"),
        dsum(netPrice * (lit(1) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  /** Q3-style shipping priority: 3-way join, group, deterministic top-10.
    * orders⋈lineitem shuffles on orderkey. Customer is SF-scaled (not a
    * fixed dim), so it gets NO forced broadcast hint: at 100 TB a forced
    * broadcast OOMs the executors. AQE promotes it to broadcast at small
    * SF automatically, and sort-merge-joins it at scale — the right plan
    * either way. The BUILDING filter pushes into the parquet scan. */
  def q3TopRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = load(spark, sfDir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = load(spark, sfDir, "orders")
    val li = load(spark, sfDir, "lineitem")
    val joined = li
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"))
      .agg(dsum(netPrice).as("revenue"))
    joined.orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
  }

  /** Q5-style local-supplier revenue by nation: 6-table star join.
    * Only region/nation carry broadcast hints — they are TRUE fixed-size
    * dims (5 / 25 rows at every SF). supplier and customer scale with SF,
    * so they are left to AQE: broadcast at small SF, shuffle join at
    * 100 TB. Only orders⋈lineitem (+ the SF-scaled sides) shuffle. */
  def q5NationRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val region = load(spark, sfDir, "region")
    val nation = load(spark, sfDir, "nation")
    val cust = load(spark, sfDir, "customer")
    val supp = load(spark, sfDir, "supplier")
    val ord = load(spark, sfDir, "orders")
    val li = load(spark, sfDir, "lineitem")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
        cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(netPrice).as("revenue"))
  }

  /** Broadcast-join aggregate: part (tiny) ⋈ lineitem by brand. */
  def qBrandVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val part = load(spark, sfDir, "part")
    val li = load(spark, sfDir, "lineitem")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_lines"))
  }

  /** Window top-N per group: 3 priciest orders per customer,
    * deterministic tie-break on o_orderkey. */
  def qTopOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = load(spark, sfDir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
  }

  /** Anti join: customers with no orders since 2000 (NOT EXISTS). The
    * date predicate keeps the result non-empty at every SF, so the
    * oracle actually verifies the anti-join (an all-time variant matched
    * on 0 rows — vacuous). Filter pushes into the orders scan. */
  def qCustomersNoOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = load(spark, sfDir, "customer")
    val ord = load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Semi join: suppliers that shipped at least one >49-qty line (EXISTS). */
  def qActiveSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val supp = load(spark, sfDir, "supplier")
    val li = load(spark, sfDir, "lineitem").filter(col("l_quantity") > 49)
    supp.join(li, supp("s_suppkey") === li("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** Distinct aggregation: per order-status, distinct customers + counts. */
  def qStatusStats(spark: SparkSession, sfDir: String): DataFrame = {
    load(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Running revenue per supplier (cumulative window, decimal-exact —
    * DuckDB's segment-tree window sum and Spark's streaming frame agree
    * only because the accumulation is exact decimal). */
  def qRunningRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem").filter(col("l_suppkey") <= 3)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      dsumOver(netPrice, w).as("running_rev"))
  }

  /** Trailing-30-day revenue per supplier — a RANGE frame (the VALUE-
    * bounded window mechanism, vs [[qRunningRevenue]]'s ROWS frame):
    * the frame holds every row whose ship_day lies within 30 of the
    * current row's, so same-day peer rows always aggregate together
    * and the result is deterministic under any tie order. Day keys
    * are all-integer (epoch-day), the sum decimal-exact; one shuffle
    * + sort per supplier partition, the minimum for any ordered
    * window. */
  def qTrailing30d(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem").filter(col("l_suppkey") <= 3)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("bigint").as("ship_day"),
        netPrice.as("rev"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ship_day"))
      .rangeBetween(-30, 0)
    li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      col("ship_day"), dsumOver(col("rev"), w).as("rev_30d"))
  }

  /** Hierarchical rollup: (returnflag, linestatus) → returnflag →
    * grand total in one pass — Spark expands the grouping sets before
    * the partial aggregation, so the shuffle stays one exchange of
    * (group, partials) at every level. */
  def qRollup(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  /** The salted-join technique under the oracle gate: orders⋈customer
    * by custkey through [[graft.ext.SkewOps.saltedJoin]] (8 salts,
    * scattered on order id) must produce byte-identical aggregates to
    * the plain join — salting changes the shuffle layout, never the
    * result. */
  def qSaltedOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = load(spark, sfDir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderkey"), col("o_totalprice"))
    val small = load(spark, sfDir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    graft.ext.SkewOps.saltedJoin(big, small, "k", "o_orderkey", 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
  }

  /** TPC-H Q6-style forecast revenue: every predicate reaches the
    * parquet scan (PushedFilters on date, discount and quantity), then
    * a single scalar decimal-exact aggregate — the minimal-IO query
    * shape. */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  /** TPC-H Q4-style order priority: EXISTS as a left-semi join of
    * windowed orders against flagged lineitems (the synthetic schema
    * has no commit/receipt dates, so "has a returned item" stands in
    * for "late") — only orderkeys cross the semi shuffle. */
  def q4Priority(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
    val flagged = load(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    ord.join(flagged, ord("o_orderkey") === flagged("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q7-style cross-nation trade volume: the two nation lookups
    * are the only broadcast dims; the ordered (supp < cust) pair keeps
    * each flow counted once per direction pair. */
  def q7Volume(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem")
    val ord = load(spark, sfDir, "orders")
    val supp = load(spark, sfDir, "supplier")
    val cust = load(spark, sfDir, "customer")
    val n1 = load(spark, sfDir, "nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val n2 = load(spark, sfDir, "nation").select(
      col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
      .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") < col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(dsum(netPrice).as("revenue"))
  }

  /** TPC-H Q8-style national market share: within one region's market
    * for one part type, the yearly revenue share delivered by one
    * supplier nation — the widest join in the suite (part, lineitem,
    * orders, customer, supplier, nation ×2, region: 8 relations). Only
    * the true fixed-size dims (nation, region) carry broadcast hints;
    * part/customer/supplier are SF-scaled and left to AQE (broadcast at
    * small SF, shuffle join at 100 TB). The share is a
    * conditional-sum-over-total-sum aggregate: both sums decimal-exact,
    * ONE IEEE division at the end — association-proof at any
    * parallelism. */
  def q8MktShare(spark: SparkSession, sfDir: String): DataFrame = {
    val part = load(spark, sfDir, "part").filter(col("p_type") === "ECONOMY")
    val li = load(spark, sfDir, "lineitem")
    val ord = load(spark, sfDir, "orders")
    val cust = load(spark, sfDir, "customer")
    val supp = load(spark, sfDir, "supplier")
    val n1 = load(spark, sfDir, "nation").select(
      col("n_nationkey").as("cn_key"), col("n_regionkey").as("cr_key"))
    val n2 = load(spark, sfDir, "nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val region = load(spark, sfDir, "region").filter(col("r_name") === "AMERICA")
    val vol = netPrice
    li.join(part, li("l_partkey") === part("p_partkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(broadcast(n1), col("c_nationkey") === col("cn_key"))
      .join(broadcast(region), col("cr_key") === col("r_regionkey"))
      .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg((dsum(when(col("supp_nation") === "NATION_6", vol).otherwise(lit(0.0))) /
        dsum(vol)).as("mkt_share"))
  }

  /** TPC-H Q9-shaped product-type profit: lineitem joined to part
    * (name-filtered), supplier, its nation, and orders, profit rolled
    * up per (supplier nation, order year). The testdata schema carries
    * no partsupp/supplycost, so cost is the documented proxy
    * 0.5·p_retailprice·l_quantity — the JOIN SHAPE (the point of Q9:
    * a fact table stitched to two dimension chains at once) is
    * faithful. Per-row profit is a fixed-order double expression
    * (deterministic IEEE), the rollup is [[Tables.dsum]]-exact.
    * Plan at 100 TB: the part filter prunes at the scan and AQE
    * broadcasts the surviving slice; nation is hint-broadcast;
    * lineitem⋈orders is the one genuine shuffle — exactly the
    * q8 posture, with the filter on the OTHER dimension chain. */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val part = load(spark, sfDir, "part")
      .filter(col("p_name").endsWith("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val li = load(spark, sfDir, "lineitem")
    val ord = load(spark, sfDir, "orders")
    val supp = load(spark, sfDir, "supplier")
    val nat = load(spark, sfDir, "nation").select(
      col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
    val amount = netPrice -
      (lit(0.5) * col("p_retailprice")) * col("l_quantity")
    li.join(part, li("l_partkey") === part("p_partkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(nat), col("s_nationkey") === col("sn_key"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(amount).as("sum_profit"))
  }

  /** Column-correlation statistics — the optimizer-stats row beside
    * [[qAnalyzeStats]]'s histograms: Pearson r between an order's item
    * count and its total-price band, the quantity a cost-based planner
    * needs to stop multiplying selectivities as if columns were
    * independent (the classic correlated-predicate misestimate).
    * Exactness at scale: the five moment sums are plain BIGINTs (y is
    * pre-banded to k$ so Σy² survives 1e12 rows in int64); the
    * correlation needs a square root, so the surfaced figure is signed
    * r² in micro units — and the division is staged as
    * sign·((10⁶·|num| div denx)·|num| div deny), every intermediate
    * bounded by 10⁶·deny (Cauchy-Schwarz), so DECIMAL(38,0) holds at
    * warehouse scale where the single-division spelling
    * 10⁶·num²/(denx·deny) would overflow 38 digits. Identical staged
    * arithmetic on both engines = identical truncation. Plan: one
    * map-side-combined count per order co-partitioned into the orders
    * join, ONE 1-row moment aggregate — no window, no sort. */
  def qCorrStats(spark: SparkSession, sfDir: String): DataFrame = {
    val x = load(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
    val o = load(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice) AS BIGINT) div 1000").as("y"))
    o.join(x, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_orders"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy").as("num"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx").as("denx"),
        expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy").as("deny"))
      .select(col("n_orders"),
        expr("CAST(signum(num) AS BIGINT)").as("corr_sign"),
        expr("CAST(((1000000 * abs(num) div denx) * abs(num)) div deny AS BIGINT)")
          .as("r2_micro"))
  }

  /** Benford first-digit audit over order totals — the forensic
    * screen every finance/quality pipeline runs on a value column:
    * naturally-grown magnitudes follow P(d) = log10(1+1/d); a fleet
    * of fabricated or clipped values shows up as a digit histogram
    * that deviates. ALL-INTEGER cross-engine: the first significant
    * digit of ⌊value⌋ is digit-string arithmetic on a BIGINT (both
    * engines print integers identically), the observed share is one
    * integral division in milli units, and the Benford expectation is
    * pinned as ⌊1000·log10(1+1/d)⌋ literals — no float log at query
    * time. Plan: one scan, one 9-group map-side-combined aggregate,
    * 1-row total broadcast back. */
  def qBenford(spark: SparkSession, sfDir: String): DataFrame = {
    // ⌊1000·log10(1+1/d)⌋ for d = 1..9
    val benford = Seq(301L, 176L, 124L, 96L, 79L, 66L, 57L, 51L, 45L)
    val expected = element_at(
      array(benford.map(lit): _*), col("digit").cast("int"))
    // persisted: the 9-row histogram feeds both the total and the report
    // — without it the total branch re-scans orders
    val digits = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders")
        .select(expr("CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) " +
          "AS STRING), 1, 1) AS BIGINT)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n")))
    val total = digits.agg(sum(col("n")).as("total"))
    digits.crossJoin(broadcast(total))
      .withColumn("share_milli", expr("(1000 * n) div total"))
      .withColumn("benford_milli", expected)
      .select(col("digit"), col("n"), col("share_milli"), col("benford_milli"),
        abs(col("share_milli") - col("benford_milli")).as("dev_milli"))
  }

  /** Range-band join: facts classified into a tiny banded dimension via
    * a BETWEEN join — the histogram-dim / SLA-bucket / price-tier
    * pattern. With no equi-key the right distributed plan IS a
    * broadcast nested-loop against the band table — deliberate: the
    * build side is O(bands) rows, so the "nested loop" is three
    * comparisons per fact row inside the scan stage and the fact side
    * never shuffles pre-aggregation. (A CASE expression would be
    * equivalent compute; the join form keeps the bands an editable,
    * joinable TABLE rather than code.) */
  def qValueBands(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(("low", 1.0, 16.0), ("mid", 17.0, 33.0), ("high", 34.0, 50.0))
      .toDF("band", "lo", "hi")
    load(spark, sfDir, "lineitem")
      .join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") <= col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
  }

  /** Snapshot diff (table-audit operator): per-customer order count +
    * revenue as of cutoff T1 vs cutoff T2, each key classified
    * added / changed / unchanged — the "what moved between yesterday's
    * load and today's" audit. The oracle spells the textbook
    * two-snapshot LEFT JOIN; the engine computes BOTH snapshots in ONE
    * scan + ONE shuffle via conditional aggregation (count/sum over
    * `CASE WHEN date < T1`), which is the 100 TB plan — the fact table
    * is read once and no snapshot-to-snapshot join exists at all. The
    * conditional decimal sums are order-independent, so they equal the
    * oracle's per-snapshot sums exactly. Appended-only facts mean
    * 'removed' cannot occur; the classification still covers it (a T1
    * key with zero T2 rows never surfaces — documented contract). */
  def qSnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val t1 = "1999-01-01"
    val ord = load(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit("2000-07-01").cast("timestamp"))
    val old = col("o_orderdate") < lit(t1).cast("timestamp")
    ord.groupBy(col("o_custkey"))
      .agg(count(when(old, 1)).as("cnt_old"),
        count(lit(1)).as("cnt_new"),
        dsum(when(old, col("o_totalprice"))).as("rev_old_raw"),
        dsum(col("o_totalprice")).as("rev_new"))
      .select(col("o_custkey"),
        when(col("cnt_old") === 0, "added")
          .when(col("cnt_old") =!= col("cnt_new"), "changed")
          .otherwise("unchanged").as("status"),
        col("cnt_old"), col("cnt_new"),
        coalesce(col("rev_old_raw"), lit(0.0)).as("rev_old"), col("rev_new"))
  }

  /** Heavy-hitter key profiler — the diagnosis step that precedes every
    * skew mitigation in [[graft.ext.SkewOps]]: top-10 order keys by
    * row count with an all-integer concentration metric (parts per
    * million of total rows). The rank filter over the key-count
    * relation plans as a partial WindowGroupLimit — each map task
    * pre-trims to 10 rows, so the final single-partition rank sees
    * tasks×10 rows, not |keys| — and the total arrives as a 1-row
    * broadcast. Ties deterministic: (count desc, key asc). */
  def qHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = load(spark, sfDir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    val total = load(spark, sfDir, "orders").agg(count(lit(1)).as("total"))
    // filter BEFORE the bigint cast — a cast on the rank column defeats
    // the InsertWindowGroupLimit pattern and loses the partial top-k
    counts
      .withColumn("rk0", row_number().over(
        Window.orderBy(col("n").desc, col("o_custkey"))))
      .filter(col("rk0") <= 10)
      .crossJoin(broadcast(total))
      .select(col("rk0").cast("bigint").as("rk"), col("o_custkey"), col("n"),
        expr("n * 1000000 div total").as("ppm"))
  }

  /** UNPIVOT (melt) — the inverse reshape of [[qPivot]], proved by
    * ROUND-TRIP: orders are pivoted wide (month × one count column per
    * status — a conditional aggregate over the bounded status domain,
    * one scan) and melted back to long; the oracle is the straight
    * long-form GROUP BY, so a green row pins that pivot→unpivot is
    * lossless (absent combinations surface as pivot NULLs and are
    * dropped, matching the long form's absent rows). Unpivot itself
    * is a per-row generator projection — no shuffle beyond the wide
    * aggregate's own. */
  def qUnpivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wide = load(spark, sfDir, "orders")
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("bigint").as("month"))
      .pivot("o_orderstatus", Seq("O", "F", "P")).agg(count(lit(1)))
    wide.unpivot(Array(col("month")), Array(col("O"), col("F"), col("P")),
        "o_orderstatus", "n")
      .filter(col("n").isNotNull)
  }

  /** SKYLINE (Pareto frontier) operator: parts not dominated on
    * (maximize p_size, minimize p_retailprice) — q dominates p iff
    * q.size ≥ p.size ∧ q.price ≤ p.price with one strict. The oracle
    * spells the textbook NOT EXISTS anti-join (quadratic); the engine
    * plan is the distributed 2-D sweep: per-size min price (ONE
    * map-side-combined aggregate — the only pass over the table's
    * full width), then a cumulative strict-min window over the
    * per-size relation, whose size is the ATTRIBUTE DOMAIN (|distinct
    * p_size| ≤ 50), not the table — so the unpartitioned window is a
    * constant-size driver-free step at any corpus scale — and a
    * broadcast join back to recover every tied frontier part. No
    * arithmetic on the doubles (min + compare only), so values are
    * bit-identical cross-engine. */
  def qSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    val part = load(spark, sfDir, "part")
    val minp = part.groupBy(col("p_size")).agg(min(col("p_retailprice")).as("minp"))
    val w = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = minp.withColumn("strict", min(col("minp")).over(w))
      .filter(col("strict").isNull || col("minp") < col("strict"))
      .select(col("p_size").as("_fs"), col("minp"))
    part.join(broadcast(frontier),
        part("p_size") === col("_fs") && part("p_retailprice") === col("minp"))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
  }

  /** TPC-H Q10-style returned-item losers: customers ranked by revenue
    * of returned lineitems, deterministic top-20. */
  def q10Returns(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem").filter(col("l_returnflag") === "R")
    val ord = load(spark, sfDir, "orders")
    val cust = load(spark, sfDir, "customer")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(dsum(netPrice).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14-style promo revenue share: one month of lineitem joined
    * to part, conditional-sum-over-total-sum. The date window pushes
    * into the lineitem scan; part is SF-scaled so it carries no forced
    * broadcast (AQE promotes at small SF, shuffle-joins at 100 TB).
    * Both sums decimal-exact, one IEEE multiply+divide at the end. */
  def q14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
    val part = load(spark, sfDir, "part")
    val vol = netPrice
    li.join(part, li("l_partkey") === part("p_partkey"))
      .agg((lit(100.0) * dsum(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0))) /
        dsum(vol)).as("promo_share"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q15-style top supplier: quarterly revenue per supplier, then
    * the supplier(s) at the maximum. The max is a 1-row aggregate
    * broadcast back over the revenue table (no global-order window —
    * a rank() over an unpartitioned ORDER BY would serialize the whole
    * revenue table through one partition at scale); equality on the
    * decimal-exact double is deterministic because both sides fold the
    * identical decimal sum. */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted query-scoped: both the max branch and the equality
    // filter read rev — without it each branch re-scans lineitem
    val rev = graft.core.QueryCaches.track(load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(netPrice).as("total_rev")))
    val mx = rev.agg(max(col("total_rev")).as("mr"))
    rev.crossJoin(broadcast(mx)).filter(col("total_rev") === col("mr"))
      .join(load(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
  }

  /** TPC-H Q17-style small-quantity revenue: lineitems below 20% of
    * their part's average quantity, for one brand. The correlated
    * per-part average is decorrelated into a partkey-keyed aggregate
    * (map-side combined — one row per part crosses the shuffle) joined
    * back to the brand-filtered lineitems; no per-row subquery probe
    * survives into the plan. The 0.2× bound is (decimal-sum/count)×0.2 —
    * the same IEEE op order both engines. */
  def q17SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem")
    val bound = li.groupBy(col("l_partkey").as("b_partkey"))
      .agg((davg(col("l_quantity")) * 0.2).as("qty_bound"))
    val brandParts = load(spark, sfDir, "part")
      .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
    li.join(brandParts, li("l_partkey") === col("p_partkey"))
      .join(bound, li("l_partkey") === col("b_partkey"))
      .filter(col("l_quantity") < col("qty_bound"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q18-style large-volume orders: orders whose line quantities
    * sum past 250, with their customer. The HAVING pre-aggregate runs
    * FIRST (map-side combined on orderkey) so only qualifying orderkeys
    * reach the 3-way join — at 100 TB the join input is the handful of
    * outlier orders, not the fact table. */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = load(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 250.0)
    big.join(load(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(load(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
  }

  /** TPC-H Q22-style idle rich customers: above-average account balance
    * (the scalar subquery: a 1-row decimal-exact aggregate broadcast
    * over the customer scan) with no recent orders (anti join on the
    * date-pruned orders side), rolled up per nation. */
  def q22RichIdle(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = load(spark, sfDir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("ab"))
    val recent = load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    cust.crossJoin(broadcast(avgBal)).filter(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
  }

  /** TPC-H Q13-style order-count distribution: every customer (orderless
    * ones included — the LEFT join is the point) → per-customer order
    * count → histogram of counts. The per-customer aggregate keys on
    * the join key, so it reuses the join's hash partitioning with no
    * extra exchange; the histogram aggregate shuffles |distinct counts|
    * rows. COUNT(o_orderkey) over the null-extended rows gives
    * orderless customers a 0 bucket in both engines. */
  def q13OrderDist(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = load(spark, sfDir, "customer")
    val ord = load(spark, sfDir, "orders")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_custs"))
  }

  /** Pivot: order counts and decimal-exact revenue as a segment ×
    * status matrix — Spark's `pivot` with the value set DECLARED
    * (['F','O','P']), which keeps the plan a single hash aggregation
    * with one output column per (status, measure); an undeclared pivot
    * would first run a distinct scan to discover values. The oracle
    * spells the same matrix as conditional aggregation — what pivot
    * compiles to. */
  def qPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = load(spark, sfDir, "orders")
    val cust = load(spark, sfDir, "customer")
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
      // pivot initializes absent (segment, status) slots to NULL; a
      // COUNT of an empty group is 0 — align the count columns with
      // COUNT semantics (the rev sums stay NULL on both sides)
      .na.fill(0L, Seq("F_n", "O_n", "P_n"))
  }

  /** Set operators: customers ordering in BOTH 1995 and 1996
    * (INTERSECT) minus those also ordering in 1997 (EXCEPT) — loyalty
    * churn analysis. Spark's intersect/except compile to left-semi /
    * left-anti joins over distinct keys, so each year's key set
    * shuffles once at its distinct size, never the orders table. */
  def qSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = load(spark, sfDir, "orders")
    def buyers(y: Int) = ord
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    buyers(1995).intersect(buyers(1996)).except(buyers(1997))
      .select(col("o_custkey").as("c_custkey"))
  }

  /** Bloom-filter runtime prefilter under the oracle gate
    * ([[graft.ext.SkewOps.bloomPrunedSemiJoin]]): lineitem semi-joined
    * against high-value orders (totalprice > 400k — a ~0.5% key set),
    * with Spark's own BloomFilterAggregate built over the order keys
    * and probed INSIDE lineitem's scan stage, so the semi-join
    * shuffle receives only rows that might match instead of the whole
    * fact table. False positives are removed by the exact semi-join —
    * the result is provably the plain semi-join's, which is exactly
    * what the oracle spells. At 100 TB this is the difference between
    * shuffling ~0.5% of lineitem and shuffling all of it when the
    * optimizer's own runtime filter does not fire (DataFrame API,
    * non-equi buildable sides, custom thresholds). */
  def qBloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val hot = load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"))
    val li = load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
    graft.ext.SkewOps.bloomPrunedSemiJoin(li, hot, "l_orderkey", "o_orderkey",
        expectedItems = 10000L, numBits = 100000L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
  }

  /** Columnar encoding-cost ADVISOR — ranks candidate SORT ORDERS by
    * the exact storage bytes a column costs under delta + zigzag +
    * varint (the parquet DELTA_BINARY_PACKED / ORC-varint cost shape),
    * via the one-pass codegen kernel
    * [[graft.functions.HashExprs.varintCost]]. Buckets model 512-key
    * row groups under each layout's clustering key; each group's
    * series is collected in a DETERMINISTIC total order (sort_array
    * over a unique struct key) and costed in ONE kernel call; byte
    * costs are additive across groups, so the rollup is exact. Three
    * layouts tell the whole story: l_orderkey clustered by itself
    * (≈1-byte deltas), l_orderkey scattered by a foreign clustering
    * key (random ≈3-byte deltas — the cost of clustering by the WRONG
    * key), and the effectively-random l_partkey column under the
    * orderkey layout (a column the clustering does nothing for —
    * encoding can't rescue entropy). Scale posture: the per-group
    * relation IS the
    * row-group grain (the corpus has duplicate (orderkey, linenumber)
    * pairs, so the VALUE rides last in the sort struct as tie-break
    * and the oracle's ORDER BY spells the same total order) — at
    * 100 TB the advisor runs over a sampled
    * fraction of groups (filter this frame), never a global sort; each
    * collect_list is bounded by rows-per-bucket. The oracle respells
    * the kernel as lag-window deltas + CASE zigzag + unpadded-binary
    * length, proving it bit-exact cross-engine. */
  def qEncodeCost(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HashExprs
    // r17: SkewOps.fanOut on the cached projection was measured HERE
    // and rejected (interleaved A/B, sf0.1 min-of-2: 1.47 → 1.98 s) —
    // the three sort_array(collect_list) rollups don't parallelize
    // usefully (bucket-grain partial lists just fragment across more
    // map tasks) and the added raw-row exchange is pure cost.
    val li = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_linenumber").cast("bigint").as("ln")))
    def layoutCost(name: String, bucket: org.apache.spark.sql.Column,
        sortKeys: Seq[org.apache.spark.sql.Column],
        value: org.apache.spark.sql.Column): DataFrame =
      li.groupBy(bucket.as("bucket"))
        .agg(sort_array(collect_list(struct(sortKeys :+ value.as("v"): _*))).as("s"))
        .select(HashExprs.varintCost(expr("transform(s, x -> x.v)")).as("c"))
        .agg(sum(expr("c[0]")).as("n_values"),
          sum(expr("c[1]")).as("raw_bytes"),
          sum(expr("c[2]")).as("encoded_bytes"))
        .select(lit(name).as("layout"), col("n_values"),
          col("raw_bytes"), col("encoded_bytes"))
    layoutCost("orderkey_clustered", expr("l_orderkey div 512"),
        Seq(col("l_orderkey"), col("ln")), col("l_orderkey"))
      .union(layoutCost("orderkey_scattered", expr("l_partkey div 512"),
        Seq(col("l_partkey"), col("l_orderkey"), col("ln")), col("l_orderkey")))
      .union(layoutCost("partkey_clustered", expr("l_orderkey div 512"),
        Seq(col("l_orderkey"), col("ln")), col("l_partkey")))
      .withColumn("ratio_permille", expr("encoded_bytes * 1000 div raw_bytes"))
  }

  /** Per-nation customer-balance quartiles: ntile(4) runs PARTITIONED
    * by nation, so the sort parallelizes across nations — the
    * partitioned form of equal-height bucketing (a GLOBAL ntile would
    * serialize the corpus through one partition; at 100 TB the global
    * variant is approx-quantile range boundaries + bucket-by-range).
    * Quartile populations then roll up decimal-exact. Tie-break
    * c_custkey makes tile assignment deterministic; both engines use
    * the SQL-standard "first (n mod 4) tiles get the extra row". */
  def qNtile(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    load(spark, sfDir, "customer")
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
      .groupBy(col("c_nationkey"), col("quartile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).cast("double").as("min_bal"),
        max(col("c_acctbal")).cast("double").as("max_bal"),
        dsum(col("c_acctbal")).as("sum_bal"))
  }

  /** Full CUBE over (status, priority): all four grouping sets — the
    * two marginals, the cross table, and the grand total — in ONE
    * pass. Spark expands the sets BEFORE the partial aggregation
    * (like [[qRollup]]), so the shuffle carries (group, partials) for
    * ≤ 4×|groups| keys, not data rows. NULL marks the rolled-up
    * dimension on both engines. */
  def qCube(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  /** Month-over-month revenue growth — window-over-aggregate: monthly
    * rollup first (hash aggregate, map-side combined, all-integer
    * yyyyMM keys), THEN the lag window over the |months| aggregate
    * rows. The global ORDER BY month is a single partition by design —
    * it sorts ~decades×12 rows, not orders — which is the right
    * layering at any scale: never window the fact table when the
    * window only needs the aggregate. Growth is a double subtraction
    * of two decimal-exact doubles (deterministic IEEE on both
    * engines); the first month's NULL growth rides through both. */
  def qMonthlyGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val m = load(spark, sfDir, "orders")
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("bigint").as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    val w = Window.orderBy(col("month"))
    m.withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("growth", col("revenue") - col("prev_revenue"))
  }

  /** Explicit GROUPING SETS — the general form [[qRollup]] and
    * [[qCube]] compile to, declared directly: the two one-dimension
    * marginals plus the grand total (NOT the cross table — the set
    * list is the point), with GROUPING() markers so NULL-as-subtotal
    * is distinguishable from a (hypothetical) NULL group value. Same
    * execution shape as rollup/cube: Spark expands the sets before
    * the partial aggregation, one exchange of (group, partials). */
  def qGroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
        grouping(col("o_orderstatus")).cast("bigint").as("g_status"),
        grouping(col("o_orderpriority")).cast("bigint").as("g_priority"))

  /** Exact per-status price percentiles (p25/p50/p75) by rank index —
    * the [[EventQueries.eventsQuantiles]] pattern on a DECIMAL column:
    * rank positions are all-integer ((n+3) div 4 etc.), the picked
    * VALUE is an actual row's price (percentile_disc semantics — no
    * interpolation, so decimal→double is exact), and the o_orderkey
    * tie-break pins row choice. Exact ranking serializes per status —
    * this is the ground-truth row the 100 TB approx_percentile path
    * is validated against, same posture as events_quantiles. */
  def qPricePercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val o = load(spark, sfDir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
    val n = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.withColumn("rk", row_number().over(w).cast("bigint"))
      .join(broadcast(n), "o_orderstatus")
      .filter(col("rk") === expr("(n + 3) div 4") ||
        col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(3*n + 3) div 4"))
      .select(col("o_orderstatus"), col("n"), col("rk"),
        when(col("rk") === expr("(n + 3) div 4"), "p25")
          .when(col("rk") === expr("(n + 1) div 2"), "p50")
          .otherwise("p75").as("q"),
        col("o_totalprice").cast("double").as("price"))
  }

  /** Z-order (Morton) layout vs leading-column layout — the data-layout
    * decision behind MULTI-dimensional data skipping. A writer that
    * range-partitions files by one column gives min-max pruning on that
    * column only; range-partitioning by the bit-interleaved z-value of
    * two columns gives pruning on both. This query quantifies that on
    * lineitem: bucket rows 256 ways under each layout, build the
    * per-bucket min-max index a lakehouse format would persist as file
    * footer stats, and report how many buckets/rows a 2-D box predicate
    * (middle quartile of partkey × middle quartile of suppkey) must
    * scan under each layout. `rows_matched` is layout-invariant — the
    * built-in sanity check that layouts change COST, never the answer.
    * Buckets are EQUAL-SIZE cuts of each sort order ((rank−1)·64 div n
    * — fixed-size files, what a table writer actually emits), not
    * equal value ranges: z-space is sparse, so value-range cuts would
    * produce wildly uneven files no writer ships.
    *
    * Scale: one corpus scan computes the z-value in-line (native
    * codegen'd [[graft.functions.HashExprs.zorder]] kernel); maxima are
    * one map-side-combined aggregate broadcast back; bucket stats are a
    * 256-group hash aggregate per layout (map-side combined — only 256
    * rows cross each exchange); the final rollup folds 256 rows. The
    * equal-size cut ranks come from [[graft.ext.SkewOps.globalRank]] —
    * the two-job distributed rank (repartitionByRange +
    * sortWithinPartitions + count scan), so NOTHING serializes
    * through one task at any scale; the write-side twin of the same
    * layout is [[graft.ext.LayoutOps.zorderRepartition]]. The oracle
    * spells the interleave as explicit shift-mask-multiply arithmetic
    * ([[zSql]]), proving the native kernel exact cross-engine rather
    * than self-consistent. */
  def qZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val nB = 256
    val base = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")))
    val mx = base.agg(max(col("pk")).as("pkm"), max(col("sk")).as("skm"),
      count(lit(1)).as("nr"))
    // Normalize BOTH dims to the same 16-bit range before interleaving
    // (what every z-order writer does): raw interleave of a 15-bit pk
    // with a 10-bit sk leaves the top z-bits pure pk bits — the curve
    // degenerates to a pk sort and multi-dim skipping evaporates
    // (measured: 18 buckets read vs linear's 17 before normalizing).
    //
    // r18 (guide §2.3 — shuffle/sort the PROXY, not the payload): both
    // layouts' equal-size bucket cuts depend only on each row's GLOBAL
    // RANK, rows tied on the full (pk, sk) sort key are
    // indistinguishable (z is a function of (pk, sk)), and every
    // per-bucket aggregate is a per-key constant or a count — so the
    // two full-data globalRank passes (each: range sampling +
    // count job + RDD-row map over ALL lineitem rows, ×2
    // serially) collapse to ONE map-side-combined groupBy to the
    // distinct-(pk, sk) grain (~7.5× fewer rows at any TPC-H SF: the
    // partsupp cardinality) followed by two distributed prefix-sums
    // (SkewOps.globalCumSum) over that key relation. A key occupying
    // 1-based ranks [s+1, s+cnt] (s = cum − cnt) spans buckets
    // r0·nB div nr for r0 ∈ [s, s+cnt−1]; the per-(key, bucket) row
    // count is the integer overlap of that r0 range with the bucket's
    // r0 range [⌈b·nr/nB⌉, ⌈(b+1)·nr/nB⌉−1] — all-integer, exactly the
    // rows the per-row rank form put there, so every aggregate (and
    // the oracle hash) is unchanged.
    val g = graft.core.QueryCaches.track(
      base.groupBy(col("pk"), col("sk")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(mx))
        .withColumn("z", graft.functions.HashExprs.zorder(
          expr("pk * 65536 div (pkm + 1)"), expr("sk * 65536 div (skm + 1)"), 16)))
    val cl = graft.ext.SkewOps.globalCumSum(g, Seq("pk", "sk"), "cnt", "_rkl", "_cuml")
    // chained: the z-order prefix-sum carries _cuml through, so BOTH
    // starts live on one relation (each globalCumSum persists its own
    // sorted input query-scoped)
    val b = graft.core.QueryCaches.track(
      graft.ext.SkewOps.globalCumSum(cl, Seq("z", "pk", "sk"), "cnt", "_rkz", "_cumz")
        .select(
          col("pk"), col("sk"), col("cnt"), col("nr"),
          (col("_cuml") - col("cnt")).as("s_lin"),
          (col("_cumz") - col("cnt")).as("s_z"),
          expr("pkm div 4").as("p_lo"), expr("pkm div 2").as("p_hi"),
          expr("skm div 4").as("s_lo"), expr("skm div 2").as("s_hi")))
    def layout(startCol: String, name: String): DataFrame = {
      val hit = col("pk_min") <= col("p_hi") && col("pk_max") >= col("p_lo") &&
        col("sk_min") <= col("s_hi") && col("sk_max") >= col("s_lo")
      // rows_b ≥ 1 by construction when nr ≥ nB (the bucket step per
      // rank is ≤ 1, no bucket is skipped); the filter also keeps the
      // nr < nB corner exact (sparse ranks can skip buckets — the
      // per-row form simply never emits those).
      b.select(col("pk"), col("sk"), col("p_lo"), col("p_hi"),
          col("s_lo"), col("s_hi"),
          col(startCol).as("s"), col("cnt"), col("nr"),
          explode(sequence(expr(s"$startCol * $nB div nr"),
            expr(s"($startCol + cnt - 1) * $nB div nr"))).as("bucket"))
        .select(col("pk"), col("sk"), col("p_lo"), col("p_hi"),
          col("s_lo"), col("s_hi"), col("bucket"),
          expr(s"least(s + cnt - 1, ((bucket + 1) * nr + ${nB - 1}) div $nB - 1) - " +
            s"greatest(s, (bucket * nr + ${nB - 1}) div $nB) + 1").as("rows_b"))
        .filter(col("rows_b") >= 1L)
        .groupBy(col("bucket"))
        .agg(min(col("pk")).as("pk_min"), max(col("pk")).as("pk_max"),
          min(col("sk")).as("sk_min"), max(col("sk")).as("sk_max"),
          sum(col("rows_b")).as("n_rows"),
          sum(when(col("pk").between(col("p_lo"), col("p_hi")) &&
            col("sk").between(col("s_lo"), col("s_hi")), col("rows_b"))
            .otherwise(0L)).as("n_match"),
          min(col("p_lo")).as("p_lo"), min(col("p_hi")).as("p_hi"),
          min(col("s_lo")).as("s_lo"), min(col("s_hi")).as("s_hi"))
        .groupBy(lit(name).as("layout"))
        .agg(count(lit(1)).as("buckets_total"),
          sum(when(hit, 1L).otherwise(0L)).as("buckets_read"),
          sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"),
          sum(col("n_match")).as("rows_matched"))
    }
    layout("s_lin", "linear_pk").unionAll(layout("s_z", "zorder_pk_sk"))
  }

  /** Incremental materialized-view maintenance — the partial-aggregate
    * ALGEBRA that makes 100 TB rollups refreshable without full
    * recompute: a monthly revenue MV built from pre-cutoff orders is
    * merged with a delta aggregate over post-cutoff orders by
    * RE-AGGREGATING the partials (sums of sums, counts of counts — the
    * same associativity map-side combine rides), and the merged view is
    * emitted beside the from-scratch aggregate over all orders. The
    * oracle hash proves n/sum equal column-for-column — the refresh is
    * exact, not approximately so. Decimal partials stay DECIMAL(38,6)
    * until the final cast (casting per-leg would round twice and break
    * associativity). Scale: each leg is one map-side-combined hash
    * aggregate (the delta leg's cutoff filter pushes into the scan);
    * the merge folds |groups| rows; nothing shuffles more than
    * (group, partial) pairs. */
  def qIncrementalMv(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1996-01-01").cast("timestamp")
    val o = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").select(
        col("o_orderstatus").as("st"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("bigint").as("month"),
        col("o_orderdate").as("d"),
        col("o_totalprice").cast(DecimalType(38, 6)).as("p")))
    def leg(f: org.apache.spark.sql.Column): DataFrame =
      o.filter(f).groupBy(col("st"), col("month"))
        .agg(sum(col("p")).as("ps"), count(lit(1)).as("pn"))
    val merged = leg(col("d") < cutoff).unionAll(leg(col("d") >= cutoff))
      .groupBy(col("st"), col("month"))
      .agg(sum(col("ps")).cast(DecimalType(38, 6)).as("ms"), sum(col("pn")).as("n_merged"))
    val full = o.groupBy(col("st"), col("month"))
      .agg(sum(col("p")).as("fs"), count(lit(1)).as("n_full"))
    merged.join(full, Seq("st", "month"))
      .select(col("st"), col("month"), col("n_full"), col("n_merged"),
        col("fs").cast("double").as("sum_full"),
        col("ms").cast("double").as("sum_merged"))
  }

  /** Query-side materialized-view REWRITE — the consumer complement of
    * [[qIncrementalMv]]'s maintenance rows. Registers a tiny roll-up of
    * orders (status × priority → count/sum/min/max) with
    * [[graft.plans.MvCatalog]] — which opts this query into the
    * [[graft.plans.MvRewrite]] optimizer rule — then runs a DIFFERENT
    * aggregate (key-subset grouping + a key filter) spelled against the
    * RAW orders table. The rule must answer it from the ~15-row MV: the
    * body `require`s that the optimized plan contains no base-table
    * relation, so a silent non-fire fails loudly rather than letting
    * the bench measure the un-rewritten path. The DuckDB oracle
    * aggregates the base table directly — the hash proves the MV answer
    * IS the ground truth (the rule is exact-or-absent). At 100 TB this
    * turns every dashboard roll-up that matches a registered view from
    * a full fact scan into a broadcast-sized lookup.
    *
    * Revenue sums ride DECIMAL(38,6) partials (order-independent, equal
    * to DuckDB's serial sum — [[Tables.dsum]] contract) and the MV
    * measure is registered under the SAME cast so the canonicalized
    * measure expressions match; min/max are registered on the raw
    * double (order-independent already). The view is query-scoped: the
    * result is checkpointed while it is registered, and only this
    * query's view is unregistered in `finally`. */
  def qMvRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sql.GraftExtensions.setup(spark)
    val orders = load(spark, sfDir, "orders")
    val view = graft.plans.MvCatalog.register("orders_by_status_priority", orders,
      keys = Seq(col("o_orderstatus"), col("o_orderpriority")),
      measures = Seq(col("o_totalprice").cast(DecimalType(38, 6)), col("o_totalprice")))
    try {
      val agg = orders
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double").as("revenue"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .select(col("o_orderstatus").as("status"), col("n_orders"),
          col("revenue"), col("min_price"), col("max_price"))
      require(!agg.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
        "q_mv_rewrite: MvRewrite did not fire — plan still scans the base table")
      graft.core.QueryCaches.checkpoint(agg)
    } finally graft.plans.MvCatalog.unregister(view)
  }

  /** Star-schema JOIN-view rewrite — [[qMvRewrite]] extended from one
    * table to `orders ⋈ customer`: the view is the classic warehouse
    * roll-up (nation × status → count/sum/max) and the query is a
    * dashboard cut of it (status filter, nation grouping) spelled as a
    * plain join+aggregate over the RAW tables. [[graft.plans.MvRewrite]]
    * must recognize the join structurally — same two parquet relations
    * (catalog identity by root path), same canonicalized equi-join
    * condition in either orientation — and answer from the ~75-row
    * summary; the body `require`s that NEITHER base relation survives
    * in the optimized plan. Inferred `isnotnull(join key)` side filters
    * (InferFiltersFromConstraints) are implied by the view's own inner
    * join and dropped during matching. At 100 TB this is the highest-
    * leverage rewrite a star schema has: fact-scan + shuffle-join →
    * broadcast-sized lookup, with [[qIncrementalJoinMv]] as the
    * maintenance half that keeps the summary fresh. View scoping as in
    * [[qMvRewrite]]. */
  def qMvRewriteJoin(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sql.GraftExtensions.setup(spark)
    val orders = load(spark, sfDir, "orders")
    val customer = load(spark, sfDir, "customer")
    val view = graft.plans.MvCatalog.registerJoin("orders_cust_by_nation_status",
      orders, customer, col("o_custkey") === col("c_custkey"),
      keys = Seq(col("c_nationkey"), col("o_orderstatus")),
      measures = Seq(col("o_totalprice").cast(DecimalType(38, 6)), col("o_totalprice")))
    try {
      val agg = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderstatus") =!= "P")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(38, 6))).cast("double").as("revenue"),
          max(col("o_totalprice")).as("max_price"))
        .select(col("c_nationkey").as("nation_key"), col("n_orders"),
          col("revenue"), col("max_price"))
      require(!agg.queryExecution.optimizedPlan.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]),
        "q_mv_rewrite_join: MvRewrite did not fire — plan still scans a base table")
      graft.core.QueryCaches.checkpoint(agg)
    } finally graft.plans.MvCatalog.unregister(view)
  }

  /** MV candidate ADVISOR — the design-time third of the MV story
    * ([[qMvRewrite]] consumes views, [[qIncrementalMv]] maintains
    * them; this row decides WHICH to build). Every candidate key set
    * over (status, priority, year) is measured in ONE scan via
    * GROUPING SETS: per candidate, the group count (= the MV's size),
    * total rows (= what a rewrite saves scanning), their ratio (the
    * compression a view buys — the advisor's ranking key), and the
    * hottest group (a skew warning: one giant group means the view
    * helps less than the ratio suggests). All integers; recommend =
    * ratio ≥ 64, the "a summary is two orders denser than the fact"
    * heuristic. At 100 TB the single grouping-sets pass IS the point:
    * a naive advisor re-aggregates the fact once per candidate, this
    * plan expands each row into the 6 candidate groups map-side and
    * pays one shuffle total. */
  def qMvAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val st = col("o_orderstatus"); val pr = col("o_orderpriority")
    val gs = load(spark, sfDir, "orders")
      .select(st, pr, year(col("o_orderdate")).cast("bigint").as("yr"))
      .groupingSets(
        Seq(Seq(st), Seq(pr), Seq(st, pr), Seq(st, col("yr")),
          Seq(pr, col("yr")), Seq(st, pr, col("yr"))),
        st, pr, col("yr"))
      .agg(count(lit(1)).as("rows_in_group"),
        grouping(st).cast("bigint").as("g_s"),
        grouping(pr).cast("bigint").as("g_p"),
        grouping(col("yr")).cast("bigint").as("g_y"))
    gs.groupBy(col("g_s"), col("g_p"), col("g_y"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("rows_in_group")).as("n_rows"),
        max(col("rows_in_group")).as("max_group"))
      .select(
        concat_ws("+",
          when(col("g_s") === 0, lit("status")),
          when(col("g_p") === 0, lit("priority")),
          when(col("g_y") === 0, lit("year"))).as("candidate"),
        col("n_groups"), col("n_rows"), col("max_group"),
        expr("n_rows div n_groups").as("ratio"),
        (expr("n_rows div n_groups") >= 64).as("recommend"))
  }

  /** JOIN-view delta maintenance, extending [[qIncrementalMv]] from
    * aggregate-only to join views: V = orders ⋈ customer rolled up per
    * nation. Join distributes over the fact partition
    * ((base ∪ Δ) ⋈ dim = base⋈dim ∪ Δ⋈dim), so maintaining V under a
    * new batch costs ONE Δ-proportional broadcast join + partial
    * re-aggregation of decimal (sum, count) states — the base facts
    * are never re-scanned at refresh time. The row carries the
    * maintained and the fully-recomputed states side by side under one
    * hash, so the gate proves maintained == recompute exactly (decimal
    * partials are order/association-proof; this is the same contract a
    * warehouse MERGE refresh relies on). customer is SF-scaled, so no
    * broadcast is forced — AQE picks the join side per actual sizes
    * (the repo-wide q3/q5 rule); each leg shuffles once on the rollup
    * key after the key-equi join. */
  def qIncrementalJoinMv(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val o = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").select(col("o_custkey"),
        col("o_orderdate").as("d"),
        col("o_totalprice").cast(DecimalType(38, 6)).as("p")))
    def leg(f: org.apache.spark.sql.Column): DataFrame =
      o.filter(f).join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("p")).as("ps"), count(lit(1)).as("pn"))
    val merged = leg(col("d") < cutoff).unionAll(leg(col("d") >= cutoff))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("ps")).cast(DecimalType(38, 6)).as("ms"), sum(col("pn")).as("n_merged"))
    val full = o.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("p")).as("fs"), count(lit(1)).as("n_full"))
    merged.join(full, Seq("c_nationkey"))
      .select(col("c_nationkey"), col("n_full"), col("n_merged"),
        col("fs").cast("double").as("sum_full"),
        col("ms").cast("double").as("sum_merged"))
  }

  /** Data-quality constraint suite under the oracle gate — the
    * validation pass that fronts every production ingest, via
    * [[graft.ext.QualityOps]]: two completeness checks, exact
    * uniqueness, a numeric range, an accepted-value set (deliberately
    * tightened to {O, F} so the violation COUNTER is exercised — the
    * synthetic data is clean, a suite of all-zero rows would prove
    * nothing), and referential integrity orders.o_custkey ⊆ customer.
    * Plan: all five row-level checks ride ONE aggregate over ONE scan
    * (the uniqueness distinct expands in the same scan); the ref check
    * is a LEFT ANTI join counting only misses. */
  def qDqReport(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.QualityOps._
    report(load(spark, sfDir, "orders"), Seq(
      Completeness("o_totalprice"),
      Completeness("o_orderdate"),
      Unique("o_orderkey"),
      InRange("o_totalprice", 0.0, 400000.0),
      AcceptedValues("o_orderstatus", Seq("O", "F")),
      RefIntegrity("o_custkey", "customer",
        load(spark, sfDir, "customer"), "c_custkey")))
  }

  /** Distribution-drift monitor — the companion to [[qDqReport]] a
    * pipeline runs between two snapshots: per price band
    * floor(o_totalprice/25000), the 1995 and 1996 order counts, the
    * cross-multiplied count gap |cnt_a·n_b − cnt_b·n_a| (the
    * total-variation-distance numerator kept ALL-INTEGER — comparing
    * normalized shares as doubles would put the drift flag at the
    * mercy of cross-engine rounding), and the global drift verdict
    * 10·Σgaps > n_a·n_b (⇔ TVD > 0.05). Scale: both snapshot
    * histograms ride ONE conditional-sum aggregate over one scan
    * (map-side combined to ≤ |bands| groups); everything after
    * operates on band rows, and the two scalar folds broadcast back —
    * event volume never touches a window or a join. */
  def qDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val o = load(spark, sfDir, "orders")
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(floor(col("o_totalprice") / lit(25000.0d)).cast("bigint").as("band"),
        (year(col("o_orderdate")) === 1995).as("isa"))
    val bands = graft.core.QueryCaches.track(
      o.groupBy(col("band")).agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cnt_b")))
    val tot = bands.agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    val wt = graft.core.QueryCaches.track(
      bands.crossJoin(broadcast(tot))
        .withColumn("diff_scaled",
          abs(col("cnt_a") * col("n_b") - col("cnt_b") * col("n_a"))))
    val tvd = wt.agg(sum(col("diff_scaled")).as("tvd_num"))
    wt.crossJoin(broadcast(tvd))
      .select(col("band"), col("cnt_a"), col("cnt_b"), col("n_a"), col("n_b"),
        col("diff_scaled"), col("tvd_num"),
        (lit(10L) * col("tvd_num") > col("n_a") * col("n_b")).as("drifted"))
  }

  /** Co-located fact⋈fact join via BUCKETED layout
    * ([[graft.ext.LayoutOps.bucketedTable]]): lineitem and orders are
    * both written `bucketBy(8, orderkey)` once, then the per-order
    * pre-aggregation AND the join run with ZERO exchanges — the bucketed
    * scans already report `HashPartitioning(orderkey, 8)`, so the only
    * shuffle in the whole query is the final 5-row priority rollup.
    * This is the 100 TB posture for the joins a warehouse repeats every
    * run (lineitem⋈orders is TPC-H's biggest): pay the shuffle once at
    * layout time. The `merge` hint pins SMJ so the plan demonstrates
    * the exchange-free join even at test scale, where AQE would
    * broadcast instead (at production scale neither side broadcasts).
    * Revenue stays DECIMAL through the two aggregation levels (exact,
    * association-proof), surfacing as double only at the end — so the
    * two-level Spark aggregate hash-equals DuckDB's one-level sum.
    * Table names carry the sfDir hash: one JVM can serve several scale
    * factors without stale-layout collisions. */
  def qColocatedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.LayoutOps
    val tag = indexTag(sfDir)
    val li = LayoutOps.bucketedTable(
      load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      s"graft_b_lineitem_$tag", "l_orderkey", buckets = 8)
    val ord = LayoutOps.bucketedTable(
      load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
      s"graft_b_orders_$tag", "o_orderkey", buckets = 8)
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(netPrice.cast(DecimalType(38, 6))).as("rev"))
    perOrder.hint("merge")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_items")).as("n_items"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  /** DYNAMIC PARTITION PRUNING under the oracle gate — the
    * star-schema scan killer at 100 TB: the fact table
    * ([[graft.ext.LayoutOps.partitionedTable]]: lineitem written
    * directory-partitioned by ship month) carries NO static predicate;
    * the date filter lives on the DIMENSION (six 1996 months of orders).
    * Catalyst's PartitionPruning rule plants a dynamicpruning
    * subquery into the fact scan's PartitionFilters, reusing the
    * broadcast of the dim — at runtime only the six matching month
    * directories are read out of the table's ~84, without the query
    * author ever touching the fact's predicate. PlanSpec pins the
    * `dynamicpruning` expression in the executed plan; the oracle
    * spells the same join over the raw unpartitioned parquet, proving
    * the pruned scan LOSSLESS. Layout cost is paid once per
    * session/scale (skip-if-exists), the production shape. */
  def qDppPrune(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ext.LayoutOps
    val tag = indexTag(sfDir)
    val fact = LayoutOps.partitionedTable(
      load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          expr("year(l_shipdate) * 12 + month(l_shipdate) - 1")
            .cast("bigint").as("ship_month")),
      s"graft_p_lineitem_$tag", "ship_month")
    val dim = load(spark, sfDir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .select(expr("year(o_orderdate) * 12 + month(o_orderdate) - 1")
        .cast("bigint").as("m"))
      .distinct()
    fact.join(broadcast(dim), col("ship_month") === col("m"))
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        dsum(netPrice).as("revenue"))
  }

  /** The oracle's spelling of [[graft.functions.HashKernels.zInterleave]]:
    * Σ_i ((a>>i)&1)·4^i + ((b>>i)&1)·2·4^i — plain BIGINT arithmetic
    * both engines agree on bit-exactly. */
  private def zSql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) * ${1L << (2 * i)}) + " +
        s"((($b >> $i) & 1) * ${1L << (2 * i + 1)})")
      .mkString("(", " + ", ")")

  /** Small-file COMPACTION planning under the oracle gate — the
    * lakehouse OPTIMIZE step beside `q_zorder`'s clustering choice:
    * monthly ingest "files" (orders rolled up per month — the
    * metadata relation a catalog listing or [[graft.ext.LayoutOps
    * .fileStats]] provides) are packed into ~1000-row output bins by
    * [[graft.ext.LayoutOps.binPack]]'s streaming rule
    * (bin = running-size-before DIV target), preserving the
    * time-cluster order so compaction doesn't destroy pruning. The
    * plan is ALL-INTEGER (cumsum, integer division) so the bin
    * assignment is deterministic and hash-checked; output reports per
    * bin its file count, row total, and the preserved month interval.
    * The ordered cumsum window runs over file METADATA (|months| rows
    * here; ~|files| in production — catalog-sized, never table-sized),
    * which is the documented single-partition-window exception the
    * binPack scaladoc argues; the rewrite each bin implies is a
    * repartitionByRange over only that bin's files. ZorderScaleSpec's
    * binPack test drives the same planner over REAL written-file
    * stats at 20M rows. */
  def qBinpack(spark: SparkSession, sfDir: String): DataFrame = {
    val files = load(spark, sfDir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mth"))
      .agg(count(lit(1)).as("n_rows"))
    graft.ext.LayoutOps.binPack(files, "n_rows", col("mth"), 1000L)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("bin_rows"),
        min(col("mth")).as("first_mth"), max(col("mth")).as("last_mth"))
  }

  /** K-ANONYMITY / l-diversity audit (Sweeney 2002; Machanavajjhala
    * 2007) — the governance gate a dataset must clear before release:
    * group by the quasi-identifier tuple (nation, $1000 balance band),
    * report each group's size (k-anonymity: a group of n < 5 means
    * those n customers are re-identifiable by their QI alone) and its
    * distinct sensitive-attribute count (l-diversity: a group where
    * every member shares one mktsegment leaks the attribute even at
    * k ≥ 5). ONE map-side-combined aggregate over one scan — the
    * distinct count rides the same hash aggregate via Expand, the
    * QualityOps one-pass contract; at any table size only (QI, partial
    * counts) cross the exchange. Flag thresholds are integer compares;
    * the suppression decision (drop k_ok=false groups) is a filter on
    * this relation. */
  def qKAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "customer")
      .groupBy(col("c_nationkey").cast("bigint").as("nation"),
        floor(col("c_acctbal") / lit(1000.0d)).cast("bigint").as("bal_band"))
      .agg(count(lit(1)).as("group_n"),
        countDistinct(col("c_mktsegment")).as("l_div"))
      .withColumn("k_ok", col("group_n") >= 5)
      .withColumn("l_ok", col("l_div") >= 2)

  /** The GENERALIZATION ladder after [[qKAnonymity]]'s audit — the
    * step a release pipeline actually takes when a group fails k:
    * groups passing at the fine $1000 band release as level 0;
    * customers in failing groups re-generalize to the coarser $5000
    * band (within nation) and re-audit as level 1 (34 of 55 coarse
    * groups still fail at sf0.01 — those are the level-2/suppression
    * candidates, visible in the k_ok flag). Every customer appears in
    * exactly ONE output group. The failing-group set is
    * QI-DOMAIN-bounded (nations × bands), so it broadcasts back over
    * the scan — the per-level pass costs one aggregate plus one
    * broadcast semi-join at any table size. */
  def qKGeneralize(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.core.QueryCaches.track(
      load(spark, sfDir, "customer").select(
        col("c_nationkey").cast("bigint").as("nation"),
        floor(col("c_acctbal") / lit(1000.0d)).cast("bigint").as("b0"),
        floor(col("c_acctbal") / lit(5000.0d)).cast("bigint").as("b1")))
    val g0 = graft.core.QueryCaches.track(
      c.groupBy(col("nation"), col("b0")).agg(count(lit(1)).as("n")))
    val pass0 = g0.filter(col("n") >= 5)
      .select(col("nation"), lit(0L).as("level"), col("b0").as("band"),
        col("n"), (col("n") >= 5).as("k_ok"))
    val g1 = c.join(broadcast(g0.filter(col("n") < 5).select(col("nation"), col("b0"))),
        Seq("nation", "b0"))
      .groupBy(col("nation"), col("b1")).agg(count(lit(1)).as("n"))
      .select(col("nation"), lit(1L).as("level"), col("b1").as("band"),
        col("n"), (col("n") >= 5).as("k_ok"))
    pass0.unionByName(g1)
  }

  /** ANALYZE-style column statistics — the relation a cost-based
    * optimizer consumes: row count, NDV, min/max, and 7 EXACT
    * equi-depth histogram boundaries (rank-indexed values,
    * percentile_disc semantics) for `o_totalprice`, all in one
    * result. The boundaries come from [[graft.ext.SkewOps.globalRank]]
    * — repartitionByRange + count scan, two jobs, NO
    * single-partition window — while the oracle spells the global
    * `row_number() OVER (ORDER BY x)` this engine plan exists to
    * avoid; the 7 target ranks derive from the count scalar and
    * broadcast back against the ranked relation. This is the
    * engine-infrastructure op that closes the loop: the same library
    * that plans queries can maintain the statistics planning needs. */
  def qAnalyzeStats(spark: SparkSession, sfDir: String): DataFrame = {
    val v = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").select(col("o_totalprice").as("x")))
    val n = v.agg(count(lit(1)).as("cnt"), countDistinct(col("x")).as("ndv"),
      min(col("x")).as("mn"), max(col("x")).as("mx"))
    val ranked = graft.ext.SkewOps.globalRank(v, Seq("x"), "rk")
    val targets = spark.range(1, 8).toDF("b")
      .crossJoin(broadcast(n))
      .select(col("b").cast("bigint").as("bucket"),
        (lit(1L) + expr("(cnt - 1) * b DIV 8")).as("trk"),
        col("cnt"), col("ndv"), col("mn"), col("mx"))
    ranked.join(broadcast(targets), col("rk") === col("trk"))
      .select(col("bucket"), col("x").as("boundary"),
        col("cnt"), col("ndv"), col("mn"), col("mx"))
  }

  /** Histogram-selectivity audit — the validation loop that closes
    * [[qAnalyzeStats]]: an equi-depth histogram PROMISES that x ≤
    * boundary(k) selects k/8 of the rows; this row measures what the
    * predicate actually selects and reports the error a cost model
    * would inherit (duplicates concentrated at a boundary are exactly
    * what makes real histograms lie). Boundaries ride the same
    * [[graft.ext.SkewOps.globalRank]] two-job rank (no
    * single-partition window); the actual counts come from ONE scan
    * against the ≤3-row broadcast boundary relation (the
    * [[qValueBands]] nested-loop-over-tiny-side pattern); every
    * surfaced figure is an integral milli division. */
  def qSelectivityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val v = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").select(col("o_totalprice").as("x")))
    val n = v.agg(count(lit(1)).as("cnt"))
    val ranked = graft.ext.SkewOps.globalRank(v, Seq("x"), "rk")
    val targets = spark.range(1, 4).toDF("k")
      .select((col("k") * 2).cast("bigint").as("bucket"))
      .crossJoin(broadcast(n))
      .select(col("bucket"), col("cnt"),
        (lit(1L) + expr("(cnt - 1) * bucket DIV 8")).as("trk"))
    val bounds = ranked.join(broadcast(targets), col("rk") === col("trk"))
      .select(col("bucket"), col("x").as("boundary"), col("cnt"))
    v.join(broadcast(bounds), col("x") <= col("boundary"))
      .groupBy(col("bucket"), col("boundary"), col("cnt"))
      .agg(count(lit(1)).as("n_le"))
      .select(col("bucket"), col("boundary"),
        expr("(1000 * bucket) div 8").as("est_milli"),
        expr("(1000 * n_le) div cnt").as("actual_milli"),
        expr("(1000 * n_le) div cnt - (1000 * bucket) div 8").as("err_milli"))
  }

  /** Deterministic pseudonymization audit — the PII-release pattern
    * [[qKAnonymity]] gates: replace the identifying column with its
    * content fingerprint (stable across tables and loads, so every
    * FOREIGN KEY join still works on the pseudonym) and audit the two
    * properties a release needs: collisions (distinct names vs
    * distinct pseudonyms — a collision silently merges two people) and
    * join preservation (fact rows still land under the pseudonymized
    * dimension 1:1). The fingerprint is the native codegen kernel —
    * tokenization happens inside the scan, raw names never cross an
    * exchange. Plan: one dim scan feeding both the per-segment
    * identity audit and the fact join's build side; the segment-level
    * stitch broadcasts. */
  def qPseudonymize(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.core.QueryCaches.track(
      load(spark, sfDir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        col("c_name"), graft.functions.HashExprs.fingerprint(col("c_name")).as("pseud")))
    val ident = c.groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        countDistinct(col("c_name")).as("n_names"),
        countDistinct(col("pseud")).as("n_pseudonyms"))
      .withColumn("collisions", col("n_names") - col("n_pseudonyms"))
    val facts = load(spark, sfDir, "orders")
      .join(c.select(col("c_custkey"), col("c_mktsegment"), col("pseud")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("pseud")).as("n_active_pseudonyms"))
    ident.join(broadcast(facts), Seq("segment"))
  }

  /** Append-order lateness audit — the measurement a watermark delay
    * (or an incremental-load lookback) is actually chosen from: in an
    * appended fact table whose key reflects arrival order, a row is
    * LATE iff some earlier-appended row carries a newer event time,
    * and its lateness is the gap to the running maximum. Reported as
    * the power-of-2 lateness histogram in days with per-bucket ppm:
    * "re-read 2^k days on each incremental load" reads directly off
    * the cumulative tail (orders arrive ~every date here — 14990 of
    * 15000 rows are behind the frontier at sf0.01, exactly why naive
    * date-partitioned incremental loads silently drop rows). The
    * running max rides [[graft.ext.SkewOps.globalCumMax]] (range
    * partition + bounded per-partition maxima sync, two jobs, NO
    * single-partition window) while the oracle spells the sequential
    * MAX OVER (ORDER BY …) this plan exists to avoid. All-integer. */
  def qIngestLateness(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").select(col("o_orderkey"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("tus")))
    val tot = o.agg(count(lit(1)).as("n_rows"))
    val cm = graft.ext.SkewOps.globalCumMax(o, Seq("o_orderkey"), "tus", "cmax")
    cm.filter(col("cmax") > col("tus"))
      .withColumn("late_days", expr("(cmax - tus) div 86400000000"))
      .withColumn("bucket", (length(bin(col("late_days"))) - 1).cast("bigint"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_late"), max(col("late_days")).as("max_late_days"))
      .crossJoin(broadcast(tot))
      .withColumn("late_ppm", expr("(1000000 * n_late) div n_rows"))
  }

  /** Merkle-style table content checksum per key range — the
    * replica-sync / backup-integrity audit: two copies of a table
    * agree iff every bucket's (n_rows, checksum) agrees, and a drifted
    * bucket pinpoints WHERE to re-sync without comparing rows. The
    * per-row fingerprint is the polynomial content hash of a canonical
    * '|'-joined row rendering (doubles cast DECIMAL(12,2) first so both
    * engines print identical strings); the bucket checksum is the SUM
    * of row fps as DECIMAL(38,0) — commutative and exact, so it is
    * partition-order-independent at any parallelism (1e12 rows × 1e9
    * max fp still 17 digits below the 38-digit ceiling). One scan, one
    * map-side-combined aggregate; bucket = custkey div 1000 keeps the
    * audit relation catalog-sized. */
  def qTableChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    val c = load(spark, sfDir, "customer")
    val row = concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal").cast(DecimalType(12, 2)), col("c_mktsegment"))
    c.select(expr("c_custkey div 1000").as("bucket"),
        graft.functions.HashExprs.fingerprint(row).as("fp"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        // decimal partials for exactness, BIGINT at the surface: each fp
        // < 1e9+7, so the per-bucket sum fits int64 up to ~9e9 rows —
        // and a raw DECIMAL(38,0) output column is the one type the
        // cross-engine hash gate represents differently (r10 lesson).
        sum(col("fp").cast(DecimalType(38, 0))).cast("bigint").as("checksum"))
  }

  /** Bitmap index intersection — the low-cardinality-column index
    * structure as a relational op: per (value, 63-row bucket) one LONG
    * mask (bit i set ⟺ the row with key ≡ i mod 63 in that bucket has
    * the value), built with the bit_or aggregate; a conjunctive
    * predicate (status = s AND priority = p) is then a bucket-keyed
    * equi-join of the two masks, a bitwise AND, and a popcount sum —
    * no row ever revisited. The green row proves the index EXACT: each
    * (s, p) bitmap count is reported beside the direct groupBy count
    * and they must be equal (bitmaps are not a sketch; the index is
    * lossless). Scale shape: both mask builds are map-side-combined
    * aggregates over one scan each (bit_or is commutative/associative
    * — partial aggregation merges sub-bitmaps, the same mergeability
    * argument as the sketches); the AND join is keyed on the bucket id
    * with per-bucket fanout = |statuses| × |priorities| (≤ 15 here) —
    * bitmap AND is bucket-local, which is exactly why warehouses use
    * bitmap indexes for this query shape instead of row intersection.
    * At 100 TB the masks relation is rows/63 longs per value — the
    * 63× compression plus popcount is the win; roaring-style
    * run-length containers are the production refinement. */
  def qBitmapIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .withColumn("bucket", expr("o_orderkey div 63"))
        // 63 rows per container, not 64: bit 63 is the sign bit, and
        // DuckDB's checked left shift rejects 1::BIGINT << 63 — same
        // compression story, one engine-portable bit narrower.
        .withColumn("bit", expr("shiftleft(CAST(1 AS BIGINT), CAST(o_orderkey % 63 AS INT))")))
    val ms = o.groupBy(col("o_orderstatus"), col("bucket"))
      .agg(expr("bit_or(bit)").as("m_s"))
    val mp = o.groupBy(col("o_orderpriority"), col("bucket"))
      .agg(expr("bit_or(bit)").as("m_p"))
    val viaIndex = ms.join(mp, Seq("bucket"))
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(expr("bit_count(m_s & m_p)")).cast("bigint").as("n_bitmap"))
    val direct = o.groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_direct"))
    // inner join: a (s, p) pair absent from `direct` has empty
    // intersection in every bucket too — bit_count sums to 0 there, so
    // restrict to pairs that exist (matching the oracle's join).
    viaIndex.filter(col("n_bitmap") > 0)
      .join(direct, Seq("o_orderstatus", "o_orderpriority"))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_bitmap"), col("n_direct"), (col("n_bitmap") === col("n_direct")).as("exact"))
  }

  /** Right-to-erasure manifest — the deletion-propagation audit the
    * governance pillar (q_k_anonymity, events_time_travel) was still
    * missing: for a deletion batch (every 50th customer), enumerate
    * the full cascade — the customer row, their orders, and those
    * orders' lineitems — BEFORE any delete runs, so the erasure job
    * has an auditable, idempotency-checkable work manifest (re-run
    * after the delete, every count must be 0 except the absent
    * customer row). Plan: the deletion batch is regulatory-request
    * sized — small by NATURE, not by luck — so it broadcasts into
    * orders, and the (custkey, orderkey) cascade relation (bounded by
    * the batch's own order count) broadcasts into lineitem: the two
    * fact tables are each scanned ONCE and never shuffled. Zero-
    * activity customers stay in the manifest via left joins (an
    * erasure request for a dormant account must still close). */
  def qErasureManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val del = load(spark, sfDir, "customer")
      .filter(col("c_custkey") % 50 === 0).select(col("c_custkey"))
    // cascade = the deletion batch's own orders — bounded by the
    // request, NOT SF-scaled (the fact scans are probe sides only)
    val cascade = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders")
        .join(broadcast(del), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey")))
    val no = cascade.groupBy(col("c_custkey")).agg(count(lit(1)).as("n_orders"))
    val nl = load(spark, sfDir, "lineitem")
      .join(broadcast(cascade), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_lineitems"))
    // the per-customer rollups are deletion-batch-sized too: broadcast
    // the stitches so the WHOLE manifest plans without one shuffle
    del.join(broadcast(no), Seq("c_custkey"), "left")
      .join(broadcast(nl), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
        (lit(1L) + coalesce(col("n_orders"), lit(0L)) +
          coalesce(col("n_lineitems"), lit(0L))).as("n_rows_total"))
  }

  /** Correlated EXISTS / NOT EXISTS — the subquery-decorrelation
    * surface: "segment customers who had a high-value return but never
    * placed a jumbo order", spelled exactly as an analyst would (two
    * correlated subqueries), leaving Catalyst's RewritePredicateSubquery
    * to turn them into a LEFT SEMI and a LEFT ANTI hash join. That
    * rewrite IS the 100 TB story: a per-customer re-scan of orders ∪
    * lineitem (the naive nested-loop reading of EXISTS) is dead at any
    * scale, while the decorrelated form is two key-partitioned joins
    * against fact-side pre-filters — the returned-lineitem probe is
    * filtered to flag='R' AND price>threshold BEFORE the join, so the
    * semi-join build input is outlier-sized, and PlanSpec pins the plan
    * (semi + anti, no BroadcastNestedLoopJoin). */
  def qExistsRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    load(spark, sfDir, "customer").createOrReplaceTempView("graft_qer_customer")
    load(spark, sfDir, "orders").createOrReplaceTempView("graft_qer_orders")
    load(spark, sfDir, "lineitem").createOrReplaceTempView("graft_qer_lineitem")
    spark.sql(
      """SELECT c_custkey, c_mktsegment
        |FROM graft_qer_customer c
        |WHERE EXISTS (
        |    SELECT 1 FROM graft_qer_orders o
        |    JOIN graft_qer_lineitem l ON l.l_orderkey = o.o_orderkey
        |    WHERE o.o_custkey = c.c_custkey
        |      AND l.l_returnflag = 'R' AND l.l_extendedprice > 50000)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM graft_qer_orders o2
        |    WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice > 400000)
        |""".stripMargin)
  }

  /** Partition-layout skew audit — the write-side planning question
    * beside q_zorder's read-side one: before committing a table layout,
    * measure how evenly each candidate partitioning spreads rows. Three
    * 32-way strategies over orders — key-mod on the customer (the
    * natural join key, inherits customer hot spots), key-mod on the
    * order id (a synthetic round-robin — the uniform reference), and
    * calendar month (the operational favorite, inherits seasonality;
    * NOT 32-way, which is the point — month count is data-determined).
    * Per strategy: bucket count, min/max/avg rows and the milli skew
    * ratio max/avg — the number that predicts straggler tasks and
    * oversized files at write time. All integer (avg enters as an
    * exact count product: 1000·max·n_buckets div total). One scan,
    * three map-side-combined aggregates over ≤ hundreds of groups —
    * the audit costs a fraction of the write it de-risks, at any
    * scale. The deliberately engine-portable "hash" is key mod N
    * (Murmur3 vs DuckDB's hash differ; the SKEW MEASUREMENT, not the
    * hash function, is what this query verifies). */
  def qPartitionSkew(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")))
    def audit(bucket: org.apache.spark.sql.Column, name: String): DataFrame =
      o.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n"))
        .groupBy(lit(name).as("strategy"))
        .agg(count(lit(1)).as("n_buckets"),
          min(col("n")).as("min_rows"), max(col("n")).as("max_rows"),
          sum(col("n")).as("total_rows"))
        .select(col("strategy"), col("n_buckets"), col("min_rows"), col("max_rows"),
          expr("total_rows div n_buckets").as("avg_rows"),
          expr("CAST((1000 * max_rows * n_buckets) div total_rows AS BIGINT)")
            .as("skew_milli"))
    audit(pmod(col("o_custkey"), lit(32L)), "mod_custkey")
      .unionAll(audit(pmod(col("o_orderkey"), lit(32L)), "mod_orderkey"))
      .unionAll(audit(expr("date_trunc('month', o_orderdate)"), "by_month"))
  }

  /** TPC-H Q19-shaped DISJUNCTIVE join filter — the OR-of-ANDs
    * predicate class that defeats naive pushdown: the match condition
    * mixes columns of BOTH sides inside each disjunct, so no single
    * branch can move below the join as-is. Catalyst's CNF extraction
    * (`extractPredicatesWithinOutputSet`) derives the per-side
    * WEAKENINGS — `p_brand IN (…) AND p_size ≤ …` onto the part scan,
    * the union of quantity ranges onto the lineitem scan — leaving the
    * exact disjunction as the join's residual. At 100 TB that derived
    * pushdown is the query: both scans prune to the selective slice
    * (PushedFilters carries the In/Or — PlanSpec pins it) before any
    * row reaches the exchange. Decimal-exact revenue; the oracle is
    * the same disjunction verbatim. */
  def q19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem")
    val p = load(spark, sfDir, "part")
    li.join(p, col("l_partkey") === col("p_partkey") && (
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))))
      .agg(count(lit(1)).as("n_items"),
        dsum(netPrice).as("revenue"))
  }

  /** EAGER AGGREGATION (Yan & Larson: push the group-by below the
    * join) — the plan transformation declared as a query: revenue per
    * order priority is computed by pre-aggregating lineitem to ONE row
    * per orderkey BEFORE the join, so the orders⋈lineitem exchange
    * carries |orders| fixed-width partial rows instead of |lineitem|
    * fact rows — at 100 TB the difference between shuffling the fact
    * table and shuffling its 4×-smaller rollup. The DuckDB oracle is
    * deliberately the LAZY spelling (join first, aggregate after):
    * a green hash PROVES the transformation sound, including the
    * decimal algebra — the inner partial stays DECIMAL(38,6) (never
    * rounds through a double), so the two-level fold is bit-equal to
    * the one-level fold by decimal associativity; n_orders becomes a
    * plain count (each order surfaces once post-rollup) where the lazy
    * form needs COUNT(DISTINCT). The same shape is how
    * q_incremental_mv's partials work — this row pins the JOIN
    * commutation specifically. */
  def qEagerAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val liRollup = load(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(netPrice.cast(DecimalType(38, 6))).as("rev_dec"),
        count(lit(1)).as("items"))
    load(spark, sfDir, "orders")
      .join(liRollup, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("rev_dec")).cast("double").as("revenue"),
        sum(col("items")).as("n_items"))
  }

  /** YANNAKAKIS SEMI-JOIN REDUCTION over the acyclic chain customer →
    * orders → lineitem: the downward pass reduces each relation to the
    * tuples that can reach the (selective) customer filter — orders
    * semi-join customers, lineitem semi-join reduced orders — and the
    * upward join then joins ONLY non-dangling tuples, so no join in
    * the plan ever produces a row the final aggregate discards. The
    * oracle is the straight 3-way join + aggregate; the green hash
    * proves the reduction loses nothing. At 100 TB the wins compound:
    * the semi-joins carry key columns only (Spark prunes the payload
    * off the probe side), the BUILDING filter cuts the fact volume
    * ~5× before any wide row is shuffled, and AQE can promote the
    * reduced sides to broadcast where the unreduced join could not.
    * ([[qBloomPrune]] is the sketch version of ONE such reduction
    * step; this row is the full multi-relation evaluation.) */
  def qSemijoinReduce(spark: SparkSession, sfDir: String): DataFrame = {
    val c = load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_nationkey"))
    // downward pass: reduce each relation to tuples that join upward
    val oRed = load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(c.select(col("c_custkey")), col("o_custkey") === col("c_custkey"),
        "left_semi")
    val liRed = load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(oRed.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"),
        "left_semi")
    // upward pass: every join is now dangling-tuple-free
    liRed.join(oRed, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("bigint").as("nation"))
      .agg(count(lit(1)).as("n_items"),
        dsum(netPrice).as("revenue"))
  }

  /** Sketch-based join-cardinality estimation — the optimizer-stats
    * story as a first-class query: a KMV/θ-sketch over the DISTINCT
    * join-key universe (orders ∪ lineitem orderkeys) picks θ = the
    * K-th smallest salted fingerprint; the keys below θ are a fixed
    * uniform sample whose per-side frequencies are exact counts, so
    * Σ f_orders·f_lineitem over the sample, scaled by the inverse
    * sampling rate P/θ, estimates |orders ⋈ lineitem| — the quantity a
    * cost-based join reorderer actually needs (ndv alone misleads under
    * skew; this estimator sees the frequency PRODUCT). Reported beside
    * the exact join count and exact key-universe count (the
    * sketch-beside-truth calibration pattern of events_hll_distinct).
    * All integer arithmetic: one integral division per estimate with
    * DECIMAL(38,0) partials. Scale: each side collapses to (key, count)
    * with map-side combine; the global K-smallest filter plans as a
    * partial WindowGroupLimit (each task forwards ≤K hashes), and the
    * frequency joins run over ≤K sampled keys broadcast against the
    * per-key count relations — the corpus is scanned once per side,
    * exactly like the ANALYZE pass a warehouse already pays. */
  def qJoinCardEst(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 64
    val P = 1000000007L
    val fO = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").groupBy(col("o_orderkey").as("key"))
        .agg(count(lit(1)).as("f_o")))
    val fL = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem").groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("f_l")))
    val universe = graft.core.QueryCaches.track(
      fO.select(col("key")).union(fL.select(col("key"))).distinct()
        .select(col("key"), graft.ext.TextOps.fingerprint(
          concat(lit("jce|"), col("key").cast("string"), lit("|graft"))).as("h")))
    // filter the UNCAST rank, cast after (the qHeavyHitters idiom): a
    // cast between row_number and the <= K filter defeats
    // InsertWindowGroupLimit and the K-smallest scan degrades to a full
    // single-partition sort of the key universe. Persisted: both the
    // theta branch and the sample branch read `ranked`, and without the
    // persist each would re-execute the rank exchange.
    val ranked = graft.core.QueryCaches.track(
      universe
        .withColumn("rk0", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rk0") <= K)
        .select(col("key"), col("h"), col("rk0").cast("bigint").as("rk")))
    val theta = ranked.filter(col("rk") === K).select(col("h").as("theta"))
    val sample = ranked.filter(col("rk") < K) // KMV convention: θ itself is excluded
      .join(fO, Seq("key"), "left").join(fL, Seq("key"), "left")
      .agg(sum(coalesce(col("f_o"), lit(0L)) * coalesce(col("f_l"), lit(0L))).as("sum_ff"))
    val actuals = fO.join(fL, Seq("key"))
      .agg(sum(col("f_o") * col("f_l")).as("actual_join_rows"))
    val nUniverse = universe.agg(count(lit(1)).as("actual_union"))
    sample.crossJoin(theta).crossJoin(actuals).crossJoin(nUniverse)
      .select(lit(K.toLong).as("k"), col("theta"), col("sum_ff"),
        expr(s"CAST((CAST(${K - 1} AS DECIMAL(38,0)) * $P) div theta AS BIGINT)")
          .as("est_union"),
        col("actual_union"),
        expr(s"CAST((CAST(sum_ff AS DECIMAL(38,0)) * $P) div theta AS BIGINT)")
          .as("est_join_rows"),
        col("actual_join_rows"))
  }

  /** AMS (tug-of-war) SELF-join-size estimation — the second-moment
    * companion to [[qJoinCardEst]]'s KMV estimator: F2 = Σ_k c_k² over
    * the `l_orderkey` frequency vector IS |lineitem ⋈ lineitem| on the
    * key, the quantity that prices a self-join (and, normalized, the
    * skew of any shuffle on that key) without ever materializing the
    * per-key counts at the coordinator. One pass, NO group-by: 24
    * independent ±1 counters Z_j = Σ_rows s_j(key) fold as plain
    * conditional sums inside a single hash-free aggregate (map-side
    * partials are 24 longs per task — the sketch property that makes
    * this free at 100 TB), then E[Z²] = F2 is stabilized
    * mean-of-8 × median-of-3 (Alon-Matias-Szegedy's exact recipe).
    * Sign hash: MID-SQUARE of the affine residue — s_j = 1 − 2·bit40
    * of ((key·a_j + b_j) mod P)². The parity of the affine residue
    * alone is NOT usable: over the near-contiguous key ranges real id
    * columns have, parity((k·a) mod P) is a Sturmian sequence with
    * long runs and the counter deviation grows ~linearly, not ~√n
    * (measured 24× overestimates); squaring the residue and sampling a
    * middle bit breaks the affinity, and stays integer arithmetic both
    * engines spell identically (h² ≤ (10⁹+7)² fits int64). Z² partials
    * ride
    * DECIMAL(38,0) (worst-case Z = n overflows int64 at 100 TB row
    * counts even though typical Z ~ √F2 does not). The exact F2 —
    * reported beside the estimate, the sketch-beside-truth calibration
    * pattern — needs the real per-key counts: map-side-combined
    * groupBy, Σ c² with decimal partials. Median-of-3 is spelled
    * sum − min − max (engine-neutral, no array ordering semantics). */
  def qF2SelfjoinEst(spark: SparkSession, sfDir: String): DataFrame = {
    val P = 1000000007L
    def a(j: Int) = 104729L + 7919L * j
    def b(j: Int) = 7L + 13L * j
    val rows = load(spark, sfDir, "lineitem").select(col("l_orderkey").as("key"))
    val zCols = (0 until 24).map { j =>
      val h = s"(((key * ${a(j)}) + ${b(j)}) % $P)"
      sum(expr(s"1 - 2 * (shiftright($h * $h, 40) & 1)")).as(s"z$j")
    }
    val sketch = rows.agg(count(lit(1)).as("n_rows"), zCols: _*)
    val ests = sketch.select((col("n_rows") +: (0 until 3).map { g =>
      val sq = (8 * g until 8 * g + 8)
        .map(j => s"CAST(z$j AS DECIMAL(38,0)) * z$j").mkString(" + ")
      expr(s"CAST(($sq) div 8 AS BIGINT)").as(s"est_g$g")
    }): _*)
    val exact = rows.groupBy(col("key")).agg(count(lit(1)).as("c"))
      .agg(expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)").as("exact_f2"))
    ests.crossJoin(broadcast(exact))
      .withColumn("est_f2", expr(
        "est_g0 + est_g1 + est_g2 - greatest(est_g0, est_g1, est_g2) " +
          "- least(est_g0, est_g1, est_g2)"))
      .withColumn("err_permille", expr(
        "CAST(signum(est_f2 - exact_f2) AS BIGINT) * " +
          "(CAST(abs(CAST(est_f2 AS DECIMAL(38,0)) - exact_f2) * 1000 AS DECIMAL(38,0)) " +
          "div CAST(exact_f2 AS DECIMAL(38,0)))"))
      .select(col("n_rows"), col("est_g0"), col("est_g1"), col("est_g2"),
        col("est_f2"), col("exact_f2"),
        col("err_permille").cast("bigint").as("err_permille"))
  }

  /** One KMV join-size estimate — the [[qJoinCardEst]] machinery
    * factored for reuse: K-smallest salted fingerprints over the key
    * UNIVERSE of both sides pick θ and a fixed uniform key sample whose
    * exact per-side frequency products, scaled by P/θ, estimate the
    * equi-join size. Returns one row `(est)`. The rank filter stays on
    * the UNCAST row_number (partial top-k; the round-11 lesson). */
  private def kmvJoinEst(fA: DataFrame, fB: DataFrame, salt: String): DataFrame = {
    val K = 64
    val P = 1000000007L
    val universe = fA.select(col("key")).union(fB.select(col("key"))).distinct()
      .select(col("key"), graft.ext.TextOps.fingerprint(
        concat(lit(s"$salt|"), col("key").cast("string"), lit("|graft"))).as("h"))
    val ranked = universe
      .withColumn("rk0", row_number().over(Window.orderBy(col("h"))))
      .filter(col("rk0") <= K)
      .select(col("key"), col("h"), col("rk0").cast("bigint").as("rk"))
    val theta = ranked.filter(col("rk") === K).select(col("h").as("theta"))
    ranked.filter(col("rk") < K)
      .join(fA, Seq("key"), "left").join(fB, Seq("key"), "left")
      .agg(sum(coalesce(col("f_a"), lit(0L)) * coalesce(col("f_b"), lit(0L))).as("sum_ff"))
      .crossJoin(broadcast(theta))
      .select(expr(s"CAST((CAST(sum_ff AS DECIMAL(38,0)) * $P) div theta AS BIGINT)")
        .as("est"))
  }

  /** Most-common-values statistics — the MCV list that completes the
    * ANALYZE family ([[qAnalyzeStats]] count/NDV/boundaries,
    * [[qCorrStats]] correlation, [[qJoinCardEst]]/[[qF2SelfjoinEst]]
    * sketches): per audited column, the top-8 values with exact counts
    * and per-mille frequency — what a cost model consults for
    * equality-predicate selectivity on skewed categorical columns,
    * where a histogram's equal-depth buckets smear exactly the values
    * that matter. Ties break on the value string (deterministic).
    * Scale: one map-side-combined count per column (domain-bounded
    * output), the top-8 rank stays on the UNCAST row_number (partial
    * top-k), totals broadcast. */
  def qMcvStats(spark: SparkSession, sfDir: String): DataFrame = {
    def mcv(table: String, cname: String): DataFrame = {
      val t = load(spark, sfDir, table)
      val cnt = t.groupBy(col(cname).cast("string").as("value"))
        .agg(count(lit(1)).as("n"))
      val tot = t.agg(count(lit(1)).as("tot"))
      cnt.withColumn("rk0",
          row_number().over(Window.orderBy(col("n").desc, col("value"))))
        .filter(col("rk0") <= 8)
        .crossJoin(broadcast(tot))
        .select(lit(s"$table.$cname").as("col_name"), col("value"), col("n"),
          col("rk0").cast("bigint").as("rank"),
          expr("(1000 * n) div tot").as("freq_milli"))
    }
    mcv("orders", "o_orderpriority")
      .unionAll(mcv("customer", "c_mktsegment"))
      .unionAll(mcv("orders", "o_orderstatus"))
  }

  /** Join-ORDER advisor — what the sketch suite exists FOR: before
    * planning customer ⋈ orders ⋈ lineitem, estimate both pairwise
    * join sizes from KMV sketches ([[kmvJoinEst]] — two corpus-scan
    * ANALYZE passes, never the joins themselves) and rank the two
    * cross-join-free left-deep orders by their INTERMEDIATE size, the
    * quantity a Selinger-style enumerator minimizes. The 3-way size is
    * the textbook independence estimate est(o⋈l)·est(c⋈o)/|orders|
    * (each o⋈l row survives the custkey probe with the same rate
    * orders did). All integer: the orders total is exact, divisions
    * are single integral divisions with DECIMAL(38,0) partials, and
    * `chosen` is an integer comparison — so the advisor's DECISION,
    * not just its numbers, is pinned cross-engine. Scale: three
    * map-side-combined per-key count relations, two 64-key sketch
    * selections (partial top-k), a 2-row readout. */
  def qJoinOrderAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val fCust = graft.core.QueryCaches.track(
      load(spark, sfDir, "customer").groupBy(col("c_custkey").as("key"))
        .agg(count(lit(1)).as("f_a")))
    val fOrdC = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("f_b")))
    val fOrdK = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").groupBy(col("o_orderkey").as("key"))
        .agg(count(lit(1)).as("f_a")))
    val fLine = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem").groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("f_b")))
    val estCo = kmvJoinEst(fCust, fOrdC, "joa_co").select(col("est").as("est_co"))
    val estOl = kmvJoinEst(fOrdK, fLine, "joa_ol").select(col("est").as("est_ol"))
    val nOrders = load(spark, sfDir, "orders").agg(count(lit(1)).as("n_orders"))
    estCo.crossJoin(broadcast(estOl)).crossJoin(broadcast(nOrders))
      .withColumn("est_three_way", expr(
        "CAST((CAST(est_ol AS DECIMAL(38,0)) * est_co) div n_orders AS BIGINT)"))
      .withColumn("min_int", least(col("est_co"), col("est_ol")))
      .select(explode(expr(
        "array(struct('customer_orders_first' AS join_order, est_co AS est_intermediate), " +
          "struct('orders_lineitem_first' AS join_order, est_ol AS est_intermediate))"))
        .as("o"), col("est_three_way"), col("min_int"))
      .select(col("o.join_order").as("join_order"),
        col("o.est_intermediate").as("est_intermediate"),
        col("est_three_way"),
        (col("o.est_intermediate") === col("min_int")).as("chosen"))
  }

  // ---- TPC-H completion block (Q2/Q11/Q12/Q16/Q20/Q21 adapted to the
  // reduced schema: no partsupp/shipmode/commitdate, so each query keeps
  // its CANONICAL PLAN SHAPE — correlated min, scalar-subquery having,
  // conditional-agg join, distinct-count anti-join, nested agg semi-join,
  // double exists/not-exists self-join — over a supply catalog DERIVED
  // from lineitem where the original reads partsupp. With these six the
  // suite covers all 22 classic shapes.

  /** Q2-style minimum-cost supplier: the supply catalog is the distinct
    * (part, supplier) shipment history with unit_cost = min observed
    * l_extendedprice / l_quantity (one IEEE division per line — bit-equal
    * in DuckDB, so the min and the `cost = min-cost` equality join below
    * are cross-engine exact). Shape: per-part correlated MIN spelled as
    * agg + self-equi-join (Catalyst's decorrelation target). Scale:
    * supply agg shuffles on (part, supp) once; nation⋈region are true
    * fixed dims (broadcast); supplier scales with SF so AQE decides;
    * min-cost join is an equi-join on partkey — no plan is quadratic. */
  def q2MinCostSupp(spark: SparkSession, sfDir: String): DataFrame = {
    val supply = load(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val parts = load(spark, sfDir, "part")
      .filter(col("p_type") === "PROMO" && col("p_size") <= 15)
    val dims = regionNations(spark, sfDir, "EUROPE")
    val regionSupp = load(spark, sfDir, "supplier")
      .join(broadcast(dims), col("s_nationkey") === col("n_nationkey"))
    // `offers` feeds both the per-part min and the final stitch —
    // persisted so the supply agg + dimension joins run once.
    val offers = graft.core.QueryCaches.track(supply
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(regionSupp, col("l_suppkey") === col("s_suppkey")))
    val minCost = offers
      .groupBy(col("p_partkey").as("mc_partkey"))
      .agg(min(col("unit_cost")).as("min_cost"))
    offers
      .join(minCost,
        col("p_partkey") === col("mc_partkey") &&
          col("unit_cost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"), col("unit_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** Q11-style important parts: shipped value per part from one region's
    * suppliers, kept when the part holds > 1/1000 of the region total.
    * Shape: scalar-subquery HAVING — the total is a 1-row broadcast
    * (BroadcastNestedLoopJoin over a single row, not a shuffle). Both
    * sums fold as DECIMAL(38,6) (exact at any parallelism); the
    * threshold compare happens on the doubles both engines derive from
    * those exact decimals with one multiply — deterministic. */
  def q11ImportantParts(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = regionNations(spark, sfDir, "ASIA")
    val regionSupp = load(spark, sfDir, "supplier")
      .join(broadcast(dims), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // `vals` feeds BOTH the scalar total and the filtered branch —
    // query-scope persisted so the lineitem join+agg runs once, not
    // twice (the q_join_card_est round-11 lesson).
    val vals = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem")
        .join(regionSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"))
        .agg(sum(netPrice.cast(DecimalType(38, 6))).as("val_dec")))
    val total = vals.agg(sum(col("val_dec")).cast("double").as("total_value"))
    vals.crossJoin(broadcast(total))
      .filter(col("val_dec").cast("double") * lit(1000.0) > col("total_value"))
      .select(col("l_partkey"), col("val_dec").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** Q12-style shipping-delay report: the reduced schema has no
    * l_shipmode, so the Q12 group key becomes the ship-delay class
    * (days from order to ship: ≤30 FAST, ≤90 STEADY, else SLOW) — the
    * shape is identical: one orders⋈lineitem join + conditional
    * high/low-priority counts per class. 3 groups → map-side partial
    * agg collapses the shuffle to nothing. */
  def q12ShipDelay(spark: SparkSession, sfDir: String): DataFrame = {
    val li = load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val highPrio = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val delayDays =
      datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
    li.join(load(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_class",
        when(delayDays <= 30, "FAST")
          .when(delayDays <= 90, "STEADY")
          .otherwise("SLOW"))
      .groupBy(col("delay_class"))
      .agg(
        sum(when(highPrio, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(highPrio, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("delay_class"))
  }

  /** Q16-style supplier diversity per part family: how many distinct
    * suppliers ship each (brand, type, size) — excluding flagged
    * suppliers (negative account balance stands in for the original's
    * complaint scan). Shape preserved: derived distinct part-supplier
    * catalog, anti-join against the exclusion list, COUNT(DISTINCT)
    * agg. Scale: the distinct and the agg shuffle on the same partkey
    * family keys; the exclusion list is tiny → AQE broadcasts the
    * anti-join build side. */
  def q16SupplierCnt(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = load(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val flagged = load(spark, sfDir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = load(spark, sfDir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49, 50))
    ps.join(parts, col("l_partkey") === col("p_partkey"))
      .join(flagged, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Q20-style dominant promo suppliers: suppliers in one region that
    * shipped > 20% of some red part's total 1997 volume. Shape: nested
    * agg subqueries feeding a semi-join chain — per-(part, supp) and
    * per-part quantity aggs join on partkey, the threshold survivors
    * semi-join into supplier. Quantities fold as DECIMAL(38,6); the
    * 20% compare is one double multiply on both engines. Scale: both
    * aggs shuffle on partkey (co-partitioned join), supplier semi-join
    * builds from a distinct-suppkey relation bounded by |supplier|. */
  def q20PromoSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val red = load(spark, sfDir, "part")
      .filter(col("p_name").startsWith("red ")).select(col("p_partkey"))
    // the filtered red-part 1997 slice feeds both quantity aggs —
    // persisted so the scan + part join run once.
    // project BEFORE the persist: QueryCaches.track materializes the
    // relation as-is, and an unpruned cache would hold all 11 lineitem
    // columns for a 3-column consumer (ScanAuditSpec fleet rule).
    val li97 = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .join(red, col("l_partkey") === col("p_partkey")))
    val bySupp = li97.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(38, 6))).as("qty_dec"))
    val byPart = li97.groupBy(col("l_partkey").as("tp_partkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(38, 6))).as("total_dec"))
    val qualified = bySupp
      .join(byPart, col("l_partkey") === col("tp_partkey"))
      .filter(col("qty_dec").cast("double") * lit(5.0) >
        col("total_dec").cast("double"))
      .select(col("l_suppkey"))
    val dims = regionNations(spark, sfDir, "AMERICA")
    load(spark, sfDir, "supplier")
      .join(broadcast(dims), col("s_nationkey") === col("n_nationkey"))
      .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  /** Q21-style waiting suppliers: lines that were the LAST ship of a
    * multi-supplier finished order — exists(another supplier in the
    * order) AND not-exists(another supplier shipped later), the
    * canonical double self-join, spelled as left_semi + left_anti on
    * l_orderkey with the supplier-inequality / later-shipdate residual
    * conditions. Scale: all three lineitem legs shuffle on the SAME
    * l_orderkey key (co-partitioned sort-merge semi/anti joins) and
    * order groups are bounded (~7 lines), so the per-group residual
    * comparison is O(lines·group) — no quadratic blowup. */
  def q21WaitingSupp(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = regionNations(spark, sfDir, "EUROPE")
    val l1 = load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(load(spark, sfDir, "supplier")
          .join(broadcast(dims), col("s_nationkey") === col("n_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(load(spark, sfDir, "orders")
          .filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
    val l2 = load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val l3 = load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"),
        col("l_shipdate").as("d3"))
    l1.join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      .join(l3, col("l_orderkey") === col("o3") &&
        col("l_suppkey") =!= col("s3") && col("d3") > col("l_shipdate"),
        "left_anti")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  /** Winsorized (P5/P95-clamped) mean order value per market segment —
    * the robust-aggregation row: one extreme order no longer owns the
    * segment average (the outlier complaint every revenue dashboard
    * eventually files). Boundaries are EXACT order statistics selected
    * by rank, but the rank is [[graft.ext.SkewOps.globalRank]] over
    * (segment, price, key) — range-partitioned two-job rank, never a
    * users-scale window; within-segment positions recover from the
    * global rank minus a 5-row broadcast segment-offset relation
    * (computed by a domain-bounded self-join, not a window). The 10
    * boundary rows broadcast back onto the scan for the clamp; the
    * winsorized mean folds decimal-exact. The oracle spells the
    * per-segment row_number window this plan exists to avoid. */
  def qWinsorized(spark: SparkSession, sfDir: String): DataFrame = {
    val o = load(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val c = load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val rows = graft.core.QueryCaches.track(
      o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          col("o_totalprice")))
    val counts = rows.groupBy(col("seg")).agg(count(lit(1)).as("n"))
    val offsets = counts.alias("a")
      .join(broadcast(counts.alias("b")), col("b.seg") < col("a.seg"), "left")
      .groupBy(col("a.seg").as("seg"), col("a.n").as("n"))
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("off"))
    val ranked = graft.ext.SkewOps.globalRank(
      rows, Seq("seg", "o_totalprice", "o_orderkey"), "grk")
    val bounds = ranked.join(broadcast(offsets), "seg")
      .filter(col("grk") - col("off") === expr("1 + ((n - 1) * 5) div 100") ||
        col("grk") - col("off") === expr("1 + ((n - 1) * 95) div 100"))
      .groupBy(col("seg").as("b_seg"))
      .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
    rows.join(broadcast(bounds), col("seg") === col("b_seg"))
      .select(col("seg"), col("lo"), col("hi"),
        greatest(least(col("o_totalprice"), col("hi")), col("lo")).as("wv"))
      .groupBy(col("seg"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_orders"), davg(col("wv")).as("wins_mean"))
  }

  /** Approximate query processing via a deterministic 1/16 hash sample
    * — the AQP posture for interactive dashboards over 100 TB: answer
    * from a fixed hash-bucket sample, scale up by the sampling rate,
    * and AUDIT the error against the exact answer per group (the audit
    * is what this row gates; in production only the sample side runs,
    * ideally off a pre-materialized sample table). The sample
    * predicate is a pure function of l_orderkey through the same
    * affine+mid-square hash as events_bootstrap — reproducible across
    * engines, retries, and cluster sizes, and UNCORRELATED with the
    * key order (a `% 16` sample would inherit any generator pattern in
    * the key sequence). ORDER-keyed (not row-keyed) so all lineitems
    * of an order enter together — the join-consistent sampling unit.
    * One scan: exact and sampled aggregates fold in the same
    * conditional pass, revenue in exact cents; error readouts are
    * integral milli divisions. */
  def qAqpSample(spark: SparkSession, sfDir: String): DataFrame = {
    load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("((((l_orderkey * 2654435761 + 12345) % 1048576) * " +
          "((l_orderkey * 2654435761 + 12345) % 1048576)) div 1024) % 1048576")
          .as("h"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_exact"),
        sum(col("cents")).as("rev_exact"),
        sum(when(col("h") < 65536L, 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("h") < 65536L, col("cents")).otherwise(0L)).as("rev_sampled"))
      .select(col("l_returnflag"), col("n_exact"), col("rev_exact"),
        col("n_sampled"),
        (col("n_sampled") * 16L).as("n_est"),
        (col("rev_sampled") * 16L).as("rev_est"),
        expr("CAST(signum(16 * n_sampled - n_exact) AS BIGINT) * " +
          "((1000 * abs(16 * n_sampled - n_exact)) div n_exact)")
          .as("cnt_err_milli"),
        expr("CAST(signum(16 * rev_sampled - rev_exact) AS BIGINT) * " +
          "((1000 * abs(16 * rev_sampled - rev_exact)) div rev_exact)")
          .as("rev_err_milli"))
  }

  /** t-closeness audit — the rung ABOVE [[qKAnonymity]]'s k/l checks
    * on the privacy ladder: a QI group can be k-anonymous and
    * l-diverse yet still leak (its sensitive-value MIX can differ so
    * sharply from the corpus that membership itself is informative).
    * Per QI group (nation × $1000 balance band — the qKAnonymity
    * grid), total-variation distance between the group's mktsegment
    * distribution and the global one, ALL-INTEGER by
    * cross-multiplication: TVD·2·n·N = Σ_s |cnt_gs·N − cnt_s·n| (the
    * [[graft.queries.TextQueries]] source-drift trick), flagged
    * against t = 0.25 as an integer inequality (4·Σ > 2·2·n·N/4 →
    * 2·Σ > n·N). Scale: one (group, segment) map-side-combined fold
    * — the segment domain is 5, so the per-group pivot is bounded;
    * the global mix is a 5-row broadcast; no join touches
    * customer-scale rows after the first aggregate. */
  def qTCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val c = graft.core.QueryCaches.track(
      load(spark, sfDir, "customer").select(
        col("c_nationkey").cast("bigint").as("nation"),
        floor(col("c_acctbal") / lit(1000.0d)).cast("bigint").as("band"),
        col("c_mktsegment").as("seg")))
    val gs = graft.core.QueryCaches.track(
      c.groupBy(col("nation"), col("band"), col("seg"))
        .agg(count(lit(1)).as("c_gs")))
    val g = gs.groupBy(col("nation"), col("band")).agg(sum(col("c_gs")).as("n_g"))
    val s = gs.groupBy(col("seg").as("g_seg")).agg(sum(col("c_gs")).as("c_s"))
    val tot = s.agg(sum(col("c_s")).as("n_tot"))
    // full segment × group grid: absent segments still contribute
    // |0·N − c_s·n_g| to the TVD sum, so the join is the grid, not gs
    val grid = g.select(col("nation").as("g_nation"), col("band").as("g_band"),
        col("n_g"))
      .crossJoin(broadcast(s)).crossJoin(broadcast(tot))
      .join(gs,
        col("g_nation") === gs("nation") && col("g_band") === gs("band") &&
          col("g_seg") === gs("seg"), "left")
      .select(col("g_nation").as("nation"), col("g_band").as("band"),
        col("n_g"), col("n_tot"),
        (abs(coalesce(col("c_gs"), lit(0L)) * col("n_tot") -
          col("c_s") * col("n_g"))).as("gap"))
    grid.groupBy(col("nation"), col("band"), col("n_g"), col("n_tot"))
      .agg(sum(col("gap")).as("tvd_num"))
      .select(col("nation"), col("band"), col("n_g"), col("tvd_num"),
        expr("(1000 * tvd_num) div (2 * n_g * n_tot)").as("tvd_milli"),
        (lit(2L) * col("tvd_num") > col("n_g") * col("n_tot")).as("t_violated"))
  }

  /** Sample-based NDV estimation with the Chao1 estimator — the
    * statistics problem behind every ANALYZE at 100 TB: exact distinct
    * counting costs a full shuffle, so the planner wants NDV from the
    * same 1/16 hash sample [[qAqpSample]] reads. Naive scale-up is
    * famously biased (a sample misses exactly the rare values); Chao1
    * corrects from the sample's own abundance profile:
    * est = d + f₁·(f₁−1)/(2·(f₂+1)) where f₁/f₂ = values seen
    * once/twice — the rare tail the sample DID catch predicts the tail
    * it didn't. All-integer, audited against the exact NDV (the audit
    * is the row; production runs only the sample side). Same
    * order-keyed mid-square sample as q_aqp_sample — deterministic,
    * key-pattern-free. Scale: the sample fold groups ≤ ndv sampled
    * keys; the exact side is the one full distinct this AUDIT pays on
    * purpose. */
  def qNdvEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val o = graft.core.QueryCaches.track(
      load(spark, sfDir, "orders").select(col("o_custkey"),
        expr("((((o_orderkey * 2654435761 + 12345) % 1048576) * " +
          "((o_orderkey * 2654435761 + 12345) % 1048576)) div 1024) % 1048576")
          .as("h")))
    val sample = o.filter(col("h") < 65536L)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("d_sample"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"),
        sum(col("c")).as("n_sample"))
    val exact = o.agg(countDistinct(col("o_custkey")).as("ndv_exact"))
    sample.crossJoin(broadcast(exact))
      .select(col("n_sample"), col("d_sample"), col("f1"), col("f2"),
        col("ndv_exact"),
        expr("d_sample + (f1 * (f1 - 1)) div (2 * (f2 + 1))").as("chao1_est"))
      .withColumn("err_milli", expr(
        "CAST(signum(chao1_est - ndv_exact) AS BIGINT) * " +
          "((1000 * abs(chao1_est - ndv_exact)) div ndv_exact)"))
  }

  /** Partition-column advisor — which column should partition the
    * table? Ranked by the SIMPSON INDEX λ = Σ(cᵢ/N)², which is
    * exactly the expected fraction of rows a uniformly-row-drawn
    * equality predicate still scans after pruning (draw a random
    * row's value, its partition holds cᵢ rows): lower λ = better
    * pruning. Candidates: order month, priority, status, and a
    * 1000-key customer bucket. ONE scan: the four candidate values
    * unpivot into a tall (candidate, value) relation (4× projection,
    * no extra pass), count per value, then a per-candidate integral
    * fold — λ in micro units with DECIMAL(38,0) partials (Σcᵢ² is
    * int64-safe only to ~3e9 rows/value), beside the NDV (file-count
    * pressure — the competing axis: great pruning over a million tiny
    * partitions is a small-files problem) and the max per-mille share
    * (skew pressure). Scale: shuffle carries (candidate × values)
    * groups, never rows. */
  def qPartitionAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val tall = load(spark, sfDir, "orders")
      .select(explode(map(
        lit("month"), (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("string"),
        lit("priority"), col("o_orderpriority"),
        lit("status"), col("o_orderstatus"),
        lit("cust_bucket"), expr("CAST(o_custkey div 1000 AS STRING)")))
        .as(Seq("cand", "val")))
    val counts = tall.groupBy(col("cand"), col("val"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("cand"))
      .agg(count(lit(1)).as("ndv"), sum(col("c")).as("n_rows"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sum_c2"),
        max(col("c")).as("max_c"))
      .select(col("cand"), col("ndv"), col("n_rows"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * sum_c2) div " +
          "(CAST(n_rows AS DECIMAL(38,0)) * n_rows) AS BIGINT)")
          .as("lambda_micro"),
        expr("(1000 * max_c) div n_rows").as("max_share_milli"))
  }

  /** Conjunctive-filter evaluation-order advisor — the micro-decision
    * inside every scan with a multi-term AND: evaluate the most
    * selective predicate first and short-circuit the rest. Unlike the
    * independence-assuming textbook rule, this row costs all 6 orders
    * of 3 lineitem predicates from MEASURED selectivities INCLUDING
    * the pairwise joints (correlated predicates are exactly where the
    * independence heuristic reorders wrong): expected evaluations per
    * row for order (X,Y,Z) = 1 + P(X) + P(X∧Y), all as exact milli
    * integers from ONE scan's 7 conditional counts. The chosen order
    * is the min-cost row (ties → the listed order, a fixed total
    * order). Scale: one scan, a 1-row aggregate, a 6-element literal
    * explode — the advisor costs nothing at any table size. */
  def qFilterReorderAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = load(spark, sfDir, "lineitem")
      .select(
        when(col("l_quantity") < 10.0d, 1L).otherwise(0L).as("a"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("b"),
        when(col("l_discount") >= 0.05d, 1L).otherwise(0L).as("c"))
      .agg(count(lit(1)).as("n"),
        sum(col("a")).as("na"), sum(col("b")).as("nb"), sum(col("c")).as("nc"),
        sum(col("a") * col("b")).as("nab"),
        sum(col("a") * col("c")).as("nac"),
        sum(col("b") * col("c")).as("nbc"))
    val orders = counts.select(col("n"), explode(array(
      struct(lit("abc").as("ord"), col("na").as("n1"), col("nab").as("n12")),
      struct(lit("acb").as("ord"), col("na").as("n1"), col("nac").as("n12")),
      struct(lit("bac").as("ord"), col("nb").as("n1"), col("nab").as("n12")),
      struct(lit("bca").as("ord"), col("nb").as("n1"), col("nbc").as("n12")),
      struct(lit("cab").as("ord"), col("nc").as("n1"), col("nac").as("n12")),
      struct(lit("cba").as("ord"), col("nc").as("n1"), col("nbc").as("n12"))))
      .as("o"))
      .select(col("n"), col("o.ord").as("ord"), col("o.n1").as("n1"),
        col("o.n12").as("n12"))
      .select(col("ord"), col("n1"), col("n12"),
        (lit(1000L) + expr("(1000 * n1) div n") + expr("(1000 * n12) div n"))
          .as("evals_milli"))
    val best = orders.agg(min(col("evals_milli")).as("best_milli"))
    orders.crossJoin(broadcast(best))
      .select(col("ord"), col("n1"), col("n12"), col("evals_milli"),
        (col("evals_milli") === col("best_milli")).as("chosen"))
  }

  /** Item-item collaborative filtering over order baskets — the
    * classic "customers who bought X also bought Y" recommender
    * primitive (Linden et al. 2003, Amazon item-to-item CF), run where
    * the basket data lives: lineitem grouped by order. Co-occurrence
    * counts feed a cosine similarity cos(a,b) = n_ab/√(n_a·n_b),
    * surfaced EXACTLY as cos²·10⁶ via one integral division of int64
    * products routed through DECIMAL(38,0) (cos² orders identically to
    * cos, so top-k is unaffected and no sqrt crosses an engine
    * boundary). Each item keeps its top-3 neighbors with an n_ab ≥ 2
    * noise floor. Scale at 100 TB: the pair join is keyed l_orderkey —
    * co-partitioned, basket-bounded fan-out (≤7 items/order in
    * TPC-H-shaped data), NEVER quadratic in items; the co-occurrence
    * relation is persisted once and mirrored (union branches over an
    * unpersisted relation re-run it); item marginals join by partkey
    * (SF-scaled, no forced broadcast — AQE decides); the per-item rank
    * filters the UNCAST row_number so it plans as a partial
    * WindowGroupLimit — map tasks pre-trim to 3 before the exchange. */
  def qItemCf(spark: SparkSession, sfDir: String): DataFrame = {
    // r17 (guide §2.4 — remove shuffles outright): the co-occurrence
    // pairs previously came from distinct() + a basket SELF-JOIN on
    // l_orderkey (one exchange to dedup, one to re-key the cached
    // relation by orderkey, plus the join itself producing ~6 rows per
    // basket only to filter half away). Baskets are small (TPC-H
    // orders hold ≤ 7 lines), so collect the per-order part SET once
    // (sort_array(collect_set) — map-side partial merge, one exchange)
    // and generate each unordered pair IN-ROW (posexplode × slice over
    // the sorted array: strictly-increasing elements make a < b by
    // construction). Same (part_a, part_b, n_ab) relation — n_ab counts
    // orders containing both parts either way; nI explodes the same
    // cached baskets. Exchanges 5 → 4, the 3M-row join output never
    // exists. Measured sf0.1 (bench methodology, quiet): 3.72 → 3.03 s.
    val baskets = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("items")))
    val nI = graft.core.QueryCaches.track(
      baskets.select(explode(col("items")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i")))
    val pairs = graft.core.QueryCaches.track(
      baskets
        .select(col("items"), posexplode(col("items")).as(Seq("i", "part_a")))
        .select(col("part_a"),
          explode(expr("slice(items, i + 2, size(items))")).as("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 2L))
    val sym = pairs.unionAll(pairs.select(
      col("part_b").as("part_a"), col("part_a").as("part_b"), col("n_ab")))
    val scored = sym
      .join(nI.select(col("l_partkey").as("part_a"), col("n_i").as("n_a")),
        Seq("part_a"))
      .join(nI.select(col("l_partkey").as("part_b"), col("n_i").as("n_b")),
        Seq("part_b"))
      .withColumn("cos2_micro",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_ab) " +
          "div (n_a * n_b) AS BIGINT)"))
    scored
      .withColumn("rk0", row_number().over(Window.partitionBy(col("part_a"))
        .orderBy(col("cos2_micro").desc, col("n_ab").desc, col("part_b"))))
      .filter(col("rk0") <= 3)
      .select(col("part_a"), col("rk0").cast("bigint").as("rk"), col("part_b"),
        col("n_ab"), col("n_a"), col("n_b"), col("cos2_micro"))
  }

  /** Distributed multiple linear regression by NORMAL EQUATIONS — the
    * one-pass closed-form fit (y = b0 + b1·x1 + b2·x2 per return-flag
    * segment: extendedprice on quantity and discount) that a 100 TB
    * trainer runs as sufficient statistics, never gradient passes: all
    * nine moments fold in ONE map-side-combined aggregate (decimal
    * accumulation per [[Tables.dsum]] — exact, order-independent under
    * any parallelism), then the 2×2 centered system solves by Cramer's
    * rule in a fixed IEEE double tree spelled identically in both
    * engines (the [[graft.queries.EventQueries]] events_welch
    * contract: exact moments in, deterministic double arithmetic out —
    * doubles hash raw because every op is the same correctly-rounded
    * IEEE op in the same order). The inputs snap to their NATIVE
    * integer grids first (quantity units, discount points, price
    * cents) so the moments are INTEGER-exact through DECIMAL(38,0) —
    * a decimal(38,6) fold of the raw double squares was measured to
    * diverge by one decimal ulp between engines on tie-rounding of
    * y², which the centered-moment cancellation amplified into a
    * 1-double-ulp r² mismatch; integer moments have no rounding to
    * disagree on. R² = (b1·S1y + b2·S2y)/Syy from the same moments.
    * Group count is the return-flag domain (3), so everything after
    * the scan is negligible. */
  def qRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val m = load(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("grp"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("x1"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("x2"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("double").as("n"),
        isum(col("x1")).as("sx1"), isum(col("x2")).as("sx2"),
        isum(col("y")).as("sy"),
        isum(col("x1") * col("x1")).as("sx11"),
        isum(col("x1") * col("x2")).as("sx12"),
        isum(col("x2") * col("x2")).as("sx22"),
        isum(col("x1") * col("y")).as("sx1y"),
        isum(col("x2") * col("y")).as("sx2y"),
        isum(col("y") * col("y")).as("syy"))
    m.select(col("grp"), col("n"), col("sx1"), col("sx2"), col("sy"),
        expr("n * sx11 - sx1 * sx1").as("s11"),
        expr("n * sx12 - sx1 * sx2").as("s12"),
        expr("n * sx22 - sx2 * sx2").as("s22"),
        expr("n * sx1y - sx1 * sy").as("s1y"),
        expr("n * sx2y - sx2 * sy").as("s2y"),
        expr("n * syy - sy * sy").as("syy_c"))
      .select(col("grp"), col("n"), col("sx1"), col("sx2"), col("sy"),
        expr("(s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12)").as("b1"),
        expr("(s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12)").as("b2"),
        col("s1y"), col("s2y"), col("syy_c"))
      .select(col("grp"), col("n").cast("bigint").as("n_rows"),
        expr("(sy - b1 * sx1 - b2 * sx2) / n").as("b0"),
        col("b1"), col("b2"),
        expr("(b1 * s1y + b2 * s2y) / syy_c").as("r2"))
  }

  /** Range-predicate selectivity estimation from the equi-depth
    * histogram, AUDITED — the planner arithmetic [[qAnalyzeStats]]'
    * statistics exist to feed, proved against ground truth:
    * [[qSelectivityAudit]] checks the boundary POINTS; this row runs
    * the real estimator — each of the 8 buckets contributes its full
    * 1/8 mass when inside the predicate range and a LINEARLY
    * INTERPOLATED fraction when straddling (the uniform-within-bucket
    * assumption every histogram-based optimizer makes) — for three
    * fixed price-range predicates, beside the measured selectivity
    * from one conditional scan. ALL-INTEGER: prices snap to the cents
    * grid, each bucket contributes (125000·overlap) div width micro
    * units (zero-width buckets contribute their full mass iff their
    * point is in range), so est and error are exact in both engines.
    * Boundaries come from [[graft.ext.SkewOps.globalRank]] (two jobs,
    * NO single-partition window) while the oracle spells the global
    * row_number. Scale: one ranked pass for boundaries, one
    * conditional-sum scan for truth; the bucket×predicate grid is 24
    * rows. */
  def qRangeSelAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val v = graft.core.QueryCaches.track(
      load(spark, sfDir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x")))
    val n1 = v.agg(count(lit(1)).as("cnt"),
      min(col("x")).as("x0"), max(col("x")).as("x8"))
    val ranked = graft.ext.SkewOps.globalRank(v, Seq("x"), "rk")
    val targets = spark.range(1, 8).toDF("k")
      .crossJoin(broadcast(n1))
      .select(col("k").cast("bigint").as("b"),
        (lit(1L) + expr("(cnt - 1) * k DIV 8")).as("trk"))
    val bmid = ranked.join(broadcast(targets), col("rk") === col("trk"))
      .select(col("b"), col("x").as("bx"))
    val pts = graft.core.QueryCaches.track(bmid
      .unionAll(n1.select(lit(0L).as("b"), col("x0").as("bx")))
      .unionAll(n1.select(lit(8L).as("b"), col("x8").as("bx"))))
    val buckets = pts.as("l").join(pts.as("u"), col("u.b") === col("l.b") + 1)
      .select(col("l.bx").as("lb"), col("u.bx").as("ub"))
    val preds = spark.range(1).select(explode(expr(
      "array(named_struct('pid', 1L, 'lo', 0L, 'hi', 2000000L), " +
        "named_struct('pid', 2L, 'lo', 3000000L, 'hi', 6000000L), " +
        "named_struct('pid', 3L, 'lo', 8000000L, 'hi', 99999999999L))")).as("p"))
      .select(col("p.pid").as("pid"), col("p.lo").as("lo"), col("p.hi").as("hi"))
    val est = buckets.crossJoin(broadcast(preds))
      .select(col("pid"), col("lo"), col("hi"),
        expr("CASE WHEN ub = lb THEN " +
          "CASE WHEN lb BETWEEN lo AND hi THEN 125000L ELSE 0L END " +
          "ELSE (125000 * greatest(0L, least(hi, ub) - greatest(lo, lb))) " +
          "div (ub - lb) END").as("contrib"))
      .groupBy(col("pid"), col("lo"), col("hi"))
      .agg(sum(col("contrib")).as("est_micro"))
    val act = v.agg(count(lit(1)).as("cnt"),
        sum(when(col("x").between(0L, 2000000L), 1L).otherwise(0L)).as("a1"),
        sum(when(col("x").between(3000000L, 6000000L), 1L).otherwise(0L)).as("a2"),
        sum(when(col("x").between(8000000L, 99999999999L), 1L).otherwise(0L)).as("a3"))
      .select(explode(expr("array(named_struct('pid', 1L, 'm', a1), " +
        "named_struct('pid', 2L, 'm', a2), named_struct('pid', 3L, 'm', a3))"))
        .as("q"), col("cnt"))
      .select(col("q.pid").as("pid"),
        expr("(1000000 * q.m) div cnt").as("actual_micro"))
    est.join(broadcast(act), Seq("pid"))
      .select(col("pid"), col("lo"), col("hi"), col("est_micro"),
        col("actual_micro"),
        abs(col("est_micro") - col("actual_micro")).as("err_micro"))
  }

  /** Foreign-key cardinality profile — the fan-out statistics a
    * cost-based join planner multiplies (and the referential-integrity
    * audit run beside them): for each FK edge of the schema, the
    * parent/child row counts, exact milli fan-out, the max fan-out
    * (the skew number that decides salting), and the orphan count
    * (child keys with no parent — each is a row an inner join silently
    * drops). One map-side-combined group-count per edge plus one
    * anti-join probe; edges union into a 4-row report. 100 TB: every
    * aggregate is key-partitioned, orphan checks are semi-join-shaped
    * (the bloomPrunedSemiJoin upgrade applies when the parent side is
    * huge). */
  def qFkCardAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String): DataFrame = {
      val fan = graft.core.QueryCaches.track(
        child.groupBy(col(childKey).as("k")).agg(count(lit(1)).as("f")))
      val orphans = fan.join(
        parent.select(col(parentKey).as("k")), Seq("k"), "left_anti")
        .agg(coalesce(sum(col("f")), lit(0L)).as("n_orphans"))
      val p = parent.agg(count(lit(1)).as("n_parent"))
      fan.agg(sum(col("f")).as("n_child"), count(lit(1)).as("n_keys"),
          max(col("f")).as("max_fanout"))
        .crossJoin(broadcast(p)).crossJoin(broadcast(orphans))
        .select(lit(name).as("edge"), col("n_parent"), col("n_child"),
          col("n_keys"),
          expr("(1000 * n_child) div n_parent").as("fanout_milli"),
          col("max_fanout"), col("n_orphans"))
    }
    val li = load(spark, sfDir, "lineitem")
    edge("lineitem->orders", li, "l_orderkey",
        load(spark, sfDir, "orders"), "o_orderkey")
      .unionAll(edge("lineitem->part", li, "l_partkey",
        load(spark, sfDir, "part"), "p_partkey"))
      .unionAll(edge("orders->customer", load(spark, sfDir, "orders"),
        "o_custkey", load(spark, sfDir, "customer"), "c_custkey"))
      .unionAll(edge("supplier->nation", load(spark, sfDir, "supplier"),
        "s_nationkey", load(spark, sfDir, "nation"), "n_nationkey"))
  }

  /** Multi-column numeric profile — the ANALYZE sweep that fills a
    * catalog's per-COLUMN statistics in ONE fact pass ([[qAnalyzeStats]]
    * goes deep on one column; this goes wide): each row unpivots its
    * numeric columns onto their native integer grids (units, points,
    * cents) through a fixed literal explode, and a single (column)
    * aggregate yields count, NDV (exact — the gate needs bit-exact
    * counts; approx_count_distinct is the documented 100 TB swap),
    * min/max (zone-map inputs), the DECIMAL(38,0)-exact sum, and the
    * exact milli mean. Adding a column adds a literal, not a pass —
    * the [[GeoQueries.geoPyramid]] explode posture applied to
    * profiling. */
  def qColumnProfile(spark: SparkSession, sfDir: String): DataFrame =
    graft.ext.SkewOps.fanOut(load(spark, sfDir, "lineitem"))
      .select(explode(expr(
        "array(named_struct('c', 'quantity', 'v', CAST(round(l_quantity) AS BIGINT)), " +
          "named_struct('c', 'discount_pts', 'v', CAST(round(l_discount * 100) AS BIGINT)), " +
          "named_struct('c', 'price_cents', 'v', CAST(round(l_extendedprice * 100) AS BIGINT)))"))
        .as("p"))
      .select(col("p.c").as("column"), col("p.v").as("v"))
      .groupBy(col("column"))
      .agg(count(lit(1)).as("n"), countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(col("v").cast(DecimalType(38, 0))).cast("decimal(38,0)").as("sum_d"))
      .select(col("column"), col("n"), col("ndv"), col("min_v"), col("max_v"),
        col("sum_d").cast("bigint").as("sum_v"),
        expr("CAST((1000 * sum_d) div n AS BIGINT)").as("mean_milli"))

  val queries: Seq[QueryDef] = Seq(
    QueryDef("q_column_profile", qColumnProfile,
      """WITH g AS (SELECT c, v FROM lineitem, LATERAL (VALUES
        |    ('quantity', CAST(round(l_quantity) AS BIGINT)),
        |    ('discount_pts', CAST(round(l_discount * 100) AS BIGINT)),
        |    ('price_cents', CAST(round(l_extendedprice * 100) AS BIGINT)))
        |  AS t(c, v))
        |SELECT c AS "column", CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
        |  MIN(v) AS min_v, MAX(v) AS max_v,
        |  CAST(SUM(CAST(v AS HUGEINT)) AS BIGINT) AS sum_v,
        |  CAST((1000 * SUM(CAST(v AS HUGEINT))) // COUNT(*) AS BIGINT) AS mean_milli
        |FROM g GROUP BY 1""".stripMargin),
    QueryDef("q_range_sel_audit", qRangeSelAudit,
      """WITH v AS MATERIALIZED (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt, MIN(x) AS x0, MAX(x) AS x8 FROM v),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS rk FROM v),
        |t AS (SELECT k AS b, 1 + ((cnt - 1) * k) // 8 AS trk
        |      FROM (SELECT unnest([CAST(1 AS BIGINT), 2, 3, 4, 5, 6, 7]) AS k)
        |      CROSS JOIN n),
        |bmid AS (SELECT t.b, r.x AS bx FROM r JOIN t ON r.rk = t.trk),
        |pts AS MATERIALIZED (SELECT b, bx FROM bmid
        |  UNION ALL SELECT CAST(0 AS BIGINT), x0 FROM n
        |  UNION ALL SELECT CAST(8 AS BIGINT), x8 FROM n),
        |bk AS (SELECT l.bx AS lb, u.bx AS ub FROM pts l JOIN pts u ON u.b = l.b + 1),
        |preds AS (SELECT * FROM (VALUES
        |    (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(2000000 AS BIGINT)),
        |    (CAST(2 AS BIGINT), CAST(3000000 AS BIGINT), CAST(6000000 AS BIGINT)),
        |    (CAST(3 AS BIGINT), CAST(8000000 AS BIGINT), CAST(99999999999 AS BIGINT)))
        |  AS q(pid, lo, hi)),
        |est AS (SELECT pid, lo, hi, CAST(SUM(
        |    CASE WHEN ub = lb THEN
        |      CASE WHEN lb BETWEEN lo AND hi THEN 125000 ELSE 0 END
        |    ELSE (125000 * greatest(CAST(0 AS BIGINT),
        |      least(hi, ub) - greatest(lo, lb))) // (ub - lb) END) AS BIGINT)
        |    AS est_micro
        |  FROM bk CROSS JOIN preds GROUP BY 1, 2, 3),
        |act AS (SELECT p.pid,
        |    (1000000 * CAST(SUM(CASE WHEN v.x BETWEEN p.lo AND p.hi
        |      THEN 1 ELSE 0 END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
        |    AS actual_micro
        |  FROM v CROSS JOIN preds p GROUP BY 1)
        |SELECT e.pid, e.lo, e.hi, e.est_micro, a.actual_micro,
        |  abs(e.est_micro - a.actual_micro) AS err_micro
        |FROM est e JOIN act a USING (pid)""".stripMargin),
    QueryDef("q_fk_card_audit", qFkCardAudit, {
      def edgeSql(name: String, child: String, ck: String,
                  parent: String, pk: String): String =
        s"""SELECT '$name' AS edge, p.n_parent, f.n_child, f.n_keys,
           |  (1000 * f.n_child) // p.n_parent AS fanout_milli,
           |  f.max_fanout, o.n_orphans
           |FROM (SELECT CAST(SUM(f) AS BIGINT) AS n_child,
           |        CAST(COUNT(*) AS BIGINT) AS n_keys,
           |        CAST(MAX(f) AS BIGINT) AS max_fanout
           |      FROM (SELECT $ck AS k, CAST(COUNT(*) AS BIGINT) AS f
           |            FROM $child GROUP BY 1)) f
           |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_parent FROM $parent) p
           |CROSS JOIN (SELECT CAST(COALESCE(SUM(f), 0) AS BIGINT) AS n_orphans
           |  FROM (SELECT $ck AS k, CAST(COUNT(*) AS BIGINT) AS f
           |        FROM $child GROUP BY 1) fk
           |  WHERE NOT EXISTS (SELECT 1 FROM $parent WHERE $pk = fk.k)) o""".stripMargin
      Seq(
        edgeSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edgeSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edgeSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        edgeSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "")
    }),
    QueryDef("q_item_cf", qItemCf,
      """WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ni AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_i FROM b GROUP BY 1),
        |p AS MATERIALIZED (SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_ab
        |     FROM b a JOIN b c USING (l_orderkey)
        |     WHERE a.l_partkey < c.l_partkey
        |     GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT part_a, part_b, n_ab FROM p
        |        UNION ALL SELECT part_b, part_a, n_ab FROM p),
        |sc AS (SELECT s.part_a, s.part_b, s.n_ab,
        |         na.n_i AS n_a, nb.n_i AS n_b,
        |         CAST((CAST(1000000 AS HUGEINT) * s.n_ab * s.n_ab)
        |           // (na.n_i * nb.n_i) AS BIGINT) AS cos2_micro
        |       FROM sym s JOIN ni na ON s.part_a = na.l_partkey
        |                  JOIN ni nb ON s.part_b = nb.l_partkey)
        |SELECT part_a, rk, part_b, n_ab, n_a, n_b, cos2_micro FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY part_a
        |    ORDER BY cos2_micro DESC, n_ab DESC, part_b) AS BIGINT) AS rk
        |  FROM sc) WHERE rk <= 3""".stripMargin),
    QueryDef("q_regression", qRegression,
      """WITH g AS (SELECT l_returnflag AS grp,
        |    CAST(round(l_quantity) AS BIGINT) AS x1,
        |    CAST(round(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT grp, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x1 AS HUGEINT)) AS DOUBLE) AS sx1,
        |    CAST(SUM(CAST(x2 AS HUGEINT)) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 * x1 AS HUGEINT)) AS DOUBLE) AS sx11,
        |    CAST(SUM(CAST(x1 * x2 AS HUGEINT)) AS DOUBLE) AS sx12,
        |    CAST(SUM(CAST(x2 * x2 AS HUGEINT)) AS DOUBLE) AS sx22,
        |    CAST(SUM(CAST(x1 * y AS HUGEINT)) AS DOUBLE) AS sx1y,
        |    CAST(SUM(CAST(x2 * y AS HUGEINT)) AS DOUBLE) AS sx2y,
        |    CAST(SUM(CAST(y * y AS HUGEINT)) AS DOUBLE) AS syy
        |  FROM g GROUP BY 1),
        |c AS (SELECT grp, n, sx1, sx2, sy,
        |    n * sx11 - sx1 * sx1 AS s11, n * sx12 - sx1 * sx2 AS s12,
        |    n * sx22 - sx2 * sx2 AS s22, n * sx1y - sx1 * sy AS s1y,
        |    n * sx2y - sx2 * sy AS s2y, n * syy - sy * sy AS syy_c
        |  FROM m),
        |s AS (SELECT grp, n, sx1, sx2, sy, s1y, s2y, syy_c,
        |    (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
        |    (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2
        |  FROM c)
        |SELECT grp, CAST(n AS BIGINT) AS n_rows,
        |  (sy - b1 * sx1 - b2 * sx2) / n AS b0, b1, b2,
        |  (b1 * s1y + b2 * s2y) / syy_c AS r2
        |FROM s""".stripMargin),
    QueryDef("q_filter_reorder_advisor", qFilterReorderAdvisor,
      """WITH f AS (SELECT
        |    CASE WHEN l_quantity < 10.0 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS b,
        |    CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS c
        |  FROM lineitem),
        |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
        |    CAST(SUM(c) AS BIGINT) AS nc,
        |    CAST(SUM(a * b) AS BIGINT) AS nab,
        |    CAST(SUM(a * c) AS BIGINT) AS nac,
        |    CAST(SUM(b * c) AS BIGINT) AS nbc
        |  FROM f),
        |o AS (SELECT n, 'abc' AS ord, na AS n1, nab AS n12 FROM g
        |  UNION ALL SELECT n, 'acb', na, nac FROM g
        |  UNION ALL SELECT n, 'bac', nb, nab FROM g
        |  UNION ALL SELECT n, 'bca', nb, nbc FROM g
        |  UNION ALL SELECT n, 'cab', nc, nac FROM g
        |  UNION ALL SELECT n, 'cba', nc, nbc FROM g),
        |e AS (SELECT ord, n1, n12,
        |    1000 + (1000 * n1) // n + (1000 * n12) // n AS evals_milli
        |  FROM o),
        |best AS (SELECT MIN(evals_milli) AS best_milli FROM e)
        |SELECT ord, n1, n12, evals_milli, evals_milli = best_milli AS chosen
        |FROM e CROSS JOIN best""".stripMargin),
    QueryDef("q_ndv_estimate", qNdvEstimate,
      """WITH o AS (SELECT o_custkey,
        |    ((((o_orderkey * 2654435761 + 12345) % 1048576)
        |      * ((o_orderkey * 2654435761 + 12345) % 1048576))
        |      // 1024) % 1048576 AS h
        |  FROM orders),
        |s AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM o WHERE h < 65536 GROUP BY 1),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS d_sample,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |    CAST(SUM(c) AS BIGINT) AS n_sample
        |  FROM s),
        |e AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_exact
        |  FROM o),
        |m AS (SELECT n_sample, d_sample, f1, f2, ndv_exact,
        |    d_sample + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS chao1_est
        |  FROM f CROSS JOIN e)
        |SELECT n_sample, d_sample, f1, f2, ndv_exact, chao1_est,
        |  CAST(sign(chao1_est - ndv_exact) AS BIGINT)
        |    * ((1000 * abs(chao1_est - ndv_exact)) // ndv_exact) AS err_milli
        |FROM m""".stripMargin),
    QueryDef("q_partition_advisor", qPartitionAdvisor,
      """WITH tall AS (
        |  SELECT 'month' AS cand,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS VARCHAR) AS val
        |  FROM orders
        |  UNION ALL SELECT 'priority', o_orderpriority FROM orders
        |  UNION ALL SELECT 'status', o_orderstatus FROM orders
        |  UNION ALL SELECT 'cust_bucket', CAST(o_custkey // 1000 AS VARCHAR)
        |    FROM orders),
        |counts AS (SELECT cand, val, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tall GROUP BY 1, 2)
        |SELECT cand, CAST(COUNT(*) AS BIGINT) AS ndv,
        |  CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST((CAST(1000000 AS HUGEINT) * SUM(CAST(c AS HUGEINT) * c))
        |    // (CAST(SUM(c) AS HUGEINT) * CAST(SUM(c) AS BIGINT)) AS BIGINT)
        |    AS lambda_micro,
        |  (1000 * CAST(MAX(c) AS BIGINT)) // CAST(SUM(c) AS BIGINT)
        |    AS max_share_milli
        |FROM counts GROUP BY cand""".stripMargin),
    QueryDef("q_aqp_sample", qAqpSample,
      """WITH l AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
        |    ((((l_orderkey * 2654435761 + 12345) % 1048576)
        |      * ((l_orderkey * 2654435761 + 12345) % 1048576))
        |      // 1024) % 1048576 AS h
        |  FROM lineitem),
        |g AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS BIGINT) AS n_exact,
        |    CAST(SUM(cents) AS BIGINT) AS rev_exact,
        |    CAST(SUM(CASE WHEN h < 65536 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sampled,
        |    CAST(SUM(CASE WHEN h < 65536 THEN cents ELSE 0 END) AS BIGINT)
        |      AS rev_sampled
        |  FROM l GROUP BY l_returnflag)
        |SELECT l_returnflag, n_exact, rev_exact, n_sampled,
        |  n_sampled * 16 AS n_est,
        |  rev_sampled * 16 AS rev_est,
        |  CAST(sign(16 * n_sampled - n_exact) AS BIGINT)
        |    * ((1000 * abs(16 * n_sampled - n_exact)) // n_exact)
        |    AS cnt_err_milli,
        |  CAST(sign(16 * rev_sampled - rev_exact) AS BIGINT)
        |    * ((1000 * abs(16 * rev_sampled - rev_exact)) // rev_exact)
        |    AS rev_err_milli
        |FROM g""".stripMargin),
    QueryDef("q_t_closeness", qTCloseness,
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
        |    c_mktsegment AS seg
        |  FROM customer),
        |gs AS (SELECT nation, band, seg, CAST(COUNT(*) AS BIGINT) AS c_gs
        |  FROM c GROUP BY 1, 2, 3),
        |g AS (SELECT nation AS g_nation, band AS g_band,
        |    CAST(SUM(c_gs) AS BIGINT) AS n_g
        |  FROM gs GROUP BY 1, 2),
        |s AS (SELECT seg AS g_seg, CAST(SUM(c_gs) AS BIGINT) AS c_s
        |  FROM gs GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_s) AS BIGINT) AS n_tot FROM s),
        |grid AS (SELECT g_nation AS nation, g_band AS band, n_g, n_tot,
        |    abs(COALESCE(c_gs, 0) * n_tot - c_s * n_g) AS gap
        |  FROM g CROSS JOIN s CROSS JOIN tot
        |  LEFT JOIN gs ON g_nation = gs.nation AND g_band = gs.band
        |    AND g_seg = gs.seg),
        |f AS (SELECT nation, band, n_g, n_tot,
        |    CAST(SUM(gap) AS BIGINT) AS tvd_num
        |  FROM grid GROUP BY 1, 2, 3, 4)
        |SELECT nation, band, n_g, tvd_num,
        |  (1000 * tvd_num) // (2 * n_g * n_tot) AS tvd_milli,
        |  2 * tvd_num > n_g * n_tot AS t_violated
        |FROM f""".stripMargin),
    // per-segment row_number window ON PURPOSE — the plan the engine's
    // globalRank + offset spelling exists to avoid at scale
    QueryDef("q_winsorized", qWinsorized,
      """WITH rows_ AS (SELECT c_mktsegment AS seg, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, o_totalprice,
        |    row_number() OVER (PARTITION BY seg
        |      ORDER BY o_totalprice, o_orderkey) AS rk,
        |    COUNT(*) OVER (PARTITION BY seg) AS n
        |  FROM rows_),
        |b AS (SELECT seg, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |  FROM r
        |  WHERE rk = 1 + ((n - 1) * 5) // 100
        |     OR rk = 1 + ((n - 1) * 95) // 100
        |  GROUP BY seg)
        |SELECT r2.seg, lo, hi, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(GREATEST(LEAST(o_totalprice, hi), lo)
        |    AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS wins_mean
        |FROM rows_ r2 JOIN b ON r2.seg = b.seg
        |GROUP BY r2.seg, lo, hi""".stripMargin),
    QueryDef("q2_min_cost_supp", q2MinCostSupp,
      """WITH supply AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_cost
        |FROM supply
        |JOIN part ON l_partkey = p_partkey
        |  AND p_type = 'PROMO' AND p_size <= 15
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |WHERE unit_cost = (
        |  SELECT MIN(s2.unit_cost) FROM supply s2
        |  JOIN supplier sp2 ON s2.l_suppkey = sp2.s_suppkey
        |  JOIN nation n2 ON sp2.s_nationkey = n2.n_nationkey
        |  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    AND r2.r_name = 'EUROPE'
        |  WHERE s2.l_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
    QueryDef("q11_important_parts", q11ImportantParts,
      """WITH vals AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        |      AS val_dec
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(val_dec AS DOUBLE) AS part_value
        |FROM vals
        |WHERE CAST(val_dec AS DOUBLE) * 1000.0 >
        |  (SELECT CAST(SUM(val_dec) AS DOUBLE) FROM vals)
        |ORDER BY part_value DESC, l_partkey""".stripMargin),
    QueryDef("q12_ship_delay", q12ShipDelay,
      """SELECT
        |  CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
        |         THEN 'FAST'
        |       WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
        |         THEN 'STEADY'
        |       ELSE 'SLOW' END AS delay_class,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q16_supplier_cnt", q16SupplierCnt,
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49, 50)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    QueryDef("q20_promo_suppliers", q20PromoSuppliers,
      """SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |WHERE s_suppkey IN (
        |  SELECT b.l_suppkey FROM
        |    (SELECT l_partkey, l_suppkey,
        |       SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
        |     FROM lineitem JOIN part ON l_partkey = p_partkey
        |       AND p_name LIKE 'red %'
        |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |       AND l_shipdate < TIMESTAMP '1998-01-01'
        |     GROUP BY 1, 2) b
        |  JOIN
        |    (SELECT l_partkey AS tp_partkey,
        |       SUM(CAST(l_quantity AS DECIMAL(38,6))) AS total_dec
        |     FROM lineitem JOIN part ON l_partkey = p_partkey
        |       AND p_name LIKE 'red %'
        |     WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |       AND l_shipdate < TIMESTAMP '1998-01-01'
        |     GROUP BY 1) t ON b.l_partkey = t.tp_partkey
        |  WHERE CAST(qty_dec AS DOUBLE) * 5.0 > CAST(total_dec AS DOUBLE))
        |ORDER BY s_name""".stripMargin),
    QueryDef("q21_waiting_supp", q21WaitingSupp,
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |        WHERE l2.l_orderkey = l1.l_orderkey
        |          AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |        WHERE l3.l_orderkey = l1.l_orderkey
        |          AND l3.l_suppkey <> l1.l_suppkey
        |          AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin),
    QueryDef("q19_disjunctive", q19Disjunctive,
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey AND (
        |     (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |        AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |        AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 20 AND 30))""".stripMargin),
    // the LAZY spelling on purpose: proves the eager (pushed-below-
    // join) aggregation equivalent, decimal fold included
    QueryDef("q_eager_agg", qEagerAgg,
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin),
    // the UNREDUCED 3-way join on purpose: proves the Yannakakis
    // semi-join reduction lossless
    QueryDef("q_semijoin_reduce", qSemijoinReduce,
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        |    AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1""".stripMargin),
    QueryDef("q_exists_rewrite", qExistsRewrite,
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (
        |    SELECT 1 FROM orders o
        |    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |    WHERE o.o_custkey = c.c_custkey
        |      AND l.l_returnflag = 'R' AND l.l_extendedprice > 50000)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o2
        |    WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice > 400000)""".stripMargin),
    QueryDef("q_partition_skew", qPartitionSkew,
      """WITH a1 AS (SELECT o_custkey % 32 AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        |            FROM orders GROUP BY 1),
        |a2 AS (SELECT o_orderkey % 32 AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM orders GROUP BY 1),
        |a3 AS (SELECT date_trunc('month', o_orderdate) AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |       FROM orders GROUP BY 1),
        |s AS (
        |  SELECT 'mod_custkey' AS strategy, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    MIN(n) AS min_rows, MAX(n) AS max_rows, CAST(SUM(n) AS BIGINT) AS total_rows
        |  FROM a1
        |  UNION ALL
        |  SELECT 'mod_orderkey', CAST(COUNT(*) AS BIGINT), MIN(n), MAX(n),
        |    CAST(SUM(n) AS BIGINT) FROM a2
        |  UNION ALL
        |  SELECT 'by_month', CAST(COUNT(*) AS BIGINT), MIN(n), MAX(n),
        |    CAST(SUM(n) AS BIGINT) FROM a3)
        |SELECT strategy, n_buckets, min_rows, max_rows,
        |  total_rows // n_buckets AS avg_rows,
        |  (1000 * max_rows * n_buckets) // total_rows AS skew_milli
        |FROM s""".stripMargin),
    QueryDef("q_join_card_est", qJoinCardEst,
      s"""WITH f_o AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS f_o
        |             FROM orders GROUP BY 1),
        |f_l AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS f_l
        |        FROM lineitem GROUP BY 1),
        |u AS (SELECT key,
        |        ${foldSql("'jce|' || CAST(key AS VARCHAR) || '|graft'")} AS h
        |      FROM (SELECT key FROM f_o UNION SELECT key FROM f_l)),
        |r AS (SELECT key, h, row_number() OVER (ORDER BY h) AS rk FROM u),
        |th AS (SELECT h AS theta FROM r WHERE rk = 64),
        |s AS (SELECT CAST(SUM(COALESCE(f_o.f_o, 0) * COALESCE(f_l.f_l, 0)) AS BIGINT) AS sum_ff
        |      FROM r LEFT JOIN f_o USING (key) LEFT JOIN f_l USING (key)
        |      WHERE r.rk < 64),
        |act AS (SELECT CAST(SUM(f_o.f_o * f_l.f_l) AS BIGINT) AS actual_join_rows
        |        FROM f_o JOIN f_l USING (key)),
        |nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_union FROM u)
        |SELECT CAST(64 AS BIGINT) AS k, theta, sum_ff,
        |  CAST(CAST(63 AS HUGEINT) * 1000000007 // CAST(theta AS HUGEINT) AS BIGINT)
        |    AS est_union,
        |  actual_union,
        |  CAST(CAST(sum_ff AS HUGEINT) * 1000000007 // CAST(theta AS HUGEINT) AS BIGINT)
        |    AS est_join_rows,
        |  actual_join_rows
        |FROM s, th, act, nu""".stripMargin),
    QueryDef("q_mcv_stats", qMcvStats, {
      def mcv(table: String, cname: String): String =
        s"""SELECT '$table.$cname' AS col_name, value, n, rank,
           |  (1000 * n) // tot AS freq_milli
           |FROM (SELECT CAST($cname AS VARCHAR) AS value,
           |        CAST(COUNT(*) AS BIGINT) AS n,
           |        CAST(row_number() OVER (ORDER BY COUNT(*) DESC,
           |          CAST($cname AS VARCHAR)) AS BIGINT) AS rank
           |      FROM $table GROUP BY 1 QUALIFY rank <= 8),
           |  (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM $table)""".stripMargin
      Seq(mcv("orders", "o_orderpriority"), mcv("customer", "c_mktsegment"),
        mcv("orders", "o_orderstatus")).mkString("\nUNION ALL\n")
    }),
    QueryDef("q_join_order_advisor", qJoinOrderAdvisor, {
      def fp(salt: String): String =
        foldSql(s"'$salt|' || CAST(key AS VARCHAR) || '|graft'")
      def kmv(i: Int, salt: String, fa: String, fb: String, out: String): String =
        s"""u$i AS (SELECT key, ${fp(salt)} AS h
           |      FROM (SELECT key FROM $fa UNION SELECT key FROM $fb)),
           |r$i AS (SELECT key, h, row_number() OVER (ORDER BY h) AS rk FROM u$i),
           |t$i AS (SELECT h AS theta FROM r$i WHERE rk = 64),
           |s$i AS (SELECT CAST(SUM(COALESCE($fa.f_a, 0) * COALESCE($fb.f_b, 0)) AS BIGINT) AS sum_ff
           |      FROM r$i LEFT JOIN $fa USING (key) LEFT JOIN $fb USING (key)
           |      WHERE r$i.rk < 64),
           |e$i AS (SELECT CAST(CAST(sum_ff AS HUGEINT) * 1000000007
           |        // CAST(theta AS HUGEINT) AS BIGINT) AS $out FROM s$i, t$i)""".stripMargin
      s"""WITH fc AS (SELECT c_custkey AS key, CAST(COUNT(*) AS BIGINT) AS f_a
        |           FROM customer GROUP BY 1),
        |foc AS (SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS f_b
        |        FROM orders GROUP BY 1),
        |fok AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS f_a
        |        FROM orders GROUP BY 1),
        |fl AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS f_b
        |       FROM lineitem GROUP BY 1),
        |${kmv(1, "joa_co", "fc", "foc", "est_co")},
        |${kmv(2, "joa_ol", "fok", "fl", "est_ol")},
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders),
        |base AS (SELECT est_co, est_ol,
        |    CAST(CAST(est_ol AS HUGEINT) * est_co // n_orders AS BIGINT)
        |      AS est_three_way,
        |    least(est_co, est_ol) AS min_int
        |  FROM e1, e2, n)
        |SELECT 'customer_orders_first' AS join_order, est_co AS est_intermediate,
        |  est_three_way, est_co = min_int AS chosen FROM base
        |UNION ALL
        |SELECT 'orders_lineitem_first', est_ol, est_three_way, est_ol = min_int
        |FROM base""".stripMargin
    }),
    QueryDef("q_f2_selfjoin_est", qF2SelfjoinEst, {
      val zDefs = (0 until 24).map { j =>
        val a = 104729L + 7919L * j; val b = 7L + 13L * j
        val h = s"(((key * $a) + $b) % 1000000007)"
        s"SUM(1 - 2 * ((($h * $h) >> 40) & 1)) AS z$j"
      }.mkString(",\n        ")
      val estDefs = (0 until 3).map { g =>
        val sq = (8 * g until 8 * g + 8)
          .map(j => s"CAST(z$j AS HUGEINT) * z$j").mkString(" + ")
        s"CAST(($sq) // 8 AS BIGINT) AS est_g$g"
      }.mkString(",\n        ")
      s"""WITH r AS (SELECT l_orderkey AS key FROM lineitem),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |        $zDefs
        |      FROM r),
        |e AS (SELECT n_rows,
        |        $estDefs
        |      FROM s),
        |x AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS exact_f2
        |      FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)),
        |m AS (SELECT n_rows, est_g0, est_g1, est_g2,
        |        est_g0 + est_g1 + est_g2 - greatest(est_g0, est_g1, est_g2)
        |          - least(est_g0, est_g1, est_g2) AS est_f2,
        |        exact_f2
        |      FROM e, x)
        |SELECT n_rows, est_g0, est_g1, est_g2, est_f2, exact_f2,
        |  CAST(sign(est_f2 - exact_f2) AS BIGINT) *
        |    CAST((abs(CAST(est_f2 AS HUGEINT) - exact_f2) * 1000)
        |      // CAST(exact_f2 AS HUGEINT) AS BIGINT) AS err_permille
        |FROM m""".stripMargin
    }),
    QueryDef("q_erasure_manifest", qErasureManifest,
      """WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 50 = 0),
        |o AS (SELECT c_custkey, o_orderkey
        |      FROM orders JOIN del ON o_custkey = c_custkey),
        |no_t AS (SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |         FROM o GROUP BY 1),
        |nl_t AS (SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_lineitems
        |         FROM lineitem JOIN o ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT del.c_custkey,
        |  COALESCE(n_orders, CAST(0 AS BIGINT)) AS n_orders,
        |  COALESCE(n_lineitems, CAST(0 AS BIGINT)) AS n_lineitems,
        |  1 + COALESCE(n_orders, CAST(0 AS BIGINT)) +
        |    COALESCE(n_lineitems, CAST(0 AS BIGINT)) AS n_rows_total
        |FROM del LEFT JOIN no_t USING (c_custkey)
        |         LEFT JOIN nl_t USING (c_custkey)""".stripMargin),
    QueryDef("q_bitmap_index", qBitmapIndex,
      """WITH o AS (SELECT o_orderkey // 63 AS bucket,
        |    CAST(1 AS BIGINT) << CAST(o_orderkey % 63 AS INTEGER) AS bit,
        |    o_orderstatus, o_orderpriority FROM orders),
        |ms AS (SELECT o_orderstatus, bucket, bit_or(bit) AS m_s FROM o GROUP BY 1, 2),
        |mp AS (SELECT o_orderpriority, bucket, bit_or(bit) AS m_p FROM o GROUP BY 1, 2),
        |v AS (SELECT o_orderstatus, o_orderpriority,
        |        CAST(SUM(bit_count(m_s & m_p)) AS BIGINT) AS n_bitmap
        |      FROM ms JOIN mp USING (bucket) GROUP BY 1, 2),
        |d AS (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_direct
        |      FROM o GROUP BY 1, 2)
        |SELECT o_orderstatus, o_orderpriority, n_bitmap, n_direct,
        |       n_bitmap = n_direct AS exact
        |FROM v JOIN d USING (o_orderstatus, o_orderpriority)""".stripMargin),
    QueryDef("q_table_checksum", qTableChecksum, {
      val row = "concat_ws('|', c_custkey, c_name, c_nationkey, " +
        "CAST(c_acctbal AS DECIMAL(12,2)), c_mktsegment)"
      s"""SELECT c_custkey // 1000 AS bucket, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(${foldSql(row)} AS DECIMAL(38,0))) AS BIGINT) AS checksum
         |FROM customer GROUP BY 1""".stripMargin
    }),
    QueryDef("q_pseudonymize", qPseudonymize,
      s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_name,
        |        ${foldSql("c_name")} AS pseud
        |      FROM customer),
        |i AS (SELECT c_mktsegment AS segment,
        |        CAST(COUNT(*) AS BIGINT) AS n_customers,
        |        CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_names,
        |        CAST(COUNT(DISTINCT pseud) AS BIGINT) AS n_pseudonyms
        |      FROM c GROUP BY 1),
        |f AS (SELECT c_mktsegment AS segment,
        |        CAST(COUNT(*) AS BIGINT) AS n_orders,
        |        CAST(COUNT(DISTINCT pseud) AS BIGINT) AS n_active_pseudonyms
        |      FROM orders JOIN c ON o_custkey = c_custkey
        |      GROUP BY 1)
        |SELECT i.segment, n_customers, n_names, n_pseudonyms,
        |  n_names - n_pseudonyms AS collisions, n_orders, n_active_pseudonyms
        |FROM i JOIN f ON i.segment = f.segment""".stripMargin),
    QueryDef("q_ingest_lateness", qIngestLateness,
      """WITH e AS (SELECT o_orderkey, epoch_us(o_orderdate) AS tus FROM orders),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM e),
        |c AS (SELECT o_orderkey, tus,
        |        MAX(tus) OVER (ORDER BY o_orderkey) AS cmax
        |      FROM e),
        |l AS (SELECT (cmax - tus) // 86400000000 AS late_days
        |      FROM c WHERE cmax > tus)
        |SELECT CAST(length(bin(late_days)) - 1 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_late,
        |  MAX(late_days) AS max_late_days, n_rows,
        |  (1000000 * CAST(COUNT(*) AS BIGINT)) // n_rows AS late_ppm
        |FROM l CROSS JOIN t
        |GROUP BY 1, n_rows""".stripMargin),
    QueryDef("q_selectivity_audit", qSelectivityAudit,
      """WITH v AS (SELECT o_totalprice AS x FROM orders),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM v),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM v),
        |b AS (SELECT CAST(bq.q AS BIGINT) AS bucket, r.x AS boundary, n.cnt
        |      FROM (SELECT unnest([2, 4, 6]) AS q) bq
        |      JOIN n ON TRUE
        |      JOIN r ON r.rk = 1 + ((n.cnt - 1) * bq.q) // 8),
        |a AS (SELECT bucket, boundary, cnt, CAST(COUNT(*) AS BIGINT) AS n_le
        |      FROM v JOIN b ON v.x <= b.boundary
        |      GROUP BY 1, 2, 3)
        |SELECT bucket, boundary,
        |  (1000 * bucket) // 8 AS est_milli,
        |  (1000 * n_le) // cnt AS actual_milli,
        |  (1000 * n_le) // cnt - (1000 * bucket) // 8 AS err_milli
        |FROM a""".stripMargin),
    QueryDef("q_analyze_stats", qAnalyzeStats,
      """WITH v AS (SELECT o_totalprice AS x FROM orders),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
        |        CAST(COUNT(DISTINCT x) AS BIGINT) AS ndv,
        |        MIN(x) AS mn, MAX(x) AS mx FROM v),
        |r AS (SELECT x, row_number() OVER (ORDER BY x) AS rk FROM v),
        |b AS (SELECT CAST(bq.q AS BIGINT) AS bucket, r.x AS boundary
        |      FROM (SELECT unnest(range(1, 8)) AS q) bq
        |      JOIN n ON TRUE
        |      JOIN r ON r.rk = 1 + ((n.cnt - 1) * bq.q) // 8)
        |SELECT b.bucket, b.boundary, n.cnt, n.ndv, n.mn, n.mx FROM b, n""".stripMargin),
    QueryDef("q_k_generalize", qKGeneralize,
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b0,
        |             CAST(floor(c_acctbal / 5000.0) AS BIGINT) AS b1
        |           FROM customer),
        |g0 AS (SELECT nation, b0, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM c GROUP BY 1, 2),
        |pass0 AS (SELECT nation, CAST(0 AS BIGINT) AS level, b0 AS band, n,
        |            n >= 5 AS k_ok
        |          FROM g0 WHERE n >= 5),
        |f1 AS (SELECT c.nation, c.b1
        |       FROM c JOIN g0 ON g0.nation = c.nation AND g0.b0 = c.b0
        |       WHERE g0.n < 5),
        |g1 AS (SELECT nation, CAST(1 AS BIGINT) AS level, b1 AS band,
        |         CAST(COUNT(*) AS BIGINT) AS n, COUNT(*) >= 5 AS k_ok
        |       FROM f1 GROUP BY 1, 3)
        |SELECT * FROM pass0 UNION ALL SELECT * FROM g1""".stripMargin),
    QueryDef("q_k_anonymity", qKAnonymity,
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        |       CAST(COUNT(*) AS BIGINT) AS group_n,
        |       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div,
        |       COUNT(*) >= 5 AS k_ok,
        |       COUNT(DISTINCT c_mktsegment) >= 2 AS l_ok
        |FROM customer GROUP BY 1, 2""".stripMargin),
    QueryDef("q_binpack", qBinpack,
      """WITH f AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mth,
        |             COUNT(*) AS n_rows
        |           FROM orders GROUP BY 1),
        |c AS (SELECT mth, n_rows,
        |        COALESCE(SUM(n_rows) OVER (ORDER BY mth
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
        |      FROM f)
        |SELECT CAST(cum0 // 1000 AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_files,
        |       CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
        |       MIN(mth) AS first_mth, MAX(mth) AS last_mth
        |FROM c GROUP BY 1""".stripMargin),
    // one-level decimal sum == the query's two-level decimal aggregate
    // (exact decimal arithmetic is associative); COUNT(DISTINCT) mirrors
    // the per-order pre-agg row count under the inner join
    QueryDef("q_colocated_join", qColocatedJoin,
      """SELECT o_orderpriority, COUNT(DISTINCT l_orderkey) AS n_orders,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_drift", qDrift,
      """WITH o AS (SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS band,
        |    year(o_orderdate) = 1995 AS isa
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |bands AS (SELECT band,
        |    CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |  FROM o GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
        |    CAST(sum(cnt_b) AS BIGINT) AS n_b FROM bands),
        |wt AS (SELECT band, cnt_a, cnt_b, n_a, n_b,
        |    abs(cnt_a * n_b - cnt_b * n_a) AS diff_scaled FROM bands, tot),
        |tv AS (SELECT CAST(sum(diff_scaled) AS BIGINT) AS tvd_num FROM wt)
        |SELECT band, cnt_a, cnt_b, n_a, n_b,
        |  CAST(diff_scaled AS BIGINT) AS diff_scaled, tvd_num,
        |  10 * tvd_num > n_a * n_b AS drifted
        |FROM wt, tv""".stripMargin),
    QueryDef("q_dq_report", qDqReport,
      """WITH t AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_comp_price,
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_comp_date,
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
        |      AS BIGINT) AS v_uniq,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |        AND (o_totalprice < 0 OR o_totalprice > 400000)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |        AND o_orderstatus NOT IN ('O', 'F')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_acc
        |  FROM orders),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS v_ref FROM orders o
        |  WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |SELECT 'completeness:o_totalprice' AS check_name,
        |  v_comp_price AS violations, n AS total, v_comp_price <= 0 AS pass FROM t
        |UNION ALL SELECT 'completeness:o_orderdate', v_comp_date, n,
        |  v_comp_date <= 0 FROM t
        |UNION ALL SELECT 'unique:o_orderkey', v_uniq, n, v_uniq <= 0 FROM t
        |UNION ALL SELECT 'range:o_totalprice', v_range, n, v_range <= 0 FROM t
        |UNION ALL SELECT 'accepted:o_orderstatus', v_acc, n, v_acc <= 0 FROM t
        |UNION ALL SELECT 'ref:o_custkey->customer.c_custkey', v_ref, n,
        |  v_ref <= 0 FROM t, r""".stripMargin),
    QueryDef("q_incremental_mv", qIncrementalMv,
      """WITH o AS (SELECT o_orderstatus AS st,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month,
        |    o_orderdate AS d, CAST(o_totalprice AS DECIMAL(38,6)) AS p FROM orders),
        |b AS (SELECT st, month, SUM(p) AS ps, COUNT(*) AS pn FROM o
        |      WHERE d < TIMESTAMP '1996-01-01' GROUP BY 1, 2),
        |dl AS (SELECT st, month, SUM(p) AS ps, COUNT(*) AS pn FROM o
        |       WHERE d >= TIMESTAMP '1996-01-01' GROUP BY 1, 2),
        |mg AS (SELECT st, month, CAST(SUM(ps) AS DECIMAL(38,6)) AS ms,
        |         CAST(SUM(pn) AS BIGINT) AS n_merged
        |       FROM (SELECT * FROM b UNION ALL SELECT * FROM dl) GROUP BY 1, 2),
        |f AS (SELECT st, month, SUM(p) AS fs, COUNT(*) AS n_full FROM o GROUP BY 1, 2)
        |SELECT st, month, n_full, n_merged,
        |  CAST(fs AS DOUBLE) AS sum_full, CAST(ms AS DOUBLE) AS sum_merged
        |FROM mg JOIN f USING (st, month)""".stripMargin),
    QueryDef("q_mv_rewrite", qMvRewrite,
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY 1""".stripMargin),
    QueryDef("q_mv_rewrite_join", qMvRewriteJoin,
      """SELECT c_nationkey AS nation_key, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  MAX(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'P'
        |GROUP BY 1""".stripMargin),
    QueryDef("q_mv_advisor", qMvAdvisor,
      """WITH gs AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |         CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         COUNT(*) AS rows_in_group,
        |         CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_s,
        |         CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
        |         CAST(GROUPING(CAST(year(o_orderdate) AS BIGINT)) AS BIGINT) AS g_y
        |  FROM orders
        |  GROUP BY GROUPING SETS ((st), (pr), (st, pr), (st, yr), (pr, yr), (st, pr, yr)))
        |SELECT concat_ws('+',
        |    CASE WHEN g_s = 0 THEN 'status' END,
        |    CASE WHEN g_p = 0 THEN 'priority' END,
        |    CASE WHEN g_y = 0 THEN 'year' END) AS candidate,
        |  COUNT(*) AS n_groups,
        |  CAST(SUM(rows_in_group) AS BIGINT) AS n_rows,
        |  CAST(MAX(rows_in_group) AS BIGINT) AS max_group,
        |  CAST(SUM(rows_in_group) AS BIGINT) // COUNT(*) AS ratio,
        |  CAST(SUM(rows_in_group) AS BIGINT) // COUNT(*) >= 64 AS recommend
        |FROM gs GROUP BY g_s, g_p, g_y""".stripMargin),
    QueryDef("q_incremental_join_mv", qIncrementalJoinMv,
      """WITH o AS (SELECT o_custkey, o_orderdate AS d,
        |    CAST(o_totalprice AS DECIMAL(38,6)) AS p FROM orders),
        |j AS (SELECT c_nationkey, d, p FROM o
        |      JOIN customer ON o_custkey = c_custkey),
        |b AS (SELECT c_nationkey, SUM(p) AS ps, COUNT(*) AS pn FROM j
        |      WHERE d < TIMESTAMP '1998-01-01' GROUP BY 1),
        |dl AS (SELECT c_nationkey, SUM(p) AS ps, COUNT(*) AS pn FROM j
        |       WHERE d >= TIMESTAMP '1998-01-01' GROUP BY 1),
        |mg AS (SELECT c_nationkey, CAST(SUM(ps) AS DECIMAL(38,6)) AS ms,
        |         CAST(SUM(pn) AS BIGINT) AS n_merged
        |       FROM (SELECT * FROM b UNION ALL SELECT * FROM dl) GROUP BY 1),
        |f AS (SELECT c_nationkey, SUM(p) AS fs, COUNT(*) AS n_full FROM j GROUP BY 1)
        |SELECT c_nationkey, n_full, n_merged,
        |  CAST(fs AS DOUBLE) AS sum_full, CAST(ms AS DOUBLE) AS sum_merged
        |FROM mg JOIN f USING (c_nationkey)""".stripMargin),
    QueryDef("q_zorder", qZorder,
      s"""WITH b0 AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
        |m AS (SELECT max(pk) AS pkm, max(sk) AS skm, count(*) AS nr FROM b0),
        |b1 AS (SELECT pk, sk,
        |    CAST(pk * 65536 // (pkm + 1) AS BIGINT) AS qp,
        |    CAST(sk * 65536 // (skm + 1) AS BIGINT) AS qs,
        |    pkm, skm, nr FROM b0, m),
        |b2 AS (SELECT pk, sk, pkm, skm, nr,
        |    ${zSql("qp", "qs", 16)} AS z FROM b1),
        |b AS (SELECT pk, sk,
        |    CAST((row_number() OVER (ORDER BY pk, sk) - 1) * 256 // nr AS BIGINT) AS b_lin,
        |    CAST((row_number() OVER (ORDER BY z, pk, sk) - 1) * 256 // nr AS BIGINT) AS b_z,
        |    CAST(pkm // 4 AS BIGINT) AS p_lo, CAST(pkm // 2 AS BIGINT) AS p_hi,
        |    CAST(skm // 4 AS BIGINT) AS s_lo, CAST(skm // 2 AS BIGINT) AS s_hi
        |  FROM b2),
        |s_lin AS (SELECT b_lin AS bucket, min(pk) AS pk_min, max(pk) AS pk_max,
        |    min(sk) AS sk_min, max(sk) AS sk_max, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN pk BETWEEN p_lo AND p_hi
        |      AND sk BETWEEN s_lo AND s_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |    min(p_lo) AS p_lo, min(p_hi) AS p_hi,
        |    min(s_lo) AS s_lo, min(s_hi) AS s_hi
        |  FROM b GROUP BY 1),
        |s_z AS (SELECT b_z AS bucket, min(pk) AS pk_min, max(pk) AS pk_max,
        |    min(sk) AS sk_min, max(sk) AS sk_max, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN pk BETWEEN p_lo AND p_hi
        |      AND sk BETWEEN s_lo AND s_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |    min(p_lo) AS p_lo, min(p_hi) AS p_hi,
        |    min(s_lo) AS s_lo, min(s_hi) AS s_hi
        |  FROM b GROUP BY 1)
        |SELECT 'linear_pk' AS layout, count(*) AS buckets_total,
        |  CAST(sum(CASE WHEN pk_min <= p_hi AND pk_max >= p_lo
        |    AND sk_min <= s_hi AND sk_max >= s_lo THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
        |  CAST(sum(CASE WHEN pk_min <= p_hi AND pk_max >= p_lo
        |    AND sk_min <= s_hi AND sk_max >= s_lo THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(n_match) AS BIGINT) AS rows_matched
        |FROM s_lin
        |UNION ALL
        |SELECT 'zorder_pk_sk' AS layout, count(*) AS buckets_total,
        |  CAST(sum(CASE WHEN pk_min <= p_hi AND pk_max >= p_lo
        |    AND sk_min <= s_hi AND sk_max >= s_lo THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
        |  CAST(sum(CASE WHEN pk_min <= p_hi AND pk_max >= p_lo
        |    AND sk_min <= s_hi AND sk_max >= s_lo THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(n_match) AS BIGINT) AS rows_matched
        |FROM s_z""".stripMargin),
    QueryDef("q_trailing_30d", qTrailing30d,
      """WITH t AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ship_day,
        |  l_extendedprice * (1 - l_discount) AS rev
        |FROM lineitem WHERE l_suppkey <= 3)
        |SELECT l_suppkey, l_orderkey, l_linenumber, ship_day,
        |  CAST(SUM(CAST(rev AS DECIMAL(38,6))) OVER (PARTITION BY l_suppkey
        |    ORDER BY ship_day RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS rev_30d
        |FROM t""".stripMargin),
    QueryDef("q_grouping_sets", qGroupingSets,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),
    QueryDef("q_bloom_prune", qBloomPrune,
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY l_returnflag""".stripMargin),
    // same join over the RAW unpartitioned parquet — lossless-pruning proof
    QueryDef("q_dpp_prune", qDppPrune,
      """WITH dim AS (
        |  SELECT DISTINCT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-07-01')
        |SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS ship_month,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN dim ON year(l_shipdate) * 12 + month(l_shipdate) - 1 = dim.m
        |GROUP BY 1""".stripMargin),
    // the kernel respelled: lag-window deltas in the SAME per-bucket
    // total order, CASE zigzag (== (d<<1)^(d>>63) for |d| < 2^62),
    // varint bytes = (unpadded-binary length + 6) // 7 (bin(0)='0'
    // gives the required 1), all-integer so the engines agree exactly
    QueryDef("q_encode_cost", qEncodeCost,
      """WITH base AS (
        |  SELECT l_orderkey, l_partkey, CAST(l_linenumber AS BIGINT) AS ln
        |  FROM lineitem),
        |a AS (SELECT l_orderkey AS v,
        |        lag(l_orderkey) OVER (PARTITION BY l_orderkey // 512
        |                              ORDER BY l_orderkey, ln) AS prev
        |      FROM base),
        |b AS (SELECT l_orderkey AS v,
        |        lag(l_orderkey) OVER (PARTITION BY l_partkey // 512
        |                              ORDER BY l_partkey, l_orderkey, ln) AS prev
        |      FROM base),
        |c AS (SELECT l_partkey AS v,
        |        lag(l_partkey) OVER (PARTITION BY l_orderkey // 512
        |                             ORDER BY l_orderkey, ln, l_partkey) AS prev
        |      FROM base),
        |cost AS (
        |  SELECT 'orderkey_clustered' AS layout, COUNT(*) AS n_values,
        |         CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
        |         CAST(SUM((length(bin(CASE WHEN d >= 0 THEN 2*d ELSE -2*d-1 END)) + 6) // 7) AS BIGINT) AS encoded_bytes
        |  FROM (SELECT CASE WHEN prev IS NULL THEN v ELSE v - prev END AS d FROM a) t
        |  UNION ALL
        |  SELECT 'orderkey_scattered', COUNT(*),
        |         CAST(COUNT(*) * 8 AS BIGINT),
        |         CAST(SUM((length(bin(CASE WHEN d >= 0 THEN 2*d ELSE -2*d-1 END)) + 6) // 7) AS BIGINT)
        |  FROM (SELECT CASE WHEN prev IS NULL THEN v ELSE v - prev END AS d FROM b) t
        |  UNION ALL
        |  SELECT 'partkey_clustered', COUNT(*),
        |         CAST(COUNT(*) * 8 AS BIGINT),
        |         CAST(SUM((length(bin(CASE WHEN d >= 0 THEN 2*d ELSE -2*d-1 END)) + 6) // 7) AS BIGINT)
        |  FROM (SELECT CASE WHEN prev IS NULL THEN v ELSE v - prev END AS d FROM c) t)
        |SELECT layout, n_values, raw_bytes, encoded_bytes,
        |       CAST(encoded_bytes * 1000 // raw_bytes AS BIGINT) AS ratio_permille
        |FROM cost""".stripMargin),
    QueryDef("q_ntile", qNtile,
      """WITH r AS (SELECT c_nationkey, c_acctbal,
        |    CAST(ntile(4) OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
        |  FROM customer)
        |SELECT c_nationkey, quartile, COUNT(*) AS n,
        |  CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
        |  CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
        |FROM r GROUP BY 1, 2""".stripMargin),
    QueryDef("q_cube", qCube,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
    QueryDef("q_monthly_growth", qMonthlyGrowth,
      """WITH m AS (SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1)
        |SELECT month, n_orders, revenue,
        |  lag(revenue) OVER (ORDER BY month) AS prev_revenue,
        |  revenue - lag(revenue) OVER (ORDER BY month) AS growth
        |FROM m""".stripMargin),
    QueryDef("q_price_percentiles", qPricePercentiles,
      """WITH n_t AS (SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1),
        |r AS (SELECT o_orderstatus, o_totalprice,
        |        CAST(row_number() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rk
        |      FROM orders)
        |SELECT r.o_orderstatus, n, rk,
        |       CASE WHEN rk = (n + 3) // 4 THEN 'p25'
        |            WHEN rk = (n + 1) // 2 THEN 'p50'
        |            ELSE 'p75' END AS q,
        |       CAST(o_totalprice AS DOUBLE) AS price
        |FROM r JOIN n_t USING (o_orderstatus)
        |WHERE rk = (n + 3) // 4 OR rk = (n + 1) // 2 OR rk = (3*n + 3) // 4""".stripMargin),
    QueryDef("q_pivot", qPivot,
      """SELECT c_mktsegment,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |           THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS F_rev,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |           THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS O_rev,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |           THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS P_rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
    QueryDef("q_set_ops", qSetOps,
      """SELECT o_custkey AS c_custkey FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |  INTERSECT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')""".stripMargin),
    QueryDef("q13_order_dist", q13OrderDist,
      """SELECT c_count, COUNT(*) AS n_custs FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin),
    QueryDef("q14_promo", q14Promo,
      """SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |                     THEN l_extendedprice * (1 - l_discount)
        |                     ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
        |       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |         AS promo_share,
        |       COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin),
    QueryDef("q15_top_supplier", q15TopSupplier,
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)""".stripMargin),
    QueryDef("q17_small_qty", q17SmallQty,
      """WITH b AS (
        |  SELECT l_partkey AS b_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) * 0.2 AS qty_bound
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN b ON l_partkey = b_partkey
        |WHERE p_brand = 'Brand#4' AND l_quantity < qty_bound""".stripMargin),
    QueryDef("q18_large_orders", q18LargeOrders,
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),
    QueryDef("q22_rich_idle", q22RichIdle,
      """SELECT c_nationkey, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey""".stripMargin),
    QueryDef("q_heavy_hitters", qHeavyHitters,
      """WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
        |t AS (SELECT COUNT(*) AS total FROM orders),
        |r AS (SELECT o_custkey, n,
        |        row_number() OVER (ORDER BY n DESC, o_custkey) AS rk FROM c)
        |SELECT rk, o_custkey, n, CAST(n * 1000000 // total AS BIGINT) AS ppm
        |FROM r, t WHERE rk <= 10""".stripMargin),
    QueryDef("q_unpivot", qUnpivot,
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS month,
        |       o_orderstatus, COUNT(*) AS n
        |FROM orders GROUP BY 1, 2""".stripMargin),
    QueryDef("q_snapshot_diff", qSnapshotDiff,
      """WITH a AS (SELECT o_custkey, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
        |b AS (SELECT o_custkey, COUNT(*) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-07-01' GROUP BY 1)
        |SELECT b.o_custkey,
        |  CASE WHEN a.o_custkey IS NULL THEN 'added'
        |       WHEN a.cnt <> b.cnt THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(a.cnt, 0) AS cnt_old, b.cnt AS cnt_new,
        |  coalesce(a.rev, 0.0) AS rev_old, b.rev AS rev_new
        |FROM b LEFT JOIN a ON a.o_custkey = b.o_custkey""".stripMargin),
    QueryDef("q_skyline", qSkyline,
      """SELECT p_partkey, p_size, p_retailprice FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
        |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))""".stripMargin),
    QueryDef("q_value_bands", qValueBands,
      """SELECT band, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |JOIN (VALUES ('low', 1.0, 16.0), ('mid', 17.0, 33.0), ('high', 34.0, 50.0))
        |  AS v(band, lo, hi)
        |  ON l_quantity >= lo AND l_quantity <= hi
        |GROUP BY band""".stripMargin),
    QueryDef("q9_product_profit", q9ProductProfit,
      """SELECT n_name AS nation,
        |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |             - (0.5 * p_retailprice) * l_quantity
        |           AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget'
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("q_corr_stats", qCorrStats,
      """WITH x AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS x
        |           FROM lineitem GROUP BY 1),
        |o AS (SELECT o_orderkey,
        |        CAST(floor(o_totalprice) AS BIGINT) // 1000 AS y
        |      FROM orders),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(x * y) AS BIGINT) AS sxy,
        |        CAST(SUM(x * x) AS BIGINT) AS sxx,
        |        CAST(SUM(y * y) AS BIGINT) AS syy
        |      FROM o JOIN x ON o_orderkey = l_orderkey),
        |d AS (SELECT n,
        |        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS denx,
        |        CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS deny
        |      FROM m)
        |SELECT n AS n_orders,
        |  CAST(sign(num) AS BIGINT) AS corr_sign,
        |  CAST(((1000000 * abs(num) // denx) * abs(num)) // deny AS BIGINT) AS r2_micro
        |FROM d""".stripMargin),
    QueryDef("q_benford", qBenford,
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |             AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |           FROM orders),
        |h AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h)
        |SELECT digit, n, (1000 * n) // total AS share_milli,
        |  CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 124
        |             WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66
        |             WHEN 7 THEN 57 WHEN 8 THEN 51 ELSE 45
        |  END AS benford_milli,
        |  abs((1000 * n) // total -
        |    CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 124
        |               WHEN 4 THEN 96 WHEN 5 THEN 79 WHEN 6 THEN 66
        |               WHEN 7 THEN 57 WHEN 8 THEN 51 ELSE 45
        |    END) AS dev_milli
        |FROM h, t""".stripMargin),
    QueryDef("q8_mkt_share", q8MktShare,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_6'
        |                          THEN l_extendedprice * (1 - l_discount)
        |                          ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
        |       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |         AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
        |GROUP BY 1""".stripMargin),
    QueryDef("q7_volume", q7Volume,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name < n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin),
    QueryDef("q10_returns", q10Returns,
      """SELECT c_custkey, c_name,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    QueryDef("q6_forecast", q6Forecast,
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),
    QueryDef("q4_priority", q4Priority,
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_salted_orders", qSaltedOrders,
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),
    QueryDef("q_rollup", qRollup,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q1_pricing", q1Pricing,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q3_top_revenue", q3TopRevenue,
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    QueryDef("q5_nation_revenue", q5NationRevenue,
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin),
    QueryDef("q_brand_volume", qBrandVolume,
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),
    QueryDef("q_top_orders_per_customer", qTopOrdersPerCustomer,
      """SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders) t WHERE rank <= 3""".stripMargin),
    QueryDef("q_customers_no_orders", qCustomersNoOrders,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')""".stripMargin),
    QueryDef("q_active_suppliers", qActiveSuppliers,
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity > 49)""".stripMargin),
    QueryDef("q_status_stats", qStatusStats,
      """SELECT o_orderstatus,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    QueryDef("q_running_revenue", qRunningRevenue,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
        |    OVER (PARTITION BY l_suppkey
        |          ORDER BY l_shipdate, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
        |FROM lineitem WHERE l_suppkey <= 3""".stripMargin))
}

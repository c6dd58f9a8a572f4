package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational query inventory (SURVEY.md §2C): the SELECT
  * surface the reference delegates to SQL Server (`sql.py:88-109` hands
  * opaque T-SQL to the remote engine), re-expressed natively as
  * DataFrame programs so Catalyst plans them (pushdown, broadcast,
  * whole-stage codegen).
  *
  * Determinism contract with the DuckDB oracle:
  *  - monetary doubles are exact 2-decimal values → cast to
  *    DECIMAL(10,2) *before* aggregation so sums are exact and
  *    order-independent in both engines;
  *  - computed doubles appear only as bit-deterministic operations on
  *    identical inputs (a single cast+divide of exact decimals);
  *  - every query ends in a total-order sort led by a unique key.
  */
object Relational {
  import Types.{money, outD}

  private def li(s: SparkSession, d: String) = Sources.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Sources.orders(s, d)
  private def cust(s: SparkSession, d: String) = Sources.customer(s, d)

  /** Revenue measure: extendedprice * (1 - discount), exact decimal. */
  private def revenue: Column =
    money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))

  // ---- scan / filter --------------------------------------------------

  /** Scan + projection + the reference's cast pipeline: caller dtype
    * coercion then decimal(38,20) normalization (`sql.py:119-141`). The
    * normalized decimals stay internal; the declared output is DOUBLE
    * per the Types.outD contract (exact 2-decimal values, so the
    * conversion is the same correctly-rounded double in both engines). */
  def scanProject(s: SparkSession, d: String): DataFrame = {
    val spec = Types.CoercionSpec(
      decimalColumns = Seq("l_quantity", "l_extendedprice"))
    Sources.extract(s, d, "lineitem", spec)
      .select(col("l_orderkey"), col("l_linenumber"),
        outD(col("l_quantity")).as("qty20"),
        outD(col("l_extendedprice")).as("price20"))
      .orderBy("l_orderkey", "l_linenumber", "qty20", "price20")
  }

  def filterRange(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("2000-07-01").cast("timestamp") &&
        col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")

  /** Conditional delete as anti-filter (`sql.py:321-332`). */
  def deleteFilter(s: SparkSession, d: String): DataFrame =
    Mutations.deleteWhere(li(s, d), "l_returnflag = 'A' AND l_quantity >= 30.0")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

  // ---- joins ----------------------------------------------------------

  def joinInner(s: SparkSession, d: String): DataFrame = {
    val c = cust(s, d)
    ord(s, d).filter(col("o_orderstatus") === "F")
      .join(c, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice")
      // TOTAL order: o_orderkey alone is not unique when the fact
      // table carries replayed orders — key-tied rows with divergent
      // payloads would interleave engine-dependently
      .orderBy("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
        "o_totalprice")
  }

  /** Star join: fact ⋈ fact ⋈ dims — the 100 TB shape (lineitem/orders
    * shuffle on the key once). Only the BOUNDED dims (nation 25 rows,
    * region 5) carry an explicit broadcast hint; customer grows with the
    * warehouse, so its join strategy is left to size statistics/AQE —
    * broadcast at test scale, shuffle join when it outgrows the
    * threshold. */
  def joinMulti(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Sources.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Sources.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(outD(sum(revenue)).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")

  /** Second star rooted at lineitem's other dims (part, supplier) —
    * TPC-H Q9 shape: revenue by part brand × supplier nation. Supplier
    * is bounded-small in this schema but joined unhinted like customer;
    * nation broadcasts. */
  def joinPartSupp(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .join(Sources.part(s, d), col("l_partkey") === col("p_partkey"))
      .join(Sources.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Sources.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(outD(sum(revenue)).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("p_brand", "n_name")

  def joinLeft(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        outD(sum(money(col("o_totalprice")))).as("total"))
      .orderBy("c_custkey")

  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val big = ord(s, d).filter(col("o_totalprice") > 450000.0)
    cust(s, d).join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val pending = ord(s, d).filter(col("o_orderstatus") === "P")
    cust(s, d).join(pending, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // ---- aggregation ----------------------------------------------------

  /** TPC-H Q1 shape: partial+final hash aggregation, exact decimal sums,
    * bit-deterministic double averages (cast-then-divide). */
  def aggGroup(s: SparkSession, d: String): DataFrame = {
    val qty = money(col("l_quantity"))
    val price = money(col("l_extendedprice"))
    val charge = revenue * (lit(1) + money(col("l_tax")))
    li(s, d).groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        outD(sum(qty)).as("sum_qty"),
        outD(sum(price)).as("sum_base"),
        outD(sum(revenue)).as("sum_disc"),
        outD(sum(charge)).as("sum_charge"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(price).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  def aggDistinct(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderstatus")).as("n_status"),
        count(lit(1)).as("n_ord"))
      .orderBy("o_orderpriority")

  /** ROLLUP (r_name, n_name) — as the two non-empty grouping sets plus
    * a grand-total row DERIVED from the region-level rows (exact
    * decimal re-aggregation of a ≤|regions|-row frame, then one union).
    * Value-identical to `.rollup(...)` on any non-empty input, but also
    * correct on an EMPTY one: SQL's () grouping set yields one row over
    * zero input (DuckDB/the standard do; Spark's Expand-based rollup
    * yields none — the sf0 fuzz class caught the divergence), and the
    * derived global aggregate always produces its row. */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    val sets = ord(s, d)
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Sources.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Sources.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name"))),
        col("r_name"), col("n_name"))
      .agg(sum(money(col("o_totalprice"))).as("dec_total"),
        count(lit(1)).as("n"),
        grouping(col("r_name")).cast("int").as("g_r"),
        grouping(col("n_name")).cast("int").as("g_n"))
    val grand = sets.filter(col("g_n") === 1)
      .agg(sum(col("dec_total")).as("dec_total"),
        coalesce(sum(col("n")), lit(0L)).as("n"))
      .select(lit(null).cast("string").as("r_name"),
        lit(null).cast("string").as("n_name"), col("dec_total"),
        col("n"), lit(1).as("g_r"), lit(1).as("g_n"))
    sets.select(col("r_name"), col("n_name"), col("dec_total"),
        col("n"), col("g_r"), col("g_n"))
      .unionByName(grand)
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        outD(col("dec_total")).as("total"), col("n"), col("g_r"), col("g_n"))
      .orderBy("region_name", "nation_name", "g_r", "g_n")
  }

  // ---- windows / sort / set ops --------------------------------------

  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord(s, d)
      .withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
      .orderBy("o_custkey", "rk", "o_orderkey")
  }

  def windowRunning(s: SparkSession, d: String): DataFrame = {
    // o_totalprice in the WINDOW order: replayed orders tie on
    // (date, orderkey) with divergent payloads, and a running sum's
    // VALUES depend on tie order — with the payload in the key, any
    // remaining tie is a fully identical row (interchangeable)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord(s, d)
      .withColumn("run_total", outD(sum(money(col("o_totalprice"))).over(w)))
      .select("o_custkey", "o_orderkey", "run_total")
      .orderBy("o_custkey", "o_orderkey", "run_total")
  }

  def sortLimit(s: SparkSession, d: String): DataFrame =
    ord(s, d).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  def setOps(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    val a = o.filter(col("o_totalprice") > 430000.0).select(col("o_custkey"))
    val b = o.filter(col("o_orderpriority") === "1-URGENT" &&
      col("o_totalprice") > 350000.0).select(col("o_custkey"))
    val u = a.union(b).distinct().withColumn("op", lit("union"))
    val i = a.intersect(b).withColumn("op", lit("intersect"))
    val e = a.except(b).withColumn("op", lit("except"))
    u.unionByName(i).unionByName(e)
      .select("op", "o_custkey")
      .orderBy("op", "o_custkey")
  }

  def scalarFuncs(s: SparkSession, d: String): DataFrame =
    ord(s, d).filter(col("o_orderkey") % 97 === 0)
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey"),
        upper(col("c_name")).as("up_name"),
        substring(col("c_name"), 1, 8).as("pre8"),
        concat(col("c_mktsegment"), lit("#"), col("c_name")).as("tagged"),
        length(col("c_name")).cast("long").as("name_len"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"),
        dayofmonth(col("o_orderdate")).cast("long").as("dy"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long")
          .as("days_since"),
        outD(abs(money(col("c_acctbal")))).as("abs_bal"),
        outD(round(money(col("c_acctbal")), 1)).as("round1_bal"),
        when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos")).as("sign_bal"))
      .orderBy("o_orderkey")

  // ---- cube / unpivot / lateral --------------------------------------

  /** CUBE grouping sets (all four combinations of the two dims) — the
    * three non-empty sets plus a grand-total row derived from the
    * status-level rows, the [[aggRollup]] construction: value-identical
    * to `.cube(...)` on non-empty input, and emits the standard's one
    * () row over an empty one (which Spark's Expand-based cube drops —
    * the sf0 fuzz class). */
  def aggCube(s: SparkSession, d: String): DataFrame = {
    val sets = ord(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(money(col("o_totalprice"))).as("dec_total"),
        count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("int").as("g_s"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"))
    val grand = sets.filter(col("g_s") === 0 && col("g_p") === 1)
      .agg(sum(col("dec_total")).as("dec_total"),
        coalesce(sum(col("n")), lit(0L)).as("n"))
      .select(lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("string").as("o_orderpriority"), col("dec_total"),
        col("n"), lit(1).as("g_s"), lit(1).as("g_p"))
    sets.select(col("o_orderstatus"), col("o_orderpriority"),
        col("dec_total"), col("n"), col("g_s"), col("g_p"))
      .unionByName(grand)
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        outD(col("dec_total")).as("total"), col("n"), col("g_s"), col("g_p"))
      .orderBy("status", "priority", "g_s", "g_p")
  }

  /** GROUPING SETS — the general form rollup/cube specialize: exactly
    * the declared grouping combinations, here (status, priority) +
    * (status) + (priority), no grand total. One Expand over the scan
    * (same physical shape as rollup/cube), grouping() flags
    * disambiguate NULL-as-ALL from genuine NULLs. */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")),
          Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(outD(sum(money(col("o_totalprice")))).as("total"),
        count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).cast("int").as("g_s"),
        grouping(col("o_orderpriority")).cast("int").as("g_p"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total"), col("n"), col("g_s"), col("g_p"))
      .orderBy("status", "priority", "g_s", "g_p")

  /** Two-level salted aggregation — the skew-mitigation pattern spelled
    * out as a declared, oracle-checked query: stage 1 aggregates on
    * (group keys, salt = l_orderkey mod 16) so one hot group spreads
    * over 16 reducers; stage 2 merges the ≤ 16 partials per group.
    * Results are EXACTLY the unsalted aggregate (exact decimal partial
    * sums re-sum associatively; counts add) — which is what the oracle
    * asserts, running the plain GROUP BY. `n_salts` surfaces the
    * fan-out so a test can prove the salt actually spread the rows.
    *
    * At 100 TB this is what `Layout.saltedJoin` does for joins, applied
    * to aggregation: the first shuffle's partition count per group goes
    * from 1 to 16, trading a second (tiny) shuffle of 16×|groups| rows
    * for the hot-key ceiling. AQE's skew handling covers sort-merge
    * JOINS only — a skewed aggregation key still needs the explicit
    * salt. */
  def saltedAgg(s: SparkSession, d: String): DataFrame = {
    val qty = money(col("l_quantity"))
    val partial = li(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("salt"))
      .agg(sum(qty).as("pq"), sum(revenue).as("pr"),
        count(lit(1)).as("pn"))
    partial.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(outD(sum(col("pq"))).as("sum_qty"),
        outD(sum(col("pr"))).as("sum_disc"),
        sum(col("pn")).as("n_rows"),
        countDistinct(col("salt")).as("n_salts"))
      .orderBy("l_returnflag", "l_linestatus", "sum_qty", "sum_disc",
        "n_rows", "n_salts")
  }

  /** UNPIVOT/melt: wide measures → long (measure, value) rows. */
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    li(s, d).filter(col("l_orderkey") % 499 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      // align with the oracle's NULL semantics: DuckDB's UNPIVOT
      // excludes NULL measures by default while Dataset.unpivot keeps
      // them — latent divergence if a measure column ever carries NULLs
      // (the current fixtures are non-null, so values are unchanged)
      .filter(col("value").isNotNull)
      // (l_orderkey, l_linenumber) is not unique in the synthetic data —
      // value joins the sort to make it total
      .orderBy("l_orderkey", "l_linenumber", "measure", "value")

  /** Correlated LATERAL subquery (top-2 orders per customer) through the
    * SQL entry. */
  def lateralTop(s: SparkSession, d: String): DataFrame = {
    cust(s, d).createOrReplaceTempView("v_customer2")
    ord(s, d).createOrReplaceTempView("v_orders2")
    s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
            |FROM v_customer2 c JOIN LATERAL (
            |  SELECT o_orderkey, o_totalprice FROM v_orders2 o
            |  WHERE o.o_custkey = c.c_custkey
            |  -- explicit NULLS LAST: the subquery plan is out of reach
            |  -- of Registry0.portableOrder's rewrite (nested in a
            |  -- LateralSubquery expression), so align with DuckDB here
            |  ORDER BY o_totalprice DESC, o_orderkey NULLS LAST LIMIT 2) t
            |WHERE c.c_custkey % 25 = 0
            |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  /** Regex capture-group extraction (vs. the JSON-path route). */
  def regexExtract(s: SparkSession, d: String): DataFrame =
    Sources.events(s, d)
      .withColumn("k", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1)
        .cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  // ---- statistics ----------------------------------------------------

  /** Mean/stddev/correlation made cross-engine-deterministic: moments are
    * accumulated as EXACT decimal sums of integer cents (order-free),
    * then combined with one identical double expression tree — the only
    * doubles are deterministic functions of exact sums. (Plain
    * `stddev`/`corr` stream doubles and differ across engines in the
    * last ulps.) */
  def statsMoments(s: SparkSession, d: String): DataFrame = {
    val qc = (money(col("l_quantity")) * lit(100)).cast("decimal(18,0)")
    val pc = (money(col("l_extendedprice")) * lit(100)).cast("decimal(18,0)")
    li(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(qc).as("sq"), sum(qc * qc).as("sqq"),
        sum(pc).as("sp"), sum(pc * pc).as("spp"),
        sum(qc * pc).as("spq"))
      .select(
        col("l_returnflag"), col("n"),
        (col("sq").cast("double") / col("n") / 100.0).as("mean_qty"),
        (sqrt((col("sqq").cast("double") -
          col("sq").cast("double") * col("sq").cast("double") / col("n"))
          / (col("n") - 1)) / 100.0).as("stddev_qty"),
        ((col("spq").cast("double") -
          col("sp").cast("double") * col("sq").cast("double") / col("n")) /
          sqrt((col("sqq").cast("double") -
            col("sq").cast("double") * col("sq").cast("double") / col("n")) *
            (col("spp").cast("double") -
              col("sp").cast("double") * col("sp").cast("double") / col("n"))))
          .as("corr_qp"))
      .orderBy("l_returnflag")
  }

  /** Fixed-width histogram binning. */
  def histogram(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      // bin the VALIDATED money domain, not the raw double: money()
      // quarantines NaN/±Inf/out-of-range to NULL (one NULL "hostile"
      // bucket) where raw-double floor would saturate NaN to bin 0 and
      // ±Inf to ±Long.Max — silently corrupting real bins. Decimal→
      // double is exact for in-range prices, so clean-data bins are
      // unchanged.
      .withColumn("bin",
        floor(outD(money(col("o_totalprice"))) / 50000.0).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        outD(sum(money(col("o_totalprice")))).as("total"))
      .orderBy("bin")

  /** Exact interpolated percentiles (median / p90) over the VALIDATED
    * money domain: money() quarantines hostile payloads to NULL, which
    * both engines' percentile/quantile_cont exclude — a NaN/Inf in raw
    * doubles would otherwise shift the interpolation engine-specifically
    * (NaN ordering and Inf arithmetic differ). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(col("o_orderpriority"))
      .agg(
        round(percentile(outD(money(col("o_totalprice"))), lit(0.5)), 4)
          .as("med"),
        round(percentile(outD(money(col("o_totalprice"))), lit(0.9)), 4)
          .as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  // ---- window-function breadth / dates / nulls / SQL entry -----------

  /** Time-RANGE window frame — the trailing-30-day running aggregate
    * per customer (`RANGE BETWEEN 30 PRECEDING AND CURRENT ROW` over
    * epoch days), the value-based frame ROWS frames cannot express:
    * the frame holds every order within the DATE distance, however
    * many rows tie. Epoch-day integers (not raw timestamps) are the
    * frame key on both engines, so the range arithmetic is exact and
    * tie order is irrelevant (a value-range frame is a set, not a
    * position span). One shuffle on the partition key, sort within. */
  def windowRange(s: SparkSession, d: String): DataFrame = {
    val base = Sources.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        money(col("o_totalprice")).as("p"))
      .withColumn("dd",
        datediff(col("o_orderdate"), to_date(lit("1990-01-01"))).cast("long"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("dd"))
      .rangeBetween(-30, Window.currentRow)
    base
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("sum30", outD(sum(col("p")).over(w)))
      .select("o_orderkey", "o_custkey", "o_orderdate", "n_30d", "sum30")
      .orderBy("o_orderkey", "o_custkey", "o_orderdate", "n_30d", "sum30")
  }

  /** Per-priority 2-D skyline (Pareto frontier) of orders minimizing
    * (price, order date): an order is ON the frontier iff no other
    * order of the same priority is ≤ on both axes and < on at least
    * one — "the cheapest orders for every recency budget". The classic
    * single-pass formulation: sort by price within the priority, then
    * one value-RANGE running-min of the date over STRICTLY cheaper
    * rows (`RANGE … 1 PRECEDING` excludes price ties, which by
    * definition don't strictly dominate on price) plus a same-price
    * date minimum; a row survives iff every strictly-cheaper row is
    * strictly later AND no same-price row is earlier. Exact-tie rows
    * (both axes equal) are mutually non-dominating and all kept.
    *
    * Scale: both windows share one (priority)-partitioned sort of an
    * (orderkey, cents, days) projection — per-group sorted shuffle
    * partitions, nothing global; output is frontier-sized. Price in
    * exact cents, date in epoch days — all-integer comparisons. */
  def skyline(s: SparkSession, d: String): DataFrame = {
    val base = Sources.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (money(col("o_totalprice")) * 100).cast("long").as("p_cents"),
        datediff(col("o_orderdate"), to_date(lit("1990-01-01")))
          .cast("long").as("dd"))
    val cheaper = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("p_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val samePrice = Window.partitionBy(col("o_orderpriority"), col("p_cents"))
    base
      .withColumn("min_dd_cheaper", min(col("dd")).over(cheaper))
      .withColumn("min_dd_same", min(col("dd")).over(samePrice))
      .filter((col("min_dd_cheaper").isNull ||
        col("min_dd_cheaper") > col("dd")) &&
        col("dd") === col("min_dd_same"))
      .select("o_orderpriority", "o_orderkey", "p_cents", "dd")
      .orderBy("o_orderpriority", "p_cents", "dd", "o_orderkey")
  }

  /** Fuzzy record linkage over part names — the entity-resolution join
    * every ETL engine grows: pair names whose edit distance is ≤ 2,
    * without the O(N²) cross join. Two scale levers, both load-bearing
    * at 100 TB:
    *  1. match the DISTINCT-value dictionary, not rows — a groupBy
    *     collapses the corpus to its name vocabulary (64 values here;
    *     bounded by catalog size, not data size) and carries row
    *     counts along, so the quadratic step never sees row volume;
    *  2. block on a cheap equi-key (the head noun) so the pair space
    *     is per-block B², shuffled as an ordinary equi-join — the
    *     standard blocking discipline from the record-linkage
    *     literature. Skewed blocks fall to AQE / Layout.saltedJoin.
    * levenshtein() is unit-cost edit distance in both engines. */
  def fuzzyMatch(s: SparkSession, d: String): DataFrame = {
    val names = Sources.part(s, d)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_rows"))
      .withColumn("noun", split(col("p_name"), " ").getItem(1))
    val a = names.select(col("noun"), col("p_name").as("name_a"),
      col("n_rows").as("n_a"))
    val b = names.select(col("noun"), col("p_name").as("name_b"),
      col("n_rows").as("n_b"))
    a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 2)
      .select("name_a", "name_b", "dist", "n_a", "n_b")
      .orderBy("name_a", "name_b", "dist", "n_a", "n_b")
  }

  /** lead/lag/first/last/ntile/percent_rank/cume_dist in one pass. */
  def windowFuncs(s: SparkSession, d: String): DataFrame = {
    // o_totalprice in the window order (see windowRunning): lag/lead/
    // first/last VALUES are tie-order-dependent when replayed orders
    // tie on (date, orderkey) with divergent payloads
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ord(s, d).filter(col("o_custkey") % 50 === 0)
      .select(col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("o_custkey", "o_orderkey", "prev_price", "next_price",
        "quartile", "pr", "cd")
  }

  def dateFuncs(s: SparkSession, d: String): DataFrame =
    ord(s, d).filter(col("o_orderkey") % 101 === 0)
      .select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        add_months(col("o_orderdate"), 3).as("plus3"),
        last_day(col("o_orderdate")).as("month_end"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        (weekday(col("o_orderdate")) + 1).cast("long").as("isodow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"))
      .orderBy("o_orderkey")

  /** NULL semantics: nullif/coalesce/ifnull interacting with aggregates
    * (aggregates skip nulls in both engines). */
  def nullHandling(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(col("o_orderpriority"))
      .agg(
        count(nullif(col("o_orderstatus"), lit("P"))).as("n_nonp"),
        min(nullif(col("o_orderstatus"), lit("P"))).as("min_nonp"),
        outD(sum(when(col("o_orderstatus") === "P", lit(null))
          .otherwise(money(col("o_totalprice"))))).as("sum_nonp"),
        coalesce(min(when(col("o_orderstatus") === "X", col("o_orderstatus"))),
          lit("none")).as("fallback"))
      .orderBy("o_orderpriority")

  /** Correlated EXISTS through the SQL entry point (`spark.sql` over
    * registered views — the `get_data` arbitrary-SQL path). */
  def existsSql(s: SparkSession, d: String): DataFrame = {
    cust(s, d).createOrReplaceTempView("v_customer")
    ord(s, d).createOrReplaceTempView("v_orders")
    s.sql("""SELECT c_custkey, c_name FROM v_customer c
            |WHERE EXISTS (SELECT 1 FROM v_orders o
            |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 470000.0)
            |ORDER BY c_custkey""".stripMargin)
  }

  // ---- pivot / string-agg / sampling / sketches ----------------------

  /** PIVOT (part of the delegated T-SQL surface): order counts by status
    * per priority. */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")

  /** Ordered string aggregation (LISTAGG/STRING_AGG surface) — sorted for
    * determinism. */
  def aggStrings(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy(col("o_orderpriority"))
      .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
        .as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_status"))
      .orderBy("o_orderpriority")

  /** Deterministic hash sampling (reproducible splits for training
    * pipelines): keep rows whose portable key-hash lands under 5%. */
  def sampleHash(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(PortableHash.h28(
        concat_ws("_", col("l_orderkey"), col("l_linenumber"))) % 100 < 5)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  /** HLL sketch next to the exact answer. Library function only — NOT a
    * declared query: sketch internals are engine-specific, so there is no
    * SQL-expressible oracle (SURVEY §2D keeps approx functions out of the
    * exact-hash inventory). Covered by EdgeCasesSpec (sketch within 5% of
    * the exact count). */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")

  // ---- merge / upsert (the reference's distinctive mutations) --------

  /** Target table for the mutation queries: customer with an exact
    * decimal balance (the reference mutates MSSQL tables whose money
    * columns are decimal already). */
  private def mutTarget(s: SparkSession, d: String): DataFrame =
    cust(s, d).select(col("c_custkey"), col("c_name"),
      money(col("c_acctbal")).as("c_acctbal"), col("c_mktsegment"))

  private def mutUpdates(s: SparkSession, d: String): DataFrame =
    mutTarget(s, d).filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        concat(lit("UPD_"), col("c_name")).as("c_name"),
        (col("c_acctbal") + money(lit(100.0))).as("c_acctbal"))

  /** Merge semantics of `update_data`/`update_from_table`
    * (`sql.py:191-249,253-289`): one join + coalesce projection. */
  def updateJoin(s: SparkSession, d: String): DataFrame =
    Mutations.applyUpdates(mutTarget(s, d), mutUpdates(s, d), Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        outD(col("c_acctbal")).as("bal6"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Keyed upsert: merge + insert-of-unmatched; post-image keyset is the
    * union of target and updates keys. New keys are offset by
    * max(c_custkey) — scale-proof where a fixed +100000 collides with
    * real custkeys once the warehouse passes 100k customers (and the
    * colliding rows' merge result diverges from the oracle). The max is
    * a broadcast scalar, mirrored by the oracle's `mx` CTE. */
  def upsertKeys(s: SparkSession, d: String): DataFrame = {
    val t = mutTarget(s, d)
    // max+1: custkey 0 passes the %13 filter, so a plain max offset
    // would collide the first new key with the max customer
    val mx = t.agg((max(col("c_custkey")) + 1L).as("mx"))
    val mods = t.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        concat(lit("UPD_"), col("c_name")).as("c_name"),
        (col("c_acctbal") + money(lit(100.0))).as("c_acctbal"),
        col("c_mktsegment"))
    val news = t.filter(col("c_custkey") % 13 === 0)
      .crossJoin(broadcast(mx))
      .select((col("c_custkey") + col("mx")).as("c_custkey"),
        concat(lit("NEW_"), col("c_name")).as("c_name"),
        money(lit(0.0)).as("c_acctbal"),
        lit("NEWSEG").as("c_mktsegment"))
    Mutations.upsert(t, mods.unionByName(news), Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        outD(col("c_acctbal")).as("bal6"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Data-quality audit over the orders fact — the expectation battery
    * an ETL pipeline (the reference's domain) runs on every load before
    * publishing: row count, per-column null counts, key uniqueness
    * (dup count via count − distinct), domain cardinality, range
    * violations, and referential integrity against the customer dim.
    * Long format `(check, value)`, all exact BIGINTs.
    *
    * Scale: the whole metric battery is ONE aggregate pass over the
    * fact scan (the two countDistincts ride a single fused Expand, the
    * q_dataset_card discipline); the FK check is one anti-join against
    * the dim (broadcast when small — at 100 TB these are the only two
    * jobs however many expectations are declared). Exact distincts are
    * oracle-parity; production swaps in approx_count_distinct (the
    * library's HLL sketch) above memory budget. */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    val o = Sources.orders(s, d)
    val c = cust(s, d)
    def nulls(cn: String) = sum(when(col(cn).isNull, 1L).otherwise(0L))
    val battery = o.agg(
      count(lit(1)).as("n_rows"),
      nulls("o_custkey").as("null_custkey"),
      nulls("o_orderdate").as("null_orderdate"),
      countDistinct(col("o_orderkey")).as("dist_orderkey"),
      countDistinct(col("o_orderstatus")).as("dist_status"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))
        .as("nonpos_price"),
      sum(when(col("o_orderdate") < to_timestamp(lit("1990-01-01")), 1L)
        .otherwise(0L)).as("date_below_floor"))
    // a NULL key is not an orphan (it's already counted by null_custkey)
    // — without the filter the anti-join's null-never-matches rule
    // would double-report every null key as a missing parent
    val orphans = o.filter(col("o_custkey").isNotNull)
      .join(c, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("fk_orphans_custkey").as("check"), col("v").as("value"))
    battery
      .select(explode(map(
        lit("n_rows"), col("n_rows"),
        lit("null_custkey"), col("null_custkey"),
        lit("null_orderdate"), col("null_orderdate"),
        lit("dup_orderkey"), col("n_rows") - col("dist_orderkey"),
        lit("distinct_status"), col("dist_status"),
        lit("nonpos_price"), col("nonpos_price"),
        lit("date_below_floor"), col("date_below_floor")))
        .as(Seq("check", "value")))
      .unionByName(orphans)
      .orderBy("check", "value")
  }

  /** Incremental aggregation ([[Mutations.mergeAggStates]]): the
    * running orders-by-(priority, status) aggregate table is maintained
    * from per-period partial aggregates — here the pre-2000 state plus
    * three yearly delta partials, merged WITHOUT rescanning history.
    * The oracle is the full recompute over all of orders: incremental
    * maintenance must be indistinguishable from recomputation (the
    * algebraic-mergeability law). avg is derived sum/count at read
    * time — a stored average would not merge.
    *
    * The maintained table is defined over DATED orders: a row with a
    * null period date belongs to no maintenance period (every range
    * partial is never-true on null), so the recompute oracle excludes
    * them explicitly too — the law is stated over assignable rows. */
  def incrAgg(s: SparkSession, d: String): DataFrame = {
    // half-open period bounds; the first/last periods are UNBOUNDED
    // below/above so every dated order belongs to exactly one period —
    // a closed overall range would silently drop out-of-range dates
    // from the incremental side only (the null-date gap's twin)
    def partial(lo: Option[String], hi: Option[String]): DataFrame =
      Sources.orders(s, d)
        .filter(lo.map(l => col("o_orderdate") >= to_timestamp(lit(l)))
          .getOrElse(col("o_orderdate").isNotNull) &&
          hi.map(h => col("o_orderdate") < to_timestamp(lit(h)))
            .getOrElse(col("o_orderdate").isNotNull))
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).as("sum_price"),
          min(col("o_orderdate")).as("first_od"),
          max(col("o_orderdate")).as("last_od"))
    val states = Seq(
      partial(None, Some("2000-01-01")),    // accumulated state, open below
      partial(Some("2000-01-01"), Some("2001-01-01")), // yearly deltas
      partial(Some("2001-01-01"), Some("2002-01-01")),
      partial(Some("2002-01-01"), None))    // current period, open above
    Mutations.mergeAggStates(states,
        keys = Seq("o_orderpriority", "o_orderstatus"),
        sums = Seq("n", "sum_price"),
        mins = Seq("first_od"), maxs = Seq("last_od"))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("n"),
        outD(col("sum_price")).as("sp6"),
        (outD(col("sum_price")) / col("n")).as("avg6"),
        col("first_od"), col("last_od"))
      .orderBy("o_orderpriority", "o_orderstatus", "n", "sp6", "avg6",
        "first_od", "last_od")
  }

  /** SCD Type-2 merge over the customer dimension
    * ([[Mutations.scd2Merge]]): a versioned dim (every customer current
    * since 1995-01-01; every 11th key also carries a closed 1994
    * history row) absorbs a change batch — every 5th key re-delivered,
    * of which the 10th-key half is attribute-identical (must NOT
    * version: idempotency), the rest move segment and balance (close +
    * reopen at the effective date); every 13th key arrives as a brand-
    * new entity (open insert). The whole merge is the single
    * current-slice×batch join of [[Mutations.scd2Merge]]; history rows
    * never shuffle. */
  def scd2Merge(s: SparkSession, d: String): DataFrame = {
    val t = mutTarget(s, d)
    val vf0 = to_date(lit("1995-01-01"))
    val dim = t
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"), vf0.as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
      .unionByName(t.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_name"),
          money(col("c_acctbal") - money(lit(10.0))).as("c_acctbal"),
          lit("OLDSEG").as("c_mktsegment"),
          to_date(lit("1994-01-01")).as("valid_from"),
          vf0.as("valid_to"), lit(false).as("is_current")))
    val mx = t.agg((max(col("c_custkey")) + 1L).as("mx"))
    val redelivered = t.filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"), col("c_name"),
        money(when(col("c_custkey") % 10 === 0, col("c_acctbal"))
          .otherwise(col("c_acctbal") + money(lit(25.0)))).as("c_acctbal"),
        when(col("c_custkey") % 10 === 0, col("c_mktsegment"))
          .otherwise(concat(lit("SCD_"), col("c_mktsegment")))
          .as("c_mktsegment"))
    val arrivals = t.filter(col("c_custkey") % 13 === 0)
      .crossJoin(broadcast(mx))
      .select((col("c_custkey") + col("mx")).as("c_custkey"),
        concat(lit("NEW_"), col("c_name")).as("c_name"),
        money(lit(0.0)).as("c_acctbal"), lit("NEWSEG").as("c_mktsegment"))
    Mutations.scd2Merge(dim, redelivered.unionByName(arrivals),
        Seq("c_custkey"), to_date(lit("1996-06-01")))
      .select(col("c_custkey"), col("c_name"),
        outD(col("c_acctbal")).as("bal6"), col("c_mktsegment"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("c_custkey", "c_name", "bal6", "c_mktsegment",
        "valid_from", "valid_to", "is_current")
  }

  /** RFM quadrant thresholds (days since last order / lifetime order
    * count) — chosen at the observed sf0.01 medians (169 days, 10
    * orders) so every quadrant is populated. */
  val RfmRecentDays = 120L
  val RfmFrequentOrders = 12L

  /** RFM customer segmentation: recency (days since the fact table's
    * latest order date), frequency, monetary per customer, rolled up to
    * quadrant segments against fixed thresholds ([[RfmRecentDays]],
    * [[RfmFrequentOrders]]).
    *
    * Determinism: recency is integer epoch-day arithmetic against a
    * broadcast global max; monetary is an exact decimal sum (order-free)
    * cast to double only at the output boundary. Fixed thresholds, not
    * ntile — quantile cuts would hand tied customers engine-dependent
    * segments.
    *
    * Scale: one customer-keyed aggregate (map-side partial) over the
    * fact table, a broadcast single-row max join, and a 4-row rollup —
    * nothing grows with orders except the first agg's key space. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("1990-01-01")))
          .cast("long").as("dd"),
        money(col("o_totalprice")).as("price"))
    val mx = o.agg(max(col("dd")).as("max_dd"))
    val per = o.groupBy(col("o_custkey"))
      .agg(max(col("dd")).as("last_dd"), count(lit(1)).as("f"),
        sum(col("price")).as("m"))
      .crossJoin(broadcast(mx))
      .withColumn("r_days", col("max_dd") - col("last_dd"))
    per
      .withColumn("segment",
        when(col("r_days") <= RfmRecentDays &&
          col("f") >= RfmFrequentOrders, "champion")
          .when(col("r_days") <= RfmRecentDays, "recent_casual")
          .when(col("f") >= RfmFrequentOrders, "loyal_lapsed")
          .otherwise("dormant"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cust"), sum(col("f")).as("n_orders"),
        outD(sum(col("m"))).as("revenue"),
        min(col("r_days")).as("min_r_days"),
        max(col("r_days")).as("max_r_days"))
      .orderBy("segment")
  }

  /** Market-basket co-occurrence: part pairs ordered together, top 40
    * by support. One orderkey-keyed aggregate collects each order's
    * DISTINCT part set (collect_set is map-side-partial, so the shuffle
    * carries per-order sets, not lineitems), then the C(k,2) pairs are
    * generated IN-ARRAY from the sorted set — with the lines-per-order
    * cap at ~7 that is ≤ 21 pairs/order — and a pair-keyed count
    * finishes. Two thin shuffles; the naive distinct → self-join → agg
    * formulation shuffles the (order, part) table three times and
    * benched ~2× slower at sf0.1. Top-k rides a total (n_orders DESC,
    * p1, p2) order on the unique pair key, so the limit is
    * deterministic (sort_array makes p1 < p2 by construction). */
  /** Top-40 co-occurring part pairs with support counts — the shared
    * C(k,2) in-array pair head of [[basketPairs]] and [[basketRules]]:
    * per-order sorted DISTINCT part sets expand to ordered (p1 < p2)
    * pairs inside the array (collect_set drops null parts; the
    * explicit order-key filter pins one portable null semantics where
    * a SQL self-join would silently drop the null basket and a groupBy
    * would keep it). Any future change to the expansion (e.g. a basket
    * cap) lands in both queries at once. [[Stages]]-materialized so the
    * two consumers expand the C(k,2) fan-out once per warehouse, not
    * once per query. */
  private def basketPairHead(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "basket_head", d) {
      li(s, d)
        .filter(col("l_orderkey").isNotNull)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(flatten(expr(
          "transform(parts, (x, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), " +
            "y -> struct(x AS p1, y AS p2)))"))).as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("n_ab"))
        .orderBy(col("n_ab").desc, col("p1"), col("p2"))
        .limit(40)
    }

  def basketPairs(s: SparkSession, d: String): DataFrame =
    basketPairHead(s, d)
      .select(col("p1"), col("p2"), col("n_ab").as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))

  /** Inter-order gap histogram: days between a customer's consecutive
    * orders, bucketed by week — the re-purchase-cadence distribution.
    * All integer (epoch days, floor-divided buckets). The lag window
    * orders by (dd, o_orderkey) over a projection that carries nothing
    * else, so any tied rows are identical and the gap multiset is
    * order-independent. One customer-keyed window pass, then a
    * bucket-keyed aggregate whose key space is the gap range in weeks. */
  def reorderGaps(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), to_date(lit("1990-01-01")))
          .cast("long").as("dd"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("dd"), col("o_orderkey"))
    o.withColumn("prev_dd", lag(col("dd"), 1).over(w))
      .filter(col("prev_dd").isNotNull)
      .withColumn("gap_w", expr("(dd - prev_dd) DIV 7"))
      .groupBy(col("gap_w"))
      .agg(count(lit(1)).as("n_gaps"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy("gap_w")
  }

  /** Shipping-priority revenue (the TPC-H Q3 shape): revenue still in
    * flight at the cutoff — orders placed before it with line items
    * shipped on/after it — top 20 orders by open revenue.
    *
    * Revenue is an exact decimal sum (order-free) cast to double at the
    * boundary, so the DESC sort compares identical doubles in both
    * engines and the unique order key breaks any revenue tie — the
    * limit is deterministic. The join is orderkey-equi (co-partitioned
    * shuffle or broadcast under AQE); both date filters push to the
    * parquet scans; top-k rides TakeOrderedAndProject, never a global
    * sort. */
  def shipPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val o = ord(s, d).filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = li(s, d).filter(col("l_shipdate") >= cutoff)
      .select(col("l_orderkey"), revenue.as("rev"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(outD(sum(col("rev"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** Revenue concentration (the "whale curve"): customers ranked by
    * lifetime spend, cut into spend deciles, with each decile's
    * cumulative revenue share in integer ppm — how top-heavy the
    * customer base is.
    *
    * Determinism: spend is exact cents (decimal sum ×100 → long); the
    * rank order (cents DESC, custkey) is unique, so ntile and the
    * running sum are tie-free; shares are floor-ppm integers.
    *
    * Scale: the customer-keyed pre-aggregate does the volume work
    * map-side; the rank + running sum then ride [[Layout.rankedCum]]'s
    * range-partitioned two-pass (parallel per-partition windows + a
    * broadcast offset join) instead of a global single-partition
    * window, so the operator has no data-sized serial stage. The
    * decile is computed from the global rank with ntile's exact
    * first-buckets-get-the-remainder arithmetic — bit-identical to
    * `ntile(10) OVER (ORDER BY cents DESC, o_custkey)`, which is what
    * the oracle still runs. */
  // Stages-materialized: rankedCum's two passes (window + partition
  // totals) and the grand-total branch would each recompute the
  // orders scan + customer aggregate — materializing the reduced
  // per-customer frame makes all three a cheap columnar re-scan
  // (measured 1.3 s → ~0.6 s steady at sf0.1), and at cluster scale
  // it is the standard "reduce once, rank the reduction" shape.
  private def cumSharePer(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "cum_share_per", d)(
      ord(s, d).groupBy(col("o_custkey"))
        .agg((sum(money(col("o_totalprice"))) * 100).cast("long")
          .as("cents")))

  def cumShare(s: SparkSession, d: String): DataFrame = {
    val per = cumSharePer(s, d)
    val tot = per.agg(sum(col("cents")).as("total_cents"))
    Layout.rankedCum(per, Seq(col("cents").desc, col("o_custkey")),
        col("cents"))
      .withColumnRenamed("cum", "cum_cents")
      // ntile(k): first n%k buckets get n/k+1 rows, the rest n/k
      .withColumn("decile", expr(
        """CASE WHEN r <= (n_rows % 10) * (n_rows DIV 10 + 1)
          |THEN (r - 1) DIV (n_rows DIV 10 + 1) + 1
          |ELSE n_rows % 10
          |  + (r - 1 - (n_rows % 10) * (n_rows DIV 10 + 1))
          |    DIV (n_rows DIV 10) + 1
          |END""".stripMargin))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), max(col("cum_cents")).as("cum_cents"))
      .crossJoin(broadcast(tot))
      // decimal(38,0) widening: cents·10⁶ = dollars·10⁸ overflows int64
      // past ~$9.2·10¹⁰ cumulative — real at warehouse population
      // scale. DIV on a decimal dividend still yields BIGINT, and the
      // ppm quotient (≤10⁶) is exact, so outputs are unchanged.
      .withColumn("cum_share_ppm",
        expr("CAST(cum_cents AS DECIMAL(38,0)) * 1000000 DIV total_cents"))
      .select(col("decile"), col("n_cust"), col("cum_cents"),
        col("cum_share_ppm"))
      .orderBy("decile")
  }

  // ---- TPC-H-shaped trade analytics (round-5 ninth widening) ---------

  /** Bilateral trade matrix (the TPC-H Q7 shape): revenue flowing from
    * supplier nation to customer nation per ship year, over a two-year
    * window.
    *
    * Scale shape: lineitem shuffles ONCE on l_orderkey for the orders⋈
    * customer leg; supplier (warehouse-bounded) and nation (25 rows)
    * ride broadcast hash joins on the fact scan, so the supp-nation
    * column is attached map-side before the shuffle. The date filter
    * pushes to the lineitem scan. Exact decimal revenue; group keys are
    * the complete sort key, so output order is total and tie-free. */
  def tradeMatrix(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val supN = Sources.supplier(s, d)
      .join(broadcast(Sources.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custN = cust(s, d)
      .join(broadcast(Sources.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    li(s, d).filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        revenue.as("rev"))
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(ord(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(outD(sum(col("rev"))).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** The market-share nation for q_mkt_share / its oracle — a named
    * constant so both renderings stay single-sourced. */
  val ShareNation = "NATION_3"

  /** National market share (the TPC-H Q8 shape): per order year, the
    * integer-ppm share of ASIA-customer revenue supplied by
    * [[ShareNation]].
    *
    * Determinism: both numerator and denominator are exact ×10000
    * fixed-point sums — revenue = price(2dp) × (1−discount(2dp)) has at
    * most 4 decimals, so ×10000 is integer-valued and the decimal→long
    * cast cannot diverge on rounding (Spark truncates, DuckDB rounds —
    * identical only on integers). The share is floor-ppm division.
    * Scale: the supplier-side flag joins broadcast; the single fact
    * shuffle is the orderkey join; the per-year rollup is 7 keys.
    *
    * int64 envelope (also binds [[promoShare]], [[partValueConc]] and
    * [[cumShare]]): the ppm numerator units·10⁶ = dollars·10¹⁰ overflows
    * int64 past ~$9.2·10⁸ per group — a full-population warehouse share. The
    * shipped code therefore widens every share product to
    * decimal(38,0) before the DIV (the q_len_zscore discipline);
    * quotients stay BIGINT and outputs are unchanged, so no overflow
    * is possible at any SF. Oracles mirror with HUGEINT. */
  def mktShare(s: SparkSession, d: String): DataFrame = {
    val asiaCust = cust(s, d)
      .join(broadcast(Sources.nation(s, d)
          .join(Sources.region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supFlag = Sources.supplier(s, d)
      .join(broadcast(Sources.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"),
        (col("n_name") === ShareNation).as("is_share"))
    li(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        (revenue * 10000).cast("long").as("units"))
      .join(broadcast(supFlag), col("l_suppkey") === col("s_suppkey"))
      .join(ord(s, d).select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_year"))
      .agg(sum(when(col("is_share"), col("units")).otherwise(0L))
          .cast("long").as("nation_units"),
        sum(col("units")).cast("long").as("total_units"))
      // decimal(38,0) widening: units·10⁶ = dollars·10¹⁰ overflows int64
      // past ~$9.2·10⁸/group; the widened product is exact to 10³⁸ and
      // DIV returns BIGINT, so outputs are unchanged at any SF.
      .withColumn("share_ppm",
        expr("CAST(nation_units AS DECIMAL(38,0)) * 1000000 DIV total_units"))
      .orderBy("o_year")
  }

  /** Returned-revenue ranking (the TPC-H Q10 shape): top 20 customers
    * by revenue on returned line items ('R' flag), with nation.
    *
    * The returnflag filter pushes to the fact scan; nation broadcasts;
    * the top-k is TakeOrderedAndProject on (revenue DESC, custkey) —
    * the unique trailing key makes the limit deterministic even under
    * revenue ties. */
  def returnedRevenue(s: SparkSession, d: String): DataFrame = {
    val custN = cust(s, d)
      .join(broadcast(Sources.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    li(s, d).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revenue.as("rev"))
      .join(ord(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(outD(sum(col("rev"))).as("returned_rev"),
        count(lit(1)).as("n_items"))
      .orderBy(col("returned_rev").desc, col("c_custkey"))
      .limit(20)
  }

  /** Promotion revenue share (the TPC-H Q14 shape): per ship month, the
    * integer-ppm share of revenue from PROMO-type parts.
    *
    * The part type is a broadcast dimension flag attached map-side; the
    * month rollup aggregates exact cents; no shuffle carries more than
    * (month → two longs). */
  def promoShare(s: SparkSession, d: String): DataFrame = {
    val promoFlag = Sources.part(s, d)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    li(s, d)
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        (revenue * 10000).cast("long").as("units"))
      .join(broadcast(promoFlag), col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(sum(when(col("is_promo"), col("units")).otherwise(0L))
          .cast("long").as("promo_units"),
        sum(col("units")).cast("long").as("total_units"))
      // decimal(38,0) widening — same int64 envelope as [[mktShare]]
      .withColumn("promo_ppm",
        expr("CAST(promo_units AS DECIMAL(38,0)) * 1000000 DIV total_units"))
      .orderBy("ship_month")
  }

  /** Part value concentration (the TPC-H Q11 shape): parts whose
    * lifetime revenue exceeds 0.05% of total revenue — the
    * inventory-concentration screen.
    *
    * The grand total is a partition-less window over the per-part
    * pre-aggregate (one fact scan); the threshold test is the
    * cross-multiplied integer inequality `units * 2000 > total_units`
    * (0.05% = 1/2000) — no division, no doubles, no epsilon; units are
    * exact ×10000 fixed point (see [[mktShare]]). The per-part
    * pre-aggregate does the volume work map-side; output is bounded by
    * construction (≤ 2000 parts can each exceed 1/2000 of the total). */
  // Stages-materialized per-part reduction (the cum_share pattern,
  // r6): the fact scan + groupBy run ONCE per warehouse; the grand
  // total is then a broadcast one-row aggregate over the cheap
  // parquet rescan instead of the previous partition-less window,
  // which funneled every per-part row through one partition — part
  // count scales with the warehouse, so that was a data-sized serial
  // stage, not a bounded one (GlobalWindowSpec now rejects it).
  private def pvcPer(s: SparkSession, d: String): DataFrame =
    Stages.materialize(s, "pvc_per", d)(
      li(s, d)
        .groupBy(col("l_partkey"))
        .agg((sum(revenue) * 10000).cast("long").as("units"),
          count(lit(1)).as("n_items")))

  def partValueConc(s: SparkSession, d: String): DataFrame = {
    val per = pvcPer(s, d)
    val tot = per.agg(sum(col("units")).cast("long").as("total_units"))
    per
      .crossJoin(broadcast(tot))
      // decimal(38,0) widening on both the threshold cross-multiply
      // and the ppm product — same int64 envelope as [[mktShare]]
      .filter(expr("CAST(units AS DECIMAL(38,0)) * 2000 > total_units"))
      .withColumn("share_ppm",
        expr("CAST(units AS DECIMAL(38,0)) * 1000000 DIV total_units"))
      .select(col("l_partkey"), col("units"), col("n_items"),
        col("share_ppm"))
      .orderBy(col("units").desc, col("l_partkey"))
  }

  /** Per-nation supplier leaderboard: each nation's top 3 suppliers by
    * lifetime revenue — the grouped-top-k window shape over exact
    * ×10000 fixed-point revenue, rank ties broken by the unique
    * supplier key.
    *
    * Scale: the supplier-keyed pre-aggregate collapses the fact table
    * to one row per supplier BEFORE the window; the rank partition is
    * per-nation over warehouse-bounded suppliers, and WindowGroupLimit
    * prunes rank > 3 early. */
  def suppRank(s: SparkSession, d: String): DataFrame = {
    val per = li(s, d)
      .groupBy(col("l_suppkey"))
      .agg((sum(revenue) * 10000).cast("long").as("units"))
    val supN = Sources.supplier(s, d)
      .join(broadcast(Sources.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("units").desc, col("s_suppkey"))
    per.join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("n_name"), col("rk"), col("s_suppkey"), col("s_name"),
        col("units"))
      .orderBy("n_name", "rk")
  }

  /** EWMA order-volume smoothing: per-day order counts convolved with
    * the power-of-two kernel 2^-j over a 10-day trailing window —
    * exponential smoothing whose every term is an exact binary
    * fraction, so the double sum is EXACT (counts < 2^40 × 2^-9 fit a
    * 53-bit mantissa with room) and order-independent in both engines.
    *
    * Implemented as a scatter: each observed day contributes
    * cnt·2^(9-j) integer units to days d..d+9, summed per target day in
    * ×512 fixed point — missing days correctly contribute nothing,
    * with no day-spine gap fill needed. One shuffle on day keys. */
  def ewmaVolume(s: SparkSession, d: String): DataFrame = {
    val daily = ord(s, d).filter(col("o_orderdate").isNotNull)
      .groupBy(datediff(to_date(col("o_orderdate")),
        to_date(lit("1990-01-01"))).cast("long").as("dd"))
      .agg(count(lit(1)).as("cnt"))
    val scattered = daily
      .select(col("dd"), col("cnt"), explode(sequence(lit(0), lit(9))).as("j"))
      .select((col("dd") + col("j")).as("dd"),
        expr("cnt * shiftleft(CAST(1 AS BIGINT), 9 - j)").as("unit"))
      .groupBy(col("dd")).agg(sum(col("unit")).as("ewma_x512"))
    daily.join(scattered, Seq("dd"))
      .select(col("dd"), col("cnt"),
        (col("ewma_x512").cast("double") / 512.0).as("ewma"))
      .orderBy("dd")
  }

  /** Local-supplier revenue (the TPC-H Q5 shape): revenue per nation
    * from line items where the customer and the supplier share the
    * nation — the intra-national trade rollup. Both nation attachments
    * are broadcast maps onto the single orderkey-shuffled fact pass;
    * the equality filter runs map-side after the last broadcast. */
  def localSupp(s: SparkSession, d: String): DataFrame = {
    val custN = cust(s, d).select(col("c_custkey"),
      col("c_nationkey").cast("long").as("c_nat"))
    val supN = Sources.supplier(s, d).select(col("s_suppkey"),
      col("s_nationkey").cast("long").as("s_nat"))
    li(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), revenue.as("rev"))
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(ord(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nat") === col("s_nat"))
      .join(broadcast(Sources.nation(s, d)),
        col("s_nat") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(outD(sum(col("rev"))).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** Discount-band revenue (the TPC-H Q6 shape): the what-if forecast
    * — revenue that would vanish if mid-band discounts were dropped,
    * over one ship year and a quantity cap. Exact decimal×decimal
    * product summed order-free; every predicate pushes to the scan;
    * single-row output. */
  def discountRev(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(outD(sum(money(col("l_extendedprice")) *
        money(col("l_discount")))).as("disc_rev"),
        count(lit(1)).as("n_items"))

  /** Customer order-count distribution (the TPC-H Q13 shape): how many
    * customers placed k orders, INCLUDING the zero-order customers the
    * left join preserves. Two aggregates: customer-keyed count, then
    * the count-of-counts whose keyspace is the max order count. */
  def custOrderDist(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Idle high-balance customers (the TPC-H Q22 shape, churn-risk
    * variant): customers with above-average positive balance and no
    * order in the final year, rolled up per nation. The above-average
    * test is the cross-multiplied integer inequality cents·n >
    * sum_cents against a broadcast one-row stats frame — no double
    * division, no epsilon; the idleness test is a left anti join on
    * the date-filtered order keys (the filter pushes to the scan). */
  def idleRich(s: SparkSession, d: String): DataFrame = {
    val withCents = cust(s, d)
      .withColumn("cents", (money(col("c_acctbal")) * 100).cast("long"))
    val pos = withCents.filter(col("cents") > 0)
    val stats = pos.agg(count(lit(1)).as("n_pos"),
      sum(col("cents")).cast("long").as("sum_cents"))
    val recent = ord(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    pos.crossJoin(broadcast(stats))
      .filter(col("cents") * col("n_pos") > col("sum_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Sources.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("cents")).cast("long").as("total_cents"))
      .orderBy("n_name")
  }

  /** Small-quantity revenue (the TPC-H Q17 shape): revenue on line
    * items whose quantity is under 20% of their part's average — the
    * small-lot reorder signal. The per-part average test is the
    * cross-multiplied integer inequality qty_u·5·n < sum_qu over
    * ×100 fixed-point quantities (2-decimal by generation); the
    * per-part stats frame joins back partkey-co-partitioned. */
  def smallQty(s: SparkSession, d: String): DataFrame = {
    val withU = li(s, d)
      .withColumn("qty_u", (money(col("l_quantity")) * 100).cast("long"))
    val per = withU.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n_l"),
        sum(col("qty_u")).cast("long").as("sum_qu"))
    withU.join(per, col("l_partkey") === col("pk"))
      .filter(col("qty_u") * 5 * col("n_l") < col("sum_qu"))
      .agg(outD(sum(money(col("l_extendedprice")))).as("total_price"),
        count(lit(1)).as("n_items"))
  }

  /** Large-volume orders (the TPC-H Q18 shape): orders whose total
    * quantity exceeds 300 units, with customer, top 20 by order value.
    * The HAVING runs on the orderkey-keyed pre-aggregate (map-side
    * partials); the survivors (rare by construction) join orders and
    * the broadcast-scale customer dim; top-k is TakeOrderedAndProject
    * with the unique orderkey breaking value ties. */
  def largeOrders(s: SparkSession, d: String): DataFrame = {
    val per = li(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(money(col("l_quantity"))).as("sum_qty_dec"))
      .filter(col("sum_qty_dec") > 300)
    per.join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("l_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        outD(col("sum_qty_dec")).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("l_orderkey"))
      .limit(20)
  }

  /** Raw-dimension quality audit: per dim table, the row count, null
    * and duplicate primary keys, and null foreign keys — the intake
    * report that quantifies exactly what the canonical dimension views
    * ([[Sources]]) repair. Reads the RAW tables deliberately (the
    * canonical views would hide their own fix; the oracle matches via
    * [[Registry0.eRawDims]]). One metadata-cheap aggregate per dim —
    * all map-side partials, five one-row frames unioned. */
  def dqDims(s: SparkSession, d: String): DataFrame = {
    def audit(t: String, pk: String, fk: Option[String]): DataFrame = {
      val df = Sources.read(s, d, t)
      // coalesced: sum over ZERO rows is NULL in both engines, but the
      // no-FK oracle branch emits a literal 0 — keep the empty-table
      // case aligned
      val nullFk = coalesce(fk
        .map(f => sum(when(col(f).isNull, 1L).otherwise(0L)))
        .getOrElse(sum(lit(0L))).cast("long"), lit(0L))
      df.agg(count(lit(1)).as("n_rows"),
        count(col(pk)).as("n_pk_nonnull"),
        countDistinct(col(pk)).as("n_pk_distinct"),
        nullFk.as("n_null_fk"))
        .select(lit(t).as("table_name"), col("n_rows"),
          (col("n_rows") - col("n_pk_nonnull")).as("n_null_pk"),
          (col("n_pk_nonnull") - col("n_pk_distinct")).as("n_dup_pk"),
          col("n_null_fk"))
    }
    audit("customer", "c_custkey", Some("c_nationkey"))
      .unionByName(audit("supplier", "s_suppkey", Some("s_nationkey")))
      .unionByName(audit("part", "p_partkey", None))
      .unionByName(audit("nation", "n_nationkey", Some("n_regionkey")))
      .unionByName(audit("region", "r_regionkey", None))
      .orderBy("table_name")
  }

  /** Cohort lifetime value: customers grouped by first-order month,
    * tracked across month offsets — the BI cohort-LTV triangle, in
    * exact cents.
    *
    * Months are the integer index year·12 + (month−1), so offsets are
    * plain subtraction — no date intervals, no calendar arithmetic to
    * diverge on. Two customer-keyed aggregates (first-order month,
    * then the join-back) and one (cohort, offset)-keyed rollup whose
    * keyspace is calendar-bounded. The countDistinct is per
    * (cohort, offset) — at 100 TB it map-side partials over the
    * customer-collapsed frame, never raw orders. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        (money(col("o_totalprice")) * 100).cast("long").as("cents"))
    val first = o.groupBy(col("o_custkey"))
      .agg(min(col("mo")).as("cohort_mo"))
    o.join(first, Seq("o_custkey"))
      .groupBy(col("cohort_mo"), (col("mo") - col("cohort_mo")).as("offset"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        sum(col("cents")).cast("long").as("cents"))
      .orderBy("cohort_mo", "offset")
  }

  /** Association rules over order baskets: for the top-40 co-occurring
    * part pairs, support counts and both directed confidences in
    * floor ppm — the market-basket rule report.
    *
    * Confidence (n_ab·10⁶ div n_a) is the deliberate metric: every
    * product stays far inside int64 at any scale, where a lift
    * numerator n_ab·n_baskets·10⁶ would overflow at warehouse volumes.
    * The pair fan-out is the same in-array C(k,2) expansion as
    * [[basketPairs]] (≤ C(cap,2) per order); per-part supports and the
    * basket total are dimension-bounded broadcasts. */
  def basketRules(s: SparkSession, d: String): DataFrame = {
    val lp = li(s, d)
      .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nBaskets = lp.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val perPart = lp.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_p"))
    basketPairHead(s, d)
      .join(broadcast(perPart.select(col("l_partkey").as("p1"),
        col("n_p").as("n_a"))), Seq("p1"))
      .join(broadcast(perPart.select(col("l_partkey").as("p2"),
        col("n_p").as("n_b"))), Seq("p2"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("conf_ab_ppm", expr("n_ab * 1000000 DIV n_a"))
      .withColumn("conf_ba_ppm", expr("n_ab * 1000000 DIV n_b"))
      .select(col("p1"), col("p2"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_baskets"), col("conf_ab_ppm"), col("conf_ba_ppm"))
      .orderBy(col("n_ab").desc, col("p1"), col("p2"))
  }

  // ---- round-6 widening: join-type completion + time-series depth ----

  /** FULL OUTER join — the one join type the inventory lacked: the
    * per-customer order book against the per-user event stream, keyed
    * on the shared customer/user id, keeping BOTH unmatched sides
    * (customers who never emit events AND event users with no orders —
    * the reconciliation report an activation analysis starts from).
    *
    * Determinism: both sides are pre-aggregated to one row per key
    * before the join, so the full join is key-unique and tie-free; a
    * NULL user_id group on the event side survives as an unmatched row
    * (null keys never match — same three-valued rule both engines).
    * Scale: two user-sized reductions, one co-partitioned full hash
    * join; no data-sized serial stage. */
  def joinFull(s: SparkSession, d: String): DataFrame = {
    val co = ord(s, d).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n_orders"),
        outD(sum(money(col("o_totalprice")))).as("spend"))
    val ev = Sources.events(s, d).groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("n_events"))
    co.join(ev, col("k") === col("u"), "full")
      .select(coalesce(col("k"), col("u")).as("cust"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("spend"))
      .orderBy("cust", "n_orders", "n_events", "spend")
  }

  /** Lag-k autocorrelation (k = 1..7) of the daily order count over the
    * dense day grid — the weekly-seasonality fingerprint a forecasting
    * pipeline checks before trusting day-over-day deltas. Missing days
    * count as ZERO (the grid is min..max epoch-day), because an absent
    * day is a real zero-volume day, not missing data.
    *
    * Determinism: counts are exact integers; per lag the Pearson terms
    * (m, Σx, Σy, Σxy, Σx², Σy²) are exact int64 sums, and r_micro ≈
    * ⌊10⁶·r⌋ is pure integer arithmetic over the decimal(38,0)-widened
    * differences (oracle HUGEINT) plus [[graft.engine.PortableMath]]'s
    * exact isqrt — no declared output rides an engine's int128→double
    * cast. int64 envelope: the REPORTED moment columns overflow (ANSI:
    * throw) only past Σc² > 9.2·10¹⁸ (~3·10⁹ orders on a single day),
    * the report schema's own documented bound; internally |cv|·10⁶
    * must fit decimal(38,0) (|cv| < 10³² — generous against
    * Cauchy-Schwarz).
    *
    * Scale: the daily aggregate collapses the fact table map-side; the
    * grid is calendar-sized; each lag is a grid-sized self-join on
    * day+k (7 tiny joins) and the regression is a 7-row report. */
  def autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = ord(s, d).filter(col("o_orderdate").isNotNull)
      .select(datediff(col("o_orderdate"), to_date(lit("1990-01-01")))
        .cast("long").as("day"))
      .groupBy("day").agg(count(lit(1)).as("c"))
    val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val grid = span
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("c"), lit(0L)).as("c"))
    val lags = grid.withColumn("k",
        explode(array((1 to 7).map(k => lit(k.toLong)): _*)))
      .select(col("k"), (col("day") - col("k")).as("day"),
        col("c").as("y"))
    grid.join(lags, Seq("day"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("m"),
        sum(col("c")).as("sx"), sum(col("y")).as("sy"),
        sum(col("c") * col("y")).as("sxy"),
        sum(col("c") * col("c")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      // the two variance terms are tested for zero SEPARATELY — their
      // int64 product would overflow long before the inputs do — and
      // the m·Σ/Σ·Σ differences are decimal(38,0)-widened (oracle:
      // HUGEINT): they overflow int64 ~m× earlier than the output sums,
      // whose own envelope the scaladoc documents. r_micro =
      // ⌊cv·10⁶ / (⌊√vx⌋·⌊√vy⌋)⌋ — pure integer arithmetic over the
      // exact widened moments plus PortableMath's exact isqrt, so the
      // declared output never rides an engine's int128→double cast
      // (truncation toward zero in both engines for negative cv; the
      // isqrt floors understate each denominator by < 1/√v relative,
      // sub-micro at any non-degenerate daily variance). Envelope:
      // |cv|·10⁶ within decimal(38,0) → |cv| < 10³², generous against
      // Cauchy-Schwarz |cv| ≤ √(vx·vy).
      .withColumn("vx", expr(
        "m*CAST(sxx AS DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0))*sx"))
      .withColumn("vy", expr(
        "m*CAST(syy AS DECIMAL(38,0)) - CAST(sy AS DECIMAL(38,0))*sy"))
      .withColumn("cv", expr(
        "m*CAST(sxy AS DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0))*sy"))
      .withColumn("rx0",
        expr(PortableMath.isqrtEstimate("vx", "DECIMAL(38,0)")))
      .withColumn("ry0",
        expr(PortableMath.isqrtEstimate("vy", "DECIMAL(38,0)")))
      .withColumn("rx", expr(PortableMath.isqrtAdjust("rx0", "vx")))
      .withColumn("ry", expr(PortableMath.isqrtAdjust("ry0", "vy")))
      .withColumn("r_micro", expr(
        "CASE WHEN vx = 0 OR vy = 0 THEN NULL" +
          " ELSE CAST((cv * 1000000) DIV (rx * ry) AS BIGINT) END"))
      .select(col("k"), col("m"), col("sx"), col("sy"), col("sxy"),
        col("sxx"), col("syy"), col("r_micro"))
      .orderBy("k")
  }

  /** Forces this module's Stages-materialized reductions (bench
    * pre-warm — see [[Warm.stages]]). */
  def warmStages(s: SparkSession, d: String): Unit = {
    basketPairHead(s, d); cumSharePer(s, d); pvcPer(s, d); ()
  }
}

package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.Money
import graft.functions.Money.decSumSql
import graft.functions.TimePred
import graft.operators.Spearman

/** OLAP surface beyond the reference's inventory (SURVEY.md §2.7 notes
  * it has no set ops, grouping sets, pivots or percentiles) — a user
  * switching to this engine gets the full relational toolbox, each
  * piece oracle-verified.
  */
object OlapQueries {

  /** DuckDB twin of [[Spearman.byGroup]]'s algebra: `jointCte` must
    * produce (g, x, y, cnt); emits (gName, n, outName) rows.
    */
  private def spearmanSql(jointCte: String, gName: String, outName: String) =
    s"""WITH joint AS ($jointCte),
       |rx AS (
       |  SELECT g, x,
       |    CAST(COALESCE(SUM(cv) OVER (PARTITION BY g ORDER BY x
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + CAST((cv + 1) AS DECIMAL(20,1)) / 2 AS DECIMAL(12,1)) AS rx
       |  FROM (SELECT g, x, SUM(cnt) AS cv FROM joint GROUP BY 1, 2)),
       |ry AS (
       |  SELECT g, y,
       |    CAST(COALESCE(SUM(cv) OVER (PARTITION BY g ORDER BY y
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + CAST((cv + 1) AS DECIMAL(20,1)) / 2 AS DECIMAL(12,1)) AS ry
       |  FROM (SELECT g, y, SUM(cnt) AS cv FROM joint GROUP BY 1, 2)),
       |s AS (
       |  SELECT j.g,
       |    SUM(cnt) AS n,
       |    CAST(SUM(CAST(cnt AS DECIMAL(12,0)) * rx) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(cnt AS DECIMAL(12,0)) * ry) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(cnt AS DECIMAL(12,0)) * rx * ry) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(cnt AS DECIMAL(12,0)) * rx * rx) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(cnt AS DECIMAL(12,0)) * ry * ry) AS DOUBLE) AS syy
       |  FROM joint j JOIN rx ON rx.g = j.g AND rx.x = j.x
       |               JOIN ry ON ry.g = j.g AND ry.y = j.y
       |  GROUP BY j.g)
       |SELECT g AS $gName, CAST(n AS BIGINT) AS n,
       |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
       |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
       |   * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS $outName
       |FROM s ORDER BY g""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------------------
    // The native TopKPerGroup operator (LogicalPlan + Strategy +
    // bounded-heap SparkPlan, graft.plans) against a DuckDB window
    // oracle: partial per-partition heaps → one exchange on the group
    // key → final heaps, never a per-group sort. Unique tiebreaker
    // (s_suppkey) makes ranks deterministic.
    "native_topk_suppliers" -> QueryDef(
      (s, dir) =>
        graft.plans.TopKPerGroup(
          Tables.supplier(s, dir).select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal")),
          groupCols = Seq("s_nationkey"),
          orderSpecs = Seq(("s_acctbal", true), ("s_suppkey", false)),
          k = 3)
          .orderBy(col("s_nationkey"), col("topk_rank")),
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |  CAST(row_number() OVER (PARTITION BY s_nationkey
        |       ORDER BY s_acctbal DESC, s_suppkey) AS INT) AS topk_rank
        |FROM supplier
        |QUALIFY topk_rank <= 3
        |ORDER BY s_nationkey, topk_rank""".stripMargin),

    // ------------------------------------------------------------------
    // INTERSECT / EXCEPT: customers active in both 1996 and 1998, and
    // 1996-only, tagged and unioned.
    "setops_customer_activity" -> QueryDef(
      (s, dir) => {
        def active(y: Int) = Tables.orders(s, dir)
          .filter(TimePred.inYear(col("o_orderdate"), y))
          .select(col("o_custkey"))
        val both = active(1996).intersect(active(1998))
          .withColumn("activity", lit("both"))
        val only96 = active(1996).except(active(1998))
          .withColumn("activity", lit("1996_only"))
        both.unionByName(only96).orderBy(col("activity"), col("o_custkey"))
      },
      """WITH a96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
        |a98 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |SELECT o_custkey, 'both' AS activity FROM (SELECT * FROM a96 INTERSECT SELECT * FROM a98)
        |UNION ALL
        |SELECT o_custkey, '1996_only' AS activity FROM (SELECT * FROM a96 EXCEPT SELECT * FROM a98)
        |ORDER BY activity, o_custkey""".stripMargin),

    // ------------------------------------------------------------------
    // ROLLUP: order totals by (year, status) with subtotals and grand
    // total; grouping keys coalesced so sort keys stay non-null.
    "rollup_year_status" -> QueryDef(
      (s, dir) =>
        Tables.orders(s, dir)
          .rollup(year(col("o_orderdate")).as("anio"), col("o_orderstatus"))
          .agg(
            sum(col("o_totalprice").cast(DecimalType(20, 2))).cast("double").as("total"),
            count(lit(1)).as("n"))
          .select(
            coalesce(col("anio").cast("string"), lit("ALL")).as("anio"),
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            col("total"), col("n"))
          .orderBy(col("anio"), col("status")),
      s"""SELECT
         |  COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS anio,
         |  COALESCE(o_orderstatus, 'ALL') AS status,
         |  ${decSumSql("o_totalprice")} AS total,
         |  COUNT(*) AS n
         |FROM orders
         |GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
         |ORDER BY anio, status""".stripMargin),

    // ------------------------------------------------------------------
    // PIVOT: revenue per region (rows) × order status (columns) —
    // DataFrame pivot; oracle states it as conditional aggregation.
    "pivot_status_by_region" -> QueryDef(
      (s, dir) =>
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(sum(col("o_totalprice").cast(DecimalType(20, 2))).cast("double"))
          .select(
            col("r_name"),
            coalesce(col("F"), lit(0.0)).as("total_f"),
            coalesce(col("O"), lit(0.0)).as("total_o"),
            coalesce(col("P"), lit(0.0)).as("total_p"))
          .orderBy(col("r_name")),
      s"""SELECT r_name,
         |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(20,2)) END) AS DOUBLE), 0.0) AS total_f,
         |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(20,2)) END) AS DOUBLE), 0.0) AS total_o,
         |  COALESCE(CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(20,2)) END) AS DOUBLE), 0.0) AS total_p
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name
         |ORDER BY r_name""".stripMargin),

    // ------------------------------------------------------------------
    // Chi-squared contingency table (categorical independence QA):
    // the same joint-histogram pattern as Spearman — one fact shuffle
    // to (x, y) counts, marginals derived from the joint, expected
    // counts and per-cell chi² contributions in a fixed IEEE order
    // (÷ and × only — bit-exact). Emitted PER CELL rather than summed:
    // a float total's addition order is engine-dependent, and the cell
    // grid (which cells deviate) is the actually useful QA signal.
    "chi2_status_priority" -> QueryDef(
      (s, dir) => {
        val joint = Tables.orders(s, dir)
          .groupBy(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
          .agg(count(lit(1)).as("cnt"))
        val mx = joint.groupBy(col("x")).agg(sum(col("cnt")).as("cx"))
        val my = joint.groupBy(col("y")).agg(sum(col("cnt")).as("cy"))
        val tot = joint.agg(sum(col("cnt")).as("n"))
        val e = col("cx").cast("double") * col("cy").cast("double") / col("n").cast("double")
        joint
          .join(broadcast(mx), Seq("x")).join(broadcast(my), Seq("y"))
          .crossJoin(broadcast(tot))
          .select(
            col("x"), col("y"), col("cnt").as("observed"),
            e.as("expected"),
            ((col("cnt").cast("double") - e) * (col("cnt").cast("double") - e) / e)
              .as("chi2_cell"))
          .orderBy(col("x"), col("y"))
      },
      """WITH joint AS (
        |  SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |mx AS (SELECT x, SUM(cnt) AS cx FROM joint GROUP BY 1),
        |my AS (SELECT y, SUM(cnt) AS cy FROM joint GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM joint)
        |SELECT x, y, cnt AS observed,
        |  CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
        |  (CAST(cnt AS DOUBLE) - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
        |  * (CAST(cnt AS DOUBLE) - CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
        |  / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) AS chi2_cell
        |FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
        |ORDER BY x, y""".stripMargin),

    // ------------------------------------------------------------------
    // Spearman rank correlation per group, computed from the joint
    // value histogram (operators.Spearman): the rank transform factors
    // through distinct-value counts, so no row is ever ranked — one
    // aggregation shuffle over the fact, then histogram-sized windows
    // and joins. Oracle restates the identical algebra; values equal
    // pandas' rank().corr() (checked offline).
    "spearman_qty_disc" -> QueryDef(
      (s, dir) =>
        Spearman.byGroup(
          Tables.lineitem(s, dir),
          "l_returnflag",
          col("l_quantity").cast(DecimalType(4, 0)),
          col("l_discount").cast(DecimalType(3, 2)),
          outName = "spearman_qty_disc")
          .orderBy(col("l_returnflag")),
      spearmanSql(
        """
          |  SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(4,0)) AS x,
          |         CAST(l_discount AS DECIMAL(3,2)) AS y, COUNT(*) AS cnt
          |  FROM lineitem GROUP BY 1, 2, 3""".stripMargin,
        gName = "l_returnflag", outName = "spearman_qty_disc")),

    // ------------------------------------------------------------------
    // Spearman for a CONTINUOUS measure: quantile-bucket first (exact
    // NTILE over a total order — the scalable rank machinery), then
    // the same joint-histogram Spearman over (bucket, quantity). The
    // composition SCALE.md promises for continuous inputs: the
    // histogram stays bounded (20 × |distinct qty|) no matter how many
    // distinct prices exist.
    "spearman_pricebucket_qty" -> QueryDef(
      (s, dir) => {
        val bucketed = graft.operators.ExactNtile.withNtile(
          Tables.lineitem(s, dir).select(
            col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
          Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
          20, "pbucket")
        Spearman.byGroup(
          bucketed, "l_returnflag",
          col("pbucket").cast(DecimalType(4, 0)),
          col("l_quantity").cast(DecimalType(4, 0)),
          outName = "spearman_pbucket_qty")
          .orderBy(col("l_returnflag"))
      },
      spearmanSql(
        """
          |  SELECT l_returnflag AS g, CAST(pbucket AS DECIMAL(4,0)) AS x,
          |         CAST(l_quantity AS DECIMAL(4,0)) AS y, COUNT(*) AS cnt
          |  FROM (SELECT l_returnflag, l_quantity,
          |          ntile(20) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS pbucket
          |        FROM lineitem)
          |  GROUP BY 1, 2, 3""".stripMargin,
        gName = "l_returnflag", outName = "spearman_pbucket_qty")),

    // ------------------------------------------------------------------
    // UNPIVOT (melt): wide per-flag measure sums to long (measure, val)
    // rows — the inverse of the pivot query. Spark's native unpivot
    // (Expand under the hood: one pass, no join/union re-scan); the
    // oracle restates it as UNION ALL over the 3-row aggregate, where
    // re-scanning is free.
    "unpivot_pricing" -> QueryDef(
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            Money.decSum(col("l_quantity")).as("sum_qty"),
            Money.decSum(col("l_extendedprice")).as("sum_price"),
            Money.decSum(col("l_discount")).as("sum_disc"))
          .unpivot(
            ids = Array(col("l_returnflag")),
            values = Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
            variableColumnName = "measure",
            valueColumnName = "val")
          .orderBy(col("l_returnflag"), col("measure")),
      s"""WITH w AS (
         |  SELECT l_returnflag,
         |    ${decSumSql("l_quantity")} AS sum_qty,
         |    ${decSumSql("l_extendedprice")} AS sum_price,
         |    ${decSumSql("l_discount")} AS sum_disc
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS val FROM w
         |UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM w
         |UNION ALL SELECT l_returnflag, 'sum_disc', sum_disc FROM w
         |ORDER BY l_returnflag, measure""".stripMargin),

    // ------------------------------------------------------------------
    // Month-over-month growth WITHOUT a window: the monthly rollup is
    // group-count-sized, so prior-month attaches by a broadcast
    // equi-join on the shifted calendar key — no single-partition
    // global-order window (the lag() formulation Spark warns about),
    // and the year boundary (Jan ← prior Dec) is handled, which a
    // year-partitioned window would lose. Growth is fixed-order IEEE
    // over exact decimal sums.
    "mom_growth" -> QueryDef(
      (s, dir) => {
        val m = Tables.orders(s, dir)
          .groupBy(
            year(col("o_orderdate")).as("anio"),
            month(col("o_orderdate")).as("mes"))
          .agg(Money.decSum(col("o_totalprice")).as("rev"))
        val prev = m.select(
          col("anio").as("p_anio"), col("mes").as("p_mes"),
          col("rev").as("prev_rev"))
        m.join(
          broadcast(prev),
          col("p_anio") === when(col("mes") === 1, col("anio") - 1).otherwise(col("anio")) &&
            col("p_mes") === when(col("mes") === 1, lit(12)).otherwise(col("mes") - 1),
          "left")
          .select(
            col("anio"), col("mes"), col("rev"),
            ((col("rev") - col("prev_rev")) / col("prev_rev")).as("mom_growth"))
          .orderBy(col("anio"), col("mes"))
      },
      s"""WITH m AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS anio,
         |         CAST(month(o_orderdate) AS INT) AS mes,
         |         ${decSumSql("o_totalprice")} AS rev
         |  FROM orders GROUP BY 1, 2)
         |SELECT cur.anio AS anio, cur.mes AS mes, cur.rev AS rev,
         |  (cur.rev - prev.rev) / prev.rev AS mom_growth
         |FROM m cur LEFT JOIN m prev
         |  ON prev.anio = CASE WHEN cur.mes = 1 THEN cur.anio - 1 ELSE cur.anio END
         | AND prev.mes  = CASE WHEN cur.mes = 1 THEN 12 ELSE cur.mes - 1 END
         |ORDER BY cur.anio, cur.mes""".stripMargin),

    // ------------------------------------------------------------------
    // Deterministic per-group reservoir: the k "random" rows per group
    // are the k smallest md5(key) — a pure function of the key set
    // (cluster-size/run independent, append-composable), executed by
    // the native TopKPerGroup bounded heaps instead of a per-group
    // sort. Same hash-order idea as stratified_sample_docs, but
    // exercised through the custom physical operator.
    "group_reservoir_orders" -> QueryDef(
      (s, dir) =>
        graft.plans.TopKPerGroup(
          Tables.orders(s, dir).select(
            col("o_orderstatus"), col("o_orderkey"),
            md5(col("o_orderkey").cast("string")).as("h")),
          groupCols = Seq("o_orderstatus"),
          orderSpecs = Seq(("h", false), ("o_orderkey", false)),
          k = 10)
          .select(col("o_orderstatus"), col("o_orderkey"), col("topk_rank"))
          .orderBy(col("o_orderstatus"), col("topk_rank")),
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_orderstatus
        |       ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS INT) AS topk_rank
        |FROM orders
        |QUALIFY topk_rank <= 10
        |ORDER BY o_orderstatus, topk_rank""".stripMargin),

    // ------------------------------------------------------------------
    // Pearson correlation as a decomposable single-pass aggregate:
    // corr from {n, Σx, Σy, Σxy, Σx², Σy²}, the standard distributed
    // derivation (partials merge by addition, so map-side combine and
    // salting both apply — unlike a naive two-pass mean-then-deviation
    // form). Sums run in EXACT decimal (order-independent), the final
    // formula in a fixed IEEE order with correctly-rounded sqrt — so
    // the double is bit-identical to DuckDB's, where built-in corr()
    // (order-dependent double accumulation) would not be. Measures are
    // quantity (integer ≤ 2 digits) and discount (2 decimals): every
    // sum's unscaled value stays far below 2^53, so the decimal→double
    // conversions are themselves exact — price² sums would overflow
    // that range, and their conversion ROUNDING is where engine parity
    // first breaks (observed: last-ulp corr divergence).
    "corr_qty_discount" -> QueryDef(
      (s, dir) => {
        val x = col("l_quantity").cast(DecimalType(4, 0))
        val y = col("l_discount").cast(DecimalType(3, 2))
        val nD = col("n").cast("double")
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * y).cast("double").as("sxy"),
            sum(x * x).cast("double").as("sxx"),
            sum(y * y).cast("double").as("syy"))
          .select(
            col("l_returnflag"), col("n"),
            ((nD * col("sxy") - col("sx") * col("sy")) /
              (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
                sqrt(nD * col("syy") - col("sy") * col("sy"))))
              .as("corr_qty_discount"))
          .orderBy(col("l_returnflag"))
      },
      """WITH s AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
        |             * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))
        |             * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))
        |             * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
        |   * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_discount
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // ------------------------------------------------------------------
    // EXCEPT ALL / INTERSECT ALL — multiset semantics (bag difference
    // keeps surplus multiplicity; the distinct forms live in
    // setops_customer_activity). Results re-aggregated so output is
    // deterministic.
    "setops_multiset_priority" -> QueryDef(
      (s, dir) => {
        def prio(y: Int) = Tables.orders(s, dir)
          .filter(TimePred.inYear(col("o_orderdate"), y))
          .select(col("o_orderpriority"))
        val ex = prio(1996).exceptAll(prio(1997))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          .withColumn("op", lit("except_all"))
        val in = prio(1996).intersectAll(prio(1997))
          .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
          .withColumn("op", lit("intersect_all"))
        ex.unionByName(in).orderBy(col("op"), col("o_orderpriority"))
      },
      """SELECT o_orderpriority, COUNT(*) AS n, 'except_all' AS op FROM (
        |  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996
        |  EXCEPT ALL
        |  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1997) GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority, COUNT(*) AS n, 'intersect_all' AS op FROM (
        |  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1996
        |  INTERSECT ALL
        |  SELECT o_orderpriority FROM orders WHERE year(o_orderdate) = 1997) GROUP BY 1
        |ORDER BY op, o_orderpriority""".stripMargin),

    // ------------------------------------------------------------------
    // GROUPING SETS — the general grouping-set form (rollup and cube
    // queries cover the derived forms), stated through the SQL surface
    // over a temp view: identical SQL runs on both engines.
    "groupingsets_region_year" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .select(
            col("r_name").as("region"),
            year(col("o_orderdate")).cast("string").as("anio"),
            col("o_totalprice").cast(DecimalType(20, 2)).as("p"))
          .createOrReplaceTempView("gs_orders_v")
        s.sql(
          """SELECT COALESCE(region, 'ALL') AS region, COALESCE(anio, 'ALL') AS anio,
            |  CAST(SUM(p) AS DOUBLE) AS total, COUNT(*) AS n
            |FROM gs_orders_v GROUP BY GROUPING SETS ((region), (anio), ())
            |ORDER BY region, anio""".stripMargin)
      },
      """WITH j AS (
        |  SELECT r_name AS region, CAST(year(o_orderdate) AS VARCHAR) AS anio,
        |         CAST(o_totalprice AS DECIMAL(20,2)) AS p
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey)
        |SELECT COALESCE(region, 'ALL') AS region, COALESCE(anio, 'ALL') AS anio,
        |  CAST(SUM(p) AS DOUBLE) AS total, COUNT(*) AS n
        |FROM j GROUP BY GROUPING SETS ((region), (anio), ())
        |ORDER BY region, anio""".stripMargin),

    // ------------------------------------------------------------------
    // Recursive CTE (Spark 4's WITH RECURSIVE — UNION ALL body, an
    // explicit MAX RECURSION LEVEL): chains of consecutive orders per
    // customer with ≤30-day gaps, walked rank-by-rank from each chain
    // start. The recursion is ACYCLIC BY CONSTRUCTION (rank strictly
    // increases) and linear (rank r joins only r+1 — no path
    // branching), so depth = longest chain and each step is one
    // equi-join on (customer, rank). The flat gaps-and-islands window
    // (order_status_streaks) stays the 100 TB default for this
    // computation; this query pins the recursive SQL surface with a
    // DuckDB twin that differs only in dialect (date_diff vs datediff,
    // no LEVEL clause).
    "recursive_order_chains" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("c")).orderBy(col("d"), col("k"))
        Tables.orders(s, dir)
          .select(col("o_custkey").as("c"), col("o_orderdate").as("d"),
            col("o_orderkey").as("k"))
          .select(col("c"), row_number().over(w).as("r"),
            datediff(col("d"), lag(col("d"), 1).over(w)).as("gap"))
          // materialize: the recursion scans this frame once PER LEVEL —
          // without it every level re-runs the rank/lag window
          .localCheckpoint()
          .createOrReplaceTempView("rc_gaps_v")
        s.sql(
          """WITH RECURSIVE ch(c, start_r, r) MAX RECURSION LEVEL 200 AS (
            |  SELECT c, r, r FROM rc_gaps_v WHERE gap IS NULL OR gap > 30
            |  UNION ALL
            |  SELECT ch.c, ch.start_r, g.r FROM ch JOIN rc_gaps_v g
            |    ON g.c = ch.c AND g.r = ch.r + 1 WHERE g.gap <= 30),
            |lens AS (SELECT c, start_r, CAST(count(*) AS BIGINT) AS len
            |         FROM ch GROUP BY 1, 2)
            |SELECT len, CAST(count(*) AS BIGINT) AS n_chains,
            |  CAST(count(DISTINCT c) AS BIGINT) AS n_customers
            |FROM lens GROUP BY 1 ORDER BY len""".stripMargin)
      },
      """WITH RECURSIVE g AS (
        |  SELECT o_custkey AS c, row_number() OVER w AS r,
        |    date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS gap
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |ch AS (
        |  SELECT c, r AS start_r, r FROM g WHERE gap IS NULL OR gap > 30
        |  UNION ALL
        |  SELECT ch.c, ch.start_r, g.r FROM ch JOIN g
        |    ON g.c = ch.c AND g.r = ch.r + 1 WHERE g.gap <= 30),
        |lens AS (SELECT c, start_r, CAST(count(*) AS BIGINT) AS len
        |         FROM ch GROUP BY 1, 2)
        |SELECT len, CAST(count(*) AS BIGINT) AS n_chains,
        |  CAST(count(DISTINCT c) AS BIGINT) AS n_customers
        |FROM lens GROUP BY 1 ORDER BY len""".stripMargin),

    // ------------------------------------------------------------------
    // LEFT SEMI join (EXISTS): customers with ≥1 order in 1998 —
    // completes the join-type matrix next to the anti-join query; the
    // year predicate rides TimePred so it prunes at the orders scan.
    "semijoin_customers_1998" -> QueryDef(
      (s, dir) =>
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
          .join(
            Tables.orders(s, dir)
              .filter(TimePred.inYear(col("o_orderdate"), 1998))
              .select(col("o_custkey").as("c_custkey")),
            Seq("c_custkey"), "left_semi")
          .orderBy(col("c_custkey")),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1998)
        |ORDER BY c_custkey""".stripMargin),

    // ------------------------------------------------------------------
    // IQR outlier fences per event type (Tukey): percentile fences are
    // a tiny per-group table → broadcast back over the stream; the
    // count-above-fence pass stays map-side + one hash agg.
    "outlier_events_iqr" -> QueryDef(
      (s, dir) => {
        val fences = Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            expr("percentile(value, 0.25)").as("q1"),
            expr("percentile(value, 0.75)").as("q3"))
          .withColumn("fence_hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
          .select(col("event_type"), col("fence_hi"))
        Tables.events(s, dir).select(col("event_type"), col("value"))
          .join(broadcast(fences), "event_type")
          .groupBy(col("event_type"), col("fence_hi"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(when(col("value") > col("fence_hi"), 1L).otherwise(0L)).as("n_outliers"))
          .select(col("event_type"), col("n_events"), col("fence_hi"), col("n_outliers"))
          .orderBy(col("event_type"))
      },
      """WITH f AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1,
        |    quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  f.q3 + 1.5 * (f.q3 - f.q1) AS fence_hi,
        |  CAST(SUM(CASE WHEN value > f.q3 + 1.5 * (f.q3 - f.q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN f ON e.event_type = f.event_type
        |GROUP BY 1, 3 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // CUBE over (region, status): all four grouping-set combinations
    // in one pass (Expand ×4 of the agg input, not of the scan);
    // grouping keys coalesced so sort keys stay non-null.
    "cube_region_status" -> QueryDef(
      (s, dir) =>
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .cube(col("r_name"), col("o_orderstatus"))
          .agg(
            sum(col("o_totalprice").cast(DecimalType(20, 2))).cast("double").as("total"),
            count(lit(1)).as("n"))
          .select(
            coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            col("total"), col("n"))
          .orderBy(col("region"), col("status")),
      s"""SELECT COALESCE(r_name, 'ALL') AS region,
         |  COALESCE(o_orderstatus, 'ALL') AS status,
         |  ${decSumSql("o_totalprice")} AS total,
         |  COUNT(*) AS n
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
         |GROUP BY CUBE(r_name, o_orderstatus)
         |ORDER BY region, status""".stripMargin),

    // ------------------------------------------------------------------
    // Orders above their customer's average — the decorrelated form of
    // the scalar subquery `WHERE price > (SELECT avg .. same customer)`:
    // aggregate once per customer, join back on the same key (the agg's
    // partitioning is reused; no per-row subquery execution).
    "orders_above_cust_avg" -> QueryDef(
      (s, dir) => {
        val avgs = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg((graft.functions.Money.decSum(col("o_totalprice")) / count(lit(1)))
            .as("cust_avg"))
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .join(avgs, "o_custkey")
          .filter(col("o_totalprice") > col("cust_avg"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("cust_avg"))
          .orderBy(col("o_orderkey"))
      },
      s"""WITH avgs AS (
         |  SELECT o_custkey,
         |    ${decSumSql("o_totalprice")} / COUNT(*) AS cust_avg
         |  FROM orders GROUP BY 1)
         |SELECT o_orderkey, o.o_custkey, o_totalprice, cust_avg
         |FROM orders o JOIN avgs a ON o.o_custkey = a.o_custkey
         |WHERE o_totalprice > cust_avg
         |ORDER BY o_orderkey""".stripMargin),

    // ------------------------------------------------------------------
    // Rolling 3-month moving average of revenue per region: a framed
    // window (ROWS BETWEEN 2 PRECEDING) over the monthly star rollup —
    // partitioned by region, so no single-partition WindowExec; the
    // frame sums stay decimal until the final double cast.
    "monthly_moving_avg" -> QueryDef(
      (s, dir) => {
        val m = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"), trunc(col("o_orderdate"), "month").as("month"))
          .agg(sum(col("o_totalprice").cast(DecimalType(20, 2))).as("rev"))
        val w = Window.partitionBy(col("region")).orderBy(col("month"))
          .rowsBetween(-2, Window.currentRow)
        m.select(
          col("region"), col("month"),
          col("rev").cast("double").as("revenue"),
          (sum(col("rev")).over(w).cast("double") / count(lit(1)).over(w)).as("ma3"))
          .orderBy(col("region"), col("month"))
      },
      """WITH m AS (SELECT r_name AS region, date_trunc('month', o_orderdate) AS month,
        |  SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT region, month, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS ma3
        |FROM m WINDOW w AS (PARTITION BY region ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY region, month""".stripMargin),

    // ------------------------------------------------------------------
    // Customer-value deciles via ExactNtile — NTILE(10) semantics from
    // a distributed dense rank (range-repartition + zipWithIndex), no
    // single-partition window; oracle states it as plain ntile.
    "customer_deciles" -> QueryDef(
      (s, dir) => {
        val spend = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast(DecimalType(20, 2))).as("spend"))
        graft.operators.ExactNtile
          .withNtile(spend, Seq(col("spend").desc, col("o_custkey")), 10, "decile")
          .groupBy(col("decile"))
          .agg(
            count(lit(1)).as("n_customers"),
            sum(col("spend")).cast("double").as("total_spend"),
            min(col("spend")).cast("double").as("min_spend"),
            max(col("spend")).cast("double").as("max_spend"))
          .orderBy(col("decile"))
      },
      """WITH spend AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS spend
        |  FROM orders GROUP BY 1),
        |t AS (SELECT o_custkey, spend, ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile FROM spend)
        |SELECT decile, COUNT(*) AS n_customers,
        |  CAST(SUM(spend) AS DOUBLE) AS total_spend,
        |  CAST(min(spend) AS DOUBLE) AS min_spend,
        |  CAST(max(spend) AS DOUBLE) AS max_spend
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Ordered string aggregation: each customer's top-3 orders by value
    // as a comma list. Partitioned row_number + three conditional maxes
    // — no collect_list buffering, order enforced by rank not by
    // accumulation order (which Spark never guarantees distributed).
    "basket_top3_orders" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(concat_ws(",",
            max(when(col("rn") === 1, col("o_orderkey").cast("string"))),
            max(when(col("rn") === 2, col("o_orderkey").cast("string"))),
            max(when(col("rn") === 3, col("o_orderkey").cast("string")))).as("top_orders"))
          .orderBy(col("c_custkey"))
      },
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey AS c_custkey,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY rn) AS top_orders
        |FROM r WHERE rn <= 3 GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Continuous percentiles of order value per status (linear
    // interpolation on sorted doubles — same definition both engines).
    "percentiles_by_status" -> QueryDef(
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderstatus"))
          .agg(
            expr("percentile(o_totalprice, 0.5)").as("p50"),
            expr("percentile(o_totalprice, 0.9)").as("p90"),
            expr("percentile(o_totalprice, 0.99)").as("p99"))
          .orderBy(col("o_orderstatus")),
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  quantile_cont(o_totalprice, 0.99) AS p99
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // ------------------------------------------------------------------
    // Gaps-and-islands: runs of consecutive same-status orders per
    // customer (ordered by date, orderkey — a total order), collapsed
    // to a streak-length histogram per status. The row_number
    // difference trick keeps it two windows + two hash aggregates; the
    // windows share the same partition key (o_custkey) so Catalyst
    // plans ONE sort+shuffle for both. Pure integer/string output.
    "order_status_streaks" -> QueryDef(
      (s, dir) => {
        val byCust = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val byCustStatus = Window.partitionBy(col("o_custkey"), col("o_orderstatus"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
          .withColumn("island",
            row_number().over(byCust) - row_number().over(byCustStatus))
          .groupBy(col("o_custkey"), col("o_orderstatus"), col("island"))
          .agg(count(lit(1)).as("streak_len"))
          .groupBy(col("o_orderstatus").as("status"), col("streak_len"))
          .agg(count(lit(1)).as("n_streaks"))
          .orderBy(col("status"), col("streak_len"))
      },
      """WITH seq AS (
        |  SELECT o_custkey, o_orderstatus,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey)
        |    - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |                         ORDER BY o_orderdate, o_orderkey) AS island
        |  FROM orders),
        |streaks AS (
        |  SELECT o_orderstatus, COUNT(*) AS streak_len
        |  FROM seq GROUP BY o_custkey, o_orderstatus, island)
        |SELECT o_orderstatus AS status,
        |  CAST(streak_len AS BIGINT) AS streak_len,
        |  COUNT(*) AS n_streaks
        |FROM streaks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // Largest-remainder apportionment: allocate 1000 seats to nations
    // proportional to order count — the classic exact-integer
    // allocation (floor quotas, then +1 to the largest remainders,
    // ties broken by name). Everything is 64-bit integer arithmetic
    // (1000·c ≤ 1000·|orders| ≪ 2^53), so the result is bit-exact on
    // any engine. The global total and quota ranking run on 25 rows —
    // the empty-partition windows are a deliberate 1-partition step
    // AFTER the big aggregation, same shape as share_of_total_window.
    "apportionment_seats" -> QueryDef(
      (s, dir) => {
        val cnt = Tables.orders(s, dir)
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(s, dir),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("c"))
        val g = Window.partitionBy()
        val byRem = Window.partitionBy()
          .orderBy(col("rem").desc, col("n_name"))
        cnt
          .withColumn("t", sum(col("c")).over(g))
          .withColumn("base", expr("(1000 * c) div t"))
          .withColumn("rem", expr("(1000 * c) % t"))
          .withColumn("sb", sum(col("base")).over(g))
          .withColumn("rk", rank().over(byRem))
          .select(
            col("n_name").as("nation"),
            (col("base") + when(col("rk") <= lit(1000) - col("sb"), 1L).otherwise(0L))
              .cast("long").as("seats"))
          .orderBy(col("nation"))
      },
      """WITH cnt AS (
        |  SELECT n_name, COUNT(*) AS c
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1),
        |w AS (SELECT n_name, c, SUM(c) OVER () AS t FROM cnt),
        |q AS (
        |  SELECT n_name, (1000 * c) // t AS base, (1000 * c) % t AS rem,
        |    SUM((1000 * c) // t) OVER () AS sb
        |  FROM w),
        |r AS (SELECT *, rank() OVER (ORDER BY rem DESC, n_name) AS rk FROM q)
        |SELECT n_name AS nation,
        |  CAST(base + CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END AS BIGINT) AS seats
        |FROM r ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Winsorized mean of order value per status — robust stats with
    // EXACT cross-engine boundaries: instead of interpolated
    // percentiles (whose float math differs per engine), the p05/p95
    // fences are the values at integer positions ceil(0.05·n) and
    // ceil(0.95·n) of the (price, orderkey)-sorted sequence, picked by
    // row_number. Clamped values sum through the decimal path
    // (Money.decSum) so the mean is bit-exact; the 3-row bounds table
    // broadcasts back onto the fact scan.
    "winsorized_revenue" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val cw = Window.partitionBy(col("o_orderstatus"))
        val bounds = Tables.orders(s, dir)
          .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(cw))
          .groupBy(col("o_orderstatus"))
          .agg(
            max(col("n")).as("n"),
            max(when(col("rn") === expr("(n + 19) div 20"), col("o_totalprice")))
              .as("lo"),
            max(when(col("rn") === expr("(19 * n + 19) div 20"), col("o_totalprice")))
              .as("hi"))
        Tables.orders(s, dir)
          .join(broadcast(bounds), Seq("o_orderstatus"))
          .groupBy(col("o_orderstatus"), col("n"), col("lo"), col("hi"))
          .agg(Money.decSum(
            least(greatest(col("o_totalprice"), col("lo")), col("hi"))).as("wsum"))
          .select(
            col("o_orderstatus"), col("n"), col("lo"), col("hi"),
            (col("wsum") / col("n").cast("double")).as("winsorized_mean"))
          .orderBy(col("o_orderstatus"))
      },
      s"""WITH ranked AS (
         |  SELECT o_orderstatus, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderstatus
         |                       ORDER BY o_totalprice, o_orderkey) AS rn,
         |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
         |  FROM orders),
         |bounds AS (
         |  SELECT o_orderstatus, CAST(MAX(n) AS BIGINT) AS n,
         |    MAX(CASE WHEN rn = (n + 19) // 20 THEN o_totalprice END) AS lo,
         |    MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN o_totalprice END) AS hi
         |  FROM ranked GROUP BY 1)
         |SELECT o.o_orderstatus, b.n, b.lo, b.hi,
         |  ${Money.decSumSql("least(greatest(o_totalprice, lo), hi)")}
         |    / CAST(b.n AS DOUBLE) AS winsorized_mean
         |FROM orders o JOIN bounds b ON o.o_orderstatus = b.o_orderstatus
         |GROUP BY 1, 2, 3, 4
         |ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Percent-of-parent hierarchy rollup: customer counts per
    // region→nation with each nation's share of its region. The share
    // normalizer is a window over the ALREADY-AGGREGATED 25-row frame
    // partitioned by region — zero extra passes over the fact table,
    // and the dims broadcast into the customer scan. Integer counts,
    // one division.
    "region_nation_share" -> QueryDef(
      (s, dir) => {
        val byRegion = Window.partitionBy(col("r_name"))
        Tables.customer(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"))
          .withColumn("region_total", sum(col("n_customers")).over(byRegion))
          .select(
            col("r_name"), col("n_name"), col("n_customers"),
            (col("n_customers").cast("double") / col("region_total").cast("double"))
              .as("share_of_region"))
          .orderBy(col("r_name"), col("n_name"))
      },
      """WITH c AS (
        |  SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, n_customers,
        |  CAST(n_customers AS DOUBLE) /
        |    CAST(SUM(n_customers) OVER (PARTITION BY r_name) AS DOUBLE)
        |    AS share_of_region
        |FROM c
        |ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // Gini coefficient of order counts across customers — distributed
    // inequality measurement: ranks come from DenseId (range shuffle,
    // no single-partition window), the measure is an INTEGER (order
    // count), so every moment sum (N, Σx, Σi·x) is exact on any
    // engine and the classic closed form finishes in three fixed-order
    // double ops. Σi·x ≤ N²·max(x) stays far below 2^53 at any test
    // scale (the decimal-revenue variant would overflow the exact
    // double range at sf0.1 — measured constraint, CLAUDE.md).
    "customer_order_gini" -> QueryDef(
      (s, dir) => {
        val counts = Tables.orders(s, dir)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("nord"))
        graft.operators.DenseId
          .withDenseId(counts, Seq(col("nord"), col("o_custkey")), "i")
          .agg(
            count(lit(1)).as("n"),
            sum(col("nord")).as("s1"),
            sum(col("i") * col("nord")).as("si"))
          .select(
            col("n"), col("s1"),
            ((lit(2.0) * col("si").cast("double") -
              (col("n") + 1).cast("double") * col("s1").cast("double")) /
              (col("n").cast("double") * col("s1").cast("double"))).as("gini"))
      },
      """WITH c AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS nord
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT nord,
        |    row_number() OVER (ORDER BY nord, o_custkey) AS i
        |  FROM c),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(nord) AS BIGINT) AS s1,
        |    CAST(SUM(i * nord) AS BIGINT) AS si
        |  FROM r)
        |SELECT n, s1,
        |  (2.0 * CAST(si AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)) AS gini
        |FROM s""".stripMargin),

    // ------------------------------------------------------------------
    // Weighted median quantity per return flag, weighted by revenue —
    // computed on the VALUE HISTOGRAM (≤ |distinct qty| rows per
    // group), never per row: cumulative exact-decimal weights per
    // flag-partitioned window, and the crossing test is the
    // DIVISION-FREE 2·cum ≥ total (decimal doubling is exact; total/2
    // would round). One fact-table aggregation shuffle, then
    // histogram-sized windows.
    "weighted_median_qty" -> QueryDef(
      (s, dir) => {
        val byFlag = Window.partitionBy(col("l_returnflag"))
        val cumW = byFlag.orderBy(col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(20, 2))).as("w"))
          .withColumn("cum", sum(col("w")).over(cumW))
          .withColumn("total", sum(col("w")).over(byFlag))
          .filter(col("cum") * 2 >= col("total"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("l_quantity")).as("wmedian_qty"))
          .orderBy(col("l_returnflag"))
      },
      """WITH h AS (
        |  SELECT l_returnflag, l_quantity,
        |    SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, l_quantity,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS total
        |  FROM h)
        |SELECT l_returnflag, MIN(l_quantity) AS wmedian_qty
        |FROM c WHERE cum * 2 >= total
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Benford first-digit profile of order values — data-quality
    // fingerprinting. Digit extraction goes through DECIMAL cents
    // (cast to DECIMAL(12,2), ×100, to BIGINT, to string) because
    // double→string formatting differs between engines while
    // decimal/integer formatting does not. Map-side digit, 9-row
    // aggregate, share off the 9-row window.
    "benford_first_digit" -> QueryDef(
      (s, dir) => {
        val g = Window.partitionBy()
        Tables.orders(s, dir)
          .select(substring(
            (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
              .cast("long").cast("string"), 1, 1).as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .withColumn("share",
            col("n").cast("double") / sum(col("n")).over(g).cast("double"))
          .orderBy(col("digit"))
      },
      """WITH d AS (
        |  SELECT substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |                     AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM orders),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share
        |FROM c
        |ORDER BY digit""".stripMargin),

    // ------------------------------------------------------------------
    // Day-of-week × hour activity grid — the calendar heatmap. One
    // map-side projection + one ≤168-row aggregate. Weekday numbering
    // is the cross-engine trap: Spark's weekday() is 0=Monday while
    // dayofweek() is 1=Sunday; DuckDB's isodow() is 1=Monday. Both
    // sides are pinned to the ISO Monday=0 convention explicitly.
    "events_dow_hour_grid" -> QueryDef(
      (s, dir) =>
        Tables.events(s, dir)
          .select(expr("weekday(ts)").as("dow"), hour(col("ts")).as("hod"))
          .groupBy(col("dow"), col("hod"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("dow"), col("hod")),
      """SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
        |  CAST(hour(ts) AS INT) AS hod,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // ------------------------------------------------------------------
    // Lorenz curve by revenue decile — the Gini query's visual twin:
    // customers ranked by exact-decimal revenue into ExactNtile
    // deciles (no single-partition window), per-decile decimal sums,
    // then the cumulative share over the TEN-row decile frame. Decimal
    // sums stay exact end-to-end; doubles appear only in the final
    // per-decile division.
    "lorenz_deciles" -> QueryDef(
      (s, dir) => {
        val rev = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast(DecimalType(20, 2))).as("rev"))
        val cum = Window.partitionBy().orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = Window.partitionBy()
        graft.operators.ExactNtile
          .withNtile(rev, Seq(col("rev"), col("o_custkey")), 10, "decile")
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_cust"),
            sum(col("rev")).as("drev"))
          .withColumn("cum", sum(col("drev")).over(cum))
          .withColumn("total", sum(col("drev")).over(tot))
          .select(
            col("decile"), col("n_cust"),
            col("drev").cast("double").as("decile_rev"),
            (col("cum").cast("double") / col("total").cast("double"))
              .as("cum_share"))
          .orderBy(col("decile"))
      },
      """WITH rev AS (
        |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT rev,
        |    CAST(ntile(10) OVER (ORDER BY rev, o_custkey) AS INT) AS decile
        |  FROM rev),
        |d AS (
        |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    SUM(rev) AS drev
        |  FROM t GROUP BY 1)
        |SELECT decile, n_cust, CAST(drev AS DOUBLE) AS decile_rev,
        |  CAST(SUM(drev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |       AS DOUBLE)
        |    / CAST(SUM(drev) OVER () AS DOUBLE) AS cum_share
        |FROM d
        |ORDER BY decile""".stripMargin),

    // ------------------------------------------------------------------
    // Order-to-ship latency profile per priority: the latency is an
    // integer day count, so the whole profile — including the exact
    // median via the division-free 2·cum ≥ total crossing on the
    // latency histogram — is integer arithmetic. The orders⋈lineitem
    // equi-join is the only row-scale shuffle; everything after runs
    // on the (priority, latency) histogram.
    "ship_latency_profile" -> QueryDef(
      (s, dir) => {
        val byPrio = Window.partitionBy(col("o_orderpriority"))
        val cumW = byPrio.orderBy(col("lat"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"),
            datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
              .as("lat"))
          .groupBy(col("o_orderpriority"), col("lat"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(cumW))
          .withColumn("total", sum(col("c")).over(byPrio))
          .groupBy(col("o_orderpriority"))
          .agg(
            max(col("total")).as("n"),
            min(when(col("cum") * 2 >= col("total"), col("lat"))).as("median_days"),
            min(col("lat")).as("min_days"),
            max(col("lat")).as("max_days"))
          .orderBy(col("o_orderpriority"))
      },
      """WITH lat AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
        |      AS lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h AS (
        |  SELECT o_orderpriority, lat, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lat GROUP BY 1, 2),
        |w AS (
        |  SELECT o_orderpriority, lat, c,
        |    SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lat
        |                 ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY o_orderpriority) AS total
        |  FROM h)
        |SELECT o_orderpriority,
        |  CAST(MAX(total) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN cum * 2 >= total THEN lat END) AS INT) AS median_days,
        |  CAST(MIN(lat) AS INT) AS min_days,
        |  CAST(MAX(lat) AS INT) AS max_days
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Five-number summary (boxplot) of supplier balances per nation —
    // quartiles as integer-position row lookups (ceil(q·n) over the
    // (balance, suppkey) total order), so the values are actual data
    // points and bit-exact on any engine, never interpolated. The
    // windows partition by nation (bounded groups); one pass, one
    // shuffle.
    "supplier_balance_fivenum" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("n_name"))
          .orderBy(col("s_acctbal"), col("s_suppkey"))
        val cw = Window.partitionBy(col("n_name"))
        Tables.supplier(s, dir)
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("s_acctbal"), col("s_suppkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(cw))
          .groupBy(col("n_name"))
          .agg(
            max(col("n")).as("n"),
            min(col("s_acctbal")).as("bal_min"),
            max(when(col("rn") === expr("(n + 3) div 4"), col("s_acctbal"))).as("q1"),
            max(when(col("rn") === expr("(n + 1) div 2"), col("s_acctbal"))).as("median"),
            max(when(col("rn") === expr("(3 * n + 3) div 4"), col("s_acctbal"))).as("q3"),
            max(col("s_acctbal")).as("bal_max"))
          .orderBy(col("n_name"))
      },
      """WITH r AS (
        |  SELECT n_name, s_acctbal,
        |    row_number() OVER (PARTITION BY n_name
        |                       ORDER BY s_acctbal, s_suppkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY n_name) AS n
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, CAST(MAX(n) AS BIGINT) AS n,
        |  MIN(s_acctbal) AS bal_min,
        |  MAX(CASE WHEN rn = (n + 3) // 4 THEN s_acctbal END) AS q1,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN s_acctbal END) AS median,
        |  MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN s_acctbal END) AS q3,
        |  MAX(s_acctbal) AS bal_max
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Dormant-customer census per nation: customers whose LAST order
    // predates the dataset horizon (max order date) by more than 180
    // days, versus still-active ones. The horizon is a 1-row aggregate
    // broadcast back (J9 shape, whitelisted); the per-customer max and
    // the nation rollup are the only shuffles. Integer output.
    "dormant_customers" -> QueryDef(
      (s, dir) => {
        val lastOrd = Tables.orders(s, dir)
          .groupBy(col("o_custkey")).agg(max(col("o_orderdate")).as("last_ord"))
        val horizon = Tables.orders(s, dir)
          .agg(max(col("o_orderdate")).as("maxd"))
        lastOrd
          .crossJoin(broadcast(horizon))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(when(datediff(to_date(col("maxd")), to_date(col("last_ord"))) > 180, 1L)
              .otherwise(0L)).as("n_dormant"),
            sum(when(datediff(to_date(col("maxd")), to_date(col("last_ord"))) > 180, 0L)
              .otherwise(1L)).as("n_active"))
          .orderBy(col("n_name"))
      },
      """WITH last_ord AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_ord
        |  FROM orders GROUP BY 1),
        |h AS (SELECT MAX(o_orderdate) AS maxd FROM orders)
        |SELECT n_name,
        |  CAST(SUM(CASE WHEN date_diff('day', CAST(last_ord AS DATE),
        |                               CAST(maxd AS DATE)) > 180
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dormant,
        |  CAST(SUM(CASE WHEN date_diff('day', CAST(last_ord AS DATE),
        |                               CAST(maxd AS DATE)) > 180
        |           THEN 0 ELSE 1 END) AS BIGINT) AS n_active
        |FROM last_ord
        |CROSS JOIN h
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Maximum-drawdown series on monthly revenue — the classic
    // peak-to-trough measure: running maximum of the exact-decimal
    // monthly totals, drawdown = peak − current. Decimal max and
    // subtraction are exact, so every cell is bit-identical; the
    // running window covers only the bounded month series after the
    // wide aggregate.
    "revenue_drawdown" -> QueryDef(
      (s, dir) => {
        val runW = Window.partitionBy().orderBy(col("month"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, dir)
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg(sum(col("o_totalprice").cast(DecimalType(20, 2))).as("rev"))
          .withColumn("peak", max(col("rev")).over(runW))
          .select(
            col("month"),
            col("rev").cast("double").as("revenue"),
            col("peak").cast("double").as("running_peak"),
            (col("peak") - col("rev")).cast("double").as("drawdown"))
          .orderBy(col("month"))
      },
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT month, rev,
        |    MAX(rev) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM m)
        |SELECT month, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(peak AS DOUBLE) AS running_peak,
        |  CAST(peak - rev AS DOUBLE) AS drawdown
        |FROM p ORDER BY month""".stripMargin),

    // ------------------------------------------------------------------
    // Key-space gap audit — sequence completeness QA: bucket the
    // surrogate key range, compare actual distinct keys per bucket to
    // the bucket's covered span, and report every bucket's hole count
    // (0 = complete — emitted so the audit is a full census, not just
    // exceptions). All integer arithmetic, map-side bucketing, one
    // aggregate; the global horizon rides a broadcast 1-row aggregate.
    "orderkey_gap_audit" -> QueryDef(
      (s, dir) => {
        val horizon = Tables.orders(s, dir)
          .agg(max(col("o_orderkey")).as("maxk"))
        Tables.orders(s, dir)
          .select(expr("(o_orderkey - 1) div 10000").as("bucket"),
            col("o_orderkey"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_keys"),
            min(col("o_orderkey")).as("k_min"),
            max(col("o_orderkey")).as("k_max"))
          .crossJoin(broadcast(horizon))
          .select(col("bucket"), col("n_keys"),
            (least(col("maxk"), (col("bucket") + 1) * 10000) -
              col("bucket") * 10000).as("span"),
            (least(col("maxk"), (col("bucket") + 1) * 10000) -
              col("bucket") * 10000 - col("n_keys")).as("n_missing"))
          .orderBy(col("bucket"))
      },
      """WITH h AS (SELECT MAX(o_orderkey) AS maxk FROM orders),
        |b AS (
        |  SELECT (o_orderkey - 1) // 10000 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_keys
        |  FROM orders GROUP BY 1)
        |SELECT bucket, n_keys,
        |  least(maxk, (bucket + 1) * 10000) - bucket * 10000 AS span,
        |  least(maxk, (bucket + 1) * 10000) - bucket * 10000 - n_keys AS n_missing
        |FROM b CROSS JOIN h
        |ORDER BY bucket""".stripMargin),

    // ------------------------------------------------------------------
    // Join-key skew profile — the table that decides whether a join
    // needs salting (operators.SaltedAgg) BEFORE it runs: distribution
    // of per-key row counts for a prospective join key, as max/p50/p99
    // frequency plus the row share of the 10 hottest keys. Percentiles
    // via the freq-of-freq histogram + division-free crossing (the
    // windows run over histogram-sized frames); top-10 is a bounded
    // TakeOrdered. All integers — engine-exact.
    "join_key_skew_profile" -> QueryDef(
      (s, dir) => {
        val freq = Tables.orders(s, dir)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("f"))
        val top10 = freq.orderBy(desc("f"), col("o_custkey")).limit(10)
          .agg(sum(col("f")).as("top10_rows"))
        val cumW = Window.orderBy(col("f"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        freq.groupBy(col("f")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(cumW))
          .withColumn("total", sum(col("c")).over(Window.partitionBy()))
          .agg(
            sum(col("f") * col("c")).as("n_rows"),
            max(col("total")).as("n_keys"),
            max(col("f")).as("max_freq"),
            min(when(col("cum") * 2 >= col("total"), col("f"))).as("p50_freq"),
            min(when(col("cum") * 100 >= col("total") * 99, col("f"))).as("p99_freq"))
          .crossJoin(broadcast(top10))
      },
      """WITH freq AS (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM orders GROUP BY 1),
        |t10 AS (
        |  SELECT CAST(SUM(f) AS BIGINT) AS top10_rows
        |  FROM (SELECT f FROM freq ORDER BY f DESC, o_custkey LIMIT 10)),
        |h AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS c FROM freq GROUP BY 1),
        |w AS (
        |  SELECT f, c,
        |    SUM(c) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER () AS total
        |  FROM h)
        |SELECT CAST(SUM(f * c) AS BIGINT) AS n_rows,
        |  CAST(MAX(total) AS BIGINT) AS n_keys,
        |  CAST(MAX(f) AS BIGINT) AS max_freq,
        |  CAST(MIN(CASE WHEN cum * 2 >= total THEN f END) AS BIGINT) AS p50_freq,
        |  CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN f END) AS BIGINT) AS p99_freq,
        |  (SELECT top10_rows FROM t10) AS top10_rows
        |FROM w""".stripMargin),

    // ------------------------------------------------------------------
    // Simple linear regression (OLS) of quantity on discount per flag
    // — the corr query's sibling: the same exact decimal moment sums
    // feed the closed-form slope and intercept, finishing in
    // fixed-order IEEE doubles. One aggregation pass, bit-exact.
    "ols_qty_on_discount" -> QueryDef(
      (s, dir) => {
        val x = col("l_discount").cast(DecimalType(3, 2))
        val y = col("l_quantity").cast(DecimalType(4, 0))
        val nD = col("n").cast("double")
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * y).cast("double").as("sxy"),
            sum(x * x).cast("double").as("sxx"))
          .select(
            col("l_returnflag"), col("n"),
            ((nD * col("sxy") - col("sx") * col("sy")) /
              (nD * col("sxx") - col("sx") * col("sx"))).as("slope"),
            ((col("sy") - (nD * col("sxy") - col("sx") * col("sy")) /
              (nD * col("sxx") - col("sx") * col("sx")) * col("sx")) / nD)
              .as("intercept"))
          .orderBy(col("l_returnflag"))
      },
      """WITH s AS (
        |  SELECT l_returnflag,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))
        |             * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))
        |             * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |  (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
        |  (sy - (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE)
        |    AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin),

    // ------------------------------------------------------------------
    // Grouped OLS: per-region monthly-revenue trend — the ols recipe
    // (exact decimal moment sums, fixed-order IEEE finish) with a
    // grouped twist: month totals are exact DECIMAL first (one star
    // shuffle + one O(region×month) agg), so every moment's unscaled
    // value stays < 2⁵³ and the decimal→double conversion is
    // identical cross-engine.
    "trend_by_region" -> QueryDef(
      (s, dir) => {
        val monthly = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(
            col("r_name").as("region"),
            ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
              .cast("long").as("mi"))
          .agg(sum(col("o_totalprice").cast(DecimalType(20, 2))).as("rev"))
        val nD = col("n").cast("double")
        monthly
          .groupBy(col("region"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("mi")).cast("double").as("sx"),
            sum(col("rev")).cast("double").as("sy"),
            sum(col("mi") * col("rev")).cast("double").as("sxy"),
            sum(col("mi") * col("mi")).cast("double").as("sxx"))
          .select(
            col("region"), col("n").as("n_months"),
            ((nD * col("sxy") - col("sx") * col("sy")) /
              (nD * col("sxx") - col("sx") * col("sx"))).as("slope"),
            ((col("sy") - (nD * col("sxy") - col("sx") * col("sy")) /
              (nD * col("sxx") - col("sx") * col("sx")) * col("sx")) / nD)
              .as("intercept"))
          .orderBy(col("region"))
      },
      """WITH m AS (
        |  SELECT r_name AS region,
        |    CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mi,
        |    SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |s AS (
        |  SELECT region, COUNT(*) AS n,
        |    CAST(SUM(mi) AS DOUBLE) AS sx,
        |    CAST(SUM(rev) AS DOUBLE) AS sy,
        |    CAST(SUM(mi * rev) AS DOUBLE) AS sxy,
        |    CAST(SUM(mi * mi) AS DOUBLE) AS sxx
        |  FROM m GROUP BY 1)
        |SELECT region, CAST(n AS BIGINT) AS n_months,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |  (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
        |  (sy - (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |        (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE) AS intercept
        |FROM s ORDER BY region""".stripMargin),

    // ------------------------------------------------------------------
    // Pairwise Pearson matrix over (quantity, discount, tax) in ONE
    // pass: nine exact decimal moment sums in a single aggregation
    // (small measures — the corr decimal→double lesson), then each
    // pair's r as a fixed IEEE chain with correctly-rounded sqrt.
    // The output is the flattened upper triangle.
    "corr_matrix_lineitem" -> QueryDef(
      (s, dir) => {
        val q = col("l_quantity").cast(DecimalType(4, 0))
        val d = col("l_discount").cast(DecimalType(3, 2))
        val t = col("l_tax").cast(DecimalType(3, 2))
        val nD = col("n").cast("double")
        val m = Tables.lineitem(s, dir).agg(
          count(lit(1)).as("n"),
          sum(q).cast("double").as("sq"),
          sum(d).cast("double").as("sd"),
          sum(t).cast("double").as("st"),
          sum(q * q).cast("double").as("sqq"),
          sum(d * d).cast("double").as("sdd"),
          sum(t * t).cast("double").as("stt"),
          sum(q * d).cast("double").as("sqd"),
          sum(q * t).cast("double").as("sqt"),
          sum(d * t).cast("double").as("sdt"))
        def r(sxy: String, sx: String, sy: String, sxx: String, syy: String) =
          (nD * col(sxy) - col(sx) * col(sy)) /
            (sqrt(nD * col(sxx) - col(sx) * col(sx)) *
              sqrt(nD * col(syy) - col(sy) * col(sy)))
        m.select(lit("quantity").as("var_x"), lit("discount").as("var_y"),
            r("sqd", "sq", "sd", "sqq", "sdd").as("r"))
          .unionAll(m.select(lit("quantity").as("var_x"), lit("tax").as("var_y"),
            r("sqt", "sq", "st", "sqq", "stt").as("r")))
          .unionAll(m.select(lit("discount").as("var_x"), lit("tax").as("var_y"),
            r("sdt", "sd", "st", "sdd", "stt").as("r")))
          .orderBy(col("var_x"), col("var_y"))
      },
      """WITH s AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sq,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sd,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(3,2))) AS DOUBLE) AS st,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0)) * CAST(l_quantity AS DECIMAL(4,0))) AS DOUBLE) AS sqq,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sdd,
        |    CAST(SUM(CAST(l_tax AS DECIMAL(3,2)) * CAST(l_tax AS DECIMAL(3,2))) AS DOUBLE) AS stt,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sqd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(4,0)) * CAST(l_tax AS DECIMAL(3,2))) AS DOUBLE) AS sqt,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(3,2)) * CAST(l_tax AS DECIMAL(3,2))) AS DOUBLE) AS sdt
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'quantity' AS var_x, 'discount' AS var_y,
        |    (CAST(n AS DOUBLE) * sqd - sq * sd) /
        |    (sqrt(CAST(n AS DOUBLE) * sqq - sq * sq) * sqrt(CAST(n AS DOUBLE) * sdd - sd * sd)) AS r
        |  FROM s
        |  UNION ALL
        |  SELECT 'quantity', 'tax',
        |    (CAST(n AS DOUBLE) * sqt - sq * st) /
        |    (sqrt(CAST(n AS DOUBLE) * sqq - sq * sq) * sqrt(CAST(n AS DOUBLE) * stt - st * st))
        |  FROM s
        |  UNION ALL
        |  SELECT 'discount', 'tax',
        |    (CAST(n AS DOUBLE) * sdt - sd * st) /
        |    (sqrt(CAST(n AS DOUBLE) * sdd - sd * sd) * sqrt(CAST(n AS DOUBLE) * stt - st * st))
        |  FROM s) t
        |ORDER BY var_x, var_y""".stripMargin),

    // ------------------------------------------------------------------
    // Median absolute deviation of quantity per flag — robust spread,
    // fully exact: the median comes off the (flag, qty) histogram via
    // the division-free 2·cum ≥ total crossing, the 3-row median table
    // broadcasts back onto the SAME histogram (never the rows), the
    // deviation histogram re-aggregates, and the crossing runs again.
    // Two fact-scale shuffles total (the first histogram build is
    // one); everything else is histogram-sized. Decimal |x−m| is
    // exact, so MAD is bit-identical on any engine.
    "mad_quantity" -> QueryDef(
      (s, dir) => {
        val q = col("l_quantity").cast(DecimalType(4, 0))
        def crossing(h: DataFrame, valCol: String, out: String): DataFrame = {
          val byFlag = Window.partitionBy(col("l_returnflag"))
          val cumW = byFlag.orderBy(col(valCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          h.withColumn("cum", sum(col("c")).over(cumW))
            .withColumn("total", sum(col("c")).over(byFlag))
            .filter(col("cum") * 2 >= col("total"))
            .groupBy(col("l_returnflag"))
            .agg(min(col(valCol)).as(out))
        }
        val hist = Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"), q.as("qty"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val med = crossing(hist, "qty", "med")
        val devHist = hist.join(broadcast(med), Seq("l_returnflag"))
          .groupBy(col("l_returnflag"), abs(col("qty") - col("med")).as("dev"))
          .agg(sum(col("c")).as("c"))
        crossing(devHist, "dev", "mad")
          .join(broadcast(med), Seq("l_returnflag"))
          .select(col("l_returnflag"),
            col("med").cast("double").as("median_qty"),
            col("mad").cast("double").as("mad_qty"))
          .orderBy(col("l_returnflag"))
      },
      """WITH hist AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(4,0)) AS qty,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, MIN(qty) AS med FROM (
        |    SELECT l_returnflag, qty, c,
        |      SUM(c) OVER (PARTITION BY l_returnflag ORDER BY qty
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |      SUM(c) OVER (PARTITION BY l_returnflag) AS total
        |    FROM hist)
        |  WHERE cum * 2 >= total GROUP BY 1),
        |dev AS (
        |  SELECT h.l_returnflag, abs(qty - med) AS dev, SUM(c) AS c
        |  FROM hist h JOIN m USING (l_returnflag)
        |  GROUP BY 1, 2),
        |mad AS (
        |  SELECT l_returnflag, MIN(dev) AS mad FROM (
        |    SELECT l_returnflag, dev, c,
        |      SUM(c) OVER (PARTITION BY l_returnflag ORDER BY dev
        |                   ROWS UNBOUNDED PRECEDING) AS cum,
        |      SUM(c) OVER (PARTITION BY l_returnflag) AS total
        |    FROM dev)
        |  WHERE cum * 2 >= total GROUP BY 1)
        |SELECT l_returnflag,
        |  CAST(med AS DOUBLE) AS median_qty,
        |  CAST(mad AS DOUBLE) AS mad_qty
        |FROM mad JOIN m USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),

    // ------------------------------------------------------------------
    // ABC (Pareto) classification of parts by revenue: A = parts
    // covering the first 80% of revenue, B = to 95%, C = the tail.
    // Revenue ranks run through PrefixSum's distributed cumulative
    // (exact integer cents, descending order via negated keys — no
    // single-partition window over parts), the class test is the
    // integer cross-multiplication 5·cum ≤ 4·total / 20·cum ≤
    // 19·total, and the grand total rides a broadcast 1-row aggregate.
    "abc_classification" -> QueryDef(
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(20, 2))).as("rev"))
          .select(col("l_partkey"),
            (col("rev") * 100).cast("long").as("cents"))
          .withColumn("negcents", -col("cents"))
        val tot = rev.agg(sum(col("cents")).as("total"))
        graft.operators.PrefixSum
          .withExclusivePrefix(
            rev, Seq(col("negcents"), col("l_partkey")), "cents", "prefix")
          .crossJoin(broadcast(tot))
          .withColumn("cuminc", col("prefix") + col("cents"))
          .withColumn("abc_class",
            when(col("cuminc") * 5 <= col("total") * 4, "A")
              .when(col("cuminc") * 20 <= col("total") * 19, "B")
              .otherwise("C"))
          .groupBy(col("abc_class"))
          .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("class_cents"))
          .select(col("abc_class"), col("n_parts"),
            (col("class_cents").cast("double") / lit(100.0)).as("class_revenue"))
          .orderBy(col("abc_class"))
      },
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev),
        |c AS (
        |  SELECT cents,
        |    CAST(SUM(cents) OVER (ORDER BY -cents, l_partkey
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuminc
        |  FROM rev),
        |cls AS (
        |  SELECT cents,
        |    CASE WHEN cuminc * 5 <= total * 4 THEN 'A'
        |         WHEN cuminc * 20 <= total * 19 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM c CROSS JOIN t)
        |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS class_revenue
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Top discount days WITH TIES — dense_rank semantics (every day
    // tied on the integer count keeps its rank, unlike the row_number
    // top-k elsewhere). The window runs over the aggregated day frame,
    // never rows; the measure is an integer so ties are engine-exact.
    "top_discount_days_with_ties" -> QueryDef(
      (s, dir) => {
        val byRank = Window.partitionBy().orderBy(col("n_discounted").desc)
        Tables.lineitem(s, dir)
          .filter(col("l_discount") >= 0.05)
          .groupBy(to_date(col("l_shipdate")).as("ship_day"))
          .agg(count(lit(1)).as("n_discounted"))
          .withColumn("rnk", dense_rank().over(byRank))
          .filter(col("rnk") <= 3)
          .select(col("ship_day"), col("n_discounted"), col("rnk"))
          .orderBy(col("rnk"), col("ship_day"))
      },
      """WITH d AS (
        |  SELECT CAST(l_shipdate AS DATE) AS ship_day,
        |    CAST(COUNT(*) AS BIGINT) AS n_discounted
        |  FROM lineitem WHERE l_discount >= 0.05
        |  GROUP BY 1)
        |SELECT ship_day, n_discounted,
        |  CAST(dense_rank() OVER (ORDER BY n_discounted DESC) AS INT) AS rnk
        |FROM d QUALIFY rnk <= 3
        |ORDER BY rnk, ship_day""".stripMargin),

    // ------------------------------------------------------------------
    // First-vs-last order value trend per nation — first_value /
    // last_value over the full frame (ROWS UNBOUNDED PRECEDING AND
    // FOLLOWING, the trap being that last_value defaults to CURRENT
    // ROW): customer-partitioned windows scale out, the decimal
    // difference is exact, and the nation census is integers.
    "customer_price_trend" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val p = col("o_totalprice").cast(DecimalType(12, 2))
        val perCust = Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), p.as("p"))
          .withColumn("first_p", first(col("p")).over(w))
          .withColumn("last_p", last(col("p")).over(w))
          .groupBy(col("o_custkey"))
          .agg(max(col("first_p")).as("first_p"), max(col("last_p")).as("last_p"))
        perCust
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            sum(when(col("last_p") > col("first_p"), 1L).otherwise(0L)).as("n_up"),
            sum(when(col("last_p") < col("first_p"), 1L).otherwise(0L)).as("n_down"),
            sum(when(col("last_p") === col("first_p"), 1L).otherwise(0L)).as("n_flat"))
          .orderBy(col("n_name"))
      },
      """WITH fl AS (
        |  SELECT o_custkey,
        |    first_value(CAST(o_totalprice AS DECIMAL(12,2)))
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS first_p,
        |    last_value(CAST(o_totalprice AS DECIMAL(12,2)))
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS last_p
        |  FROM orders),
        |pc AS (
        |  SELECT o_custkey, MAX(first_p) AS first_p, MAX(last_p) AS last_p
        |  FROM fl GROUP BY 1)
        |SELECT n_name,
        |  CAST(SUM(CASE WHEN last_p > first_p THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
        |  CAST(SUM(CASE WHEN last_p < first_p THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        |  CAST(SUM(CASE WHEN last_p = first_p THEN 1 ELSE 0 END) AS BIGINT) AS n_flat
        |FROM pc
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // percent_rank and cume_dist over the monthly revenue series —
    // the remaining ANSI rank-family functions, run on the bounded
    // month frame after the wide aggregate. Their closed forms are
    // single divisions of integers ((rank−1)/(n−1), peers/n), so both
    // engines produce identical doubles.
    "month_revenue_percentiles" -> QueryDef(
      (s, dir) => {
        val byRev = Window.partitionBy().orderBy(col("rev_cents"))
        Tables.orders(s, dir)
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
          .agg((sum(col("o_totalprice").cast(DecimalType(20, 2))) * 100)
            .cast("long").as("rev_cents"))
          .withColumn("pr", percent_rank().over(byRev))
          .withColumn("cd", cume_dist().over(byRev))
          .select(col("month"),
            (col("rev_cents").cast("double") / lit(100.0)).as("revenue"),
            col("pr").as("pct_rank"), col("cd").as("cume_dist"))
          .orderBy(col("month"))
      },
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) * 100 AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT month,
        |  CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
        |  percent_rank() OVER (ORDER BY rev_cents) AS pct_rank,
        |  cume_dist() OVER (ORDER BY rev_cents) AS cume_dist
        |FROM m
        |ORDER BY month""".stripMargin),

    // ------------------------------------------------------------------
    // Priority mix shift by year: each priority's share of the year's
    // orders and its change versus the previous year. Shares are
    // single divisions of exact integers; the delta subtracts two such
    // doubles in identical order, and the lag runs on the bounded
    // year×priority frame partitioned by priority.
    "priority_mix_shift" -> QueryDef(
      (s, dir) => {
        val byYear = Window.partitionBy(col("yr"))
        val byPrio = Window.partitionBy(col("o_orderpriority")).orderBy(col("yr"))
        Tables.orders(s, dir)
          .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .withColumn("share",
            col("n").cast("double") / sum(col("n")).over(byYear).cast("double"))
          .withColumn("delta_share", col("share") - lag(col("share"), 1).over(byPrio))
          .filter(col("delta_share").isNotNull)
          .select(col("yr"), col("o_orderpriority"), col("n"),
            col("share"), col("delta_share"))
          .orderBy(col("yr"), col("o_orderpriority"))
      },
      """WITH c AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT yr, o_orderpriority, n,
        |    CAST(n AS DOUBLE) /
        |      CAST(SUM(n) OVER (PARTITION BY yr) AS DOUBLE) AS share
        |  FROM c)
        |SELECT yr, o_orderpriority, n, share,
        |  share - lag(share) OVER (PARTITION BY o_orderpriority ORDER BY yr)
        |    AS delta_share
        |FROM s
        |QUALIFY delta_share IS NOT NULL
        |ORDER BY yr, o_orderpriority""".stripMargin),

    // ------------------------------------------------------------------
    // Herfindahl–Hirschman concentration of order volume across
    // suppliers, per nation: HHI = Σcᵢ²/T² computed from EXACT integer
    // sums (never Σ(cᵢ/T)² — per-row double squares would accumulate
    // in engine-dependent order), finishing in one division. The
    // per-supplier counts shuffle once; the nation rollup is bounded.
    "supplier_hhi" -> QueryDef(
      (s, dir) => {
        val perSupp = Tables.lineitem(s, dir)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("c"))
          .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
        perSupp
          .groupBy(col("n_name"))
          .agg(
            count(lit(1)).as("n_suppliers"),
            sum(col("c")).as("t"),
            sum(col("c") * col("c")).as("sq"))
          .select(col("n_name"), col("n_suppliers"),
            (col("sq").cast("double") /
              (col("t") * col("t")).cast("double")).as("hhi"))
          .orderBy(col("n_name"))
      },
      """WITH s AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |n AS (
        |  SELECT n_name,
        |    CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |    CAST(SUM(c) AS BIGINT) AS t,
        |    CAST(SUM(c * c) AS BIGINT) AS sq
        |  FROM s
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT n_name, n_suppliers,
        |  CAST(sq AS DOUBLE) / CAST(t * t AS DOUBLE) AS hhi
        |FROM n
        |ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // RFM segmentation — the classic customer triage: recency
    // (days since last order vs the dataset horizon), frequency
    // (order count), monetary (exact decimal revenue as integer
    // cents), each quintiled through ExactNtile (distributed rank, no
    // single-partition window; recency ASCENDING so quintile 1 = most
    // recent), then the 125-cell segment census. All inputs to the
    // quintiles are exact integers, so cell membership is bit-exact.
    "rfm_segments" -> QueryDef(
      (s, dir) => {
        val horizon = Tables.orders(s, dir).agg(max(col("o_orderdate")).as("maxd"))
        val base = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(
            max(col("o_orderdate")).as("last_ord"),
            count(lit(1)).as("freq"),
            (sum(col("o_totalprice").cast(DecimalType(20, 2))) * 100)
              .cast("long").as("cents"))
          .crossJoin(broadcast(horizon))
          .withColumn("rec_days",
            datediff(to_date(col("maxd")), to_date(col("last_ord"))))
        val withR = graft.operators.ExactNtile.withNtile(
          base, Seq(col("rec_days"), col("o_custkey")), 5, "r")
        val withF = graft.operators.ExactNtile.withNtile(
          withR, Seq(col("freq"), col("o_custkey")), 5, "f")
        val withM = graft.operators.ExactNtile.withNtile(
          withF, Seq(col("cents"), col("o_custkey")), 5, "m")
        withM
          .groupBy(col("r"), col("f"), col("m"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("r"), col("f"), col("m"))
      },
      """WITH h AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
        |base AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(MAX(o_orderdate) AS DATE),
        |              CAST(ANY_VALUE(maxd) AS DATE)) AS rec_days,
        |    COUNT(*) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders CROSS JOIN h
        |  GROUP BY 1),
        |q AS (
        |  SELECT
        |    CAST(ntile(5) OVER (ORDER BY rec_days, o_custkey) AS INT) AS r,
        |    CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS INT) AS f,
        |    CAST(ntile(5) OVER (ORDER BY cents, o_custkey) AS INT) AS m
        |  FROM base)
        |SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ------------------------------------------------------------------
    // New-vs-repeat revenue split per month: each order's revenue
    // lands in the NEW bucket iff its month is the customer's
    // first-ever order month. The first-month attach is a user-keyed
    // join; revenue stays in exact decimals until the final cast.
    "new_vs_repeat_revenue" -> QueryDef(
      (s, dir) => {
        val firstm = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(date_trunc("month", min(col("o_orderdate"))).cast("date").as("first_month"))
        Tables.orders(s, dir)
          .join(firstm, Seq("o_custkey"))
          .withColumn("month", date_trunc("month", col("o_orderdate")).cast("date"))
          .groupBy(col("month"))
          .agg(
            sum(when(col("month") === col("first_month"),
              col("o_totalprice").cast(DecimalType(20, 2))).otherwise(lit(0)))
              .as("new_dec"),
            sum(when(col("month") =!= col("first_month"),
              col("o_totalprice").cast(DecimalType(20, 2))).otherwise(lit(0)))
              .as("rep_dec"))
          .select(col("month"),
            col("new_dec").cast("double").as("new_revenue"),
            col("rep_dec").cast("double").as("repeat_revenue"))
          .orderBy(col("month"))
      },
      """WITH fm AS (
        |  SELECT o_custkey,
        |    CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS first_month
        |  FROM orders GROUP BY 1)
        |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(SUM(CASE WHEN CAST(date_trunc('month', o_orderdate) AS DATE)
        |                     = first_month
        |           THEN CAST(o_totalprice AS DECIMAL(20,2)) ELSE 0 END)
        |       AS DOUBLE) AS new_revenue,
        |  CAST(SUM(CASE WHEN CAST(date_trunc('month', o_orderdate) AS DATE)
        |                     <> first_month
        |           THEN CAST(o_totalprice AS DECIMAL(20,2)) ELSE 0 END)
        |       AS DOUBLE) AS repeat_revenue
        |FROM orders JOIN fm USING (o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Order-width histogram — join fan-out QA: how many line items an
    // order carries, as a distribution with shares. Two nested
    // integer aggregates; the share divides exact integers once.
    "order_width_histogram" -> QueryDef(
      (s, dir) => {
        val tot = Window.partitionBy()
        Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
          .groupBy(col("n_lines")).agg(count(lit(1)).as("n_orders"))
          .withColumn("share",
            col("n_orders").cast("double") /
              sum(col("n_orders")).over(tot).cast("double"))
          .orderBy(col("n_lines"))
      },
      """WITH w AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |h AS (
        |  SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM w GROUP BY 1)
        |SELECT n_lines, n_orders,
        |  CAST(n_orders AS DOUBLE) / CAST(SUM(n_orders) OVER () AS DOUBLE)
        |    AS share
        |FROM h
        |ORDER BY n_lines""".stripMargin),

    // ------------------------------------------------------------------
    // Q-Q comparison of quantity across return flags: the nine decile
    // values per flag via integer-position row lookups (actual data
    // points, engine-exact), pivoted to one row per decile — the
    // distributional-shift diagnostic. Flag-partitioned windows over
    // the fact scan, then a 27-cell conditional-max pivot.
    "qq_quantity_by_flag" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
        val cw = Window.partitionBy(col("l_returnflag"))
        val ranked = Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_quantity"),
            col("l_orderkey"), col("l_linenumber"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(cw))
        val deciles = (1 to 9).map { k =>
          max(when(col("rn") === expr(s"($k * n + 9) div 10"), col("l_quantity")))
            .as(s"d$k")
        }
        ranked
          .groupBy(col("l_returnflag"))
          .agg(deciles.head, deciles.tail: _*)
          .orderBy(col("l_returnflag"))
      },
      s"""WITH r AS (
         |  SELECT l_returnflag, l_quantity,
         |    row_number() OVER (PARTITION BY l_returnflag
         |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
         |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem)
         |SELECT l_returnflag,
         |${(1 to 9).map(k =>
             s"  MAX(CASE WHEN rn = ($k * n + 9) // 10 THEN l_quantity END) AS d$k")
             .mkString(",\n")}
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Cohort conversion: of the users whose FIRST event falls in week
    // w, how many ever purchase (at or after that first event)?
    // Composes the cohort attach with a filtered semi-join-style
    // flag; counts are integers, the rate is one division.
    "cohort_conversion" -> QueryDef(
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val firstw = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
        val purchasers = ev.filter(col("event_type") === "purchase")
          .select(col("user_id")).distinct()
          .withColumn("converted", lit(1L))
        firstw
          .join(purchasers, Seq("user_id"), "left")
          .groupBy(col("cohort_week"))
          .agg(
            count(lit(1)).as("n_users"),
            sum(coalesce(col("converted"), lit(0L))).as("n_converted"))
          .withColumn("cvr",
            col("n_converted").cast("double") / col("n_users").cast("double"))
          .orderBy(col("cohort_week"))
      },
      """WITH fw AS (
        |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1),
        |pu AS (
        |  SELECT DISTINCT user_id, 1 AS converted
        |  FROM events WHERE event_type = 'purchase')
        |SELECT cohort_week,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(COALESCE(converted, 0)) AS BIGINT) AS n_converted,
        |  CAST(SUM(COALESCE(converted, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS cvr
        |FROM fw LEFT JOIN pu USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // Whale share: the revenue fraction held by the top 1% of
    // customers (at least one). The whale count is the exact integer
    // ceil(n/100) over the DenseId rank (descending via negated
    // cents), revenue stays in integer cents until the final
    // division, and both totals ride broadcast 1-row aggregates.
    "whale_share" -> QueryDef(
      (s, dir) => {
        val rev = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast(DecimalType(20, 2))) * 100)
            .cast("long").as("cents"))
          .withColumn("negcents", -col("cents"))
        val tot = rev.agg(
          count(lit(1)).as("n_cust"), sum(col("cents")).as("total_cents"))
        graft.operators.DenseId
          .withDenseId(rev, Seq(col("negcents"), col("o_custkey")), "rk")
          .crossJoin(broadcast(tot))
          .filter(col("rk") <= expr("(n_cust + 99) div 100"))
          .groupBy(col("n_cust"), col("total_cents"))
          .agg(count(lit(1)).as("n_whales"), sum(col("cents")).as("whale_cents"))
          .select(
            col("n_cust"), col("n_whales"),
            (col("whale_cents").cast("double") / col("total_cents").cast("double"))
              .as("whale_share"))
      },
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(20,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
        |    CAST(SUM(cents) AS BIGINT) AS total_cents
        |  FROM rev),
        |r AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY -cents, o_custkey) AS rk
        |  FROM rev)
        |SELECT n_cust,
        |  CAST(COUNT(*) AS BIGINT) AS n_whales,
        |  CAST(SUM(cents) AS DOUBLE) / CAST(total_cents AS DOUBLE) AS whale_share
        |FROM r CROSS JOIN t
        |WHERE rk <= (n_cust + 99) // 100
        |GROUP BY n_cust, total_cents""".stripMargin),

    // ------------------------------------------------------------------
    // Z-order (Morton) cell statistics — the key behind multi-dim
    // data-skipping layout: interleaving
    // (customer, order-day) bits makes each coarse z-cell cover a
    // bounded RECTANGLE in both dimensions at once, which is exactly
    // why z-clustered files carry tight footer stats on both columns.
    // Pure integer bit arithmetic (32 disjoint-bit terms), restated
    // verbatim in the oracle.
    "zorder_cell_stats" -> QueryDef(
      (s, dir) => {
        val x = (col("o_custkey") % 65536).cast("long")
        val y = (datediff(col("o_orderdate"), to_date(lit("1992-01-01"))) % 65536).cast("long")
        Tables.orders(s, dir)
          .select(graft.functions.ZOrder.interleave16(x, y).as("zval"),
            x.as("x"), y.as("y"))
          .select(expr("zval div 1048576").as("cell"), col("x"), col("y"))
          .groupBy(col("cell"))
          .agg(
            count(lit(1)).as("n"),
            min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max"))
          .orderBy(col("cell"))
      },
      s"""WITH k AS (
         |  SELECT (o_custkey % 65536) AS x,
         |         (date_diff('day', DATE '1992-01-01', o_orderdate) % 65536) AS y
         |  FROM orders),
         |z AS (SELECT x, y, ${graft.functions.ZOrder.interleave16Sql("x", "y")} AS zval FROM k)
         |SELECT CAST(zval // 1048576 AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
         |  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // RANGE-interval window frame (the VALUE-based frame Spark + DuckDB
    // both support and nothing else in the repo exercised): per
    // supplier, trailing 30-day shipped quantity. Pre-aggregate to the
    // (supplier, day) grain FIRST — the window then slides over ≤
    // days-per-supplier rows instead of raw lineitems, and the frame is
    // RANGE over epoch-day so calendar gaps are handled by VALUE, not
    // row count (a ROWS frame would silently include out-of-window
    // days). Supplier filter sits on the partition key, so it prunes
    // the scan without changing any frame's contents.
    "supplier_trailing30_range" -> QueryDef(
      (s, dir) => {
        val daily = Tables.lineitem(s, dir)
          .filter(col("l_suppkey") < 20)
          .groupBy(
            col("l_suppkey"),
            datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
              .cast("long").as("ship_day"))
          .agg(sum(col("l_quantity").cast("long")).as("day_qty"))
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("ship_day"))
          .rangeBetween(-29, Window.currentRow)
        daily
          .withColumn("trail30_qty", sum(col("day_qty")).over(w))
          .orderBy(col("l_suppkey"), col("ship_day"))
      },
      """WITH d AS (
        |  SELECT l_suppkey,
        |    CAST(date_diff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) AS ship_day,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS day_qty
        |  FROM lineitem WHERE l_suppkey < 20 GROUP BY 1, 2)
        |SELECT l_suppkey, ship_day, day_qty,
        |  CAST(SUM(day_qty) OVER (PARTITION BY l_suppkey ORDER BY ship_day
        |       RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail30_qty
        |FROM d ORDER BY l_suppkey, ship_day""".stripMargin),

    // ------------------------------------------------------------------
    // Mergeable equi-width histogram quantile sketch — the quantile
    // member of the sketch family (CMS=frequency, KMV/HLL=distinct,
    // AMS=F2, Space-Saving=top-k): per-status bin counts collapse
    // map-side and MERGE across shards by addition, so a 100 TB
    // quantile profile pays one O(bins) shuffle per group instead of
    // sorting the values; the approx quantile is the first bin whose
    // cumulative count crosses k = ceil(q·n), reported as the bin's
    // upper bound in cents. Quantile targets are exact integer
    // fractions ((num·n + den − 1) div den — no float q·n), so both
    // engines derive identical k. The exact order statistic
    // (row_number = k) rides as the accuracy twin, same pattern as the
    // distinct sketches' exact passes.
    "quantile_sketch_price" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cents = Tables.orders(s, dir).select(
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
            .cast("long").as("cents"))
        val qs = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
          .toDF("qlabel", "num", "den")
        val n = cents.groupBy(col("status")).agg(count(lit(1)).as("n"))
        val ks = n.crossJoin(broadcast(qs))
          .withColumn("k", expr("(num * n + den - 1) div den"))
        val cum = cents
          .withColumn("bin", expr("cents div 131072"))
          .groupBy(col("status"), col("bin")).agg(count(lit(1)).as("cnt"))
          .withColumn("cum",
            sum(col("cnt")).over(
              Window.partitionBy(col("status")).orderBy(col("bin"))))
        val approx = ks.join(cum, "status")
          .filter(col("cum") >= col("k"))
          .groupBy(col("status"), col("qlabel"), col("k"))
          .agg(min(col("bin")).as("bin"))
          .withColumn("approx_cents", (col("bin") + 1) * 131072 - 1)
        val rn = cents.withColumn("rn",
          row_number().over(
            Window.partitionBy(col("status")).orderBy(col("cents"))))
        approx.join(rn,
            approx("status") === rn("status") && approx("k") === rn("rn"))
          .select(approx("status"), col("qlabel"), col("approx_cents"),
            col("cents").as("exact_cents"))
          .orderBy(col("status"), col("qlabel"))
      },
      """WITH cents AS (
        |  SELECT o_orderstatus AS status,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |q(qlabel, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)),
        |n AS (SELECT status, CAST(count(*) AS BIGINT) AS n FROM cents GROUP BY 1),
        |ks AS (SELECT n.status, q.qlabel,
        |         CAST((q.num * n.n + q.den - 1) // q.den AS BIGINT) AS k
        |       FROM n CROSS JOIN q),
        |cum AS (
        |  SELECT status, bin, CAST(SUM(cnt) OVER (PARTITION BY status ORDER BY bin) AS BIGINT) AS cum
        |  FROM (SELECT status, cents // 131072 AS bin, CAST(count(*) AS BIGINT) AS cnt
        |        FROM cents GROUP BY 1, 2) h),
        |approx AS (
        |  SELECT ks.status, ks.qlabel, ks.k, MIN(cum.bin) AS bin
        |  FROM ks JOIN cum ON cum.status = ks.status AND cum.cum >= ks.k
        |  GROUP BY 1, 2, 3),
        |rn AS (SELECT status, cents,
        |         row_number() OVER (PARTITION BY status ORDER BY cents) AS rn
        |       FROM cents)
        |SELECT a.status, a.qlabel,
        |  CAST((a.bin + 1) * 131072 - 1 AS BIGINT) AS approx_cents,
        |  rn.cents AS exact_cents
        |FROM approx a JOIN rn ON rn.status = a.status AND rn.rn = a.k
        |ORDER BY a.status, a.qlabel""".stripMargin),

    // ------------------------------------------------------------------
    // 2-D skyline (Börzsönyi et al. 2001): the "cheap and popular"
    // Pareto frontier of parts — no other part is both no-more-
    // expensive and no-less-sold. Spark-first shape: collapse to the
    // (price, qty) grain, keep the per-price max quantity (struct-max),
    // then ONE ordered pass with a strictly-preceding running max —
    // O(n log n) sort instead of the oracle's quadratic NOT EXISTS
    // dominance check (provably equivalent for a 2-D skyline). The
    // window runs over the distinct-price grain, a bounded domain, not
    // over the fact table.
    "skyline_price_qty" -> QueryDef(
      (s, dir) => {
        val pts = Tables.part(s, dir)
          .join(Tables.lineitem(s, dir),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_partkey"),
            col("p_retailprice").cast("decimal(12,2)").as("price"))
          .agg(sum(col("l_quantity").cast("long")).as("qty_sold"))
          .groupBy(col("price"), col("qty_sold"))
          .agg(count(lit(1)).as("n_parts"))
        val perPrice = pts.groupBy(col("price"))
          .agg(max(struct(col("qty_sold"), col("n_parts"))).as("m"))
          .select(col("price"), col("m.qty_sold").as("qty_sold"),
            col("m.n_parts").as("n_parts"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("price"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        perPrice.withColumn("best_cheaper", max(col("qty_sold")).over(w))
          .filter(col("best_cheaper").isNull ||
            col("qty_sold") > col("best_cheaper"))
          // decimal→double is exact here (unscaled price ≪ 2^53)
          .select(col("price").cast("double").as("price"),
            col("qty_sold"), col("n_parts"))
          .orderBy(col("price"))
      },
      """WITH pts AS (
        |  SELECT CAST(p.p_retailprice AS DECIMAL(12,2)) AS price,
        |         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sold
        |  FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |  GROUP BY p.p_partkey, p.p_retailprice),
        |g AS (SELECT price, qty_sold, CAST(count(*) AS BIGINT) AS n_parts
        |      FROM pts GROUP BY 1, 2)
        |SELECT CAST(price AS DOUBLE) AS price, qty_sold, n_parts
        |FROM g p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM g o
        |  WHERE o.price <= p.price AND o.qty_sold >= p.qty_sold
        |    AND (o.price < p.price OR o.qty_sold > p.qty_sold))
        |ORDER BY price""".stripMargin),

    // ------------------------------------------------------------------
    // Bitmap-index profile: each customer's 1998 order-priority set
    // packed into a 5-bit mask (bit_or of shifted bits — the roaring/
    // bitmap-index aggregation primitive), then the mask histogram with
    // popcounts. The bit assignment derives from the sorted distinct
    // priority list (bounded domain, broadcast); the date filter is a
    // pushdown-friendly timestamp range, not year()= (TimePred lesson).
    "bitmask_priority_profile" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("o_orderpriority"))
        val pr = Tables.orders(s, dir)
          .select(col("o_orderpriority")).distinct()
          .withColumn("bit", (row_number().over(w) - 1).cast("long"))
        Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
          .join(broadcast(pr), Seq("o_orderpriority"))
          .groupBy(col("o_custkey"))
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))")
            .as("mask"))
          .groupBy(col("mask"))
          .agg(count(lit(1)).as("n_customers"))
          .select(col("mask"), bit_count(col("mask")).cast("long").as("n_priorities"),
            col("n_customers"))
          .orderBy(col("mask"))
      },
      """WITH pr AS (
        |  SELECT o_orderpriority AS p,
        |    CAST(row_number() OVER (ORDER BY o_orderpriority) - 1 AS BIGINT) AS bit
        |  FROM (SELECT DISTINCT o_orderpriority FROM orders)),
        |m AS (
        |  SELECT o.o_custkey, bit_or(CAST(1 AS BIGINT) << pr.bit) AS mask
        |  FROM orders o JOIN pr ON o.o_orderpriority = pr.p
        |  WHERE o.o_orderdate >= TIMESTAMP '1998-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1999-01-01'
        |  GROUP BY 1)
        |SELECT mask, CAST(bit_count(mask) AS BIGINT) AS n_priorities,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM m GROUP BY 1 ORDER BY mask""".stripMargin),

    // ------------------------------------------------------------------
    // Cumulative gains chart (the lift/targeting curve): customers
    // ranked by exact revenue cents into deciles, cumulative revenue
    // share per decile — "the top 10% of customers carry X% of
    // revenue", the model-free targeting baseline. The rank is a
    // row_number over the customer grain (pre-aggregated, bounded);
    // decile assignment is integer floor arithmetic; shares are one
    // division per decile row.
    "gains_chart_deciles" -> QueryDef(
      (s, dir) => {
        val c = Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")).as("cents"))
        val n = c.agg(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
        val r = c.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cents").desc, col("o_custkey"))))
        val g = r.crossJoin(broadcast(n))
          .select((floor(((col("rk") - 1) * 10).cast("double") /
            col("n").cast("double")).cast("long") + 1).as("decile"),
            col("cents"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("cents"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        g.crossJoin(broadcast(n.select(col("tot"))))
          .withColumn("cum_cents", sum(col("cents")).over(w))
          .select(col("decile"), col("n_cust"), col("cents"), col("cum_cents"),
            (col("cum_cents").cast("double") / col("tot").cast("double"))
              .as("cum_share"))
          .orderBy(col("decile"))
      },
      """WITH c AS (
        |  SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS tot FROM c),
        |r AS (
        |  SELECT o_custkey, cents,
        |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
        |  FROM c),
        |dec AS (
        |  SELECT CAST(((r.rk - 1) * 10) // n.n AS BIGINT) + 1 AS decile, r.cents
        |  FROM r CROSS JOIN n),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust, CAST(SUM(cents) AS BIGINT) AS cents
        |      FROM dec GROUP BY 1)
        |SELECT g.decile, g.n_cust, g.cents,
        |  CAST(SUM(g.cents) OVER (ORDER BY g.decile) AS BIGINT) AS cum_cents,
        |  CAST(SUM(g.cents) OVER (ORDER BY g.decile) AS DOUBLE) / CAST(n.tot AS DOUBLE) AS cum_share
        |FROM g CROSS JOIN n ORDER BY g.decile""".stripMargin)
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.mef.{Analytics, MefPipeline, Star, Views}

/** Oracle-verified end-to-end runs of the FULL MEF pipeline
  * (Transform → Normalize → Star.build → Views/Analytics) — not just
  * its pieces. The raw input is synthesized from the testdata star as
  * an all-string MEF-shaped frame (exactly what the CSV reader
  * yields), so the DuckDB oracle can state the same semantics directly
  * over lineitem/orders.
  *
  * Notes on the synthesis:
  *  - ANO_EJE is shifted +20 years so shipdates (1995-2001) land inside
  *    the reference's fixed dim_tiempo spine 2010-2030
  *    (`sql/CreacionDeDataWareHouse.sql:18-24`); the oracle filters on
  *    the original year, an equivalent predicate.
  *  - MONTO_DEVENGADO carries l_quantity (integer-valued) so double
  *    sums are exact in any order — bit-stable across engines without
  *    the decimal detour, which the MEF domain layer (faithfully
  *    double-typed like the reference) does not take.
  */
object MefStarQueries {

  /** Load once, query many — the warehouse contract. Four queries
    * (dpp_prune, mv_month_rollup, pipeline_ytd, pipeline_annual) share
    * the star built for a (session, sfDir) and its lake below. Bench
    * builds both untimed, with every other declared artifact, so the
    * alphabetically-first consumer (mef_star_dpp_prune, warm iso
    * 0.6–0.7 s) does not record the one-time star+lake build as its
    * own cost. Pipeline-construction COST stays measured in-sweep by
    * mef_star_incremental_ytd and mef_star_append_fold, which build
    * their own stars by design; IsoBench's ETL representative
    * (mef_star_incremental_ytd) builds its own star on every run, so
    * strong-scaling still measures the build.
    */
  private val star = new SessionScopedCache[Star.StarSchema](
    "MefStarQueries.star", (s, dir) => MefPipeline.buildFromRaw(s, syntheticRaw(s, dir)))

  /** The star fact PERSISTED as year-partitioned parquet plus the time
    * spine as a file-based dim — the cluster's warehouse layout (the
    * reference's per-year files + PG indexes, S2's scale note). Both
    * dynamic partition pruning and the MV rewrite need REAL file
    * scans: DPP's pruning subquery attaches to partitioned
    * FileSourceScans (a LocalRelation dim constant-folds first —
    * PartitionPruningSpec), and MvRewrite matches relations by root
    * path. The fact is written annotated with (anio, mes) from the
    * spine so year is the physical partition key. Written once per
    * (session, sfDir); content is deterministic per sfDir, overwrite
    * keeps it self-healing.
    */
  private val starLake = new SessionScopedCache[(String, String)](
    "MefStarQueries.starLake", (s, dir) => {
      val st = star(s, dir)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_star_lake/" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      val factPath = s"$base/fact_by_anio"
      val tiempoPath = s"$base/dim_tiempo"
      val annotated = st.fact.join(
        broadcast(st.dimTiempo.select(col("tiempo_id"), col("anio"), col("mes"))),
        Seq("tiempo_id"))
      graft.sources.ParquetSink.writePartitioned(
        annotated, factPath, "anio", overwrite = true)
      graft.sources.ParquetSink.write(st.dimTiempo, tiempoPath, overwrite = true)
      (factPath, tiempoPath)
    })

  /** lineitem ⋈ supplier/nation/region → MEF-shaped all-string raw.
    * All three dim joins broadcast explicitly (bounded domains, like
    * the reference's ejecutora/sector tables). NOT fanned out: an
    * isolated grain build sped up 2× with a pre-shuffle
    * (graft.Par.fanOut), but inside the full memoized pipeline the
    * user-repartition interacted with AQE + the persisted star so
    * badly that view reads off the CACHED fact slowed ~30× — measured
    * both ways, the no-fan form wins end-to-end by 9×.
    */
  private[graft] def syntheticRaw(s: SparkSession, dir: String): DataFrame =
    syntheticRawFrom(Tables.lineitem(s, dir), s, dir)

  private[graft] def syntheticRawFrom(li: DataFrame, s: SparkSession, dir: String): DataFrame =
    li
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(
        (year(col("l_shipdate")) + 20).cast("string").as("ANO_EJE"),
        month(col("l_shipdate")).cast("string").as("MES_EJE"),
        lit("E").as("NIVEL_GOBIERNO"),
        lit("GOBIERNO NACIONAL").as("NIVEL_GOBIERNO_NOMBRE"),
        col("s_suppkey").cast("string").as("SEC_EJEC"),
        col("s_suppkey").cast("string").as("EJECUTORA"),
        col("s_name").as("EJECUTORA_NOMBRE"),
        col("n_name").as("SECTOR"),
        col("r_name").as("SECTOR_NOMBRE"),
        col("l_quantity").cast("string").as("MONTO_DEVENGADO"),
        col("l_extendedprice").cast("string").as("MONTO_COMPROMETIDO"))

  val defs: Map[String, QueryDef] = Map(

    // Full pipeline: conform(69 cols) → clean → star(8 dims + fact,
    // grain-consolidated) → A4 YTD-by-sector. Sector ↔ region name.
    "mef_star_pipeline_ytd" -> QueryDef(
      (s, dir) =>
        Analytics.ytdDevengadoPorSector(star(s, dir), anio = 2017, mesCorte = 6)
          .orderBy(desc("devengado_ytd"), col("sector_nombre")),
      """SELECT r_name AS sector_nombre, SUM(l_quantity) AS devengado_ytd
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE year(l_shipdate) = 1997 AND month(l_shipdate) BETWEEN 1 AND 6
        |GROUP BY r_name
        |ORDER BY devengado_ytd DESC, sector_nombre""".stripMargin),

    // Incremental load end-to-end: months 1-3 of 1997 build the star,
    // months 4-6 fold in via Star.append (ON CONFLICT DO NOTHING id
    // semantics: dims keep ids, new keys continue above max, fact
    // merges first-write-wins per 8-FK grain) — the reference's
    // monthly-file load cadence. Batches are disjoint grains, so the
    // merged warehouse answers exactly like a one-shot build — the
    // DuckDB twin states the direct semantics over lineitem. Input
    // restricted to 1997-H1 via a sargable shipdate range (pushed to
    // the parquet scan).
    "mef_star_incremental_ytd" -> QueryDef(
      (s, dir) => {
        import graft.functions.TimePred
        import graft.mef.{Normalize, Star, Transform}
        val li = Tables.lineitem(s, dir)
          .filter(TimePred.inYearMonths(col("l_shipdate"), 1997, 1, 6))
        // localCheckpoint: both batches (and every dim/fact plan over
        // them) reference a shallow materialized table instead of
        // re-embedding the scan+join+69-col-Transform subtree — the
        // driver-side analysis cost otherwise dwarfs execution here.
        val typed = Transform(syntheticRawFrom(li, s, dir)).localCheckpoint()
        val star1 = Star.build(s, Normalize(typed.filter(col("MES_EJE") <= 3)))
        val inc = Star.append(s, star1, Normalize(typed.filter(col("MES_EJE") > 3)))
        Analytics.ytdDevengadoPorSector(inc, anio = 2017, mesCorte = 6)
          .orderBy(desc("devengado_ytd"), col("sector_nombre"))
      },
      """SELECT r_name AS sector_nombre, SUM(l_quantity) AS devengado_ytd
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE year(l_shipdate) = 1997 AND month(l_shipdate) BETWEEN 1 AND 6
        |GROUP BY r_name
        |ORDER BY devengado_ytd DESC, sector_nombre""".stripMargin),

    // Multi-batch fold: the reference's monthly-file cadence run THREE
    // loads deep (build on months 1-2, append 3-4, append 5-6), then
    // months 3-4 re-delivered — the crash-resume case
    // (`etl/cargar_postgres.py:245-249` ON CONFLICT DO NOTHING) — which
    // must be a no-op: dims keep ids, every re-sent grain row loses
    // first-write-wins. The oracle states the H1 semantics directly, so
    // a re-delivery that double-counted (or an append that dropped a
    // batch) hash-mismatches. Also the append path's bench entry:
    // repeated folds make incremental-load regressions visible per
    // round, where the single-append query amortized them.
    "mef_star_append_fold" -> QueryDef(
      (s, dir) => {
        import graft.functions.TimePred
        import graft.mef.{Normalize, Star, Transform}
        val li = Tables.lineitem(s, dir)
          .filter(TimePred.inYearMonths(col("l_shipdate"), 1997, 1, 6))
        val typed = Transform(syntheticRawFrom(li, s, dir)).localCheckpoint()
        def months(lo: Int, hi: Int) =
          Normalize(typed.filter(col("MES_EJE") >= lo && col("MES_EJE") <= hi))
        val s0 = Star.build(s, months(1, 2))
        val s1 = Star.append(s, s0, months(3, 4))
        val s2 = Star.append(s, s1, months(5, 6))
        val s3 = Star.append(s, s2, months(3, 4)) // re-delivery: no-op
        Analytics.ytdDevengadoPorSector(s3, anio = 2017, mesCorte = 6)
          .orderBy(desc("devengado_ytd"), col("sector_nombre"))
      },
      """SELECT r_name AS sector_nombre, SUM(l_quantity) AS devengado_ytd
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE year(l_shipdate) = 1997 AND month(l_shipdate) BETWEEN 1 AND 6
        |GROUP BY r_name
        |ORDER BY devengado_ytd DESC, sector_nombre""".stripMargin),

    // Full pipeline → A3-style annual view rollup (exercises the
    // 2-way view join + placeholder-free grouping over the built star).
    "mef_star_pipeline_annual" -> QueryDef(
      (s, dir) => {
        Views.vwGastoAgregadoAnual(star(s, dir))
          .select(
            (col("anio") - 20).as("anio"),
            col("sector_nombre"),
            col("pliego_nombre"),
            col("devengado"))
          .orderBy(col("anio"), col("sector_nombre"), col("pliego_nombre"))
      },
      """SELECT CAST(year(l_shipdate) AS INT) AS anio,
        |  r_name AS sector_nombre,
        |  '' AS pliego_nombre,
        |  SUM(l_quantity) AS devengado
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3
        |ORDER BY anio, sector_nombre, pliego_nombre""".stripMargin),

    // ------------------------------------------------------------------
    // DYNAMIC PARTITION PRUNING end to end — THE 100 TB star-schema
    // read feature (the reference approximates it with PG fact indexes,
    // `sql/CreacionDeDataWareHouse.sql:141-145`): the star fact is laid
    // out as anio-partitioned parquet, the time spine is a file-based
    // dim, and a dim-filtered join (fecha = one spine month → one anio)
    // must plan a dynamicpruningexpression partition filter on the fact
    // scan — only that year's partition directory is read. The fn
    // ASSERTS the DPP subquery is in the executed plan, so a planner
    // regression fails the gate rather than silently full-scanning.
    // anio 2017 ↔ shipyear 1997 (the +20 spine shift).
    "mef_star_dpp_prune" -> QueryDef(
      (s, dir) => {
        val (factPath, tiempoPath) = starLake(s, dir)
        val fact = s.read.parquet(factPath)
        val dim = s.read.parquet(tiempoPath)
          .filter(col("fecha") === to_date(lit("2017-06-01")))
          .select(col("anio"))
        val out = fact.join(dim, Seq("anio"))
          .groupBy(col("mes"))
          .agg(sum(col("monto_devengado")).as("devengado"))
          .orderBy(col("mes"))
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("dynamicpruning"),
          "DPP did not fire: no dynamicpruningexpression on the fact scan")
        out
      },
      """SELECT CAST(month(l_shipdate) AS INT) AS mes,
        |  SUM(l_quantity) AS devengado
        |FROM lineitem WHERE year(l_shipdate) = 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ------------------------------------------------------------------
    // The reference's vista_agregada_mensual AS AN MV REWRITE over the
    // persisted star fact (`sql/CreacionDeUsuariosyVistas.sql:119-179`
    // — its pre-aggregated monthly view exists precisely to serve
    // coarser dashboards): a (anio, mes)-grain pre-aggregate registers
    // as an MV with SUM/COUNT/MIN/MAX partials, then the user query —
    // written against the FACT, filtered to one year, grouped by month
    // — must retarget onto the MV (plan-asserted). Exercises the full
    // derivability surface: SUM partial re-sum, COUNT(*) as
    // SUM(cnt), MIN-of-mins, MAX-of-maxs. Measures are integer-valued
    // doubles (l_quantity), so the double re-association is exact. The
    // oracle restates the month-grain semantics over lineitem,
    // including the per-grain (supplier×month) min/max — proving the
    // MV's grain really is the star's 8-FK grain.
    "mef_star_mv_month_rollup" -> QueryDef(
      (s, dir) => {
        val (factPath, _) = starLake(s, dir)
        val fact = s.read.parquet(factPath)
        val mv = fact.groupBy(col("anio"), col("mes"))
          .agg(sum(col("monto_devengado")).as("sum_dev"),
            count(lit(1)).as("cnt"),
            min(col("monto_devengado")).as("min_dev"),
            max(col("monto_devengado")).as("max_dev"))
          .localCheckpoint()
        graft.plans.MvRewrite.clear() // idempotent re-runs
        graft.plans.MvRewrite.withMv(graft.plans.MvDef(
          srcPathTag = factPath,
          keys = Set("anio", "mes"),
          sums = Map("monto_devengado" -> "sum_dev"),
          countCol = Some("cnt"),
          freshView = () => mv.queryExecution.analyzed,
          mins = Map("monto_devengado" -> "min_dev"),
          maxs = Map("monto_devengado" -> "max_dev"))) {
          val out = fact.filter(col("anio") === 2017)
            .groupBy(col("mes"))
            .agg(sum(col("monto_devengado")).as("devengado"),
              min(col("monto_devengado")).as("min_dev"),
              max(col("monto_devengado")).as("max_dev"),
              count(lit(1)).as("n_grains"))
            .orderBy(col("mes"))
          val paths = graft.plans.MvRewrite
            .scanPaths(out.queryExecution.optimizedPlan)
          require(!paths.exists(_.contains(factPath)),
            s"MV rewrite did not fire — the fact scan survived: $paths")
          // materialize WHILE registered so the returned rows flowed
          // through the MV plan (the caller's write re-optimizes)
          out.localCheckpoint()
        }
      },
      """WITH g AS (
        |  SELECT month(l_shipdate) AS mes, l_suppkey,
        |    SUM(l_quantity) AS dev
        |  FROM lineitem WHERE year(l_shipdate) = 1997
        |  GROUP BY 1, 2)
        |SELECT CAST(mes AS INT) AS mes,
        |  SUM(dev) AS devengado,
        |  min(dev) AS min_dev, max(dev) AS max_dev,
        |  CAST(count(*) AS BIGINT) AS n_grains
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
